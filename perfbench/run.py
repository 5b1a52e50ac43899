#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program (`sbt compile` at
the root) and this package (`sbt compile` here) when their sources are
newer than the last build, generates the workload's inputs from the
seed, runs perfbench.Main in a fresh JVM, checks every call's output
(checks.py), and prints one JSON line with `correct`, `attempted`,
`failed` and the metrics: the end-to-end ones with --trace 0, the
per-layer ones (from a traced run) with --trace 1. Generated inputs,
outputs and traces go under perfbench/.work/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# untimed warm-up passes: timeseries and curate calls are driver-bound
# (tasks keep the slots about 20% busy), and after one warm-up pass
# their per-pass CPU still fell by a quarter from the first timed pass
# to the second; explore's moved by a few percent
WARMUP_PASSES = {"explore": 1, "timeseries": 2, "curate": 2}
JVM_TIMEOUT_S = 150

sys.path.insert(0, HERE)
import inputs  # noqa: E402

PER_LAYER = [
    # (name, unit, span field summed over a pass's calls)
    ("driver.plan_s", "s", "plan_s"),
    ("exec.jobs", "count", "jobs"),
    ("plan.codegen_fallbacks", "count", "codegen_fallbacks"),
    ("operators.pair_candidates", "count", "pair_candidates"),
    ("exchange.shuffle_write_mb", "MB", "shuffle_write_mb"),
    ("exchange.shuffle_read_mb", "MB", "shuffle_read_mb"),
    ("exec.task_cpu_s", "s", "task_cpu_s"),
    ("exec.gc_s", "s", "gc_s"),
    ("exec.spill_mb", "MB", "spill_mb"),
    ("scan.rows", "count", "scan_rows"),
    ("scan.bytes", "bytes", "scan_bytes"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    """Newest modification time of the build files and sources under `paths`."""
    files = [p for p in paths if os.path.isfile(p)]
    for p in paths:
        files += [os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
                  if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return max(map(os.path.getmtime, files), default=0.0)


def spark_home():
    """The Spark installation: SPARK_HOME, else the first spark-submit on
    PATH that sits in a Spark distribution (one with a jars directory)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation with a jars directory (set SPARK_HOME)")


def build():
    """Compile the program and the benchmark package when stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources (build.sbt, src/main/scala) next to perfbench/")
    stamp = os.path.join(HERE, "target", "perfbench-built")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_mtime(sources):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    sbt = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}", "compile"]
    for cwd in (ROOT, HERE):
        r = subprocess.run(sbt, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail(f"build failed in {cwd}")
    with open(stamp, "w") as f:
        f.write(time.strftime("%Y-%m-%dT%H:%M:%S\n"))


def java_command(args, tmp_dir):
    cp = [os.path.join(ROOT, "target", "scala-2.13", "classes"),
          os.path.join(HERE, "target", "scala-2.13", "classes"),
          os.path.join(spark_home(), "jars", "*")]
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
            ["-Xmx4g", f"-Djava.io.tmpdir={tmp_dir}", f"-Dspark.local.dir={tmp_dir}",
             f"-Dspark.sql.warehouse.dir={tmp_dir}/warehouse", "-Dspark.ui.enabled=false",
             "-cp", ":".join(cp), "perfbench.Main"] + args)


def prepare_inputs(workload, seed):
    """Generate (or reuse) the seed's inputs; drop the workload's others.
    The directory name carries a digest of the generator, so inputs made
    by an older generator are never reused."""
    with open(inputs.__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:10]
    base = os.path.join(WORK, "inputs")
    name = f"{workload}-{seed}-{digest}"
    d = os.path.join(base, name)
    done = os.path.join(d, "params.json")
    if os.path.exists(base):
        for other in os.listdir(base):
            if other.startswith(f"{workload}-") and other != name:
                shutil.rmtree(os.path.join(base, other), ignore_errors=True)
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        params = inputs.generate(workload, seed, d)
        with open(done + ".tmp", "w") as f:
            json.dump(params, f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        return d, done, json.load(f)


def pass_cpu(p):
    """Process CPU seconds of a pass's aggregate calls."""
    return sum(c["cpu_s"] for c in p["calls"] if c["aggregate"])


def end_to_end(rows_read, timed):
    kinds = [c["kind"] for c in timed[0]["calls"] if c["aggregate"]]
    ok = {k: [c["seconds"] for p in timed for c in p["calls"] if c["kind"] == k and c["ok"]]
          for k in kinds}
    for k, v in ok.items():
        # a kind that failed on some timed pass would take its median
        # from the others; one that always failed would have none
        if len(v) != len(timed):
            fail(f"aggregate call {k} failed on {len(timed) - len(v)} of {len(timed)} "
                 "timed passes; it has no median over the timed passes")
    med = {k: statistics.median(v) for k, v in ok.items()}
    geo = math.exp(sum(math.log(v) for v in med.values()) / len(med))
    rows = sum(rows_read[k] for k in kinds)
    return med, {
        "op_geomean_s": {"value": geo, "unit": "s"},
        "rows_per_s": {"value": rows / sum(med.values()), "unit": "rows/s"},
        "cpu_s": {"value": statistics.median(map(pass_cpu, timed)), "unit": "s"},
    }


def per_layer(res, warm, timed):
    spans = [[c["trace"] for c in p["calls"] if c["aggregate"]] for p in timed]
    m = {}
    for name, unit, field in PER_LAYER:
        per_pass = [sum(s[field] for s in ss) for ss in spans]
        m[name] = {"value": statistics.median(per_pass), "unit": unit}
    busy = [sum(s["task_run_s"] for s in ss) /
            (sum((s["end_ms"] - s["start_ms"]) / 1000.0 for s in ss) * res["cores"])
            for ss in spans]
    m["exec.busy_ratio"] = {"value": statistics.median(busy), "unit": "ratio"}
    m["session.start_s"] = {"value": res["session_start_s"], "unit": "s"}
    m["sources.open_s"] = {"value": res["sources_open_s"], "unit": "s"}
    m["warmup.first_pass_s"] = {
        "value": sum(c["seconds"] for c in warm[0]["calls"] if c["aggregate"]), "unit": "s"}
    m["jvm.heap_peak_mb"] = {"value": res["trace"]["heap_peak_mb"], "unit": "MB"}
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.GENERATORS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    import checks  # after the build check: a bare checkout fails before any import cost

    t0 = time.time()
    d, params_path, params = prepare_inputs(a.workload, a.seed)
    t1 = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    out_path = os.path.join(run_dir, "results.json")
    cores = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--inputs", d, "--params", params_path,
            "--out", out_path, "--work", tmp_dir, "--seconds", str(a.seconds),
            "--warmup", str(WARMUP_PASSES[a.workload]), "--trace", str(a.trace),
            "--cores", str(cores)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(java_command(args, tmp_dir), cwd=run_dir, stdout=log,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {JVM_TIMEOUT_S} s (see {run_dir}/jvm.log)")
    if r.returncode != 0 or not os.path.exists(out_path):
        fail(f"JVM exited with {r.returncode} (see {run_dir}/jvm.log)")
    with open(out_path) as f:
        res = json.load(f)
    t2 = time.time()

    passes = res["passes"]
    warm = [p for p in passes if p["phase"] == "warm"]
    timed = [p for p in passes if p["phase"] == "timed"]
    attempted = sum(len(p["calls"]) for p in passes)
    failed = 0
    problems = []
    recall = []
    facts = dict(params["facts"], **(res.get("facts") or {}))
    for p in passes:
        name = f"{p['phase']}{p['index']}"
        pp = params["warmup" if p["phase"] == "warm" else "timed"][p["index"]]
        for c in p["calls"]:
            if not c["ok"]:
                failed += 1
                print(f"failed: {name} {c['kind']}: {c['error']}", file=sys.stderr)
                continue
            why = checks.check(a.workload, d, pp, c, facts)
            if why:
                problems.append(f"{name} {c['kind']}: {why}")
            elif c["kind"] == "lsh":
                recall.append({"pass": name, **checks.lsh_recall(d, pp, c["result"], facts)})
    for msg in problems:
        print(f"check failed: {msg}", file=sys.stderr)
    # recall of planted near-duplicates is reported, not gated: below
    # its bound it misses on some passes and seeds and not on others
    # (CHANGES.md, FOUND on LshDedup), and `correct` must not flip with
    # the seed
    for r in recall:
        print(f"lsh recall {r['pass']}: {r['found']}/{r['pairs']} planted pairs = "
              f"{r['recall']:.4f}, bound {r['bound']:.4f}"
              f"{'' if r['recall'] >= r['bound'] else ' (below)'}", file=sys.stderr)
    if recall:
        print(f"lsh planted-pair recall below the candidateProbability bound on "
              f"{sum(r['recall'] < r['bound'] for r in recall)} of {len(recall)} passes")
    print(f"inputs {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s",
          file=sys.stderr)

    med, e2e = end_to_end(params["rows_read"], timed)
    e2e = {"setup_s": {"value": res["setup_s"], "unit": "s"}, **e2e}
    for k, v in med.items():
        print(f"op.{k}_s median {v:.4f} s over {len(timed)} timed passes")
    if a.trace:
        metrics = per_layer(res, warm, timed)
        with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "spans": [dict(c["trace"], ok=c["ok"], seconds=c["seconds"])
                                 for p in passes for c in p["calls"]],
                       "passes": [{"name": p["phase"] + str(p["index"]),
                                   "start_ms": p["start_ms"], "end_ms": p["end_ms"],
                                   "cpu_s": pass_cpu(p)} for p in passes],
                       "per_kind_median_s": med, "lsh_recall": recall, "metrics": metrics,
                       "end_to_end_in_traced_run": e2e}, f, indent=1)
    else:
        metrics = e2e
    shutil.rmtree(tmp_dir, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
