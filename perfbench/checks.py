"""Independent checks of every call's output.

Each check recomputes the call's answer apart from the program, with
numpy, pandas or DuckDB on the generated files, or tests a property the
method must have. `check(workload, inputs, params, call, facts)` returns
None when the output is right and a one-line reason when it is not.
"""
from functools import lru_cache

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

REL = 1e-9


def close(got, want, rel=REL):
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    if got.shape != want.shape:
        return False
    nan = np.isnan(want)
    if not np.array_equal(np.isnan(got), nan):
        return False
    g, w = got[~nan], want[~nan]
    return bool(np.all(np.abs(g - w) <= rel * np.maximum(1.0, np.abs(w))))


def weighted(values, index):
    """Non-null count, sum and (index % 1009)-weighted sum, as the
    benchmark's JVM side reduces a column."""
    v = np.asarray(values, dtype=float)
    ok = ~np.isnan(v)
    k = (np.asarray(index) % 1009).astype(float)
    return [ok.sum(), v[ok].sum(), (v[ok] * k[ok]).sum()]


@lru_cache(maxsize=4)
def frame(path):
    return pq.read_table(path).to_pandas()


# ---------------------------------------------------------------- explore

def check_explore(d, p, kind, out):
    f, dim = frame(f"{d}/fact.parquet"), frame(f"{d}/dim.parquet")
    x, y, z, w = (f[c].to_numpy() for c in "xyzw")
    code, key, hkey = f["code"].to_numpy(), f["key"].to_numpy(), f["hkey"].to_numpy()
    if kind == "stats":
        a = x > p["sel_x"]
        b = (y < p["sel_y"]) & (code < p["sel_code"])
        want = [a.sum(), z[a].mean(), z[a].std(ddof=0), b.sum(), w[b].sum(), x[b].max()]
        return None if close(out, want) else f"stats {out} != {want}"
    if kind == "binby":
        nx, ny = p["bx_n"], p["by_n"]
        lo = np.array([p["bx_min"], p["by_min"]])
        hi = np.array([p["bx_max"], p["by_max"]])
        inside = (x >= lo[0]) & (x < hi[0]) & (y >= lo[1]) & (y < hi[1])
        xi, yi = x[inside], y[inside]
        # the documented binning: floor((v - vmin) / width), clamped to n-1
        bx = np.minimum(np.floor((xi - lo[0]) / ((hi[0] - lo[0]) / nx)), nx - 1).astype(int)
        by = np.minimum(np.floor((yi - lo[1]) / ((hi[1] - lo[1]) / ny)), ny - 1).astype(int)
        want = np.bincount(bx * ny + by, minlength=nx * ny)
        got = np.asarray(out, dtype=float)
        hist, _, _ = np.histogram2d(xi, yi, bins=[nx, ny], range=[[lo[0], hi[0]], [lo[1], hi[1]]])
        if got.sum() != inside.sum():
            return f"binby total {got.sum()} != rows inside limits {inside.sum()}"
        if not np.array_equal(got, want):
            return f"binby cells differ from bincount in {np.sum(got != want)} cells"
        # histogram2d's edges are computed differently; only values on
        # an edge's rounding boundary may land in a neighbouring cell
        if np.abs(hist.ravel() - got).sum() > 1e-5 * len(x):
            return "binby differs from numpy histogram2d"
        return None
    if kind == "groupby_cat":
        m = w < p["cat_w"]
        g = pd.DataFrame({"code": code[m].astype(int), "z": z[m], "x": x[m], "y": y[m],
                          "w": w[m]}).groupby("code")
        want = pd.concat([g["z"].sum(), g["x"].mean(), g["y"].max(), g["w"].count()], axis=1)
        want = np.column_stack([want.index.to_numpy(), want.to_numpy()])
        return None if close(out, want) else "groupby_cat differs from pandas groupby"
    if kind == "groupby_hash":
        m = x > p["hash_x"]
        g = pd.DataFrame({"k": hkey[m], "z": z[m]}).groupby("k")["z"].agg(["sum", "count"])
        k = (g.index.to_numpy() % 1009).astype(float)
        s, c = g["sum"].to_numpy(), g["count"].to_numpy().astype(float)
        want = [len(g), s.sum(), (k * s).sum(), c.sum(), (k * c).sum()]
        return None if close(out, want) else f"groupby_hash {out} != {want}"
    if kind == "join":
        m = w > p["join_w"]
        left = pd.DataFrame({"key": key[m], "z": z[m]})
        j = left.merge(dim, on="key", how="left")
        dv = j["dval"].to_numpy()
        ok = ~np.isnan(dv)
        want = [len(j), ok.sum(), dv[ok].sum(), (dv[ok] * j["z"].to_numpy()[ok]).sum()]
        return None if close(out, want) else f"join {out} != {want}"
    if kind == "percentile":
        want = np.percentile(y[code < p["pct_code"]], p["pct_q"] * 100.0)
        return None if close([out], [want], 1e-12) else f"percentile {out} != {want}"
    if kind == "export":
        m = x > p["exp_x"]
        want = [m.sum(), z[m].sum(), code[m].astype(np.int64).sum()]
        return None if close(out, want) else f"export reread {out} != {want}"
    if kind == "export_arrow":
        import pyarrow.ipc as ipc
        t = ipc.open_file(out).read_all()
        want = [len(f), code.astype(np.int64).sum()]
        got = [t.num_rows, np.asarray(t["code"]).astype(np.int64).sum()]
        return None if got == want else f"arrow export {got} != {want}"
    return f"no check for {kind}"


# ---------------------------------------------------------------- timeseries

def check_timeseries(d, p, kind, out):
    s = frame(f"{d}/series.parquet")
    v, idx = s["v"], s["row_index"].to_numpy()
    if kind == "shift":
        want = weighted(v.shift(p["shift"]), idx)
    elif kind == "diff":
        want = weighted(v - v.shift(p["diff"]), idx)
    elif kind == "rolling_mean_std":
        r = v.rolling(p["win"], min_periods=1)
        want = weighted(r.mean(), idx) + weighted(r.std(ddof=0), idx)
    elif kind == "rolling_median":
        want = weighted(v.rolling(p["win_med"], min_periods=1).median(), idx)
    elif kind == "rolling_quantile":
        want = weighted(v.rolling(p["win_q"], min_periods=1)
                        .quantile(p["q"], interpolation="linear"), idx)
    elif kind == "asof":
        q = frame(f"{d}/quotes.parquet")
        left = s[s["v"] > p["asof_v"]].sort_values("ts")
        j = pd.merge_asof(left, q.sort_values("qts"), left_on="ts", right_on="qts",
                          by="sym", direction="backward", allow_exact_matches=False)
        want = weighted(j["price"], j["row_index"].to_numpy())
    else:
        return f"no check for {kind}"
    return None if close(out, want) else f"{kind} {out} != {want}"


# ---------------------------------------------------------------- curate

@lru_cache(maxsize=1)
def oracle(d, lanes):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')")
    return {name: con.execute(sql).df() for name, sql in lanes}


def lane_sums(df, cols):
    k = (df[cols[0]].to_numpy() % 1009).astype(float)
    vals = [df[c].to_numpy(dtype=float) for c in cols]
    return [len(df)] + [v.sum() for v in vals] + [(k * v).sum() for v in vals]


# LshDedup.Params defaults the benchmark keeps (only the verify
# threshold is drawn per pass)
LSH_SHINGLE, LSH_K, LSH_R = 3, 8, 2


def candidate_probability(s):
    """LshDedup.Params.candidateProbability: 1 - (1 - s^r)^(k/r)."""
    return 1.0 - (1.0 - s ** LSH_R) ** (LSH_K // LSH_R)


@lru_cache(maxsize=1)
def shingle_sets(d):
    """Distinct word 3-gram sets per doc_id (tokens split on one space)."""
    t = pq.read_table(f"{d}/documents.parquet").to_pydict()
    out = {}
    for i, text in zip(t["doc_id"], t["text"]):
        w = text.split(" ")
        out[i] = frozenset(tuple(w[j:j + LSH_SHINGLE]) for j in range(len(w) - LSH_SHINGLE + 1))
    return out


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def check_lsh(d, p, out):
    """The keep-list is one row per doc; each component is labelled with
    its smallest id, which alone is kept; and every member of a
    component has Jaccard >= the verify threshold with another member
    (components are built from verified pairs only)."""
    sh = shingle_sets(d)
    ids, comps, keeps = out["ids"], out["comps"], out["keeps"]
    if ids != sorted(sh):
        return f"lsh keep-list has {len(ids)} rows for {len(sh)} docs"
    members = {}
    for i, c in zip(ids, comps):
        members.setdefault(c, []).append(i)
    for c, ms in members.items():
        if min(ms) != c:
            return f"lsh component {c} is not labelled with its smallest id {min(ms)}"
        if len(ms) == 1:
            continue
        for i in ms:
            best = max(jaccard(sh[i], sh[j]) for j in ms if j != i)
            if best < p["lsh_t"]:
                return (f"lsh doc {i} in component {c} has Jaccard {best:.4f} < "
                        f"{p['lsh_t']} with every other member")
    if keeps != [i == c for i, c in zip(ids, comps)]:
        return "lsh keep flag differs from doc_id == comp"
    return None


def lsh_recall(d, p, out, facts):
    """Share of the planted pairs at Jaccard >= the verify threshold
    that share a component, against the bound `Params.candidateProbability`
    implies: the mean candidate probability less five standard
    deviations of the found share."""
    sh = shingle_sets(d)
    comp = dict(zip(out["ids"], out["comps"]))
    pairs = [(a, b, jaccard(sh[a], sh[b])) for a, b in facts["planted_pairs"]]
    pairs = [(a, b, j) for a, b, j in pairs if j >= p["lsh_t"]]
    probs = np.array([candidate_probability(j) for _, _, j in pairs])
    found = sum(comp[a] == comp[b] for a, b, _ in pairs)
    n = len(pairs)
    bound = probs.mean() - 5 * np.sqrt((probs * (1 - probs)).sum()) / n
    return {"pairs": n, "found": int(found), "recall": found / n, "bound": float(bound)}


def check_curate(d, p, kind, out, facts):
    if kind == "semdedup":
        e = pq.read_table(f"{d}/embeddings.parquet")
        vec = np.stack(e["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        ids = e["vec_id"].to_numpy()
        cents = np.asarray(p["centroids"], dtype=np.float32).astype(np.float64)
        unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
        cos_c = unit @ (cents / np.linalg.norm(cents, axis=1, keepdims=True)).T
        top2 = np.sort(cos_c, axis=1)[:, -2:]
        if np.min(top2[:, 1] - top2[:, 0]) < 1e-6:
            raise RuntimeError("generated vectors sit on a cell boundary")
        cell = np.argmax(cos_c, axis=1)
        dup_of = np.full(len(ids), -1)
        for c in range(len(cents)):
            members = np.flatnonzero(cell == c)
            sim = unit[members] @ unit[members].T
            off = sim[np.triu_indices(len(members), 1)]
            if np.any(np.abs(off - p["tau"]) < 0.02):
                raise RuntimeError("generated similarities sit too close to tau")
            hit = np.triu(sim >= p["tau"], 1)
            for j in np.flatnonzero(hit.any(axis=0)):
                dup_of[members[j]] = ids[members[np.argmax(hit[:, j])]]
        if out["ids"] != ids.tolist() or out["cells"] != cell.tolist():
            return "semdedup cell assignment differs from numpy"
        want = [[int(i), int(o)] for i, o in zip(ids, dup_of) if o >= 0]
        return None if out["dups"] == want else (
            f"semdedup reports {len(out['dups'])} dups, numpy {len(want)}")
    if kind == "lsh":
        return check_lsh(d, p, out)
    lanes = tuple(sorted(facts["oracle_sql"].items()))
    if kind == "tfidf":
        want = lane_sums(oracle(d, lanes)["q_tfidf_cosine"], ["doc_a", "doc_b", "cos"])
    elif kind == "decontaminate":
        want = lane_sums(oracle(d, lanes)["q_decontaminate_fast"],
                         ["doc_id", "n_grams", "n_matched"])
    elif kind == "quality":
        q = oracle(d, lanes)["q_quality_classifier"]
        q = q[q["doc_id"] >= p["q_lo"]]
        s = q["score"].to_numpy(dtype=float)
        k = (q["doc_id"].to_numpy() % 1009).astype(float)
        want = [len(q), s.sum(), q["label"].sum(), (s * k).sum()]
    else:
        return f"no check for {kind}"
    return None if close(out, want) else f"{kind} {out} != {want}"


def check(workload, d, p, call, facts):
    kind, out = call["kind"], call["result"]
    if workload == "explore":
        return check_explore(d, p, kind, out)
    if workload == "timeseries":
        return check_timeseries(d, p, kind, out)
    return check_curate(d, p, kind, out, facts)
