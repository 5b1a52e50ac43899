"""Seeded input generation for the three workloads.

`generate(workload, seed, out_dir)` writes the workload's Parquet inputs
and returns the per-pass call parameters; the same seed always gives
the same files and parameters. Sizes are module constants; `generate`
also returns what the JVM side and the metrics need of them, so no
other module repeats a size.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOAD_IDS = {"explore": 1, "timeseries": 2, "curate": 3}
PASSES = 40  # parameter sets per phase; a run never uses more

# explore: one wide fact table in several files plus a dim table
EXPLORE_ROWS = 750_000
EXPLORE_FILES = 4
EXPLORE_CODES = 64
EXPLORE_DIM_KEYS = 4096
EXPLORE_MISSING_KEYS = 64  # fact keys past the dim's domain (left join nulls)
EXPLORE_HASH_KEYS = 200_000

# timeseries: one series with a dense row_index, and quotes to join as-of
SERIES_ROWS = 100_000
SERIES_SYMBOLS = 8
QUOTE_ROWS = 25_000

# curate: a word corpus with planted near-duplicate chains, and
# clustered embeddings with planted near-duplicate vectors
DOCS = 1_000
VOCAB = 1_000
ZIPF_EXPONENT = 0.5
DOC_WORDS = (60, 90)
DUP_CHAINS = 200
EMB_ROWS = 400
EMB_DIM = 64
EMB_CELLS = 8
EMB_DUPS = 20


def rng_for(workload, seed, stream=0):
    return np.random.default_rng([seed, WORKLOAD_IDS[workload], stream])


def _round(v, nd=4):
    """Parameter value with a short, exact decimal form (no exponent)."""
    v = round(float(v), nd)
    return 0.001 if abs(v) < 0.001 else v


def _write(table, path, row_groups):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // row_groups))


def gen_explore(seed, out):
    r = rng_for("explore", seed)
    n = EXPLORE_ROWS
    x = r.standard_normal(n)
    y = 0.5 * x + 0.8 * r.standard_normal(n)
    z = r.exponential(1.0, n)
    w = r.uniform(0.0, 10.0, n)
    code = np.minimum(r.exponential(16.0, n).astype(np.int64), EXPLORE_CODES - 1).astype(np.int8)
    key = r.integers(0, EXPLORE_DIM_KEYS + EXPLORE_MISSING_KEYS, n).astype(np.int32)
    hkey = r.integers(0, EXPLORE_HASH_KEYS, n).astype(np.int64)
    os.makedirs(f"{out}/fact.parquet", exist_ok=True)
    step = n // EXPLORE_FILES
    for f in range(EXPLORE_FILES):
        s = slice(f * step, n if f == EXPLORE_FILES - 1 else (f + 1) * step)
        t = pa.table({"x": x[s], "y": y[s], "z": z[s], "w": w[s], "code": code[s],
                      "key": key[s], "hkey": hkey[s]})
        _write(t, f"{out}/fact.parquet/part-{f:02d}.parquet", 2)
    dval = r.standard_normal(EXPLORE_DIM_KEYS)
    _write(pa.table({"key": np.arange(EXPLORE_DIM_KEYS, dtype=np.int32), "dval": dval}),
           f"{out}/dim.parquet", 1)

    def one(p):
        return {
            "sel_x": _round(p.uniform(-0.2, 0.2)), "sel_y": _round(p.uniform(-0.2, 0.2)),
            "sel_code": int(p.integers(16, 33)),
            "bx_min": _round(p.uniform(-3, -2)), "bx_max": _round(p.uniform(2, 3)),
            "by_min": _round(p.uniform(-3, -2)), "by_max": _round(p.uniform(2, 3)),
            "bx_n": int(p.integers(48, 97)), "by_n": int(p.integers(48, 97)),
            "cat_w": _round(p.uniform(5, 7)), "hash_x": _round(p.uniform(-0.2, 0.2)),
            "join_w": _round(p.uniform(3, 5)),
            "pct_code": int(p.integers(24, 41)), "pct_q": _round(p.uniform(0.1, 0.9)),
            "exp_x": _round(p.uniform(0.8, 1.2)),
        }
    return one, {k: n for k in ("stats", "binby", "groupby_cat", "groupby_hash", "join",
                                 "percentile", "export")}, {}


def gen_timeseries(seed, out):
    r = rng_for("timeseries", seed)
    m = SERIES_ROWS
    ts = np.cumsum(r.integers(1, 11, m)).astype(np.int64)
    series = pa.table({
        "row_index": np.arange(m, dtype=np.int64),
        "ts": ts,
        "sym": r.integers(0, SERIES_SYMBOLS, m).astype(np.int32),
        "v": r.standard_normal(m),
    })
    _write(series, f"{out}/series.parquet", 8)
    # quote times are unique within a symbol, so "latest earlier quote"
    # is never a tie
    sym = r.integers(0, SERIES_SYMBOLS, QUOTE_ROWS).astype(np.int32)
    qts = r.integers(0, int(ts[-1]), QUOTE_ROWS).astype(np.int64)
    order = np.lexsort((qts, sym))
    sym, qts = sym[order], qts[order]
    keep = np.ones(len(qts), bool)
    keep[1:] = (sym[1:] != sym[:-1]) | (qts[1:] != qts[:-1])
    sym, qts = sym[keep], qts[keep]
    price = r.normal(100.0, 5.0, len(qts))
    _write(pa.table({"sym": sym, "qts": qts, "price": price}), f"{out}/quotes.parquet", 4)

    def one(p):
        return {
            "shift": int(p.integers(1, 33)) * int(p.choice([-1, 1])),
            "diff": int(p.integers(1, 17)),
            "win": int(p.integers(28, 37)),
            "win_med": int(p.integers(16, 21)), "win_q": int(p.integers(16, 21)),
            "q": _round(p.uniform(0.1, 0.9)),
            "asof_v": _round(p.uniform(-0.5, 0.0)),
        }
    rows = {k: m for k in ("shift", "diff", "rolling_mean_std", "rolling_median",
                           "rolling_quantile")}
    return one, dict(rows, asof=m + QUOTE_ROWS), {}


def _words(r):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, out = set(), []
    while len(out) < VOCAB:
        w = "".join(r.choice(letters, int(r.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def _mutate(r, toks, vocab, k):
    toks = list(toks)
    for pos in r.choice(len(toks), k, replace=False):
        toks[pos] = vocab[int(r.integers(0, len(vocab)))]
    return toks


def gen_curate(seed, out):
    r = rng_for("curate", seed)
    vocab = _words(r)
    zipf = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_EXPONENT
    zipf /= zipf.sum()
    docs = [list(vocab[r.choice(VOCAB, int(r.integers(*DOC_WORDS)), p=zipf)])
            for _ in range(DOCS)]
    # planted near-duplicate chains: a base doc, a copy with two words
    # replaced and (a third of the time) a copy of the copy; the copies
    # overwrite other docs, so eval and train docs share text
    ids = r.permutation(DOCS)
    planted = []
    for c in range(DUP_CHAINS):
        chain = [int(i) for i in ids[3 * c:3 * c + (3 if r.random() < 1 / 3 else 2)]]
        for a, b in zip(chain, chain[1:]):
            docs[b] = _mutate(r, docs[a], vocab, 2)
            planted.append([a, b])
    text = [" ".join(d) for d in docs]
    _write(pa.table({"doc_id": np.arange(DOCS, dtype=np.int64), "text": text}),
           f"{out}/documents.parquet", 4)

    centers = r.standard_normal((EMB_CELLS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cell = r.integers(0, EMB_CELLS, EMB_ROWS)
    vec = centers[cell] + 1.5 / np.sqrt(EMB_DIM) * r.standard_normal((EMB_ROWS, EMB_DIM))
    src = r.choice(EMB_ROWS, 2 * EMB_DUPS, replace=False)
    for a, b in zip(src[:EMB_DUPS], src[EMB_DUPS:]):
        vec[b] = vec[a] + 0.01 / np.sqrt(EMB_DIM) * r.standard_normal(EMB_DIM)
    vec = vec.astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(EMB_ROWS, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
    })
    _write(emb, f"{out}/embeddings.parquet", 4)

    def one(p):
        cents = centers + 0.02 * p.standard_normal(centers.shape)
        return {
            "tau": _round(p.uniform(0.9, 0.97)),
            "centroids": [[float(np.float32(v)) for v in row] for row in cents],
            "q_lo": int(p.integers(0, DOCS // 10)),
            "lsh_t": _round(p.uniform(0.76, 0.84)),
        }
    rows = {"semdedup": EMB_ROWS, "lsh": DOCS, "tfidf": DOCS, "decontaminate": DOCS,
            "quality": DOCS}
    return one, rows, {"planted_pairs": planted}


GENERATORS = {"explore": gen_explore, "timeseries": gen_timeseries, "curate": gen_curate}


def generate(workload, seed, out):
    """Write the inputs under `out`; return the sizes the JVM side needs,
    the input rows each call kind reads, facts the checks need, and the
    parameter sets: {"sizes", "rows_read", "facts", "warmup", "timed"}."""
    os.makedirs(out, exist_ok=True)
    one, rows_read, facts = GENERATORS[workload](seed, out)
    warm, timed = rng_for(workload, seed, 1), rng_for(workload, seed, 2)
    return {"sizes": {"dim_keys": EXPLORE_DIM_KEYS, "codes": EXPLORE_CODES},
            "rows_read": rows_read, "facts": facts,
            "warmup": [one(warm) for _ in range(PASSES)],
            "timed": [one(timed) for _ in range(PASSES)]}
