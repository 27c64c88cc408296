"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the
schemas and value distributions of the engine's sf0.01 test corpus
(TESTDATA_SHAPE.json row counts). The same seed gives byte-identical
tables; the engine reads nothing else.

Usage: python3 perfbench/gen_data.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1, the sf0.01 shape (scale 0.1 is the sf0.001 shape).
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000   # 1995-01-01T00:00:00Z in micros
EPOCH_2024 = 1_704_067_200 * 1_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, lo_day, hi_day, n):
    return pa.array(EPOCH_1995 + rng.integers(lo_day, hi_day + 1, n) * DAY_US,
                    pa.timestamp("us"))


def tables(seed, scale=1.0):
    rng = np.random.default_rng(seed)
    # documents and embeddings keep 500 rows at every scale, as in the
    # engine's sf0.001 and sf0.01 corpora
    n = {k: v if k in ("documents", "embeddings") else max(1, int(v * scale))
         for k, v in ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": money(rng, -1000, 10000, c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": money(rng, -1000, 10000, s)})
    p = n["part"]
    adj = rng.choice(["blue", "cold", "hot", "large", "new", "old", "red", "small"], p)
    noun = rng.choice(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"], p)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": money(rng, 1000, 500000, o),
        "o_orderdate": days(rng, 0, 2403, o),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, li),
        "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": days(rng, 1, 2499, li)})
    e = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, e)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    out["documents"] = documents(rng, n["documents"])
    v = n["embeddings"]
    x = rng.standard_normal((v, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32)})
    return out


# q180/q181's skyline slice: (doc_id * M + C) mod (2^31 - 1) < (2^31 - 1) / 8
SKY_M, SKY_C, SKY_MOD = 784588716, 12345, 2147483647


def documents(rng, d):
    """Word-salad documents over a 30-word vocabulary; one in twenty is a
    near-duplicate of an earlier document (copied, last word possibly
    dropped, " dup" appended), the shape the dedup operators key on.

    One document inside the skyline slice has 102 words (every other
    has at most 101), all trigrams distinct and no stop words, so it
    dominates every other document on (nt, rich, stop): q180's delete
    and q181's append then always change the frontier, as they do on the
    engine's test corpus (both refuse to run vacuously)."""
    sky = next(i for i in range(21, d) if (i * SKY_M + SKY_C) % SKY_MOD < SKY_MOD // 8)
    plain = [w for w in VOCAB if w not in ("the", "a")]
    texts = []
    for i in range(d):
        if i == sky:
            while True:
                words = list(rng.choice(plain, 102))
                if len({tuple(words[j:j + 3]) for j in range(100)}) == 100:
                    break
            texts.append(" ".join(words))
        elif i > 20 and rng.random() < 0.05:
            src = int(rng.integers(0, i))
            words = texts[src if src != sky else 0].split(" ")
            if words[-1] == "dup" or rng.random() < 0.5:
                words = words[:-1]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write(out_dir, seed, scale=1.0):
    """Write the tables into `out_dir` (skipped when already complete)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
