"""Seeded corpus generator for the benchmark.

Writes the ten tables the engine reads (one parquet file each) with the
schema, value domains and physical types of the engine's test corpus at
scale factor 0.1, times `scale`:

  region 5, nation 25 (fixed); customer 15000, supplier 1000, part 20000,
  orders 150000, lineitem 600000, events 100000, documents 5000,
  embeddings 2000 rows per unit of scale.

Every value is drawn from numpy's PCG64 seeded with `seed`, so the same
(seed, scale) gives byte-identical tables. The shapes the queries rely on
are kept: events ordered by time with dense ids over January 2024 and
'{"k": n}' props, 5% of documents a copy of an earlier one plus " dup"
(the near-duplicate pairs the dedup operators find) and a few exact
copies, unit-norm 64-dimensional float embeddings with ten labels.

Usage: python3 gen.py <out_dir> <seed> <scale>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000, "users": 1500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("query row stream the spark line small fast group customer part column "
         "order scan a slow agg key window table merge vector join batch sort "
         "value hash filter big data").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DIM = 64
US_PER_DAY = 86_400_000_000


def days(rng, lo, hi, n):
    """Midnight timestamps drawn uniformly from the day range [lo, hi]."""
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(d * US_PER_DAY, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed, scale):
    rng = np.random.Generator(np.random.PCG64(seed % 2**64))
    n = {k: max(1, int(round(v * scale))) for k, v in BASE.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": pick(rng, SEGMENTS, c)})

    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})

    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pick(rng, PTYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": pick(rng, ["F", "O", "P"], o),
        "o_totalprice": money(rng, 1000.0, 500000.0, o),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": pick(rng, PRIORITIES, o)})

    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], li),
        "l_linestatus": pick(rng, ["F", "O"], li),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", li)})

    e = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * US_PER_DAY, e))
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})

    d = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, d)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # near-duplicates: a copy of an earlier document plus a trailing "dup";
    # exact copies: a few documents repeated verbatim
    for i in np.flatnonzero(rng.random(d) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in np.flatnonzero(rng.random(d) < 0.002):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)]
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, LANGS, d, LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    m = n["embeddings"]
    x = rng.standard_normal((m, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, m * DIM + 1, DIM, dtype=np.int32), pa.array(x.ravel())),
        "label": rng.integers(0, 10, m).astype(np.int32)})
    return out


def generate(out_dir, seed, scale):
    """Write the corpus into out_dir atomically: a partial directory from an
    interrupted run is never mistaken for a finished one."""
    if os.path.isfile(os.path.join(out_dir, "_DONE")):
        return False
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    open(os.path.join(tmp, "_DONE"), "w").close()
    if os.path.isdir(out_dir):
        for f in os.listdir(out_dir):
            os.remove(os.path.join(out_dir, f))
        os.rmdir(out_dir)
    os.rename(tmp, out_dir)
    return True


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
