"""Generate a TIMING REPLICA of the driver's synthetic testdata at a given SF.

The driver generates /root/testdata/sf* itself (seed 42) and deletes larger SFs
between rounds; this script rebuilds a distribution-faithful copy for local
measurement only (row counts, dtypes, marginals, the planted near-dup structure
of `documents`, single-file snappy parquet written by arrow — all matched
against the shipped sf0.001/0.01/0.1).  It is NOT byte-identical to the
driver's data (different RNG stream), so it must never be written into
/root/testdata or used for oracle hashes — correctness stays pinned on the
shipped small SFs.  Usage:

    python scripts/gen_sf_replica.py 1.0 /root/sf1rep
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
OUT = sys.argv[2] if len(sys.argv) > 2 else "/root/sf1rep"
SRC = "/root/testdata/sf0.1"  # fixed small tables are copied verbatim

TESTDATA = os.path.realpath(os.path.dirname(SRC))
if os.path.commonpath([os.path.realpath(OUT), TESTDATA]) == TESTDATA:
    sys.exit(f"refusing to write a replica under {TESTDATA} (oracle data lives there)")
# a stale replica (an earlier SF, or an interrupted run that left _DONE) is
# cleared; a directory holding anything else is refused rather than deleted
if os.path.isdir(OUT):
    stray = [f for f in os.listdir(OUT) if f != "_DONE" and not f.endswith(".parquet")]
    if stray:
        sys.exit(f"{OUT} is not a replica directory (holds {stray[0]!r}); pick another")
    shutil.rmtree(OUT)
os.makedirs(OUT)

rng = np.random.default_rng(42)

N_CUST = max(1, int(150_000 * SF))
N_SUPP = max(1, int(10_000 * SF))
N_PART = max(1, int(200_000 * SF))
N_ORD = max(1, int(1_500_000 * SF))
N_LINE = max(1, int(6_000_000 * SF))
N_EVT = max(1000, int(1_000_000 * SF))
N_USER = max(100, int(15_000 * SF))
N_DOC = max(500, int(50_000 * SF))
N_EMB = max(500, int(20_000 * SF))

DAY = 86_400_000_000  # us


def write(name, table):
    pq.write_table(table, f"{OUT}/{name}.parquet", compression="snappy")
    print(name, table.num_rows, flush=True)


def ts_col(days_from, n_days, n):
    """n timestamps at midnight of a day drawn from [days_from, days_from + n_days)."""
    base = np.datetime64("1995-01-01", "us").astype("int64") + days_from * DAY
    off = rng.integers(0, n_days, n) * DAY
    return pa.array((base + off).astype("datetime64[us]"))


for t in ["region", "nation"]:
    shutil.copy(f"{SRC}/{t}.parquet", f"{OUT}/{t}.parquet")
    print(t, "copied", flush=True)

SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
write("customer", pa.table({
    "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
    "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
    "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
    "c_acctbal": np.round(rng.uniform(-1000, 10000, N_CUST), 2),
    "c_mktsegment": pa.array(np.array(SEGS)[rng.integers(0, 5, N_CUST)]),
}))

write("supplier", pa.table({
    "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
    "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
    "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
    "s_acctbal": np.round(rng.uniform(-1000, 10000, N_SUPP), 2),
}))

ADJ = ["blue", "old", "cold", "small", "red", "large", "hot", "new"]
NOUN = ["widget", "bolt", "plate", "rod", "anvil", "gizmo", "ring", "gear"]
TYPES = ["LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO", "ECONOMY"]
pk = np.arange(N_PART)
write("part", pa.table({
    "p_partkey": pa.array(pk, pa.int64()),
    "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
               zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
    "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
    "p_type": pa.array(np.array(TYPES)[rng.integers(0, 6, N_PART)]),
    "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
    "p_retailprice": 900.0 + (pk % 1000) / 10.0,
}))

PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
write("orders", pa.table({
    "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
    "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
    "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORD)]),
    "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORD), 2),
    "o_orderdate": ts_col(0, 2404, N_ORD),
    "o_orderpriority": pa.array(np.array(PRIO)[rng.integers(0, 5, N_ORD)]),
}))

write("lineitem", pa.table({
    "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
    "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
    "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
    "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
    "l_quantity": rng.integers(1, 51, N_LINE).astype("float64"),
    "l_extendedprice": np.round(rng.uniform(900, 105000, N_LINE), 2),
    "l_discount": rng.integers(0, 11, N_LINE) / 100.0,
    "l_tax": rng.integers(0, 9, N_LINE) / 100.0,
    "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINE)]),
    "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, N_LINE)]),
    "l_shipdate": ts_col(1, 2499, N_LINE),
}))

ETYPE = ["click", "error", "purchase", "signup", "view"]
evt_base = np.datetime64("2024-01-01", "us").astype("int64")
write("events", pa.table({
    "event_id": pa.array(np.arange(N_EVT), pa.int64()),
    "ts": pa.array((evt_base + rng.integers(0, 30 * DAY, N_EVT)).astype("datetime64[us]")),
    "user_id": pa.array(rng.integers(0, N_USER, N_EVT), pa.int64()),
    "event_type": pa.array(np.array(ETYPE)[rng.integers(0, 5, N_EVT)]),
    "value": np.round(rng.exponential(50.0, N_EVT), 2),
    "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVT)]),
}))

# documents: 30-word vocab, 10-99 words/doc, 5% near-dup copies (= base text
# + " dup", ~3% of copies get one extra word substitution; sources drawn from
# the evolving array so copy-of-copy chains occur) — matches the shipped SFs'
# structure (250/5000 ' dup' suffixes, 243 exact base+suffix, 256 pairs).
VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window"])
lens = rng.integers(10, 100, N_DOC)
texts = [" ".join(VOCAB[rng.integers(0, 30, L)]) for L in lens]
n_copy = round(0.05 * N_DOC)
copy_ids = rng.choice(N_DOC, n_copy, replace=False)
for c in copy_ids:
    s = int(rng.integers(0, N_DOC))
    while s == c:
        s = int(rng.integers(0, N_DOC))
    t = texts[s] + " dup"
    if rng.random() < 0.03:
        ws = t.split()
        ws[int(rng.integers(0, len(ws)))] = str(VOCAB[int(rng.integers(0, 30))])
        t = " ".join(ws)
    texts[c] = t
LANGS = np.array(["en", "fr", "de", "es", "zh"])
lang = LANGS[rng.choice(5, N_DOC, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
write("documents", pa.table({
    "doc_id": pa.array(np.arange(N_DOC), pa.int64()),
    "text": texts,
    "lang": pa.array(lang),
    "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOC)]),
    "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int64()),
}))

# embeddings: 64-dim unit vectors around 10 cluster centers
centers = rng.normal(size=(10, 64))
centers /= np.linalg.norm(centers, axis=1, keepdims=True)
labels = rng.integers(0, 10, N_EMB)
vecs = centers[labels] + 0.6 * rng.normal(size=(N_EMB, 64))
vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
write("embeddings", pa.table({
    "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
    "embedding": pa.array(list(vecs.astype("float32"))),
    "label": pa.array(labels, pa.int32()),
}))

open(f"{OUT}/_DONE", "w").close()
print("done:", OUT, flush=True)
