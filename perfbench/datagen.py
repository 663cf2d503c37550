"""Seeded fixture generator for the benchmark.

Writes the parquet tables graft's registry queries read (`<table>.parquet`
in one directory), with the schemas of the repository's test fixtures
(FIXTURES.md): a TPC-H-like star schema, the `events` stream table, and the
`documents` / `embeddings` tables of the text and vector operators. Every
column is drawn from a numpy PCG64 stream seeded by the benchmark seed, so
the same seed always yields byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table: the fixture family's sf0.1 sizes (TESTDATA.md).
SIZES = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}
# pipeline_batch reads documents and embeddings at the sf0.01 sizes: at
# sf0.1 one of its runs takes about 110 s, and the 22 runs per workload a
# comparison makes would not fit its time budget (perfbench/README.md).
PIPELINE_SIZES = {"documents": 500, "embeddings": 500}
EVENT_KEYS = 1500

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["error", "view", "signup", "purchase", "click"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86400 * 1000000
EPOCH_1995 = 9131  # 1995-01-01 as days since 1970-01-01
EPOCH_2024_US = 19723 * DAY_US  # 2024-01-01T00:00Z


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def relational(rng, sizes):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, npart, no, nl = (sizes["customer"], sizes["supplier"], sizes["part"],
                             sizes["orders"], sizes["lineitem"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": _pick(rng, names, npart),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts((EPOCH_1995 + rng.integers(0, 2404, no)) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts((EPOCH_1995 + 1 + rng.integers(0, 2499, nl)) * DAY_US)})
    return out


def events(rng, n, keys):
    """Event-time-ordered events over 30 days, uniform over `keys` users."""
    gaps = rng.exponential(30 * DAY_US / n, n)
    ts = EPOCH_2024_US + np.cumsum(gaps).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, keys, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(40.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n):
    """Word-soup documents; ~5% copy an earlier document (near-duplicates,
    half of them marked with a trailing "dup" word)."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            t = texts[int(rng.integers(0, i))]
            texts.append(t + " dup" if rng.random() < 0.5 else t)
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    centers *= 0.6 / np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(label, pa.int32())})


def tables_for(workload, seed):
    """All tables one workload reads, generated from `seed`."""
    rng = np.random.Generator(np.random.PCG64(seed))
    if workload == "sql_batch":
        out = relational(rng, SIZES)
        # q34 reads every fixture table
        out["events"] = events(rng, SIZES["events"], EVENT_KEYS)
        out["documents"] = documents(rng, SIZES["documents"])
        out["embeddings"] = embeddings(rng, SIZES["embeddings"])
        return out
    if workload == "pipeline_batch":
        return {"documents": documents(rng, PIPELINE_SIZES["documents"]),
                "embeddings": embeddings(rng, PIPELINE_SIZES["embeddings"])}
    return {"events": events(rng, SIZES["events"], EVENT_KEYS)}


def probe_tables(seed):
    """The tables a traced run's probes read, the same for every workload:
    documents and embeddings at pipeline_batch's sizes for the operator and
    kernel probes, and events for the batch workloads' stream probe."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    return {"documents": documents(rng, PIPELINE_SIZES["documents"]),
            "embeddings": embeddings(rng, PIPELINE_SIZES["embeddings"]),
            "events": events(rng, SIZES["events"], EVENT_KEYS)}


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
