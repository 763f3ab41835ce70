"""Seeded input generators for the graft benchmark.

Every table is drawn from ``numpy.random.Generator(PCG64(seed))`` with the
schemas and value distributions of the engine's fixture star schema (see
FIXTURES.md): uniform keys, day-granular dates, a 30-word document
vocabulary with 5% `` dup``-suffixed near-duplicates and a few exact
copies, and unit-norm 64-d embeddings. The same (seed, scale) always
writes byte-identical parquet; foreign keys are valid by construction.

``scale`` is the TPC-H-style scale factor: 0.1 gives 150,000 orders,
~600,000 lineitem rows, 100,000 events, 5,000 documents and 2,000
embeddings. Per-workload scales live in run.py.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _strs(prefix, keys, width):
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys.tolist()])


def documents_text(rng, n):
    """Word-sequence documents: 5% near-duplicates (a copy of an earlier
    document plus a trailing ``dup`` token) and 0.2% exact copies."""
    lens = rng.integers(10, 101, n)
    flat = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[flat]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - l:e]) for l, e in zip(lens.tolist(), ends.tolist())]
    near = rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False)
    exact = rng.choice(np.setdiff1d(np.arange(1, n), near), size=max(1, n // 500),
                       replace=False)
    for i in near.tolist():
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in exact.tolist():
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def unit_vectors(rng, n, dim=DIM):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def tables(seed, scale):
    """All catalog tables as pyarrow Tables, keyed by name."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_doc = max(100, int(50_000 * scale))
    n_emb = max(100, int(20_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _strs("Customer#", ck, 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _strs("Supplier#", sk, 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    ok = np.arange(n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    n_li = 4 * n_ord
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {i}}}' for i in range(100)])[
            rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(rng, n_doc)
    t["embeddings"] = embeddings(rng, n_emb)
    return t


def documents(rng, n):
    texts = documents_text(rng, n)
    dk = np.arange(n)
    return pa.table({
        "doc_id": pa.array(dk, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(20)])[dk % 20],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def embeddings(rng, n):
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(unit_vectors(rng, n)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def write_tables(tabs, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def write_catalog(out_dir, seed, scale):
    """Write every catalog table for (seed, scale) under ``out_dir``."""
    write_tables(tables(seed, scale), out_dir)


QUERY_ID_BASE = 1_000_000_000


def write_serve(out_dir, seed, n_base, n_batches, batch_size, n_queries, noise=0.3):
    """Retrieval inputs: ``base.parquet`` (vec_id, embedding) indexed in
    set-up, ``append<i>.parquet`` held-out batches with the following ids,
    and ``queries.parquet`` (query_id, qv): base vectors plus seeded
    Gaussian noise, renormalized."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = n_base + n_batches * batch_size
    vecs = unit_vectors(rng, n)
    os.makedirs(out_dir, exist_ok=True)

    def emb(lo, hi):
        return pa.table({"vec_id": pa.array(np.arange(lo, hi), pa.int64()),
                         "embedding": pa.array(list(vecs[lo:hi]), pa.list_(pa.float32()))})
    pq.write_table(emb(0, n_base), os.path.join(out_dir, "base.parquet"))
    for i in range(n_batches):
        lo = n_base + i * batch_size
        pq.write_table(emb(lo, lo + batch_size), os.path.join(out_dir, f"append{i + 1}.parquet"))
    src = rng.integers(0, n_base, n_queries)
    q = vecs[src] + noise / np.sqrt(DIM) * rng.standard_normal((n_queries, DIM)).astype(np.float32)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "query_id": pa.array(QUERY_ID_BASE + np.arange(n_queries), pa.int64()),
        "qv": pa.array(list(q.astype(np.float32)), pa.list_(pa.float32()))}),
        os.path.join(out_dir, "queries.parquet"))
