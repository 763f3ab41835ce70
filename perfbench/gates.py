"""Correctness gates, run on every benchmark run outside the timed region.

Each gate returns a list of problems; an empty list means the outputs are
correct. Oracle compares use ``tools/check.py``'s ``compare`` (columns
sorted by name, rows sorted, exact equality), the same compare the
repository's own correctness record uses.
"""
import glob
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check  # noqa: E402  (tools/check.py)

MARTS = {"attack": "q13_attack_mart_fused", "defense": "q14_defense_mart_fused",
         "discipline": "q15_discipline_mart_fused"}
# Mean recall@10 of the IVF-PQ defaults (16 cells, nProbe 6, 8 x 16
# codebooks) on the generated vectors measures 0.22-0.28 per run: each query
# is a perturbed corpus vector, which an intact index returns (0.1), and the
# rest of its exact top-10 are near-random neighbours that PQ ranks poorly.
# Below the floor the index no longer finds the query's own source vector.
RECALL_FLOOR = 0.1


def read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def oracle(got, sql, table_dir, name):
    """Problems of `got` against the DuckDB oracle `sql` over `table_dir`."""
    if got is None:
        return [f"{name}: no output"]
    con = check.connect(table_dir)
    exp = con.sql(sql).df()
    v = check.compare(got, exp)
    return [f"{name}: {v['detail']}"] if v["detail"] else []


def etl(marts_dir, markers, sql, table_dir):
    bad = []
    for mart, q in MARTS.items():
        got = read_parquet_dir(os.path.join(marts_dir, mart))
        if got is not None:
            got = got.drop(columns=["run_date"])
        bad += oracle(got, sql[q], table_dir, q)
    if "transform_SUCCESS" not in markers or any(m.endswith("_ERROR") for m in markers):
        bad.append(f"markers: {markers}")
    return bad


def exact_top10(corpus, query):
    """Ids of the 10 corpus rows of highest cosine similarity to `query`
    (corpus rows are unit vectors; ties broken by id)."""
    ids, vecs = corpus
    sims = vecs @ (query / np.linalg.norm(query))
    order = np.lexsort((ids, -sims))
    return ids[order[:10]]


def serve(answers, corpus_at, queries, floor=RECALL_FLOOR):
    """Problems and mean recall@10 of the served answers. `corpus_at(a)` is
    the (ids, vectors) corpus after `a` appended batches."""
    bad, recalls = [], []
    for ans in answers:
        ids = np.asarray(ans["ids"], dtype=np.int64)
        corpus = corpus_at(ans["appended"])
        valid = set(corpus[0].tolist())
        if len(ids) != 10 or len(set(ids.tolist())) != 10:
            bad.append(f"query {ans['query']}: {len(ids)} ids, {len(set(ids.tolist()))} distinct")
        if not set(ids.tolist()) <= valid:
            bad.append(f"query {ans['query']}: ids outside the served corpus")
        truth = exact_top10(corpus, queries[ans["query"]])
        recalls.append(len(set(truth.tolist()) & set(ids.tolist())) / 10.0)
    recall = float(np.mean(recalls)) if recalls else 0.0
    if not answers:
        bad.append("no answers recorded")
    elif recall < floor:
        bad.append(f"recall@10 {recall:.3f} below the floor {floor}")
    return bad[:5], recall


def analytics(out_dir, sql, table_dir):
    bad = []
    for name, q in sorted(sql.items()):
        bad += oracle(read_parquet_dir(os.path.join(out_dir, name)), q, table_dir, name)
    return bad
