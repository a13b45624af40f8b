"""The text near-duplicate layers (``textops``, ``annops``), timed on
seeded ``documents``/``embeddings`` tables.

No end-to-end workload runs these layers (see README: ``text_dedup`` did
not fit the run budget), so the traced ``image_dedup`` run times one
round of them after its image ops: ``contract.flagship`` (doc_cluster),
``q_ngram_jaccard_docs`` and ``q_ann_cosine_topk``, each through a noop
sink. Outputs are checked against the repo's DuckDB ``ORACLE_SQL``.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from perfbench.harness import force

N_DOCS = 1000
N_VECS = 500
DIM = 64
_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join customer vector the a"
).split()


def generate(dirpath: str, seed: int) -> None:
    """Tables in the testdata ``documents``/``embeddings`` schema, with
    planted near-duplicates: a tenth of the documents copy an earlier one
    with one word replaced, and a tenth of the vectors copy an earlier
    one plus small noise."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, size=int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], size=N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    for i in range(10, N_VECS):
        if rng.random() < 0.1:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.01 * rng.standard_normal(DIM)
    emb = pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, size=N_VECS).astype(np.int32),
    })
    os.makedirs(dirpath, exist_ok=True)
    docs.to_parquet(os.path.join(dirpath, "documents.parquet"), index=False)
    emb.to_parquet(os.path.join(dirpath, "embeddings.parquet"), index=False)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _partition(pairs, ids) -> set:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups: dict = {}
    for i in ids:
        groups.setdefault(find(i), set()).add(i)
    return {frozenset(g) for g in groups.values()}


def timed_round(spark, dirpath: str, counters) -> dict:
    """One round of the three text queries; raises AssertionError when an
    output differs from the DuckDB oracle."""
    import duckdb

    from mfdedup_spark import contract

    out: dict = {"textops.shuffle_bytes": 0}
    results = {}
    for key, query in (
        ("textops.doc_cluster_s", contract.flagship),
        ("textops.ngram_jaccard_s", contract.q_ngram_jaccard_docs),
        ("annops.ann_topk_s", contract.q_ann_cosine_topk),
    ):
        mark = counters.mark()
        t0 = time.perf_counter()
        df = query(spark, dirpath)
        force(df)
        out[key] = time.perf_counter() - t0
        if key.startswith("textops"):
            out["textops.shuffle_bytes"] += counters.since(mark)["shuffle_write"]
        results[key] = df.toPandas()

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"create view {t} as select * from '{dirpath}/{t}.parquet'")
    for key, name in (
        ("textops.ngram_jaccard_s", "ngram_jaccard_docs"),
        ("annops.ann_topk_s", "ann_cosine_topk"),
    ):
        want = _canon(con.sql(contract.ORACLE_SQL[name]).df())
        got = _canon(results[key])
        pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=0, atol=1e-9)
    pairs = con.sql(contract.ORACLE_SQL["lsh_pairs_docs"]).fetchall()
    want = _partition(pairs, range(N_DOCS))
    cl = results["textops.doc_cluster_s"]
    got = _partition(zip(cl["doc_id"], cl["cluster_id"]), range(N_DOCS))
    if got != want:
        raise AssertionError("doc clusters differ from the oracle's LSH components")
    return out
