"""The flagship single-version dedup pipeline — SURVEY.md §7 step 2.

Answers the reference's ``--task=write`` question — "which images are
duplicates of which, and what is the dedup ratio"
(/root/reference/DedupPipeline/DeduplicationPipeline.h:40-43 statistics) —
as one Spark job:

    images ──mapInPandas──► signatures            (narrow, Arrow)
       │                        │
       │                   explode bands
       │                        ▼
       │              salted groupBy buckets      (shuffle 1)
       │                        ▼
       │                 anchor-star pairs
       │                        ▼
       │             verify (JVM zip_with/xor)    (shuffle 2: sig join)
       └──caption grams──► suffix-array verify    (shuffle 3)
                                ▼
                     connected components         (bounded edge collect;
                                │                  ≤ DRIVER_MAX_EDGES edges:
                                │                  numpy on the driver; more:
                                │                  iterative loop, shuffles
                                ▼                  4..4+k)
                clusters + dedup metrics (agg)

``dedup_images`` computes and persists the signatures, then calls
``cluster_signatures`` for everything between them and the metrics.
Versioned ingest (``plans.ingest.ingest_version(with_clusters=True)``)
calls the same step on its own persisted signatures, so the chain is
composed here only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mfdedup_spark.config import SignatureConfig
from mfdedup_spark.functions.signatures import compute_signatures
from mfdedup_spark.operators.caption_match import caption_pairs
from mfdedup_spark.operators.connected_components import (
    _prefetch,
    connected_components,
)
from mfdedup_spark.operators.lsh import candidate_pairs
from mfdedup_spark.operators.verify import verify_pairs


def _drop_log(lsh_stats: DataFrame, caption_stats: DataFrame) -> DataFrame:
    """The overflow log of both capped pair generators in the store's
    drop_log schema (space, band, bucket, members, kept, dropped):
    caption buckets get space 'caption' and band 0."""
    counts = [
        F.col(c).cast("long").alias(c)
        for c in ("bucket", "members", "kept", "dropped")
    ]
    return lsh_stats.select(
        "space", F.col("band").cast("int").alias("band"), *counts
    ).unionByName(
        caption_stats.select(
            F.lit("caption").alias("space"),
            F.lit(0).cast("int").alias("band"),
            *counts,
        )
    )


def cluster_signatures(
    images: DataFrame,
    sig: DataFrame,
    cfg: SignatureConfig,
    pin: list | None = None,
) -> dict[str, DataFrame]:
    """The near-dup chain after the signatures: LSH candidates,
    verification, caption pairs and connected components. ``sig`` is
    the persisted ``compute_signatures(images, cfg)``. Returns
    candidates, bucket_stats (the drop log), pairs and clusters.

    ``pin`` is passed to both pair generators (``capped_pairs``): a
    caller that materializes the clusters AND the drop log passes a
    list so the exploded blocking keys are computed once across both
    actions, and unpersists what lands in it. A caller that only reads
    the clusters leaves it None, which adds no cache write.

    Runs Spark jobs when called: connected_components' bounded edge
    collect computes the pair subtree."""
    cand, lsh_stats = candidate_pairs(sig, cfg, pin=pin)
    verified = verify_pairs(cand, sig, cfg)
    cpairs, cap_stats = caption_pairs(images, cfg, pin=pin)
    verified = verified.unionByName(cpairs)
    pairs = verified.dropDuplicates(["image_id_a", "image_id_b", "method"])

    # edges straight from verified (NOT via pairs): the per-method
    # dropDuplicates would add a second shuffle, and r06 drops the id-only
    # distinct too — connected_components is min-aggregation based and
    # therefore duplicate-insensitive, so the ≤ #bands-fold edge
    # multiplicity collapses in its first map-side partial aggregation
    # instead of paying a dedicated exchange (guide §2.4)
    clusters = connected_components(
        verified.select("image_id_a", "image_id_b"),
        sig.select("image_id"),
    )
    return {
        "candidates": cand,
        "bucket_stats": _drop_log(lsh_stats, cap_stats),
        "pairs": pairs,
        "clusters": clusters,
    }


def dedup_images(
    images: DataFrame, cfg: SignatureConfig | None = None
) -> dict[str, DataFrame]:
    """Run the full near-dup pipeline; returns the intermediate and final
    DataFrames: signatures, candidates, bucket_stats, pairs, clusters,
    metrics.

    Runs Spark jobs when called: the signatures and the pair subtree
    are computed for connected_components' edge collect, and the
    signature prefetch is joined before returning, so no job started
    here outlives the call."""
    cfg = cfg or SignatureConfig()
    sig = compute_signatures(images, cfg)
    sig.persist()  # reused by candidate gen + verification joins
    # overlap (guide §2.6): start the Arrow/Python signature stage now so
    # decode+hash runs while the driver builds the candidate/caption
    # fragments; downstream actions find sig cached. Without it a
    # 1,600-image op at local[4] took 4.2-4.8 s, against 3.4-3.9 s with it.
    prefetch = _prefetch(sig)
    out = cluster_signatures(images, sig, cfg)
    prefetch.join()

    # dedup metrics — reference counters re-expressed as one aggregation
    # (DeduplicationPipeline.h:94-108): bytes kept = one representative per
    # cluster (the cluster anchor), exact-dup bytes = non-first sha1 copies
    sizes = sig.select("image_id", "length", "sha1")
    with_cluster = sizes.join(out["clusters"], "image_id")
    metrics = with_cluster.agg(
        F.count("*").alias("n_images"),
        F.sum("length").alias("total_len"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.count_distinct("sha1").alias("n_exact_distinct"),
    ).withColumn(
        "cluster_dedup_ratio",
        F.col("n_images").cast("double") / F.col("n_clusters"),
    )
    return {"signatures": sig, **out, "metrics": metrics}
