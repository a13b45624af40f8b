"""LSH candidate generation — the salted groupBy at the heart of the graft
(north_star: "LSH band hashing driving a salted groupBy").

Replaces the reference's in-memory hash-set probe
(/root/reference/MetadataManager/MetadataManager.h:60-77) for the
*similarity* path. Pair generation is **anchor-star**: within each
(space, band, bucket) the lexicographically-smallest member is the anchor
and edges go (anchor → member). This keeps per-bucket work O(n) instead of
the O(n²) all-pairs blowup — the SURVEY §4 hard part (a) — while preserving
bucket connectivity for connected components.

Skew handling (north_rule: "explicit skew salting on hot LSH buckets"):
the deterministic cap "first ``cap`` ids of the bucket" is computed in two
levels so no single task ever sorts a whole hot bucket:
  level 1: row_number over (bucket, salt)  — salt = pmod(xxhash64(id), S),
           bounded groups, keeps only each salt's first ``cap``
  level 2: row_number over (bucket)        — input already ≤ S·cap rows
           per bucket, keeps the global first ``cap``
The union of per-salt prefixes is a superset of the bucket-global prefix,
so the two-level result equals the oracle's ``sorted(set)[:cap]`` exactly.
Dropped rows are counted and logged, never silently truncated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mfdedup_spark.config import SignatureConfig


def explode_bands(signatures: DataFrame) -> DataFrame:
    """signatures → (space, band, bucket, image_id), one row per band.

    r06: ONE pass — the two bands arrays are concatenated before a single
    posexplode and the (space, band) pair is recovered from the position,
    where the former mh/sh union scanned the persisted signature frame
    twice (guide §2.4; the in-memory columnar cache decode of the array
    columns was a measurable per-scan cost at bench scale). A null bands
    array counts as empty, so the other space's bands of that row stay
    (``concat`` alone would return null and drop the whole row)."""

    def bands(name):
        return F.coalesce(name, F.array().cast(signatures.schema[name].dataType))

    n_mh = F.size(bands("mh_bands"))
    return signatures.select(
        F.posexplode(F.concat(bands("mh_bands"), bands("sh_bands"))).alias(
            "pos", "bucket"
        ),
        "image_id",
        n_mh.alias("_n_mh"),
    ).select(
        F.when(F.col("pos") < F.col("_n_mh"), F.lit("mh"))
        .otherwise(F.lit("sh"))
        .alias("space"),
        F.when(F.col("pos") < F.col("_n_mh"), F.col("pos"))
        .otherwise(F.col("pos") - F.col("_n_mh"))
        .alias("band"),
        "bucket",
        "image_id",
    )


def capped_pairs(
    exploded: DataFrame,
    cap: int,
    salt_buckets: int,
    key_cols: list[str] = ("space", "band", "bucket"),
    id_col: str = "image_id",
    pin: list | None = None,
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Generic salted, capped anchor-star pair generator.

    Returns (pairs, bucket_stats):
    pairs({id_col}_a < {id_col}_b [, {c}_a, {c}_b per carry col]) distinct;
    bucket_stats(*key_cols, members, kept, dropped) for buckets that
    overflowed the cap (the mandated drop log).

    ``carry`` (r06): small per-id payload columns to ride through the two
    window stages and come out attached to BOTH pair sides ({c}_a via a
    first() sharing the level-2 sort, {c}_b from the member row), so a
    verifier needs no join-back — which would re-evaluate the whole
    upstream signature subtree once per side. Only for columns
    functionally dependent on the id and a few bytes wide (e.g. a 64-bit
    simhash); heavyweight payloads (texts, embeddings) must keep using
    join-backs so the pair shuffle stays id-sized (guide §2.3). Level-1
    is untouched: carried columns pass through as plain projection
    columns, so the WindowGroupLimit pushdown on the level-1 rank filter
    is preserved (pinned by test_capped_pairs_window_group_limit); the
    extra first() lands on level-2, which already runs a full window for
    anchor attachment.

    PRECONDITION: (key_cols, id_col) rows are unique — every caller
    guarantees it by construction (one bucket per (id, band) from
    posexplode, array_distinct before gram explodes, one SRP bucket per
    vector), and the cap's oracle parity (``sorted(set)[:cap]``) already
    requires it. This lets the drop log use ``count(*)`` — which
    partial-aggregates map-side, so materializing the log shuffles ~one
    row per bucket instead of re-shuffling every exploded row the way
    ``count_distinct`` did (VERDICT r03 wrong #2).

    ``pin``: when a caller will materialize BOTH outputs (e.g. versioned
    ingest persists the drop log next to the clusters), pass a list; the
    exploded input is persisted and appended to it so it is computed
    ONCE across both actions (VERDICT r04 wrong #2). The caller
    unpersists the pinned frames when done.

    Deliberate non-fusion: stats could ride the level-1 window (a
    ``count(*)`` over the same (keys, salt) partitioning shares its
    WindowExec), but ANY second whole-partition window function defeats
    Spark's WindowGroupLimit pushdown on the rank filter — the map-side
    prune that keeps hot buckets from flooding the level-1 shuffle
    (docs/PLANS.md shows the `row_number(), cap, Partial` node). An
    exact member count needs every row, so it must stay a separate
    map-side-partial aggregation; the pin makes the shared scan cheap
    instead of fusing the plans.
    """
    keys = list(key_cols)
    if pin is not None:
        exploded = exploded.persist()
        pin.append(exploded)
    salted = exploded.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(*keys, "salt").orderBy(id_col)
    lvl1 = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= cap)
        .drop("rn1", "salt")
    )
    # rank AND attach the bucket anchor in ONE window stage: first() over
    # the same (keys, orderBy id) window shares the shuffle/sort with
    # row_number, so pair emission needs no anchors⋈members self-join
    w2 = Window.partitionBy(*keys).orderBy(id_col)
    w2row = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = lvl1.select(
        *keys,
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.row_number().over(w2).alias("rn"),
        F.first(id_col).over(w2row).alias(f"{id_col}_a"),
        *[F.first(c).over(w2row).alias(f"{c}_a") for c in carry],
    )
    pairs = (
        ranked.where((F.col("rn") > 1) & (F.col("rn") <= cap))
        .select(
            f"{id_col}_a",
            F.col(id_col).alias(f"{id_col}_b"),
            *[F.col(f"{c}_a") for c in carry],
            *[F.col(c).alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )

    # drop log: buckets whose membership exceeded the cap. count(*) ==
    # count_distinct(id) under the documented uniqueness precondition,
    # and unlike count_distinct it partial-aggregates map-side: the
    # shuffle carries one row per (bucket, input-partition), a fraction
    # of the pair generation instead of a duplicate of it
    stats = (
        exploded.groupBy(*keys)
        .agg(F.count("*").alias("members"))
        .where(F.col("members") > cap)
        .withColumn("kept", F.lit(cap))
        .withColumn("dropped", F.col("members") - cap)
    )
    return pairs, stats


def candidate_pairs(
    signatures: DataFrame, cfg: SignatureConfig, pin: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """MinHash-band + SimHash-band candidate pairs (distinct, a < b)."""
    return capped_pairs(
        explode_bands(signatures), cfg.bucket_cap, cfg.salt_buckets, pin=pin
    )
