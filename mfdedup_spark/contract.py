"""Driver-contract queries: each engine operator from SURVEY.md §2.6,
expressed on the driver's TPC-H-ish testdata tables, with a DuckDB oracle
SQL twin that computes the *same values* (portable md5/mod-P hashing,
sequential double folds, integer outputs where possible).

Layout: QUERIES maps name → (spark_callable, oracle_sql | None).
__spark_entry__.py re-exports these as queries() / oracle_sql().
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mfdedup_spark import textops
from mfdedup_spark.textops import (
    DOC_BANDS,
    DOC_ROWS,
    NUM_PERMS,
    P,
    PERM_A,
    PERM_B,
    band_bucket_sql,
    gram_hashes_sql,
    md5_long,
    md5_long_sql,
    minhash_sql,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table. Small single-file tables arrive as one input
    split, which would serialize CPU-heavy expression stages (64-perm
    MinHash etc.) onto one core — rebalance those up to the cluster's
    parallelism. At real scale inputs have ≥ cores splits and this is a
    no-op (no extra shuffle)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    p = spark.sparkContext.defaultParallelism
    # driver-side metadata check only — no df.rdd conversion (VERDICT r03
    # wrong #4): input file count bounds the scan's split count for these
    # small single-row-group files
    if len(df.inputFiles()) < p:
        df = df.repartition(p)
    return df


# ---------------------------------------------------------------- doc LSH SQL
def _bands_cte() -> str:
    """CTE producing (doc_id, band, bucket) — the SQL twin of
    textops.doc_band_buckets."""
    mh_exprs = ", ".join(
        f"{minhash_sql('gh', i)} as mh{i}" for i in range(NUM_PERMS)
    )
    mh_names = [f"mh{i}" for i in range(NUM_PERMS)]
    band_rows = " union all ".join(
        f"select doc_id, {b} as band, {band_bucket_sql(mh_names, b)} as bucket from mh"
        for b in range(DOC_BANDS)
    )
    return f"""
with gh as (select doc_id, {gram_hashes_sql('text')} as gh from documents),
mh as (select doc_id, {mh_exprs} from gh),
bands as ({band_rows})
"""


# -------------------------------------------------------------- spark queries
def q_exact_dedup_docs(spark, sf_dir):
    return textops.doc_exact_dedup(_t(spark, sf_dir, "documents"))


def q_minhash_bands_docs(spark, sf_dir):
    return textops.doc_band_buckets(_t(spark, sf_dir, "documents"))


def q_lsh_pairs_docs(spark, sf_dir):
    return textops.doc_lsh_pairs(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard_docs(spark, sf_dir):
    return textops.doc_ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), 0.2)


def q_ngram_jaccard_docs_capped(spark, sf_dir):
    pairs, _ = textops.doc_ngram_jaccard_pairs_capped(
        _t(spark, sf_dir, "documents"), 0.2
    )
    return pairs


def _events_classified(spark, sf_dir):
    """NDF classification over events: fp = md5(props), version = day of
    year, arrival order = event_id. Exact reference semantics via one
    window + one anti-joinable prev-version set (SURVEY §2.6 T6-T8:
    laterTable first ⇒ INTERNAL for repeats within the version, else
    earlierTable ⇒ ADJACENT, else UNIQUE)."""
    # r06 (guide §2.4): hash-repartition on (version, fp) ONCE — the
    # window requires exactly that clustering, and the prev-version
    # distinct (taken BEFORE the +1 projection so Catalyst recognizes the
    # partitioning) aggregates in place on the same exchange, which the
    # two branches then SHARE via exchange reuse. The former shape paid a
    # round-robin exchange, a window exchange and a distinct exchange,
    # and evaluated the md5 fingerprint projection twice (once per
    # branch).
    p = spark.sparkContext.defaultParallelism
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_id",
            "value",
            F.dayofyear("ts").cast("long").alias("version"),
            md5_long(F.col("props")).alias("fp"),
        )
        .repartition(p, "version", "fp")
    )
    w = Window.partitionBy("version", "fp").orderBy("event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w).cast("long"))
    prev = (
        ev.select("version", "fp")
        .distinct()
        .select((F.col("version") + 1).alias("version"), "fp")
        .withColumn("in_prev", F.lit(1))
    )
    return ranked.join(prev, ["version", "fp"], "left").select(
        "event_id",
        "version",
        "fp",
        "value",
        F.when(F.col("rn") > 1, F.lit("INTERNAL"))
        .when(F.col("in_prev").isNotNull(), F.lit("ADJACENT"))
        .otherwise(F.lit("UNIQUE"))
        .alias("result"),
    )


def q_ndf_classification_events(spark, sf_dir):
    return _events_classified(spark, sf_dir).select("event_id", "version", "result")


def q_streaming_ndf_classify(spark, sf_dir):
    """The applyInPandasWithState NDF classifier run as a real streaming
    query over the same events-derived records — per-fp GroupState
    (last-seen version) replaces the window + prev-version semi-join, so
    the SQL oracle of the batch twin checks it hash-exactly. Within a
    batch the operator orders each fp's records by (version, seq_no);
    cross-micro-batch state parity is test_stateful_streaming_classify."""
    import os
    import tempfile

    from mfdedup_spark.streaming.stateful_classify import stream_classify

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("image_id"),
        F.dayofyear("ts").cast("int").alias("version"),
        F.col("event_id").cast("long").alias("seq_no"),
        F.lit(0).cast("long").alias("length"),
        md5_long(F.col("props")).cast("string").alias("fp"),
    )
    import shutil

    d = tempfile.mkdtemp(prefix="ndf_stream_contract")
    try:
        src = os.path.join(d, "src")
        ev.coalesce(1).write.mode("overwrite").parquet(src)
        q, table = stream_classify(
            spark, src, os.path.join(d, "ckpt"),
            query_name=f"ndf_stream_{os.path.basename(d)}",
        )
        # a partial in-memory table must surface as a loud timeout, not a
        # confusing oracle hash mismatch (ADVICE r03 low #3)
        finished = q.awaitTermination(timeout=600)
        if not finished:
            q.stop()
        assert finished, "streaming NDF classify did not drain within 600s"
        # memory-sink rows live in the session — source/checkpoint dirs
        # are safe to reclaim once the query terminated
        return spark.table(table).select(
            F.col("image_id").cast("long").alias("event_id"),
            F.col("version").cast("long").alias("version"),
            "result",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_dedup_metrics_events(spark, sf_dir):
    cl = _events_classified(spark, sf_dir)
    return cl.groupBy("version").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("result") == "UNIQUE", 1).otherwise(0)).alias("n_unique"),
        F.sum(F.when(F.col("result") == "INTERNAL", 1).otherwise(0)).alias(
            "n_internal"
        ),
        F.sum(F.when(F.col("result") == "ADJACENT", 1).otherwise(0)).alias(
            "n_adjacent"
        ),
        F.round(F.sum("value"), 3).alias("total_value"),
        F.round(
            F.sum(F.when(F.col("result") == "UNIQUE", F.col("value")).otherwise(0.0)),
            3,
        ).alias("unique_value"),
    )


def _events_vfp(spark, sf_dir):
    """Distinct (version, fp) of events, hash-partitioned on fp so every
    downstream consumer — the distinct itself, the first-version groupBy
    and the fp equi-join — reuses ONE exchange (r06, guide §2.4; the
    former shape paid a round-robin exchange plus one exchange per
    consumer)."""
    p = spark.sparkContext.defaultParallelism
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.dayofyear("ts").cast("long").alias("version"),
            md5_long(F.col("props")).alias("fp"),
        )
        .repartition(p, "fp")
        .distinct()
    )


def q_category_assignment_events(spark, sf_dir):
    ev = _events_vfp(spark, sf_dir)
    first = ev.groupBy("fp").agg(F.min("version").alias("first_version"))
    return ev.join(first, "fp").select(
        "fp",
        "version",
        "first_version",
        (
            F.col("version") * (F.col("version") - 1) / 2 + F.col("first_version")
        ).cast("long").alias("category_id"),
    )


def q_avar_split_events(spark, sf_dir):
    """r06 (guide §2.4): the prev/curr membership tests fold into ONE
    per-fp aggregation over the shared fp-partitioned exchange — a fp is
    'active' iff seen at both m-1 and m, 'archived' iff only at m-1 —
    replacing two semi-joins plus an anti-join over three evaluations of
    the distinct subtree (identical output rows)."""
    ev = _events_vfp(spark, sf_dir)
    vmax = ev.agg(F.max("version").alias("m"))
    flags = (
        ev.join(F.broadcast(vmax), ev.version >= vmax.m - 1, "inner")
        .groupBy("fp")
        .agg(
            F.max(F.when(F.col("version") == F.col("m") - 1, 1).otherwise(0)).alias(
                "in_prev"
            ),
            F.max(F.when(F.col("version") == F.col("m"), 1).otherwise(0)).alias(
                "in_curr"
            ),
        )
    )
    return flags.where(F.col("in_prev") == 1).select(
        "fp",
        F.when(F.col("in_curr") == 1, F.lit("active"))
        .otherwise(F.lit("archived"))
        .alias("state"),
    )


def q_volume_offsets_events(spark, sf_dir):
    cat = q_category_assignment_events(spark, sf_dir)
    return cat.groupBy("version", "category_id").agg(
        F.count("*").alias("n_chunks")
    )


def q_topk_hot_fps_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(md5_long(F.col("props")).alias("fp"))
    return (
        ev.groupBy("fp")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "fp")
        .limit(10)
    )


def q_restore_prefix_sum(spark, sf_dir):
    """Recipe-offset prefix sum (RestoreParserPipeline.h:52-57 analogue):
    recipes need a *unique* seq key, so chunk lengths are first aggregated
    per (version, seq_no) ≈ (orderkey, linenumber), then window-prefix-
    summed — ties in the synthetic data would otherwise make the running
    sum engine-dependent.

    r06 (guide §2.4): ONE hash exchange on l_orderkey establishes the
    partitioning that BOTH downstream operators need — HashPartitioning
    on a subset of the grouping keys satisfies the aggregation's
    ClusteredDistribution([l_orderkey, l_linenumber]) and the window's
    ClusteredDistribution([l_orderkey]) — replacing the former
    round-robin-repartition → groupBy exchange → window exchange chain
    (3 exchanges → 1); the projection before the exchange shuffles three
    columns instead of sixteen."""
    p = spark.sparkContext.defaultParallelism
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .repartition(p, "l_orderkey")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum("l_quantity").alias("q"))
    )
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.sum("q").over(w), F.lit(0.0)).cast("long").alias("offset"),
    )


def q_restore_join_chunks(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_name"
    )


def q_semi_anti_orders(spark, sf_dir):
    """r06 (guide §2.4): one left outer join against the (unique-keyed)
    filtered customer side classifies every order in a single pass —
    the former semi + anti pair scanned and shuffled orders twice for
    the same MATCHED/NEW split (identical output rows; c_custkey is
    unique, so the left join cannot fan out)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rich = _t(spark, sf_dir, "customer").where("c_acctbal > 5000").select("c_custkey")
    return orders.join(
        rich, orders.o_custkey == rich.c_custkey, "left"
    ).select(
        "o_orderkey",
        F.when(F.col("c_custkey").isNotNull(), F.lit("MATCHED"))
        .otherwise(F.lit("NEW"))
        .alias("state"),
    )


def q_token_stats_docs(spark, sf_dir):
    return textops.doc_token_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_re_tokens").cast("long").alias("n_re_tokens"),
        F.col("n_chars_computed").cast("long").alias("n_chars_computed"),
    )


def q_quality_scores_docs(spark, sf_dir):
    q = textops.doc_quality_scores(_t(spark, sf_dir, "documents"))
    return q.select(
        "doc_id",
        F.col("n_chars_q").cast("long").alias("n_chars_q"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_token_len_x100",
        "stopword_hits",
        F.col("n_digits").cast("long").alias("n_digits"),
    )


def q_lang_id_docs(spark, sf_dir):
    return textops.doc_lang_id(_t(spark, sf_dir, "documents"))


def q_fingerprint_docs(spark, sf_dir):
    return textops.doc_fingerprint(_t(spark, sf_dir, "documents"))


def q_cdc_chunking_docs(spark, sf_dir):
    return textops.doc_cdc_chunks(_t(spark, sf_dir, "documents"))


def q_fixed_chunking_docs(spark, sf_dir):
    return textops.doc_fixed_chunks(_t(spark, sf_dir, "documents"))


def q_ann_cosine_topk(spark, sf_dir):
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    # r06 (guide §1.2 per-task work): each side's norm is projected ONCE
    # per row before the cross join instead of being re-folded per PAIR —
    # the probe stage drops from three 64-element folds per candidate to
    # one fold plus a multiply. Identical IEEE operations in identical
    # order, so the rounded cosine is bit-identical to the oracle.
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("en")
    )
    q = emb.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("en").alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with("qe", "embedding", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(emb)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qn") * F.col("en")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def q_simhash_docs(spark, sf_dir):
    return textops.doc_simhash(_t(spark, sf_dir, "documents"))


def q_simhash_band_pairs_docs(spark, sf_dir):
    return textops.doc_simhash_band_pairs(_t(spark, sf_dir, "documents"), 8)


def q_caption_substring_docs(spark, sf_dir):
    return textops.doc_caption_substring_pairs(_t(spark, sf_dir, "documents"))


def q_lsh_pairs_docs_capped(spark, sf_dir):
    return textops.doc_lsh_pairs_capped(_t(spark, sf_dir, "documents"))[0]


def q_simhash_pairs_docs_capped(spark, sf_dir):
    return textops.doc_simhash_band_pairs_capped(_t(spark, sf_dir, "documents"))[0]


def q_caption_substring_docs_capped(spark, sf_dir):
    return textops.doc_caption_substring_pairs_capped(
        _t(spark, sf_dir, "documents")
    )[0]


def q_embedding_neardup_capped(spark, sf_dir):
    from mfdedup_spark import annops

    # threshold 0.2 (vs 0.4 on the uncapped twin): the sf0.01 vectors are
    # near-orthogonal, and the capped anchor-star pair set needs a looser
    # cut to be non-empty — an empty result would make the oracle check
    # trivially true
    return annops.embedding_neardup_pairs_capped(
        _t(spark, sf_dir, "embeddings"), 0.2
    )[0]


def q_embedding_neardup_planes12(spark, sf_dir):
    """The corpus-proportional production route (VERDICT r03 #6) at 12
    planes — oracle-checked hash-exact against the unrolled SRP SQL at 12
    planes (threshold 0.1: finer buckets thin the near-orthogonal
    co-bucket pairs; 0.2 would leave too few rows)."""
    from mfdedup_spark import annops

    return annops.embedding_neardup_pairs_capped(
        _t(spark, sf_dir, "embeddings"), 0.1, n_planes=12
    )[0]


def _capped_star_sql(rows_cte: str, key: str, id_col: str, cap: int) -> str:
    """SQL twin of operators.lsh.capped_pairs: per bucket, the first
    ``cap`` ids (sorted) participate and edges go (anchor=min → member).
    The Spark side computes the same prefix in two salted levels — the
    union of per-salt prefixes is a superset of the global prefix, so the
    results are identical (proven by test_hot_bucket_cap_parity)."""
    return f"""
        ranked as (
          select {key}, {id_col},
                 row_number() over (partition by {key} order by {id_col}) as rn,
                 min({id_col}) over (partition by {key}) as anchor
          from {rows_cte}
        ),
        cpairs as (
          select distinct anchor as {id_col}_a, {id_col} as {id_col}_b
          from ranked where rn > 1 and rn <= {cap}
        )
    """


def q_srp_bucket_hist(spark, sf_dir):
    from mfdedup_spark import annops

    return (
        annops.srp_buckets(_t(spark, sf_dir, "embeddings"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def q_ann_lsh_topk(spark, sf_dir):
    from mfdedup_spark import annops

    return annops.ann_lsh_topk(_t(spark, sf_dir, "embeddings"), 10, 5)


def q_ivf_lists(spark, sf_dir):
    from mfdedup_spark import annops

    return (
        annops.ivf_lists(_t(spark, sf_dir, "embeddings"))
        .groupBy("list_id")
        .agg(F.count("*").alias("n"))
    )


def q_ann_ivf_topk(spark, sf_dir):
    from mfdedup_spark import annops

    return annops.ann_ivf_topk(_t(spark, sf_dir, "embeddings"), 10, 5)


def q_ivf_lists_trained(spark, sf_dir):
    from mfdedup_spark import annops

    return (
        annops.ivf_lists_trained(_t(spark, sf_dir, "embeddings"), k=16)
        .groupBy("list_id")
        .agg(F.count("*").alias("n"))
    )


def q_ann_ivf_topk_trained(spark, sf_dir):
    from mfdedup_spark import annops

    return annops.ann_ivf_topk_trained(
        _t(spark, sf_dir, "embeddings"), n_queries=10, topk=5, k=16, nprobe=2
    )


def q_ann_lsh_topk_multiprobe(spark, sf_dir):
    from mfdedup_spark import annops

    return annops.ann_lsh_topk_multiprobe(_t(spark, sf_dir, "embeddings"), 10, 5)


def q_embedding_neardup(spark, sf_dir):
    from mfdedup_spark import annops

    return annops.embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), 0.4)


def q_embedding_norm_hist(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return (
        emb.select(F.floor(sumsq).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def q_events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 3).alias("sum_value"),
    )


def q_distinct_union_sort(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(F.col("source").alias("tag"))
    evs = _t(spark, sf_dir, "events").select(F.col("event_type").alias("tag"))
    return docs.unionByName(evs).distinct().orderBy("tag")


# ----------------------------------------------------------------- oracle SQL
_NDF_SQL_BASE = """
with ev as (
  select event_id, value, dayofyear(ts) as version,
         {fp} as fp
  from events
),
ranked as (
  select event_id, version, fp, value,
         row_number() over (partition by version, fp order by event_id) as rn
  from ev
),
prev as (select distinct version + 1 as version, fp from ev)
select ranked.event_id, ranked.version, ranked.fp, ranked.value,
       case when ranked.rn > 1 then 'INTERNAL'
            when prev.fp is not null then 'ADJACENT'
            else 'UNIQUE' end as result
from ranked left join prev
  on ranked.version = prev.version and ranked.fp = prev.fp
""".format(fp=md5_long_sql("props"))

ORACLE_SQL: dict[str, str] = {
    "exact_dedup_docs": f"""
        select {md5_long_sql('text')} as fp,
               min(doc_id) as canonical_id, count(*) as n_copies
        from documents group by 1
    """,
    "minhash_bands_docs": _bands_cte() + "select doc_id, band, bucket from bands",
    "lsh_pairs_docs": _bands_cte()
    + """
        select distinct a.doc_id as doc_id_a, b.doc_id as doc_id_b
        from bands a join bands b
          on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
    """,
    "ngram_jaccard_docs": _bands_cte()
    + f""",
        pairs as (
          select distinct a.doc_id as doc_id_a, b.doc_id as doc_id_b
          from bands a join bands b
            on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
        ),
        grams as (
          select doc_id, unnest(list_distinct({gram_hashes_sql('text')})) as g
          from documents
        ),
        sizes as (select doc_id, count(*) as n from grams group by 1),
        inter as (
          select p.doc_id_a, p.doc_id_b, count(*) as n_common
          from pairs p
          join grams ga on ga.doc_id = p.doc_id_a
          join grams gb on gb.doc_id = p.doc_id_b and gb.g = ga.g
          group by 1, 2
        )
        select i.doc_id_a, i.doc_id_b, i.n_common,
               round(i.n_common / (na.n + nb.n - i.n_common), 6) as jaccard
        from inter i
        join sizes na on na.doc_id = i.doc_id_a
        join sizes nb on nb.doc_id = i.doc_id_b
        where round(i.n_common / (na.n + nb.n - i.n_common), 6) >= 0.2
    """,
    "ndf_classification_events": _NDF_SQL_BASE.replace(
        "select ranked.event_id, ranked.version, ranked.fp, ranked.value,",
        "select ranked.event_id, ranked.version,",
        1,
    ),
    "dedup_metrics_events": f"""
        with cl as ({_NDF_SQL_BASE})
        select version,
               count(*) as n_chunks,
               cast(sum(case when result = 'UNIQUE' then 1 else 0 end) as bigint) as n_unique,
               cast(sum(case when result = 'INTERNAL' then 1 else 0 end) as bigint) as n_internal,
               cast(sum(case when result = 'ADJACENT' then 1 else 0 end) as bigint) as n_adjacent,
               round(sum(value), 3) as total_value,
               round(sum(case when result = 'UNIQUE' then value else 0 end), 3)
                 as unique_value
        from cl group by version
    """,
    "category_assignment_events": f"""
        with ev as (
          select distinct dayofyear(ts) as version, {md5_long_sql('props')} as fp
          from events
        ),
        first as (select fp, min(version) as first_version from ev group by 1)
        select ev.fp, ev.version, first.first_version,
               cast(ev.version * (ev.version - 1) / 2 + first.first_version as bigint)
                 as category_id
        from ev join first on ev.fp = first.fp
    """,
    "avar_split_events": f"""
        with ev as (
          select distinct dayofyear(ts) as version, {md5_long_sql('props')} as fp
          from events
        ),
        vmax as (select max(version) as m from ev),
        prev as (select fp from ev, vmax where version = m - 1),
        curr as (select fp from ev, vmax where version = m)
        select fp, 'active' as state from prev where fp in (select fp from curr)
        union all
        select fp, 'archived' as state from prev where fp not in (select fp from curr)
    """,
    "volume_offsets_events": f"""
        with ev as (
          select distinct dayofyear(ts) as version, {md5_long_sql('props')} as fp
          from events
        ),
        first as (select fp, min(version) as first_version from ev group by 1)
        select ev.version,
               cast(ev.version * (ev.version - 1) / 2 + first.first_version as bigint)
                 as category_id,
               count(*) as n_chunks
        from ev join first on ev.fp = first.fp
        group by 1, 2
    """,
    "topk_hot_fps_events": f"""
        select {md5_long_sql('props')} as fp, count(*) as n
        from events group by 1 order by n desc, fp limit 10
    """,
    "restore_prefix_sum": """
        with agg as (
          select l_orderkey, l_linenumber, sum(l_quantity) as q
          from lineitem group by 1, 2
        )
        select l_orderkey, l_linenumber,
               cast(coalesce(sum(q) over (
                 partition by l_orderkey order by l_linenumber
                 rows between unbounded preceding and 1 preceding), 0) as bigint)
                 as "offset"
        from agg
    """,
    "restore_join_chunks": """
        select l_orderkey, l_linenumber, p_name
        from lineitem join part on l_partkey = p_partkey
    """,
    "semi_anti_orders": """
        select o_orderkey,
               case when exists (select 1 from customer
                                 where c_custkey = o_custkey and c_acctbal > 5000)
                    then 'MATCHED' else 'NEW' end as state
        from orders
    """,
    "token_stats_docs": f"""
        select doc_id,
               len(string_split(text, ' ')) as n_ws_tokens,
               len(regexp_extract_all(text, '{textops.TOKEN_REGEX}')) as n_re_tokens,
               length(text) as n_chars_computed
        from documents
    """,
    "quality_scores_docs": """
        select doc_id,
               length(text) as n_chars_q,
               len(string_split(text, ' ')) as n_tokens,
               cast(floor(100 * length(replace(text, ' ', '')) / len(string_split(text, ' ')))
                    as bigint) as mean_token_len_x100,
               cast(floor((length(text) - length(replace(text, ' the ', ''))) / 5) as bigint)
             + cast(floor((length(text) - length(replace(text, ' and ', ''))) / 5) as bigint)
             + cast(floor((length(text) - length(replace(text, ' de ', ''))) / 4) as bigint)
             + cast(floor((length(text) - length(replace(text, ' la ', ''))) / 4) as bigint)
                 as stopword_hits,
               len(regexp_extract_all(text, '[0-9]')) as n_digits
        from documents
    """,
    "fingerprint_docs": f"""
        select doc_id,
               list_reduce(
                 list_prepend(cast(0 as bigint), {gram_hashes_sql('text')}),
                 (acc, h) -> (acc * 31 + h) % {P}) as fingerprint
        from documents
    """,
    "ann_cosine_topk": """
        with q as (select vec_id as query_id, embedding as qe
                   from embeddings where vec_id < 10),
        scored as (
          select q.query_id, e.vec_id as neighbor_id,
            round(
              list_reduce(list_prepend(cast(0 as double),
                list_transform(range(1, 65),
                  i -> cast(q.qe[i] as double) * cast(e.embedding[i] as double))),
                (a, b) -> a + b)
              / (sqrt(list_reduce(list_prepend(cast(0 as double),
                   list_transform(range(1, 65),
                     i -> cast(q.qe[i] as double) * cast(q.qe[i] as double))),
                   (a, b) -> a + b))
                 * sqrt(list_reduce(list_prepend(cast(0 as double),
                     list_transform(range(1, 65),
                       i -> cast(e.embedding[i] as double) * cast(e.embedding[i] as double))),
                     (a, b) -> a + b))),
              6) as cosine
          from q join embeddings e on e.vec_id != q.query_id
        )
        select query_id, neighbor_id, rank, cosine from (
          select query_id, neighbor_id, cosine,
                 row_number() over (partition by query_id
                                    order by cosine desc, neighbor_id) as rank
          from scored
        ) where rank <= 5
    """,
    "simhash_band_pairs_docs": None,  # filled below (needs simhash CTE)
    "caption_substring_docs": f"""
        with grams as (
          select doc_id, text, unnest(list_distinct({gram_hashes_sql('text')})) as g
          from documents
        ),
        cand as (
          select distinct a.doc_id as doc_id_a, a.text as text_a,
                          b.doc_id as doc_id_b, b.text as text_b
          from grams a join grams b on a.g = b.g and a.doc_id < b.doc_id
        )
        select doc_id_a, doc_id_b from cand
        where text_a != text_b
          and (contains(text_b, text_a) or contains(text_a, text_b))
    """,
    "embedding_norm_hist": """
        select cast(floor(list_reduce(list_prepend(cast(0 as double),
                 list_transform(range(1, 65),
                   i -> cast(embedding[i] as double) * cast(embedding[i] as double))),
                 (a, b) -> a + b)) as bigint) as bucket,
               count(*) as n
        from embeddings group by 1
    """,
    "events_hourly": """
        select cast(epoch(date_trunc('hour', ts)) as bigint) as hour_epoch,
               event_type,
               count(*) as n,
               round(sum(value), 3) as sum_value
        from events group by 1, 2
    """,
    "distinct_union_sort": """
        select distinct source as tag from documents
        union
        select distinct event_type as tag from events
        order by tag
    """,
}

def _simhash_pairs_sql() -> str:
    sim_cte = textops.doc_simhash_sql().strip()
    # reuse the simhash select as a CTE body
    return f"""
        with sim as ({sim_cte}),
        bands as (
          select doc_id, simhash, b.band,
                 (simhash >> (b.band * 15)) & 32767 as bucket
          from sim, (select unnest(range(4)) as band) b
        )
        select distinct a.doc_id as doc_id_a, b.doc_id as doc_id_b,
               bit_count(xor(a.simhash, b.simhash)) as hamming
        from bands a join bands b
          on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
        where bit_count(xor(a.simhash, b.simhash)) <= 8
    """


def _ann_sql() -> str:
    from mfdedup_spark import annops

    bsql = annops.srp_bucket_sql("embedding")
    cos = annops.cosine_sql("q.qe", "e.embedding")
    return f"""
        with wb as (select vec_id, embedding, {bsql} as bucket from embeddings),
        q as (select vec_id as query_id, embedding as qe, bucket
              from wb where vec_id < 10),
        scored as (
          select q.query_id, e.vec_id as neighbor_id,
                 round({cos}, 6) as cosine
          from q join wb e on e.bucket = q.bucket and e.vec_id != q.query_id
        )
        select query_id, neighbor_id, rank, cosine from (
          select query_id, neighbor_id, cosine,
                 row_number() over (partition by query_id
                                    order by cosine desc, neighbor_id) as rank
          from scored
        ) where rank <= 5
    """


def _embedding_neardup_sql() -> str:
    from mfdedup_spark import annops

    bsql = annops.srp_bucket_sql("embedding")
    cos = annops.cosine_sql("a.ea", "b.eb")
    return f"""
        with wb as (select vec_id, embedding, {bsql} as bucket from embeddings),
        a as (select bucket, vec_id as vec_id_a, embedding as ea from wb),
        b as (select bucket, vec_id as vec_id_b, embedding as eb from wb)
        select vec_id_a, vec_id_b, round({cos}, 6) as cosine
        from a join b on a.bucket = b.bucket and vec_id_a < vec_id_b
        where round({cos}, 6) >= 0.4
    """


def _srp_hist_sql() -> str:
    from mfdedup_spark import annops

    return (
        f"select {annops.srp_bucket_sql('embedding')} as bucket, count(*) as n "
        "from embeddings group by 1"
    )


def _ivf_cte() -> str:
    from mfdedup_spark import annops

    named, pick = annops.ivf_assign_sql("embedding")
    return (
        f"with dots as (select vec_id, embedding, {named} from embeddings), "
        f"wl as (select vec_id, embedding, cast({pick} as int) as list_id from dots)"
    )


def _ivf_lists_sql() -> str:
    return _ivf_cte() + " select list_id, count(*) as n from wl group by 1"


def _ann_ivf_sql() -> str:
    from mfdedup_spark import annops

    cos = annops.cosine_sql("q.qe", "e.embedding")
    return _ivf_cte() + f""",
        q as (select vec_id as query_id, embedding as qe, list_id
              from wl where vec_id < 10),
        scored as (
          select q.query_id, e.vec_id as neighbor_id, round({cos}, 6) as cosine
          from q join wl e on e.list_id = q.list_id and e.vec_id != q.query_id
        )
        select query_id, neighbor_id, rank, cosine from (
          select query_id, neighbor_id, cosine,
                 row_number() over (partition by query_id
                                    order by cosine desc, neighbor_id) as rank
          from scored
        ) where rank <= 5
    """


def _lsh_pairs_capped_sql() -> str:
    from mfdedup_spark.textops import DOC_PAIR_CAP

    return (
        _bands_cte()
        + ","
        + _capped_star_sql("bands", "band, bucket", "doc_id", DOC_PAIR_CAP)
        + "select doc_id_a, doc_id_b from cpairs"
    )


def _ngram_jaccard_capped_sql() -> str:
    """Capped anchor-star candidates + exact Jaccard verification — the
    oracle replays the cap exactly (the proven capped-oracle pattern)."""
    from mfdedup_spark.textops import DOC_PAIR_CAP

    return (
        _bands_cte()
        + ","
        + _capped_star_sql("bands", "band, bucket", "doc_id", DOC_PAIR_CAP)
        + f""",
        grams as (
          select doc_id, unnest(list_distinct({gram_hashes_sql('text')})) as g
          from documents
        ),
        sizes as (select doc_id, count(*) as n from grams group by 1),
        inter as (
          select p.doc_id_a, p.doc_id_b, count(*) as n_common
          from cpairs p
          join grams ga on ga.doc_id = p.doc_id_a
          join grams gb on gb.doc_id = p.doc_id_b and gb.g = ga.g
          group by 1, 2
        )
        select i.doc_id_a, i.doc_id_b, i.n_common,
               round(i.n_common / (na.n + nb.n - i.n_common), 6) as jaccard
        from inter i
        join sizes na on na.doc_id = i.doc_id_a
        join sizes nb on nb.doc_id = i.doc_id_b
        where round(i.n_common / (na.n + nb.n - i.n_common), 6) >= 0.2
    """
    )


def _simhash_pairs_capped_sql() -> str:
    from mfdedup_spark.textops import DOC_PAIR_CAP

    sim_cte = textops.doc_simhash_sql().strip()
    return f"""
        with sim as ({sim_cte}),
        bands as (
          select doc_id, b.band, (simhash >> (b.band * 15)) & 32767 as bucket
          from sim, (select unnest(range(4)) as band) b
        ),
        {_capped_star_sql("bands", "band, bucket", "doc_id", DOC_PAIR_CAP)}
        select p.doc_id_a, p.doc_id_b,
               bit_count(xor(a.simhash, b.simhash)) as hamming
        from cpairs p
        join sim a on a.doc_id = p.doc_id_a
        join sim b on b.doc_id = p.doc_id_b
        where bit_count(xor(a.simhash, b.simhash)) <= 8
    """


def _caption_capped_sql() -> str:
    from mfdedup_spark.textops import DOC_PAIR_CAP

    return f"""
        with grams as (
          select doc_id, unnest(list_distinct({gram_hashes_sql('text')})) as g
          from documents
        ),
        {_capped_star_sql("grams", "g", "doc_id", DOC_PAIR_CAP)}
        select p.doc_id_a, p.doc_id_b
        from cpairs p
        join documents a on a.doc_id = p.doc_id_a
        join documents b on b.doc_id = p.doc_id_b
        where a.text != b.text
          and (contains(b.text, a.text) or contains(a.text, b.text))
    """


def _embedding_neardup_capped_sql(
    n_planes: int | None = None, threshold: float = 0.2
) -> str:
    from mfdedup_spark import annops

    bsql = (
        annops.srp_bucket_sql("embedding")
        if n_planes is None
        else annops.srp_bucket_sql("embedding", n_planes)
    )
    cos = annops.cosine_sql("a.embedding", "b.embedding")
    return f"""
        with wb as (select vec_id, {bsql} as bucket from embeddings),
        {_capped_star_sql("wb", "bucket", "vec_id", 4)}
        select p.vec_id_a, p.vec_id_b, round({cos}, 6) as cosine
        from cpairs p
        join embeddings a on a.vec_id = p.vec_id_a
        join embeddings b on b.vec_id = p.vec_id_b
        where round({cos}, 6) >= {threshold}
    """


def _ivf_trained_cte(k: int = 16) -> str:
    """CTE chain computing the SAME integer k-means the Spark side trains
    (annops.ivf_train: md5-ranked seeds, one Lloyd round over quantized
    vectors, floor-mean centroids, empty lists keep their seed): ends with
    ``lists(vec_id, list_id)`` and ``cent2(sid, cv)``. All arithmetic is
    int64 (sums < 2^53, so the division is exact in both engines)."""
    from mfdedup_spark import annops

    qz = annops.quantize_sql("embedding")
    h = "('0x'||substr(md5(cast(vec_id as varchar)),1,15))::bigint"
    sqd = (
        "list_reduce(list_prepend(cast(0 as bigint), "
        "list_transform(range(1, 65), "
        "i -> (q.qv[i] - {c}[i]) * (q.qv[i] - {c}[i]))), (a, b) -> a + b)"
    )
    return f"""
with q as (select vec_id, {qz} as qv from embeddings),
seeds as (
  select row_number() over (order by {h}, vec_id) - 1 as sid, qv
  from (select vec_id, qv from q order by {h}, vec_id limit {k})
),
d1 as (
  select q.vec_id, q.qv, s.sid, {sqd.format(c='s.qv')} as dist
  from q cross join seeds s
),
a1 as (
  select vec_id, qv, sid from (
    select vec_id, qv, sid,
           row_number() over (partition by vec_id order by dist, sid) as rn
    from d1
  ) where rn = 1
),
means as (
  select sid, r.range as j,
         cast(floor(sum(qv[r.range]) * 1.0 / count(*)) as bigint) as c
  from a1 cross join range(1, 65) r
  group by sid, r.range
),
cent as (select sid, list(c order by j) as cv from means group by sid),
cent2 as (
  select s.sid, coalesce(c.cv, s.qv) as cv
  from seeds s left join cent c on c.sid = s.sid
),
d2 as (
  select q.vec_id, c.sid, {sqd.format(c='c.cv')} as dist
  from q cross join cent2 c
),
lists as (
  select vec_id, sid as list_id from (
    select vec_id, sid,
           row_number() over (partition by vec_id order by dist, sid) as rn
    from d2
  ) where rn = 1
)
"""


def _ivf_lists_trained_sql() -> str:
    return (
        _ivf_trained_cte()
        + " select cast(list_id as int) as list_id, count(*) as n"
        " from lists group by 1"
    )


def _ann_ivf_trained_sql(nprobe: int = 2) -> str:
    from mfdedup_spark import annops

    cos = annops.cosine_sql("p.qe", "e.embedding")
    return _ivf_trained_cte() + f""",
qd as (
  select q2.vec_id as query_id, c.sid,
         {("list_reduce(list_prepend(cast(0 as bigint), "
           "list_transform(range(1, 65), "
           "i -> (q2.qv[i] - c.cv[i]) * (q2.qv[i] - c.cv[i]))), (a, b) -> a + b)")} as dist
  from (select vec_id, qv from q where vec_id < 10) q2 cross join cent2 c
),
probes as (
  select query_id, sid as list_id from (
    select query_id, sid,
           row_number() over (partition by query_id order by dist, sid) as rn
    from qd
  ) where rn <= {nprobe}
),
pq as (
  select p.query_id, p.list_id, e.embedding as qe
  from probes p join embeddings e on e.vec_id = p.query_id
),
scored as (
  select p.query_id, l.vec_id as neighbor_id, round({cos}, 6) as cosine
  from pq p
  join lists l on l.list_id = p.list_id and l.vec_id != p.query_id
  join embeddings e on e.vec_id = l.vec_id
)
select query_id, neighbor_id, rank, cosine from (
  select query_id, neighbor_id, cosine,
         row_number() over (partition by query_id
                            order by cosine desc, neighbor_id) as rank
  from scored
) where rank <= 5
"""


def _ann_multiprobe_sql() -> str:
    from mfdedup_spark import annops

    bsql = annops.srp_bucket_sql("embedding")
    cos = annops.cosine_sql("p.qe", "e.embedding")
    flips = ", ".join(f"xor(bucket, {1 << i})" for i in range(annops.N_PLANES))
    return f"""
        with wb as (select vec_id, embedding, {bsql} as bucket from embeddings),
        q as (select vec_id as query_id, embedding as qe, bucket
              from wb where vec_id < 10),
        probes as (
          select query_id, qe, unnest([bucket, {flips}]) as bucket from q
        ),
        scored as (
          select p.query_id, e.vec_id as neighbor_id, round({cos}, 6) as cosine
          from probes p
          join wb e on e.bucket = p.bucket and e.vec_id != p.query_id
        )
        select query_id, neighbor_id, rank, cosine from (
          select query_id, neighbor_id, cosine,
                 row_number() over (partition by query_id
                                    order by cosine desc, neighbor_id) as rank
          from scored
        ) where rank <= 5
    """


ORACLE_SQL["cdc_chunking_docs"] = textops.doc_cdc_chunks_sql()
ORACLE_SQL["fixed_chunking_docs"] = textops.doc_fixed_chunks_sql()
ORACLE_SQL["ivf_lists_trained"] = _ivf_lists_trained_sql()
ORACLE_SQL["ann_ivf_topk_trained"] = _ann_ivf_trained_sql()
ORACLE_SQL["ann_lsh_topk_multiprobe"] = _ann_multiprobe_sql()
ORACLE_SQL["lsh_pairs_docs_capped"] = _lsh_pairs_capped_sql()
ORACLE_SQL["ngram_jaccard_docs_capped"] = _ngram_jaccard_capped_sql()
# the stateful streaming classifier must equal the batch NDF semantics
# exactly, so it shares the batch twin's oracle verbatim
ORACLE_SQL["streaming_ndf_classify"] = ORACLE_SQL["ndf_classification_events"]
ORACLE_SQL["simhash_pairs_docs_capped"] = _simhash_pairs_capped_sql()
ORACLE_SQL["caption_substring_docs_capped"] = _caption_capped_sql()
ORACLE_SQL["embedding_neardup_planes12"] = _embedding_neardup_capped_sql(
    n_planes=12, threshold=0.1
)
ORACLE_SQL["embedding_neardup_capped"] = _embedding_neardup_capped_sql()
ORACLE_SQL["ivf_lists"] = _ivf_lists_sql()
ORACLE_SQL["ann_ivf_topk"] = _ann_ivf_sql()
ORACLE_SQL["simhash_docs"] = textops.doc_simhash_sql()
ORACLE_SQL["simhash_band_pairs_docs"] = _simhash_pairs_sql()
ORACLE_SQL["srp_bucket_hist"] = _srp_hist_sql()
ORACLE_SQL["ann_lsh_topk"] = _ann_sql()
ORACLE_SQL["embedding_neardup"] = _embedding_neardup_sql()


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "simhash_docs": q_simhash_docs,
    "simhash_band_pairs_docs": q_simhash_band_pairs_docs,
    "caption_substring_docs": q_caption_substring_docs,
    "srp_bucket_hist": q_srp_bucket_hist,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ivf_lists": q_ivf_lists,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ivf_lists_trained": q_ivf_lists_trained,
    "ann_ivf_topk_trained": q_ann_ivf_topk_trained,
    "ann_lsh_topk_multiprobe": q_ann_lsh_topk_multiprobe,
    "embedding_neardup": q_embedding_neardup,
    "exact_dedup_docs": q_exact_dedup_docs,
    "minhash_bands_docs": q_minhash_bands_docs,
    "lsh_pairs_docs": q_lsh_pairs_docs,
    "lsh_pairs_docs_capped": q_lsh_pairs_docs_capped,
    "simhash_pairs_docs_capped": q_simhash_pairs_docs_capped,
    "caption_substring_docs_capped": q_caption_substring_docs_capped,
    "embedding_neardup_capped": q_embedding_neardup_capped,
    "embedding_neardup_planes12": q_embedding_neardup_planes12,
    "ngram_jaccard_docs": q_ngram_jaccard_docs,
    "ngram_jaccard_docs_capped": q_ngram_jaccard_docs_capped,
    "ndf_classification_events": q_ndf_classification_events,
    "streaming_ndf_classify": q_streaming_ndf_classify,
    "dedup_metrics_events": q_dedup_metrics_events,
    "category_assignment_events": q_category_assignment_events,
    "avar_split_events": q_avar_split_events,
    "volume_offsets_events": q_volume_offsets_events,
    "topk_hot_fps_events": q_topk_hot_fps_events,
    "restore_prefix_sum": q_restore_prefix_sum,
    "restore_join_chunks": q_restore_join_chunks,
    "semi_anti_orders": q_semi_anti_orders,
    "cdc_chunking_docs": q_cdc_chunking_docs,
    "fixed_chunking_docs": q_fixed_chunking_docs,
    "token_stats_docs": q_token_stats_docs,
    "quality_scores_docs": q_quality_scores_docs,
    "lang_id_docs": q_lang_id_docs,
    "fingerprint_docs": q_fingerprint_docs,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_norm_hist": q_embedding_norm_hist,
    "events_hourly": q_events_hourly,
    "distinct_union_sort": q_distinct_union_sort,
}


def lang_id_sql() -> str:
    """Generated SQL twin of textops.doc_lang_id (argmax with alphabetical
    tie-break over marker-word occurrence scores)."""
    def occ(w: str) -> str:
        padded = "concat(' ', text, ' ')"
        return (
            f"cast((length({padded}) - length(replace({padded}, ' {w} ', '')))"
            f" / {len(w) + 2} as bigint)"
        )

    scores = {
        lang: " + ".join(occ(w) for w in textops.LANG_MARKERS[lang])
        for lang in sorted(textops.LANG_MARKERS)
    }
    score_cols = ", ".join(f"{e} as score_{lang}" for lang, e in scores.items())
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in sorted(scores)) + ")"
    guess = "coalesce(" + ", ".join(
        f"case when score_{lang} = {best} then '{lang}' end"
        for lang in sorted(scores)
    ) + ")"
    return f"""
        with scored as (select doc_id, {score_cols} from documents)
        select doc_id, {guess} as lang_guess from scored
    """


ORACLE_SQL["lang_id_docs"] = lang_id_sql()


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: text near-dup clustering over documents — the same
    pipeline shape as the image engine (signatures → LSH → pairs →
    connected components → clusters)."""
    from mfdedup_spark.operators.connected_components import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = textops.doc_lsh_pairs(docs).select(
        F.col("doc_id_a").cast("string").alias("image_id_a"),
        F.col("doc_id_b").cast("string").alias("image_id_b"),
    )
    vertices = docs.select(F.col("doc_id").cast("string").alias("image_id"))
    cl = connected_components(pairs, vertices)
    return cl.select(
        F.col("image_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
