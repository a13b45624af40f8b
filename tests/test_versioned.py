"""Versioned NDF ingest + AVAR arrangement + restore + retention parity
(SURVEY.md §5 items 2-5): engine vs the numpy reference oracle across a
3-version mutated backup series, restore-correctness per input_hint
(decoded-pixel PSNR ≥ 40 dB + caption equality), metadata-only GC, and
resume idempotency."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mfdedup_spark import oracle
from mfdedup_spark.config import EngineConfig
from mfdedup_spark.core import codecs
from mfdedup_spark.fixtures import generate_versioned, write_parquet
from mfdedup_spark.plans.ingest import ingest_series, ingest_version
from mfdedup_spark.plans.pipeline import dedup_images
from mfdedup_spark.plans.restore import restore_version
from mfdedup_spark.plans.retention import apply_retention
from mfdedup_spark.store import DedupStore

CFG = EngineConfig()


@pytest.fixture(scope="module")
def series(tmp_path_factory):
    df = generate_versioned(n_images=80, versions=3, seed=42)
    p = tmp_path_factory.mktemp("series") / "images.parquet"
    write_parquet(df, str(p))
    return str(p), df


@pytest.fixture(scope="module")
def ingested(spark, series, tmp_path_factory):
    path, pdf = series
    wh = str(tmp_path_factory.mktemp("warehouse"))
    store = DedupStore(spark, wh)
    images = spark.read.parquet(path)
    results = ingest_series(store, images, CFG, apply_arrangement=True, retention=False)
    return store, pdf, results


def test_classification_parity(ingested):
    store, pdf, _ = ingested
    want = oracle.classify_versions(pdf)
    got = (
        store.read_table("classification")
        .select("image_id", "version", "result")
        .toPandas()
        .sort_values(["version", "image_id"])
        .reset_index(drop=True)
    )
    w = (
        want[["image_id", "version", "result"]]
        .sort_values(["version", "image_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, w, check_dtype=False)


def test_metrics_parity(ingested):
    store, pdf, _ = ingested
    want = oracle.metrics(pdf, oracle.classify_versions(pdf))
    got = store.read_table("metrics").toPandas().sort_values("version")
    for _, wrow in want.iterrows():
        grow = got[got["version"] == wrow["version"]].iloc[0]
        assert grow["total_len"] == wrow["total_len"]
        assert grow["unique_len"] == wrow["unique_len"]
        assert grow["n_unique"] == wrow["n_unique"]
        assert grow["n_internal"] == wrow["n_internal"]
        assert grow["n_adjacent"] == wrow["n_adjacent"]
        assert abs(grow["dedup_ratio"] - wrow["dedup_ratio"]) < 1e-9


def test_category_layout(ingested):
    store, pdf, _ = ingested
    # after arranging up to v=3, live categories are (x=3, y∈1..3):
    # serials 3·2/2+y = 4,5,6 (README.md:51-57)
    cats = store.list_partitions("chunk_store", "category")
    assert cats == [4, 5, 6]
    # archived volumes exist for versions 1 and 2
    assert store.list_partitions("archived", "archive_version") == [1, 2]


def test_avar_split_parity(ingested):
    store, pdf, _ = ingested
    cl = oracle.classify_versions(pdf)
    active, archived = oracle.avar_split(cl, 3)
    # engine: fps in volume 2 == oracle archived set (dead at v=3)
    vol2 = store.read_partitions("archived", "archive_version", [2])
    got_arch = {r["fp"] for r in vol2.select("fp").distinct().collect()}
    # oracle archived = fps of v2 not in v3; volume 2 holds exactly those
    assert got_arch == archived


def test_restore_correctness(ingested):
    """input_hint invariant: every restored row decodes within PSNR ≥ 40dB
    of the original (exact for lossless) + caption equality."""
    store, pdf, _ = ingested
    for v in (1, 2, 3):
        restored, stats = restore_version(store, v)
        got = restored.toPandas().set_index("image_id")
        orig = pdf[pdf["version"] == v].set_index("image_id")
        assert stats["rows"] == len(orig), (v, stats)
        assert stats["rows"] == stats["recipe_rows"]
        for iid, row in orig.iterrows():
            g = got.loc[iid]
            assert g["caption"] == row["caption"], iid
            opx = codecs.decode(row["bytes"], int(row["w"]), int(row["h"]), row["fmt"])
            gpx = codecs.decode(bytes(g["bytes"]), int(g["w"]), int(g["h"]), g["fmt"])
            assert codecs.psnr(opx, gpx) >= 40.0, iid
        # recipe order preserved + prefix-sum offsets consistent
        seq = got.sort_values("seq_no")
        lens = seq["bytes"].map(len).to_numpy()
        offs = seq["offset"].to_numpy()
        assert offs[0] == 0
        assert np.array_equal(offs[1:], np.cumsum(lens)[:-1])


def test_read_amplification_after_arrangement(ingested):
    """Fully-arranged restore of the latest version reads ≈ only live
    bytes (RestoreParserPipeline.h:86 target ≈ 1)."""
    store, pdf, _ = ingested
    _, stats = restore_version(store, 3)
    assert stats["read_amplification"] <= 1.05


def test_resume_idempotent(spark, series, tmp_path_factory):
    """Kill-and-rerun: re-ingesting an already-committed version is a
    skip; rerunning after a simulated partial failure (manifest rolled
    back) rewrites identical partitions."""
    path, pdf = series
    wh = str(tmp_path_factory.mktemp("warehouse_resume"))
    store = DedupStore(spark, wh)
    images = spark.read.parquet(path)
    v1 = images.where("version = 1")
    r1 = ingest_version(store, v1, CFG)
    assert not r1["skipped"]
    r1b = ingest_version(store, v1, CFG)
    assert r1b["skipped"]
    before = store.read_table("recipes").toPandas().sort_values("seq_no")
    # simulate crash-before-commit: roll manifest back, re-run
    store.write_manifest({"total_version": 0, "arrangement_fall_behind": 0})
    ingest_version(store, v1, CFG)
    after = store.read_table("recipes").toPandas().sort_values("seq_no")
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True)
    )


def test_retention_metadata_only(spark, series, tmp_path_factory):
    path, pdf = series
    wh = str(tmp_path_factory.mktemp("warehouse_gc"))
    store = DedupStore(spark, wh)
    images = spark.read.parquet(path)
    ingest_series(store, images, CFG, apply_arrangement=True, retention=False)

    # record chunk payload mtimes → GC must not rewrite any data file
    data_files = {}
    for root, _, files in os.walk(store.path("chunk_store")):
        for f in files:
            p = os.path.join(root, f)
            data_files[p] = os.path.getmtime(p)

    res = apply_retention(store, retention=2)
    assert res["oldest_version"] == 2
    assert any("recipes/version=1" in d for d in res["dropped"])
    assert any("archived/archive_version=1" in d for d in res["dropped"])
    for p, mt in data_files.items():
        if os.path.exists(p):
            assert os.path.getmtime(p) == mt  # untouched

    # retained versions still restore byte-identically
    for v in (2, 3):
        restored, stats = restore_version(store, v)
        assert stats["rows"] == len(pdf[pdf["version"] == v])
    with pytest.raises(AssertionError):
        restore_version(store, 1)


def test_fall_behind_then_catchup(spark, series, tmp_path_factory):
    """Skip arrangement (--ApplyArrangement=false analogue): restore still
    correct; a later arranged ingest catches up (main.cpp:158-168)."""
    path, pdf = series
    wh = str(tmp_path_factory.mktemp("warehouse_fb"))
    store = DedupStore(spark, wh)
    images = spark.read.parquet(path)
    ingest_version(store, images.where("version=1"), CFG, apply_arrangement=False)
    ingest_version(store, images.where("version=2"), CFG, apply_arrangement=False)
    assert store.read_manifest()["arrangement_fall_behind"] == 1
    # restore v2 with zero arrangement done
    restored, stats = restore_version(store, 2)
    assert stats["rows"] == len(pdf[pdf["version"] == 2])
    # catch-up: v3 ingests WITH arrangement; migrates the backlog
    ingest_version(store, images.where("version=3"), CFG, apply_arrangement=True)
    assert store.read_manifest()["arrangement_fall_behind"] == 0
    for v in (1, 2, 3):
        restored, stats = restore_version(store, v)
        assert stats["rows"] == len(pdf[pdf["version"] == v])


def test_restore_per_copy_caption(spark, tmp_path_factory):
    """Two records with IDENTICAL bytes but DIFFERENT captions: payload is
    deduplicated by fp, but restore must return each record's OWN caption
    (recipes carry per-copy metadata — ADVICE r01 medium)."""
    pdf = generate_versioned(n_images=8, versions=1, seed=9)
    base = pdf.iloc[0]
    twin = base.copy()
    twin["image_id"] = "caption-twin"
    twin["caption"] = base["caption"] + " but annotated differently"
    twin["seq_no"] = int(pdf["seq_no"].max()) + 1
    pdf = pd.concat([pdf, twin.to_frame().T], ignore_index=True)
    p = tmp_path_factory.mktemp("twin") / "images.parquet"
    write_parquet(pdf, str(p))

    store = DedupStore(spark, str(tmp_path_factory.mktemp("wh_twin")))
    ingest_version(store, spark.read.parquet(str(p)), CFG)
    restored, stats = restore_version(store, 1)
    got = restored.toPandas().set_index("image_id")
    assert got.loc["caption-twin", "caption"] == twin["caption"]
    assert got.loc[base["image_id"], "caption"] == base["caption"]
    assert bytes(got.loc["caption-twin", "bytes"]) == bytes(base["bytes"])
    # payload stored once: the twin classified INTERNAL, not UNIQUE
    cl = store.read_table("classification").toPandas().set_index("image_id")
    assert cl.loc["caption-twin", "result"] == "INTERNAL"


def test_restore_pool_fp_unique(ingested):
    """The store invariant that lets restore skip dropDuplicates(fp):
    after pruning (first_version <= v, archive_version >= v) every fp
    appears exactly once in the pool."""
    from mfdedup_spark.plans.restore import chunk_pool

    store, pdf, _ = ingested
    for v in (1, 2, 3):
        pool, _, _, _ = chunk_pool(store, v)
        assert pool.count() == pool.select("fp").distinct().count(), v


def test_recipe_offsets_two_phase(spark):
    """The sharded prefix sum equals the sequential one across shard
    boundaries (scale-safe replacement for the round-1 global window)."""
    from mfdedup_spark.plans.restore import recipe_offsets

    lens = [(i, (i * 37) % 11 + 1) for i in range(1000)]
    df = spark.createDataFrame(lens, "seq_no long, length long")
    got = {
        r["seq_no"]: r["offset"]
        for r in recipe_offsets(df, shard_rows=64).collect()
    }
    acc = 0
    for i, ln in lens:
        assert got[i] == acc, i
        acc += ln


def test_arrange_constant_jobs(spark, tmp_path_factory):
    """arrange() runs O(1) Spark jobs regardless of how many categories
    are live (round-1 looped one write+count+agg per category)."""
    from mfdedup_spark.plans.ingest import arrange

    pdf = generate_versioned(n_images=40, versions=5, seed=11)
    p = tmp_path_factory.mktemp("fb5") / "images.parquet"
    write_parquet(pdf, str(p))
    store = DedupStore(spark, str(tmp_path_factory.mktemp("wh_fb5")))
    images = spark.read.parquet(str(p))
    for v in range(1, 6):
        ingest_version(
            store, images.where(F.col("version") == v), CFG,
            apply_arrangement=False,
        )
    sc = spark.sparkContext
    sc.setJobGroup("arrange-count", "arrange job-count test")
    try:
        arrange(store, 5)
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("arrange-count"))
    # 4 queries (write active + lineage agg + archived agg + archived
    # write), each fanning into a few AQE stage-jobs — a CONSTANT ~14
    # regardless of live-category count; the round-1 per-category loop ran
    # ~3 queries per category (4 cats here → ~26+ jobs, growing linearly)
    assert 0 < n_jobs <= 15, n_jobs
    # catch-up worked: all 4 old categories migrated in one pass
    assert store.list_partitions("chunk_store", "category") == [11, 12, 13, 14, 15]
    for v in range(1, 6):
        _, stats = restore_version(store, v)
        assert stats["rows"] == len(pdf[pdf["version"] == v])


def test_restore_empty_store(spark, tmp_path_factory):
    """Restore on a fresh/never-ingested warehouse fails with the clear
    not-restorable error at both gates (manifest and chunk pool), not a
    NoneType crash (ADVICE r02 / VERDICT r02 task 8)."""
    from mfdedup_spark.plans.restore import chunk_pool

    store = DedupStore(spark, str(tmp_path_factory.mktemp("wh_empty")))
    with pytest.raises(AssertionError, match="not restorable"):
        restore_version(store, 1)
    with pytest.raises(AssertionError, match="not restorable"):
        chunk_pool(store, 1)


def test_store_format_guard(spark, tmp_path_factory):
    """A manifest from an earlier on-disk generation (no per-copy recipe
    metadata) is refused with a clear reingest-required error instead of
    failing mid-plan on missing columns (ADVICE r02 low #3)."""
    import json as _json

    from mfdedup_spark.store import StoreFormatError

    wh = str(tmp_path_factory.mktemp("wh_fmt"))
    store = DedupStore(spark, wh)
    with open(os.path.join(wh, "manifest.json"), "w") as f:
        _json.dump({"total_version": 3, "arrangement_fall_behind": 0}, f)
    with pytest.raises(StoreFormatError, match="reingest required"):
        store.read_manifest()
    # round-trip through write_manifest stamps the current format
    store.write_manifest({"total_version": 3, "arrangement_fall_behind": 0})
    assert store.read_manifest()["total_version"] == 3


def test_restore_single_payload_pass(spark, ingested):
    """restore_version() itself runs only metadata jobs (recipe agg,
    fp-only anti-join coverage check, pool length agg) — the payload join
    materializes exactly once, when the caller acts on the returned
    DataFrame (VERDICT r02 wrong #2: the old count() assert was a second
    full pass over the chunk pool)."""
    store, pdf, _ = ingested
    sc = spark.sparkContext
    sc.setJobGroup("restore-plan", "restore job-count test")
    try:
        restored, stats = restore_version(store, 3)
    finally:
        sc.setJobGroup("", "")
    n_plan_jobs = len(sc.statusTracker().getJobIdsForGroup("restore-plan"))
    # three metadata actions fan into ~9 AQE sub-jobs (measured);
    # materializing the payload join adds ~5 more, so a second payload
    # pass inside restore_version would land at ~14 and blow this bound
    assert 0 < n_plan_jobs <= 11, n_plan_jobs
    assert restored.count() == stats["rows"]


class _ArrangeCrash(RuntimeError):
    """Injected kill inside the arrange migration window."""


@pytest.mark.parametrize("crash", ["before_archive", "before_drops", "mid_drops"])
def test_arrange_crash_resume(spark, series, tmp_path_factory, crash):
    """Kill arrange() at every point of its write-new/drop-old window
    (VERDICT r02 wrong #1), then re-run ingest_version — the documented
    resume story. The resumed store must keep the fp-uniqueness invariant
    restore relies on (no dropDuplicates on the payload pool) and restore
    every version byte-correct.

    Windows: after the new-category write but before the archive write;
    after the archive write but before any old-category drop; after the
    first of several drops (a partially-dropped source set, where the
    dead chunks of the dropped category survive only in the archive
    volume written by the crashed run)."""
    from mfdedup_spark.plans.restore import chunk_pool

    path, pdf = series
    wh = str(tmp_path_factory.mktemp(f"wh_crash_{crash}"))
    store = DedupStore(spark, wh)
    images = spark.read.parquet(path)
    ingest_version(store, images.where("version = 1"), CFG)
    ingest_version(store, images.where("version = 2"), CFG)

    orig_write, orig_drop = store.write_partition_staged, store.drop_partition
    if crash == "before_archive":
        def _write(df, table, key, value, sort_cols=None):
            if table == "archived":
                raise _ArrangeCrash()
            return orig_write(df, table, key, value, sort_cols=sort_cols)

        store.write_partition_staged = _write
    elif crash == "before_drops":
        def _drop(table, key, value):
            raise _ArrangeCrash()

        store.drop_partition = _drop
    else:  # mid_drops: first drop lands, second is the kill
        calls = {"n": 0}

        def _drop(table, key, value):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise _ArrangeCrash()
            return orig_drop(table, key, value)

        store.drop_partition = _drop

    with pytest.raises(_ArrangeCrash):
        ingest_version(store, images.where("version = 3"), CFG)
    # the manifest swap never ran: version 3 is uncommitted
    assert store.read_manifest()["total_version"] == 2

    store.write_partition_staged, store.drop_partition = orig_write, orig_drop
    res = ingest_version(store, images.where("version = 3"), CFG)
    assert not res["skipped"]

    for v in (1, 2, 3):
        pool, _, _, _ = chunk_pool(store, v)
        assert pool.count() == pool.select("fp").distinct().count(), (crash, v)
        restored, stats = restore_version(store, v)
        got = restored.toPandas().set_index("image_id")
        orig = pdf[pdf["version"] == v].set_index("image_id")
        assert stats["rows"] == len(orig), (crash, v, stats)
        for iid, row in orig.iterrows():
            assert bytes(got.loc[iid, "bytes"]) == bytes(row["bytes"]), (crash, iid)
            assert got.loc[iid, "caption"] == row["caption"], (crash, iid)
    # the resumed layout equals the crash-free one: only x=3 categories live
    assert store.list_partitions("chunk_store", "category") == [4, 5, 6]


def test_restore_ordered_mode(spark, ingested):
    """ordered=True (the opt-in for seek-less sequential sinks) returns
    rows globally sorted by seq_no with offsets monotone; the default
    unordered mode carries identical placement in the offset column
    (the reference's pwrite-at-offset model)."""
    store, pdf, _ = ingested
    restored, _ = restore_version(store, 3, ordered=True)
    rows = restored.select("seq_no", "offset").collect()
    seqs = [r["seq_no"] for r in rows]
    assert seqs == sorted(seqs)
    offs = [r["offset"] for r in rows]
    assert offs == sorted(offs)
    # unordered mode: same (seq_no → offset) placement map
    un, _ = restore_version(store, 3)
    assert {(r["seq_no"], r["offset"]) for r in un.select("seq_no", "offset").collect()} == set(
        map(tuple, rows)
    )


def test_retention_fall_behind_interaction(spark, tmp_path_factory):
    """VERDICT r03 task 5: retention drops volumes by archive_version
    assuming arrangement kept up — prove every retained version stays
    byte-restorable through expire → fall-behind → catch-up arrange →
    expire sequences, where dead chunks of expired versions sit in live
    categories until a catch-up migrates them into a LATE volume (the
    superset archive_version makes retained restores scan it, never miss
    it)."""
    pdf = generate_versioned(n_images=50, versions=6, seed=11)
    p = str(tmp_path_factory.mktemp("rfb") / "img.parquet")
    write_parquet(pdf, p)
    images = spark.read.parquet(p)
    wh = str(tmp_path_factory.mktemp("wh_rfb"))
    store = DedupStore(spark, wh)
    keep = 3

    def check_all():
        m = store.read_manifest()
        oldest = m.get("oldest_version", 1)
        for v in range(oldest, m["total_version"] + 1):
            restored, stats = restore_version(store, v)
            got = restored.toPandas().set_index("image_id")
            orig = pdf[pdf["version"] == v].set_index("image_id")
            assert stats["rows"] == len(orig), (v, stats)
            for iid, row in orig.iterrows():
                assert bytes(got.loc[iid, "bytes"]) == bytes(row["bytes"]), (v, iid)
        for v in range(1, oldest):
            with pytest.raises(AssertionError, match="not restorable"):
                restore_version(store, v)

    # arranged era: v1-v2 (volume 1 exists), then fall behind for v3-v4
    # while retention expires v1 — its dead chunks are still in live cats
    ingest_version(store, images.where("version=1"), CFG)
    ingest_version(store, images.where("version=2"), CFG)
    ingest_version(store, images.where("version=3"), CFG, apply_arrangement=False)
    ingest_version(store, images.where("version=4"), CFG, apply_arrangement=False)
    res = apply_retention(store, keep)
    assert res["oldest_version"] == 2  # v1 expired mid-fall-behind
    assert store.read_manifest()["arrangement_fall_behind"] == 2
    check_all()

    # catch-up arrange at v5 migrates the backlog (dead-at-5 chunks of
    # expired v1 land in volume 4 — late, harmless), then expire again
    ingest_version(store, images.where("version=5"), CFG)
    assert store.read_manifest()["arrangement_fall_behind"] == 0
    res = apply_retention(store, keep)
    assert res["oldest_version"] == 3
    check_all()

    # one more expire after another fall-behind step
    ingest_version(store, images.where("version=6"), CFG, apply_arrangement=False)
    res = apply_retention(store, keep)
    assert res["oldest_version"] == 4
    check_all()


def test_drop_log_persisted(spark, series, tmp_path_factory):
    """VERDICT r03 wrong #1: north_rule mandates capped buckets WITH
    logged drops — a versioned ingest run at a tiny cap over planted hot
    buckets must persist the overflow rows to the drop_log table (the
    cluster path used to discard bucket_stats entirely)."""
    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.fixtures import generate_images

    pdf, _ = generate_images(120, seed=21)  # plants hot-bucket adversaries
    pdf = pdf.copy()
    pdf["version"] = 1
    pdf["seq_no"] = range(len(pdf))
    p = str(tmp_path_factory.mktemp("droplog_in") / "img.parquet")
    write_parquet(pdf, p)
    wh = str(tmp_path_factory.mktemp("wh_droplog"))
    store = DedupStore(spark, wh)
    cfg = EngineConfig(signature=SignatureConfig(bucket_cap=4, salt_buckets=3))
    ingest_version(store, spark.read.parquet(p), cfg, with_clusters=True)

    log = store.read_partitions("drop_log", "version", [1])
    assert log is not None
    rows = log.collect()
    assert any(r["dropped"] > 0 for r in rows)  # hot buckets were logged
    for r in rows:
        assert r["members"] == r["kept"] + r["dropped"]
        assert r["kept"] == 4  # == cap on overflow rows
        assert r["space"] in ("mh", "sh", "caption")

    # the persisted log IS the pipeline's bucket_stats: same schema, same
    # rows as dedup_images over the same input at the same config
    want = dedup_images(spark.read.parquet(p), cfg.signature)
    got = log.drop("version")
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want["bucket_stats"].schema
    ]
    assert sorted(got.collect()) == sorted(want["bucket_stats"].collect())
    want["signatures"].unpersist()


def test_staged_swap_roll_forward(spark, series, tmp_path_factory):
    """The staged archive swap's own crash window (ADVICE r03 medium):
    a kill between the swap's rmtree(target) and rename(stage→target)
    leaves a complete ``.stage-`` dir and no target. A concurrent
    restore reads the stage IN PLACE without renaming (ADVICE r04: a
    reader-side rename could race a live arrange's own swap); only the
    writer-path recover rolls it forward. An INCOMPLETE stage (no
    _SUCCESS) must be ignored by readers and discarded by writers."""
    path, pdf = series
    wh = str(tmp_path_factory.mktemp("wh_stage"))
    store = DedupStore(spark, wh)
    images = spark.read.parquet(path)
    ingest_version(store, images.where("version = 1"), CFG)
    ingest_version(store, images.where("version = 2"), CFG)
    vol = os.path.join(wh, "archived", "archive_version=1")
    stage = os.path.join(wh, "archived", ".stage-archive_version=1")
    assert os.path.exists(vol)

    # simulate the mid-swap crash: complete stage, missing target
    os.rename(vol, stage)
    assert store.list_partitions("archived", "archive_version") == []
    assert store.list_stages("archived", "archive_version") == [1]
    restored, stats = restore_version(store, 1)  # reads the stage in place
    assert stats["rows"] == len(pdf[pdf["version"] == 1])
    # the reader mutated NOTHING: stage still pending, target still absent
    assert os.path.exists(stage) and not os.path.exists(vol)
    # writer-path recover (the next arrange) rolls it forward
    assert store.recover_partition_stage("archived", "archive_version", 1) is True
    assert os.path.exists(vol) and not os.path.exists(stage)
    _, stats = restore_version(store, 1)  # rolled-forward volume reads fine
    assert stats["rows"] == len(pdf[pdf["version"] == 1])

    # incomplete stage next to a live target: readers skip, writers drop
    os.makedirs(stage)
    open(os.path.join(stage, "part-junk.parquet"), "w").close()
    _, stats = restore_version(store, 1)  # non-destructive: leaves stage
    assert stats["rows"] == len(pdf[pdf["version"] == 1])
    assert os.path.exists(stage)
    assert store.recover_partition_stage("archived", "archive_version", 1) is False
    assert not os.path.exists(stage)  # writer-path recover discarded it


@pytest.mark.parametrize("crash", ["before_drops", "mid_drops"])
def test_restore_in_crash_window(spark, series, tmp_path_factory, crash):
    """ADVICE r03 high: restore of COMMITTED versions must be exact WHILE
    a crashed arrange awaits its resume — not only after it.

    before_drops: the uncommitted archived/archive_version=2 volume
    coexists with the not-yet-dropped source categories, so every fp dead
    at v=3 has TWO pool copies — the unfixed pool silently emitted
    duplicate restored rows (the old n_restored==n_recipe equality would
    have caught it; the left-anti coverage check cannot).

    mid_drops: one source category is already dropped, so live chunks of
    committed versions survive only in the partial x=3 categories and
    dead chunks only in the uncommitted volume — the unfixed pool raised
    missing-payloads (ADVICE r03 low #4's documented availability gap)."""
    path, pdf = series
    wh = str(tmp_path_factory.mktemp(f"wh_restwin_{crash}"))
    store = DedupStore(spark, wh)
    images = spark.read.parquet(path)
    ingest_version(store, images.where("version = 1"), CFG)
    ingest_version(store, images.where("version = 2"), CFG)

    orig_drop = store.drop_partition
    if crash == "before_drops":
        def _drop(table, key, value):
            raise _ArrangeCrash()
    else:  # mid_drops
        calls = {"n": 0}

        def _drop(table, key, value):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise _ArrangeCrash()
            return orig_drop(table, key, value)

    store.drop_partition = _drop
    with pytest.raises(_ArrangeCrash):
        ingest_version(store, images.where("version = 3"), CFG)
    store.drop_partition = orig_drop
    assert store.read_manifest()["total_version"] == 2

    # restore the committed versions IN the crash window, before resume
    for v in (1, 2):
        restored, stats = restore_version(store, v)
        got = restored.toPandas()
        orig = pdf[pdf["version"] == v]
        assert len(got) == len(orig), (crash, v, len(got), len(orig))
        assert stats["rows"] == len(orig), (crash, v, stats)
        got = got.set_index("image_id")
        assert not got.index.has_duplicates, (crash, v)
        for iid, row in orig.set_index("image_id").iterrows():
            assert bytes(got.loc[iid, "bytes"]) == bytes(row["bytes"]), (crash, iid)
            assert got.loc[iid, "caption"] == row["caption"], (crash, iid)
    # uncommitted version 3 stays non-restorable (manifest gate)
    with pytest.raises(AssertionError, match="not restorable"):
        restore_version(store, 3)


def test_ingest_with_clusters(spark, series, tmp_path_factory):
    """Clusters written per version match the oracle's per-version
    clustering (same signature config, union of LSH + caption pairs)."""
    path, pdf = series
    wh = str(tmp_path_factory.mktemp("warehouse_cl"))
    store = DedupStore(spark, wh)
    images = spark.read.parquet(path)
    from mfdedup_spark.plans.ingest import ingest_version
    ingest_version(store, images.where("version = 1"), CFG, with_clusters=True)
    got = (
        store.read_partitions("clusters", "version", [1])
        .select("image_id", "cluster_id")
        .toPandas()
    )
    v1 = pdf[pdf["version"] == 1]
    sigs = oracle.compute_signatures(v1, CFG.signature)
    cand = oracle.candidate_pairs(sigs, CFG.signature)
    pairs = oracle.verify_pairs(sigs, cand, CFG.signature)
    cpairs = oracle.caption_pairs(v1, CFG.signature)
    import pandas as _pd
    allp = _pd.concat([pairs, cpairs], ignore_index=True)
    want = oracle.connected_components(allp, v1["image_id"].tolist())
    assert dict(zip(got["image_id"], got["cluster_id"])) == want


def test_stage_stats_recorded(ingested):
    """Per-stage ingest durations persist (getStatistics analogue,
    main.cpp:151-155) and cover the pipeline stages for every version."""
    store, pdf, _ = ingested
    stats = store.read_stage_stats().toPandas()
    got = set(stats["stage"])
    assert {"signature_classify", "write_recipes", "write_chunks"} <= got
    assert set(stats["version"]) == {1, 2, 3}
    assert (stats["seconds"] >= 0).all()


def test_ingest_restore_with_gear_method(spark, tmp_path_factory):
    """--ChunkingMethod parity through the FULL engine: ingest + restore
    work unchanged under shingle_method='gear' (T2), and the NDF
    classification is method-independent (it keys on exact SHA-1)."""
    from mfdedup_spark.config import SignatureConfig

    cfg = EngineConfig(signature=SignatureConfig(shingle_method="gear"))
    pdf = generate_versioned(n_images=30, versions=2, seed=17)
    p = tmp_path_factory.mktemp("gear") / "images.parquet"
    write_parquet(pdf, str(p))
    store = DedupStore(spark, str(tmp_path_factory.mktemp("wh_gear")))
    ingest_series(store, spark.read.parquet(str(p)), cfg, retention=False)
    for v in (1, 2):
        _, stats = restore_version(store, v)
        assert stats["rows"] == len(pdf[pdf["version"] == v])
    want = oracle.classify_versions(pdf)
    got = store.read_table("classification").toPandas()
    merged = got.merge(want, on=["image_id", "version"], suffixes=("", "_w"))
    assert (merged["result"] == merged["result_w"]).all()


def test_restore_stats_lineage_parity(ingested):
    """r06: the lineage-derived scanned-byte bounds must equal the former
    pool-recomputed bounds bit-for-bit on a committed store, for every
    restorable version (VERDICT r05 next-round task 1)."""
    from mfdedup_spark.plans.restore import (
        _scanned_bytes_from_lineage,
        chunk_pool,
    )

    store, _, _ = ingested
    for v in (1, 2, 3):
        _, scanned_parts, pool_all, recovery = chunk_pool(store, v)
        assert not recovery
        got = _scanned_bytes_from_lineage(store, scanned_parts, v)
        assert got is not None, f"v{v}: lineage coverage incomplete"
        srow = pool_all.agg(
            F.sum("length").alias("read"),
            F.sum(
                F.when(F.col("first_version") <= v, F.col("length"))
            ).alias("pruned"),
        ).first()
        assert got == (int(srow["read"] or 0), int(srow["pruned"] or 0)), (
            f"v{v}: lineage bounds {got} != pool bounds"
        )


def test_restore_stale_lineage_row_falls_back(ingested, tmp_path):
    """A scanned partition whose latest lineage row is a stale ``dropped``
    row (0 bytes) must not be counted from lineage: the bounds read
    returns None and restore recomputes them from the pool."""
    import shutil

    from mfdedup_spark.plans.restore import (
        _scanned_bytes_from_lineage,
        chunk_pool,
    )

    store, _, _ = ingested
    v = 3
    _, scanned_parts, _, _ = chunk_pool(store, v)
    want = _scanned_bytes_from_lineage(store, scanned_parts, v)
    assert want is not None

    copy = DedupStore(store.spark, str(tmp_path / "wh"))
    shutil.copytree(store.root, copy.root, dirs_exist_ok=True)
    part = scanned_parts[0]
    pid = next(
        p for p in copy.read_lineage_rows()["partition_id"]
        if p == part or p.startswith(part + "/")
    )
    copy.append_lineage(
        [{"partition_id": pid, "version": v, "rows": 0, "bytes": 0,
          "state": "dropped"}]
    )
    assert _scanned_bytes_from_lineage(copy, scanned_parts, v) is None
    _, stats = restore_version(copy, v)
    assert (stats["scanned_bytes"], stats["scanned_bytes_pruned"]) == want


def test_restore_prepayload_job_count(ingested):
    """r06 (VERDICT r05 next-round task 3): restore_version issues at
    most 2 Spark jobs before the caller materializes the payload join —
    the fused recipe-agg + coverage-guard action (scanned bytes are a
    driver-side lineage read, zero jobs)."""
    store, _, _ = ingested
    tracker = store.spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup())
    restore_version(store, 3)
    after = len(tracker.getJobIdsForGroup())
    assert after - before <= 2, (
        f"restore_version ran {after - before} pre-payload jobs"
    )


def test_restore_join_route_parity(ingested, monkeypatch):
    """VERDICT r05 next-round task 4: both payload-join routes — the
    broadcast placed-recipe map and the fp-keyed shuffle join — must
    restore identical rows and bytes for every version (the contract is
    frozen at 41 entries, so the pin is this equality test). The shuffle
    route is forced with a zero row cap AND no automatic broadcast:
    under the session's 64 MB threshold Spark would otherwise broadcast
    the small test recipe map on its own, and the plan checks show each
    route really ran its join."""
    from mfdedup_spark.plans import restore as R

    store, pdf, _ = ingested
    spark = store.spark
    cols = ["seq_no", "image_id", "offset", "w", "h", "fmt", "caption"]

    def run(v):
        df, stats = R.restore_version(store, v)
        got = (
            df.withColumn("sha", F.sha1("bytes")).select(*cols, "sha")
            .toPandas().sort_values(cols).reset_index(drop=True)
        )
        return got, stats, df._jdf.queryExecution().executedPlan().toString()

    default = {v: run(v) for v in (1, 2, 3)}
    monkeypatch.setattr(R, "BROADCAST_RECIPES_MAX_ROWS", 0)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = {v: run(v) for v in (1, 2, 3)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    for v in (1, 2, 3):
        (a, bs, bplan), (b, ss, splan) = default[v], forced[v]
        pd.testing.assert_frame_equal(a, b)
        assert len(a) == bs["rows"] == len(pdf[pdf["version"] == v])
        assert bs["restored_bytes"] == ss["restored_bytes"]
        assert bs["scanned_bytes"] == ss["scanned_bytes"]
        assert "BroadcastHashJoin" in bplan, bplan
        assert "SortMergeJoin" in splan, splan


def test_broadcast_route_byte_budget(ingested, monkeypatch):
    """ADVICE r05 medium: the auto route must fall back to the fp-shuffle
    join when the estimated broadcast bytes (caption payload + per-row
    overhead) exceed the budget, even under the row cap."""
    from mfdedup_spark.plans import restore as R

    store, _, _ = ingested
    monkeypatch.setattr(R, "BROADCAST_RECIPES_MAX_BYTES", 1)
    rows, stats = R.restore_version(store, 2)  # auto route, tiny budget
    # the restore must still be correct on the shuffle route
    assert rows.count() == stats["rows"]
