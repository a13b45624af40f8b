"""Spark pipeline vs numpy oracle parity (the BASELINE metric:
dup-pair recall ≥ 0.99 vs reference cluster assignments at the same
shingle/signature config) — SURVEY.md §5 item 2."""

import numpy as np
import pandas as pd
import pytest

from mfdedup_spark import oracle
from mfdedup_spark.config import SignatureConfig
from mfdedup_spark.fixtures import generate_images, write_parquet
from mfdedup_spark.plans.pipeline import dedup_images

CFG = SignatureConfig()


@pytest.fixture(scope="module")
def fixture_parquet(tmp_path_factory):
    df, truth = generate_images(n_images=200, seed=42)
    p = tmp_path_factory.mktemp("images") / "images.parquet"
    write_parquet(df, str(p))
    return str(p), df, truth


@pytest.fixture(scope="module")
def results(spark, fixture_parquet):
    path, pdf, truth = fixture_parquet
    images = spark.read.parquet(path)
    out = dedup_images(images, CFG)
    return pdf, truth, out


def oracle_run(pdf):
    sigs = oracle.compute_signatures(pdf, CFG)
    cand = oracle.candidate_pairs(sigs, CFG)
    pairs = oracle.verify_pairs(sigs, cand, CFG)
    cpairs = oracle.caption_pairs(pdf, CFG)
    allp = pd.concat([pairs, cpairs], ignore_index=True)
    clusters = oracle.connected_components(allp, pdf["image_id"].tolist())
    return sigs, allp, clusters


def test_signature_parity(results):
    pdf, _, out = results
    got = out["signatures"].toPandas().sort_values("image_id").reset_index(drop=True)
    want = (
        oracle.compute_signatures(pdf, CFG)
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert got["image_id"].tolist() == want["image_id"].tolist()
    assert got["sha1"].tolist() == want["sha1"].tolist()
    assert got["simhash"].tolist() == want["simhash"].tolist()
    for g, w in zip(got["minhash"], want["minhash"]):
        assert list(g) == list(w)
    for g, w in zip(got["mh_bands"], want["mh_bands"]):
        assert list(g) == list(w)


def test_pair_parity(results):
    """Engine pair set == oracle pair set (recall 1.0 ≥ required 0.99)."""
    pdf, _, out = results
    _, want_pairs, _ = oracle_run(pdf)
    got = {
        (a, b)
        for a, b in zip(
            *out["pairs"].select("image_id_a", "image_id_b").toPandas().T.values
        )
    }
    want = set(zip(want_pairs["image_id_a"], want_pairs["image_id_b"]))
    missing = want - got
    recall = 1 - len(missing) / max(1, len(want))
    assert recall >= 0.99, f"dup-pair recall {recall}, missing {sorted(missing)[:5]}"
    extra = got - want
    assert not extra, f"engine found pairs the oracle did not: {sorted(extra)[:5]}"


def test_cluster_parity(results):
    pdf, _, out = results
    _, _, want = oracle_run(pdf)
    got = dict(
        zip(*out["clusters"].select("image_id", "cluster_id").toPandas().T.values)
    )
    assert got == want


def test_planted_truth_recall(results):
    """Secondary check: clusters recover the planted structure."""
    pdf, truth, out = results
    got = dict(
        zip(*out["clusters"].select("image_id", "cluster_id").toPandas().T.values)
    )
    for name, pairs in (
        ("exact", truth.exact_pairs),
        ("near", truth.near_pairs),
        ("caption", truth.caption_pairs),
    ):
        hit = sum(1 for a, b in pairs if got[a] == got[b])
        assert hit / len(pairs) >= 0.99, f"{name} recall {hit / len(pairs)}"


def test_metrics(results):
    pdf, truth, out = results
    m = out["metrics"].toPandas().iloc[0]
    assert m["n_images"] == len(pdf)
    assert m["n_clusters"] < m["n_images"]  # dups collapsed
    assert m["total_len"] == sum(len(b) for b in pdf["bytes"])
    assert m["cluster_dedup_ratio"] > 1.0


def test_no_silent_drops_at_this_scale(results):
    _, _, out = results
    # fixture buckets stay under the cap → drop log must be empty
    assert out["bucket_stats"].where("dropped > 0").count() == 0


def test_no_job_outlives_dedup_images(spark, fixture_parquet):
    """dedup_images joins its background signature prefetch before it
    returns: no Spark job it started is still running afterwards."""
    import threading

    path, _, _ = fixture_parquet
    out = dedup_images(spark.read.parquet(path), CFG)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert not any(t.name == "mfdedup-prefetch" for t in threading.enumerate())
    out["signatures"].unpersist()


def test_explode_bands_keeps_row_with_null_bands(spark):
    """A null bands array counts as empty: the row keeps its other
    space's bands instead of vanishing (concat of a null is null)."""
    from mfdedup_spark.operators.lsh import explode_bands

    sig = spark.createDataFrame(
        [("a", [11, 12], None), ("b", None, [21]), ("c", [31], [32])],
        "image_id string, mh_bands array<bigint>, sh_bands array<bigint>",
    )
    got = sorted(map(tuple, explode_bands(sig).collect()))
    assert got == [
        ("mh", 0, 11, "a"), ("mh", 0, 31, "c"), ("mh", 1, 12, "a"),
        ("sh", 0, 21, "b"), ("sh", 0, 32, "c"),
    ]


@pytest.mark.parametrize("method", ["gear", "rabin", "fixed"])
def test_signature_parity_per_method(spark, method):
    """T2/T3 parity: Spark signatures equal the numpy oracle at each
    selectable shingle method, and the planted near-dups are still found
    (--ChunkingMethod analogue, ChunkingPipeline.h:17-20)."""
    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.functions.signatures import compute_signatures

    cfg = SignatureConfig(shingle_method=method)
    pdf, truth = generate_images(50, seed=21)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/img.parquet"
        write_parquet(pdf, p)
        got = (
            compute_signatures(spark.read.parquet(p), cfg)
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )
    want = (
        oracle.compute_signatures(pdf, cfg)
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert got["simhash"].tolist() == want["simhash"].tolist()
    for g, w in zip(got["mh_bands"], want["mh_bands"]):
        assert list(g) == list(w)
    # the method still recovers planted near-dup pairs (oracle pipeline)
    sigs = oracle.compute_signatures(pdf, cfg)
    cand = oracle.candidate_pairs(sigs, cfg)
    pairs = oracle.verify_pairs(sigs, cand, cfg)
    got_pairs = set(zip(pairs["image_id_a"], pairs["image_id_b"]))
    want_pairs = {tuple(sorted(p)) for p in truth.near_pairs}
    found = sum(1 for p in want_pairs if p in got_pairs)
    assert found / max(len(want_pairs), 1) >= 0.9, (method, found, len(want_pairs))


def test_caption_bounded_recall(spark):
    """The default-bounded caption blocking (cfg.caption_max_grams bottom-m
    gram sample, VERDICT r02 wrong #6) must retain >= 0.99 of planted
    long-host substring containments: 60-word hosts (~58 grams, well over
    the m=32 bound) each hosting a 10-word contained caption."""
    import numpy as np

    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.operators.caption_match import caption_pairs

    rng = np.random.default_rng(23)
    rows, planted = [], set()
    for i in range(150):
        host_words = [f"w{rng.integers(0, 4000)}" for _ in range(60)]
        start = int(rng.integers(0, 50))
        sub = host_words[start : start + 10]
        hid, sid = f"host{i:04d}", f"sub{i:04d}"
        rows.append((hid, " ".join(host_words)))
        rows.append((sid, " ".join(sub)))
        planted.add(frozenset((hid, sid)))
    images = spark.createDataFrame(rows, "image_id string, caption string")
    cfg = SignatureConfig()
    assert cfg.caption_max_grams < 58  # the bound actually bites here
    pairs, _ = caption_pairs(images, cfg)
    got = {
        frozenset((r["image_id_a"], r["image_id_b"])) for r in pairs.collect()
    }
    recall = len(got & planted) / len(planted)
    assert recall >= 0.99, recall


def test_caption_verify_batch_split_invariant(spark):
    """VERDICT r04 wrong #3: caption verification groupbys per Arrow
    batch, so an anchor group that straddles a batch boundary is
    processed as partial groups. Per-pair verification is independent,
    so the pair set must be IDENTICAL — pinned here by forcing ~7-row
    batches so groups actually split, vs the default batching."""
    import numpy as np

    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.operators.caption_match import caption_pairs

    rng = np.random.default_rng(31)
    rows = []
    # few anchors with MANY members each → groups far wider than the
    # tiny batch size, guaranteeing splits
    for a in range(4):
        host_words = [f"w{rng.integers(0, 500)}" for _ in range(40)]
        rows.append((f"host{a:02d}", " ".join(host_words)))
        for m in range(20):
            start = int(rng.integers(0, 30))
            sub = host_words[start : start + 8]
            rows.append((f"sub{a:02d}_{m:02d}", " ".join(sub)))
    images = spark.createDataFrame(rows, "image_id string, caption string")
    cfg = SignatureConfig()

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        pairs_default, _ = caption_pairs(images, cfg)
        got_default = {
            (r["image_id_a"], r["image_id_b"])
            for r in pairs_default.collect()
        }
        spark.conf.set(key, "7")
        pairs_tiny, _ = caption_pairs(images, cfg)
        got_tiny = {
            (r["image_id_a"], r["image_id_b"]) for r in pairs_tiny.collect()
        }
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    assert len(got_default) > 0
    assert got_tiny == got_default
