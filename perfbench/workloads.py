"""The benchmark's workloads. Each times exactly one kind of operation,
driven by one closed-loop client, and checks every op's output against
an expectation computed from the seeded inputs without Spark.

A workload has four parts: ``generate`` (seeded inputs, no Spark, not
timed), ``build`` (state the op needs that is not set-up, such as the
restore store; not timed), ``op`` (one timed operation, returns the
items it handled) and ``check`` (run after the timer stops). ``traced_op``
runs the same library calls one layer at a time and returns per-layer
numbers.
"""

from __future__ import annotations

import collections
import hashlib
import os
import time

import pyarrow.parquet as pq

from perfbench import harness
from perfbench.harness import force

#: images per image_dedup op. At local[4] an op costs ~3.5-4 s of fixed
#: job latency (40-52 Spark jobs, most of them connected-components
#: rounds) plus ~0.7 ms per image, so per-image work is about a quarter
#: of an op. Larger batches would time fewer ops than the run budget
#: needs for a steady median (perfbench/README.md, "Workloads left out").
IMAGE_N = 1600
#: rows per backup version of the restore store (generate_versioned:
#: 85% carried, 5% internal dups, 10% new per version)
RESTORE_ROWS = 1000
#: versions ingested into the restore store; with retention 2 the last
#: ingest arranges and drops, and two versions stay restorable
STORE_VERSIONS = 3
#: image_dedup inputs are generated as this many independently seeded
#: ``generate_images`` shards in parallel processes (one call for all
#: 3,200 images takes ~14 s on one core). Fixed, not ``nproc``, so a
#: seed gives the same inputs on every host.
GEN_SHARDS = 4
#: images in the fixed sample the core.* per-primitive table runs on
CORE_SAMPLE = 200
#: share of all planted pairs that must share a cluster: the dup-pair
#: recall threshold of BASELINE.md and tests/test_pipeline.py
PLANTED_RECALL = 0.99
RETENTION = 2


class CheckFailed(AssertionError):
    """An op's output differs from the expectation."""


def _sha1(b: bytes) -> str:
    return hashlib.sha1(b).hexdigest()


def _image_shard(i: int, n: int, seed: int, offset: int):
    """Shard ``i`` of the image_dedup input: ``n`` bench-fixture images,
    their planted truth and their numpy-oracle signatures. The fixture
    numbers ids from 0, so they are shifted past the earlier shards'."""
    from mfdedup_spark import oracle
    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.fixtures import Truth, generate_images

    def shift(iid):
        return f"img{int(iid[3:]) + offset:08d}"

    df, t = generate_images(
        n, seed=seed * GEN_SHARDS + i, fmt_weights=[0.1, 0.2, 0.7],
        dims=[64, 128, 256],
    )
    df = df.assign(image_id=df["image_id"].map(shift))
    truth = Truth(hot_ids={shift(iid) for iid in t.hot_ids})
    for kind in ("exact_pairs", "near_pairs", "caption_pairs"):
        getattr(truth, kind).update(
            tuple(sorted((shift(a), shift(b)))) for a, b in getattr(t, kind)
        )
    return df, truth, oracle.compute_signatures(df, SignatureConfig())


def _generate_images(n: int, seed: int, procs: int):
    """``n`` bench-fixture images made of ``GEN_SHARDS`` shards (planted
    pairs stay within a shard), their planted truth, and image_id ->
    cluster_id from the numpy oracle, composed as the pipeline's parity
    test composes it. Shards are made in ``procs`` processes, which have
    all exited when this returns."""
    from concurrent.futures import ProcessPoolExecutor

    import numpy as np
    import pandas as pd

    from mfdedup_spark import oracle
    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.fixtures import Truth

    sizes = [n // GEN_SHARDS + (i < n % GEN_SHARDS) for i in range(GEN_SHARDS)]
    offsets = np.cumsum([0] + sizes[:-1]).tolist()
    with ProcessPoolExecutor(min(procs, GEN_SHARDS)) as ex:
        shards = list(ex.map(_image_shard, range(GEN_SHARDS), sizes,
                             [seed] * GEN_SHARDS, offsets))
    df = pd.concat([d for d, _, _ in shards], ignore_index=True)
    df["seq_no"] = np.arange(len(df), dtype=np.int64)
    truth = Truth()
    for _, t, _ in shards:
        for kind in ("exact_pairs", "near_pairs", "caption_pairs", "hot_ids"):
            getattr(truth, kind).update(getattr(t, kind))

    cfg = SignatureConfig()
    sigs = pd.concat([s for _, _, s in shards], ignore_index=True)
    pairs = pd.concat([
        oracle.verify_pairs(sigs, oracle.candidate_pairs(sigs, cfg), cfg),
        oracle.caption_pairs(df, cfg),
    ], ignore_index=True)
    return df, truth, oracle.connected_components(pairs, df["image_id"].tolist())


def _sample(df):
    return df.iloc[:: max(1, len(df) // CORE_SAMPLE)].head(CORE_SAMPLE)


class Workload:
    name = ""
    #: full-size ops, the cold one included, that run before timing
    #: starts. Sized from measured op-time series (perfbench/README.md):
    #: past the cold op and the steepest part of the JIT fall after it.
    #: The slow fall after that outlasts the run budget, so a fixed count
    #: makes every run time the same op indices.
    warmups = 3
    #: a pandas frame of input images the core.* table is timed on
    sample = None
    #: layer that reports the untraced ops' status-store counters
    op_counter_layer = None

    def __init__(self, work: str, seed: int, cores: int, **sizes):
        self.work, self.seed, self.cores = work, seed, cores
        self.sizes = sizes
        self.spark = None

    def generate(self) -> None:
        raise NotImplementedError

    def build(self, spark, counters=None) -> None:
        """Prepare what ops need beyond set-up; ``counters`` is given on
        traced runs."""
        self.spark = spark

    def op(self) -> int:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def traced_op(self, counters) -> dict:
        """Per-layer numbers of one traced op; ``_op_s`` is its wall time
        from the first library call to the last forced output."""
        raise NotImplementedError

    def check_traced(self) -> None:
        self.check()

    def finish_trace(self, counters) -> dict:
        """Per-layer numbers taken once after the traced ops."""
        return {}


# ------------------------------------------------------------ image_dedup
class ImageDedup(Workload):
    """``plans.pipeline.dedup_images`` over one batch of bench-fixture
    images (jpeg-heavy, 64-256 px), clusters forced through a noop sink."""

    name = "image_dedup"
    op_counter_layer = "pipeline"

    def generate(self) -> None:
        from mfdedup_spark.fixtures import write_parquet

        self.n = self.sizes.get("n_images", IMAGE_N)
        df, self.truth, self.expected = _generate_images(
            self.n, self.seed, self.cores
        )
        self.path = os.path.join(self.work, "images.parquet")
        write_parquet(df, self.path)
        self.sample = _sample(df)

    def _images(self):
        return self.spark.read.parquet(self.path).repartition(self.cores)

    def op(self) -> int:
        from mfdedup_spark.plans.pipeline import dedup_images

        self._out = dedup_images(self._images())
        force(self._out["clusters"])
        return self.n

    def _check_clusters(self, rows) -> dict:
        """The pipeline's contract (tests/test_pipeline.py): clusters equal
        the numpy oracle's, image for image, and at least
        ``PLANTED_RECALL`` of the planted pairs land in one cluster.
        Banded LSH and the bounded caption blocking may miss a planted
        pair by design, and the oracle misses the same ones. The share is
        taken over all planted pairs, not per kind: a batch plants only
        ~80 caption pairs, so one miss would already be below 0.99."""
        labels = {r["image_id"]: r["cluster_id"] for r in rows}
        if len(rows) != self.n or len(labels) != self.n:
            raise CheckFailed(f"{len(rows)} cluster rows for {self.n} images")
        if labels != self.expected:
            wrong = sorted(i for i in labels if labels[i] != self.expected.get(i))
            raise CheckFailed(f"{len(wrong)} images clustered unlike the oracle, e.g. {wrong[:3]}")
        planted = self.truth.all_pairs
        missed = sorted((a, b) for a, b in planted if labels[a] != labels[b])
        if planted and 1 - len(missed) / len(planted) < PLANTED_RECALL:
            raise CheckFailed(f"{len(missed)} of {len(planted)} planted pairs split, e.g. {missed[:3]}")
        return labels

    def check(self) -> None:
        self._check_clusters(self._out["clusters"].collect())

    def traced_op(self, counters) -> dict:
        """The steps of ``dedup_images`` composed as it composes them,
        each forced and cached before the next starts so a step's time
        excludes its inputs. The signature prefetch thread of the
        pipeline is replaced by forcing the signatures first."""
        from pyspark.sql import functions as F

        from mfdedup_spark.config import SignatureConfig
        from mfdedup_spark.functions.signatures import compute_signatures
        from mfdedup_spark.operators.caption_match import caption_pairs
        from mfdedup_spark.operators.connected_components import (
            connected_components,
        )
        from mfdedup_spark.operators.lsh import candidate_pairs
        from mfdedup_spark.operators.verify import verify_pairs

        cfg = SignatureConfig()
        images = self._images()
        out: dict = {}

        sig = compute_signatures(images, cfg).persist()
        cand, lsh_stats = candidate_pairs(sig, cfg)
        verified = verify_pairs(cand, sig, cfg)
        cpairs, _ = caption_pairs(images, cfg)
        out["caption_match.scans"], out["caption_match.exchanges"] = (
            harness.plan_shape(cpairs)
        )
        out["pipeline.scans"], out["pipeline.exchanges"] = harness.plan_shape(
            verified.unionByName(cpairs)
        )

        def step(name, df):
            c = counters.mark()
            t0 = time.perf_counter()
            force(df)
            out[f"{name}.s"] = time.perf_counter() - t0
            harness.drain(self.spark)
            return counters.since(c)

        t_op = time.perf_counter()
        c = step("signatures", sig)
        out["signatures.executor_ms"] = c["executor_ms"]
        cand = cand.persist()
        out["lsh.shuffle_bytes"] = step("lsh", cand)["shuffle_write"]
        verified = verified.persist()
        out["verify.shuffle_bytes"] = step("verify", verified)["shuffle_write"]
        cpairs = cpairs.persist()
        step("caption_match", cpairs)

        c = counters.mark()
        t0 = time.perf_counter()
        clusters = connected_components(
            verified.unionByName(cpairs).select("image_id_a", "image_id_b"),
            sig.select("image_id"),
        )
        force(clusters)
        out["connected_components.s"] = time.perf_counter() - t0
        out["_op_s"] = time.perf_counter() - t_op
        harness.drain(self.spark)
        out["connected_components.jobs"] = counters.since(c)["jobs"]

        # the same oracle the untraced ops are held to, so the traced
        # composition cannot drift from the pipeline unnoticed
        traced = self._check_clusters(clusters.collect())
        n_cand = cand.count()
        out["lsh.candidates"] = n_cand
        out["lsh.dropped"] = lsh_stats.agg(F.sum("dropped")).first()[0] or 0
        out["verify.kept_ratio"] = verified.count() / n_cand if n_cand else 0.0
        out["caption_match.pairs"] = cpairs.count()
        out["connected_components.clusters"] = len(set(traced.values()))
        return out

    def check_traced(self) -> None:
        """Nothing left to check: ``traced_op`` checks its own clusters."""

    def finish_trace(self, counters) -> dict:
        from perfbench import text_layers

        path = os.path.join(self.work, "text")
        text_layers.generate(path, self.seed)
        return text_layers.timed_round(self.spark, path, counters)


# ---------------------------------------------------------------- restore
class Restore(Workload):
    """``plans.restore.restore_version`` of each retained version back to
    back, newest then oldest, rows forced through a noop sink. The store
    is ingested by the code under test (``plans.ingest.ingest_version``
    then ``plans.retention.apply_retention``, arrangement on, retention
    2, ``generate_versioned`` mutation model) before set-up is timed; the
    third version's ingest is the first to arrange and drop, so the
    restored store is in retention steady state."""

    name = "restore"

    def generate(self) -> None:
        from mfdedup_spark.fixtures import generate_versioned, write_parquet
        from mfdedup_spark.oracle import classify_versions

        rows = self.sizes.get("rows", RESTORE_ROWS)
        pdf = generate_versioned(rows, STORE_VERSIONS, seed=self.seed)
        self.paths, self.input_bytes = {}, {}
        for v, g in pdf.groupby("version"):
            v = int(v)
            self.paths[v] = os.path.join(self.work, f"v{v}.parquet")
            write_parquet(g, self.paths[v])
            self.input_bytes[v] = int(g["bytes"].map(len).sum())
        self.classes = {
            int(v): g["result"].value_counts().to_dict()
            for v, g in classify_versions(pdf).groupby("version")
        }
        self.expected = {
            int(v): collections.Counter(
                zip(g["image_id"], g["bytes"].map(_sha1), g["caption"])
            )
            for v, g in pdf.groupby("version")
            if v > STORE_VERSIONS - RETENTION
        }
        self.sample = _sample(pdf[pdf["version"] == 1])

    def build(self, spark, counters=None) -> None:
        """Ingest every version and check each against the numpy oracle.
        With ``counters`` the last ingest is traced into ``self.layers``."""
        from mfdedup_spark.config import EngineConfig
        from mfdedup_spark.plans.ingest import ingest_version
        from mfdedup_spark.plans.retention import apply_retention
        from mfdedup_spark.store import DedupStore

        super().build(spark)
        self.warehouse = os.path.join(self.work, "warehouse")
        self.store = DedupStore(spark, self.warehouse)
        cfg = EngineConfig(warehouse=self.warehouse, retention=RETENTION)
        self.layers = {}
        for v in sorted(self.paths):
            before = harness.dir_files(self.warehouse) if counters else None
            mark = counters.mark() if counters else None
            ingest_version(self.store, spark.read.parquet(self.paths[v]), cfg)
            harness.drain(spark)
            t0 = time.perf_counter()
            dropped = apply_retention(self.store, cfg.retention)["dropped"]
            retention_s = time.perf_counter() - t0
            self._check_ingest(v)
            if counters:
                self.layers = self._ingest_layers(
                    v, counters.since(mark), before, retention_s, dropped
                )
        harness.reset(spark)

    def _check_ingest(self, v: int) -> None:
        m = self.store.read_manifest()
        oldest = max(1, v - RETENTION + 1)
        if m["total_version"] != v or m.get("oldest_version", 1) != oldest:
            raise CheckFailed(f"manifest {m} after ingesting v{v}")
        part = os.path.join(self.store.path("classification"), f"version={v}")
        got = pq.read_table(part, columns=["result"]).to_pandas()["result"]
        got = got.value_counts().to_dict()
        if got != self.classes[v]:
            raise CheckFailed(f"v{v} classes {got} != oracle {self.classes[v]}")

    def _ingest_layers(self, v, ing, before, retention_s, dropped) -> dict:
        written, files = harness.written_since(
            before, harness.dir_files(self.warehouse)
        )
        stages = pq.read_table(self.store.path("stage_stats")).to_pandas()
        stages = stages[stages["version"] == v].groupby("stage")["seconds"].sum()
        out = {
            f"ingest.{s}_s": float(stages.get(s, 0.0))
            for s in (
                "signature_classify", "write_recipes", "write_chunks",
                "write_metrics_index", "arrangement",
            )
        }
        out.update({
            "ingest.jobs": ing["jobs"],
            "ingest.shuffle_bytes": ing["shuffle_write"],
            "retention.s": retention_s,
            "retention.dropped_partitions": len(dropped),
            "store.write_amp": written / self.input_bytes[v],
            "store.files_written": files,
        })
        return out

    def op(self) -> int:
        from mfdedup_spark.plans.restore import restore_version

        self._out, n = [], 0
        for v in sorted(self.expected, reverse=True):
            df, stats = restore_version(self.store, v)
            force(df)
            self._out.append((v, df))
            n += stats["rows"]
        return n

    def check(self) -> None:
        from functools import reduce

        from pyspark.sql import functions as F

        both = reduce(lambda a, b: a.unionByName(b), [
            df.select(F.lit(v).alias("v"), "image_id", F.sha1("bytes"), "caption")
            for v, df in self._out
        ])
        got = {v: collections.Counter() for v in self.expected}
        for r in both.collect():
            got[r[0]][(r[1], r[2], r[3])] += 1
        for v, want in self.expected.items():
            if got[v] != want:
                raise CheckFailed(
                    f"restored v{v}: {sum((got[v] - want).values())} rows "
                    f"unexpected, {sum((want - got[v]).values())} missing"
                )

    def traced_op(self, counters) -> dict:
        from mfdedup_spark.plans.restore import restore_version

        out = collections.Counter()
        scanned = scanned_pruned = restored = 0
        self._out = []
        newest = max(self.expected)
        t_op = time.perf_counter()
        for v in sorted(self.expected, reverse=True):
            c = counters.mark()
            t0 = time.perf_counter()
            df, stats = restore_version(self.store, v)
            t1 = time.perf_counter()
            force(df)
            t2 = time.perf_counter()
            harness.drain(self.spark)
            cnt = counters.since(c)
            self._out.append((v, df))
            out["restore.metadata_s"] += t1 - t0
            out["restore.payload_s"] += t2 - t1
            out["restore.newest_s" if v == newest else "restore.oldest_s"] += t2 - t0
            out["restore.jobs"] += cnt["jobs"]
            out["restore.shuffle_bytes"] += cnt["shuffle_write"]
            out["store.scanned_partitions"] += len(stats["scanned_partitions"])
            scanned += stats["scanned_bytes"]
            scanned_pruned += stats["scanned_bytes_pruned"]
            restored += stats["restored_bytes"]
        out["_op_s"] = time.perf_counter() - t_op
        out["store.read_amp"] = scanned / restored
        out["store.read_amp_pruned"] = scanned_pruned / restored
        return dict(out)

    def finish_trace(self, counters) -> dict:
        m = self.store.read_manifest()
        retained = range(m["oldest_version"], m["total_version"] + 1)
        on_disk = sum(s for s, _ in harness.dir_files(self.warehouse).values())
        return {
            **self.layers,
            "store.space_amp": on_disk / sum(self.input_bytes[v] for v in retained),
        }


WORKLOADS = {w.name: w for w in (ImageDedup, Restore)}
