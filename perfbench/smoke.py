"""Smoke check: every workload at a tiny size in one Spark session.

    python3 perfbench/smoke.py

Shows that an untraced op and a traced op pass their checks, and that a
wrong expected output is counted as a failed op. It is a script, not a
pytest module, because it points the process environment at its own
work directory and starts and stops its own JVM; run on its own, it
cannot disturb another suite's Spark session. Exits 0 when every check
holds.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench import run as bench  # noqa: E402
from perfbench.workloads import ImageDedup, Restore  # noqa: E402

CORES = 2


def _runner(wl, spark):
    counters = harness.SparkCounters(spark)
    os.makedirs(wl.work)
    wl.generate()
    wl.build(spark, counters)
    return bench.Runner(wl, spark, counters)


def check_image_dedup(spark, work) -> None:
    wl = ImageDedup(os.path.join(work, "img"), seed=5, cores=CORES, n_images=40)
    r = _runner(wl, spark)
    ops = bench.measure(r, 0)
    assert len(ops) == 1 and ops[0][1] == 40 and r.failed == 0
    traced = r.run_traced()
    assert r.failed == 0
    assert traced["connected_components.clusters"] > 0
    assert traced["caption_match.scans"] >= 1
    wl.expected["img00000000"] = "not-a-cluster"
    assert r.run_op() is None
    assert (r.attempted, r.failed) == (3, 1)


def check_restore(spark, work) -> None:
    wl = Restore(os.path.join(work, "restore"), seed=5, cores=CORES, rows=30)
    r = _runner(wl, spark)
    assert wl.layers["retention.dropped_partitions"] > 0
    assert r.run_op() is not None and r.failed == 0
    traced = r.run_traced()
    assert r.failed == 0 and traced["store.scanned_partitions"] > 0
    assert wl.finish_trace(r.counters)["store.space_amp"] > 0
    wl.expected[max(wl.expected)][("bogus", "0" * 40, "no caption")] += 1
    assert r.run_op() is None
    assert (r.attempted, r.failed) == (3, 1)


def main() -> int:
    work = os.path.join(bench.ROOT, ".bench_work", f"smoke-{os.getpid()}")
    harness.configure_env(bench.ROOT, work)
    spark = harness.start_session(CORES)
    gateway = spark.sparkContext._gateway
    try:
        for check in (check_image_dedup, check_restore):
            check(spark, work)
            print(f"{check.__name__}: ok", flush=True)
    finally:
        spark.stop()
        bench._stop_jvm(gateway)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # a benchmark run's directory is still in it
    return 0


if __name__ == "__main__":
    sys.exit(main())
