"""Diagnostic bench: per-query noop-sink isolation and N in-JVM reps
with per-query minima for the six bench.py headliners. For a per-phase
breakdown of image_dedup, use `perfbench/run.py --trace 1`, which times
the pipeline's own steps.

`bench.py` stays frozen (driver contract). Usage:

  python bench_extra.py [--reps 3] [--queries q1,q2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--queries", default=None,
                    help="comma list: image_dedup,doc_cluster,ndf_classify,"
                         "restore_prefix,ngram_jaccard,ann_topk")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from bench import ensure_image_fixture, _sf_from_dir
    from mfdedup_spark import contract
    from mfdedup_spark.config import SignatureConfig
    from mfdedup_spark.plans.pipeline import dedup_images
    from mfdedup_spark.session import get_spark

    sf = _sf_from_dir(sf_dir)
    n_images = max(200, int(80_000 * sf))
    img_path = ensure_image_fixture(n_images)

    spark = get_spark(
        app="mfdedup-bench-extra", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # identical warmup to bench.py
    import pandas as _pd

    spark.range(0, cpus, 1, cpus).mapInPandas(
        lambda it: (_pd.DataFrame({"x": [len(b)]}) for b in it), "x long"
    ).count()
    warm = dedup_images(spark.read.parquet(img_path).limit(400), SignatureConfig())
    force(warm["clusters"])
    warm["signatures"].unpersist()
    force(contract.flagship(spark, "/root/testdata/sf0.001"))

    def run_image_dedup() -> None:
        images = spark.read.parquet(img_path).repartition(cpus)
        out = dedup_images(images, SignatureConfig())
        force(out["clusters"])
        out["signatures"].unpersist()

    QUERIES = {
        "image_dedup": run_image_dedup,
        "doc_cluster": lambda: force(contract.flagship(spark, sf_dir)),
        "ndf_classify": lambda: force(
            contract.q_ndf_classification_events(spark, sf_dir)
        ),
        "restore_prefix": lambda: force(
            contract.q_restore_prefix_sum(spark, sf_dir)
        ),
        "ngram_jaccard": lambda: force(
            contract.q_ngram_jaccard_docs(spark, sf_dir)
        ),
        "ann_topk": lambda: force(contract.q_ann_cosine_topk(spark, sf_dir)),
    }
    names = list(QUERIES) if args.queries is None else args.queries.split(",")

    samples: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(args.reps):
        for name in names:
            sc.setJobDescription(f"bench_extra[{rep}] {name}")
            t0 = time.time()
            QUERIES[name]()
            samples[name].append(round(time.time() - t0, 3))
            sc.setJobDescription(None)

    result = {
        "sf": sf,
        "cpus": cpus,
        "reps": args.reps,
        "samples": samples,
        "min": {n: min(v) for n, v in samples.items()},
        "min_total": round(sum(min(v) for v in samples.values()), 3),
    }

    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
