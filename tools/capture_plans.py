"""Capture physical plans (`.explain("formatted")`).

  python tools/capture_plans.py
      key-operator plans with notes → docs/PLANS.md (sf0.01, local[4]);
      the evidence that filters reach scans, small sides broadcast, and
      the hot path stays in whole-stage codegen
  python tools/capture_plans.py --out-dir plans/r06 --tag after [query ...]
      one <out-dir>/<query>_<tag>.txt per query, for before/after plan
      diffs; with no query list, the six bench.py headliners. Runs at
      $SPARK_GRAFT_SF_DIR (default sf0.1) with the bench.py session shape
      ($SPARK_GRAFT_CPUS), so plans match what bench.py executes.

Run after operator changes.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mfdedup_spark.config import SignatureConfig
from mfdedup_spark.session import get_spark

SF = "/root/testdata/sf0.01"
SF_BENCH = os.path.join(os.path.dirname(SF), "sf0.1")  # bench.py's default

HEADLINERS = [
    "image_dedup", "doc_cluster", "ndf_classify",
    "restore_prefix", "ngram_jaccard", "ann_topk",
]


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def capture_queries(out_dir: str, tag: str, wanted: list[str]) -> None:
    """Write <out_dir>/<query>_<tag>.txt for each headline or contract query."""
    from bench import _sf_from_dir, ensure_image_fixture
    from mfdedup_spark import contract
    from mfdedup_spark.plans.pipeline import dedup_images

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_BENCH)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app="capture-plans", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_images = max(200, int(80_000 * _sf_from_dir(sf_dir)))

    def build(name: str):
        if name == "image_dedup":
            images = spark.read.parquet(
                ensure_image_fixture(n_images)).repartition(cpus)
            return dedup_images(images, SignatureConfig())["clusters"]
        if name == "doc_cluster":
            return contract.flagship(spark, sf_dir)
        if name == "ndf_classify":
            return contract.q_ndf_classification_events(spark, sf_dir)
        if name == "restore_prefix":
            return contract.q_restore_prefix_sum(spark, sf_dir)
        if name == "ngram_jaccard":
            return contract.q_ngram_jaccard_docs(spark, sf_dir)
        if name == "ann_topk":
            return contract.q_ann_cosine_topk(spark, sf_dir)
        return contract.QUERIES[name](spark, sf_dir)

    os.makedirs(out_dir, exist_ok=True)
    for name in wanted:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(explain_str(build(name)))
        print(f"wrote {path}")


def capture_operators() -> None:
    """Key-operator plans with notes → docs/PLANS.md."""
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = SignatureConfig()

    sections: list[tuple[str, str, str]] = []

    # 1. signature stage: column pruning — bytes never outlive the UDF
    from bench import ensure_image_fixture
    from mfdedup_spark.functions.signatures import compute_signatures

    images = spark.read.parquet(ensure_image_fixture(1000))
    sig = compute_signatures(images, cfg)
    sections.append((
        "Signature stage (mapInPandas)",
        "Narrow plan: parquet scan → ArrowEvalPython. ReadSchema carries "
        "only the columns the UDF needs; no shuffle before or after; the "
        "heavy `bytes` column dies inside the stage.",
        explain_str(sig.select("image_id", "sha1")),
    ))

    # 2. LSH candidates: two window stages (salt then bucket), no self-join
    from mfdedup_spark.operators.lsh import candidate_pairs

    cand, _ = candidate_pairs(sig, cfg)
    sections.append((
        "LSH candidate generation",
        "posexplode → salted Window (skew guard) → bucket Window where "
        "row_number and first() share one sort — pair emission without an "
        "anchors⋈members self-join — then a distinct.",
        explain_str(cand),
    ))

    # 3. verification: broadcast joins + codegen fold expressions
    from mfdedup_spark.operators.verify import verify_pairs

    sections.append((
        "Pair verification",
        "Signature lookups join pairs; at this size Catalyst/AQE picks "
        "broadcast. The MinHash agreement (aggregate(zip_with)) and "
        "SimHash hamming (bit_count(xor)) are codegen expressions — no "
        "Python.",
        explain_str(verify_pairs(cand, sig, cfg)),
    ))

    # 4. NDF classification: window + broadcast semi-join flag
    from mfdedup_spark.operators.classification import classify

    prev = sig.select("sha1").withColumnRenamed("sha1", "fp").limit(100)
    sections.append((
        "NDF classification",
        "One window (rn over version,fp) + an explicitly-broadcast "
        "previous-version fingerprint index (the reference's two-table "
        "NDF trick as a broadcast semi-join flag).",
        explain_str(classify(sig, prev)),
    ))

    # 5. predicate pushdown: events filter reaches the parquet scan
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet")
    filtered = ev.where(F.col("event_type") == "click").select("event_id", "value")
    sections.append((
        "Predicate pushdown / column pruning (scan hygiene)",
        "PushedFilters shows the event_type predicate at the scan; "
        "ReadSchema is only the 3 referenced columns.",
        explain_str(filtered),
    ))

    # 6. trained-IVF assignment: broadcast join, plan is O(1) in k
    # (constants ride the broadcast side, argmin is a partial agg)
    from mfdedup_spark.annops import ivf_lists_trained, ivf_train

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = ivf_train(emb, k=16)
    sections.append((
        "Trained-IVF assignment (broadcast join)",
        "BroadcastNestedLoopJoin against the k-row centroid table, one "
        "zip_with fold per joined row, then partial_min(struct(d, "
        "list_id)) before the exchange — map-side combine shrinks the "
        "shuffle to one row per vec per partition. Plan size does not "
        "grow with k.",
        explain_str(ivf_lists_trained(emb, centroids=cent)),
    ))

    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write(
            "# Physical plans — key operators\n\n"
            "Captured by tools/capture_plans.py (sf0.01 inputs, local[4]).\n"
        )
        for title, note, plan in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}```\n")
    print("wrote docs/PLANS.md")


def main() -> int:
    ap = argparse.ArgumentParser(description="Capture physical plans.")
    ap.add_argument("--out-dir", help="write per-query plan files here "
                    "instead of docs/PLANS.md")
    ap.add_argument("--tag", default="after",
                    help="file suffix in --out-dir mode (before/after)")
    ap.add_argument("queries", nargs="*", help="--out-dir mode: headline or "
                    "contract query names (default: the six headliners)")
    args = ap.parse_args()
    if args.out_dir:
        capture_queries(args.out_dir, args.tag, args.queries or HEADLINERS)
    else:
        capture_operators()
    return 0


if __name__ == "__main__":
    sys.exit(main())
