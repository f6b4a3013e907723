"""Capture .explain("formatted") for every bench-visible query plus the
flagship pipeline shapes, writing <out_dir>/<query>_<suffix>.txt — plan
text to compare exchange counts, join strategies and pushdown across two
trees. The plan invariants themselves are tier-1 tests (tests/test_plans.py).

    python tools/capture_plans.py /tmp/plans_after
    python tools/capture_plans.py /tmp/plans_before --suffix before
    PLANS_OUT=/tmp/plans_after python tools/capture_plans.py

The output directory is required: captured plans are not kept in the repo.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain_formatted(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main():
    ap = argparse.ArgumentParser(description="Capture formatted physical plans.")
    ap.add_argument("out_dir", nargs="?", default=os.environ.get("PLANS_OUT"),
                    help="output directory (default: $PLANS_OUT)")
    ap.add_argument("--suffix", default="after", help="file name suffix")
    args = ap.parse_args()
    if not args.out_dir:
        ap.error("give an output directory (argument or PLANS_OUT)")
    out_dir, suffix = args.out_dir, args.suffix
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from scrape_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)

    import __spark_entry__ as E

    names = [
        "per_host_agg", "dim_broadcast", "topk_per_group", "hit_miss_anti",
        "dedupe_lastwin", "sessionize", "fingerprint_dedup", "corpus_export",
        "jaccard_pairs_trigram", "minhash_neardup", "embedding_neardup",
        "ann_topk", "batch_pipeline",
    ]
    qs = E.queries()
    for name in names:
        try:
            text = explain_formatted(qs[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - record the failure, keep going
            text = f"EXPLAIN FAILED: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print("wrote", name)

    # flagship fetch+extract over the bench corpus, and the store MERGE
    # delta plan
    from pyspark.sql import functions as F

    from scrape_spark.operators.store import ManifestTable
    from scrape_spark.plans.batch_extract import batch_extract, prepare_requests
    from scrape_spark.sources.pages import ensure_pages

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pages = ensure_pages(
        spark, os.path.join(root, ".bench_data", "pages_50x1000"), 50, 1000
    )
    flagship = batch_extract(spark, pages.select("url"), pages, store=None)
    with open(os.path.join(out_dir, f"batch_pipeline_sf_{suffix}.txt"), "w") as f:
        f.write(explain_formatted(flagship))
    print("wrote batch_pipeline_sf")

    delta = prepare_requests(pages.select("url")).select(
        F.col("key"), F.col("parsed_url"), F.current_timestamp().alias("fetch_time")
    )
    table = ManifestTable(
        spark, tempfile.mkdtemp(prefix="plans_store_"), delta.schema, "key",
        n_buckets=32, order_col="fetch_time",
    )
    with open(os.path.join(out_dir, f"store_merge_delta_{suffix}.txt"), "w") as f:
        f.write(explain_formatted(table.dedupe_delta(delta)))
    print("wrote store_merge_delta")


if __name__ == "__main__":
    main()
