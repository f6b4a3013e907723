"""Structured Streaming wrapper (SURVEY.md §2.8).

The engine core is deliberately epoch-synchronous batch (matching the
reference's bounded channel pipeline, internal/scrape.go:100-124). This
module is the thin streaming veneer the survey prescribes: a request
stream (files of URLs arriving in a directory) drives ``foreachBatch``,
where each micro-batch runs the SAME ``batch_extract`` plan against the
same store — so streaming and batch share one code path, one semantics
(dedupe, TTL memoization, error rows), and one set of tests.

``trigger(availableNow=True)`` drains everything pending and stops —
the streaming analog of one crawl epoch; checkpointLocation gives
exactly-once over input files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from scrape_spark.operators.store import UrlStore
from scrape_spark.plans.batch_extract import batch_extract

REQUEST_SCHEMA = T.StructType([T.StructField("url", T.StringType(), False)])


def stream_requests(spark: SparkSession, request_dir: str) -> DataFrame:
    """File stream of newline-JSON request rows: {"url": "..."}."""
    return spark.readStream.schema(REQUEST_SCHEMA).json(request_dir)


def run_stream_extract(
    spark: SparkSession,
    request_dir: str,
    pages: DataFrame,
    store: UrlStore,
    checkpoint_dir: str,
    output_dir: str,
) -> None:
    """Drain all pending request files through the batch pipeline, writing
    results as parquet micro-batch outputs and merging into the store."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        results = batch_extract(spark, batch_df, pages, store)
        # per-batch OVERWRITE into a batch=<id> partition dir: a batch
        # replayed after a crash between this write and the checkpoint
        # commit lands in the same dir — idempotent, so the output sink is
        # exactly-once like the checkpointed input (a bare append would
        # double rows on replay). The store merge is LWW-idempotent anyway.
        results.write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")
        results.unpersist()

    q = (
        stream_requests(spark, request_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
