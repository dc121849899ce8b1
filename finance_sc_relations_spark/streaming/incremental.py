"""Structured-Streaming forms of the batch operators.

The reference is batch-only (SURVEY.md §1.2: "no streams anywhere"); its
"continuous" mode is SQS-triggered batch (§3.3). These wrappers give the
engine a streaming ingest path for the same logical pipeline:

- `stream_pages` — file-source stream over a pages directory (new parquet
  files appear as a crawl lands); maxFilesPerTrigger bounds batch size the
  way <STAGE>_max_files bounds the reference's fleet batches
  (glue_etl.py:548-593).
- `stream_extract_triples` — the stateless prefix of the KG pipeline
  (segment -> mentions -> pairs -> RE -> triples) runs unchanged on a
  streaming DataFrame: every stage is a narrow mapInPandas or a filter, so
  Structured Streaming plans them without state. Aggregations (position
  mean) use update-mode-compatible groupBy on r_id within the micro-batch
  via foreachBatch, keeping exactly-once through checkpointLocation.
- `stream_event_rollup` — watermarked tumbling-window aggregation over the
  events table shape (the streaming twin of __spark_entry__ events_daily).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PAGES


def stream_pages(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def stream_extract_triples(
    spark: SparkSession,
    pages_dir: str,
    company_dict_pdf,
    output_dir: str,
    checkpoint_dir: str,
    config=None,
):
    """Continuously extract linked triples from newly arriving page files.

    foreachBatch runs the full batch pipeline per micro-batch: the
    aggregation steps (position mean, linking) are batch-local, which is
    exactly the reference's semantics (each SQS batch is processed
    independently, src/sagemaker/re_inference.py). Exactly-once lands via
    the streaming checkpoint + an IDEMPOTENT sink: output is partitioned by
    _batch_id and each batch dynamically overwrites only its own partition,
    so a batch replayed after a failure replaces its rows instead of
    appending duplicates.
    """
    from ..plans.pipeline import PipelineConfig, run_pipeline

    cfg = config or PipelineConfig()
    if cfg.distributed_linking is None:
        # the dict arrives as a pandas frame here — by definition broadcast
        # sized; pin the tier so no micro-batch pays a dispatch count() job
        cfg.distributed_linking = False
    stream = stream_pages(spark, pages_dir)
    company_dict = spark.createDataFrame(company_dict_pdf)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = run_pipeline(spark, batch_df, company_dict, cfg)
        (
            out["linked_triples"]
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(output_dir)
        )
        # run_pipeline's persisted branch points outlive the batch unless
        # released: one set per micro-batch would pile up in executor storage
        for df in out["cached"]:
            df.unpersist()

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stream_event_rollup(
    events_stream: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked tumbling-window rollup: late events beyond the watermark
    are dropped; state is bounded by watermark horizon — the scale-safe form
    of the batch events_daily query."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "total_value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("day"), "event_type", "n", "total_value_cents"
        )
    )


def stream_sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming sessionization — the Structured-Streaming twin of
    operators/sessions.py::sessionize, built on the native
    ``session_window`` (gap-based merging windows): state per (user,
    open-session) only, closed sessions emitted and dropped once the
    watermark passes the session end — bounded state at any stream length.

    Output: (user_id, session_start, session_end, n_events, value_cents).
    Note the batch operator additionally numbers sessions per user
    (session_idx); a global per-user index is meaningless on an unbounded
    stream, so the streaming form keys sessions by their window instead."""
    ts = F.col(ts_col).cast("timestamp")
    return (
        events_stream.withColumn("_ts", ts)
        .withWatermark("_ts", watermark)
        .groupBy(F.col(user_col).alias("user_id"), F.session_window("_ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )
