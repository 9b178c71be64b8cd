"""Structured Streaming extension over the events table.

The reference has no streaming — its "incremental" is batch
watermarking (SURVEY.md §2.9). This module maps that watermark model
onto Structured Streaming: the I1 watermark (START/END advance)
becomes ``withWatermark`` + windowed aggregation, and the
availableNow trigger reproduces the scheduled micro-batch cadence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType


def start_stream(
    spark: SparkSession,
    writer: DataStreamWriter,
    shuffle_partitions: int | None = None,
) -> StreamingQuery:
    """``writer.start()`` under ``shuffle_partitions`` (when given):
    the query clones the session conf at start(), so the caller's
    value is restored right after without affecting the query."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    if shuffle_partitions is not None:
        spark.conf.set(key, str(shuffle_partitions))
    try:
        return writer.start()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set(key, prior)


def stream_events(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over parquet event batches (a drop location
    fed by the raw zone). Schema must be provided (streaming reads do
    not infer). ``max_files_per_trigger`` rate-limits each micro-batch
    (files are taken in modification-time order, i.e. landing order) —
    without it an availableNow drain swallows the whole backlog in one
    batch, so watermarks never advance mid-run and append-mode windows
    aren't emitted until a later trigger."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_size: str = "1 hour",
) -> DataFrame:
    """Late-data-tolerant per-type event counts: the streaming
    equivalent of the I1 batch watermark + A7 lookback semantics."""
    with_ts = events.withColumn("__event_time", F.col(ts_col).cast("timestamp"))
    return (
        with_ts.withWatermark("__event_time", watermark)
        .groupBy(F.window("__event_time", window_size), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Dedup-on-ingest: drop repeats of ``keys`` arriving within the
    watermark horizon (``dropDuplicatesWithinWatermark``), so state is
    bounded — the streaming counterpart of the batch W1 dedup, and the
    first stage of a training-data ingest (exact-dup suppression before
    anything expensive runs).

    Unlike plain ``dropDuplicates`` on a stream (whose state grows
    without bound), entries older than the watermark are evicted; a
    duplicate separated by more than the horizon is deduped downstream
    by the batch pass (operators/dedup.py:exact_dedup) — same bounded-
    lateness contract as the continuous rollup."""
    with_ts = events.withColumn("__event_time", F.col(ts_col).cast("timestamp"))
    return (
        with_ts.withWatermark("__event_time", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .drop("__event_time")
    )


def run_available_now(
    result: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    state_partitions: int | None = None,
) -> None:
    """Drain all available input once (the scheduled-batch cadence of
    the reference's EventBridge triggers) and stop.

    ``state_partitions`` sizes the stateful operator's state store
    (``spark.sql.shuffle.partitions`` latched at query start; the
    checkpoint pins it afterwards). Size it to the STATE cardinality,
    not the cluster: each state-store instance pays file-commit and
    snapshot machinery per micro-batch even when empty, which
    dominates small-state topologies (measured 3-5x of the wall clock
    on the corpus-stats gate under the 32-partition default — see
    streaming/corpus.py:run_complete_overwrite for the full note).
    Leave None when the state is genuinely wide (corpus-keyed dedup,
    high-cardinality sessionization at production scale)."""
    writer = (
        result.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    q = start_stream(result.sparkSession, writer, state_partitions)
    q.awaitTermination()
