"""Streaming exact deduplication (§2.8 upgrade of X1).

At-least-once delivery (Kafka replays, file re-drops, retried batches)
makes duplicate records a fact of life in event pipelines; the streaming
fix is ``dropDuplicatesWithinWatermark``: keep the first record per key,
hold per-key state only until the watermark passes the key's event time.
State is bounded by (watermark horizon x key arrival rate), not by
stream length — the property that lets this run forever at 100 TB/day,
unlike an unbounded ``dropDuplicates`` whose state grows monotonically.

Emission is append-mode and immediate (dedup is filter-like, not an
aggregation — nothing waits for window close), so downstream stages see
first-arrival latency.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from finance_reporting_etl_spark.streaming.staging import start_available_now


def streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    output_table: str = "dedup_stream",
    id_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "90 days",
):
    """AvailableNow file-stream dedup into a memory sink (bounded-replay
    demo; swap the sink for parquet/Kafka in production — the logical
    plan is sink-agnostic). ``watermark`` must exceed the max key-repeat
    lag you need to catch; duplicates arriving later than it are passed
    through by design (that's the state bound).

    Returns the StreamingQuery; caller awaits termination then reads
    ``spark.table(output_table)``.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    deduped = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(id_cols)
    )
    return start_available_now(
        deduped.writeStream.format("memory")
        .queryName(output_table)
        .outputMode("append"),
        checkpoint_dir,
    )
