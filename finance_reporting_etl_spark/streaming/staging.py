"""Deterministic file-stream replays: one lifecycle, two fold shapes.

Every streaming catalog query replays a bounded fixture through a real
Structured Streaming query. The replay decisions are made here, once:

- :func:`run_file_stream` is the lifecycle. It creates a tempdir, stages
  the source under ``{tmp}/src``, starts the stream with its checkpoint
  at ``{tmp}/ckpt`` and its sink at ``{tmp}/sink``, and awaits bounded
  termination (a timed-out stream would leave a partially-populated
  sink, so it fails loudly instead of returning a wrong answer). The
  read-back is snapshotted with ``localCheckpoint`` so it survives the
  tempdir removal.
- Streams run ``Trigger.AvailableNow`` (drain what is staged, then
  stop). :func:`file_stream` reads one staged file per micro-batch, so
  arrival order, watermark advance and state timeouts are reproducible.
- :func:`stage_microbatches` writes each batch DataFrame as ONE parquet
  file with a fixed, strictly increasing mtime, the order the file
  source replays them in on any filesystem.
- :func:`stage_chronological_streams` stages the events fixture as
  per-event-type 2-file chronological sources with an EMPTY epilogue
  file, the shape stream-stream outer joins need (the epilogue forces
  a final micro-batch that runs with the watermark derived from the
  last data batch, so null-pad emission does not depend on whether a
  trailing no-data batch gets scheduled).

Queries that fold micro-batches through ``foreachBatch`` state only
their per-batch logic and their read-back, in one of two shapes:

- :func:`replay_partial_fold`: each batch maps to a partial DataFrame,
  written to the sink's ``batch_id=N`` partition. ``foreachBatch`` is
  at-least-once, so a retried batch overwrites its own partial instead
  of double-counting; the read-back merges the partials.
- :func:`replay_state_fold`: each batch is combined with the state so
  far (None before the first batch); the new state is written beside
  the old one and swapped in by ``merge.overwrite_state_dir``.

Operators with a built-in sink (memory, parquet append) take the
checkpoint dir and start their own query inside the same lifecycle.
Production pipelines point the same operators at real object-store
prefixes; only this staging layer is test-specific.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_reporting_etl_spark.streaming.merge import overwrite_state_dir

# A replay that has not drained by then is reported as failed.
_TIMEOUT_S = 300
# Staged file i gets mtime _BASE_MTIME + i * _MTIME_STEP.
_BASE_MTIME, _MTIME_STEP = 1_700_000_000, 100


def run_file_stream(
    spark: SparkSession,
    write_source: Callable[[str], None],
    start_stream: Callable[[str, object, str, str], object],
    read_result: Callable[[str], DataFrame],
    label: str,
    infer_schema: bool = True,
) -> DataFrame:
    """Full replay lifecycle around a tempdir: ``write_source(src)``
    stages the input files, ``start_stream(src, schema, ckpt, sink)``
    returns the StreamingQuery, ``read_result(sink)`` reads the sink
    once the stream has drained. The result is snapshotted with
    ``localCheckpoint(eager=True)`` before the tempdir is removed.
    Pass ``infer_schema=False`` when ``src`` holds per-stream
    SUBdirectories (multi-source replays): reading the parent for a
    schema would fail, so ``start_stream`` receives None and derives
    schemas from its own subdirs."""
    tmp = tempfile.mkdtemp(prefix="stream_")
    try:
        src, ckpt, sink = f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/sink"
        write_source(src)
        schema = spark.read.parquet(src).schema if infer_schema else None
        q = start_stream(src, schema, ckpt, sink)
        if not q.awaitTermination(_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"{label} did not finish within {_TIMEOUT_S}s")
        out = read_result(sink).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def file_stream(spark: SparkSession, src: str, schema) -> DataFrame:
    """The replay source: a parquet file stream over ``src`` that takes
    one staged file per micro-batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)


def start_available_now(writer, checkpoint_dir: str):
    """Start a replay's ``DataStreamWriter``: checkpointed under
    ``checkpoint_dir``, ``Trigger.AvailableNow``."""
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _foreach_batch_replay(spark, write_source, on_batch, read_back, label):
    """Replay through ``foreachBatch``: ``on_batch(batch, batch_id,
    sink)`` runs once per micro-batch and ``read_back`` receives the
    sink read as parquet."""

    def start(src, schema, ckpt, sink):
        return start_available_now(
            file_stream(spark, src, schema).writeStream.foreachBatch(
                lambda batch, batch_id: on_batch(batch, batch_id, sink)
            ),
            ckpt,
        )

    return run_file_stream(
        spark,
        write_source,
        start,
        lambda sink: read_back(spark.read.parquet(sink)),
        label,
    )


def replay_partial_fold(
    spark: SparkSession,
    write_source: Callable[[str], None],
    fold_batch: Callable[[DataFrame], DataFrame],
    read_back: Callable[[DataFrame], DataFrame],
    label: str,
) -> DataFrame:
    """Partial fold: ``fold_batch(batch)`` maps each micro-batch to a
    partial, written to ``sink/batch_id=N``; ``read_back(partials)``
    merges them (the partials carry a ``batch_id`` column). Exact for
    any batch split when the merge is associative and commutative,
    e.g. a groupBy-sum over integer partials."""

    def on_batch(batch, batch_id, sink):
        fold_batch(batch).write.mode("overwrite").parquet(
            f"{sink}/batch_id={batch_id}"
        )

    return _foreach_batch_replay(spark, write_source, on_batch, read_back, label)


def replay_state_fold(
    spark: SparkSession,
    write_source: Callable[[str], None],
    step: Callable[[DataFrame | None, DataFrame], DataFrame],
    read_back: Callable[[DataFrame], DataFrame],
    label: str,
) -> DataFrame:
    """State fold: ``step(state, batch)`` returns the new state, where
    ``state`` is the persisted parquet state or None before the first
    batch; the new state replaces the old through
    ``overwrite_state_dir``. ``read_back(state)`` shapes the final
    state."""

    def on_batch(batch, _batch_id, state_dir):
        state = _read_state(batch.sparkSession, state_dir)
        overwrite_state_dir(step(state, batch), state_dir)

    return _foreach_batch_replay(spark, write_source, on_batch, read_back, label)


def _read_state(sess: SparkSession, path: str) -> DataFrame | None:
    """Read a maintained parquet state dir, or None when it does not
    exist yet. Probes existence through the Hadoop FileSystem first: a
    bare except around read.parquet would treat ANY transient failure
    (S3 throttle, corrupt footer, permission blip) as 'first batch'
    and let the subsequent overwrite destroy all accumulated state.
    Real read errors propagate."""
    hp = sess._jvm.org.apache.hadoop.fs.Path(path)
    if not hp.getFileSystem(sess._jsc.hadoopConfiguration()).exists(hp):
        return None
    return sess.read.parquet(path)


def stage_microbatches(batches: Sequence[DataFrame], src_dir: str) -> str:
    """Write each DataFrame as one parquet file under ``src_dir`` with
    strictly increasing mtimes, so :func:`file_stream` replays them as
    ordered micro-batches. Empty DataFrames are staged too (epilogue
    batches).

    All non-empty batches land in ONE tagged, batch-partitioned write
    job (``repartition(tag)`` puts every row of a batch in a single
    task, so each partition directory holds exactly one file) instead
    of one coalesce(1) job per batch — the per-query staging cost of
    the 16 streaming replays was dominated by those serial one-task
    jobs. Batch content is unchanged; within-batch row order is not
    part of any replay's contract (micro-batch folds are order-free by
    design, which is what each streaming==batch oracle proves).

    All batches must share ONE schema (they are unioned into the
    single tagged write — a requirement the old per-batch coalesce(1)
    writes did not have); ``batches`` must be non-empty (ADVICE r14)."""
    if not batches:
        raise ValueError("stage_microbatches: batches must be non-empty")
    os.makedirs(src_dir, exist_ok=True)
    tagged = None
    for i, b in enumerate(batches):
        t = b.withColumn("__mb", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    stage = f"{src_dir}_stage"
    tagged.repartition("__mb").write.mode("overwrite").partitionBy(
        "__mb"
    ).parquet(stage)
    for i, b in enumerate(batches):
        part_dir = f"{stage}/__mb={i}"
        dst = f"{src_dir}/batch{i}.parquet"
        if os.path.isdir(part_dir):
            parts = [
                x for x in os.listdir(part_dir) if x.endswith(".parquet")
            ]
            assert len(parts) == 1, (
                f"batch {i}: expected one file after repartition, got "
                f"{parts}"
            )
            shutil.copy(f"{part_dir}/{parts[0]}", dst)
        else:
            # empty batch (epilogue): no partition dir was written —
            # stage it the old way so the schema-carrying empty file
            # still forces its no-data micro-batch
            empty_stage = f"{src_dir}_stage_empty{i}"
            b.coalesce(1).write.mode("overwrite").parquet(empty_stage)
            part = next(
                x for x in os.listdir(empty_stage) if x.endswith(".parquet")
            )
            shutil.copy(f"{empty_stage}/{part}", dst)
        os.utime(dst, (_BASE_MTIME + i * _MTIME_STEP,) * 2)
    return src_dir


def stage_chronological_streams(events: DataFrame, src: str) -> None:
    """Stage the view and purchase events of the (user_id, ts,
    event_type) events frame as ``{src}/views`` and ``{src}/purchases``:
    each a 2-file chronological stream source plus an empty epilogue
    file (see module docstring)."""
    ev = events.select("user_id", "ts", "event_type")
    mid = ev.agg(
        F.timestamp_micros(
            ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2).cast("long")
        ).alias("m")
    ).collect()[0]["m"]
    for typ in ("view", "purchase"):
        halves = (
            (F.col("ts") <= mid),
            (F.col("ts") > mid),
            F.lit(False),  # empty epilogue batch
        )
        stage_microbatches(
            [
                ev.filter((F.col("event_type") == typ) & half).select("user_id", "ts")
                for half in halves
            ],
            f"{src}/{typ}s",
        )
