"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.8 — the escape hatch for per-key logic Spark's built-in
stateful operators can't express).

The demo operator keeps a per-key running aggregate (count + sum) in
explicit ``GroupState`` across micro-batches and emits the updated
running totals once per key per batch, tagged with an update sequence
number. Because count/sum are commutative, the *last* emission per key
equals the batch ``groupBy`` — which is exactly what the oracle checks —
while the emission log itself demonstrates the cross-batch state
machinery (one file per micro-batch forces several micro-batches even
in an AvailableNow replay).

Scale notes: state lives in the executor-side state store keyed by the
grouping column — per-key bytes are a 3-tuple, so state size is bounded
by key cardinality, not stream length. Arrow moves each key-group to
Python in batches; for a pure count/sum the built-in windowed agg is
cheaper (stays JVM-side) — reach for this operator only when the
per-key transition function is genuinely custom (decay models, CUSUM
detectors, per-user ML features).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from finance_reporting_etl_spark.functions.scalars import det_round_py
from finance_reporting_etl_spark.streaming.staging import (
    file_stream,
    start_available_now,
)

STATE_SCHEMA = "n BIGINT, total DOUBLE, seq INT"


def _make_updater(value_col: str, key_col: str):
    def update(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total, seq = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # pandas sum skips NaN == SQL SUM skips NULL (keys with only
            # NULL values yield 0.0, not NULL — acceptable for the demo)
            total += float(pdf[value_col].sum())
        seq += 1
        state.update((n, total, seq))
        yield pd.DataFrame(
            {key_col: [key[0]], "upd_seq": [seq], "n_events": [n], "total_value": [total]}
        )

    return update


SESSION_STATE_SCHEMA = "start_ms BIGINT, last_ms BIGINT, n BIGINT, total DOUBLE"


def _session_updater(key_col: str, ts_col: str, value_col: str, gap_ms: int):
    """Per-key gap sessionizer with event-time timeout.

    In-batch: rows are gap-split; every closed session emits
    immediately. The open tail is carried in GroupState with
    ``setTimeoutTimestamp(last + gap)``; when the watermark passes that
    instant with no new data, Spark calls this function with
    ``hasTimedOut`` and the session emits exactly once. A tail whose
    close already trails the current watermark emits inline (Spark
    rejects timeout timestamps behind the watermark).
    """

    gap_us = gap_ms * 1000  # state tracks microseconds (full ts precision)

    def update(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        out: list[tuple[int, int, int, float]] = []  # (start_us, end_us, n, total)
        if state.hasTimedOut:
            start, last, n, total = state.get
            out.append((start, last + gap_us, n, total))
            state.remove()
        else:
            cur = state.get if state.exists else None
            frames = [p for p in pdfs if len(p)]
            if frames:
                data = pd.concat(frames).sort_values(ts_col)
                ts_us = (data[ts_col].astype("int64") // 1_000).tolist()
                vals = data[value_col].tolist()
                for t, v in zip(ts_us, vals):
                    if cur is None:
                        cur = (t, t, 1, float(v))
                    elif t - cur[1] >= gap_us:
                        out.append((cur[0], cur[1] + gap_us, cur[2], cur[3]))
                        cur = (t, t, 1, float(v))
                    else:
                        cur = (cur[0], t, cur[2] + 1, cur[3] + float(v))
            if cur is not None:
                wm_ms = state.getCurrentWatermarkMs()
                close_us = cur[1] + gap_us
                if close_us <= wm_ms * 1000:  # already expired: emit inline
                    out.append((cur[0], close_us, cur[2], cur[3]))
                    if state.exists:
                        state.remove()
                else:
                    state.update(cur)
                    # GroupState timeouts are ms-granular; ceil so the
                    # timeout never fires before the true close instant
                    state.setTimeoutTimestamp(-(-close_us // 1000))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(out),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in out],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in out],
                "n_events": [n for _, _, n, _ in out],
                "total_value": [det_round_py(t, 6) for _, _, _, t in out],
            }
        )

    return update


def stateful_session_timeout(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    output_table: str = "stateful_session_stream",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
):
    """Gap sessionization as a CUSTOM stateful operator with
    ``GroupStateTimeout.EventTimeTimeout`` — the session-close-on-
    timeout machinery a built-in ``session_window`` hides. Sessions
    emit exactly once: mid-batch when the gap splits them, or on
    watermark timeout for the open tail. State per key is a 4-tuple;
    expiry bounds it by the watermark horizon, not stream length.

    Source files must be chronologically disjoint (each batch's rows
    newer than the last) — then "expired => no in-gap continuation"
    holds for any watermark delay > 0 and the emitted set equals batch
    gap-sessionization minus tails the final watermark left open.
    """
    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)
    key_type = schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, session_start TIMESTAMP, session_end TIMESTAMP, "
        "n_events BIGINT, total_value DOUBLE"
    )
    stream = file_stream(spark, source_dir, schema)
    sessions = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            _session_updater(key_col, ts_col, value_col, gap_ms),
            outputStructType=out_schema,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return start_available_now(
        sessions.writeStream.format("memory")
        .queryName(output_table)
        .outputMode("append"),
        checkpoint_dir,
    )


def stateful_running_totals(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    output_table: str = "stateful_totals_stream",
    key_col: str = "user_id",
    value_col: str = "value",
):
    """AvailableNow file stream -> per-key GroupState running totals.

    Emits ``(key, upd_seq, n_events, total_value)`` per key per
    micro-batch; the caller reduces to the final state with
    ``max_by(..., upd_seq)``. Memory sink for the bounded-replay demo —
    the logical plan is sink-agnostic.

    Returns the StreamingQuery; caller awaits termination then reads
    ``spark.table(output_table)``.
    """
    key_type = schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, upd_seq INT, n_events BIGINT, total_value DOUBLE"
    )
    stream = file_stream(spark, source_dir, schema)
    updated = stream.groupBy(key_col).applyInPandasWithState(
        _make_updater(value_col, key_col),
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return start_available_now(
        updated.writeStream.format("memory")
        .queryName(output_table)
        .outputMode("update"),
        checkpoint_dir,
    )
