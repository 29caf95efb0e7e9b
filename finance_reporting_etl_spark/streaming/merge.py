"""Streaming incremental upsert as a state fold (§2.8 x O5).

Each micro-batch of an event stream is upserted into a maintained
latest-row-per-key table with the engine's own ``merge_latest``
(``staging.replay_state_fold`` runs the fold; :func:`upsert_latest` is
its step).

Latest-per-key is an argmin over the total order (order_col DESC,
tiebreak ASC), which is associative — merging batch-by-batch reaches
the same fixpoint as one merge over the union, for ANY batch split.
That associativity is what the oracle checks.

Scale boundary (documented, deliberate): the demo target is a plain
parquet directory, so each batch rewrites the full table (written to a
sibling dir then swapped in — you cannot lazily read and overwrite the
same path). Production swaps the body for a transactional
MERGE INTO (Delta/Iceberg) or dynamic partition overwrite touching only
the partitions present in the batch; the streaming plumbing
(checkpointing, batch boundaries, exactly-once-per-batch) is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from finance_reporting_etl_spark.operators.incremental import (
    checked_swap,
    merge_latest,
)


def overwrite_state_dir(df: DataFrame, path: str) -> None:
    """Replace a maintained parquet state dir with ``df`` when the
    plan READS the same dir: write ``path__next``, then swap it in with
    ``checked_swap`` (``path__old`` holds the live dir during the swap).

    The crash policy is ``checked_swap``'s: the live dir is renamed
    aside, never deleted first, and restored if the swap-in fails. A
    ``path__old`` without ``path`` means an earlier swap crashed
    mid-rename and the backup is the only copy, so the call raises
    ``IOError`` and leaves it in place. The two-rename window is still
    not transactional — the module docstring scopes plain parquet
    state to the demo harness; production uses MERGE INTO."""
    sess = df.sparkSession
    staged = path + "__next"
    df.write.mode("overwrite").parquet(staged)
    HPath = sess._jvm.org.apache.hadoop.fs.Path
    live = HPath(path)
    fs = live.getFileSystem(sess._jsc.hadoopConfiguration())
    checked_swap(fs, live, HPath(staged), HPath(path + "__old"))


def upsert_latest(
    state: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """State-fold step: the latest row per key over ``state`` (None
    before the first batch) and ``batch``."""
    combined = batch if state is None else state.unionByName(batch)
    return merge_latest(combined, keys, order_col, tiebreak_col)
