"""Change-event semantics: insert/update apply, per-conversation
cursor, lineage summaries — dstream's core contracts (SURVEY.md §2.3).

- ``apply_changes``: fold a change feed (insert/update rows with a
  monotonic _commit_version ← LSN analog) into current state: newest
  version per (conv_id, turn_idx) wins, deletes removed. This is the
  reference's OperationType handling
  (docs/capability-inventory.md:166-167) as a relational operator.

- ``lineage_summary``: per-conversation high-water mark — the
  reference's ``cdc_offsets`` table shape (table_name→conv_id,
  last_lsn/last_seq→max turn_idx, docs/capability-inventory.md:179-183).

- ``cursor_dedup_stream``: the per-table cursor loop
  (docs/plugins/mssql-ingester.md:64-73) as a stateful streaming
  operator: state per conv_id = max turn_idx seen; each micro-batch
  emits only unseen turns, in turn order. It is the scan-less form of
  the state driver the CEP patterns share (operators/state.py):
  applyInPandasWithState = grouped, Arrow-batched, state-store-backed —
  the idiomatic Spark form of "one goroutine per table with a
  persisted (LSN, Seq) cursor".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dstream_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
from dstream_spark.operators.state import apply_state, state_fn


def apply_changes(
    changes: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    version_col: str = "_commit_version",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Materialize current state from a change feed: latest version per
    key; rows whose latest change is a delete are dropped. Tolerates
    feeds without a change-type column (insert/update only)."""
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    out = changes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    if change_type_col in changes.columns:
        out = out.filter(F.col(change_type_col) != F.lit("delete"))
    return out.drop("_rn")


def lineage_summary(df: DataFrame, key: str = "conv_id") -> DataFrame:
    """Per-conversation cursor snapshot (cdc_offsets analog)."""
    return df.groupBy(key).agg(
        F.max("turn_idx").alias("max_turn_idx"),
        F.count(F.lit(1)).alias("n_turns"),
        F.max("ts").alias("updated_at"),
    )


def cursor_dedup_stream(df: DataFrame, ttl_s: int | None = None,
                        wm_delay_s: int = 1800) -> DataFrame:
    """Per-conv_id monotonic cursor dedup over a streaming transcript
    feed: the state driver's form with no scan (operators/state.py).
    Input must carry the transcript columns; output is the same
    schema, each (conv_id, turn_idx) emitted at most once and only in
    increasing turn_idx order.

    Note the semantic difference vs dropDuplicatesWithinWatermark: the
    cursor REJECTS regressions (a replayed turn below the high-water
    mark), matching dstream's LSN cursor, not just duplicate keys.

    ``ttl_s`` bounds state to ACTIVE conversations: the cursor is
    evicted once the event-time watermark (``wm_delay_s`` behind max
    event time) passes the conversation's newest turn + ttl_s. Safe
    under the same contract dropDuplicatesWithinWatermark relies on —
    any replay of an old turn carries an event time below the
    watermark and is filtered before the operator ever sees it, so a
    dropped cursor can no longer be regressed. State is O(tables ×
    ACTIVE conversations), the reference's cursor bound
    (docs/capability-inventory.md:179-183), instead of O(all
    conversations ever seen)."""
    return apply_state(df, state_fn(None, TRANSCRIPT_SCHEMA, ttl_s), TRANSCRIPT_SCHEMA,
                       ttl_s, wm_delay_s, cols=TRANSCRIPT_SCHEMA.fieldNames())
