"""Tumbling / sliding / session windows over event time.

The reference has no windowing (SURVEY.md §2.6); the north rule adds
it. All three window kinds work on BOTH batch and streaming DataFrames
(Spark's window()/session_window() are unified), so the oracle-checked
batch queries exercise the same code the streaming pipeline runs.

``sessionize_batch`` is the gaps-and-islands batch analog whose SQL
translation is exact (used for the DuckDB oracle); streaming uses the
built-in session_window which merges state incrementally.

Scale notes:
- windowed groupBy shuffles once on (window, key); partial aggregation
  runs map-side before the exchange (HashAggregate → Exchange →
  HashAggregate in the plan).
- session windows keyed on conv_id hold one state row per open
  conversation; the watermark closes and evicts sessions, bounding
  state on an unbounded stream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dstream_spark.operators.event_time import epoch_s, restore_ntz, with_event_time


def _flatten_window(out: DataFrame) -> DataFrame:
    rest = [c for c in out.columns if c != "w"]
    flat = out.select(
        F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), *rest
    )
    # watermark paths compute on TIMESTAMP instants; results are
    # restored to the engine's at-rest NTZ representation
    return restore_ntz(flat, ("w_start", "w_end"))


def _watermarked(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    if watermark and df.isStreaming:
        return with_event_time(df, ts_col).withWatermark(ts_col, watermark)
    return df


def tumbling(
    df: DataFrame,
    duration: str,
    keys: Sequence[str] = ("conv_id",),
    aggs: Sequence[Column] | None = None,
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Fixed windows; emits w_start/w_end as top-level columns."""
    df = _watermarked(df, ts_col, watermark)
    aggs = list(aggs) if aggs else [F.count(F.lit(1)).alias("n_turns")]
    return _flatten_window(
        df.groupBy(F.window(ts_col, duration).alias("w"), *keys).agg(*aggs)
    )


def sliding(
    df: DataFrame,
    duration: str,
    slide: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] | None = None,
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    df = _watermarked(df, ts_col, watermark)
    aggs = list(aggs) if aggs else [F.count(F.lit(1)).alias("n_turns")]
    return _flatten_window(
        df.groupBy(F.window(ts_col, duration, slide).alias("w"), *keys).agg(*aggs)
    )


def session_stream(
    df: DataFrame,
    gap: str,
    keys: Sequence[str] = ("conv_id",),
    aggs: Sequence[Column] | None = None,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Built-in session windows (streaming or batch): conversation-
    boundary detection, the analog of dstream's idle-table polling
    backoff (docs/capability-inventory.md:136 — SURVEY.md §2.1 S3)."""
    df = _watermarked(df, ts_col, watermark)
    aggs = list(aggs) if aggs else [F.count(F.lit(1)).alias("n_turns")]
    return _flatten_window(
        df.groupBy(F.session_window(ts_col, gap).alias("w"), *keys).agg(*aggs)
    )


def sessionize_batch(
    df: DataFrame,
    gap_seconds: int,
    key: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gaps-and-islands sessionization (batch): a new session starts
    when the gap from the previous event in the conversation exceeds
    ``gap_seconds``. Returns per-session (key, session_idx, n_turns,
    s_start, s_end). Exactly SQL-translatable → the DuckDB oracle.

    One shuffle on ``key`` serves both window functions and the final
    groupBy (same partitioning, Catalyst reuses the exchange).
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    epoch = epoch_s(ts_col)
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    sessed = df.withColumn("_new", new_sess).withColumn(
        "session_idx", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessed.groupBy(key, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min(ts_col).alias("s_start"),
            F.max(ts_col).alias("s_end"),
        )
        .withColumn("session_idx", F.col("session_idx").cast("int"))
    )
