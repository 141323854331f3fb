"""Window suite: session windows split at gap boundaries (golden),
streaming session_window ≡ batch gaps-and-islands, late data dropped
behind the watermark (SURVEY.md §5.5 items 5-6)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dstream_spark.fixtures.transcripts import generate_transcripts, write_changefeed_batches
from dstream_spark.operators.windows import session_stream, sessionize_batch, tumbling


def test_session_gap_golden(spark):
    """3 sessions of 4 turns each, 1h silences between: exact split."""
    pdf = generate_transcripts(
        n_convs=1, turns_per_conv=12, session_gap_every=4, session_gap_s=3600.0
    )
    df = spark.createDataFrame(pdf)
    out = sessionize_batch(df, gap_seconds=1800).orderBy("session_idx").toPandas()
    assert list(out["n_turns"]) == [4, 4, 4]
    assert list(out["session_idx"]) == [1, 2, 3]


def test_sessions_split_across_a_dst_change(spark):
    """NTZ event time denotes UTC, so its epoch seconds do not depend on
    the session zone: 01:30 -> 03:30 on New York's spring-forward day is
    7200 s (a cast through the session zone reads 3600 s), and a 3600 s
    gap splits the pair."""
    from dstream_spark.operators.event_time import epoch_s

    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.sql(
            "SELECT 'c0' AS conv_id, * FROM VALUES "
            "(0, TIMESTAMP_NTZ '2024-03-10 01:30:00'), "
            "(1, TIMESTAMP_NTZ '2024-03-10 03:30:00') AS t(turn_idx, ts)"
        )
        span = df.select(F.max(epoch_s("ts")) - F.min(epoch_s("ts"))).first()[0]
        sessions = sessionize_batch(df, gap_seconds=3600).orderBy("session_idx").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert span == 7200
    assert [r.n_turns for r in sessions] == [1, 1]


def test_builtin_session_window_matches_batch_sessionize(spark):
    pdf = generate_transcripts(
        n_convs=6, turns_per_conv=20, session_gap_every=5, session_gap_s=7200.0
    )
    df = spark.createDataFrame(pdf)
    built_in = (
        session_stream(df, "30 minutes")
        .select("conv_id", "n_turns", "w_start")
        .toPandas()
        .sort_values(["conv_id", "w_start"])
        .reset_index(drop=True)
    )
    ours = (
        sessionize_batch(df, gap_seconds=1800)
        .select("conv_id", "n_turns", F.col("s_start").alias("w_start"))
        .toPandas()
        .sort_values(["conv_id", "w_start"])
        .reset_index(drop=True)
    )
    # session_window gap is (start, start+gap] exclusive vs our strict
    # > comparison: equal for gaps strictly larger than the threshold
    pd.testing.assert_frame_equal(built_in, ours, check_dtype=False)


def test_late_rows_dropped_behind_watermark(spark, tmp_path):
    """Append-mode windowed agg: once the watermark passes, a late row
    must not resurrect a closed window (north-rule late-data contract;
    the reference never faces this — its pipe delivery is ordered)."""
    import numpy as np

    from dstream_spark.sources.registry import changefeed

    base = pd.Timestamp("2024-03-01 00:00:00")

    def mk(ts_mins, tag):
        return pd.DataFrame(
            {
                "conv_id": ["c0"] * len(ts_mins),
                "turn_idx": np.arange(len(ts_mins), dtype="int32") + tag * 100,
                "role": ["user"] * len(ts_mins),
                "text": [f"x{tag}"] * len(ts_mins),
                "tool": [None] * len(ts_mins),
                "ts": [base + pd.Timedelta(minutes=m) for m in ts_mins],
            }
        )

    # batch 0 advances the watermark to 1:51; Spark applies the
    # late-row filter with a ONE-BATCH lag (the filter for batch N uses
    # the watermark committed before N started), so the first late row
    # (batch 1) is accepted and the second (batch 2) must be dropped.
    batches = [mk([0, 1, 120, 121], 0), mk([2], 1), mk([3], 2)]
    feed = str(tmp_path / "feed")
    for i, part in enumerate(batches):
        write_changefeed_batches(spark, part, feed, n_batches=1, start=i)

    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    agg = tumbling(src, "1 hour", keys=("conv_id",), watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1  # the batch-2 late row was dropped by the watermark
    out = spark.table("late_test").toPandas()
    # hour-0 window emitted once, WITHOUT the dropped late row
    h0 = out[out["w_start"] == base]
    assert len(h0) == 1 and int(h0["n_turns"].iloc[0]) == 3


def test_tumbling_batch_counts(spark):
    pdf = generate_transcripts(n_convs=3, turns_per_conv=10)
    df = spark.createDataFrame(pdf)
    out = tumbling(df, "1 hour", keys=("conv_id",))
    assert out.agg(F.sum("n_turns")).first()[0] == len(pdf)
