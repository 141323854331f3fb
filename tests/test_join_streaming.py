"""Stream-stream stateful join: agent turns ↔ tool invocations, both
watermarked, time-bounded. The streaming result must equal the batch
join on the same data (SURVEY.md §5.5 item 7)."""

from __future__ import annotations

from dstream_spark.fixtures.transcripts import generate_transcripts, write_changefeed_batches
from dstream_spark.operators.joins import interval_join
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import run_stream


def test_stream_stream_join_matches_batch(spark, tmp_path):
    pdf = generate_transcripts(n_convs=6, turns_per_conv=15, seed=7)
    feed = str(tmp_path / "feed")
    for b in range(3):  # batch b holds every 3rd row from row b
        write_changefeed_batches(spark, pdf.iloc[b::3], feed, n_batches=1, start=b)

    def split(df):
        agents = df.filter(df.role == "agent").select("conv_id", "turn_idx", "ts")
        tools = df.filter(df.tool.isNotNull()).select("conv_id", "turn_idx", "tool", "ts")
        return agents, tools

    # batch oracle
    bdf = spark.createDataFrame(pdf)
    ba, bt = split(bdf)
    batch = (
        interval_join(ba, bt, lower_s=300, upper_s=300, how="inner")
        .select("conv_id", "turn_idx", "turn_idx_r", "tool_r")
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "turn_idx_r"])
        .reset_index(drop=True)
    )

    # streaming: same feed consumed twice (two independent source scans)
    agents_s = changefeed(spark, {"path": feed})
    tools_s = changefeed(spark, {"path": feed})
    a, _ = split(agents_s)
    _, t = split(tools_s)
    joined = interval_join(a, t, lower_s=300, upper_s=300, watermark="1 hour").select(
        "conv_id", "turn_idx", "turn_idx_r", "tool_r"
    )
    stream = (
        run_stream(joined, "append", checkpoint=str(tmp_path / "ckpt"))
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "turn_idx_r"])
        .reset_index(drop=True)
    )
    assert len(batch) > 0  # fixture actually produces correlations
    assert len(stream) == len(batch)
    import pandas as pd

    pd.testing.assert_frame_equal(stream, batch, check_dtype=False)


def test_asof_join_keeps_same_ts_left_rows(spark):
    """Two left rows sharing (conv_id, ts) must EACH get their own
    as-of match (regression: the pick window used to partition on
    (key, ts) and collapsed them to one arbitrary survivor). Tied
    right timestamps break deterministically on turn_idx desc."""
    import datetime as dt

    from dstream_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [("c0", 10, t0), ("c0", 11, t0), ("c0", 12, t0 + dt.timedelta(minutes=5))],
        "conv_id string, turn_idx int, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            ("c0", 1, "tool_a", t0 - dt.timedelta(minutes=1)),
            ("c0", 2, "tool_b", t0 - dt.timedelta(minutes=1)),  # ts tie → higher turn_idx wins
            ("c0", 3, "tool_c", t0 + dt.timedelta(minutes=4)),
        ],
        "conv_id string, turn_idx int, tool string, ts timestamp_ntz",
    )
    out = {r.turn_idx: r for r in asof_join(left, right).collect()}
    assert set(out) == {10, 11, 12}  # every left row survives
    assert out[10].tool_r == "tool_b" and out[11].tool_r == "tool_b"
    assert out[12].tool_r == "tool_c"
