"""The bench drains report what their state did. The dedup drain runs
with RocksDB row tracking off, so its live-row count comes from the
progress it hands back: every put of a key dedup is a new key, so
Σ numRowsUpdated − Σ numRowsRemoved is the live count."""

from __future__ import annotations

from dstream_spark.bench_pipeline import TRACK_ROWS, run_dedup_sink, run_window_sink
from dstream_spark.fixtures.transcripts import generate_transcripts, write_changefeed_batches
from dstream_spark.operators.dedup import dedup_stream
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import run_stream


def test_drains_report_state_rows_and_watermark_drops(spark, tmp_path):
    # 2 h conversations over 4 files in event-time order: the 30-minute
    # watermark evicts keys before the drain ends; 10% of rows are replays
    shuffled = generate_transcripts(n_convs=5, turns_per_conv=60, turn_gap_s=120,
                                    dup_fraction=0.1)
    pdf = shuffled.sort_values("ts", kind="stable")
    feed, late_feed = str(tmp_path / "feed"), str(tmp_path / "late_feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=4)
    write_changefeed_batches(spark, shuffled, late_feed, n_batches=4)
    n_keys = len(pdf[["conv_id", "turn_idx"]].drop_duplicates())
    confs = ("spark.sql.shuffle.partitions", TRACK_ROWS)
    before = [spark.conf.get(k, None) for k in confs]
    assert before[0] != "2"
    # each drain gives the session back its confs, set or unset
    res = run_dedup_sink(spark, feed, str(tmp_path / "dedup"), n_partitions=2,
                         files_per_trigger=1)
    assert [spark.conf.get(k, None) for k in confs] == before
    win = run_window_sink(spark, feed, str(tmp_path / "window"), n_partitions=2,
                          files_per_trigger=1)
    assert [spark.conf.get(k, None) for k in confs] == before
    late = run_dedup_sink(spark, late_feed, str(tmp_path / "late"), n_partitions=2,
                          files_per_trigger=1)
    assert [spark.conf.get(k, None) for k in confs] == before
    assert res["events"] == len(pdf) and res["out_rows"] == n_keys
    assert res["rows_dropped_by_watermark"] == 0
    assert win["rows_dropped_by_watermark"] == 0
    # out of event-time order, rows look late and are dropped: counted
    assert late["out_rows"] < n_keys and late["rows_dropped_by_watermark"] > 0

    # the same dedup drained with tracking on (the session default)
    assert spark.conf.get(TRACK_ROWS, "true") == "true"
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    progress = run_stream(
        dedup_stream(src, watermark="30 minutes"), "append",
        foreach_batch=lambda df, batch_id: df.write.format("noop").mode("overwrite").save(),
        checkpoint=str(tmp_path / "ckpt"),
    )
    totals = [op["numRowsTotal"] for p in progress for op in p["stateOperators"]]
    assert 0 < totals[-1] < max(totals)  # the watermark evicted keys
    assert res["state_rows"] == totals[-1]
