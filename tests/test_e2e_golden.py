"""SURVEY §5.5 item 8 — the reference's e2e golden-count scenario
(test/e2e/e2e_test.go:224-259: insert 3 Persons + 3 Cars, expect
exactly 6 CDC events): two conversations x three turns streamed
through the full pipeline land EXACTLY 6 rows in the sink, 3 per
conversation, in turn order. Also the contract of the feed writer
those runs stand on (``land_file``)."""

from __future__ import annotations

import datetime as dt
import os

from dstream_spark.fixtures.transcripts import (
    CHANGEFEED_SCHEMA,
    generate_transcripts,
    land_file,
    write_changefeed_batches,
)
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import Pipeline, run_stream


def test_e2e_golden_six_rows(spark, tmp_path):
    import pandas as pd

    t0 = dt.datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        ("person", i, "user", f"person turn {i}", None, t0 + dt.timedelta(seconds=30 * i))
        for i in range(3)
    ] + [
        ("car", i, "agent", f"car turn {i}", None, t0 + dt.timedelta(seconds=30 * i + 5))
        for i in range(3)
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=2)

    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    pipe = Pipeline(
        spark,
        {
            "name": "golden6",
            "source": {"type": "changefeed", "path": feed, "max_files_per_trigger": 1},
            "sink": {"type": "merge", "sink": sink},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"availableNow": True},
        },
    )
    pipe.init()
    q = pipe.run()
    q.awaitTermination()
    pipe.stop()

    out = sink.read_table(spark)
    assert out.count() == 6  # the golden count
    per_conv = {r.conv_id: r.n for r in out.groupBy("conv_id").count().withColumnRenamed("count", "n").collect()}
    assert per_conv == {"person": 3, "car": 3}
    # ordered delivery: per-turn text equality under (conv_id, turn_idx)
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in out.select("conv_id", "turn_idx", "text").collect()
    }
    for conv_id, turn_idx, _role, text, _tool, _ts in rows:
        assert got[(conv_id, turn_idx)] == text


def test_land_file_replays_in_batch_order(spark, tmp_path):
    """One file per batch, replayed in batch order whatever order the
    files were landed in; ``start`` numbers both the file and its
    _commit_version; a zero-row batch is still one file and one
    micro-batch."""
    pdf = generate_transcripts(n_convs=2, turns_per_conv=5)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=2, start=1)  # batches 1, 2
    land_file(spark.createDataFrame([], CHANGEFEED_SCHEMA), feed, 0)  # zero rows, landed last
    assert sorted(os.listdir(feed)) == [f"batch_{b:05d}.parquet" for b in range(3)]

    seen = []  # the _commit_version of every row, per micro-batch

    def record(df, batch_id):
        seen.append([r[0] for r in df.select("_commit_version").collect()])

    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    run_stream(src, "append", foreach_batch=record)
    assert seen == [[], [1] * 5, [2] * 5]


def test_feed_lands_on_the_arrow_path(spark, tmp_path):
    """Generated ``ts`` values are whole microseconds, so the feed
    writer's createDataFrame takes Arrow's safe cast and raises no
    fallback warning, and the landed rows keep their exact ``ts``."""
    import warnings

    pdf = generate_transcripts(n_convs=3, turns_per_conv=5, seed=3)
    assert (pdf["ts"].dt.nanosecond == 0).all()
    feed = str(tmp_path / "feed")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        write_changefeed_batches(spark, pdf, feed, n_batches=2)
    got = {(r.conv_id, r.turn_idx, r.ts) for r in spark.read.parquet(feed).collect()}
    assert got == {
        (c, int(i), ts.to_pydatetime())
        for c, i, ts in zip(pdf["conv_id"], pdf["turn_idx"], pdf["ts"])
    }
