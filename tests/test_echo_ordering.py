"""Echo/ordering golden — the reference's identity-relay contract
(TestProviderEchoRelay, pkg/executor/handshake_test.go:338-383):
N turns in → N identical turns out, stable order within each
conversation. Ours: change feed → exactly-once sink → per-turn text
equality under (conv_id, turn_idx) ordering (BASELINE.json invariant).
"""

from __future__ import annotations

from dstream_spark.fixtures.transcripts import generate_transcripts, write_changefeed_batches
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import Pipeline, run_stream


def test_echo_identity_and_order(spark, tmp_path):
    pdf = generate_transcripts(n_convs=8, turns_per_conv=12)
    feed = str(tmp_path / "feed")
    for b in range(3):  # batch b holds every 3rd row from row b
        write_changefeed_batches(spark, pdf.iloc[b::3], feed, n_batches=1, start=b)
    sink = MergeSink(str(tmp_path / "table"), n_partitions=4)
    pipe = Pipeline(
        spark,
        {
            "name": "echo",
            "source": {"type": "changefeed", "path": feed},
            "sink": {"type": "merge", "sink": sink},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"availableNow": True},
        },
    )
    pipe.run().awaitTermination()
    pipe.stop()

    out = sink.read_table(spark).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(out) == len(exp)
    # per-turn text equality under stable (conv_id, turn_idx) order —
    # the per-row invariant from BASELINE.json input_hint
    assert list(out["text"]) == list(exp["text"])
    assert list(out["conv_id"]) == list(exp["conv_id"])
    assert list(out["turn_idx"]) == list(exp["turn_idx"])


def test_sink_files_sorted_within_partition(spark, tmp_path):
    """The ordered-delivery contract on disk: rows inside each written
    file are sorted by (conv_id, turn_idx) — R1's order preservation
    restated for files."""
    import glob

    import pyarrow.parquet as pq

    pdf = generate_transcripts(n_convs=5, turns_per_conv=10)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=1)
    sink = MergeSink(str(tmp_path / "table"), n_partitions=2)
    src = changefeed(spark, {"path": feed})
    run_stream(src, "append", foreach_batch=sink.process_batch, checkpoint=str(tmp_path / "ckpt"))
    for f in glob.glob(f"{sink.data_dir}/**/*.parquet", recursive=True):
        t = pq.read_table(f).to_pandas()
        if len(t) > 1:
            s = t.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            assert list(t["conv_id"]) == list(s["conv_id"])
            assert list(t["turn_idx"]) == list(s["turn_idx"])
