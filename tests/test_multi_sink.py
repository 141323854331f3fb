"""Multi-sink fanout (R3 per-table routing + K4 sink factory): one
stream, N destinations, independent lineage/idempotency per sink
(per-table failure isolation, docs/capability-inventory.md:195-199)."""

from __future__ import annotations

from dstream_spark.fixtures.transcripts import generate_transcripts, write_changefeed_batches
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.streaming.pipeline import Pipeline


def test_multi_sink_fanout_and_isolation(spark, tmp_path):
    pdf = generate_transcripts(n_convs=4, turns_per_conv=8)
    feed = str(tmp_path / "feed")
    for b in range(2):  # batch b holds every 2nd row from row b
        write_changefeed_batches(spark, pdf.iloc[b::2], feed, n_batches=1, start=b)
    sinks = [MergeSink(str(tmp_path / f"tbl{i}"), n_partitions=2) for i in range(3)]
    pipe = Pipeline(
        spark,
        {
            "name": "fanout",
            "source": {"type": "changefeed", "path": feed},
            "sink": {"type": "multi", "sinks": sinks},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"availableNow": True},
        },
    )
    pipe.run().awaitTermination()
    pipe.stop()
    for s in sinks:
        assert s.read_table(spark).count() == len(pdf)
        assert s.status()["committed_batches"] == 2

    # isolation: one sink replaying an epoch doesn't disturb the others
    sdf = sinks[0].read_table(spark).limit(5)
    sinks[0].process_batch(sdf, 0)  # replay on sink 0 → no-op
    assert sinks[0].read_table(spark).count() == len(pdf)
    assert sinks[1].read_table(spark).count() == len(pdf)
