"""CommitProtocol contract beyond the single-writer path: a second
publish of a committed epoch must leave the committed epoch untouched,
and the protocol must hold behind a real Structured Streaming run.
Replay idempotency and crash-window invisibility are in
test_checkpoint_resume.py, compaction in test_sink_maintenance.py.
Reference contract: MERGE-upsert checkpoint table +
publish-then-advance, docs/capability-inventory.md:179-183."""

from __future__ import annotations

import glob
import os

from dstream_spark.fixtures.transcripts import generate_transcripts, write_changefeed_batches
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import run_stream


def _sdf(spark, pdf):
    return spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])


def test_duplicate_publish_keeps_first_writer_and_cleans_up(spark, tmp_path):
    """Two writers publishing the same epoch (split-brain replay): the
    second finds the epoch committed, removes its staged dirs, and the
    table serves the first writer's rows."""
    pdf = generate_transcripts(n_convs=2, turns_per_conv=3)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    sdf = _sdf(spark, pdf)
    sink.process_batch(sdf, 3)
    # bypass the committed_batches() fast path: force a second publish
    sink.protocol.publish(
        3,
        lambda p: sdf.limit(1).write.mode("overwrite").parquet(p),
        lambda p: sdf.limit(1).write.mode("overwrite").parquet(p),
    )
    assert sink.read_table(spark).count() == len(pdf)  # first writer won
    assert sink.committed_batches() == {3}
    # the loser's staged dirs are gone
    assert glob.glob(f"{sink.table_dir}/*/*.tmp-*") == []


def test_commit_protocol_streaming_end_to_end(spark, tmp_path):
    """The commit protocol behind a REAL Structured Streaming
    foreachBatch run: replayed feed file + restart ⇒ no loss, no dup."""
    pdf = generate_transcripts(n_convs=5, turns_per_conv=8)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=2)  # halves 0, 1
    # batch 2 replays the first half
    write_changefeed_batches(spark, pdf.iloc[: len(pdf) // 2], feed, n_batches=1, start=2)

    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    src = changefeed(spark, {"path": feed})
    run_stream(src, "append", foreach_batch=sink.process_batch, checkpoint=str(tmp_path / "ckpt"))
    out = sink.read_table(spark)
    assert out.count() == len(pdf)  # replayed slice deduped
    assert out.select("conv_id", "turn_idx").distinct().count() == len(pdf)
    # the rename layout: one committed data + lineage dir per epoch
    assert sorted(os.listdir(sink.data_dir)) == sorted(os.listdir(sink.lineage_dir))
    assert sink.committed_batches() == {
        int(e.split("=", 1)[1]) for e in os.listdir(sink.data_dir)
    }
