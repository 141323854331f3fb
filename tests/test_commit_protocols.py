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

from dstream_spark.fixtures.transcripts import generate_transcripts
from dstream_spark.sinks.merge import MergeSink


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
    import numpy as np

    from dstream_spark.fixtures.transcripts import CHANGEFEED_SCHEMA
    from dstream_spark.sources.registry import changefeed

    pdf = generate_transcripts(n_convs=5, turns_per_conv=8)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    half = len(pdf) // 2
    for i, sl in enumerate((pdf.iloc[:half], pdf.iloc[half:], pdf.iloc[:half])):
        part = sl.copy()
        part["_change_type"] = "insert"
        part["_commit_version"] = np.int64(i)
        sdf = spark.createDataFrame(part, schema=CHANGEFEED_SCHEMA)
        tmp = f"{feed}/b{i}.tmp"
        sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, src), f"{feed}/b{i}.parquet")
        import shutil

        shutil.rmtree(tmp)
        os.utime(f"{feed}/b{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    q = (
        changefeed(spark, {"path": feed})
        .writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = sink.read_table(spark)
    assert out.count() == len(pdf)  # replayed slice deduped
    assert out.select("conv_id", "turn_idx").distinct().count() == len(pdf)
    # the rename layout: one committed data + lineage dir per epoch
    assert sorted(os.listdir(sink.data_dir)) == sorted(os.listdir(sink.lineage_dir))
    assert sink.committed_batches() == {
        int(e.split("=", 1)[1]) for e in os.listdir(sink.data_dir)
    }
