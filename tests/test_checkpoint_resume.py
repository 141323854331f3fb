"""Checkpoint/resume + exactly-once — the reference's D2-D4 contracts
(docs/capability-inventory.md:179-183, docs/plugins/mssql-ingester.md:
84-87): stop mid-stream, restart from checkpoint, no loss and no dups;
replayed epochs are harmless."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from dstream_spark.fixtures.transcripts import generate_transcripts, write_changefeed_batches
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import run_stream


def test_resume_from_checkpoint_no_loss_no_dup(spark, tmp_path):
    pdf = generate_transcripts(n_convs=6, turns_per_conv=10)
    half = len(pdf) // 2
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    sink = MergeSink(str(tmp_path / "table"), n_partitions=4)

    def drain():
        src = changefeed(spark, {"path": feed})
        run_stream(src, "append", foreach_batch=sink.process_batch, checkpoint=ckpt)

    # phase 1: only the first half of the stream exists; drain it
    write_changefeed_batches(spark, pdf.iloc[:half], feed, n_batches=1)
    drain()  # "crash": query fully stopped mid-stream
    n_phase1 = sink.read_table(spark).count()
    assert n_phase1 == half

    # phase 2: rest of the stream arrives; RESTART from same checkpoint
    write_changefeed_batches(spark, pdf.iloc[half:], feed, n_batches=1, start=1)
    drain()

    out = sink.read_table(spark)
    assert out.count() == len(pdf)  # no loss
    assert out.select("conv_id", "turn_idx").distinct().count() == len(pdf)  # no dup


def test_replayed_epoch_is_idempotent(spark, tmp_path):
    """Crash between sink write and offset commit ⇒ same (batch_df,
    batch_id) delivered again. The commit marker makes it a no-op."""
    pdf = generate_transcripts(n_convs=3, turns_per_conv=5)
    sink = MergeSink(str(tmp_path / "table"), n_partitions=2)
    sdf = spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])
    sink.process_batch(sdf, 7)
    first = sink.read_table(spark).toPandas().sort_values(["conv_id", "turn_idx"])
    sink.process_batch(sdf, 7)  # replay
    second = sink.read_table(spark).toPandas().sort_values(["conv_id", "turn_idx"])
    assert len(first) == len(pdf)
    assert first.reset_index(drop=True).equals(second.reset_index(drop=True))
    assert sink.status()["committed_batches"] == 1


def test_uncommitted_data_is_invisible(spark, tmp_path, monkeypatch):
    """Crash AFTER data files, BEFORE the lineage marker: reader must
    not see the orphaned batch (commit-by-marker protocol). Covers a
    lost lineage dir and a crash inside the file-derived lineage write
    (data staged, nothing renamed yet)."""
    import shutil

    pdf = generate_transcripts(n_convs=2, turns_per_conv=4)
    sink = MergeSink(str(tmp_path / "table"), n_partitions=2)
    sdf = spark.createDataFrame(pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]])
    sink.process_batch(sdf, 0)
    # simulate the torn write: batch 1 data present, marker missing
    sink.process_batch(sdf.withColumn("turn_idx", sdf.turn_idx + 1000), 1)
    shutil.rmtree(os.path.join(sink.lineage_dir, "batch_id=1"))
    out = sink.read_table(spark)
    assert out.count() == len(pdf)
    assert out.filter("turn_idx >= 1000").count() == 0
    # the replayed epoch then commits it for real
    sink.process_batch(sdf.withColumn("turn_idx", sdf.turn_idx + 1000), 1)
    assert sink.read_table(spark).count() == 2 * len(pdf)

    # crash INSIDE the lineage write: the data dir is staged, the
    # lineage rows are built, writing them raises before any rename
    epoch2 = sdf.withColumn("turn_idx", sdf.turn_idx + 2000)
    staged = []

    def crash(table, where, **kw):
        staged.extend(glob.glob(os.path.join(sink.data_dir, "batch_id=2.tmp-*", "part-*")))
        raise OSError("crash in write_lineage")

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", crash)
        with pytest.raises(OSError, match="crash in write_lineage"):
            sink.process_batch(epoch2, 2)
    assert staged  # the data files were staged when the crash hit
    staged_dirs = os.path.join(str(tmp_path / "table"), "*", "*.tmp-*")
    assert glob.glob(staged_dirs) == []  # the failed publish removed them
    assert sink.committed_batches() == {0, 1}
    for d in (sink.data_dir, sink.lineage_dir):
        assert "batch_id=2" not in os.listdir(d)
    out = sink.read_table(spark)
    assert out.count() == 2 * len(pdf)
    assert out.filter("turn_idx >= 2000").count() == 0
    # the replay commits the epoch exactly once
    sink.process_batch(epoch2, 2)
    assert sink.committed_batches() == {0, 1, 2}
    assert glob.glob(staged_dirs) == []
    out = sink.read_table(spark)
    assert out.count() == 3 * len(pdf)
    assert out.select("conv_id", "turn_idx").distinct().count() == 3 * len(pdf)
