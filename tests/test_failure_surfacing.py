"""C2 mid-stream crash detection: a query that dies mid-stream must
surface an actionable error (exception + last progress), the analog of
the reference's crash-poll with last-stderr-lines context
(pkg/executor/providers.go:313-405)."""

from __future__ import annotations

import os

import pytest

from dstream_spark.fixtures.transcripts import (
    CHANGEFEED_SCHEMA,
    generate_transcripts,
    write_changefeed_batches,
)
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.streaming.pipeline import Pipeline


def _poisoned_feed(spark, out_dir: str) -> None:
    """One good micro-batch file, then a corrupt one."""
    pdf = generate_transcripts(n_convs=3, turns_per_conv=5, seed=3)
    write_changefeed_batches(spark, pdf, out_dir, n_batches=1)
    with open(os.path.join(out_dir, "batch_00001.parquet"), "wb") as f:
        f.write(b"this is not a parquet file" * 10)


def test_poisoned_batch_surfaces_actionable_error(spark, tmp_path):
    feed = str(tmp_path / "feed")
    _poisoned_feed(spark, feed)
    sink = MergeSink(str(tmp_path / "tbl"))
    pipe = Pipeline(
        spark,
        {
            "name": "poisoned",
            "source": {"type": "changefeed", "path": feed, "max_files_per_trigger": 1},
            "sink": {"type": "merge", "sink": sink},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"availableNow": True},
        },
    )
    pipe.init()
    q = pipe.run()
    with pytest.raises(Exception):
        q.awaitTermination()
    # no polling: the handle holds the failure once awaitTermination raised
    failures = pipe.status()["failures"]
    assert failures, "mid-stream death was not surfaced"
    failure = failures[0]
    assert failure["id"] == str(q.id)
    assert failure["exception"], "exception context missing"
    # the good first batch was processed before the crash
    assert failure["last_progress"] is not None
    assert failure["last_progress"]["numInputRows"] > 0
    pipe.stop()
    assert pipe.status()["failures"] == failures  # survives stop()


def test_clean_run_records_no_failures(spark, tmp_path):
    pdf = generate_transcripts(n_convs=3, turns_per_conv=5, seed=4)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=2)
    sink = MergeSink(str(tmp_path / "tbl"))
    pipe = Pipeline(
        spark,
        {
            "name": "clean",
            "source": {"type": "changefeed", "path": feed},
            "sink": {"type": "merge", "sink": sink},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"availableNow": True},
        },
    )
    pipe.init()
    q = pipe.run()
    q.awaitTermination()
    assert pipe.status()["failures"] == []
    assert sink.read_table(spark).count() == len(pdf.drop_duplicates(["conv_id", "turn_idx"]))
    pipe.stop()
