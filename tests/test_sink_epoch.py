"""One MergeSink epoch: its plan shape (one Spark job, one exchange, no
cache) and the lineage rows derived from the data files it wrote,
checked against a Spark aggregate over the committed files."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from dstream_spark.fixtures.transcripts import generate_transcripts, write_changefeed_batches
from dstream_spark.operators.dedup import dedup_stream
from dstream_spark.operators.incremental_dedup import IncrementalLshDedup
from dstream_spark.sinks.merge import LINEAGE_TS0, MergeSink
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import run_stream

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@pytest.fixture
def written_plans(monkeypatch):
    """The executed plan of every frame MergeSink writes as data."""
    plans = []
    write_data = MergeSink._write_data

    def recording_write_data(self, df, path):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        write_data(self, df, path)

    monkeypatch.setattr(MergeSink, "_write_data", recording_write_data)
    return plans


def _assert_one_write_path(plan):
    """Written as delivered: one exchange, one sort, no dedup."""
    assert plan.count("Exchange ") == 1, plan
    assert plan.count("Sort [") == 1, plan
    for node in ("SortAggregate", "HashAggregate", "Window", "InMemory"):
        assert node not in plan, plan


def test_dedup_sink_epoch_is_one_job_with_one_exchange(spark, tmp_path, written_plans):
    """The bench pipeline's shape: changefeed → watermark dedup →
    MergeSink. A stateful query runs its foreachBatch body without
    AQE, so each Spark job of the epoch is a real job, not an AQE
    map stage. Every epoch (the data epoch and the no-data watermark
    epoch) is ONE job of 3 stages: the feed scan up to the state
    store's exchange, the state store up to the sink's one exchange,
    and the write. The sink's plan has one exchange, one sort, no
    aggregate and no cache: the stream dedups, the sink does not."""
    pdf = generate_transcripts(n_convs=6, turns_per_conv=5)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=1)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    sc = spark.sparkContext
    prefix = f"sink-epoch-{uuid.uuid4().hex[:8]}"
    groups = []

    def epoch(df, batch_id):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        groups.append(f"{prefix}-{batch_id}")
        sc.setLocalProperty("spark.jobGroup.id", groups[-1])
        try:
            sink.process_batch(df, batch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    src = dedup_stream(changefeed(spark, {"path": feed}))
    run_stream(src, "append", foreach_batch=epoch, checkpoint=str(tmp_path / "ckpt"))

    assert sink.read_table(spark).count() == len(pdf)
    assert groups and len(written_plans) == len(groups)
    tracker = sc.statusTracker()
    for group, plan in zip(groups, written_plans):
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) == 1, (group, jobs)
        assert len(tracker.getJobInfo(jobs[0]).stageIds) == 3
        _assert_one_write_path(plan)


def test_window_sink_epoch_sorts_once(spark, tmp_path, written_plans):
    """A version-keyed sink shaped like ``run_window_sink``'s: the
    epoch literal stamped as ``_v`` costs no window, and the one sort
    is the ``order_cols`` sort."""
    sink = MergeSink(
        str(tmp_path / "tbl"),
        keys=("w_start", "conv_id"),
        partition_key="conv_id",
        order_cols=("conv_id", "w_start"),
        version_col="_v",
        n_partitions=2,
    )
    rows = [(f"c{i % 3}", i, i + 1) for i in range(9)]
    sink.process_batch(spark.createDataFrame(rows, "conv_id string, w_start int, n_turns long"), 0)
    assert len(written_plans) == 1
    _assert_one_write_path(written_plans[0])
    assert sink.read_table(spark).count() == len(rows)


def _lineage_rows(spark, sink):
    rows = sink.read_lineage(spark).collect()
    assert all(r.updated_at.timestamp() == LINEAGE_TS0 + r.batch_id for r in rows)
    return sorted(
        (r.batch_id, r.partition_id, r.max_conv_id, r.max_turn_idx, r.n_rows) for r in rows
    )


def _reference_rows(spark, sink):
    """Per (epoch, writing task): max partition_key, max keys[-1] and
    the row count, by Spark over the committed data files; the task id
    is parsed from each file's ``part-NNNNN-…`` name."""
    paths = [os.path.join(sink.data_dir, f"batch_id={b}") for b in sorted(sink.committed_batches())]
    df = spark.read.option("basePath", sink.data_dir).parquet(*paths)
    pid = F.regexp_extract("_metadata.file_name", r"^part-(\d+)-", 1).cast("int")
    agg = df.groupBy("batch_id", pid.alias("partition_id")).agg(
        F.max(sink.partition_key), F.max(sink.keys[-1]), F.count(F.lit(1))
    )
    return sorted(tuple(r) for r in agg.collect())


def test_lineage_matches_committed_files(spark, tmp_path):
    """Default layout, a zero-row epoch, then compact()."""
    pdf = generate_transcripts(n_convs=7, turns_per_conv=4)
    sdf = spark.createDataFrame(pdf[COLS])
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=3)
    sink.process_batch(sdf, 0)
    sink.process_batch(sdf.withColumn("turn_idx", sdf.turn_idx + 100), 1)
    lineage = _lineage_rows(spark, sink)
    assert lineage == _reference_rows(spark, sink)
    assert {b for b, *_ in lineage} == {0, 1}
    assert sum(r[-1] for r in lineage) == 2 * len(pdf)

    # an epoch with zero rows still commits its lineage dir (the commit
    # point), holding no rows
    sink.process_batch(sdf.limit(0), 2)
    assert sink.committed_batches() == {0, 1, 2}
    assert os.listdir(os.path.join(sink.lineage_dir, "batch_id=2"))
    assert _lineage_rows(spark, sink) == lineage == _reference_rows(spark, sink)

    base = sink.compact(spark)
    assert base == 2 and sink.committed_batches() == {2}
    compacted = _lineage_rows(spark, sink)
    assert compacted == _reference_rows(spark, sink)
    assert {b for b, *_ in compacted} == {2}
    assert sum(r[-1] for r in compacted) == 2 * len(pdf)


def test_lineage_of_hive_layout_index(spark, tmp_path):
    """IncrementalLshDedup's band index lays its files out under
    ``bucket=…`` dirs, so max(bucket) comes from the directory names."""
    docs = [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(12)]
    d = IncrementalLshDedup(str(tmp_path / "idx"), str(tmp_path / "dups"), n_partitions=3)
    d.init()
    schema = "doc_id long, text string"
    d.process_batch(spark.createDataFrame(docs[:6], schema=schema), 0)
    d.process_batch(spark.createDataFrame(docs[6:], schema=schema), 1)
    index = d.index
    assert index.hive_partition_by == "bucket" and index.partition_key == "bucket"
    lineage = _lineage_rows(spark, index)
    assert lineage == _reference_rows(spark, index)
    assert {b for b, *_ in lineage} == {0, 1}
    assert all(isinstance(r[2], str) and r[2].startswith("b") for r in lineage)

    index.compact(spark)
    assert _lineage_rows(spark, index) == _reference_rows(spark, index)


def _one_row_per_key(spark, sink, expected):
    """read_table, read_changes and read_table after compact() each
    resolve the raw epochs to ``expected``: one row per key."""
    def rows(df):
        return sorted(tuple(r) for r in df.select(*expected.columns).collect())

    want = sorted(tuple(r) for r in expected.collect())
    assert rows(sink.read_table(spark)) == want
    assert rows(sink.read_changes(spark, since_batch=-1)) == want
    sink.compact(spark)
    assert rows(sink.read_table(spark)) == want


def test_plain_sink_resolves_a_key_repeated_in_its_epoch(spark, tmp_path):
    """A replayed row inside one epoch is landed as delivered and
    resolved on read; lineage counts the rows the files hold."""
    pdf = generate_transcripts(n_convs=3, turns_per_conv=4)
    sdf = spark.createDataFrame(pdf[COLS])
    later = sdf.withColumn("turn_idx", sdf.turn_idx + 100)
    sink = MergeSink(str(tmp_path / "tbl"), n_partitions=2)
    sink.process_batch(sdf.unionAll(sdf.limit(2)), 0)
    sink.process_batch(later, 1)
    raw = sink.protocol.data_read(spark, sink.committed_batches())
    assert raw.count() == 2 * len(pdf) + 2
    lineage = _lineage_rows(spark, sink)
    assert lineage == _reference_rows(spark, sink)
    assert sum(r[-1] for r in lineage) == 2 * len(pdf) + 2
    _one_row_per_key(spark, sink, sdf.unionAll(later))


def test_version_sink_resolves_two_versions_in_one_epoch(spark, tmp_path):
    """An epoch that carries two versions of one key: every reader
    returns the later one."""
    schema = "conv_id string, turn_idx int, text string, v long"
    sink = MergeSink(str(tmp_path / "tbl"), version_col="v", n_partitions=2)
    sink.process_batch(spark.createDataFrame(
        [("a", 0, "old", 1), ("a", 0, "new", 2), ("a", 1, "x", 1), ("b", 0, "y", 1)], schema
    ), 0)
    sink.process_batch(spark.createDataFrame([("b", 0, "z", 3), ("b", 0, "w", 0)], schema), 1)
    assert sink.protocol.data_read(spark, sink.committed_batches()).count() == 6
    assert _lineage_rows(spark, sink) == _reference_rows(spark, sink)
    _one_row_per_key(spark, sink, spark.createDataFrame(
        [("a", 0, "new", 2), ("a", 1, "x", 1), ("b", 0, "z", 3)], schema
    ))
