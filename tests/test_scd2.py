"""Contracts for the SCD-2 dimension builder (operators/scd.py): the
incremental fold's ordering/closing/replay semantics, the
retroactive-close-through-the-sink mechanism, and the ns-precision
regression (a row-wise int+None pandas column silently becomes
float64 and corrupts timestamp ordinals)."""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import functions as F

from dstream_spark.operators.scd import changes_of, scd2_build, scd2_fn, scd2_stream
from dstream_spark.streaming.pipeline import run_stream


class FakeState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _batch(convs, turns, ts_ns, attrs):
    return pd.DataFrame(
        {
            "tool": ["t"] * len(convs),
            "conv_id": convs,
            "turn_idx": turns,
            "valid_from": pd.to_datetime(ts_ns),
            "attr": attrs,
        }
    )


# µs-precision ordinals like the real feed (ns % 1000 == 0)
T0 = 1_704_075_743_261_694_000
T1 = 1_704_094_108_765_554_000
T2 = 1_704_229_670_758_444_000


def test_scd2_fn_closes_across_batches_exact_ns():
    st = FakeState()
    out1 = next(scd2_fn(("t",), iter([_batch(["c1"], [1], [T0], ["a"])]), st))
    assert out1["valid_to"].isna().all() and bool(out1["is_current"].all())
    out2 = next(scd2_fn(("t",), iter([_batch(["c2"], [2], [T1], ["b"])]), st))
    # the previous open version re-emitted CLOSED at exactly T1 —
    # the float64 inference trap would land within ±500ns instead
    closed = out2[out2["conv_id"] == "c1"]
    assert closed["valid_to"].astype("int64").tolist() == [T1]
    assert not closed["is_current"].iloc[0]
    assert out2[out2["conv_id"] == "c2"]["is_current"].iloc[0]


def test_scd2_fn_replay_filtered_and_ties_ordered():
    st = FakeState()
    # one batch, out-of-order arrival: fold sorts by (ts, conv, turn)
    b = _batch(["c2", "c1"], [2, 1], [T1, T0], ["b", "a"])
    out = next(scd2_fn(("t",), iter([b]), st))
    assert out["conv_id"].tolist() == ["c1", "c2"]
    assert out["valid_to"].astype("int64").tolist()[0] == T1
    # crash-replay of already-folded rows: nothing emitted, state intact
    assert list(scd2_fn(("t",), iter([_batch(["c1"], [1], [T0], ["a"])]), st)) == []
    out3 = next(scd2_fn(("t",), iter([_batch(["c3"], [3], [T2], ["c"])]), st))
    assert out3[out3["conv_id"] == "c2"]["valid_to"].astype("int64").tolist() == [T2]


def test_stream_scd2_retroactive_close_supersedes_in_sink(spark, sf_dir, tmp_path):
    """The mechanism itself: a version emitted OPEN in epoch b is
    re-emitted CLOSED in a later epoch, and the merge-on-read sink
    resolves to the closed row. Verified against the raw committed
    batches — the superseded open emission must exist (proving the
    close really was retroactive, not a single-batch artifact)."""
    from dstream_spark.sinks.merge import MergeSink
    from dstream_spark.streaming_queries import _write_feed
    from dstream_spark.sources.registry import changefeed

    feed = str(tmp_path / "feed")
    _write_feed(spark, sf_dir, feed, n_batches=3, split_by_time=True)
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    out = scd2_stream(
        changes_of(src.select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    )
    sink = MergeSink(
        str(tmp_path / "table"),
        keys=("tool", "conv_id", "turn_idx"),
        partition_key="tool",
        order_cols=("tool", "conv_id", "turn_idx"),
        version_col="_v",
        n_partitions=2,
    )
    run_stream(out, "append", foreach_batch=sink.process_batch, checkpoint=str(tmp_path / "ckpt"))
    raw = sink.protocol.data_read(spark, sink.committed_batches())
    multi = (
        raw.groupBy("tool", "conv_id", "turn_idx")
        .agg(F.count(F.lit(1)).alias("n"), F.max("_v").alias("vmax"), F.min("_v").alias("vmin"))
        .filter(F.col("n") > 1)
    )
    # at least one version was opened in one epoch and closed in a later one
    assert multi.filter(F.col("vmax") > F.col("vmin")).count() > 0
    # and read-side resolution equals the batch lead()-window twin
    from dstream_spark.fixtures.transcripts import transcripts_from_events

    resolved = sink.read_table(spark).select(
        "tool", "conv_id", "turn_idx", "valid_from", "valid_to", "attr", "is_current"
    )
    twin = scd2_build(transcripts_from_events(spark, sf_dir))
    assert resolved.exceptAll(twin).count() == 0
    assert twin.exceptAll(resolved).count() == 0


def test_stream_scd2_resume_closes_across_restart(spark, sf_dir, tmp_path):
    """D4 for the SCD-2 builder: crash after two micro-batches,
    restart on the SAME checkpoint — the state store must restore
    each key's open version so phase-2 changes retroactively close
    versions opened BEFORE the crash, and the final table equals the
    batch twin (no loss, no dup, no stuck-open versions)."""
    import shutil

    from dstream_spark.fixtures.transcripts import transcripts_from_events
    from dstream_spark.sinks.merge import MergeSink
    from dstream_spark.sources.registry import changefeed
    from dstream_spark.streaming_queries import _write_feed

    staging = str(tmp_path / "staging")
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    _write_feed(spark, sf_dir, staging, n_batches=4, split_by_time=True)
    files = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    sink = MergeSink(
        str(tmp_path / "table"),
        keys=("tool", "conv_id", "turn_idx"),
        partition_key="tool",
        order_cols=("tool", "conv_id", "turn_idx"),
        version_col="_v",
        n_partitions=2,
    )
    ckpt = str(tmp_path / "ckpt")

    def run_wave():
        src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
        out = scd2_stream(
            changes_of(src.select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
        )
        run_stream(out, "append", foreach_batch=sink.process_batch, checkpoint=ckpt)

    for f in files[:2]:
        shutil.copy2(os.path.join(staging, f), os.path.join(feed, f))
    run_wave()  # then "crash": the query is fully stopped
    open_before = {
        (r["tool"], r["conv_id"], r["turn_idx"])
        for r in sink.read_table(spark)
        .filter(F.col("is_current"))
        .select("tool", "conv_id", "turn_idx")
        .collect()
    }
    assert open_before  # every key seen so far has an open version

    for f in files[2:]:
        shutil.copy2(os.path.join(staging, f), os.path.join(feed, f))
    run_wave()  # restart from the same checkpoint + state store

    resolved = sink.read_table(spark).select(
        "tool", "conv_id", "turn_idx", "valid_from", "valid_to", "attr", "is_current"
    )
    twin = scd2_build(transcripts_from_events(spark, sf_dir))
    assert resolved.exceptAll(twin).count() == 0
    assert twin.exceptAll(resolved).count() == 0
    # the cross-restart mechanism itself: at least one version that was
    # OPEN at the crash is now CLOSED by a post-restart change
    closed_after = {
        (r["tool"], r["conv_id"], r["turn_idx"])
        for r in resolved.filter(~F.col("is_current"))
        .select("tool", "conv_id", "turn_idx")
        .collect()
    }
    assert open_before & closed_after
