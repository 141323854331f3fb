"""S4 dynamic batch sizing (segmented resize from observed progress)
and S2 multi-table monitor (independent per-table tracking + failure
isolation)."""

from __future__ import annotations

import os

from dstream_spark.fixtures.transcripts import (
    generate_transcripts,
    write_changefeed_batches,
)
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.streaming.adaptive import BatchSizeController
from dstream_spark.streaming.monitor import Monitor
from dstream_spark.streaming.pipeline import Pipeline


def test_controller_math():
    c = BatchSizeController(target_rows=1000, min_files=1, max_files=64)
    # 2 files/trigger observed at 100 rows/batch → 50 rows/file → want 20
    assert c.recommend([{"numInputRows": 100}, {"numInputRows": 100}], 2) == 20
    # idle ticks ignored; no signal → unchanged
    assert c.recommend([{"numInputRows": 0}], 4) == 4
    assert c.recommend([], 4) == 4
    # clamped at both ends
    assert c.recommend([{"numInputRows": 1}], 1) == 64
    assert BatchSizeController(target_rows=1, max_files=64).recommend(
        [{"numInputRows": 5000}], 1
    ) == 1


def test_controller_byte_budget_math():
    """Byte mode: the budget is converted through the observed average
    row size (the reference's 256KB/1MB SKU-limit resample,
    docs/capability-inventory.md:136)."""
    c = BatchSizeController(target_rows=999, target_bytes=10_000, min_files=1, max_files=64)
    # 10_000 B budget at 50 B/row → 200-row target; 100 rows/batch at
    # 2 files → 50 rows/file → want 4 files
    assert c.effective_target_rows(avg_row_bytes=50.0) == 200
    assert c.recommend([{"numInputRows": 100}], 2, avg_row_bytes=50.0) == 4
    # no size observation → falls back to the row target
    assert c.effective_target_rows(None) == 999
    # clamps still apply
    assert c.recommend([{"numInputRows": 1}], 1, avg_row_bytes=1.0) == 64


def test_adaptive_byte_budget_converges(spark, tmp_path):
    """run_adaptive in byte mode: segment 1 observes bytes/row from the
    feed's parquet footers and resizes files-per-trigger so a
    micro-batch lands within the byte budget."""
    import glob

    pdf = generate_transcripts(n_convs=6, turns_per_conv=10, seed=31)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=6)
    files = sorted(glob.glob(os.path.join(feed, "*.parquet")))
    avg_file_bytes = sum(os.path.getsize(f) for f in files) / len(files)
    target_bytes = int(3.2 * avg_file_bytes)  # budget ≈ 3 files/trigger

    sink = MergeSink(str(tmp_path / "tbl"))
    pipe = Pipeline(
        spark,
        {
            "name": "adaptive_bytes",
            "source": {"type": "changefeed", "path": feed, "max_files_per_trigger": 1},
            "sink": {"type": "merge", "sink": sink},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"availableNow": True},
        },
    )
    pipe.init()
    ctrl = BatchSizeController(target_bytes=target_bytes, min_files=1, max_files=16)
    hist = pipe.run_adaptive(ctrl, segments=1)
    assert hist[0]["avg_row_bytes"] is not None and hist[0]["avg_row_bytes"] > 0
    nxt = hist[0]["next_files_per_trigger"]
    # converged: the recommended trigger size lands within the budget
    # (±1 file of the exact bytes/files ratio; file sizes are uniform)
    assert abs(nxt - target_bytes / avg_file_bytes) <= 1.0
    assert sink.read_table(spark).count() == len(
        pdf.drop_duplicates(["conv_id", "turn_idx"])
    )


def test_adaptive_resize_across_segments(spark, tmp_path):
    """Segment 1 runs at 1 file/trigger, the controller scales the
    setting up from observed rows/file; segment 2 consumes newly
    arrived files at the new setting. Exactly-once holds across the
    restart (sink == identity)."""
    pdf = generate_transcripts(n_convs=4, turns_per_conv=10, seed=11)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf.iloc[: len(pdf) // 2], feed, n_batches=4)
    sink = MergeSink(str(tmp_path / "tbl"))
    pipe = Pipeline(
        spark,
        {
            "name": "adaptive",
            "source": {"type": "changefeed", "path": feed, "max_files_per_trigger": 1},
            "sink": {"type": "merge", "sink": sink},
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "trigger": {"availableNow": True},
        },
    )
    pipe.init()
    ctrl = BatchSizeController(target_rows=40, min_files=1, max_files=8)

    # segment 1: drain the first half at 1 file/trigger
    h1 = pipe.run_adaptive(ctrl, segments=1)
    assert h1[0]["files_per_trigger"] == 1 and h1[0]["batches"] >= 4
    resized = pipe.conf["source"]["max_files_per_trigger"]
    assert resized > 1  # ~20 rows/file, target 40 → 2+

    # more files arrive; segment 2 consumes them at the new setting
    write_changefeed_batches(spark, pdf.iloc[len(pdf) // 2 :], feed, n_batches=4, start=4)
    h2 = pipe.run_adaptive(ctrl, segments=1)
    assert h2[0]["files_per_trigger"] == resized
    assert h2[0]["batches"] < 4  # fewer, bigger micro-batches

    assert sink.read_table(spark).count() == len(
        pdf.drop_duplicates(["conv_id", "turn_idx"])
    )


class _FlakySink:
    """MergeSink wrapper whose process_batch fails the first N attempts
    (a transient sink outage) — the failure the reference retries with
    backoff without advancing the cursor
    (docs/capability-inventory.md:195-199)."""

    def __init__(self, inner, fail_times: int):
        self.inner = inner
        self.fails_left = fail_times
        self.attempts = 0

    def process_batch(self, batch_df, batch_id):
        self.attempts += 1
        if self.fails_left > 0:
            self.fails_left -= 1
            raise RuntimeError("transient sink outage")
        self.inner.process_batch(batch_df, batch_id)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def test_monitor_retry_with_backoff(spark, tmp_path):
    """D6 second half: a table whose sink fails transiently TWICE is
    restarted from its checkpoint with backoff and succeeds with no
    loss and no dups, while a healthy table streams uninterrupted
    (reference: retry failed batch with backoff, cursor never
    advances — docs/capability-inventory.md:195-199)."""
    flaky_pdf = generate_transcripts(n_convs=3, turns_per_conv=6, seed=41)
    flaky_feed = str(tmp_path / "flaky_feed")
    write_changefeed_batches(spark, flaky_pdf, flaky_feed, n_batches=3)
    good_pdf = generate_transcripts(n_convs=2, turns_per_conv=5, seed=42)
    good_feed = str(tmp_path / "good_feed")
    write_changefeed_batches(spark, good_pdf, good_feed, n_batches=2)

    flaky = _FlakySink(MergeSink(str(tmp_path / "flaky_tbl")), fail_times=2)
    good_sink = MergeSink(str(tmp_path / "good_tbl"))
    mon = Monitor(
        spark,
        [
            {
                "name": "flaky_table",
                "source": {"type": "changefeed", "path": flaky_feed, "max_files_per_trigger": 1},
                "sink": {"type": "merge", "sink": flaky},
                "checkpoint_dir": str(tmp_path / "ckpt_flaky"),
                "trigger": {"availableNow": True},
            },
            {
                "name": "good_table",
                "source": {"type": "changefeed", "path": good_feed},
                "sink": {"type": "merge", "sink": good_sink},
                "checkpoint_dir": str(tmp_path / "ckpt_good"),
                "trigger": {"availableNow": True},
            },
        ],
    )
    mon.init_all()
    mon.run_all()
    report = mon.supervise(max_retries=3, base_backoff_s=0.2)

    assert report["good_table"] == {"retries": 0, "ok": True, "error": None}
    assert report["flaky_table"]["ok"] is True
    assert report["flaky_table"]["retries"] == 2  # two transient outages
    # exactly-once across both restarts: replayed epochs are absorbed
    # by the commit markers (no loss, no dup)
    assert flaky.inner.read_table(spark).count() == len(
        flaky_pdf.drop_duplicates(["conv_id", "turn_idx"])
    )
    assert good_sink.read_table(spark).count() == len(
        good_pdf.drop_duplicates(["conv_id", "turn_idx"])
    )


def test_monitor_retry_cap_leaves_table_failed(spark, tmp_path):
    """A table that keeps failing exhausts its retry cap and is left
    failed; supervise still returns (no hang) and reports the error."""
    pdf = generate_transcripts(n_convs=2, turns_per_conv=4, seed=43)
    feed = str(tmp_path / "feed")
    write_changefeed_batches(spark, pdf, feed, n_batches=2)
    always_bad = _FlakySink(MergeSink(str(tmp_path / "tbl")), fail_times=10**9)
    mon = Monitor(
        spark,
        [
            {
                "name": "doomed",
                "source": {"type": "changefeed", "path": feed},
                "sink": {"type": "merge", "sink": always_bad},
                "checkpoint_dir": str(tmp_path / "ckpt"),
                "trigger": {"availableNow": True},
            }
        ],
    )
    mon.init_all()
    mon.run_all()
    report = mon.supervise(max_retries=2, base_backoff_s=0.05)
    assert report["doomed"]["ok"] is False
    assert report["doomed"]["retries"] == 2
    assert "transient sink outage" in report["doomed"]["error"]
    assert always_bad.inner.read_table(spark).count() == 0  # nothing committed


def test_monitor_isolates_table_failure(spark, tmp_path):
    """S2/D6: two monitored tables; one feed is poisoned. The healthy
    table completes with correct contents; the poisoned one surfaces
    its failure in status(); locks/checkpoints are per-table."""
    good_pdf = generate_transcripts(n_convs=3, turns_per_conv=6, seed=21)
    good_feed = str(tmp_path / "good_feed")
    write_changefeed_batches(spark, good_pdf, good_feed, n_batches=2)
    bad_feed = str(tmp_path / "bad_feed")
    write_changefeed_batches(
        spark, generate_transcripts(n_convs=2, turns_per_conv=4, seed=22), bad_feed, n_batches=1
    )
    with open(os.path.join(bad_feed, "batch_00001.parquet"), "wb") as f:
        f.write(b"corrupt" * 64)

    good_sink = MergeSink(str(tmp_path / "good_tbl"))
    bad_sink = MergeSink(str(tmp_path / "bad_tbl"))
    mon = Monitor(
        spark,
        [
            {
                "name": "good_table",
                "source": {"type": "changefeed", "path": good_feed},
                "sink": {"type": "merge", "sink": good_sink},
                "checkpoint_dir": str(tmp_path / "ckpt_good"),
                "trigger": {"availableNow": True},
            },
            {
                "name": "bad_table",
                "source": {"type": "changefeed", "path": bad_feed, "max_files_per_trigger": 1},
                "sink": {"type": "merge", "sink": bad_sink},
                "checkpoint_dir": str(tmp_path / "ckpt_bad"),
                "trigger": {"availableNow": True},
            },
        ],
    )
    mon.init_all()
    started = mon.run_all()
    assert len(started) == 2
    mon.await_all()

    # healthy table unaffected by the neighbor's death
    assert good_sink.read_table(spark).count() == len(
        good_pdf.drop_duplicates(["conv_id", "turn_idx"])
    )
    st = mon.status()
    assert st["bad_table"]["failures"]
    assert st["good_table"]["failures"] == []
    mon.stop_all()


def test_monitor_supervise_continuous_queries(spark, tmp_path):
    """The CONTINUOUS regime (the reference's long-running monitor
    loop): processingTime-triggered tables supervised for a window —
    a transiently-failing table is restarted from its checkpoint with
    backoff and is healthy (still running) at the deadline, while the
    healthy table streams uninterrupted throughout."""
    flaky = _FlakySink(
        MergeSink(str(tmp_path / "flaky_tbl"), keys=("timestamp", "value"),
                  partition_key="value", order_cols=("value",)),
        fail_times=2,
    )
    good_sink = MergeSink(str(tmp_path / "good_tbl"), keys=("timestamp", "value"),
                          partition_key="value", order_cols=("value",))
    mon = Monitor(
        spark,
        [
            {
                "name": "flaky_rate",
                "source": {"type": "rate", "rows_per_second": 20},
                "sink": {"type": "merge", "sink": flaky},
                "checkpoint_dir": str(tmp_path / "ckpt_flaky"),
                "trigger": {"processingTime": "200 milliseconds"},
            },
            {
                "name": "good_rate",
                "source": {"type": "rate", "rows_per_second": 20},
                "sink": {"type": "merge", "sink": good_sink},
                "checkpoint_dir": str(tmp_path / "ckpt_good"),
                "trigger": {"processingTime": "200 milliseconds"},
            },
        ],
    )
    mon.init_all()
    mon.run_all()
    try:
        report = mon.supervise(max_retries=3, base_backoff_s=0.3, run_for_s=12.0)
    finally:
        mon.stop_all()
    assert report["good_rate"]["ok"] is True and report["good_rate"].get("running")
    assert report["good_rate"]["retries"] == 0
    assert report["flaky_rate"]["ok"] is True and report["flaky_rate"].get("running")
    assert report["flaky_rate"]["retries"] == 2
    # after healing, the flaky table actually committed data
    assert flaky.inner.read_table(spark).count() > 0
    assert good_sink.read_table(spark).count() > 0


def test_monitor_seeds_start_failure_as_first_attempt(spark, tmp_path):
    """A table whose INITIAL run_all start fails enters supervise with
    that failure counted as attempt 0: its error is in the report and
    it gets exactly max_retries supervised restarts — not
    max_retries + 1 with a silently dropped original error."""
    mon = Monitor(
        spark,
        [
            {
                "name": "never_starts",
                "source": {"type": "changefeed", "path": str(tmp_path / "nope")},
                "sink": {"type": "console"},
                "checkpoint_dir": str(tmp_path / "ckpt"),
                "trigger": {"availableNow": True},
            }
        ],
    )
    started = mon.run_all()
    assert isinstance(started["never_starts"], Exception)  # recorded, not raised
    report = mon.supervise(max_retries=1, base_backoff_s=0.05)
    assert report["never_starts"]["ok"] is False
    assert report["never_starts"]["error"] is not None  # start error surfaced
    # attempt 0 = the run_all failure; exactly ONE supervised restart
    assert report["never_starts"]["retries"] == 1
