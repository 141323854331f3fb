"""Oracle-checkable STREAMING queries.

These run a real Structured Streaming job (changefeed files → micro-
batches → stateful operator → sink) inside a queries() entry and
return the final result as a batch DataFrame. Because the transcripts
are derived deterministically from the driver's events table, the
streaming results must equal the same batch oracle SQL — direct
evidence that the streaming path reproduces the reference's semantics
(ordered delivery, dedup, windowed state, exactly-once sink) for the
same input stream.

Each run uses fresh scratch dirs under the temp root, removed at
interpreter exit (returned DataFrames read lazily from them). A bare
query drains through ``run_stream``, a locked changefeed → sink
Pipeline through ``_pipeline_drain``; the monitor and adaptive entries
drive ``Monitor`` and ``Pipeline.run_adaptive`` themselves.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstream_spark.fixtures.transcripts import land_file, transcripts_from_events
from dstream_spark.operators.cdc import cursor_dedup_stream
from dstream_spark.operators.event_time import epoch_s
from dstream_spark.queries_base import _scratch
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import Pipeline, run_stream

CDC_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _write_feed(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_batches: int = 4,
    replay_batch0: bool = False,
    split_by_turn: bool = False,
    split_by_time: bool = False,
) -> None:
    """Land the derived transcripts as ordered change-feed files.

    ``split_by_turn``: batch b holds each conversation's turn range
    [b*L, (b+1)*L) — in-order delivery per conversation (the LSN-
    ordered CDC poll, docs/plugins/mssql-ingester.md:70).
    ``split_by_time``: batch b = the b-th event-time quantile range —
    globally quasi-ordered arrival (watermarks advance progressively;
    required by append-mode watermark ops). Default: rows hash-split
    (arrival order ≠ event order, the adversarial case).
    ``replay_batch0``: append a final file replaying batch 0's rows —
    the crash-replay overlap (docs/plugins/mssql-ingester.md:84-87).

    All slicing is JVM-side (no toPandas: collecting the transcript
    table to the driver caps the feed at driver memory — the
    bench_pipeline.build_feed lesson). Only the scalar split bound is
    fetched. Each slice lands through ``land_file`` as ONE parquet file
    ``batch_<b>.parquet``, so a max_files_per_trigger=1 stream replays
    it as one micro-batch, in batch order; rows within split_by_turn
    slices stay in turn order.
    """
    t = transcripts_from_events(spark, sf_dir)
    if split_by_turn:
        max_turn_val = t.agg(F.max("turn_idx")).first()[0]
        if max_turn_val is None:
            raise ValueError(f"empty transcripts source under {sf_dir}: nothing to feed")
        max_turn = max_turn_val + 1
        per = max(1, (max_turn + n_batches - 1) // n_batches)
        sliced = t.withColumn(
            "_slice", F.least(F.lit(n_batches - 1), (F.col("turn_idx") / per).cast("int"))
        )
    elif split_by_time:
        # batch b = the b-th equal-width event-time RANGE (scalar
        # min/max bounds only — no global Window.orderBy, which plans a
        # SinglePartition sort, the shape tests/test_plan_audit.py
        # bans). Ranges are disjoint and ordered, so arrival is still
        # strictly time-ordered across batches and fully deterministic.
        epoch = epoch_s("ts")
        lo, hi = t.agg(F.min(epoch), F.max(epoch)).first()
        if lo is None:
            raise ValueError(f"empty transcripts source under {sf_dir}: nothing to feed")
        span = max(1, int(hi) - int(lo) + 1)
        sliced = t.withColumn(
            "_slice",
            F.least(
                F.lit(n_batches - 1),
                ((epoch - F.lit(int(lo))) * n_batches / span).cast("int"),
            ),
        )
    else:
        sliced = t.withColumn(
            "_slice", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_batches)).cast("int")
        )
    sliced = sliced.persist()
    try:
        order = list(range(n_batches)) + ([0] if replay_batch0 else [])
        for b, s in enumerate(order):
            part = (
                sliced.filter(F.col("_slice") == s)
                .drop("_slice")
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(b).cast("long"))
            )
            if split_by_turn:  # deterministic in-file order (single partition)
                part = part.coalesce(1).sortWithinPartitions("conv_id", "turn_idx")
            land_file(part, out_dir, b)
    finally:
        sliced.unpersist()


def _feed_source(spark: SparkSession, sf_dir: str, tag: str, **split) -> DataFrame:
    """The 4-batch transcript feed (``split`` as in ``_write_feed``)
    landed in a scratch dir and streamed one file per micro-batch."""
    feed = _scratch(tag)
    _write_feed(spark, sf_dir, feed, n_batches=4, **split)
    return changefeed(spark, {"path": feed, "max_files_per_trigger": 1})


def _pipeline_drain(spark: SparkSession, tag: str, feed: str, ckpt: str, sink: dict) -> None:
    """Drain ``feed`` one file per micro-batch into ``sink`` (a Pipeline
    sink conf) through a locked ``availableNow`` Pipeline whose offsets
    live in ``ckpt``. The pipeline is stopped, releasing its lock, even
    when the drain fails."""
    pipe = Pipeline(
        spark,
        {
            "name": f"{tag}_{uuid.uuid4().hex[:8]}",
            "source": {"type": "changefeed", "path": feed, "max_files_per_trigger": 1},
            "sink": sink,
            "checkpoint_dir": ckpt,
        },
    )
    pipe.init()
    try:
        pipe.run(await_termination=True)
    finally:
        pipe.stop()


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per conversation computed BY THE
    STREAMING ENGINE (complete output mode), equal to the batch
    tumbling_counts oracle."""
    src = _feed_source(spark, sf_dir, "tumble")
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("role") == "agent", 1).otherwise(0)).cast("bigint").alias("n_agent"),
        )
        .select(
            F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
            "conv_id", "n_turns", "n_agent",
        )
    )
    return run_stream(agg, "complete")


def stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed WITH a replayed batch → MergeSink → read back: the
    exactly-once contract end-to-end. Result must equal the plain
    transcript projection (no dups, no loss) — the contract the
    reference documents but cannot guarantee alone
    (docs/plugins/mssql-ingester.md:84-87)."""
    feed = _scratch("eo_feed")
    _write_feed(spark, sf_dir, feed, n_batches=4, replay_batch0=True)
    sink = MergeSink(_scratch("eo_table"), n_partitions=8)
    _pipeline_drain(spark, "eo", feed, _scratch("eo_ckpt"), {"type": "merge", "sink": sink})
    return sink.read_table(spark).select(*CDC_COLS)


def stream_pyds_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLUGIN streaming source end-to-end — the reference's actual
    ingester shape (C6 + S1 + D3 in one run): a pure-Python Spark 4
    DataSourceStreamReader (sources/pyds.py) supplies CHECKPOINTED
    OFFSETS ({"index": n} commit-file positions, the LSN analog) that
    Spark persists in its offset log, micro-batches flow one commit
    file per partition through foreachBatch into the exactly-once
    MergeSink, and the feed's crash-replay file (batch 0 re-landed at
    a later commit_version) is absorbed by merge-on-read
    latest-version-wins — so the result equals the identity
    projection: the plugin path loses nothing, invents nothing,
    double-counts nothing."""
    from dstream_spark.sources.pyds import FeedDataSource

    feed = _scratch("pyds_sfeed")
    table = _scratch("pyds_stbl")
    ckpt = _scratch("pyds_sckpt")
    _write_feed(spark, sf_dir, feed, n_batches=4, replay_batch0=True)
    spark.dataSource.register(FeedDataSource)
    sink = MergeSink(table, n_partitions=8)
    sink.init()
    src = spark.readStream.format("dstream_feed").option("path", feed).load()

    def land(df: DataFrame, batch_id: int) -> None:
        sink.process_batch(df.select(*CDC_COLS), batch_id)

    # Spark's PythonMicroBatchStream does not support AvailableNow
    # (falls back to one batch per start()), so incremental offset
    # consumption is driven the honest way: land the feed in TWO
    # waves and start() twice on the SAME checkpoint. Wave-2 must
    # resume from the PERSISTED {"index": 2} offset — proven below by
    # per-epoch landed row counts, not just the merged identity
    # (merge-on-read would mask a silent re-read of wave 1).
    wave1 = os.path.join(feed, "batch_00000.parquet"), os.path.join(
        feed, "batch_00001.parquet"
    )
    held = [f for f in sorted(os.listdir(feed)) if f.endswith(".parquet")][2:]
    hold_dir = _scratch("pyds_hold")
    for f in held:
        os.rename(os.path.join(feed, f), os.path.join(hold_dir, f))

    run_stream(src, "append", foreach_batch=land, checkpoint=ckpt)
    wave1_rows = sum(spark.read.parquet(p).count() for p in wave1)
    for f in held:
        os.rename(os.path.join(hold_dir, f), os.path.join(feed, f))
    run_stream(src, "append", foreach_batch=land, checkpoint=ckpt)
    raw = sink.protocol.data_read(spark, sink.committed_batches())
    st = raw.agg(
        F.sum(F.when(F.col("batch_id") == 0, 1).otherwise(0)).alias("b0"),
        F.sum(F.when(F.col("batch_id") == 1, 1).otherwise(0)).alias("b1"),
        F.count(F.lit(1)).alias("total"),
    ).first()  # one scalar row — the .first()-for-bounds convention
    if st["b0"] != wave1_rows:
        raise RuntimeError(f"wave 1 landed {st['b0']} rows, expected {wave1_rows}")
    if not st["b1"]:
        raise RuntimeError("wave 2 processed no new batch — offset did not resume")
    if st["total"] != st["b0"] + st["b1"]:
        raise RuntimeError(
            f"unexpected epoch layout {dict(b0=st['b0'], b1=st['b1'], total=st['total'])}"
            " — wave 1 re-read"
        )
    return sink.read_table(spark).select(*CDC_COLS)


def _landed_turn_sliced_sink(spark: SparkSession, sf_dir: str, tag: str) -> MergeSink:
    """Shared runner for the snapshot-read entries: the turn-sliced
    feed (batch b = each conversation's turn range [b·L, (b+1)·L),
    L = ceil((max_turn+1)/4)) streamed one file per micro-batch into
    an exactly-once MergeSink, so sink epoch b holds exactly turn
    slice b — a commit history with a closed-form per-epoch content,
    which is what lets DuckDB oracle a time-travel read."""
    feed = _scratch(f"{tag}_feed")
    _write_feed(spark, sf_dir, feed, n_batches=4, split_by_turn=True)
    sink = MergeSink(_scratch(f"{tag}_table"), n_partitions=8)
    _pipeline_drain(spark, tag, feed, _scratch(f"{tag}_ckpt"), {"type": "merge", "sink": sink})
    return sink


def stream_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL on the exactly-once sink (Iceberg read-as-of /
    snapshot isolation): after four turn-sliced epochs land, read the
    table AS OF epoch 1 — one filter over the commit set, no data
    rewrite. The oracle recomputes epoch content from the closed-form
    slice rule (turn_idx < 2L), so the gate proves the snapshot is
    exactly the first two commits' latest-version state. The CDC use
    is the audit/debug story: 'what did the table look like when
    commit 1 published' answered from the live commit history."""
    sink = _landed_turn_sliced_sink(spark, sf_dir, "tt")
    return sink.read_table(spark, as_of_batch=1).select(*CDC_COLS)


def stream_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL scan of the sink (Iceberg changes-between-snapshots;
    S6 task chaining made explicit): rows committed in epochs (1, 3] —
    exactly what a downstream stage that already consumed through
    epoch 1 reads next, resuming from its own high-water mark instead
    of re-scanning the table. Complement of stream_time_travel's
    snapshot under the same closed-form slice rule (turn_idx >= 2L)."""
    sink = _landed_turn_sliced_sink(spark, sf_dir, "incr")
    return sink.read_changes(spark, since_batch=1).select(*CDC_COLS)


def stream_resume_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RESUME as a driver-gated oracle (D4, previously
    pytest-only): the feed arrives in two waves — batches 0-1 are
    drained to termination, the query STOPS, batches 2-3 land, and a
    SECOND query starts against the SAME checkpointLocation and sink.
    The file-source offsets in the checkpoint make the restart skip
    the already-processed files; the commit markers make any overlap
    idempotent. The merged table must equal the plain identity
    projection — no loss across the stop (nothing dropped), no dups
    across the restart (nothing re-applied). This is the reference's
    resume-from-cdc_offsets contract (docs/capability-inventory.md:
    179-187) driven end-to-end at the entry surface."""
    staging = _scratch("resume_staging")
    feed = _scratch("resume_feed")
    ckpt = _scratch("resume_ckpt")  # SAME for both waves
    _write_feed(spark, sf_dir, staging, n_batches=4)
    sink = MergeSink(_scratch("resume_table"), n_partitions=8)

    def run_wave(batches: list[int]) -> None:
        for b in batches:
            name = f"batch_{b:05d}.parquet"
            shutil.copy2(os.path.join(staging, name), os.path.join(feed, name))
        _pipeline_drain(spark, "resume", feed, ckpt, {"type": "merge", "sink": sink})

    run_wave([0, 1])
    committed_mid = sink.committed_batches()
    run_wave([2, 3])
    if len(sink.committed_batches()) <= len(committed_mid):
        raise RuntimeError("resume processed no new batches")
    return sink.read_table(spark).select(*CDC_COLS)


def stream_monitor_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-TABLE MONITOR (S2) at the entry surface: two tables —
    'turns' (the full transcript feed) and 'toolcalls' (the tool-
    invocation rows only, a different feed directory) — run as two
    INDEPENDENT pipelines under one Monitor: own source path, own
    checkpoint (offsets + lock), own exactly-once sink, concurrent on
    one session. The result is the union of both sink tables tagged by
    table name, and must equal the batch oracle computing both
    projections — proving neither table lost/duplicated rows while
    sharing a session. This is the reference's one-process-many-
    tables router (docs/capability-inventory.md:130-135) driven
    end-to-end, where the pytest suite covers the failure-isolation
    half (test_monitor_isolates_table_failure)."""
    from dstream_spark.streaming.monitor import Monitor

    feed_a = _scratch("mon_feed_a")
    feed_b = _scratch("mon_feed_b")
    table_a = _scratch("mon_table_a")
    table_b = _scratch("mon_table_b")
    ckpt = _scratch("mon_ckpt")
    _write_feed(spark, sf_dir, feed_a, n_batches=3)
    # second table: the tool-invocation subfeed, landed separately (its
    # own change stream, as the reference's per-table topics would be)
    t = transcripts_from_events(spark, sf_dir).filter(F.col("tool").isNotNull())
    os.makedirs(feed_b, exist_ok=True)
    (
        t.withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_version", F.lit(0).cast("long"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(feed_b)
    )
    sink_a = MergeSink(table_a, n_partitions=4)
    sink_b = MergeSink(table_b, n_partitions=4)
    confs = [
        {
            "name": f"mon_a_{uuid.uuid4().hex[:8]}",
            "source": {"type": "changefeed", "path": feed_a, "max_files_per_trigger": 1},
            "transforms": [],
            "sink": {"type": "merge", "sink": sink_a},
            "checkpoint_dir": os.path.join(ckpt, "a"),
            "trigger": {"availableNow": True},
        },
        {
            "name": f"mon_b_{uuid.uuid4().hex[:8]}",
            "source": {"type": "changefeed", "path": feed_b, "max_files_per_trigger": 1},
            "transforms": [],
            "sink": {"type": "merge", "sink": sink_b},
            "checkpoint_dir": os.path.join(ckpt, "b"),
            "trigger": {"availableNow": True},
        },
    ]
    mon = Monitor(spark, confs)
    mon.init_all()
    mon.run_all()
    mon.await_all()
    for p in mon.pipelines.values():
        p.stop()
    a = sink_a.read_table(spark).select(*CDC_COLS).withColumn("src_table", F.lit("turns"))
    b = sink_b.read_table(spark).select(*CDC_COLS).withColumn("src_table", F.lit("toolcalls"))
    return a.unionByName(b)


def stream_adaptive_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC BATCH SIZING (S4) at the entry surface: the feed lands
    in two waves; the first drains at max_files_per_trigger=1, then
    the BatchSizeController resizes the trigger from the observed
    rows/file (the reference's hourly row-size resample,
    docs/capability-inventory.md:136), and the second wave drains at
    the RESIZED trigger through the same checkpoint and sink. The
    output contract is the point: whatever sizing the controller
    picks, the merged table must equal the identity projection —
    batch-size policy can never change WHAT is delivered, only how
    it's chunked. The entry raises if the controller failed to resize
    (the adaptive half) or the second wave processed nothing (the
    resume half)."""
    from dstream_spark.streaming.adaptive import BatchSizeController

    staging = _scratch("adap_staging")
    feed = _scratch("adap_feed")
    table = _scratch("adap_table")
    ckpt = _scratch("adap_ckpt")
    _write_feed(spark, sf_dir, staging, n_batches=4)
    os.makedirs(feed, exist_ok=True)
    sink = MergeSink(table, n_partitions=8)
    pipe = Pipeline(
        spark,
        {
            "name": f"adap_{uuid.uuid4().hex[:8]}",
            "source": {"type": "changefeed", "path": feed, "max_files_per_trigger": 1},
            "transforms": [],
            "sink": {"type": "merge", "sink": sink},
            "checkpoint_dir": os.path.join(ckpt, "q"),
            "trigger": {"availableNow": True},
        },
    )
    # target ~2 waves' rows per batch → the controller must raise the
    # trigger above 1 after observing wave-1 rows/file
    controller = BatchSizeController(target_rows=10_000_000, min_files=1, max_files=8)
    pipe.init()
    for b in (0, 1):
        name = f"batch_{b:05d}.parquet"
        shutil.copy2(os.path.join(staging, name), os.path.join(feed, name))
    hist1 = pipe.run_adaptive(controller, segments=1)
    if hist1[0]["next_files_per_trigger"] <= 1:
        raise RuntimeError("controller did not resize the trigger")
    committed_mid = sink.committed_batches()
    for b in (2, 3):
        name = f"batch_{b:05d}.parquet"
        shutil.copy2(os.path.join(staging, name), os.path.join(feed, name))
    pipe.run_adaptive(controller, segments=1)
    if len(sink.committed_batches()) <= len(committed_mid):
        raise RuntimeError("resized segment processed no new batches")
    return sink.read_table(spark).select(*CDC_COLS)


def stream_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL CDC OperationType surface THROUGH the streaming sink:
    a change feed of three commits (v1 inserts, v2 updates every 5th
    turn, v3 DELETES every 7th) runs through the exactly-once
    MergeSink, then commit 1 is RE-DELIVERED at its original epoch id
    (process_batch with batch_id=0 — the foreachBatch replay a crashed
    driver produces) so the sink's commit-marker skip is what absorbs
    the replay; the read side resolves latest-version-per-key and
    drops delete-terminated keys (the Iceberg merge-on-read shape).
    Must equal the batch cdc_with_deletes oracle —
    insert/update/delete envelope semantics survive micro-batching,
    same-epoch replay, and the sink commit protocol end-to-end."""
    t = transcripts_from_events(spark, sf_dir)
    v1 = t.withColumn("_change_type", F.lit("insert")).withColumn(
        "_commit_version", F.lit(1).cast("long")
    )
    v2 = (
        t.filter(F.col("turn_idx") % 5 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" [edited]")))
        .withColumn("_change_type", F.lit("update"))
        .withColumn("_commit_version", F.lit(2).cast("long"))
    )
    v3 = (
        t.filter(F.col("turn_idx") % 7 == 0)
        .withColumn("_change_type", F.lit("delete"))
        .withColumn("_commit_version", F.lit(3).cast("long"))
    )
    feed = _scratch("cdcdel_feed")
    for i, part in enumerate((v1, v2, v3)):
        land_file(part, feed, i)
    sink = MergeSink(_scratch("cdcdel_table"), version_col="_commit_version", n_partitions=8)
    _pipeline_drain(spark, "cdcdel", feed, _scratch("cdcdel_ckpt"), {"type": "merge", "sink": sink})
    # crash-replay of commit 1 at its ORIGINAL epoch id: batch_id 0 is
    # already committed, so the sink's marker skip (merge.py
    # process_batch) must absorb it without touching the table
    committed_before = sink.committed_batches()
    sink.process_batch(v1, 0)
    if sink.committed_batches() != committed_before:  # survives python -O
        raise RuntimeError("same-epoch replay re-committed")
    return sink.read_table(spark).select(*CDC_COLS)


def stream_dedup_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star composition in ONE streaming query: change feed
    → watermarked dedup (dropDuplicatesWithinWatermark) → session-
    window aggregation → append sink. TWO stateful operators chained
    in a single micro-batch plan (Spark multi-stateful-operator
    support): the dedup state absorbs the crash-replayed batch 0, the
    session state closes conversation boundaries, and the output must
    equal the batch gaps-and-islands oracle — i.e. the replay is
    invisible THROUGH the whole chain, not just through one operator.
    Session emission uses the same closure predicate as
    stream_session_windows (w_end <= final watermark)."""
    from dstream_spark.operators.event_time import with_event_time
    from dstream_spark.operators.windows import _flatten_window

    src = _feed_source(spark, sf_dir, "dsess", split_by_time=True, replay_batch0=True)
    deduped = (
        with_event_time(src, "ts")
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )
    agg = _flatten_window(
        deduped.groupBy(F.session_window("ts", "30 minutes").alias("w"), "conv_id").agg(
            F.count(F.lit(1)).alias("n_turns")
        )
    )
    return run_stream(agg, "append")


def stream_hourly_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained time-window aggregations in ONE streaming plan (the
    hypertable continuous-aggregate-over-continuous-aggregate shape):
    hourly per-conversation turn counts roll up into daily totals /
    peak-hour stats. The second aggregation consumes the first's
    window column as its event time (window_time), so BOTH aggregation
    states are watermark-bounded — the 10^12-turn form of a rollup
    never re-reads raw turns. Emission: a daily window is final once
    its end <= final watermark; the oracle applies the same closure
    to the batch double-aggregation."""
    from dstream_spark.operators.event_time import with_event_time
    from dstream_spark.operators.windows import _flatten_window

    src = _feed_source(spark, sf_dir, "rollup", split_by_time=True)
    hourly = (
        with_event_time(src, "ts")
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )
    daily = _flatten_window(
        hourly.groupBy(F.window(F.window_time("w"), "1 day").alias("w"), "conv_id").agg(
            F.sum("n_turns").cast("bigint").alias("n_turns_day"),
            F.max("n_turns").alias("peak_hour_turns"),
            F.count(F.lit(1)).alias("active_hours"),
        )
    )
    return run_stream(daily, "append")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (append mode) over a quasi-ordered
    feed: conversation-boundary detection with bounded state. Emission
    semantics (verified empirically at the boundary): a session emits
    once its window end (last event + gap) <= final watermark
    (max event time - delay); the oracle applies the same predicate to
    the gaps-and-islands batch sessions."""
    from dstream_spark.operators.windows import session_stream

    src = _feed_source(spark, sf_dir, "sessw", split_by_time=True)
    agg = session_stream(src, "30 minutes", keys=("conv_id",), watermark="30 minutes")
    return run_stream(agg, "append")


def stream_cursor_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState per-conversation cursor over an
    in-order feed with a replayed batch: emits each turn exactly once
    (dstream's (LSN, Seq) cursor loop as a streaming operator)."""
    src = _feed_source(spark, sf_dir, "cursor", replay_batch0=True, split_by_turn=True)
    return run_stream(cursor_dedup_stream(src), "append")


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/30-minute windows per role computed BY THE
    STREAMING ENGINE (complete mode), equal to the batch sliding
    oracle."""
    from dstream_spark.operators.windows import sliding

    agg = sliding(
        _feed_source(spark, sf_dir, "slide"), "1 hour", "30 minutes", keys=("role",),
        aggs=[F.count(F.lit(1)).alias("n_turns")],
    )
    return run_stream(agg, "complete")


def stream_window_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star WINDOWED pipeline end-to-end under the oracle:
    change feed → watermarked tumbling agg (update mode) → keyed
    exactly-once MergeSink (latest epoch version per (w_start,
    conv_id)) → read back. Update mode re-emits a window's running
    total each batch; the version-keyed MERGE keeps the latest, so the
    final table equals the batch tumbling aggregate — the
    ingester→publisher contract for aggregated state, not just rows."""
    from dstream_spark.operators.windows import tumbling

    agg = tumbling(
        _feed_source(spark, sf_dir, "wsink_feed", split_by_time=True),
        "1 hour",
        keys=("conv_id",),
        aggs=[
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("role") == "agent", 1).otherwise(0)).cast("bigint").alias("n_agent"),
        ],
        watermark="30 minutes",
    )
    sink = MergeSink(
        _scratch("wsink_table"),
        keys=("w_start", "conv_id"),
        partition_key="conv_id",
        order_cols=("conv_id", "w_start"),
        version_col="_v",
        n_partitions=8,
    )
    run_stream(agg, "update", foreach_batch=sink.process_batch, checkpoint=_scratch("wsink_ckpt"))
    return sink.read_table(spark).select("w_start", "w_end", "conv_id", "n_turns", "n_agent")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming change feed enriched against a
    STATIC dimension table (per-tool corpus totals, computed batch-side
    up front). Spark broadcasts/rejoins the static side in every
    micro-batch; append output is batching-invariant, so the result
    equals the same join done fully in batch — the dimension-enrichment
    pattern (CDC rows -> lookup table) the reference leaves to the
    downstream consumer."""
    src = _feed_source(spark, sf_dir, "senrich")
    dim = (
        transcripts_from_events(spark, sf_dir)
        .filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(F.count(F.lit(1)).alias("tool_total"))
    )
    enriched = (
        src.filter(F.col("tool").isNotNull())
        .join(F.broadcast(dim), "tool")
        .select("conv_id", "turn_idx", "tool", "tool_total")
    )
    return run_stream(enriched, "append")


def stream_multi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sink fanout under the gate (R3/D6): one change feed WITH a
    replayed batch fans out to TWO MergeSinks, each with independent
    lineage. Returning the SECOND destination's table proves the fanout
    neither lost nor duplicated rows for a non-primary destination —
    per-destination exactly-once, not just per-query."""
    feed = _scratch("msink_feed")
    _write_feed(spark, sf_dir, feed, n_batches=4, replay_batch0=True)
    sink_a = MergeSink(_scratch("msink_a"), n_partitions=4)
    sink_b = MergeSink(_scratch("msink_b"), n_partitions=4)
    _pipeline_drain(
        spark, "msink", feed, _scratch("msink_ckpt"), {"type": "multi", "sinks": [sink_a, sink_b]}
    )
    return sink_b.read_table(spark).select(*CDC_COLS)


def stream_inc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated form of the incremental streaming LSH dedup
    (operators/incremental_dedup.py): the documents table arrives as
    four doc_id-ascending micro-batches fed through
    ``IncrementalLshDedup.process_batch`` (the foreachBatch body) — a
    growing exactly-once band index plus a dup log. Epoch 1 is then
    crash-replayed at its ORIGINAL id; the commit markers must absorb
    it without touching either table.

    Because arrival order is ascending doc_id and "earlier" is
    "smaller doc_id" (the CDC LSN analog), the incremental dup log is
    exactly the global batch answer: for each doc, the minimum earlier
    doc sharing >=1 LSH band bucket — the docs_minhash_pairs oracle
    rolled up per right-hand doc. Only the two scalar id bounds are
    read on the driver; slicing is JVM-side."""
    from dstream_spark.fixtures.transcripts import register_tables
    from dstream_spark.operators.incremental_dedup import IncrementalLshDedup, slice_by_id

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").select("doc_id", "text")
    n_batches = 4
    sliced = slice_by_id(docs, n_batches).persist()
    d = IncrementalLshDedup(
        _scratch("incdedup_idx"), _scratch("incdedup_dups"), n_partitions=8
    )
    d.init()
    try:
        for b in range(n_batches):
            d.process_batch(sliced.filter(F.col("_slice") == b).drop("_slice"), b)
        committed = (d.index.committed_batches(), d.dups.committed_batches())
        d.process_batch(sliced.filter(F.col("_slice") == 1).drop("_slice"), 1)
        if (d.index.committed_batches(), d.dups.committed_batches()) != committed:
            raise RuntimeError("same-epoch replay re-committed")  # survives -O
    finally:
        sliced.unpersist()
    return d.read_dups(spark)


def stream_cursor_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cursor-dedup operator WITH EventTimeTimeout TTL eviction
    under the oracle: a time-ordered feed (split_by_time — disjoint
    ascending ranges, so no legitimate row is ever behind the
    watermark) with a crash-replayed batch 0. The replay arrives far
    below the final watermark and is absorbed by the operator's
    late-input filter — the exact contract that makes a TTL-evicted
    cursor safe (operators/state.py) — while conversations whose cursors
    were evicted mid-stream (ttl 30 min against a multi-day range)
    still emit every remaining turn exactly once. Output == identity,
    byte-equal to the NoTimeout form's oracle."""
    src = _feed_source(spark, sf_dir, "cursor_ttl", replay_batch0=True, split_by_time=True)
    return run_stream(cursor_dedup_stream(src, ttl_s=1800, wm_delay_s=600), "append")


def stream_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 dimension BUILD from the change stream, end-to-end under
    the oracle: time-range-split feed (the LSN-ordered CDC poll) →
    per-key stateful fold (operators/scd.py::scd2_stream — state = the
    open version per dimension key) → versioned exactly-once MergeSink
    → read back.

    The part a plain windowed agg can't do: a new change RETROACTIVELY
    CLOSES the previous open version — an upsert of a row emitted in
    an EARLIER epoch. The merge-on-read sink resolves it because the
    closing emission carries the same (tool, conv_id, turn_idx) key at
    a later epoch version. Batch 0 is feed-level crash-replayed (fresh
    batch id — the commit markers canNOT absorb it); the operator's
    cursor filter must, exactly like stream_cursor_dedup_ttl. Final
    table == the batch lead()-window twin (scd2_build) — including
    every is_current flag and every valid_to, closed or open."""
    from dstream_spark.operators.scd import changes_of, scd2_stream

    src = _feed_source(spark, sf_dir, "scd2_feed", replay_batch0=True, split_by_time=True)
    out = scd2_stream(changes_of(src.select(*CDC_COLS)))
    sink = MergeSink(
        _scratch("scd2_table"),
        keys=("tool", "conv_id", "turn_idx"),
        partition_key="tool",
        order_cols=("tool", "conv_id", "turn_idx"),
        version_col="_v",
        n_partitions=4,
    )
    run_stream(out, "append", foreach_batch=sink.process_batch, checkpoint=_scratch("scd2_ckpt"))
    return sink.read_table(spark).select(
        "tool", "conv_id", "turn_idx", "valid_from", "valid_to", "attr", "is_current"
    )
