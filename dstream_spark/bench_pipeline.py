"""The benchmark pipeline: the north-star CDC job at measurable size.

Builds a replicated change feed (transcripts × REP, conv_id salted per
replica, time-sliced into ordered files with a 10% in-slice duplicate
injection — the crash-replay overlap) and runs the reference pipeline:

    changefeed → watermark → dropDuplicatesWithinWatermark
               → foreachBatch exactly-once MergeSink

plus a windowed-state variant:

    changefeed → watermark → tumbling agg (update mode)
               → keyed MergeSink (latest version per window key)

Throughput = input events / wall-clock seconds, the BASELINE.json
metric. tools/scaling_bench.py runs the same job at two parallelism
levels for the N-vs-4N scaling-efficiency evidence.

Feed construction is all JVM-side (crossJoin with a range, one
repartitionByRange-equivalent pass, partitioned write) — generating
10^6+ events takes seconds, not minutes.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstream_spark.fixtures.transcripts import transcripts_from_events
from dstream_spark.operators.dedup import dedup_stream
from dstream_spark.operators.event_time import epoch_s, with_event_time
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed
from dstream_spark.streaming.pipeline import run_stream


def build_feed(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    replicas: int = 10,
    n_slices: int = 16,
    dup_fraction: float = 0.1,
) -> int:
    """Materialize the replicated, time-sliced feed. Returns the input
    event count (including injected duplicates). Idempotent: reuses an
    existing feed of the same shape."""
    marker = os.path.join(out_dir, "_feed_meta")
    if os.path.exists(marker):
        with open(marker) as f:
            return int(f.read().strip())
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    t = transcripts_from_events(spark, sf_dir)
    reps = spark.range(replicas).select(F.col("id").alias("_rep"))
    feed = (
        t.crossJoin(reps)
        .withColumn("conv_id", F.concat_ws("#", "conv_id", F.col("_rep").cast("string")))
        .drop("_rep")
    )
    # realistic CDC time shape: conversations are COMPACT (one turn per
    # 30s) and start uniformly over a 2-day span, so the stream is
    # quasi-ordered and the dedup watermark evicts state progressively
    # (state ≈ the last watermark-window of keys, not a whole batch —
    # the property that holds at 10^12 turns). Derived-events ts spans
    # 30 days with multi-hour turn gaps, which is not a CDC arrival
    # pattern; the remap keeps (conv_id, turn_idx) order == ts order.
    span_s = 2 * 86400
    feed = feed.withColumn(
        "ts",
        (
            F.lit("2024-03-01 00:00:00").cast("timestamp_ntz")
            + F.make_interval(
                secs=(F.pmod(F.xxhash64("conv_id"), F.lit(span_s)) + F.col("turn_idx") * 30).cast("double")
            )
        ),
    )
    dups = feed.sample(fraction=dup_fraction, seed=42)
    feed = feed.unionAll(dups)
    bounds = feed.agg(
        epoch_s(F.min("ts")).alias("lo"),
        epoch_s(F.max("ts")).alias("hi"),
    ).first()
    span = max(1, bounds.hi - bounds.lo + 1)
    feed = (
        feed.withColumn(
            "_slice",
            F.least(
                F.lit(n_slices - 1),
                ((epoch_s("ts") - F.lit(bounds.lo)) * n_slices / span).cast("int"),
            ),
        )
        .withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_version", F.col("_slice").cast("long"))
    )
    staging = out_dir + ".staging"
    feed.repartition(n_slices, "_slice").write.mode("overwrite").partitionBy("_slice").parquet(staging)

    n = 0
    t0 = 1_700_000_000
    for s in range(n_slices):
        d = os.path.join(staging, f"_slice={s}")
        if not os.path.isdir(d):
            continue
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        for j, fname in enumerate(files):
            dst = os.path.join(out_dir, f"slice_{s:04d}_{j:03d}.parquet")
            os.rename(os.path.join(d, fname), dst)
            os.utime(dst, (t0 + s * 10, t0 + s * 10))
    shutil.rmtree(staging)
    total = spark.read.parquet(out_dir).count()
    with open(marker, "w") as f:
        f.write(str(total))
    return total


def transform_stage(df):
    """The pipeline's vectorized text transforms (north rule: all text
    transforms JVM/Arrow-side): token stats, quality score, document
    fingerprint, and the 32-bit simhash used for near-dup blocking at
    ingest. Pure projections — codegen'd, no shuffle; this is the
    CPU-parallel portion of the per-event work.

    NOTE: an earlier variant also computed the 32-bit simhash inline;
    at 8M-row micro-batches its per-row array allocation (md5 per
    token × 32 bit-folds) drove the 32-core JVM into GC collapse
    (~4 of 32 cores busy). Near-dup fingerprinting at scale belongs in
    a separate column-pruned pass (q_docs_simhash), not the ingest hot
    loop — see BENCH/NOTES.md."""
    from dstream_spark.functions import text as textfn

    return df.withColumns(
        {
            "n_tokens": textfn.token_count("text"),
            "quality": textfn.quality_score("text"),
            "fingerprint": textfn.fingerprint("text"),
        }
    )


TRACK_ROWS = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"


@contextmanager
def _session_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session for the block, then give each key
    back its previous value (unset one that was absent), so a drain
    leaves the caller's session as it found it."""
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _state_sum(progress: list[dict], metric: str) -> int:
    """``metric`` summed over every state operator of every batch."""
    return sum(op[metric] for p in progress for op in p["stateOperators"])


def run_dedup_sink(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    n_partitions: int,
    files_per_trigger: int = 4,
) -> dict:
    """change-capture → text transforms → stateful dedup →
    exactly-once sink; returns {events, seconds, events_per_sec,
    out_rows, state_rows, rows_dropped_by_watermark}.

    State partitions = n_partitions (measured: 2× cores oversizes
    state-store overhead for micro-batches; see BENCH/BASELINE.md).

    The drain's own query runs with RocksDB row tracking off: with it
    on, every put and every eviction repeats the get the dedup has just
    made. Both drains give the session its confs back when they return.
    The query's ``numRowsTotal`` then reads 0, but every put of a key
    dedup is a new key, so ``state_rows`` = Σ numRowsUpdated − Σ numRowsRemoved is the
    exact live count at the end of the drain (of one that fits in
    ``recentProgress``: 100 batches by default).
    """
    shutil.rmtree(work_dir, ignore_errors=True)
    sink = MergeSink(os.path.join(work_dir, "table"), n_partitions=n_partitions)
    src = changefeed(spark, {"path": feed_dir, "max_files_per_trigger": files_per_trigger})
    # transform AFTER the stateful dedup (r6, guide §2.3 "shuffle
    # fewer bytes" / §1.2 "don't compute things you throw away"): the
    # state-store exchange then carries the raw feed without the three
    # derived columns, and the text kernels run once per SURVIVING row
    # instead of once per input row (duplicates included). A pure
    # projection commutes with key-dedup — duplicate rows are
    # byte-identical, so whichever row survives carries the same
    # derived values; out_rows and content are identical (A/B'd at the
    # 44M-event proxy: 461k -> 580k events/s median-of-3, interleaved).
    deduped = transform_stage(dedup_stream(src, watermark="30 minutes"))
    conf = {"spark.sql.shuffle.partitions": str(n_partitions), TRACK_ROWS: "false"}
    with _session_conf(spark, conf):
        n_input = spark.read.parquet(feed_dir).count()
        t0 = time.time()
        progress = run_stream(
            deduped, "append", foreach_batch=sink.process_batch,
            checkpoint=os.path.join(work_dir, "ckpt"),
        )
        dt = time.time() - t0
        out_rows = sink.read_table(spark).count()
    return {
        "events": n_input,
        "seconds": round(dt, 2),
        "events_per_sec": round(n_input / dt, 1),
        "out_rows": out_rows,
        "state_rows": _state_sum(progress, "numRowsUpdated")
        - _state_sum(progress, "numRowsRemoved"),
        "rows_dropped_by_watermark": _state_sum(progress, "numRowsDroppedByWatermark"),
    }


def run_window_sink(
    spark: SparkSession,
    feed_dir: str,
    work_dir: str,
    n_partitions: int,
    files_per_trigger: int = 4,
) -> dict:
    """change-capture → windowed state (update mode) → keyed
    exactly-once sink (latest version per window key); returns
    {events, seconds, events_per_sec, out_rows,
    rows_dropped_by_watermark}."""
    shutil.rmtree(work_dir, ignore_errors=True)
    sink = MergeSink(
        os.path.join(work_dir, "table"),
        keys=("w_start", "conv_id"),
        partition_key="conv_id",
        order_cols=("conv_id", "w_start"),
        version_col="_v",
        n_partitions=n_partitions,
    )
    src = changefeed(spark, {"path": feed_dir, "max_files_per_trigger": files_per_trigger})
    agg = (
        with_event_time(src, "ts")
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("w_start"), "conv_id", "n_turns")
    )
    with _session_conf(spark, {"spark.sql.shuffle.partitions": str(n_partitions)}):
        n_input = spark.read.parquet(feed_dir).count()
        t0 = time.time()
        progress = run_stream(
            agg, "update", foreach_batch=sink.process_batch,
            checkpoint=os.path.join(work_dir, "ckpt"),
        )
        dt = time.time() - t0
        out_rows = sink.read_table(spark).count()
    return {
        "events": n_input,
        "seconds": round(dt, 2),
        "events_per_sec": round(n_input / dt, 1),
        "out_rows": out_rows,
        "rows_dropped_by_watermark": _state_sum(progress, "numRowsDroppedByWatermark"),
    }
