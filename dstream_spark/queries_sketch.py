"""Registry entries for the deterministic sketches
(functions/sketches.py): HLL count-distinct over conversations and a
count-min frequency table over events, in batch and streaming-merge
forms.

Oracle strategy: the scalar hash/estimate formulas are SHARED SQL TEXT
(sketches.hex_pair_expr / rho_expr / HLL_EST_EXPR) interpolated into
both the Spark plan (F.expr) and the DuckDB oracle, so the sketches
are value-exact across engines — approximate with respect to the true
cardinality, exact with respect to the algorithm. See the module
docstring in functions/sketches.py for the determinism analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dstream_spark.fixtures.transcripts import register_tables
from dstream_spark.functions.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    HIST_BINS,
    HLL_EST_EXPR,
    cms_build,
    cms_build_raw,
    cms_lookup,
    cms_probe_rows,
    hex_pair_expr,
    hist_bins,
    hist_quantile_expr,
    hist_quantiles,
    hll_estimate,
    hll_registers,
)
from dstream_spark.functions.sketches import rho_expr as _rho
from dstream_spark.queries_base import Query, _t_sql, _transcripts
from dstream_spark.streaming.pipeline import run_stream


def q_conv_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register table itself — (role, bucket, r), ≤256 rows per
    role whatever the conversation count. Integer-exact: this IS the
    mergeable sketch state an executor would ship for a map-side
    combine at 10^12 turns (merge = MAX per cell, idempotent under
    replay)."""
    t = _transcripts(spark, sf_dir)
    return hll_registers(t, ["role"], "conv_id")


def q_conv_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct conversations per role (HLL, m=256)
    alongside the exact COUNT(DISTINCT): one row per role with the
    estimate and the truth it approximates. The estimate aggregates
    the ≤256-row register table — at scale the exact column is the
    expensive one (full shuffle of every conv_id); the sketch column
    costs a constant-size combine."""
    t = _transcripts(spark, sf_dir)
    est = hll_estimate(hll_registers(t, ["role"], "conv_id"), ["role"])
    ex = t.groupBy("role").agg(
        F.countDistinct("conv_id").alias("exact_distinct")
    )
    return est.join(ex, "role").select("role", "est_distinct", "exact_distinct")


def q_stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch merge: each micro-batch computes its own
    partial HLL registers and appends them (keyed by epoch) through
    the exactly-once MergeSink; the read side folds all epochs with
    MAX per (role, bucket) and the estimate over the MERGED registers
    equals the batch estimate — the mergeability property demonstrated
    end-to-end through the commit protocol. Batch 0 is replayed: the
    sink's commit-marker skip absorbs it, and even a hypothetical
    double-apply could not corrupt the sketch because max-merge is
    idempotent (the property that makes HLL safe under at-least-once
    delivery generally)."""
    from dstream_spark.sinks.merge import MergeSink
    from dstream_spark.streaming_queries import _feed_source, _scratch

    src = _feed_source(spark, sf_dir, "hllm_feed", replay_batch0=True)
    sink = MergeSink(
        _scratch("hllm_table"),
        keys=("role", "bucket", "epoch"),
        partition_key="role",
        order_cols=("role", "bucket"),
        n_partitions=4,
    )

    def deposit(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, ["role"], "conv_id").withColumn(
            "epoch", F.lit(int(batch_id)).cast("long")
        )
        sink.process_batch(regs, batch_id)

    run_stream(src, "append", foreach_batch=deposit, checkpoint=_scratch("hllm_ckpt"))

    merged = (
        sink.read_table(spark)
        .groupBy("role", "bucket")
        .agg(F.max("r").alias("r"))
    )
    est = hll_estimate(merged, ["role"])
    ex = _transcripts(spark, sf_dir).groupBy("role").agg(
        F.countDistinct("conv_id").alias("exact_distinct")
    )
    return est.join(ex, "role").select("role", "est_distinct", "exact_distinct")


def q_stream_hist_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING histogram merge: each micro-batch deposits its own
    per-(role, bin) turn-text-length counts (keyed by epoch) through
    the exactly-once MergeSink; the read side SUMs the partials and
    the interpolated p50/p95 over the merged bins equal the batch
    formula over the whole corpus. The contrast with stream_hll_merge
    is the point: SUM-merge is NOT idempotent, so when batch 0 is
    replayed here the commit-marker skip is LOAD-BEARING — a double-
    apply would inflate every count and shift the quantiles, whereas
    the HLL max-merge would shrug it off. This is the general shape of
    additive sketches (histograms, CMS, counters) under at-least-once
    upstreams: correctness comes from the sink's exactly-once
    protocol, not the algebra — so the replay here is a crash-replay
    of epoch 0 at its ORIGINAL epoch id (the stream_cdc_deletes
    mechanism), which the commit marker must absorb; a feed-level
    replay would arrive as a fresh batch id and sum-keyed partials
    have no row-key MERGE to fall back on. Bounds are pinned
    constants (lo=0, span=32 chars) as production would pin them — a
    data-dependent scalar agg is unavailable mid-stream."""
    import os

    from dstream_spark.sinks.merge import MergeSink
    from dstream_spark.sources.registry import changefeed
    from dstream_spark.streaming_queries import _scratch, _write_feed

    feed = _scratch("histm_feed")
    _write_feed(spark, sf_dir, feed, n_batches=4)
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    sink = MergeSink(
        _scratch("histm_table"),
        keys=("role", "bin", "epoch"),
        partition_key="role",
        order_cols=("role", "bin"),
        n_partitions=4,
    )

    def partial(batch_df: DataFrame, batch_id: int) -> DataFrame:
        vals = batch_df.withColumn("tlen", F.length("text").cast("double"))
        return hist_bins(vals, ["role"], "tlen", 0.0, 32.0).withColumn(
            "epoch", F.lit(int(batch_id)).cast("long")
        )

    def deposit(batch_df: DataFrame, batch_id: int) -> None:
        sink.process_batch(partial(batch_df, batch_id), batch_id)

    run_stream(src, "append", foreach_batch=deposit, checkpoint=_scratch("histm_ckpt"))

    # crash-replay epoch 0 at its ORIGINAL id: the marker skip must
    # reject the whole deposit — with SUM partials a double-apply
    # would show up directly in n_turns and the quantiles
    committed_before = sink.committed_batches()
    sink.process_batch(
        partial(spark.read.parquet(os.path.join(feed, "batch_00000.parquet")), 0), 0
    )
    if sink.committed_batches() != committed_before:
        raise RuntimeError("same-epoch replay re-committed a sum partial")

    merged = (
        sink.read_table(spark)
        .groupBy("role", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    est = hist_quantiles(merged, ["role"], 0.0, 32.0, (0.5, 0.95))
    n = merged.groupBy("role").agg(F.sum("cnt").alias("n_turns"))
    return n.join(est, "role").select("role", "n_turns", "est_p50", "est_p95")


def q_events_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimation over the events table: per-user
    event counts point-queried from a d=4 × w=64 sketch next to the
    true counts. cms_est >= n_events for every key by construction
    (collisions only add) — the overestimate property is in the data.
    The sketch is 256 cells TOTAL; at 10^12 events the deposit is a
    map-side combine to 256 rows and the probe a broadcast join,
    while the true-count column is the full-shuffle path being
    replaced."""
    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events")
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    # deposit from the ALREADY-AGGREGATED per-key counts: the raw
    # events shuffle happens once (truth), and the sketch build rides
    # on |keys| rows instead of re-scanning |events|
    table = cms_build(truth, "user_id", weight_col="n_events")
    est = cms_lookup(truth, table, "user_id")
    return truth.join(est, "user_id").select("user_id", "n_events", "cms_est")


def q_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (freq*k >= total, k=150) with a CMS-pruned
    shuffle — the skew-DETECTION primitive that feeds salted_agg's
    hot-key handling. The sketch prune is correctness-TRANSPARENT:
    CMS never underestimates, so candidates surviving the estimate
    filter are a SUPERSET of the true heavy hitters, and the exact
    verify runs only on them — the oracle is plain GROUP BY/HAVING
    with no sketch in sight. At 10^12 events this is the point: NO
    stage ever shuffles the key space — the sketch builds via
    cms_build_raw (the only exchange is the 256-cell partial agg),
    every row probes the broadcast table map-side (cms_probe_rows),
    the threshold filter drops the long tail BEFORE the first
    key-bearing exchange, and only survivor rows reach a distinct /
    exact count. The threshold compares in integer math
    (n*k >= total), no double division anywhere."""
    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events")
    k = 150
    table = cms_build_raw(ev, "user_id")  # 256-cell shuffle, key space unseen
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    survivors = (
        cms_probe_rows(ev.select("user_id"), "user_id", table)
        .join(F.broadcast(total))
        .filter(F.col("cms_est") * k >= F.col("n_total"))
        .select("user_id")
        .distinct()
    )
    exact = (
        ev.join(F.broadcast(survivors), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        exact.join(F.broadcast(total))
        .filter(F.col("n_events") * k >= F.col("n_total"))
        .select("user_id", "n_events")
    )


_HEAVY_SQL = """
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events
)
SELECT user_id, n_events FROM c, t WHERE n_events * 150 >= n_total"""


def q_events_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch: per-event-type p50/p95 estimated
    from a {HIST_BINS}-bin equi-width histogram with in-bin linear
    interpolation — the third sketch family (distinct → HLL,
    frequency → CMS, quantiles → histogram). The bin table is
    ≤{HIST_BINS} rows per group at any input size and merges by SUM
    per (group, bin); the rank scan is a bounded window over the bin
    table, never a sort of the raw values (exact percentiles at
    10^12 rows need exactly that global sort). Bounds come from one
    scalar agg (two-pass; production pins them from domain
    knowledge). Shared-formula oracle: bin assignment and the
    interpolation run as identical SQL text on both engines."""
    from dstream_spark.fixtures.transcripts import register_tables as _rt

    _rt(spark, sf_dir, ("events",))
    ev = spark.table("events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    lo, span = float(lo), float(hi) - float(lo)
    bins = hist_bins(ev, ["event_type"], "value", lo, span)
    est = hist_quantiles(bins, ["event_type"], lo, span, (0.5, 0.95))
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return n.join(est, "event_type").select(
        "event_type", "n_events", "est_p50", "est_p95"
    )


_HLL_REGS_CTES = f"""
, h AS (SELECT role, md5(conv_id) AS _h FROM transcripts)
, b AS (SELECT role, CAST({hex_pair_expr('_h')} AS INT) AS bucket,
               CAST({_rho('_h')} AS INT) AS rho FROM h)
, regs AS (SELECT role, bucket, MAX(rho) AS r FROM b GROUP BY role, bucket)
"""

_HLL_DISTINCT_SQL = _t_sql(
    _HLL_REGS_CTES
    + f"""
, agg AS (SELECT role, COUNT(*) AS n,
                 SUM(CAST(power(2.0, 63 - r) AS DECIMAL(38,0))) AS s_scaled
          FROM regs GROUP BY role)
, ex AS (SELECT role, CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS exact_distinct
         FROM transcripts GROUP BY role)
SELECT agg.role AS role, {HLL_EST_EXPR} AS est_distinct, ex.exact_distinct
FROM agg JOIN ex ON agg.role = ex.role"""
)

_CMS_HASH = "md5(CAST(user_id AS STRING) || ':' || CAST(i AS STRING))"

_CMS_SQL = f"""
WITH keyed AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS w FROM events GROUP BY user_id
), dep AS (
  SELECT user_id, i, w, {_CMS_HASH} AS _h
  FROM keyed CROSS JOIN range({CMS_DEPTH}) t(i)
), cells AS (
  SELECT user_id, i, w,
         CAST(({hex_pair_expr('_h')}) % {CMS_WIDTH} AS INT) AS bucket
  FROM dep
), tab AS (
  SELECT i, bucket, CAST(SUM(w) AS BIGINT) AS cnt
  FROM cells GROUP BY i, bucket
), est AS (
  SELECT c.user_id, CAST(MIN(t.cnt) AS BIGINT) AS cms_est
  FROM cells c JOIN tab t ON c.i = t.i AND c.bucket = t.bucket
  GROUP BY c.user_id
)
SELECT k.user_id, k.w AS n_events, e.cms_est
FROM keyed k JOIN est e ON k.user_id = e.user_id"""


_HIST_SQL = f"""
WITH b0 AS (
  SELECT MIN(value) AS lo, MAX(value) - MIN(value) AS span FROM events
), bins AS (
  SELECT event_type,
         least({HIST_BINS - 1},
               CAST(FLOOR((value - lo) * {HIST_BINS} / span) AS INT)) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events CROSS JOIN b0 GROUP BY event_type, bin
), cum AS (
  SELECT event_type, bin, cnt, lo, span,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n_total
  FROM bins CROSS JOIN b0
), q50 AS (
  SELECT event_type, {hist_quantile_expr('0.5')} AS est_p50,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bin) AS rn
  FROM cum WHERE cum >= ceil(0.5 * n_total)
), q95 AS (
  SELECT event_type, {hist_quantile_expr('0.95')} AS est_p95,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bin) AS rn
  FROM cum WHERE cum >= ceil(0.95 * n_total)
), n AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
)
SELECT n.event_type, n.n_events, q50.est_p50, q95.est_p95
FROM n
JOIN q50 ON n.event_type = q50.event_type AND q50.rn = 1
JOIN q95 ON n.event_type = q95.event_type AND q95.rn = 1"""


def q_stream_window_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed sketch: approximate distinct CONVERSATIONS PER HOUR
    computed in the stream — the canonical streaming-analytics shape
    ("distinct users per window") that an exact COUNT(DISTINCT) makes
    unbounded (per-window distinct state grows with cardinality,
    which is why Spark's own streaming dropDuplicates+window chain is
    the expensive path). Each micro-batch deposits per-(hour, bucket)
    register partials keyed by epoch; the read side max-merges across
    epochs and estimates per hour. The feed replays batch 0 AS A NEW
    FILE (fresh batch id — the at-least-once upstream case, no marker
    to save us) and the output is still exact-vs-oracle because
    max-merge is idempotent: the algebra, not the protocol, absorbs
    the duplicate. Complements stream_hist_merge, whose sum partials
    need the protocol. Register state is ≤256 rows per hour — at
    10^12 turns the per-window sketch is constant-size where exact
    distinct state is O(conversations)."""
    from dstream_spark.sinks.merge import MergeSink
    from dstream_spark.streaming_queries import _feed_source, _scratch

    src = _feed_source(spark, sf_dir, "whll_feed", replay_batch0=True)
    sink = MergeSink(
        _scratch("whll_table"),
        keys=("w_start", "bucket", "epoch"),
        partition_key="bucket",
        order_cols=("w_start", "bucket"),
        n_partitions=4,
    )

    def deposit(batch_df: DataFrame, batch_id: int) -> None:
        hourly = batch_df.withColumn("w_start", F.date_trunc("hour", F.col("ts")))
        regs = hll_registers(hourly, ["w_start"], "conv_id").withColumn(
            "epoch", F.lit(int(batch_id)).cast("long")
        )
        sink.process_batch(regs, batch_id)

    run_stream(src, "append", foreach_batch=deposit, checkpoint=_scratch("whll_ckpt"))

    merged = (
        sink.read_table(spark)
        .groupBy("w_start", "bucket")
        .agg(F.max("r").alias("r"))
    )
    est = hll_estimate(merged, ["w_start"])
    ex = (
        _transcripts(spark, sf_dir)
        .withColumn("w_start", F.date_trunc("hour", F.col("ts")))
        .groupBy("w_start")
        .agg(F.countDistinct("conv_id").alias("exact_distinct"))
    )
    return est.join(ex, "w_start").select("w_start", "est_distinct", "exact_distinct")


_WINDOW_HLL_SQL = _t_sql(f"""
, h AS (SELECT date_trunc('hour', ts) AS w_start, md5(conv_id) AS _h FROM transcripts)
, b AS (SELECT w_start, CAST({hex_pair_expr('_h')} AS INT) AS bucket,
               CAST({_rho('_h')} AS INT) AS rho FROM h)
, regs AS (SELECT w_start, bucket, MAX(rho) AS r FROM b GROUP BY w_start, bucket)
, agg AS (SELECT w_start, COUNT(*) AS n,
                 SUM(CAST(power(2.0, 63 - r) AS DECIMAL(38,0))) AS s_scaled
          FROM regs GROUP BY w_start)
, ex AS (SELECT date_trunc('hour', ts) AS w_start,
                CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS exact_distinct
         FROM transcripts GROUP BY 1)
SELECT agg.w_start AS w_start, {HLL_EST_EXPR} AS est_distinct, ex.exact_distinct
FROM agg JOIN ex ON agg.w_start = ex.w_start""")


def q_stream_window_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed additive sketch: p50/p95 turn-text length PER HOUR
    computed in the stream — the observability shape ("latency
    percentiles per minute") that exact per-window percentiles make
    unbounded (they hold every raw value per open window). Completes
    the 2x2 sketch matrix: {global, windowed} x {max-merge,
    sum-merge} — stream_hll_merge / stream_window_hll cover the
    idempotent max column, stream_hist_merge covers global sum, and
    this is windowed sum: per-(hour, bin) partials keyed by epoch,
    SUM-merged at read, epoch 0 crash-replayed at its ORIGINAL id so
    the commit-marker skip (not the algebra) absorbs it. State per
    hour is ≤HIST_BINS rows whatever the traffic."""
    import os

    from dstream_spark.sinks.merge import MergeSink
    from dstream_spark.sources.registry import changefeed
    from dstream_spark.streaming_queries import _scratch, _write_feed

    feed = _scratch("whist_feed")
    _write_feed(spark, sf_dir, feed, n_batches=4)
    src = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    sink = MergeSink(
        _scratch("whist_table"),
        keys=("w_start", "bin", "epoch"),
        partition_key="bin",
        order_cols=("w_start", "bin"),
        n_partitions=4,
    )

    def partial(batch_df: DataFrame, batch_id: int) -> DataFrame:
        vals = batch_df.withColumn(
            "w_start", F.date_trunc("hour", F.col("ts"))
        ).withColumn("tlen", F.length("text").cast("double"))
        return hist_bins(vals, ["w_start"], "tlen", 0.0, 32.0).withColumn(
            "epoch", F.lit(int(batch_id)).cast("long")
        )

    def deposit(batch_df: DataFrame, batch_id: int) -> None:
        sink.process_batch(partial(batch_df, batch_id), batch_id)

    run_stream(src, "append", foreach_batch=deposit, checkpoint=_scratch("whist_ckpt"))

    committed_before = sink.committed_batches()
    sink.process_batch(
        partial(spark.read.parquet(os.path.join(feed, "batch_00000.parquet")), 0), 0
    )
    if sink.committed_batches() != committed_before:
        raise RuntimeError("same-epoch replay re-committed a sum partial")

    merged = (
        sink.read_table(spark)
        .groupBy("w_start", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    est = hist_quantiles(merged, ["w_start"], 0.0, 32.0, (0.5, 0.95))
    n = merged.groupBy("w_start").agg(F.sum("cnt").alias("n_turns"))
    return n.join(est, "w_start").select("w_start", "n_turns", "est_p50", "est_p95")


_WINDOW_HIST_SQL = _t_sql(f"""
, bins AS (
  SELECT date_trunc('hour', ts) AS w_start,
         least({HIST_BINS - 1},
               CAST(FLOOR((length(text) - 0.0) * {HIST_BINS} / 32.0) AS INT)) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM transcripts GROUP BY 1, 2
), cum AS (
  SELECT w_start, bin, cnt, 0.0 AS lo, 32.0 AS span,
         SUM(cnt) OVER (PARTITION BY w_start ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY w_start) AS n_total
  FROM bins
), q50 AS (
  SELECT w_start, {hist_quantile_expr('0.5')} AS est_p50,
         ROW_NUMBER() OVER (PARTITION BY w_start ORDER BY bin) AS rn
  FROM cum WHERE cum >= ceil(0.5 * n_total)
), q95 AS (
  SELECT w_start, {hist_quantile_expr('0.95')} AS est_p95,
         ROW_NUMBER() OVER (PARTITION BY w_start ORDER BY bin) AS rn
  FROM cum WHERE cum >= ceil(0.95 * n_total)
), n AS (
  SELECT w_start, CAST(SUM(cnt) AS BIGINT) AS n_turns FROM bins GROUP BY w_start
)
SELECT n.w_start, n.n_turns, q50.est_p50, q95.est_p95
FROM n
JOIN q50 ON n.w_start = q50.w_start AND q50.rn = 1
JOIN q95 ON n.w_start = q95.w_start AND q95.rn = 1""")


# batch twin of the streaming histogram deposit: same pinned bounds
# (lo=0, span=32), same bin/interpolation formulas — partials summed
# per (role, bin) across epochs == one pass over the whole corpus
_HIST_STREAM_SQL = _t_sql(f"""
, bins AS (
  SELECT role,
         least({HIST_BINS - 1},
               CAST(FLOOR((length(text) - 0.0) * {HIST_BINS} / 32.0) AS INT)) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM transcripts GROUP BY role, bin
), cum AS (
  SELECT role, bin, cnt, 0.0 AS lo, 32.0 AS span,
         SUM(cnt) OVER (PARTITION BY role ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY role) AS n_total
  FROM bins
), q50 AS (
  SELECT role, {hist_quantile_expr('0.5')} AS est_p50,
         ROW_NUMBER() OVER (PARTITION BY role ORDER BY bin) AS rn
  FROM cum WHERE cum >= ceil(0.5 * n_total)
), q95 AS (
  SELECT role, {hist_quantile_expr('0.95')} AS est_p95,
         ROW_NUMBER() OVER (PARTITION BY role ORDER BY bin) AS rn
  FROM cum WHERE cum >= ceil(0.95 * n_total)
), n AS (
  SELECT role, CAST(SUM(cnt) AS BIGINT) AS n_turns FROM bins GROUP BY role
)
SELECT n.role, n.n_turns, q50.est_p50, q95.est_p95
FROM n
JOIN q50 ON n.role = q50.role AND q50.rn = 1
JOIN q95 ON n.role = q95.role AND q95.rn = 1""")


SKETCH_QUERIES: dict[str, Query] = {
    "conv_hll_registers": Query(
        q_conv_hll_registers,
        _t_sql(_HLL_REGS_CTES + "SELECT role, bucket, r FROM regs"),
        "the HLL sketch state itself: ≤256 (bucket, max-rho) registers "
        "per role, integer-exact, merge = MAX per cell",
    ),
    "conv_hll_distinct": Query(
        q_conv_hll_distinct, _HLL_DISTINCT_SQL,
        "deterministic HLL (m=256, shared-formula oracle) next to the "
        "exact COUNT(DISTINCT) it approximates",
    ),
    "stream_hll_merge": Query(
        q_stream_hll_merge, _HLL_DISTINCT_SQL,
        "per-epoch partial registers through the exactly-once sink, "
        "max-merged at read == the batch estimate (mergeability + "
        "replay-idempotence end-to-end)",
    ),
    "events_cms_counts": Query(
        q_events_cms_counts, _CMS_SQL,
        "count-min sketch (d=4, w=64): per-user estimates >= true "
        "counts, 256-cell table, broadcast probe — integer-exact",
    ),
    "events_heavy_hitters": Query(
        q_events_heavy_hitters, _HEAVY_SQL,
        "exact heavy hitters with a CMS-pruned shuffle: overestimate "
        "=> candidate superset => exact verify on survivors only; "
        "integer threshold math, plain GROUP BY/HAVING oracle",
    ),
    "stream_window_hll": Query(
        q_stream_window_hll, _WINDOW_HLL_SQL,
        "windowed sketch: per-hour HLL distinct conversations merged "
        "across micro-batch epochs; feed-level replay (fresh batch id) "
        "absorbed by max-merge idempotence — the algebra-borne "
        "at-least-once case",
    ),
    "stream_window_hist": Query(
        q_stream_window_hist, _WINDOW_HIST_SQL,
        "windowed additive sketch: per-hour p50/p95 from sum-merged "
        "bin partials under an original-epoch crash-replay — the "
        "windowed-sum cell of the sketch matrix",
    ),
    "stream_hist_merge": Query(
        q_stream_hist_merge, _HIST_STREAM_SQL,
        "streaming histogram deposit: per-epoch (role, bin) partials "
        "SUM-merged through the exactly-once sink under a batch-0 "
        "replay — the marker skip is load-bearing (sum is not "
        "idempotent); merged p50/p95 == batch formula",
    ),
    "events_hist_quantiles": Query(
        q_events_hist_quantiles, _HIST_SQL,
        "mergeable 128-bin histogram quantiles (p50/p95, in-bin "
        "interpolation, shared-formula oracle) — bounded window over "
        "the bin table, no global sort",
    ),
}
