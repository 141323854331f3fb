"""Extended operator coverage: as-of join, running/cumulative windows,
rollup, pivot, median, semi/anti joins, arg_min/arg_max, term
frequency, multimodal plumbing. Same contract as queries.py: each
Spark program has a portable DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dstream_spark.fixtures.transcripts import register_tables
from dstream_spark.queries_base import (
    IDENTITY_SQL,
    Query,
    _materialize,
    _t_sql,
    _transcripts,
    fan_out,
)
from dstream_spark.streaming.pipeline import run_stream


def q_asof_join_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (composition: interval join → row_number pick): for
    each agent turn, the latest tool invocation at or before it within
    1 hour, in the same conversation."""
    from dstream_spark.operators.joins import asof_join

    t = _transcripts(spark, sf_dir)
    agents = t.filter(F.col("role") == "agent").select("conv_id", "turn_idx", "ts")
    tools = t.filter(F.col("tool").isNotNull()).select("conv_id", "turn_idx", "tool", "ts")
    j = asof_join(agents, tools, max_lookback_s=3600)
    return j.select(
        "conv_id",
        F.col("turn_idx").alias("agent_turn"),
        F.col("turn_idx_r").alias("tool_turn"),
        F.col("tool_r").alias("tool"),
    )


def q_running_turn_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window aggregate per conversation (running count +
    running max ts ordered by turn_idx)."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return t.select(
        "conv_id",
        "turn_idx",
        F.count(F.lit(1)).over(w).alias("cum_turns"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).over(w).cast("bigint").alias("cum_tools"),
    )


def q_turn_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + ntile window functions: per-turn gap to the previous turn
    in the conversation (seconds, NULL for the first turn) and the
    turn's quartile within the conversation. Epochs floor to whole
    seconds on both engines (the shared-CTE convention); the diff of
    two same-session epochs is timezone-invariant."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    return t.select(
        "conv_id",
        "turn_idx",
        (epoch - F.lag(epoch).over(w)).alias("gap_s"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


def q_rollup_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping over (event_type, value decile bucket)."""
    register_tables(spark, sf_dir, ("events",))
    e = spark.table("events").withColumn(
        "bucket", (F.floor(F.col("value") / 100.0)).cast("int")
    )
    return (
        e.rollup("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")) / 100.0).alias("sum_value"),
        )
    )


def q_conv_role_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-conversation role mix as columns."""
    t = _transcripts(spark, sf_dir)
    return (
        t.groupBy("conv_id")
        .pivot("role", ["user", "agent", "tool"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["user", "agent", "tool"])
        .select(
            "conv_id",
            F.col("user").alias("n_user"),
            F.col("agent").alias("n_agent"),
            F.col("tool").alias("n_tool"),
        )
    )


def q_median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + stddev per event type."""
    register_tables(spark, sf_dir, ("events",))
    e = spark.table("events")
    return e.groupBy("event_type").agg(
        F.round(F.median("value"), 6).alias("median_value"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


def q_orders_with_late_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS): orders having a line item shipped >90 days
    after the order date."""
    register_tables(spark, sf_dir, ("orders", "lineitem"))
    o = spark.table("orders")
    li = spark.table("lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return o.join(li, cond, "leftsemi").select("o_orderkey", "o_orderdate", "o_totalprice")


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS)."""
    register_tables(spark, sf_dir, ("customer", "orders"))
    c = spark.table("customer")
    o = spark.table("orders")
    return c.join(o, c.c_custkey == o.o_custkey, "leftanti").select("c_custkey", "c_name")


def q_conv_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg_min/arg_max: first and last turn text per conversation."""
    t = _transcripts(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.min_by("text", "turn_idx").alias("first_text"),
        F.max_by("text", "turn_idx").alias("last_text"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
    )


def q_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency via explode: top 20 tokens (count desc,
    token asc tiebreak)."""
    register_tables(spark, sf_dir, ("documents",))
    d = spark.table("documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    agg = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return agg.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through mapInPandas: documents' text bytes
    as opaque binary payloads → Arrow-batched feature extraction. The
    oracle checks the Spark-side plumbing outputs (id, kind, byte
    count, feature dim); the decode itself is the deterministic fake
    (functions/multimodal.py)."""
    from dstream_spark.functions.multimodal import extract_features

    register_tables(spark, sf_dir, ("documents",))
    d = spark.table("documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_id", "kind", "n_bytes", F.size("feature").cast("int").alias("feat_dim")
    )


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    d = spark.table("documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing over mapInPandas (1 binary in → smaller
    binary out, 16×4). The resample kernel is the deterministic fake
    (cycle payload bytes); the oracle reproduces the exact output bytes
    via BLOB repeat + hex-string slicing and compares md5-of-hex — all
    arithmetic in OCTETS on both engines, so non-ASCII text (where
    DuckDB's VARCHAR substring counts characters, not bytes) stays
    byte-exact."""
    from dstream_spark.functions.multimodal import resize_images

    r = resize_images(_media(spark, sf_dir), w=16, h=4)
    return r.select(
        "media_id",
        "kind",
        "out_w",
        "out_h",
        F.length("resized").cast("int").alias("n_resized"),
        F.md5(F.hex("resized")).alias("md5_resized"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing over mapInPandas (1 row in → n_frames
    rows out — the row-expanding shape video decode needs): 4 evenly
    spaced 16-byte windows per payload, offsets and frame bytes both
    oracle-checked (md5 over the HEX of the window: hex-string offsets
    are 2× byte offsets on both engines, so the comparison is
    octet-exact even for non-ASCII text)."""
    from dstream_spark.functions.multimodal import sample_frames

    fr = sample_frames(_media(spark, sf_dir), n_frames=4, frame_bytes=16)
    return fr.select(
        "media_id", "frame_idx", "frame_offset", F.md5(F.hex("frame")).alias("md5_frame")
    )


def q_envelope_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 format projection: re-emit each turn as the reference's data
    envelope {"metadata": {...}, "data": {...}} (readme.md:252-273,
    capability-inventory.md:83-92) as a JSON string — byte-identical
    to the DuckDB oracle's to_json (verified: same field order,
    compact separators, same escaping)."""
    t = _transcripts(spark, sf_dir)
    env = F.to_json(
        F.struct(
            F.struct(
                F.col("conv_id").alias("TableName"),
                F.col("turn_idx").alias("Seq"),
                F.lit("Insert").alias("OperationType"),
            ).alias("metadata"),
            F.struct(F.col("role"), F.col("text")).alias("data"),
        )
    )
    return t.select("conv_id", "turn_idx", env.alias("envelope"))


def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (p25/p50/p75) per event type —
    Spark's percentile() and DuckDB's quantile_cont use the same
    linear-interpolation formula, verified bit-exact without rounding."""
    register_tables(spark, sf_dir, ("events",))
    e = spark.table("events")
    return e.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("p25"),
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.75).alias("p75"),
    )


def q_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 validity-filter path, parse direction: the reference's JSON
    envelope parsed BACK through from_json into typed fields (schema
    mismatch → NULL, the drop-invalid contract). Round-trips the
    envelope_projection output."""
    env_df = q_envelope_projection(spark, sf_dir)
    schema = (
        "metadata STRUCT<TableName: STRING, Seq: INT, OperationType: STRING>, "
        "data STRUCT<role: STRING, text: STRING>"
    )
    parsed = env_df.withColumn("p", F.from_json(F.col("envelope"), schema))
    return parsed.select(
        F.col("p.metadata.TableName").alias("table_name"),
        F.col("p.metadata.Seq").alias("seq"),
        F.col("p.metadata.OperationType").alias("op"),
        F.col("p.data.role").alias("role"),
        F.col("p.data.text").alias("text"),
    )


def q_envelope_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface certification: the reference envelope
    ingested as semi-structured VARIANT (parse_json) and queried with
    variant_get typed paths — schema-on-read, the form from_json's
    fixed schema cannot give (a provider adding envelope fields needs
    no schema change here, the drift story at the payload level).
    Typed path extraction + a filter on a nested path (agent turns);
    the oracle is the plain relational projection, so the gate proves
    variant path extraction == typed columns. VARIANT's binary
    encoding is also the 100 TB answer to JSON-string scans: paths
    are field-id lookups, not per-row string parsing."""
    env_df = q_envelope_projection(spark, sf_dir)
    v = env_df.select(F.parse_json(F.col("envelope")).alias("v"))
    return v.select(
        F.variant_get(F.col("v"), "$.metadata.TableName", "string").alias("table_name"),
        F.variant_get(F.col("v"), "$.metadata.Seq", "int").alias("seq"),
        F.variant_get(F.col("v"), "$.data.role", "string").alias("role"),
        F.variant_get(F.col("v"), "$.data.text", "string").alias("text"),
    ).filter(F.col("role") == "agent")


def q_pyds_feed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API certification — the reference's
    C6 ingester micro-interface at the PLUGIN level (sources/pyds.py):
    a pure-Python source registered into spark.read.format(...) with
    its own schema, one InputPartition per commit file (partition
    planning mirrors the feed's commit structure), and Arrow
    RecordBatch yields (never per-row Python conversion). The scan
    returns the identity transcript set, so the oracle proves the
    plugin path loses and invents nothing."""
    from dstream_spark.sources.pyds import FeedDataSource
    from dstream_spark.streaming_queries import _scratch, _write_feed

    feed = _scratch("pyds_feed")
    _write_feed(spark, sf_dir, feed, n_batches=4)
    spark.dataSource.register(FeedDataSource)
    df = spark.read.format("dstream_feed").option("path", feed).load()
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def q_users_click_and_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: INTERSECT."""
    register_tables(spark, sf_dir, ("events",))
    e = spark.table("events")
    clicked = e.filter(F.col("event_type") == "click").select("user_id")
    errored = e.filter(F.col("event_type") == "error").select("user_id")
    return clicked.intersect(errored)


def q_conv_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (completes the pandas API surface next
    to scalar pandas_udf, applyInPandasWithState and mapInPandas):
    per-conversation re-sequencing — sort the group by (ts, turn_idx)
    and emit its 0-based arrival order. Integer outputs, so the Arrow
    round-trip is oracle-exact."""
    import pandas as pd

    t = _transcripts(spark, sf_dir)

    def renumber(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        pdf["order_in_conv"] = pd.array(range(len(pdf)), dtype="int32")
        return pdf[["conv_id", "turn_idx", "order_in_conv"]]

    return t.groupBy("conv_id").applyInPandas(
        renumber, "conv_id string, turn_idx int, order_in_conv int"
    )


def q_pandas_udf_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-UDF extension surface (the reference's 'write
    providers in any language', readme.md:297-316 → 'write transforms
    as Arrow-vectorized Python'): a scalar pandas_udf text normalizer.
    Deliberately SQL-mirrorable so the Arrow path itself is
    oracle-checked end-to-end."""
    from dstream_spark.functions.udfs import norm_text

    register_tables(spark, sf_dir, ("documents",))
    d = spark.table("documents")
    return d.select("doc_id", norm_text(F.col("text")).alias("norm_text"))


def _stream_agent_tool_join(spark: SparkSession, sf_dir: str, tag: str, how: str) -> DataFrame:
    """Agent turns interval-joined (``how``) to tool turns within ±10
    min on conv_id, both sides streamed from one time-split feed and
    watermarked 2 hours."""
    from dstream_spark.operators.joins import interval_join
    from dstream_spark.sources.registry import changefeed
    from dstream_spark.streaming_queries import _scratch, _write_feed

    feed = _scratch(tag)
    _write_feed(spark, sf_dir, feed, n_batches=4, split_by_time=True)
    a = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    t = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    agents = a.filter(F.col("role") == "agent").select("conv_id", "turn_idx", "ts")
    tools = t.filter(F.col("tool").isNotNull()).select("conv_id", "turn_idx", "tool", "ts")
    return interval_join(
        agents, tools, lower_s=600, upper_s=600, watermark="2 hours", how=how
    )


def q_stream_tool_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream stateful interval join as a REAL streaming run
    (both sides watermarked, ±10 min bound on conv_id), checked
    against the batch join oracle."""
    j = _stream_agent_tool_join(spark, sf_dir, "sjoin", "inner").select(
        F.col("conv_id"),
        F.col("turn_idx").alias("agent_turn"),
        F.col("turn_idx_r").alias("tool_turn"),
        F.col("tool_r").alias("tool"),
    )
    return run_stream(j, "append")


def q_stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM AS-OF join — the temporal-correlation shape
    Structured Streaming has no native operator for, composed from two
    stateful operators in one plan (Spark 3.5+ multi-stateful
    support): watermarked interval join (lookback 3600 s, upper 0)
    → event-time-windowed aggregation picking the LATEST right row
    per left row via a struct max (max(struct(ts_r, turn_idx_r,
    tool_r)) == ORDER BY ts_r DESC, turn_idx_r DESC LIMIT 1 — the
    batch asof_join's pick, exactly). The group key is the left row's
    identity plus its tumbling 1-hour window — the window contributes
    nothing to the key (each agent turn has one ts) but gives the
    aggregation its append-mode finalization clock.

    Confirmability contract in the oracle: a pick is emitted once the
    watermark (min of the two sides' max event time − 2 h) passes its
    window end; matches whose window ends inside the final
    watermark-delay tail of the stream stay unconfirmed — the same
    eviction-encoded-in-the-oracle pattern as stream_tool_left_join.
    Reference parity: dstream correlates change events across tables
    only by relaying to a queue (docs/design/design.md:87-101); this
    is the in-engine form."""
    from dstream_spark.operators.event_time import with_event_time
    from dstream_spark.sources.registry import changefeed
    from dstream_spark.streaming_queries import _scratch, _write_feed

    feed = _scratch("sasof")
    _write_feed(spark, sf_dir, feed, n_batches=4, split_by_time=True)
    a = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    t = changefeed(spark, {"path": feed, "max_files_per_trigger": 1})
    agents = with_event_time(
        a.filter(F.col("role") == "agent").select("conv_id", "turn_idx", "ts"), "ts"
    ).withWatermark("ts", "2 hours")
    tools = with_event_time(
        t.filter(F.col("tool").isNotNull()).select("conv_id", "turn_idx", "tool", "ts"),
        "ts",
    ).withWatermark("ts", "2 hours")
    r = tools.select([F.col(c).alias(f"{c}_r") for c in tools.columns])
    cond = (
        (F.col("conv_id") == F.col("conv_id_r"))
        & (F.col("ts_r") >= F.col("ts") - F.expr("INTERVAL 3600 SECONDS"))
        & (F.col("ts_r") <= F.col("ts"))
    )
    picked = (
        agents.join(r, cond, "inner")
        .groupBy(F.window("ts", "1 hour"), "conv_id", "turn_idx")
        .agg(F.max(F.struct("ts_r", "turn_idx_r", "tool_r")).alias("m"))
        .select(
            "conv_id",
            F.col("turn_idx").alias("agent_turn"),
            F.col("m.turn_idx_r").alias("tool_turn"),
            F.col("m.tool_r").alias("tool"),
        )
    )
    return run_stream(picked, "append")


def q_conv_gap_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-UDAF surface (GROUPED_AGG pandas_udf), completing
    the UDF family next to scalar pandas_udf / grouped-map / mapInPandas
    / applyInPandasWithState: per-conversation median inter-turn gap.
    The group's gaps arrive as one Arrow batch, reduced by a numpy
    kernel — no per-row Python. Median over BIGINT seconds is
    cross-engine exact (x.0/x.5 doubles)."""
    from dstream_spark.functions.udfs import median_long

    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    e = F.col("ts").cast("timestamp").cast("long")
    g = t.select("conv_id", (e - F.lag(e).over(w)).alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    return g.groupBy("conv_id").agg(median_long("gap_s").alias("median_gap_s"))


def q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-taking transition matrix: counts and fractions of each
    (role → next role) edge over the turn sequence — the conversation-
    dynamics profile of a transcript corpus. One window scan (shuffle
    on conv_id) + one partial aggregation; the fraction is exact-int /
    exact-int in a single double division."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    p = t.select(
        F.col("role").alias("from_role"), F.lead("role").over(w).alias("to_role")
    ).filter(F.col("to_role").isNotNull())
    counts = p.groupBy("from_role", "to_role").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("from_role")
    return counts.select(
        "from_role",
        "to_role",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(tot).cast("double")).alias("frac"),
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 adapted: shipping volume between nation pair (1, 2) by
    ship year — the two-sided dimension join (nation broadcast twice
    under different aliases) + exact-cents aggregation."""
    register_tables(spark, sf_dir, ("supplier", "lineitem", "orders", "customer", "nation"))
    li = spark.table("lineitem")
    s = spark.table("supplier")
    o = spark.table("orders")
    c = spark.table("customer")
    n1 = spark.table("nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = spark.table("nation").select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(
            ((F.col("sk") == 1) & (F.col("ck") == 2))
            | ((F.col("sk") == 2) & (F.col("ck") == 1))
        )
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        j.select("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"), cents.alias("c"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("c") / 100.0).alias("revenue"))
    )


def q_stream_tool_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: agent turns with their
    tool invocations within ±10 min, PLUS a null row for every agent
    turn the engine has PROVEN has no match — emitted when the global
    watermark passes the turn's join window. The oracle encodes
    Spark's outer-join eviction contract exactly: the global watermark
    is min(per-side max event time) − delay (each side's watermark
    tracks its own filtered stream), and a left row's null emits iff
    ts + upper_bound < that watermark (strict; verified empirically at
    the boundary). At 10^12 turns this is the 'conversations the agent
    answered unaided' stream — computable only with bounded state
    because the watermark caps how long each turn waits for a tool."""
    j = _stream_agent_tool_join(spark, sf_dir, "lojoin", "leftOuter").select(
        F.col("conv_id"),
        F.col("turn_idx").alias("agent_turn"),
        F.col("turn_idx_r").alias("tool_turn"),
        F.col("tool_r").alias("tool"),
    )
    return run_stream(j, "append")


def q_stream_tool_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join: every agent-turn/tool
    pairing within ±10 min, PLUS a null row per agent turn PROVEN
    unmatched (watermark passed ts + upper) AND a null row per tool
    invocation PROVEN unanswered (watermark passed ts_r + lower) —
    'agent answered unaided' and 'tool fired with no agent turn
    nearby' in ONE bounded-state pass. The oracle encodes BOTH sides'
    eviction contracts: the global watermark is min(per-side max event
    time) − delay, a left null emits iff ts + upper < wm (strict), a
    right null iff ts_r + lower < wm — the symmetric extension of the
    LEFT OUTER contract verified empirically for stream_tool_left_join.
    Rows whose window the stream's end leaves open stay unemitted on
    both sides; that two-sided delta is what the oracle proves. State
    is bounded by the interval exactly as in the inner form — full
    outer adds no retention, only the evicted-unmatched emissions."""
    j = _stream_agent_tool_join(spark, sf_dir, "fojoin", "fullOuter").select(
        F.coalesce(F.col("conv_id"), F.col("conv_id_r")).alias("conv_id"),
        F.col("turn_idx").alias("agent_turn"),
        F.col("turn_idx_r").alias("tool_turn"),
        F.col("tool_r").alias("tool"),
    )
    return run_stream(j, "append")


def q_stream_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CEP: the user → agent → tool-call triple detected
    across micro-batch boundaries by applyInPandasWithState — per-conv
    state is the last TWO turns plus the cursor high-water mark (O(1)
    state at 10^12 turns; a triple split across batches still fires,
    and the replayed batch 0 is rejected by the cursor so every match
    emits exactly once). Oracle: the batch lead()-window CEP SQL —
    the streaming engine and a window scan must agree row-for-row."""
    from dstream_spark.operators.cep import cep_pattern_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "cep", split_by_turn=True, replay_batch0=True)
    # the generalized operator emits first_turn; this entry's oracle
    # predates the parameterization and names it user_turn
    out = cep_pattern_stream(src).withColumnRenamed("first_turn", "user_turn")
    return run_stream(out, "append")


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (no l_commitdate in the fixture): order counts
    per priority for orders with a line item shipped >30 days after
    the order date — semi-join + grouped count."""
    register_tables(spark, sf_dir, ("orders", "lineitem"))
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    li = spark.table("lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, cond, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 adapted: top 20 customers by revenue from line items
    shipped in a quarter (join chain + agg + deterministic top-k)."""
    register_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    c = spark.table("customer")
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = spark.table("lineitem").filter(F.col("l_returnflag") == "R")
    n = spark.table("nation")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        (F.sum(F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100 + 0.5).cast("long")) / 100.0).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 adapted (fixture p_type is a plain category): promo
    revenue share over 1996. The percentage is one IEEE division of
    the two exact BIGINT cent sums — deterministic on any engine
    (identical inputs ⇒ identical double), with no overflow at any
    scale (the earlier integer-scaled form 1e8·promo_cents overflowed
    int64 just beyond sf0.1). round() on computed doubles is still
    avoided — it diverges between engines; a single div/mul does not."""
    register_tables(spark, sf_dir, ("lineitem", "part"))
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    p = spark.table("part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cents = F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100 + 0.5).cast(
        "long"
    )
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias("promo_cents"),
        F.sum(cents).cast("long").alias("total_cents"),
    )
    return agg.select(
        (F.col("promo_cents") / 100.0).alias("promo_revenue"),
        (F.col("total_cents") / 100.0).alias("total_revenue"),
        (
            F.col("promo_cents").cast("double") * 100.0
            / F.col("total_cents").cast("double")
        ).alias("promo_pct"),
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 adapted: large-volume orders (total quantity > 150)
    with their customer — aggregate + HAVING + join chain +
    deterministic top-k. Quantity sums use exact cents so HAVING
    evaluates identically on both engines."""
    register_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    li = spark.table("lineitem")
    o = spark.table("orders")
    c = spark.table("customer")
    qty = (
        li.groupBy("l_orderkey")
        .agg((F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long"))).alias("qty_cents"))
        .filter(F.col("qty_cents") > 150 * 100)
    )
    j = (
        qty.join(o, qty.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            (F.col("qty_cents") / 100.0).alias("total_qty"),
        )
    )
    return j.orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc()).limit(50)


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted to the fixture (no l_shipmode/l_commitdate:
    l_linestatus plays shipmode, 'late' = shipped >60 days after the
    order date): per linestatus, urgent-priority vs other line counts.
    The join filter lands BEFORE the aggregate so the shuffle carries
    only late lines; priority classification is a codegen'd CASE."""
    register_tables(spark, sf_dir, ("lineitem", "orders"))
    li = spark.table("lineitem")
    o = spark.table("orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 adapted (no containers/shipmode in the fixture):
    revenue from an OR-of-ANDs predicate over three (brand, size range,
    quantity range) disjuncts — the pushdown showcase: the whole
    disjunction folds into the scans (PushedFilters on p_brand/p_size,
    quantity bounds), and the join is broadcast (part is the small
    side). Revenue via exact cents (the money convention)."""
    register_tables(spark, sf_dir, ("lineitem", "part"))
    li = spark.table("lineitem")
    p = spark.table("part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    disj = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 50)
           & F.col("l_quantity").between(20, 30))
    )
    cents = F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100 + 0.5).cast(
        "long"
    )
    return j.filter(disj).agg((F.sum(cents) / 100.0).alias("revenue"))


def q_cep_user_agent_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence pattern (MATCH_RECOGNIZE analog): within one
    conversation, detect user → agent → tool-call in three CONSECUTIVE
    turns with the whole sequence inside 18 h (the fixture's turn
    cadence is hours; a production gap would be seconds) — the 'agent
    acted on a user request with a tool' motif. Expressed as two lead()
    windows
    over (conv_id, turn_idx): pattern matching over ordered per-key
    sequences is a window-function scan (one shuffle on conv_id, no
    self-joins), which is exactly how it stays linear at 10^12 turns."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    seq = t.select(
        "conv_id",
        "turn_idx",
        "role",
        epoch.alias("t0"),
        F.lead("role", 1).over(w).alias("role1"),
        F.lead("tool", 2).over(w).alias("tool2"),
        F.lead(epoch, 2).over(w).alias("t2"),
    )
    return seq.filter(
        (F.col("role") == "user")
        & (F.col("role1") == "agent")
        & F.col("tool2").isNotNull()
        & (F.col("t2") - F.col("t0") <= 64800)
    ).select(
        "conv_id",
        F.col("turn_idx").alias("user_turn"),
        F.col("tool2").alias("tool"),
        (F.col("t2") - F.col("t0")).alias("span_s"),
    )


def q_cep_tool_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND shipped CEP pattern through the same machinery:
    tool-error → agent intervention → tool retry in three consecutive
    turns within 18 h (operators/cep.TOOL_AGENT_TOOL). Batch form =
    one lead()-window scan over (conv_id, turn_idx) — same linear
    shape as cep_user_agent_tool; the point is that a pattern is now
    CONFIG (a tuple of Step predicates), not a bespoke operator."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    seq = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        epoch.alias("t0"),
        F.lead("role", 1).over(w).alias("role1"),
        F.lead("role", 2).over(w).alias("role2"),
        F.lead("tool", 2).over(w).alias("tool2"),
        F.lead(epoch, 2).over(w).alias("t2"),
    )
    return seq.filter(
        (F.col("role") == "tool")
        & F.col("tool").isNotNull()
        & (F.col("role1") == "agent")
        & (F.col("role2") == "tool")
        & F.col("tool2").isNotNull()
        & (F.col("t2") - F.col("t0") <= 64800)
    ).select(
        "conv_id",
        F.col("turn_idx").alias("first_turn"),
        F.col("tool2").alias("tool"),
        (F.col("t2") - F.col("t0")).alias("span_s"),
    )


def q_cep_tool_retry_same(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CROSS-STEP-constrained CEP pattern (operators/cep.
    TOOL_RETRY_SAME): tool-error → agent → the SAME tool retried.
    Value constraints between steps are what separate a pattern
    language from a role filter; batch twin = the lead() scan plus one
    equality predicate across the captured steps."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    seq = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        epoch.alias("t0"),
        F.lead("role", 1).over(w).alias("role1"),
        F.lead("role", 2).over(w).alias("role2"),
        F.lead("tool", 2).over(w).alias("tool2"),
        F.lead(epoch, 2).over(w).alias("t2"),
    )
    return seq.filter(
        (F.col("role") == "tool")
        & F.col("tool").isNotNull()
        & (F.col("role1") == "agent")
        & (F.col("role2") == "tool")
        & F.col("tool2").isNotNull()
        & (F.col("tool2") == F.col("tool"))
        & (F.col("t2") - F.col("t0") <= 64800)
    ).select(
        "conv_id",
        F.col("turn_idx").alias("first_turn"),
        F.col("tool2").alias("tool"),
        (F.col("t2") - F.col("t0")).alias("span_s"),
    )


def q_stream_cep_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING form of the tool-retry pattern: the PARAMETERIZED CEP
    operator (cep_pattern_stream with TOOL_AGENT_TOOL) over a
    turn-ordered change feed with a replayed batch — same state
    machinery as stream_cep_pattern, different Step predicates, so a
    pattern really is configuration. Oracle: the batch lead()-window
    twin (q_cep_tool_retry's SQL)."""
    from dstream_spark.operators.cep import TOOL_AGENT_TOOL, cep_pattern_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "cepretry", split_by_turn=True, replay_batch0=True)
    out = cep_pattern_stream(src, pattern=TOOL_AGENT_TOOL)
    return run_stream(out, "append")


def q_cep_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTERNATION CEP (regex ``A (B|C) D`` — a pattern position
    admitting either of two variables, MATCH_RECOGNIZE's alternation):
    user → EITHER an agent reply OR a tool turn → a tool call, three
    consecutive turns within 18 h (operators/cep.USER_ALT_TOOL via
    Step.role_in). Batch twin: the same single lead()-window scan as
    every fixed-length pattern, with the middle predicate an IN —
    alternation costs nothing at the plan level."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    seq = t.select(
        "conv_id",
        "turn_idx",
        "role",
        epoch.alias("t0"),
        F.lead("role", 1).over(w).alias("role1"),
        F.lead("tool", 2).over(w).alias("tool2"),
        F.lead(epoch, 2).over(w).alias("t2"),
    )
    return seq.filter(
        (F.col("role") == "user")
        & F.col("role1").isin("agent", "tool")
        & F.col("tool2").isNotNull()
        & (F.col("t2") - F.col("t0") <= 64800)
    ).select(
        "conv_id",
        F.col("turn_idx").alias("first_turn"),
        F.col("tool2").alias("tool"),
        (F.col("t2") - F.col("t0")).alias("span_s"),
    )


def q_stream_cep_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING alternation: cep_pattern_stream with USER_ALT_TOOL —
    Step.role_in rides the unchanged state machinery (every pattern
    form tests predicates through Step.matches), so alternation in
    streaming is pure configuration too. Oracle: the batch IN-scan."""
    from dstream_spark.operators.cep import USER_ALT_TOOL, cep_pattern_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "cepalt", split_by_turn=True, replay_batch0=True)
    out = cep_pattern_stream(src, pattern=USER_ALT_TOOL)
    return run_stream(out, "append")


def _tool_version_dim(spark: SparkSession, sf_dir: str):
    """A deterministic SCD-2 dimension derived from the corpus: each
    tool gets 3 VERSIONS over the event-time range (slice boundaries =
    equal thirds of [min, max] epoch), carrying the tool's cumulative
    invocation count through the end of each slice. Returns
    (tool, version, valid_from, valid_to, cum_uses) — a true
    validity-interval table (every tool × every slice, zero-use slices
    included), small enough to broadcast at any corpus size because
    its row count is |tools| × versions, not |turns|."""
    t = _transcripts(spark, sf_dir).filter(F.col("tool").isNotNull())
    epoch = F.col("ts").cast("timestamp").cast("long")
    lo, hi = t.agg(F.min(epoch), F.max(epoch)).first()
    span = int(hi) - int(lo) + 1
    sliced = t.select(
        "tool",
        F.least(F.lit(2), ((epoch - F.lit(int(lo))) * 3 / span).cast("int")).alias(
            "version"
        ),
    )
    counts = sliced.groupBy("tool", "version").agg(F.count(F.lit(1)).alias("n"))
    scaffold = (
        t.select("tool").distinct()
        .crossJoin(spark.range(3).select(F.col("id").cast("int").alias("version")))
    )
    w = Window.partitionBy("tool").orderBy("version").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dim = (
        scaffold.join(counts, ["tool", "version"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .select(
            "tool",
            "version",
            (F.lit(int(lo)) + F.floor(F.col("version") * span / F.lit(3.0))
             .cast("long")).alias("valid_from"),
            F.when(F.col("version") == 2, F.lit(int(hi) + 1)).otherwise(
                F.lit(int(lo)) + F.floor((F.col("version") + 1) * span / F.lit(3.0))
                .cast("long")
            ).alias("valid_to"),
            F.sum("n").over(w).alias("cum_uses"),
        )
    )
    return dim


def q_tool_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL (point-in-time / SCD-2) JOIN: each tool invocation is
    enriched with the dimension VERSION valid at its event time —
    tool == tool AND valid_from <= ts < valid_to — the
    slowly-changing-dimension lookup every warehouse pipeline needs
    and plain equi-joins get wrong (they'd match all versions). The
    dimension (_tool_version_dim) is |tools|×3 rows → broadcast, so
    the probe is map-side at any fact size; Flink calls this a
    temporal table join, Spark expresses it as a range-predicated
    broadcast join with no custom operator."""
    t = _transcripts(spark, sf_dir).filter(F.col("tool").isNotNull())
    dim = _tool_version_dim(spark, sf_dir)
    e = F.col("ts").cast("timestamp").cast("long")
    facts = t.select("conv_id", "turn_idx", "tool", e.alias("e"))
    j = facts.join(
        F.broadcast(dim),
        (facts.tool == dim.tool)
        & (F.col("e") >= F.col("valid_from"))
        & (F.col("e") < F.col("valid_to")),
    )
    return j.select(
        "conv_id", "turn_idx", facts.tool.alias("tool"), "version", "cum_uses"
    )


def q_stream_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING temporal join: the change feed's tool turns enriched
    against the STATIC versioned dimension with the same validity-
    interval predicate — Spark re-evaluates the broadcast static side
    per micro-batch (the mechanism that picks up dimension updates in
    production), needs no watermark (the static side never expires),
    and arrival order cannot change the answer because each fact row's
    version is a function of its own event time. == the batch
    point-in-time join row-for-row."""
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "temporal")
    dim = _tool_version_dim(spark, sf_dir)
    facts = src.filter(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool",
        F.col("ts").cast("timestamp").cast("long").alias("e"),
    )
    j = facts.join(
        F.broadcast(dim),
        (facts.tool == dim.tool)
        & (F.col("e") >= F.col("valid_from"))
        & (F.col("e") < F.col("valid_to")),
    ).select(
        "conv_id", "turn_idx", facts.tool.alias("tool"), "version", "cum_uses"
    )
    return run_stream(j, "append")


FOLLOWED_BY_N_TURNS = 6  # 'A followed by B' search window (turns)


def q_cep_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-CONSECUTIVE CEP (skip-till-next-match, the Flink CEP /
    MATCH_RECOGNIZE relaxed-contiguity semantic): a user turn FOLLOWED
    BY a tool invocation within FOLLOWED_BY_N_TURNS turns and 18 h —
    intermediate non-matching turns are skipped, and each user turn
    pairs with its FIRST qualifying tool turn only. Batch form stays a
    windowed scan (no self-join): the next N turns arrive as N lead()
    structs in an array, F.filter picks the qualifying ones, and
    element_at(1) takes the first — one shuffle on conv_id, linear at
    10^12 turns, same shape as the consecutive patterns."""
    n = FOLLOWED_BY_N_TURNS
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    nxt = F.array(
        *[
            F.struct(
                F.lead("role", k).over(w).alias("r"),
                F.lead("tool", k).over(w).alias("tl"),
                F.lead(epoch, k).over(w).alias("t"),
                F.lead("turn_idx", k).over(w).alias("i"),
            )
            for k in range(1, n + 1)
        ]
    )
    seq = t.select(
        "conv_id", "turn_idx", "role", epoch.alias("t0"), nxt.alias("nxt")
    ).filter(F.col("role") == "user")

    def qualifies(s):
        # the window bound is TURN-INDEX distance, matching the oracle
        # and the streaming twin exactly — lead() row offsets alone
        # would over-match if turn_idx ever had gaps (contiguous in
        # the fixture by construction, but the three forms must agree
        # on the semantics, not the data)
        return (
            (s.getField("r") == "tool")
            & s.getField("tl").isNotNull()
            & (s.getField("t") - F.col("t0") <= 64800)
            & (s.getField("i") - F.col("turn_idx") <= n)
        )

    # try_element_at: the filtered array is empty when no B qualifies
    # (plain element_at raises under ANSI mode)
    hits = seq.withColumn("hit", F.try_element_at(F.filter("nxt", qualifies), F.lit(1))).filter(
        F.col("hit").isNotNull()
    )
    return hits.select(
        "conv_id",
        F.col("turn_idx").alias("first_turn"),
        F.col("hit.tl").alias("tool"),
        (F.col("hit.t") - F.col("t0")).alias("span_s"),
    )


def q_stream_cep_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING form of the skip-till-next-match pattern
    (operators/cep.followed_by_stream) over a turn-ordered change feed
    with a replayed batch: pending unmatched A-turns bridge micro-
    batch boundaries (state O(n_turns) per conversation), replays are
    cursor-rejected, and the output must equal the batch windowed-scan
    twin row-for-row."""
    from dstream_spark.operators.cep import Step, followed_by_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "cepfb", split_by_turn=True, replay_batch0=True)
    out = followed_by_stream(
        src,
        a=Step(role="user"),
        b=Step(role="tool", tool_required=True),
        n_turns=FOLLOWED_BY_N_TURNS,
    )
    return run_stream(out, "append")


def q_cep_not_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATION CEP (Flink CEP notFollowedBy / MATCH_RECOGNIZE
    absence): user turns with NO tool invocation within
    FOLLOWED_BY_N_TURNS turns and 18 h. Batch form inverts the
    skip-till-next-match scan: the same lead-array window, emitting
    rows whose qualifying-B array is EMPTY — conversation tails
    included, because the batch scan sees the whole conversation. One
    shuffle on conv_id, linear at 10^12 turns, no self-join."""
    n = FOLLOWED_BY_N_TURNS
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    nxt = F.array(
        *[
            F.struct(
                F.lead("role", k).over(w).alias("r"),
                F.lead("tool", k).over(w).alias("tl"),
                F.lead(epoch, k).over(w).alias("t"),
                F.lead("turn_idx", k).over(w).alias("i"),
            )
            for k in range(1, n + 1)
        ]
    )
    seq = t.select(
        "conv_id", "turn_idx", "role", epoch.alias("t0"), nxt.alias("nxt")
    ).filter(F.col("role") == "user")

    def qualifies(s):
        return (
            (s.getField("r") == "tool")
            & s.getField("tl").isNotNull()
            & (s.getField("t") - F.col("t0") <= 64800)
            & (s.getField("i") - F.col("turn_idx") <= n)
        )

    misses = seq.withColumn(
        "hit", F.try_element_at(F.filter("nxt", qualifies), F.lit(1))
    ).filter(F.col("hit").isNull())
    return misses.select("conv_id", F.col("turn_idx").alias("first_turn"))


def q_stream_cep_not_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING absence (operators/cep.not_followed_by_stream) over a
    TIME-ordered change feed with a replayed batch: an A-turn emits
    when a later turn crosses the turn/time bound, or at the
    event-time timeout flush once the watermark passes the
    conversation's last turn + span_s. The oracle carries the
    confirmability contract explicitly (final watermark = max event
    time − delay): conversations ending within ~span_s of the stream's
    end keep their tail A-turns unconfirmed — the honest append-mode
    semantics, same treatment as the LEFT OUTER join's null rows. The
    replayed batch lands below the final watermark and is absorbed by
    the late filter, so it cannot re-emit flushed A-turns."""
    from dstream_spark.operators.cep import Step, not_followed_by_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "cepnfb", split_by_time=True, replay_batch0=True)
    out = not_followed_by_stream(
        src,
        a=Step(role="user"),
        b=Step(role="tool", tool_required=True),
        n_turns=FOLLOWED_BY_N_TURNS,
        wm_delay_s=600,
    )
    return run_stream(out, "append")


def q_cep_one_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLEENE-PLUS CEP (regex ``A B+ C`` / MATCH_RECOGNIZE one-or-
    more): user → one-or-more consecutive agent turns → a tool call,
    whole sequence within 18 h, run length UNBOUNDED (no max-repeat
    cap). Batch form: a running count of agent turns plus one lag()
    over the NON-agent turns — consecutive non-agent rows bracket each
    agent run, so the pair (previous non-agent turn, this turn) plus
    the count delta IS the match candidate. Two window functions over
    the same (conv_id, turn_idx) ordering = ONE shuffle, no self-join,
    no bounded lead-array — linear at 10^12 turns even for
    arbitrarily long runs."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    cum = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        epoch.alias("t0"),
        F.sum(F.when(F.col("role") == "agent", 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cb"),
    )
    nb = cum.filter(F.col("role") != "agent")
    seq = nb.select(
        "conv_id",
        "turn_idx",
        "tool",
        "t0",
        "cb",
        F.lag("role").over(w).alias("u_role"),
        F.lag("turn_idx").over(w).alias("u_idx"),
        F.lag("t0").over(w).alias("u_t"),
        F.lag("cb").over(w).alias("u_cb"),
    )
    return seq.filter(
        (F.col("u_role") == "user")
        & (F.col("cb") - F.col("u_cb") >= 1)
        & F.col("tool").isNotNull()
        & (F.col("t0") - F.col("u_t") <= 64800)
    ).select(
        "conv_id",
        F.col("u_idx").alias("first_turn"),
        (F.col("cb") - F.col("u_cb")).cast("int").alias("n_reps"),
        "tool",
        (F.col("t0") - F.col("u_t")).alias("span_s"),
    )


def q_stream_cep_one_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING possessive 'A B+ C' (operators/cep.one_or_more_stream)
    over a turn-ordered change feed with a replayed batch: the
    candidate (start turn, run length) bridges micro-batch boundaries
    with O(1) state per conversation, replays are cursor-rejected, and
    — unlike the optional/negation forms — emission never waits on a
    timeout (a match completes on its C-turn's arrival; a run left
    open at the stream's tail has no C row in the batch twin either),
    so the oracle is the batch scan with NO confirmability clause."""
    from dstream_spark.operators.cep import Step, one_or_more_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "cepoom", split_by_turn=True, replay_batch0=True)
    out = one_or_more_stream(
        src,
        a=Step(role="user"),
        b=Step(role="agent"),
        c=Step(tool_required=True),
    )
    return run_stream(out, "append")


def q_cep_zero_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLEENE-STAR CEP (regex ``A B* C`` / MATCH_RECOGNIZE zero-or-
    more): user → ZERO or more consecutive agent turns → a tool call
    within 18 h. Identical scan shape to q_cep_one_or_more (running
    agent count + one lag() over the non-agent turns = one shuffle,
    no self-join, no repeat cap); the only change is the run-length
    predicate relaxing to >= 0, which admits the adjacent
    user→tool pair as an empty run (n_reps = 0)."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    cum = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        epoch.alias("t0"),
        F.sum(F.when(F.col("role") == "agent", 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cb"),
    )
    nb = cum.filter(F.col("role") != "agent")
    seq = nb.select(
        "conv_id",
        "turn_idx",
        "tool",
        "t0",
        "cb",
        F.lag("role").over(w).alias("u_role"),
        F.lag("turn_idx").over(w).alias("u_idx"),
        F.lag("t0").over(w).alias("u_t"),
        F.lag("cb").over(w).alias("u_cb"),
    )
    return seq.filter(
        (F.col("u_role") == "user")
        & (F.col("cb") - F.col("u_cb") >= 0)
        & F.col("tool").isNotNull()
        & (F.col("t0") - F.col("u_t") <= 64800)
    ).select(
        "conv_id",
        F.col("u_idx").alias("first_turn"),
        (F.col("cb") - F.col("u_cb")).cast("int").alias("n_reps"),
        "tool",
        (F.col("t0") - F.col("u_t")).alias("span_s"),
    )


def q_stream_cep_zero_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING possessive 'A B* C' (operators/cep.zero_or_more_stream):
    the one_or_more state machine with the empty run admitted —
    n_reps = 0 matches complete on an adjacent C-turn. Same O(1)
    candidate state, cursor exactly-once across a replayed batch,
    purely-in-data emission (no timeout dependence), so the oracle is
    the batch star scan with NO confirmability clause."""
    from dstream_spark.operators.cep import Step, zero_or_more_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "cepzom", split_by_turn=True, replay_batch0=True)
    out = zero_or_more_stream(
        src,
        a=Step(role="user"),
        b=Step(role="agent"),
        c=Step(tool_required=True),
    )
    return run_stream(out, "append")


def q_cep_optional_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL-STEP CEP (regex ``A B? C`` / MATCH_RECOGNIZE's
    zero-or-one quantifier), GREEDY: user → optional agent turn → tool
    call over consecutive turns within 18 h. Per starting user turn,
    emit the 3-turn form if it matches (user, agent, any-role tool
    call), else the 2-turn form (user, any-role tool call) — never
    both. Batch form stays ONE lead()-window scan: both windows come
    from the same two leads and a CASE picks greedily — one shuffle on
    conv_id, linear at 10^12 turns, same shape as the required-step
    patterns."""
    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    seq = t.select(
        "conv_id",
        "turn_idx",
        "role",
        epoch.alias("t0"),
        F.lead("role", 1).over(w).alias("role1"),
        F.lead("tool", 1).over(w).alias("tool1"),
        F.lead(epoch, 1).over(w).alias("t1"),
        F.lead("tool", 2).over(w).alias("tool2"),
        F.lead(epoch, 2).over(w).alias("t2"),
    )
    long_m = (
        (F.col("role") == "user")
        & (F.col("role1") == "agent")
        & F.col("tool2").isNotNull()
        & (F.col("t2") - F.col("t0") <= 64800)
    )
    short_m = (
        (F.col("role") == "user")
        & F.col("tool1").isNotNull()
        & (F.col("t1") - F.col("t0") <= 64800)
    )
    return seq.filter(long_m | short_m).select(
        "conv_id",
        F.col("turn_idx").alias("first_turn"),
        F.when(long_m, F.col("tool2")).otherwise(F.col("tool1")).alias("tool"),
        F.when(long_m, F.col("t2") - F.col("t0"))
        .otherwise(F.col("t1") - F.col("t0"))
        .alias("span_s"),
    )


def q_stream_cep_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING greedy optional-step pattern (operators/cep.
    cep_optional_stream) over a TIME-ordered change feed with a
    replayed batch. Greediness defers each short match ONE turn (the
    long window ending a turn later shares its start); the deferral
    resolves in-data when the next turn arrives, or at the event-time
    timeout flush once the watermark passes the conversation's last
    turn + span_s. The oracle carries that confirmability contract
    (same treatment as stream_cep_not_followed_by): a SHORT match at a
    conversation's final turn emits only if the final watermark closed
    the conversation; long matches and in-data-resolved shorts are
    unconditional. The replayed batch lands below the final watermark
    and is absorbed by the late filter."""
    from dstream_spark.operators.cep import cep_optional_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "cepopt", split_by_time=True, replay_batch0=True)
    out = cep_optional_stream(src, wm_delay_s=600)
    return run_stream(out, "append")


NEAR_DUP_MAX_ROWS = 100_000  # O(n²) verifier refuses full corpora


def q_emb_near_dup_pairs(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: all pairs above a
    similarity threshold. VERIFIER-ONLY: brute-force O(n²) by design —
    it exists to measure the recall of the LSH/IVF blocking paths
    (emb_lsh_pairs / emb_ivf_topk) on a SAMPLE. It refuses corpora
    above NEAR_DUP_MAX_ROWS unless force=True: at full-corpus scale
    use the banded paths, never this."""
    from dstream_spark.functions.similarity import cosine_with_norms, l2_norm

    register_tables(spark, sf_dir, ("embeddings",))
    e = spark.table("embeddings")
    if not force:
        # bounded row guard: limit(N+1).count() scans at most N+1 rows
        # (a full e.count() on every gate/bench invocation is wasted
        # work, and at real scale the guard itself must stay cheap)
        if e.limit(NEAR_DUP_MAX_ROWS + 1).count() > NEAR_DUP_MAX_ROWS:
            raise ValueError(
                f"emb_near_dup_pairs is the O(n²) recall VERIFIER; corpus "
                f"exceeds {NEAR_DUP_MAX_ROWS} rows. Verify on a sample, or "
                "use emb_lsh_pairs / emb_ivf_topk for the full corpus "
                "(force=True to override)."
            )
    a = fan_out(e).select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va")
    ).withColumn("_na", l2_norm(F.col("va")))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")).withColumn(
        "_nb", l2_norm(F.col("vb"))
    )
    return (
        a.join(b, F.col("ia") < F.col("ib"))
        .withColumn(
            # fold=True: pair-fan-out scorer — per-pair Arrow traffic
            # would dominate the Arrow-UDF dot (see cosine_with_norms)
            "cos",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb"), fold=True
            ),
        )
        .filter(F.col("cos") >= 0.4)
        .select("ia", "ib", "cos")
    )


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (the scale path): assign all vectors to their
    nearest centroid (vec_id < 8, broadcast), then search top-3 only
    WITHIN the query's bucket. At 100 TB this turns an O(N·Q) scan
    into O(N·K + Q·N/K): candidate generation shuffles only
    (centroid_id) buckets, never the full corpus per query.

    r6 (guide §2.4): the assignment carries the vector through
    (ivf_assign_vec — aggregate argmax, map-side partial agg) instead
    of window-pick + join-back against the embedding table; identical
    labels, two exchanges and three sorts fewer (plans/r06). The
    whole query is pair-fan-out, so every scorer is the JVM fold —
    see ivf_assign_vec's measured rationale (guide §4.1)."""
    from dstream_spark.functions.similarity import (
        cosine_with_norms,
        ivf_assign_vec,
        l2_norm_fold,
    )

    register_tables(spark, sf_dir, ("embeddings",))
    e = spark.table("embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    vecs = ivf_assign_vec(fan_out(e), cents).withColumn(
        "_n", l2_norm_fold(F.col("embedding"))
    )
    q = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("c_id").alias("q_c"),
        F.col("embedding").alias("q_vec"), F.col("_n").alias("_qn"),
    )
    c = vecs.select(
        F.col("vec_id").alias("n_id"), F.col("c_id").alias("n_c"),
        F.col("embedding").alias("n_vec"), F.col("_n").alias("_nn"),
    )
    from pyspark.sql import Window

    scored = (
        c.join(F.broadcast(q), (F.col("q_c") == F.col("n_c")) & (F.col("q_id") != F.col("n_id")))
        .withColumn(
            "sim",
            cosine_with_norms(
                F.col("q_vec"), F.col("n_vec"), F.col("_qn"), F.col("_nn"), fold=True
            ),
        )
        .select("q_id", "n_id", "sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).filter(F.col("rank") <= 3)


PQ_SUBSPACES = 16
PQ_CODEBOOK = 32  # centroids per subspace (vec_id < 32 slices, the IVF seed convention)
PQ_QUERIES = 20  # query set = vec_id < 20, the ANN-family convention


def _pq_subv(col, s, seg):
    return F.slice(col, s * F.lit(seg) + 1, seg)


def _pq_d2q(a, b):
    """Squared-L2 subspace distance via the dot identity, quantized to
    a 1e-6-scaled BIGINT BEFORE any aggregation — integer ranking, no
    float-accumulation hazard (the emb_kmeans exact-integer trick)."""
    from dstream_spark.functions.similarity import dot

    d2 = dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)
    return F.floor(d2 * 1000000 + F.lit(0.5)).cast("long")


def _pq_build(spark: SparkSession, corp_base: DataFrame, carry: tuple = ()):
    """Shared PQ index build (emb_pq_topk / emb_ivfpq_topk): codebook
    sub-slices (vec_id < PQ_CODEBOOK, materialized once), per-(vector,
    subspace) codes as a broadcast-join argmin, and the Q×m×k query ADC
    distance table (queries = vec_id < PQ_QUERIES). ``carry`` columns
    of corp_base ride along into the codes table map-side (IVF-PQ
    carries the cell id so candidate restriction never adds a shuffle).
    """
    e = spark.table("embeddings")
    d = e.select(F.size("embedding").alias("d")).first()["d"]  # scalar only
    seg = d // PQ_SUBSPACES
    segs = F.array(*[F.lit(s) for s in range(PQ_SUBSPACES)])

    cent_sub = _materialize(
        e.filter(F.col("vec_id") < PQ_CODEBOOK)
        .select(
            F.col("vec_id").alias("c_id"), F.explode(segs).alias("s"), "embedding"
        )
        .select("c_id", "s", _pq_subv(F.col("embedding"), F.col("s"), seg).alias("c_sub")),
        "pq_cents",
    )
    corp = corp_base.select(
        "vec_id", *carry, F.explode(segs).alias("s"), "embedding"
    ).select(
        "vec_id", *carry, "s", _pq_subv(F.col("embedding"), F.col("s"), seg).alias("v_sub")
    )
    scored = corp.join(F.broadcast(cent_sub), "s").withColumn(
        "dq", _pq_d2q(F.col("v_sub"), F.col("c_sub"))
    )
    w_code = Window.partitionBy("vec_id", "s").orderBy(
        F.col("dq").asc(), F.col("c_id").asc()
    )
    codes = (
        scored.withColumn("_rn", F.row_number().over(w_code))
        .filter(F.col("_rn") == 1)
        .select("vec_id", *carry, "s", F.col("c_id").alias("code"))
    )
    q_sub = (
        e.filter(F.col("vec_id") < PQ_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.explode(segs).alias("s"), "embedding")
        .select("q_id", "s", _pq_subv(F.col("embedding"), F.col("s"), seg).alias("q_sub"))
    )
    dtable = q_sub.join(F.broadcast(cent_sub), "s").select(
        "q_id", "s", F.col("c_id").alias("code"),
        _pq_d2q(F.col("q_sub"), F.col("c_sub")).alias("dq"),
    )
    return codes, dtable


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION ANN — the memory-compression path of the
    ANN family (next to brute force = exact, IVF = candidate pruning,
    LSH = hashing): each vector is stored as PQ_SUBSPACES codebook
    ids (here 16 bytes instead of 64 floats, a 16× compression), and
    query-to-vector distance is approximated by Asymmetric Distance
    Computation — the query precomputes its distance to every
    codebook centroid per subspace (a Q×m×k table, 640 cells here,
    broadcast), and a vector's distance is the SUM of table lookups
    at its codes (Jégou et al., TPAMI 2011).

    Everything is one relational pass: codes = per-(vector, subspace)
    argmin over the broadcast codebook; ADC = codes ⋈ broadcast
    distance table, partial-aggregated SUM keyed (q_id, vec_id).
    Subspace distances are squared-L2 via the dot-product identity
    (dot(a,a) − 2·dot(a,b) + dot(b,b)) with the left-fold dot both
    engines share, QUANTIZED to 1e-6-scaled BIGINTs before the
    group-by — so the cross-partition sum is exact-integer and the
    ranking can never be reordered by float accumulation. Codebooks
    are the vec_id < PQ_CODEBOOK (= 32) sub-slices (the seed convention;
    emb_kmeans_converged shows the trained form of the same shape).
    At 10^9 vectors PQ composes with IVF cell restriction (IVF-PQ —
    emb_ivfpq_topk): the candidate list comes from the cell, the
    scoring from this ADC."""
    register_tables(spark, sf_dir, ("embeddings",))
    e = spark.table("embeddings")
    codes, dtable = _pq_build(spark, fan_out(e))
    adc = (
        codes.join(F.broadcast(dtable), ["s", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(F.sum("dq").alias("adq"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adq").asc(), F.col("n_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select(
            "q_id",
            "n_id",
            (F.col("adq").cast("double") / 1000000.0).alias("adist"),
            "rank",
        )
    )


def q_emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's-iteration centroid update expressed relationally
    (the iterative-algorithm family): assign every vector to its
    nearest centroid (emb_ivf_assign), then recompute each centroid
    dimension as the cluster mean. Emitted as (c_id, pos, mean) rows —
    the shuffle is (c_id, pos) keyed, so a 10^9-vector update is one
    partial-aggregated exchange, no driver involvement. Means use the
    exact-integer trick (quantize to 1e-6, BIGINT sum, one final
    division) so float accumulation order cannot diverge the result.

    r6: assignment carries the vector (ivf_assign_vec) — the
    assign→join-back sort-merge join is gone (guide §2.4)."""
    from dstream_spark.functions.similarity import ivf_assign_vec

    register_tables(spark, sf_dir, ("embeddings",))
    e = spark.table("embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    vecs = ivf_assign_vec(fan_out(e), cents)
    dims = vecs.select(
        "c_id", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).withColumn("q", F.floor(F.col("val").cast("double") * 1000000 + 0.5).cast("long"))
    return (
        dims.groupBy("c_id", F.col("pos").cast("int").alias("pos"))
        .agg(F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n"))
        .select(
            "c_id",
            "pos",
            (F.col("sq").cast("double") / (F.col("n").cast("double") * 1000000.0)).alias("mean"),
        )
    )


KMEANS_ROUNDS_CAP = 10  # must match the `p.it + 1 <= 10` cap in the oracle


def q_emb_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means TO CONVERGENCE (bounded): iterate
    emb_kmeans_step's assign→update until the assignment reaches a
    fixpoint or KMEANS_ROUNDS_CAP rounds. Each round is fully
    relational — broadcast centroids, one partial-aggregated exchange
    for the means, assignments landed to scratch parquet
    (_materialize: iterative lineage must not compound) — and the
    driver reads ONE scalar per round (the changed-assignment count),
    the same discipline as docs_dup_clusters' connected-components
    loop (queries_llm.py). The fixpoint is well-defined cross-engine
    because means use the exact-integer trick and assignment uses the
    round-6 cosine with (sim DESC, c_id ASC) tiebreaks. Oracle: a
    DuckDB recursive CTE that re-derives centroids from the packed
    previous assignment each step and stops on no-change or the cap.
    Output: final (vec_id, c_id) + n_rounds (rounds that changed)."""
    from dstream_spark.functions.similarity import ivf_assign

    register_tables(spark, sf_dir, ("embeddings",))
    e = _materialize(
        fan_out(spark.table("embeddings")).select("vec_id", "embedding"), "km_e"
    )
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    assigned = _materialize(ivf_assign(e, cents).select("vec_id", "c_id"), "km_a0")
    rounds = 0
    for _ in range(KMEANS_ROUNDS_CAP):
        dims = (
            assigned.join(e, "vec_id")
            .select("c_id", F.posexplode(F.col("embedding")).alias("pos", "val"))
            .withColumn(
                "q", F.floor(F.col("val").cast("double") * 1000000 + 0.5).cast("long")
            )
        )
        means = dims.groupBy("c_id", "pos").agg(
            (
                F.sum("q").cast("double") / (F.count(F.lit(1)).cast("double") * 1000000.0)
            ).alias("mean")
        )
        new_cents = means.groupBy("c_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                lambda s: s.getField("mean"),
            ).alias("c_vec")
        )
        # land the round ONCE with the previous label alongside, then
        # read the convergence scalar from the landed table — one
        # execution per round, not two (the docs_dup_clusters
        # discipline the CC loop uses, queries_llm.py)
        mat = _materialize(
            ivf_assign(e, new_cents)
            .select("vec_id", "c_id")
            .join(assigned.withColumnRenamed("c_id", "_old"), "vec_id"),
            "km_a",
        )
        changed = mat.filter(F.col("c_id") != F.col("_old")).count()
        if changed == 0:
            break
        assigned = mat.drop("_old")
        rounds += 1
    return assigned.withColumn("n_rounds", F.lit(rounds).cast("int"))


def _ivf_trained_cells(spark: SparkSession, sf_dir: str):
    """Shared trained-IVF build: k-means fixpoint → exact-integer
    centroid means of the FINAL assignment (cross-engine deterministic
    on either the fixpoint or cap-exhausted path) → one fresh
    broadcast assignment against those centroids (the cell-list
    build). Returns (trained_centroids, vecs) where vecs = (vec_id,
    c_id, embedding, _n norm)."""
    from dstream_spark.functions.similarity import ivf_assign_vec, l2_norm_fold

    assigned = q_emb_kmeans_converged(spark, sf_dir).select("vec_id", "c_id")
    e = spark.table("embeddings")
    dims = (
        assigned.join(e, "vec_id")
        .select("c_id", F.posexplode(F.col("embedding")).alias("pos", "val"))
        .withColumn("q", F.floor(F.col("val").cast("double") * 1000000 + 0.5).cast("long"))
    )
    means = dims.groupBy("c_id", "pos").agg(
        (F.sum("q").cast("double") / (F.count(F.lit(1)).cast("double") * 1000000.0)).alias("mean")
    )
    trained = means.groupBy("c_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s.getField("mean"),
        ).alias("c_vec")
    )
    # r6: the cell-list build carries the vector (ivf_assign_vec) —
    # no join-back against the embedding table (guide §2.4); fold
    # norms, matching the pair-fan-out scorer (see ivf_assign_vec)
    vecs = ivf_assign_vec(fan_out(e), trained).withColumn(
        "_n", l2_norm_fold(F.col("embedding"))
    )
    return trained, vecs


def _cell_topk(q, vecs, k: int = 3) -> DataFrame:
    """Top-k cosine per query over candidates sharing the query's
    probed cell(s). q = (q_id, q_c, q_vec, _qn) — one row per probe."""
    from pyspark.sql import Window

    from dstream_spark.functions.similarity import cosine_with_norms

    c = vecs.select(
        F.col("vec_id").alias("n_id"), F.col("c_id").alias("n_c"),
        F.col("embedding").alias("n_vec"), F.col("_n").alias("_nn"),
    )
    scored = (
        c.join(F.broadcast(q), (F.col("q_c") == F.col("n_c")) & (F.col("q_id") != F.col("n_id")))
        .withColumn(
            "sim",
            # fold: pair-fan-out scorer (see ivf_assign_vec, guide §4.1)
            cosine_with_norms(
                F.col("q_vec"), F.col("n_vec"), F.col("_qn"), F.col("_nn"), fold=True
            ),
        )
        .select("q_id", "n_id", "sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )


def q_emb_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN shape end-to-end: k-means TRAINED centroids
    feeding the IVF cell-restricted search (closing the r4 gap where
    emb_ivf_topk bucketed against untrained seed vectors) — top-3
    cosine within the query's own cell. Same scale shape as
    emb_ivf_topk: centroids broadcast, candidate generation shuffles
    only cell ids, never the corpus per query."""
    _, vecs = _ivf_trained_cells(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("c_id").alias("q_c"),
        F.col("embedding").alias("q_vec"), F.col("_n").alias("_qn"),
    )
    return _cell_topk(q, vecs)


def q_emb_ivf_probe2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE trained IVF (nprobe=2, the standard ANN recall
    knob): each query searches its TWO nearest trained cells instead
    of one, roughly doubling candidates per query while the corpus
    side still shuffles nothing — probes are rows of the broadcast
    query table. Candidate sets of the two probes are disjoint (every
    corpus vector lives in exactly one cell), so no dedup pass is
    needed. Measured recall@3 vs brute force: see BENCH/NOTES.md."""
    from pyspark.sql import Window

    from dstream_spark.functions.similarity import cosine_with_norms, l2_norm

    trained, vecs = _ivf_trained_cells(spark, sf_dir)
    e = spark.table("embeddings")
    qv = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).withColumn("_qn", l2_norm(F.col("q_vec")))
    scored_c = qv.join(
        F.broadcast(trained.withColumn("_cn", l2_norm(F.col("c_vec"))))
    ).withColumn(
        "sim", cosine_with_norms(F.col("q_vec"), F.col("c_vec"), F.col("_qn"), F.col("_cn"))
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    probes = (
        scored_c.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 2)
        .select("q_id", F.col("c_id").alias("q_c"), "q_vec", "_qn")
    )
    return _cell_topk(probes, vecs)


def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the 10^9-vector ANN shape end-to-end (Jégou et al.'s
    IVFADC): the k-means-TRAINED IVF cells supply the CANDIDATES and
    product-quantization ADC supplies the SCORING, composing
    emb_ivf_trained_topk's pruning with emb_pq_topk's 16-bytes-per-
    vector memory path. This is the index every production vector
    store builds at scale — the cell restriction bounds how many
    codes a query touches, the codes bound bytes per touched vector.

    Plan shape: the PQ code build carries each vector's cell id along
    MAP-SIDE (codes derive from the cell-assigned corpus, so candidate
    restriction adds no join against a separate assignment table);
    query cells arrive as a broadcast, so codes → candidate filter →
    broadcast-ADC lookup are all map-side and the ONLY key-bearing
    exchange in the search is the final (q_id, n_id) exact-integer
    sum. Distances stay 1e-6-scaled BIGINTs — ranking is partitioning-
    and engine-invariant, so the composed oracle (recursive-CTE
    k-means + PQ codes + cell-restricted ADC) is hash-exact."""
    _, vecs = _ivf_trained_cells(spark, sf_dir)
    codes, dtable = _pq_build(
        spark,
        vecs.select("vec_id", F.col("c_id").alias("cell"), "embedding"),
        carry=("cell",),
    )
    q_cells = (
        vecs.filter(F.col("vec_id") < PQ_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("q_c"))
    )
    cand_codes = codes.join(
        F.broadcast(q_cells),
        (F.col("cell") == F.col("q_c")) & (F.col("vec_id") != F.col("q_id")),
    )
    adc = (
        cand_codes.join(F.broadcast(dtable), ["q_id", "s", "code"])
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(F.sum("dq").alias("adq"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adq").asc(), F.col("n_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select(
            "q_id",
            "n_id",
            (F.col("adq").cast("double") / 1000000.0).alias("adist"),
            "rank",
        )
    )


def q_cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping over (event_type, weekday): all four grouping
    combinations in one pass — completes the grouping-analytics family
    next to ROLLUP and PIVOT."""
    register_tables(spark, sf_dir, ("events",))
    e = spark.table("events").withColumn("dow", F.dayofweek("ts").cast("int"))
    return e.cube("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")) / 100.0).alias("sum_value"),
    )


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a quasi-ordered feed with a
    replayed first batch: duplicates are eliminated (in-watermark) or
    dropped as late (behind it) — either way the output is each turn
    exactly once, matching the identity oracle."""
    from dstream_spark.operators.dedup import dedup_stream
    from dstream_spark.streaming_queries import _feed_source

    src = _feed_source(spark, sf_dir, "wmdedup", split_by_time=True, replay_batch0=True)
    out = dedup_stream(src, watermark="10 minutes").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    return run_stream(out, "append")


def q_docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word pre-tokenization (letter/digit/punct runs —
    the split a byte-pair tokenizer applies before merges) next to the
    whitespace count: the brief's 'token counting (whitespace + a
    BPE-ish regex)'. Pure regexp projection, codegen'd, text-only
    column pruning."""
    from dstream_spark.functions.text import bpe_token_count, token_count

    register_tables(spark, sf_dir, ("documents",))
    d = spark.table("documents")
    return d.select(
        "doc_id",
        token_count().alias("n_ws_tokens"),
        bpe_token_count().alias("n_bpe_tokens"),
        F.round(
            bpe_token_count().cast("double") / token_count().cast("double"), 6
        ).alias("bpe_per_ws"),
    )


def q_emb_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (Charikar sign-LSH):
    the LSH-bucketed ANN alternative to the IVF path. Planes = the
    first 6 corpus vectors (deterministic stand-in for seeded Gaussian
    planes; 64 buckets)."""
    from dstream_spark.functions.similarity import rp_lsh_assign

    register_tables(spark, sf_dir, ("embeddings",))
    e = spark.table("embeddings")
    planes = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("h_id"), F.col("embedding").alias("h_vec")
    )
    return rp_lsh_assign(fan_out(e), planes)


def q_emb_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup candidates: same-bucket pairs verified by
    exact cosine ≥ 0.4. The bucket equi-join is the scale path (shuffle
    on lsh_bucket only); emb_near_dup_pairs is its brute-force recall
    verifier."""
    from dstream_spark.functions.similarity import cosine_with_norms, l2_norm
    from dstream_spark.queries_base import _materialize

    register_tables(spark, sf_dir, ("embeddings",))
    e = spark.table("embeddings")
    b = _materialize(
        q_emb_lsh_buckets(spark, sf_dir)
        .join(e.select("vec_id", "embedding"), "vec_id")
        .withColumn("_n", l2_norm(F.col("embedding"))),  # norm stored with the vector
        "lsh_buckets",
    )
    l = b.select(
        F.col("vec_id").alias("ia"), F.col("lsh_bucket").alias("bk"),
        F.col("embedding").alias("va"), F.col("_n").alias("_na"),
    )
    r = b.select(
        F.col("vec_id").alias("ib"), F.col("lsh_bucket").alias("bk_r"),
        F.col("embedding").alias("vb"), F.col("_n").alias("_nb"),
    )
    return (
        l.join(r, (F.col("bk") == F.col("bk_r")) & (F.col("ia") < F.col("ib")))
        .withColumn(
            # fold=True: pair-fan-out scorer — per-pair Arrow traffic
            # would dominate the Arrow-UDF dot (see cosine_with_norms)
            "cos",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb"), fold=True
            ),
        )
        .filter(F.col("cos") >= 0.4)
        .select("ia", "ib", "cos")
    )


def q_tool_correlation_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-bounded variant of tool_correlation: identical output, but
    a hot conversation's quadratic pair work is split across 8 salt
    buckets (the right side replicates 8×; right ≪ left here). Same
    oracle as the unsalted join."""
    from dstream_spark.operators.joins import interval_join_salted

    t = _transcripts(spark, sf_dir)
    agents = t.filter(F.col("role") == "agent")
    tools = t.filter(F.col("tool").isNotNull()).select("conv_id", "turn_idx", "tool", "ts")
    j = interval_join_salted(agents, tools, lower_s=600, upper_s=600, buckets=8)
    return j.select(
        F.col("conv_id"),
        F.col("turn_idx").alias("agent_turn"),
        F.col("turn_idx_r").alias("tool_turn"),
        F.col("tool_r").alias("tool"),
    )


_LSH_BUCKETS_CTE = """planes AS (
  SELECT vec_id AS h_id, embedding AS h_vec FROM embeddings WHERE vec_id < 6
), terms AS (
  SELECT e.vec_id,
         CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(p.h_vec AS DOUBLE[])) > 0
              THEN (CAST(1 AS BIGINT) << CAST(p.h_id AS INT)) ELSE CAST(0 AS BIGINT) END AS term
  FROM embeddings e CROSS JOIN planes p
), buckets AS (
  SELECT vec_id, CAST(SUM(term) AS BIGINT) AS lsh_bucket FROM terms GROUP BY 1
)"""

# the bounded-fixpoint k-means assignment as a reusable recursive CTE:
# referenced by BOTH the emb_kmeans_converged oracle and the trained-
# IVF oracle (emb_ivf_trained_topk), which extends it with the final
# centroid means + cell-restricted top-k
SEG_WORDS = 8  # words per segment (the para-dedup granule)


def q_turn_segments_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) — the 1-row→n-rows SQL
    surface, invoked through LATERAL: each turn's text explodes into
    8-word segments with per-segment word counts. This completes the
    Python-eval surface next to scalar pandas_udf, grouped-agg UDAF,
    applyInPandas, mapInPandas, and applyInPandasWithState. HONEST
    scale note: a row-at-a-time Python UDTF is the slow path — the
    engine's production segmenter is the JVM split/slice pipeline
    (docs_para_dedup uses it); this entry certifies the SURFACE
    (registration, LATERAL join, multi-column yield, oracle parity),
    not a hot-path recommendation."""
    import uuid as _uuid

    from pyspark.sql.functions import udtf

    @udtf(returnType="seg_idx: int, seg_text: string, n_words: int")
    class SegmentTurn:
        def eval(self, text: str):
            words = text.split(" ")
            for i in range(0, len(words), SEG_WORDS):
                chunk = words[i : i + SEG_WORDS]
                yield i // SEG_WORDS, " ".join(chunk), len(chunk)

    fn = f"segment_turn_{_uuid.uuid4().hex[:8]}"
    spark.udtf.register(fn, SegmentTurn)
    t = _transcripts(spark, sf_dir)
    view = f"_seg_in_{_uuid.uuid4().hex[:8]}"
    t.createOrReplaceTempView(view)
    return spark.sql(
        f"""SELECT conv_id, turn_idx, s.seg_idx, s.seg_text, s.n_words
            FROM {view}, LATERAL {fn}(text) s"""
    )


_SEGMENTS_SQL_BODY = f"""
SELECT conv_id, turn_idx, CAST(g - 1 AS INT) AS seg_idx,
       array_to_string(words[(g - 1) * {SEG_WORDS} + 1 : least(len(words), g * {SEG_WORDS})], ' ') AS seg_text,
       CAST(least(len(words), g * {SEG_WORDS}) - (g - 1) * {SEG_WORDS} AS INT) AS n_words
FROM (
  SELECT conv_id, turn_idx, words,
         unnest(generate_series(1, CAST(ceil(len(words) / {SEG_WORDS}.0) AS BIGINT))) AS g
  FROM (SELECT conv_id, turn_idx, string_split(text, ' ') AS words FROM transcripts)
)"""


PAGERANK_ROUNDS = 4  # must match the `p.it < 4` cap in the oracle
PR_SCALE = 1_000_000_000  # rank micro-units


def q_tool_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the tool-transition graph (edge
    a→b per consecutive tool invocations within a conversation,
    weighted by transition count) — the third iterative algorithm
    next to connected components and k-means, and like them driven
    with scalar-only driver reads and per-round materialization.
    Determinism: ranks live in INTEGER micro-units (PR_SCALE = 1e9)
    and every division floors — per-edge contribution
    floor(rank*w/outw), damping floor(c*85/100) — so no float sum
    order can matter; the cost is a truncation leak of < 1 unit per
    edge per round (documented fixed-point PageRank, not the real-
    valued one). Dangling mass (tools with no outgoing transition) is
    dropped, standard for the sparse web-graph variant. One
    partial-aggregated exchange per round, rank table = |tools| rows.
    Oracle: a DuckDB recursive CTE carrying the packed rank list
    through the same integer formulas (the kmeans pack/LATERAL
    pattern)."""
    import math

    t = _transcripts(spark, sf_dir)
    seq = t.filter(F.col("tool").isNotNull()).select("conv_id", "turn_idx", "tool")
    wnd = Window.partitionBy("conv_id").orderBy("turn_idx")
    edges = _materialize(
        seq.withColumn("dst", F.lead("tool").over(wnd))
        .filter(F.col("dst").isNotNull())
        .groupBy(F.col("tool").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("w")),
        "pr_edges",
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    nodes = _materialize(
        edges.select(F.col("src").alias("tool"))
        .union(edges.select(F.col("dst").alias("tool")))
        .distinct(),
        "pr_nodes",
    )
    n_nodes = nodes.count()  # the one driver scalar
    rank0 = int(math.floor(PR_SCALE * 1.0 / n_nodes))
    base = int(math.floor(0.15 * PR_SCALE / n_nodes))
    rank = nodes.withColumn("rank", F.lit(rank0).cast("long"))
    for _ in range(PAGERANK_ROUNDS):
        contrib = (
            rank.join(edges, rank.tool == edges.src)
            .join(outw, "src")
            .select(
                F.col("dst").alias("tool"),
                F.floor(F.col("rank") * F.col("w") * F.lit(1.0) / F.col("ow"))
                .cast("long")
                .alias("c"),
            )
            .groupBy("tool")
            .agg(F.sum("c").alias("contrib"))
        )
        rank = _materialize(
            nodes.join(contrib, "tool", "left").select(
                "tool",
                (
                    F.lit(base).cast("long")
                    + F.floor(
                        F.coalesce(F.col("contrib"), F.lit(0)) * F.lit(85.0) / F.lit(100.0)
                    ).cast("long")
                ).alias("rank"),
            ),
            "pr_rank",
        )
    return rank


def q_tool_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the undirected tool-transition graph —
    the fourth graph/iterative-family member next to connected
    components (docs_dup_clusters), PageRank, and k-means, and the
    classic clustering-coefficient primitive. Algorithm: canonical
    edge orientation (least, greatest) + DISTINCT gives each
    undirected edge once with a < b; a triangle a<b<c is then exactly
    one row of edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c) — the
    node-iterator join that counts each triangle ONCE, no
    permutation blowup. At web scale the canonical orientation is
    what bounds the join fan-out (every wedge is generated at its
    smallest vertex); here the edge table is tool×tool-bounded and
    broadcast. Output: per-tool triangle membership count (each
    triangle credits its three corners), zero-filled over all nodes."""
    t = _transcripts(spark, sf_dir)
    wnd = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = (
        t.filter(F.col("tool").isNotNull())
        .select("conv_id", "turn_idx", "tool")
        .withColumn("dst", F.lead("tool").over(wnd))
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("tool")))
    )
    ue = _materialize(
        seq.select(
            F.least("tool", "dst").alias("a"), F.greatest("tool", "dst").alias("b")
        ).distinct(),
        "tri_edges",
    )
    e1 = ue.select(F.col("a").alias("a"), F.col("b").alias("b"))
    e2 = ue.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = ue.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(F.broadcast(e2), F.col("b") == F.col("b2"))
        .join(
            F.broadcast(e3),
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    mem = (
        tri.select(F.col("a").alias("tool"))
        .unionAll(tri.select(F.col("b").alias("tool")))
        .unionAll(tri.select(F.col("c").alias("tool")))
        .groupBy("tool")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        ue.select(F.col("a").alias("tool"))
        .unionAll(ue.select(F.col("b").alias("tool")))
        .distinct()
    )
    return nodes.join(mem, "tool", "left").select(
        "tool",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
    )


# ONE shared recursive-CTE text for both engines (Spark 4 added
# WITH RECURSIVE; DuckDB has it since v0.5) — the strongest oracle
# form: not two implementations compared, but one text executed twice
_REACH_SQL_BODY = """
, seq AS (
  SELECT conv_id, turn_idx, tool,
         lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst
  FROM transcripts WHERE tool IS NOT NULL
), e AS (
  SELECT DISTINCT tool AS src, dst FROM seq WHERE dst IS NOT NULL AND dst != tool
), paths(src, dst, depth) AS (
  SELECT src, dst, 1 FROM e
  UNION ALL
  SELECT p.src, e.dst, p.depth + 1
  FROM paths p JOIN e ON e.src = p.dst
  WHERE p.depth < 4 AND e.dst != p.src
)
SELECT src, dst, CAST(min(depth) AS INT) AS min_hops
FROM paths GROUP BY 1, 2"""


def _reach_sql() -> str:
    return _t_sql(_REACH_SQL_BODY).replace("WITH ", "WITH RECURSIVE ", 1)


def q_tool_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED TRANSITIVE CLOSURE via Spark 4's declarative WITH
    RECURSIVE — min-hops reachability (<= 4 hops) over the directed
    tool-transition graph, certifying the recursive-SQL surface next
    to the hand-rolled iterative loops (connected components, k-means,
    PageRank all drive materialize-per-round loops; this one lets the
    engine unroll the recursion). The SAME SQL text runs on DuckDB —
    one text, two engines, hash-equal — so the oracle is maximally
    strong. Semantics: min_hops is exact for src != dst (a shortest
    path never revisits a node, and the e.dst != p.src prune only
    forbids returning to the origin); self-pairs excluded by design.
    Scale note: UNION ALL recursion enumerates WALKS — fine on a
    tool-vocabulary graph (|nodes| bounded); on a 10^9-node graph the
    frontier-dedup form (per-level DISTINCT against the visited set,
    i.e. docs_dup_clusters' min-label loop) replaces it — depth cap 4
    bounds the blowup here either way."""
    register_tables(spark, sf_dir, ("events",))
    return spark.sql(_reach_sql())


_TRIANGLES_SQL_BODY = """
, seq AS (
  SELECT conv_id, turn_idx, tool,
         lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst
  FROM transcripts WHERE tool IS NOT NULL
), ue AS (
  SELECT DISTINCT least(tool, dst) AS a, greatest(tool, dst) AS b
  FROM seq WHERE dst IS NOT NULL AND dst != tool
), tri AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM ue e1
  JOIN ue e2 ON e2.a = e1.b
  JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b
), mem AS (
  SELECT t AS tool, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS t FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY 1
), nodes AS (
  SELECT DISTINCT t AS tool FROM (SELECT a AS t FROM ue UNION ALL SELECT b FROM ue)
)
SELECT n.tool AS tool, CAST(coalesce(m.n_triangles, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN mem m USING (tool)"""


def _pagerank_sql() -> str:
    from dstream_spark.fixtures.transcripts import TRANSCRIPTS_CTE

    return f"""
WITH RECURSIVE {TRANSCRIPTS_CTE}, seq AS (
  SELECT conv_id, turn_idx, tool,
         lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst
  FROM transcripts WHERE tool IS NOT NULL
), w AS (
  SELECT tool AS src, dst, CAST(count(*) AS BIGINT) AS w
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
), outw AS (
  SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM w GROUP BY 1
), nodes AS (
  -- NOTE: under WITH RECURSIVE, DuckDB treats a TOP-LEVEL UNION in
  -- any CTE as an anchor/step pair and iterates it (observed v1.0.0:
  -- 5 nodes became 50); nesting the union below a DISTINCT avoids it
  SELECT DISTINCT tool FROM (SELECT src AS tool FROM w UNION ALL SELECT dst FROM w)
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
), pr(it, st) AS (
  SELECT 0, (SELECT list(struct_pack(tool := nodes.tool,
               rank := CAST(FLOOR({PR_SCALE}.0 / nn.n) AS BIGINT)))
             FROM nodes CROSS JOIN nn)
  UNION ALL
  SELECT p.it + 1, nx.st
  FROM pr p,
  LATERAL (
    WITH prev AS (
      SELECT u.tool AS tool, u.rank AS rank FROM (SELECT unnest(p.st) AS u)
    ), contrib AS (
      SELECT w.dst AS tool,
             CAST(SUM(CAST(FLOOR(prev.rank * w.w * 1.0 / o.ow) AS BIGINT)) AS BIGINT) AS c
      FROM prev JOIN w ON prev.tool = w.src JOIN outw o ON w.src = o.src
      GROUP BY w.dst
    )
    SELECT list(struct_pack(tool := n2.tool,
             rank := CAST(FLOOR(0.15 * {PR_SCALE} / nn.n) AS BIGINT)
                   + CAST(FLOOR(COALESCE(c.c, 0) * 85.0 / 100.0) AS BIGINT)))
    FROM nodes n2 CROSS JOIN nn LEFT JOIN contrib c ON n2.tool = c.tool
  ) AS nx(st)
  WHERE p.it < {PAGERANK_ROUNDS}
)
SELECT u.tool AS tool, u.rank AS rank
FROM (SELECT unnest(st) AS u FROM pr WHERE it = {PAGERANK_ROUNDS})"""


_KMEANS_ASSIGN_CTE = """
WITH RECURSIVE assign(iter, vec_id, c_id) AS (
  SELECT 0, vec_id, c_id FROM (
    SELECT e.vec_id, c.c_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(c.c_vec AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[])))), 6) DESC,
               c.c_id ASC) AS rn
    FROM embeddings e
    JOIN (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8) c ON TRUE
  ) WHERE rn = 1
  UNION ALL
  SELECT p.it + 1, nx.vec_id, nx.c_id
  FROM (
    SELECT struct_pack(it := max(iter), a := list(struct_pack(v := vec_id, c := c_id))) AS pk
    FROM assign
  ) AS packed(pk),
  LATERAL (SELECT pk.it AS it) AS p,
  LATERAL (
    WITH cur AS (
      SELECT u.v AS vec_id, u.c AS c_id
      FROM (SELECT unnest(pk.a) AS u)
    ), dims AS (
      SELECT cur.c_id,
             unnest(generate_series(1, len(e.embedding))) - 1 AS pos,
             unnest(CAST(e.embedding AS DOUBLE[])) AS val
      FROM cur JOIN embeddings e USING (vec_id)
    ), means AS (
      SELECT c_id, pos,
             CAST(SUM(CAST(FLOOR(val * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean
      FROM dims GROUP BY 1, 2
    ), cents AS (
      SELECT c_id, list(mean ORDER BY pos) AS c_vec FROM means GROUP BY 1
    ), nxt AS (
      SELECT vec_id, c_id FROM (
        SELECT e.vec_id, c.c_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.c_vec) /
                     (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                      sqrt(list_dot_product(c.c_vec, c.c_vec))), 6) DESC,
                   c.c_id ASC) AS rn
        FROM embeddings e JOIN cents c ON TRUE
      ) WHERE rn = 1
    )
    SELECT n.vec_id, n.c_id,
           max(CASE WHEN n.c_id != cur.c_id THEN 1 ELSE 0 END) OVER () AS changed_any
    FROM nxt n JOIN cur USING (vec_id)
  ) AS nx
  WHERE nx.changed_any = 1 AND p.it + 1 <= 10
)"""

# kmeans fixpoint -> trained centroid means -> corpus cell assignment:
# shared by the single-probe and multi-probe trained-IVF oracles
_IVF_TRAINED_CELLS_CTE = _KMEANS_ASSIGN_CTE + """,
fin AS (
  SELECT vec_id, c_id FROM assign WHERE iter = (SELECT max(iter) FROM assign)
), fdims AS (
  SELECT f.c_id,
         unnest(generate_series(1, len(e.embedding))) - 1 AS pos,
         unnest(CAST(e.embedding AS DOUBLE[])) AS val
  FROM fin f JOIN embeddings e USING (vec_id)
), fmeans AS (
  SELECT c_id, pos,
         CAST(SUM(CAST(FLOOR(val * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean
  FROM fdims GROUP BY 1, 2
), tcents AS (
  SELECT c_id, list(mean ORDER BY pos) AS c_vec FROM fmeans GROUP BY 1
), cells AS (
  SELECT vec_id, c_id FROM (
    SELECT e.vec_id, c.c_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.c_vec) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(c.c_vec, c.c_vec))), 6) DESC,
               c.c_id ASC) AS rn
    FROM embeddings e JOIN tcents c ON TRUE
  ) WHERE rn = 1
), vecs AS (
  SELECT a.vec_id, a.c_id, e.embedding FROM cells a JOIN embeddings e USING (vec_id)
)"""

_IVF_TRAINED_TOPK_SQL = _IVF_TRAINED_CELLS_CTE + """,
pairs AS (
  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])))), 6) AS sim
  FROM vecs q JOIN vecs n ON q.c_id = n.c_id AND q.vec_id < 20 AND n.vec_id != q.vec_id
)
SELECT q_id, n_id, sim, rank FROM (
  SELECT q_id, n_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rank
  FROM pairs
) WHERE rank <= 3"""

_IVF_TRAINED_PROBE2_SQL = _IVF_TRAINED_CELLS_CTE + """,
qprobes AS (
  SELECT vec_id AS q_id, c_id FROM (
    SELECT e.vec_id, c.c_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.c_vec) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(c.c_vec, c.c_vec))), 6) DESC,
               c.c_id ASC) AS rn
    FROM embeddings e JOIN tcents c ON TRUE
    WHERE e.vec_id < 20
  ) WHERE rn <= 2
), pairs AS (
  SELECT p.q_id, n.vec_id AS n_id,
         round(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])))), 6) AS sim
  FROM qprobes p
  JOIN vecs n ON n.c_id = p.c_id AND n.vec_id != p.q_id
  JOIN embeddings qe ON qe.vec_id = p.q_id
)
SELECT q_id, n_id, sim, rank FROM (
  SELECT q_id, n_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rank
  FROM pairs
) WHERE rank <= 3"""

# IVF-PQ: the trained-cells CTE supplies candidates (vecs), the PQ
# CTEs supply codes + the query ADC table; distances are exact-integer
# so the composed ranking is engine-invariant end-to-end
_IVFPQ_TOPK_SQL = _IVF_TRAINED_CELLS_CTE + """,
dm AS (SELECT CAST(len(embedding) // 16 AS INT) AS seg FROM embeddings LIMIT 1),
segs AS (SELECT unnest(generate_series(0, 15)) AS s),
cent_sub AS (
  SELECT e.vec_id AS c_id, g.s,
         list_slice(CAST(e.embedding AS DOUBLE[]), g.s*dm.seg+1, (g.s+1)*dm.seg) AS c_sub
  FROM embeddings e, segs g, dm WHERE e.vec_id < 32
),
corp AS (
  SELECT e.vec_id, g.s,
         list_slice(CAST(e.embedding AS DOUBLE[]), g.s*dm.seg+1, (g.s+1)*dm.seg) AS v_sub
  FROM embeddings e, segs g, dm
),
pscored AS (
  SELECT c.vec_id, c.s, cs.c_id,
         CAST(FLOOR((list_dot_product(v_sub, v_sub) - 2*list_dot_product(v_sub, c_sub)
                     + list_dot_product(c_sub, c_sub)) * 1000000 + 0.5) AS BIGINT) AS dq
  FROM corp c JOIN cent_sub cs USING (s)
),
codes AS (
  SELECT vec_id, s, c_id AS code FROM (
    SELECT vec_id, s, c_id,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dq ASC, c_id ASC) AS rn
    FROM pscored) WHERE rn = 1
),
dtable AS (
  SELECT q.vec_id AS q_id, q.s, cs.c_id AS code,
         CAST(FLOOR((list_dot_product(v_sub, v_sub) - 2*list_dot_product(v_sub, c_sub)
                     + list_dot_product(c_sub, c_sub)) * 1000000 + 0.5) AS BIGINT) AS dq
  FROM corp q JOIN cent_sub cs USING (s) WHERE q.vec_id < 20
),
cand AS (
  SELECT q.vec_id AS q_id, n.vec_id AS n_id
  FROM vecs q JOIN vecs n ON q.c_id = n.c_id AND q.vec_id < 20 AND n.vec_id != q.vec_id
),
adc AS (
  SELECT d.q_id, c.vec_id AS n_id, CAST(SUM(d.dq) AS BIGINT) AS adq
  FROM cand
  JOIN codes c ON c.vec_id = cand.n_id
  JOIN dtable d ON d.q_id = cand.q_id AND d.s = c.s AND d.code = c.code
  GROUP BY 1, 2
)
SELECT q_id, n_id, CAST(adq AS DOUBLE)/1000000.0 AS adist, rank FROM (
  SELECT q_id, n_id, adq,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adq ASC, n_id ASC) AS INT) AS rank
  FROM adc) WHERE rank <= 3"""

EXT_ORACLES: dict[str, str] = {
    "asof_join_tool": _t_sql(
        """
, agents AS (SELECT conv_id, turn_idx, ts FROM transcripts WHERE role = 'agent'),
tools AS (SELECT conv_id, turn_idx, tool, ts FROM transcripts WHERE tool IS NOT NULL),
j AS (
  SELECT a.conv_id, a.turn_idx AS agent_turn, t.turn_idx AS tool_turn, t.tool,
         row_number() OVER (PARTITION BY a.conv_id, a.turn_idx
                            ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM agents a JOIN tools t
    ON a.conv_id = t.conv_id
   AND t.ts <= a.ts AND t.ts >= a.ts - INTERVAL '3600 seconds'
)
SELECT conv_id, agent_turn, tool_turn, tool FROM j WHERE rn = 1"""
    ),
    # stream-stream as-of: the batch asof pick gated by the append-mode
    # finalization clock — a row is confirmed once the global watermark
    # (min of the two sides' max event time - 2 h) passes the 1-hour
    # window end of its agent turn
    "stream_asof_join": _t_sql(
        """
, agents AS (SELECT conv_id, turn_idx, ts FROM transcripts WHERE role = 'agent'),
tools AS (SELECT conv_id, turn_idx, tool, ts FROM transcripts WHERE tool IS NOT NULL),
wm AS (
  SELECT least((SELECT max(ts) FROM agents), (SELECT max(ts) FROM tools))
         - INTERVAL 2 HOUR AS w
),
j AS (
  SELECT a.conv_id, a.turn_idx AS agent_turn, a.ts AS ts_a,
         t.turn_idx AS tool_turn, t.tool,
         row_number() OVER (PARTITION BY a.conv_id, a.turn_idx
                            ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM agents a JOIN tools t
    ON a.conv_id = t.conv_id
   AND t.ts <= a.ts AND t.ts >= a.ts - INTERVAL '3600 seconds'
)
SELECT conv_id, agent_turn, tool_turn, tool
FROM j, wm
WHERE rn = 1 AND date_trunc('hour', ts_a) + INTERVAL 1 HOUR <= wm.w"""
    ),
    "running_turn_counts": _t_sql(
        """
SELECT conv_id, turn_idx,
       count(*) OVER w AS cum_turns,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER w AS BIGINT) AS cum_tools
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING)"""
    ),
    "turn_gaps": _t_sql(
        """
SELECT conv_id, turn_idx,
       CAST(FLOOR(epoch(ts)) AS BIGINT)
         - lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w AS gap_s,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)"""
    ),
    "rollup_event_stats": """
SELECT event_type, CAST(FLOOR(value / 100.0) AS INT) AS bucket,
       count(*) AS n, CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY ROLLUP (event_type, CAST(FLOOR(value / 100.0) AS INT))""",
    "conv_role_pivot": _t_sql(
        """
SELECT conv_id,
       CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(SUM(CASE WHEN role = 'agent' THEN 1 ELSE 0 END) AS BIGINT) AS n_agent,
       CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool
FROM transcripts GROUP BY 1"""
    ),
    "median_value_by_type": """
SELECT event_type, round(median(value), 6) AS median_value,
       round(stddev_samp(value), 6) AS sd_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1""",
    "orders_with_late_lineitems": """
SELECT o_orderkey, o_orderdate, o_totalprice FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL '90 days'
)""",
    "customers_without_orders": """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "conv_first_last": _t_sql(
        """
SELECT conv_id,
       arg_min(text, turn_idx) AS first_text,
       arg_max(text, turn_idx) AS last_text,
       min(turn_idx) AS first_turn,
       max(turn_idx) AS last_turn
FROM transcripts GROUP BY 1"""
    ),
    "term_frequency": """
SELECT token, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20""",
    "multimodal_features": """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(8 AS INT) AS feat_dim
FROM documents""",
    "multimodal_resize": """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CAST(16 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
       CAST(64 AS INT) AS n_resized,
       md5(substring(hex(repeat(encode(text), CAST(CEIL(64.0 / octet_length(encode(text))) AS INT))), 1, 128)) AS md5_resized
FROM documents""",
    "multimodal_frames": """
WITH f AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS ol,
         unnest(generate_series(0, 3)) AS i
  FROM documents
), o AS (
  SELECT media_id, hx, CAST(i AS INT) AS frame_idx,
         CAST(least(i * greatest(1, CAST(FLOOR((ol - 16) / 3.0) AS INT)),
                    greatest(0, ol - 16)) AS INT) AS frame_offset
  FROM f
)
SELECT media_id, frame_idx, frame_offset,
       md5(substring(hx, frame_offset * 2 + 1, 32)) AS md5_frame
FROM o""",
    "envelope_projection": _t_sql(
        """
SELECT conv_id, turn_idx,
       to_json(struct_pack(
         metadata := struct_pack(TableName := conv_id, Seq := turn_idx,
                                 OperationType := 'Insert'),
         data := struct_pack(role := role, text := text)
       ))::VARCHAR AS envelope
FROM transcripts"""
    ),
    "event_value_percentiles": """
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.75) AS p75
FROM events GROUP BY 1""",
    "envelope_parse": _t_sql(
        """
SELECT conv_id AS table_name, turn_idx AS seq, 'Insert' AS op, role, text
FROM transcripts"""
    ),
    "users_click_and_error": """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'""",
    "conv_renumber": _t_sql(
        """
SELECT conv_id, turn_idx,
       CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) - 1 AS INT)
         AS order_in_conv
FROM transcripts"""
    ),
    "pandas_udf_norm": """
SELECT doc_id, replace(lower(trim(text)), '  ', ' ') AS norm_text FROM documents""",
    "stream_tool_join": _t_sql(
        """
SELECT a.conv_id AS conv_id, a.turn_idx AS agent_turn,
       t.turn_idx AS tool_turn, t.tool AS tool
FROM transcripts a
JOIN transcripts t
  ON a.conv_id = t.conv_id AND a.role = 'agent' AND t.tool IS NOT NULL
 AND t.ts >= a.ts - INTERVAL '600 seconds'
 AND t.ts <= a.ts + INTERVAL '600 seconds'"""
    ),
    "conv_gap_median_udaf": _t_sql(
        """
, g AS (
  SELECT conv_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
         - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_s
  FROM transcripts
)
SELECT conv_id, CAST(median(gap_s) AS DOUBLE) AS median_gap_s
FROM g WHERE gap_s IS NOT NULL GROUP BY 1"""
    ),
    "role_transitions": _t_sql(
        """
, p AS (
  SELECT role AS from_role,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS to_role
  FROM transcripts
), c AS (
  SELECT from_role, to_role, count(*) AS n
  FROM p WHERE to_role IS NOT NULL GROUP BY 1, 2
)
SELECT from_role, to_role, n,
       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_role) AS DOUBLE) AS frac
FROM c"""
    ),
    "tpch_q7": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_nationkey = 1 AND n2.n_nationkey = 2)
   OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1)
GROUP BY 1, 2, 3""",
    # Spark's outer-join eviction contract, encoded: the global
    # watermark is min(per-side max event time) - delay (each
    # withWatermark node tracks ITS OWN filtered stream — the tool
    # side's max lags the agent side's), and an unmatched left row's
    # null emits iff ts + upper_bound < that watermark, STRICTLY
    # (state removal is ts < wm - upper; verified at the boundary).
    "stream_tool_left_join": _t_sql(
        """
, agents AS (
  SELECT conv_id, turn_idx, ts FROM transcripts WHERE role = 'agent'
), tools AS (
  SELECT conv_id, turn_idx, tool, ts FROM transcripts WHERE tool IS NOT NULL
), wm AS (
  SELECT least((SELECT max(ts) FROM agents), (SELECT max(ts) FROM tools))
         - INTERVAL '2 hours' AS w
)
SELECT a.conv_id AS conv_id, a.turn_idx AS agent_turn,
       t.turn_idx AS tool_turn, t.tool AS tool
FROM agents a
JOIN tools t
  ON a.conv_id = t.conv_id
 AND t.ts >= a.ts - INTERVAL '600 seconds'
 AND t.ts <= a.ts + INTERVAL '600 seconds'
UNION ALL
SELECT a.conv_id, a.turn_idx AS agent_turn,
       CAST(NULL AS INTEGER) AS tool_turn, CAST(NULL AS VARCHAR) AS tool
FROM agents a
WHERE NOT EXISTS (
  SELECT 1 FROM tools t
  WHERE t.conv_id = a.conv_id
    AND t.ts >= a.ts - INTERVAL '600 seconds'
    AND t.ts <= a.ts + INTERVAL '600 seconds')
  AND a.ts + INTERVAL '600 seconds' < (SELECT w FROM wm)"""
    ),
    "stream_tool_full_join": _t_sql(
        """
, agents AS (
  SELECT conv_id, turn_idx, ts FROM transcripts WHERE role = 'agent'
), tools AS (
  SELECT conv_id, turn_idx, tool, ts FROM transcripts WHERE tool IS NOT NULL
), wm AS (
  SELECT least((SELECT max(ts) FROM agents), (SELECT max(ts) FROM tools))
         - INTERVAL '2 hours' AS w
)
SELECT a.conv_id AS conv_id, a.turn_idx AS agent_turn,
       t.turn_idx AS tool_turn, t.tool AS tool
FROM agents a
JOIN tools t
  ON a.conv_id = t.conv_id
 AND t.ts >= a.ts - INTERVAL '600 seconds'
 AND t.ts <= a.ts + INTERVAL '600 seconds'
UNION ALL
SELECT a.conv_id, a.turn_idx AS agent_turn,
       CAST(NULL AS INTEGER) AS tool_turn, CAST(NULL AS VARCHAR) AS tool
FROM agents a
WHERE NOT EXISTS (
  SELECT 1 FROM tools t
  WHERE t.conv_id = a.conv_id
    AND t.ts >= a.ts - INTERVAL '600 seconds'
    AND t.ts <= a.ts + INTERVAL '600 seconds')
  AND a.ts + INTERVAL '600 seconds' < (SELECT w FROM wm)
UNION ALL
SELECT t.conv_id, CAST(NULL AS INTEGER) AS agent_turn,
       t.turn_idx AS tool_turn, t.tool AS tool
FROM tools t
WHERE NOT EXISTS (
  SELECT 1 FROM agents a
  WHERE a.conv_id = t.conv_id
    AND a.ts >= t.ts - INTERVAL '600 seconds'
    AND a.ts <= t.ts + INTERVAL '600 seconds')
  AND t.ts + INTERVAL '600 seconds' < (SELECT w FROM wm)"""
    ),
    "tpch_q4": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL '30 days')
GROUP BY 1""",
    "tpch_q10": """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20""",
    "tpch_q18": """
WITH qty AS (
  SELECT l_orderkey, CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents
  FROM lineitem GROUP BY 1
  HAVING CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) > 15000
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       qty_cents / 100.0 AS total_qty
FROM qty
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 50""",
    "cep_user_agent_tool": _t_sql(
        """
, seq AS (
  SELECT conv_id, turn_idx, role,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0,
         lead(role, 1) OVER w AS role1,
         lead(tool, 2) OVER w AS tool2,
         lead(CAST(FLOOR(epoch(ts)) AS BIGINT), 2) OVER w AS t2
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx AS user_turn, tool2 AS tool, t2 - t0 AS span_s
FROM seq
WHERE role = 'user' AND role1 = 'agent' AND tool2 IS NOT NULL AND t2 - t0 <= 64800"""
    ),
    "cep_tool_retry": _t_sql(
        """
, seq AS (
  SELECT conv_id, turn_idx, role, tool,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0,
         lead(role, 1) OVER w AS role1,
         lead(role, 2) OVER w AS role2,
         lead(tool, 2) OVER w AS tool2,
         lead(CAST(FLOOR(epoch(ts)) AS BIGINT), 2) OVER w AS t2
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx AS first_turn, tool2 AS tool, t2 - t0 AS span_s
FROM seq
WHERE role = 'tool' AND tool IS NOT NULL AND role1 = 'agent'
  AND role2 = 'tool' AND tool2 IS NOT NULL AND t2 - t0 <= 64800"""
    ),
    # temporal / SCD-2 point-in-time join: the versioned dimension is
    # rebuilt in SQL (same floor arithmetic — note DuckDB CAST(double
    # AS INT) ROUNDS, so every narrowing goes through FLOOR to match
    # Spark's truncating cast) and each fact row joins the version
    # whose validity interval contains its event time
    "tool_temporal_enrich": _t_sql(
        """
, tl AS (
  SELECT conv_id, turn_idx, tool, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e
  FROM transcripts WHERE tool IS NOT NULL
), bounds AS (
  SELECT MIN(e) AS lo, MAX(e) AS hi, MAX(e) - MIN(e) + 1 AS span FROM tl
), sliced AS (
  SELECT tool, least(2, CAST(FLOOR((e - lo) * 3.0 / span) AS INT)) AS version
  FROM tl CROSS JOIN bounds
), counts AS (
  SELECT tool, version, CAST(COUNT(*) AS BIGINT) AS n
  FROM sliced GROUP BY tool, version
), scaffold AS (
  SELECT DISTINCT tl.tool, v.version
  FROM tl CROSS JOIN (SELECT CAST(UNNEST([0, 1, 2]) AS INT) AS version) v
), dim AS (
  SELECT s.tool, s.version,
         lo + CAST(FLOOR(s.version * span / 3.0) AS BIGINT) AS valid_from,
         CASE WHEN s.version = 2 THEN hi + 1
              ELSE lo + CAST(FLOOR((s.version + 1) * span / 3.0) AS BIGINT)
         END AS valid_to,
         CAST(SUM(COALESCE(c.n, 0)) OVER (
           PARTITION BY s.tool ORDER BY s.version
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_uses
  FROM scaffold s
  LEFT JOIN counts c ON s.tool = c.tool AND s.version = c.version
  CROSS JOIN bounds
)
SELECT f.conv_id, f.turn_idx, f.tool, d.version, d.cum_uses
FROM tl f
JOIN dim d ON f.tool = d.tool
          AND f.e >= d.valid_from AND f.e < d.valid_to"""
    ),
    # alternation (A (B|C) D): the fixed-length lead() scan with the
    # middle predicate an IN over the alternatives
    "cep_alternation": _t_sql(
        """
, seq AS (
  SELECT conv_id, turn_idx, role,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0,
         lead(role, 1) OVER w AS role1,
         lead(tool, 2) OVER w AS tool2,
         lead(CAST(FLOOR(epoch(ts)) AS BIGINT), 2) OVER w AS t2
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx AS first_turn, tool2 AS tool, t2 - t0 AS span_s
FROM seq
WHERE role = 'user' AND role1 IN ('agent', 'tool')
  AND tool2 IS NOT NULL AND t2 - t0 <= 64800"""
    ),
    # skip-till-next-match: per user turn, the FIRST tool turn within
    # 6 turns and 18 h (the self-join + rn=1 form is the oracle; the
    # engine's batch twin is the lead-array scan, the streaming form
    # the pending-A state body — all three must agree)
    "cep_followed_by": _t_sql(
        """
, a AS (
  SELECT conv_id, turn_idx, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0
  FROM transcripts WHERE role = 'user'
), b AS (
  SELECT conv_id, turn_idx AS b_idx, tool, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t1
  FROM transcripts WHERE role = 'tool' AND tool IS NOT NULL
)
SELECT conv_id, first_turn, tool, span_s FROM (
  SELECT a.conv_id, a.turn_idx AS first_turn, b.tool, b.t1 - a.t0 AS span_s,
         row_number() OVER (PARTITION BY a.conv_id, a.turn_idx ORDER BY b.b_idx) AS rn
  FROM a JOIN b ON a.conv_id = b.conv_id
              AND b.b_idx > a.turn_idx AND b.b_idx <= a.turn_idx + 6
  WHERE b.t1 - a.t0 <= 64800
) WHERE rn = 1"""
    ),
    # negation (notFollowedBy): user turns with NO qualifying tool
    # turn in the window — the batch twin sees whole conversations,
    # so plain NOT EXISTS is the full semantics
    "cep_not_followed_by": _t_sql(
        """
, a AS (
  SELECT conv_id, turn_idx, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0
  FROM transcripts WHERE role = 'user'
)
SELECT a.conv_id, a.turn_idx AS first_turn
FROM a
WHERE NOT EXISTS (
  SELECT 1 FROM transcripts b
  WHERE b.conv_id = a.conv_id AND b.role = 'tool' AND b.tool IS NOT NULL
    AND b.turn_idx > a.turn_idx AND b.turn_idx <= a.turn_idx + 6
    AND CAST(FLOOR(epoch(b.ts)) AS BIGINT) - a.t0 <= 64800)"""
    ),
    # streaming negation: same NOT EXISTS plus the append-mode
    # CONFIRMABILITY contract — an absence emits iff a later turn of
    # the conversation crossed the turn/time bound (in-data
    # confirmation), or the final watermark (max event time − 600 s
    # delay) passed the conversation's last turn + span_s (timeout
    # flush, strict >). Same oracle treatment as the LEFT OUTER
    # stream-stream join's null emission.
    "stream_cep_not_followed_by": _t_sql(
        """
, a AS (
  SELECT conv_id, turn_idx, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0
  FROM transcripts WHERE role = 'user'
)
SELECT a.conv_id, a.turn_idx AS first_turn
FROM a
WHERE NOT EXISTS (
  SELECT 1 FROM transcripts b
  WHERE b.conv_id = a.conv_id AND b.role = 'tool' AND b.tool IS NOT NULL
    AND b.turn_idx > a.turn_idx AND b.turn_idx <= a.turn_idx + 6
    AND CAST(FLOOR(epoch(b.ts)) AS BIGINT) - a.t0 <= 64800)
  AND (
    EXISTS (
      SELECT 1 FROM transcripts t2
      WHERE t2.conv_id = a.conv_id AND t2.turn_idx > a.turn_idx
        AND (t2.turn_idx - a.turn_idx >= 6
             OR CAST(FLOOR(epoch(t2.ts)) AS BIGINT) - a.t0 > 64800))
    OR (SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) - 600 FROM transcripts)
       > (SELECT MAX(CAST(FLOOR(epoch(t3.ts)) AS BIGINT))
          FROM transcripts t3 WHERE t3.conv_id = a.conv_id) + 64800
  )"""
    ),
    "cep_tool_retry_same": _t_sql(
        """
, seq AS (
  SELECT conv_id, turn_idx, role, tool,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0,
         lead(role, 1) OVER w AS role1,
         lead(role, 2) OVER w AS role2,
         lead(tool, 2) OVER w AS tool2,
         lead(CAST(FLOOR(epoch(ts)) AS BIGINT), 2) OVER w AS t2
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, turn_idx AS first_turn, tool2 AS tool, t2 - t0 AS span_s
FROM seq
WHERE role = 'tool' AND tool IS NOT NULL AND role1 = 'agent'
  AND role2 = 'tool' AND tool2 IS NOT NULL AND tool2 = tool
  AND t2 - t0 <= 64800"""
    ),
    # Kleene plus (A B+ C): consecutive NON-agent turns bracket each
    # agent run, so lag() over the non-agent rows + a running agent
    # count yields (start turn, run length, closing turn) without any
    # join or repeat cap — the oracle mirrors the engine's scan shape
    # because the semantics (unbounded runs) admit no lead-array form
    "cep_one_or_more": _t_sql(
        """
, s AS (
  SELECT conv_id, turn_idx, role, tool,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0,
         SUM(CASE WHEN role = 'agent' THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS UNBOUNDED PRECEDING) AS cb
  FROM transcripts
), nb AS (
  SELECT conv_id, turn_idx, tool, t0, cb,
         lag(role) OVER w AS u_role,
         lag(turn_idx) OVER w AS u_idx,
         lag(t0) OVER w AS u_t,
         lag(cb) OVER w AS u_cb
  FROM s WHERE role <> 'agent'
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, u_idx AS first_turn, CAST(cb - u_cb AS INT) AS n_reps,
       tool, t0 - u_t AS span_s
FROM nb
WHERE u_role = 'user' AND cb - u_cb >= 1 AND tool IS NOT NULL
  AND t0 - u_t <= 64800"""
    ),
    # Kleene star (A B* C): the plus oracle with the run-length
    # predicate relaxed to >= 0 — adjacent non-agent rows (empty run)
    # become admissible matches with n_reps = 0
    "cep_zero_or_more": _t_sql(
        """
, s AS (
  SELECT conv_id, turn_idx, role, tool,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0,
         SUM(CASE WHEN role = 'agent' THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS UNBOUNDED PRECEDING) AS cb
  FROM transcripts
), nb AS (
  SELECT conv_id, turn_idx, tool, t0, cb,
         lag(role) OVER w AS u_role,
         lag(turn_idx) OVER w AS u_idx,
         lag(t0) OVER w AS u_t,
         lag(cb) OVER w AS u_cb
  FROM s WHERE role <> 'agent'
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, u_idx AS first_turn, CAST(cb - u_cb AS INT) AS n_reps,
       tool, t0 - u_t AS span_s
FROM nb
WHERE u_role = 'user' AND cb - u_cb >= 0 AND tool IS NOT NULL
  AND t0 - u_t <= 64800"""
    ),
    # greedy optional step (A B? C): per start turn, the 3-turn form
    # if it matches, else the 2-turn form — decided by one CASE over
    # the same two leads the engine's window scan uses
    "cep_optional_step": _t_sql(
        """
, seq AS (
  SELECT conv_id, turn_idx, role,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0,
         lead(role, 1) OVER w AS role1,
         lead(tool, 1) OVER w AS tool1,
         lead(CAST(FLOOR(epoch(ts)) AS BIGINT), 1) OVER w AS t1,
         lead(tool, 2) OVER w AS tool2,
         lead(CAST(FLOOR(epoch(ts)) AS BIGINT), 2) OVER w AS t2
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), g AS (
  SELECT conv_id, turn_idx, tool1, tool2, t1 - t0 AS s1, t2 - t0 AS s2,
         (role = 'user' AND role1 = 'agent' AND tool2 IS NOT NULL
          AND t2 - t0 <= 64800) AS long_m,
         (role = 'user' AND tool1 IS NOT NULL AND t1 - t0 <= 64800) AS short_m
  FROM seq
)
SELECT conv_id, turn_idx AS first_turn,
       CASE WHEN long_m THEN tool2 ELSE tool1 END AS tool,
       CASE WHEN long_m THEN s2 ELSE s1 END AS span_s
FROM g WHERE long_m OR short_m"""
    ),
    # streaming greedy optional step: the batch greedy result plus the
    # append-mode CONFIRMABILITY contract for deferred shorts — a
    # short match resolves in-data when the next turn exists (t2 of
    # its start row is non-null), otherwise only at the timeout flush
    # once the final watermark (max event time − 600 s delay) passed
    # the conversation's last turn + span_s (strict >). Long matches
    # fire on arrival and need no clause.
    "stream_cep_optional": _t_sql(
        """
, seq AS (
  SELECT conv_id, turn_idx, role,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t0,
         lead(role, 1) OVER w AS role1,
         lead(tool, 1) OVER w AS tool1,
         lead(CAST(FLOOR(epoch(ts)) AS BIGINT), 1) OVER w AS t1,
         lead(tool, 2) OVER w AS tool2,
         lead(CAST(FLOOR(epoch(ts)) AS BIGINT), 2) OVER w AS t2
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), g AS (
  SELECT conv_id, turn_idx, tool1, tool2, t1 - t0 AS s1, t2 - t0 AS s2, t2,
         (role = 'user' AND role1 = 'agent' AND tool2 IS NOT NULL
          AND t2 - t0 <= 64800) AS long_m,
         (role = 'user' AND tool1 IS NOT NULL AND t1 - t0 <= 64800) AS short_m
  FROM seq
)
SELECT conv_id, turn_idx AS first_turn,
       CASE WHEN long_m THEN tool2 ELSE tool1 END AS tool,
       CASE WHEN long_m THEN s2 ELSE s1 END AS span_s
FROM g
WHERE (long_m OR short_m)
  AND (long_m OR t2 IS NOT NULL
       OR (SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) - 600 FROM transcripts)
          > (SELECT MAX(CAST(FLOOR(epoch(t3.ts)) AS BIGINT))
             FROM transcripts t3 WHERE t3.conv_id = g.conv_id) + 64800)"""
    ),
    "tpch_q12": """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL '60 days'
GROUP BY 1 ORDER BY 1""",
    "tpch_q19": """
SELECT CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)""",
    "tpch_q14": """
WITH j AS (
  SELECT CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT) AS cents, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
), s AS (
  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS BIGINT) AS promo_cents,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM j
)
SELECT promo_cents / 100.0 AS promo_revenue,
       total_cents / 100.0 AS total_revenue,
       CAST(promo_cents AS DOUBLE) * 100.0 / CAST(total_cents AS DOUBLE) AS promo_pct
FROM s""",
    "docs_bpe_tokens": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+', 0)) AS INT) AS n_bpe_tokens,
       round(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+', 0)) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS bpe_per_ws
FROM documents""",
    "emb_lsh_buckets": f"""
WITH {_LSH_BUCKETS_CTE}
SELECT vec_id, lsh_bucket FROM buckets""",
    "emb_lsh_pairs": f"""
WITH {_LSH_BUCKETS_CTE}, v AS (
  SELECT b.vec_id, b.lsh_bucket, e.embedding FROM buckets b JOIN embeddings e USING (vec_id)
), pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
  FROM v a JOIN v b ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id
)
SELECT ia, ib, cos FROM pairs WHERE cos >= 0.4""",
    "emb_near_dup_pairs": """
WITH p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT ia, ib, cos FROM p WHERE cos >= 0.4""",
    # recursive fixpoint k-means: the recursive arm references `assign`
    # exactly ONCE (packed into a scalar struct), re-derives centroids
    # from the packed assignment, and stops when no vector moves or
    # the cap is hit — mirroring the Spark loop's scalar-per-round
    # convergence check
    "emb_kmeans_converged": _KMEANS_ASSIGN_CTE + """
SELECT vec_id, c_id,
       CAST((SELECT max(iter) FROM assign) AS INT) AS n_rounds
FROM assign WHERE iter = (SELECT max(iter) FROM assign)""",
    "emb_ivf_trained_topk": _IVF_TRAINED_TOPK_SQL,
    "emb_ivf_probe2_topk": _IVF_TRAINED_PROBE2_SQL,
    "emb_kmeans_step": """
WITH cents AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
scored_c AS (
  SELECT e.vec_id, c.c_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.c_vec AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[])))), 6) AS sim
  FROM embeddings e JOIN cents c ON TRUE
),
assigned AS (
  SELECT vec_id, c_id FROM (
    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM scored_c
  ) WHERE rn = 1
),
vecs AS (
  SELECT a.c_id, e.embedding FROM assigned a JOIN embeddings e USING (vec_id)
),
dims AS (
  SELECT c_id,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM vecs
)
SELECT c_id, CAST(pos AS INT) AS pos,
       CAST(SUM(CAST(FLOOR(val * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean
FROM dims GROUP BY 1, 2""",
    "cube_event_stats": """
SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow, count(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY CUBE (event_type, CAST(dayofweek(ts) + 1 AS INT))""",
    # PQ/ADC: subspace distances via the dot-product identity with the
    # shared left-fold dot, quantized to 1e-6 BIGINTs BEFORE any sum —
    # integer ranking, no float-accumulation hazard
    "emb_pq_topk": """
WITH dm AS (SELECT CAST(len(embedding) // 16 AS INT) AS seg FROM embeddings LIMIT 1),
segs AS (SELECT unnest(generate_series(0, 15)) AS s),
cent_sub AS (
  SELECT e.vec_id AS c_id, g.s,
         list_slice(CAST(e.embedding AS DOUBLE[]), g.s*dm.seg+1, (g.s+1)*dm.seg) AS c_sub
  FROM embeddings e, segs g, dm WHERE e.vec_id < 32
),
corp AS (
  SELECT e.vec_id, g.s,
         list_slice(CAST(e.embedding AS DOUBLE[]), g.s*dm.seg+1, (g.s+1)*dm.seg) AS v_sub
  FROM embeddings e, segs g, dm
),
scored AS (
  SELECT c.vec_id, c.s, cs.c_id,
         CAST(FLOOR((list_dot_product(v_sub, v_sub) - 2*list_dot_product(v_sub, c_sub)
                     + list_dot_product(c_sub, c_sub)) * 1000000 + 0.5) AS BIGINT) AS dq
  FROM corp c JOIN cent_sub cs USING (s)
),
codes AS (
  SELECT vec_id, s, c_id AS code FROM (
    SELECT vec_id, s, c_id,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dq ASC, c_id ASC) AS rn
    FROM scored) WHERE rn = 1
),
dtable AS (
  SELECT q.vec_id AS q_id, q.s, cs.c_id AS code,
         CAST(FLOOR((list_dot_product(v_sub, v_sub) - 2*list_dot_product(v_sub, c_sub)
                     + list_dot_product(c_sub, c_sub)) * 1000000 + 0.5) AS BIGINT) AS dq
  FROM corp q JOIN cent_sub cs USING (s) WHERE q.vec_id < 20
),
adc AS (
  SELECT d.q_id, c.vec_id AS n_id, CAST(SUM(d.dq) AS BIGINT) AS adq
  FROM codes c JOIN dtable d ON c.s = d.s AND c.code = d.code AND c.vec_id != d.q_id
  GROUP BY 1, 2
)
SELECT q_id, n_id, CAST(adq AS DOUBLE)/1000000.0 AS adist, rank FROM (
  SELECT q_id, n_id, adq,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adq ASC, n_id ASC) AS INT) AS rank
  FROM adc) WHERE rank <= 3""",
    "emb_ivf_topk": """
WITH cents AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings WHERE vec_id < 8),
scored_c AS (
  SELECT e.vec_id, c.c_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.c_vec AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[])))), 6) AS sim
  FROM embeddings e JOIN cents c ON TRUE
),
assigned AS (
  SELECT vec_id, c_id FROM (
    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM scored_c
  ) WHERE rn = 1
),
vecs AS (
  SELECT a.vec_id, a.c_id, e.embedding FROM assigned a JOIN embeddings e USING (vec_id)
),
pairs AS (
  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])))), 6) AS sim
  FROM vecs q JOIN vecs n ON q.c_id = n.c_id AND q.vec_id < 20 AND n.vec_id != q.vec_id
)
SELECT q_id, n_id, sim, rank FROM (
  SELECT q_id, n_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rank
  FROM pairs
) WHERE rank <= 3""",
}


EXT_QUERIES: dict[str, Query] = {
    "asof_join_tool": Query(q_asof_join_tool, EXT_ORACLES["asof_join_tool"]),
    "running_turn_counts": Query(q_running_turn_counts, EXT_ORACLES["running_turn_counts"]),
    "turn_gaps": Query(q_turn_gaps, EXT_ORACLES["turn_gaps"]),
    "rollup_event_stats": Query(q_rollup_event_stats, EXT_ORACLES["rollup_event_stats"]),
    "conv_role_pivot": Query(q_conv_role_pivot, EXT_ORACLES["conv_role_pivot"]),
    "median_value_by_type": Query(q_median_value_by_type, EXT_ORACLES["median_value_by_type"]),
    "orders_with_late_lineitems": Query(
        q_orders_with_late_lineitems, EXT_ORACLES["orders_with_late_lineitems"]
    ),
    "customers_without_orders": Query(
        q_customers_without_orders, EXT_ORACLES["customers_without_orders"]
    ),
    "conv_first_last": Query(q_conv_first_last, EXT_ORACLES["conv_first_last"]),
    "term_frequency": Query(q_term_frequency, EXT_ORACLES["term_frequency"]),
    "multimodal_features": Query(q_multimodal_features, EXT_ORACLES["multimodal_features"]),
    "multimodal_resize": Query(q_multimodal_resize, EXT_ORACLES["multimodal_resize"]),
    "multimodal_frames": Query(q_multimodal_frames, EXT_ORACLES["multimodal_frames"]),
    "envelope_projection": Query(q_envelope_projection, EXT_ORACLES["envelope_projection"]),
    "users_click_and_error": Query(q_users_click_and_error, EXT_ORACLES["users_click_and_error"]),
    "event_value_percentiles": Query(
        q_event_value_percentiles, EXT_ORACLES["event_value_percentiles"]
    ),
    "envelope_variant": Query(
        q_envelope_variant,
        _t_sql(
            """
SELECT conv_id AS table_name, turn_idx AS seq, role, text
FROM transcripts WHERE role = 'agent'"""
        ),
        "Spark 4 VARIANT surface: parse_json + variant_get typed paths "
        "over the reference envelope, schema-on-read; gate proves "
        "variant extraction == typed columns",
    ),
    "pyds_feed_scan": Query(
        q_pyds_feed_scan, IDENTITY_SQL,
        "Spark 4 Python DataSource (C6 ingester micro-interface at the "
        "plugin level): one InputPartition per commit file, Arrow "
        "RecordBatch yields; identity oracle",
    ),
    "envelope_parse": Query(
        q_envelope_parse, EXT_ORACLES["envelope_parse"],
        "from_json round-trip of the reference envelope == plain projection",
    ),
    "pandas_udf_norm": Query(q_pandas_udf_norm, EXT_ORACLES["pandas_udf_norm"]),
    "conv_renumber": Query(q_conv_renumber, EXT_ORACLES["conv_renumber"]),
    "stream_tool_join": Query(
        q_stream_tool_join, EXT_ORACLES["stream_tool_join"],
        "REAL stream-stream watermarked interval join vs batch oracle",
    ),
    "stream_asof_join": Query(
        q_stream_asof_join, EXT_ORACLES["stream_asof_join"],
        "stream-stream AS-OF join: watermarked interval join chained "
        "into an event-time-windowed struct-max pick (two stateful "
        "operators, one plan); oracle encodes the append-mode "
        "finalization contract",
    ),
    "tpch_q4": Query(q_tpch_q4, EXT_ORACLES["tpch_q4"]),
    "tpch_q12": Query(q_tpch_q12, EXT_ORACLES["tpch_q12"]),
    "tpch_q19": Query(
        q_tpch_q19, EXT_ORACLES["tpch_q19"],
        "OR-of-ANDs predicate pushdown + broadcast join showcase",
    ),
    "cep_user_agent_tool": Query(
        q_cep_user_agent_tool, EXT_ORACLES["cep_user_agent_tool"],
        "CEP 3-step sequence pattern (user→agent→tool ≤18h) as a "
        "single window-function scan — linear at 10^12 turns",
    ),
    "stream_cep_pattern": Query(
        q_stream_cep_pattern, EXT_ORACLES["cep_user_agent_tool"],
        "STREAMING CEP via applyInPandasWithState (last-2-turns state, "
        "cursor-exactly-once, cross-batch triples) == batch window scan",
    ),
    "cep_tool_retry": Query(
        q_cep_tool_retry, EXT_ORACLES["cep_tool_retry"],
        "second CEP pattern (tool-error→agent→tool retry) — a pattern "
        "is Step-predicate CONFIG, not a bespoke operator",
    ),
    "stream_cep_retry": Query(
        q_stream_cep_retry, EXT_ORACLES["cep_tool_retry"],
        "the PARAMETERIZED streaming CEP operator running the retry "
        "pattern (TOOL_AGENT_TOOL) == its batch lead()-window twin",
    ),
    "cep_tool_retry_same": Query(
        q_cep_tool_retry_same, EXT_ORACLES["cep_tool_retry_same"],
        "CROSS-STEP value constraint: the retry must be the SAME tool "
        "(Step.tool_equals_step) — a pattern language, not a role filter",
    ),
    "tool_temporal_enrich": Query(
        q_tool_temporal_enrich, EXT_ORACLES["tool_temporal_enrich"],
        "TEMPORAL (point-in-time / SCD-2) join: each tool invocation "
        "picks the dimension version valid at its event time — "
        "broadcast range-predicated join, |tools|x3 dim",
    ),
    "stream_temporal_enrich": Query(
        q_stream_temporal_enrich, EXT_ORACLES["tool_temporal_enrich"],
        "streaming temporal join against the static versioned "
        "dimension (re-broadcast per micro-batch, no watermark "
        "needed) == the batch point-in-time join",
    ),
    "cep_alternation": Query(
        q_cep_alternation, EXT_ORACLES["cep_alternation"],
        "ALTERNATION (user -> (agent|tool) -> tool call, regex "
        "'(B|C)'): Step.role_in, batch twin = the lead() scan with an "
        "IN predicate",
    ),
    "stream_cep_alternation": Query(
        q_stream_cep_alternation, EXT_ORACLES["cep_alternation"],
        "streaming alternation through the unchanged Step machinery — "
        "role_in is config, == the batch IN-scan",
    ),
    "cep_followed_by": Query(
        q_cep_followed_by, EXT_ORACLES["cep_followed_by"],
        "NON-CONSECUTIVE pattern (skip-till-next-match): user FOLLOWED "
        "BY first tool call within 6 turns/18 h; lead-array windowed "
        "scan, no self-join",
    ),
    "stream_cep_followed_by": Query(
        q_stream_cep_followed_by, EXT_ORACLES["cep_followed_by"],
        "streaming skip-till-next-match: pending unmatched A-turns "
        "(O(n_turns) state) bridge batch boundaries == batch twin",
    ),
    "cep_one_or_more": Query(
        q_cep_one_or_more, EXT_ORACLES["cep_one_or_more"],
        "KLEENE PLUS (user -> agent+ -> tool, regex '+'): UNBOUNDED "
        "run length via running-count + lag over non-agent turns — "
        "one shuffle, no self-join, no repeat cap",
    ),
    "stream_cep_one_or_more": Query(
        q_stream_cep_one_or_more, EXT_ORACLES["cep_one_or_more"],
        "streaming possessive A B+ C: O(1) candidate state per "
        "conversation, emission purely in-data (no timeout "
        "dependence) == the batch running-count scan",
    ),
    "cep_zero_or_more": Query(
        q_cep_zero_or_more, EXT_ORACLES["cep_zero_or_more"],
        "KLEENE STAR (user -> agent* -> tool, regex '*'): the plus "
        "scan with empty runs admitted (n_reps = 0) — same one-"
        "shuffle running-count + lag form, no repeat cap",
    ),
    "stream_cep_zero_or_more": Query(
        q_stream_cep_zero_or_more, EXT_ORACLES["cep_zero_or_more"],
        "streaming possessive A B* C: the one_or_more state machine "
        "with min_reps=0, emission purely in-data == the batch star "
        "scan",
    ),
    "cep_optional_step": Query(
        q_cep_optional_step, EXT_ORACLES["cep_optional_step"],
        "GREEDY optional step (user -> agent? -> tool, regex '?'): "
        "long form preferred per start turn, one CASE over the same "
        "lead()-window scan — still a single linear pass",
    ),
    "stream_cep_optional": Query(
        q_stream_cep_optional, EXT_ORACLES["stream_cep_optional"],
        "streaming greedy optional step: short matches deferred one "
        "turn, resolved in-data or at the timeout flush; oracle "
        "encodes the watermark confirmability contract",
    ),
    "cep_not_followed_by": Query(
        q_cep_not_followed_by, EXT_ORACLES["cep_not_followed_by"],
        "NEGATION pattern (notFollowedBy): user turns with no tool "
        "call within 6 turns/18 h — the inverted lead-array scan",
    ),
    "stream_cep_not_followed_by": Query(
        q_stream_cep_not_followed_by,
        EXT_ORACLES["stream_cep_not_followed_by"],
        "streaming absence: emits on bound-crossing turns or at the "
        "event-time timeout flush; oracle encodes the watermark "
        "confirmability contract",
    ),
    "stream_tool_left_join": Query(
        q_stream_tool_left_join, EXT_ORACLES["stream_tool_left_join"],
        "LEFT OUTER stream-stream interval join — null rows exactly at "
        "watermark-proven no-match, oracle encodes the eviction contract",
    ),
    "stream_tool_full_join": Query(
        q_stream_tool_full_join, EXT_ORACLES["stream_tool_full_join"],
        "FULL OUTER stream-stream interval join — unmatched rows on "
        "BOTH sides exactly at watermark-proven eviction, oracle "
        "encodes the two-sided contract",
    ),
    "conv_gap_median_udaf": Query(
        q_conv_gap_median_udaf, EXT_ORACLES["conv_gap_median_udaf"],
        "GROUPED_AGG pandas UDAF (Arrow batch -> numpy median), exact",
    ),
    "role_transitions": Query(
        q_role_transitions, EXT_ORACLES["role_transitions"],
        "turn-taking transition matrix: window scan + partial agg",
    ),
    "tpch_q7": Query(
        q_tpch_q7, EXT_ORACLES["tpch_q7"],
        "two-sided nation dimension (broadcast twice) + exact cents",
    ),
    "tpch_q10": Query(q_tpch_q10, EXT_ORACLES["tpch_q10"]),
    "tpch_q14": Query(q_tpch_q14, EXT_ORACLES["tpch_q14"]),
    "tpch_q18": Query(q_tpch_q18, EXT_ORACLES["tpch_q18"]),
    "emb_near_dup_pairs": Query(
        q_emb_near_dup_pairs, EXT_ORACLES["emb_near_dup_pairs"],
        "VERIFIER-ONLY: O(n²) exact recall check for the LSH/IVF paths; "
        f"refuses > {NEAR_DUP_MAX_ROWS} rows unless force=True",
    ),
    "emb_ivf_topk": Query(q_emb_ivf_topk, EXT_ORACLES["emb_ivf_topk"]),
    "emb_pq_topk": Query(
        q_emb_pq_topk, EXT_ORACLES["emb_pq_topk"],
        "product-quantization ANN (ADC): per-subspace codebook codes + "
        "broadcast query distance table, exact-integer distance sums — "
        "the memory-compression path of the ANN family",
    ),
    "docs_bpe_tokens": Query(q_docs_bpe_tokens, EXT_ORACLES["docs_bpe_tokens"]),
    "emb_lsh_buckets": Query(q_emb_lsh_buckets, EXT_ORACLES["emb_lsh_buckets"]),
    "emb_lsh_pairs": Query(q_emb_lsh_pairs, EXT_ORACLES["emb_lsh_pairs"]),
    "emb_kmeans_step": Query(q_emb_kmeans_step, EXT_ORACLES["emb_kmeans_step"]),
    "emb_kmeans_converged": Query(
        q_emb_kmeans_converged, EXT_ORACLES["emb_kmeans_converged"],
        "iterative k-means to a bounded fixpoint; scalar-only driver "
        "reads; oracle = DuckDB recursive CTE with packed-state steps",
    ),
    "turn_segments_udtf": Query(
        q_turn_segments_udtf, _t_sql(_SEGMENTS_SQL_BODY),
        "Python UDTF through LATERAL: 1-row->n-rows segmentation with "
        "multi-column yield; surface certification, JVM split is the "
        "hot path",
    ),
    "tool_reach": Query(
        q_tool_reach, _reach_sql(),
        "bounded transitive closure (min-hops <= 4) via Spark 4 WITH "
        "RECURSIVE — ONE shared SQL text executed on both engines",
    ),
    "tool_triangles": Query(
        q_tool_triangles, _t_sql(_TRIANGLES_SQL_BODY),
        "triangle counting over the undirected tool-transition graph: "
        "canonical a<b<c orientation, node-iterator join counts each "
        "triangle once; per-tool membership zero-filled over nodes",
    ),
    "tool_pagerank": Query(
        q_tool_pagerank, _pagerank_sql(),
        "fixed-point-integer PageRank over the weighted tool-"
        "transition graph (4 rounds, floored divisions, no float-sum "
        "order hazard); oracle = recursive CTE with the packed rank "
        "list",
    ),
    "emb_ivf_trained_topk": Query(
        q_emb_ivf_trained_topk, EXT_ORACLES["emb_ivf_trained_topk"],
        "k-means fixpoint centroids feeding the IVF cell-restricted "
        "top-k — the production ANN shape; oracle extends the "
        "recursive-CTE kmeans with trained means + cell search",
    ),
    "emb_ivf_probe2_topk": Query(
        q_emb_ivf_probe2_topk, EXT_ORACLES["emb_ivf_probe2_topk"],
        "MULTI-PROBE trained IVF (nprobe=2, the ANN recall knob): "
        "2 nearest cells per query, disjoint candidates, corpus side "
        "never reshuffled; built r5, r6 gate window (COVERAGE.md)",
    ),
    "emb_ivfpq_topk": Query(
        q_emb_ivfpq_topk, _IVFPQ_TOPK_SQL,
        "IVF-PQ (IVFADC): trained cells supply candidates, PQ ADC "
        "supplies scoring — cell id rides the code build map-side, "
        "the only search exchange is the (q_id, n_id) integer sum; "
        "built r5, r6 gate window (COVERAGE.md)",
    ),
    "cube_event_stats": Query(q_cube_event_stats, EXT_ORACLES["cube_event_stats"]),
    "tool_correlation_salted": Query(
        q_tool_correlation_salted,
        _t_sql(
            """
SELECT a.conv_id AS conv_id, a.turn_idx AS agent_turn,
       t.turn_idx AS tool_turn, t.tool AS tool
FROM transcripts a
JOIN transcripts t
  ON a.conv_id = t.conv_id AND a.role = 'agent' AND t.tool IS NOT NULL
 AND t.ts >= a.ts - INTERVAL '600 seconds'
 AND t.ts <= a.ts + INTERVAL '600 seconds'"""
        ),
        "salted interval join == plain interval join output",
    ),
    "stream_dedup_watermark": Query(
        q_stream_dedup_watermark,
        IDENTITY_SQL,
        "dropDuplicatesWithinWatermark over replayed feed == identity",
    ),
}
