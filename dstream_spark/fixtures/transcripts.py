"""Deterministic conversation-transcript fixtures.

Two sources of transcripts, both with the authoritative schema from
BASELINE.json input_hint:

    (conv_id string, turn_idx int, role string, text string,
     tool string nullable, ts timestamp)

1. ``transcripts_from_events`` — a pure deterministic derivation from
   the driver's ``events`` table. The SAME SQL text (``TRANSCRIPTS_CTE``)
   runs on Spark and DuckDB, so every transcript operator gets an exact
   DuckDB oracle. conv_id ← user_id (the per-table monitor analog,
   reference docs/capability-inventory.md:132), turn_idx ← row_number
   over the unique event_id (the CDC (LSN, seqval) order analog,
   docs/capability-inventory.md:133).

2. ``generate_transcripts`` — a seeded numpy generator for streaming
   tests: zipf-skewed hot conversations, out-of-order/late events, and
   duplicated (conv_id, turn_idx) rows across micro-batches (the
   reference's replay-after-crash scenario,
   docs/plugins/mssql-ingester.md:84-87). ``write_changefeed_batches``
   lands them through ``land_file``, the one feed writer: one numbered
   parquet file per micro-batch, which a file-source readStream
   replays in order — the sandbox stand-in for an Iceberg change feed.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        # NTZ: wall-clock semantics independent of the session timezone
        # (the driver's SparkSession may not pin UTC; the parquet test
        # tables are NTZ; DuckDB timestamps are naive)
        T.StructField("ts", T.TimestampNTZType()),
    ]
)

# CDC metadata columns carried by the change feed (reference
# docs/capability-inventory.md:157-174: OperationType / LSN analogs).
CHANGEFEED_SCHEMA = T.StructType(
    list(TRANSCRIPT_SCHEMA.fields)
    + [
        T.StructField("_change_type", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
    ]
)

# Shared Spark/DuckDB SQL. Only portable constructs: CAST AS STRING
# (DuckDB aliases STRING→VARCHAR), ||, ROW_NUMBER, FLOOR. ROW_NUMBER is
# deterministic because event_id is unique.
TRANSCRIPTS_CTE = """
transcripts AS (
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
         CASE WHEN event_type IN ('click','view') THEN 'user'
              WHEN event_type IN ('purchase','signup') THEN 'agent'
              ELSE 'tool' END AS role,
         event_type || ' ' || CAST(value AS STRING) || ' ' || props AS text,
         CASE WHEN event_type = 'error'
              THEN 'tool_' || CAST(CAST(FLOOR(value) AS BIGINT) % 5 AS STRING)
         END AS tool,
         ts
  FROM events
)
""".strip()


# Spark-side variant of the SAME derivation: row_number partitions by
# the conv_id EXPRESSION ('c' || user_id) instead of user_id. The map
# user_id -> 'c' || CAST(user_id AS STRING) is injective (and NULL maps
# to NULL on both engines), so the window groups — and therefore every
# turn_idx — are identical; only the physical partitioning key changes.
# Why (r6, guide §2.4 "remove shuffles outright"): the derivation costs
# exactly one exchange, and every downstream transcript operator is
# keyed on conv_id (sessionize/lineage groupBy, tumbling's
# (window, conv_id) groupBy, apply_changes' (conv_id, turn_idx) window,
# dropDuplicates, the conv_id interval self-join). Spark's alias-aware
# output partitioning propagates hashpartitioning(conv_id) through the
# projection, and a HashPartitioning that is a SUBSET of the required
# clustering satisfies it — so all of those reuse this one exchange
# instead of inserting a second full shuffle of the table. The oracle
# keeps the original CTE text (frozen); results are bit-identical
# (hash-verified across the whole transcript family).
# conv_id is hoisted into a base projection so PARTITION BY references
# the ATTRIBUTE (partitioning survives as hashpartitioning(conv_id));
# partitioning by the raw expression would make the planner key the
# exchange on a synthetic _w0 column that the final projection drops,
# losing the reuse.
TRANSCRIPTS_CTE_SPARK = """
base AS (
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id, event_id, event_type, value, props, ts
  FROM events
),
transcripts AS (
  SELECT conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY event_id) AS INT) AS turn_idx,
         CASE WHEN event_type IN ('click','view') THEN 'user'
              WHEN event_type IN ('purchase','signup') THEN 'agent'
              ELSE 'tool' END AS role,
         event_type || ' ' || CAST(value AS STRING) || ' ' || props AS text,
         CASE WHEN event_type = 'error'
              THEN 'tool_' || CAST(CAST(FLOOR(value) AS BIGINT) % 5 AS STRING)
         END AS tool,
         ts
  FROM base
)
""".strip()


def register_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...]) -> None:
    """Register the driver parquet tables as temp views (idempotent)."""
    for t in tables:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).createOrReplaceTempView(t)


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcript table derived from the driver's events table."""
    register_tables(spark, sf_dir, ("events",))
    return spark.sql(f"WITH {TRANSCRIPTS_CTE_SPARK} SELECT * FROM transcripts")


def generate_transcripts(
    n_convs: int = 50,
    turns_per_conv: int = 40,
    hot_conv_factor: int = 0,
    dup_fraction: float = 0.0,
    late_fraction: float = 0.0,
    seed: int = 42,
    start_ts: str = "2024-03-01 00:00:00",
    turn_gap_s: float = 30.0,
    session_gap_every: int = 0,
    session_gap_s: float = 3600.0,
) -> pd.DataFrame:
    """Seeded synthetic transcripts as a pandas DataFrame.

    ``hot_conv_factor``: conv c0 gets factor× the turns (zipf-skew
    stand-in for the salting test). ``dup_fraction``: fraction of rows
    re-emitted verbatim (replay). ``late_fraction``: fraction of rows
    whose ts is pushed far behind the max (watermark-drop candidates).
    ``session_gap_every``: insert a ``session_gap_s`` silence every k
    turns (session-window boundaries).
    """
    rng = np.random.default_rng(seed)
    base = pd.Timestamp(start_ts)
    rows: list[tuple] = []
    roles = ["user", "agent", "tool"]
    for c in range(n_convs):
        n_turns = turns_per_conv * (hot_conv_factor if (c == 0 and hot_conv_factor) else 1)
        t = base + pd.Timedelta(seconds=float(rng.integers(0, 600)))
        for i in range(n_turns):
            role = roles[int(rng.integers(0, 3))]
            tool = f"tool_{int(rng.integers(0, 5))}" if role == "tool" else None
            gap = turn_gap_s * (0.5 + float(rng.random()))
            if session_gap_every and i > 0 and i % session_gap_every == 0:
                gap += session_gap_s
            t = t + pd.Timedelta(seconds=gap)
            rows.append((f"c{c}", i, role, f"turn {i} of c{c}: {role} says {int(rng.integers(0, 10**6))}", tool, t))
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # Spark timestamps are whole microseconds: a finer ts fails Arrow's
    # safe cast and sends every feed write down the non-Arrow path
    df["ts"] = df["ts"].dt.floor("us")

    if late_fraction > 0:
        k = max(1, int(len(df) * late_fraction))
        idx = rng.choice(len(df), size=k, replace=False)
        df.loc[idx, "ts"] = df["ts"].min() - pd.Timedelta(hours=2)
    if dup_fraction > 0:
        k = max(1, int(len(df) * dup_fraction))
        idx = rng.choice(len(df), size=k, replace=False)
        df = pd.concat([df, df.iloc[idx]], ignore_index=True)
    # interleave conversations in event-time order with dups shuffled in
    df = df.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    return df


def land_file(df: DataFrame, out_dir: str, b: int) -> None:
    """Land ``df`` as the one change-feed file ``batch_<b>.parquet``
    (b zero-padded to 5 digits) with mtime ``1_700_000_000 + 10*b``.
    The file source replays files oldest-mtime-first, so batch order is
    replay order whatever order the files were written in. The write
    goes to a hidden tmp dir (the file source skips ``.``-prefixed
    names) and the finished file is renamed in with its mtime already
    set; a zero-row ``df`` still lands as one file."""
    tmp = os.path.join(out_dir, f".tmp_{uuid.uuid4().hex[:8]}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = os.path.join(tmp, next(f for f in os.listdir(tmp) if f.endswith(".parquet")))
    mtime = 1_700_000_000 + 10 * b
    os.utime(src, (mtime, mtime))
    os.rename(src, os.path.join(out_dir, f"batch_{b:05d}.parquet"))
    shutil.rmtree(tmp)


def write_changefeed_batches(
    spark: SparkSession,
    pdf: pd.DataFrame,
    out_dir: str,
    n_batches: int = 4,
    start: int = 0,
) -> None:
    """Land the transcript rows in ``n_batches`` contiguous chunks as
    change-feed batches ``start, start+1, ...`` through ``land_file``,
    so ``readStream.parquet(out_dir)`` replays them in that order.
    Adds the CDC metadata columns (_change_type insert,
    _commit_version = batch number — the LSN analog)."""
    for b, idx in enumerate(np.array_split(np.arange(len(pdf)), n_batches), start):
        part = pdf.iloc[idx].assign(_change_type="insert", _commit_version=np.int64(b))
        land_file(spark.createDataFrame(part, schema=CHANGEFEED_SCHEMA), out_dir, b)
