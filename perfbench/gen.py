"""Seeded input generators. The program under test only reads what
these write; nothing here imports engine code, so a change to the
engine cannot change the inputs.

- ``make_dataset``: the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the column types,
  value ranges and row counts per scale factor of the repository's
  sf0.001/sf0.01/sf0.1 test data (numpy + pyarrow, no Spark).
- ``make_feed``: the replicated, time-sliced change feed. Its Spark
  plan is a copy of ``bench_pipeline.build_feed``'s (transcript
  derivation, per-replica conv_id salt, compact CDC time remap, 10%
  in-slice duplicate sample, one file per time slice), so at the same
  events table and sample seed it holds exactly build_feed's rows.
- ``make_trickle``: the same feed rows cut into many small time-ordered
  files for the open-loop workload.

Every output is cached under its directory by (seed, shape): a
``_meta.json`` written last marks a complete cache entry.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# rows per unit of scale factor (TPC-H ratios; events/docs/embeddings
# as in the test data, with its 500-row floor for the latter two)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _done(out_dir: str) -> dict | None:
    try:
        with open(os.path.join(out_dir, "_meta.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _finish(out_dir: str, meta: dict) -> dict:
    with open(os.path.join(out_dir, "_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, n_words)]
    # 5% near-duplicates: a copy of another document plus one token
    for d in rng.choice(n, n // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def dataset_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All tables of one scale factor, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = {k: int(v * sf) for k, v in ROWS_PER_SF.items()}
    n["documents"] = max(500, n["documents"])
    n["embeddings"] = max(500, n["embeddings"])
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS, pa.string()),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = {
        "p_partkey": keys,
        "p_name": pa.array(
            [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))], pa.string()
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": _pick(rng, P_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", 2405, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    }
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
    }
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    }
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }
    return {name: pa.table(cols) for name, cols in t.items()}


def make_dataset(out_dir: str, sf: float, seed: int) -> dict:
    """Write every table as ``<out_dir>/<table>.parquet``; returns
    {table: rows}. Cached."""
    meta = _done(out_dir)
    if meta is not None:
        return meta["rows"]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rows = {}
    for name, table in dataset_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return _finish(out_dir, {"sf": sf, "seed": seed, "rows": rows})["rows"]


# The transcript derivation of the stream feed (the same SQL the
# engine's fixture uses, kept here so the feed cannot drift with it).
TRANSCRIPTS_SQL = """
WITH base AS (
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id, event_id, event_type, value, props, ts
  FROM {view}
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
SELECT * FROM transcripts
"""


def feed_frame(spark, sf_dir: str, replicas: int, dup_seed: int, dup_fraction: float = 0.1):
    """The replicated feed with its duplicate sample, before slicing."""
    from pyspark.sql import functions as F

    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView("events")
    t = spark.sql(TRANSCRIPTS_SQL.format(view="events"))
    reps = spark.range(replicas).select(F.col("id").alias("_rep"))
    feed = (
        t.crossJoin(reps)
        .withColumn("conv_id", F.concat_ws("#", "conv_id", F.col("_rep").cast("string")))
        .drop("_rep")
    )
    # compact conversations (one turn per 30 s) starting uniformly over
    # two days: quasi-ordered, so the dedup watermark evicts state
    span_s = 2 * 86400
    feed = feed.withColumn(
        "ts",
        F.lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + F.make_interval(
            secs=(F.pmod(F.xxhash64("conv_id"), F.lit(span_s)) + F.col("turn_idx") * 30).cast("double")
        ),
    )
    return feed.unionAll(feed.sample(fraction=dup_fraction, seed=dup_seed))


def make_feed(spark, sf_dir: str, out_dir: str, replicas: int, n_slices: int, dup_seed: int) -> dict:
    """One parquet file per time slice, slice order = file mtime order
    (the file source's arrival order). Returns {events, files}. Cached."""
    from pyspark.sql import functions as F

    meta = _done(out_dir)
    if meta is not None:
        return meta
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    feed = feed_frame(spark, sf_dir, replicas, dup_seed)
    bounds = feed.agg(
        F.min("ts").cast("timestamp").cast("long").alias("lo"),
        F.max("ts").cast("timestamp").cast("long").alias("hi"),
    ).first()
    span = max(1, bounds.hi - bounds.lo + 1)
    sec = F.col("ts").cast("timestamp").cast("long")
    feed = (
        feed.withColumn(
            "_slice",
            F.least(F.lit(n_slices - 1), ((sec - F.lit(bounds.lo)) * n_slices / span).cast("int")),
        )
        .withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_version", F.col("_slice").cast("long"))
    )
    staging = out_dir + ".staging"
    feed.repartition(n_slices, "_slice").write.mode("overwrite").partitionBy("_slice").parquet(staging)
    files = []
    t0 = 1_700_000_000
    for s in range(n_slices):
        d = os.path.join(staging, f"_slice={s}")
        if not os.path.isdir(d):
            continue
        for j, fname in enumerate(sorted(f for f in os.listdir(d) if f.endswith(".parquet"))):
            dst = os.path.join(out_dir, f"slice_{s:04d}_{j:03d}.parquet")
            os.rename(os.path.join(d, fname), dst)
            os.utime(dst, (t0 + s * 10, t0 + s * 10))
            files.append(os.path.basename(dst))
    shutil.rmtree(staging)
    events = sum(pq.read_metadata(os.path.join(out_dir, f)).num_rows for f in files)
    return _finish(out_dir, {"events": events, "files": files})


def cut_points(ts: np.ndarray, n_files: int) -> list[int]:
    """Row offsets that split time-sorted ``ts`` into ``n_files`` runs
    of about equal size, never between two rows with the same ts (a
    duplicate and its original always land in the same file)."""
    cuts = [0]
    for k in range(1, n_files):
        i = max(cuts[-1], len(ts) * k // n_files)
        while 0 < i < len(ts) and ts[i] == ts[i - 1]:
            i += 1
        if i < len(ts) and i > cuts[-1]:
            cuts.append(i)
    return cuts + [len(ts)]


def make_trickle(spark, sf_dir: str, out_dir: str, n_files: int, dup_seed: int) -> dict:
    """The one-replica feed cut into ``n_files`` small time-ordered
    files ``part_<i>.parquet``. Returns {events, files: [rows...]}."""
    from pyspark.sql import functions as F

    meta = _done(out_dir)
    if meta is not None:
        return meta
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    feed = feed_frame(spark, sf_dir, 1, dup_seed).withColumns(
        {"_change_type": F.lit("insert"), "_commit_version": F.lit(0).cast("long")}
    )
    table = feed.toArrow()
    order = [("ts", "ascending"), ("conv_id", "ascending"), ("turn_idx", "ascending")]
    table = table.take(pc.sort_indices(table, order))
    cuts = cut_points(table.column("ts").to_numpy(), n_files)
    rows = []
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        version = pa.array(np.full(b - a, i, dtype=np.int64))
        part = table.slice(a, b - a)
        part = part.set_column(part.schema.get_field_index("_commit_version"), "_commit_version", version)
        pq.write_table(part, os.path.join(out_dir, f"part_{i:05d}.parquet"))
        rows.append(b - a)
    return _finish(out_dir, {"events": int(sum(rows)), "files": rows})
