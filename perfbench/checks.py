"""Output checks. Each compares the program's output with a reference
that does not go through engine code: Spark's built-in batch operators
over the generated input, or row counts and hashes computed once from
the DuckDB oracles (``expected.json``, see ``make_expected.py``)."""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEDUP_COLS = ("conv_id", "turn_idx", "text")
WINDOW_COLS = ("w_start", "conv_id", "n_turns")


def fingerprint(df: DataFrame, cols) -> tuple[int, str]:
    """Order-insensitive (row count, hash) of ``cols``; timestamps are
    compared as UTC wall-clock strings so TIMESTAMP and TIMESTAMP_NTZ
    columns of the same instant agree."""
    proj = [F.col(c).cast("string") if c == "w_start" else F.col(c) for c in cols]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*proj).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row.n), str(row.h)


def committed_data(spark: SparkSession, table_dir: str) -> DataFrame:
    """Rows of every epoch that has a commit marker. The rename
    protocol lays out ``data/batch_id=N`` and, as the commit point,
    ``_lineage/batch_id=N``; any other entry under ``data`` is an
    uncommitted attempt and fails the check."""
    data = os.path.join(table_dir, "data")
    lineage = os.path.join(table_dir, "_lineage")
    entries = os.listdir(data)
    stray = [e for e in entries if not re.fullmatch(r"batch_id=\d+", e)]
    if stray:
        raise AssertionError(f"uncommitted entries in {data}: {stray[:3]}")
    committed = set(os.listdir(lineage))
    paths = [os.path.join(data, e) for e in sorted(entries) if e in committed]
    if not paths:
        raise AssertionError(f"no committed epoch in {table_dir}")
    return spark.read.parquet(*paths)


def dedup_reference(feed: DataFrame) -> tuple[int, str]:
    return fingerprint(feed.dropDuplicates(["conv_id", "turn_idx"]), DEDUP_COLS)


def dedup_actual(spark: SparkSession, table_dir: str) -> tuple[int, str]:
    return fingerprint(committed_data(spark, table_dir), DEDUP_COLS)


def window_reference(feed: DataFrame) -> tuple[int, str]:
    agg = feed.groupBy(F.window("ts", "1 hour").alias("w"), "conv_id").count()
    return fingerprint(
        agg.select(F.col("w.start").alias("w_start"), "conv_id", F.col("count").alias("n_turns")),
        WINDOW_COLS,
    )


def window_actual(spark: SparkSession, table_dir: str) -> tuple[int, str]:
    """Update mode writes one row per key and epoch; the latest epoch's
    count is the key's final value."""
    latest = committed_data(spark, table_dir).groupBy("w_start", "conv_id").agg(
        F.max_by("n_turns", "_v").alias("n_turns")
    )
    return fingerprint(latest, WINDOW_COLS)


# -- batch queries: the value hash of the DuckDB-oracle convention ----


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".") or "0"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def hash_rows(cols: list[str], rows) -> str:
    """Row-order- and column-order-insensitive hash of ``rows``
    (sequences aligned with ``cols``)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def arrow_fingerprint(table) -> tuple[int, str]:
    cols = table.column_names
    rows = zip(*(table.column(c).to_pylist() for c in cols)) if cols else []
    return table.num_rows, hash_rows(cols, list(rows))
