"""Source registry — the input-provider analog (SURVEY.md §2.1).

The reference resolves input providers by path/OCI ref and speaks JSON
lines over a pipe (pkg/executor/providers.go:114-124, 407-439); ours
maps source names → readStream builders over Spark-native sources:

- ``changefeed``: parquet-file micro-batches of transcript change
  events (the sandbox stand-in for an Iceberg change feed; one file =
  one commit, maxFilesPerTrigger = the dynamic batch-sizing knob,
  docs/capability-inventory.md:136 S4). With Iceberg jars present,
  swap for ``spark.readStream.format("iceberg")``.

  Schema drift mid-stream (the reference's late-bound FieldSchema,
  proto/plugin.proto:13-19) is DELIBERATE, pinned by
  tests/test_schema_evolution.py: a column added upstream is projected
  away; a column dropped upstream null-fills; an incompatible type
  change fails the micro-batch loudly. The pinned schema is the
  contract — downstream shape never drifts silently.
- ``rate``: the counter test source (readme.md:44-49 S5).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dstream_spark.fixtures.transcripts import CHANGEFEED_SCHEMA


def changefeed(spark: SparkSession, conf: dict) -> DataFrame:
    return (
        spark.readStream.schema(conf.get("schema", CHANGEFEED_SCHEMA))
        .option("maxFilesPerTrigger", str(conf.get("max_files_per_trigger", 1)))
        .parquet(conf["path"])
    )


def rate(spark: SparkSession, conf: dict) -> DataFrame:
    """Counter source: {value, timestamp} at rows_per_second."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(conf.get("rows_per_second", 10)))
        .option("numPartitions", str(conf.get("num_partitions", 1)))
        .load()
    )


SOURCES: dict[str, Callable[[SparkSession, dict], DataFrame]] = {
    "changefeed": changefeed,
    "rate": rate,
}


def get_source(name: str) -> Callable[[SparkSession, dict], DataFrame]:
    if name not in SOURCES:
        raise KeyError(f"unknown source {name!r}; available: {sorted(SOURCES)}")
    return SOURCES[name]
