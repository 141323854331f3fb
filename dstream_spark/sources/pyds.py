"""Spark 4 Python DataSource: the reference's ingester micro-interface
certified at the PLUGIN-API level.

The reference defines ingesters as out-of-process plugins speaking a
micro-interface (SURVEY.md §2 C6; the engine's source registry is the
config-level analog). Spark 4 added the same extension point INSIDE
the engine: `pyspark.sql.datasource.DataSource`, a user-provided
source that plugs into `spark.read.format(...)` with its own schema,
partition planning, and per-partition reader — so a provider can be
written in pure Python and still get distributed, partitioned scans.

`FeedDataSource` reads the engine's ordered change-feed directory
(the `batch_*.parquet` commit files `land_file` lands,
fixtures/transcripts.py): one InputPartition PER COMMIT FILE — partition
planning mirrors the feed's commit structure, so a 10^5-file feed
fans out to 10^5 tasks with no driver-side row handling — and each
task yields pyarrow RecordBatches (the Arrow fast path; never
per-row Python object conversion).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

FEED_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp_ntz, _change_type string, _commit_version bigint"
)
_COLS = [c.split()[0] for c in FEED_SCHEMA_DDL.split(", ")]


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _FeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]

    def partitions(self):
        import glob
        import os

        files = sorted(glob.glob(os.path.join(self.path, "batch_*.parquet")))
        if not files:
            raise FileNotFoundError(f"no commit files under {self.path}")
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        f = pq.ParquetFile(partition.path)
        for batch in f.iter_batches():
            # project to the declared column order; the Arrow types
            # (int32, timestamp[us] no-tz) line up with the DDL
            yield batch.select(_COLS)


class _FeedStreamReader(DataSourceStreamReader):
    """The STREAMING form — the reference ingester's actual shape: a
    source plugin with CHECKPOINTED OFFSETS. The offset is the count
    of commit files consumed ({"index": n}, the LSN-position analog);
    Spark persists it in the checkpoint through its offset log, so a
    restarted query resumes at the committed index with no loss and
    no re-read — the plugin supplies positions, the engine supplies
    durability (exactly the reference's cdc_offsets split,
    docs/capability-inventory.md:179-183). Each micro-batch's
    partitions are the files in [start, end) — one task per commit
    file, same as the batch reader."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def _files(self):
        import glob
        import os

        return sorted(glob.glob(os.path.join(self.path, "batch_*.parquet")))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        return {"index": len(self._files())}

    def partitions(self, start: dict, end: dict):
        files = self._files()[start["index"] : end["index"]]
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        f = pq.ParquetFile(partition.path)
        for batch in f.iter_batches():
            yield batch.select(_COLS)

    def commit(self, end: dict) -> None:
        pass  # positions are durable in Spark's offset log

    def stop(self) -> None:
        pass


class FeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "dstream_feed"

    def schema(self) -> str:
        return FEED_SCHEMA_DDL

    def reader(self, schema) -> _FeedReader:
        return _FeedReader(self.options)

    def streamReader(self, schema) -> _FeedStreamReader:
        return _FeedStreamReader(self.options)
