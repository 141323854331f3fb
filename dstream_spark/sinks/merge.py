"""Exactly-once idempotent MERGE sink with per-partition lineage.

Upgrades the reference's at-least-once publish-then-advance contract
(docs/plugins/mssql-ingester.md:72,84-87 — "exactly-once requires
downstream idempotency") to exactly-once, using Spark's epoch model
plus one rename commit protocol:

1. foreachBatch gives (batch_df, batch_id); batch_id is stable across
   replays of the same epoch.
2. If this batch_id already has a committed ``_lineage/batch_id=N``
   dir → replay → skip entirely (idempotent).
3. Batch rows are written as delivered: hash-partitioned on conv_id
   and sorted within partitions by (conv_id, turn_idx) — one exchange,
   one Spark job per epoch, no dedup. This is the ordered-delivery
   contract (reference relay order, pkg/executor/providers.go:234-261)
   restated for a parallel engine: stable order WITHIN each
   conversation. Keys are deduped once upstream (the stream's state
   store, like the reference ingester's (LSN, seqval) key) and
   resolved on read; a raw epoch holds a repeated key or a superseded
   version exactly when its input does.
4. Data files are staged first. The per-partition lineage
   (partition_id, max_conv_id, max_turn_idx, n_rows, updated_at,
   batch_id — the cdc_offsets shape,
   docs/capability-inventory.md:179-183) is then built on the driver
   from the staged files' names, footers and key columns, and is
   committed LAST: readers only see batches whose lineage dir is in
   place, so a crash before that rename leaves invisible orphans, not
   dups.

HOW a finished batch becomes visible is ``RenameCommitProtocol``:
data and lineage are staged to tmp dirs and atomically renamed into
place; the lineage-dir rename is the commit point. A second publish of
an already-committed epoch (a split-brain replay past the
committed_batches() check) discards its staged dirs and leaves the
committed epoch untouched; a write that raises removes its staged
dirs before the error propagates. It depends on atomic directory rename and
local ``os`` calls, so it is POSIX-only: an object store would need a
put-if-absent commit marker instead (the Iceberg snapshot-pointer
design).

This is merge-on-read: appends + read-side latest-version resolution
(apply_changes), the same strategy as Iceberg MoR MERGE. On a real
cluster with Iceberg jars, swap process_batch for a single
``MERGE INTO tgt USING batch ON tgt.conv_id=s.conv_id AND
tgt.turn_idx=s.turn_idx`` — the protocol (skip-committed-batch,
sort-within-partition, lineage in the same transaction) is unchanged.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import uuid
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from dstream_spark.operators.cdc import apply_changes

# lineage updated_at = this epoch + batch_id: deterministic, so a
# replayed epoch produces byte-identical lineage (current_timestamp
# would differ across replays of the same batch)
LINEAGE_TS0 = 1_700_000_000
# Spark names a written file part-<task id>-<job uuid>…; the task id
# is the partition id of the frame being written
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@contextlib.contextmanager
def _staged(*tmp_dirs: str):
    """Remove the staged dirs when a write into them raises: the replay
    stages under fresh names, so nothing else would ever delete them."""
    try:
        yield
    except BaseException:
        for d in tmp_dirs:
            shutil.rmtree(d, ignore_errors=True)
        raise


class RenameCommitProtocol:
    """Local-FS commit: stage to tmp dirs, atomic directory rename into
    place; the lineage dir's rename is the commit marker (it lands
    LAST). Correct only where directory rename is atomic."""

    def __init__(self, table_dir: str):
        self.data_dir = os.path.join(table_dir, "data")
        self.lineage_dir = os.path.join(table_dir, "_lineage")

    def init(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.lineage_dir, exist_ok=True)

    def committed_batches(self) -> set[int]:
        if not os.path.isdir(self.lineage_dir):
            return set()
        return {
            int(d.split("=", 1)[1])
            for d in os.listdir(self.lineage_dir)
            if d.startswith("batch_id=") and d.split("=", 1)[1].isdigit()
        }

    def publish(self, batch_id: int, write_data, write_lineage) -> None:
        data_path = os.path.join(self.data_dir, f"batch_id={batch_id}")
        lineage_path = os.path.join(self.lineage_dir, f"batch_id={batch_id}")
        tmp_data = data_path + f".tmp-{uuid.uuid4().hex[:8]}"
        tmp_lin = lineage_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with _staged(tmp_data, tmp_lin):
            write_data(tmp_data)
            write_lineage(tmp_lin)
        if os.path.exists(lineage_path):
            # another writer committed this epoch first: keep its data
            shutil.rmtree(tmp_data, ignore_errors=True)
            shutil.rmtree(tmp_lin, ignore_errors=True)
            return
        # two renames; marker (lineage) rename LAST = the commit point
        if os.path.exists(data_path):
            shutil.rmtree(data_path)
        os.rename(tmp_data, data_path)
        os.rename(tmp_lin, lineage_path)

    def data_read(self, spark: SparkSession, batch_ids: set[int]) -> DataFrame:
        """Committed data paths. A marker whose data dir is mid-swap
        (compact crashed between the aside rename and the snapshot
        rename) resolves to its ``.old`` aside — a marker therefore
        never points at nothing. mergeSchema unions the footer schemas
        across epochs (merge-on-read SCHEMA EVOLUTION, the
        Iceberg/Delta norm): a column added in a later epoch reads as
        NULL on earlier rows, a column dropped later reads as NULL on
        later rows — without it Spark pins one arbitrary footer's
        schema and silently drops drifted columns."""
        paths = []
        for b in sorted(batch_ids):
            p = os.path.join(self.data_dir, f"batch_id={b}")
            paths.append(p if os.path.exists(p) else p + ".old")
        return (
            spark.read.option("basePath", self.data_dir)
            .option("mergeSchema", "true")
            .parquet(*paths)
        )

    def lineage_read(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.lineage_dir).parquet(self.lineage_dir)

    def swap_base(self, base_id: int, retire_ids, write_data, write_lineage) -> None:
        """Replace base_id's contents with a new snapshot and retire
        the superseded batches. Safe swap order — at every step a
        reader sees a consistent set (the new base is a superset;
        latest-version dedup absorbs the temporary overlap)."""
        tmp_data = os.path.join(self.data_dir, f".compact-{uuid.uuid4().hex[:8]}")
        tmp_lin = os.path.join(self.lineage_dir, f".compact-{uuid.uuid4().hex[:8]}")
        with _staged(tmp_data, tmp_lin):
            write_data(tmp_data)
            write_lineage(tmp_lin, tmp_data)
        base_data = os.path.join(self.data_dir, f"batch_id={base_id}")
        aside = base_data + ".old"
        # 1. move old base data aside (data_read serves the aside while
        #    the base dir is absent, so the mid-swap window is readable;
        #    existence guards make a re-run after a crash idempotent)
        if os.path.exists(base_data):
            shutil.rmtree(aside, ignore_errors=True)  # stale aside from a crashed run
            os.rename(base_data, aside)
        os.rename(tmp_data, base_data)  # 2. new full snapshot in place
        base_marker = os.path.join(self.lineage_dir, f"batch_id={base_id}")
        old_marker_aside = base_marker + ".old"
        if os.path.exists(base_marker):
            shutil.rmtree(old_marker_aside, ignore_errors=True)
            os.rename(base_marker, old_marker_aside)
        os.rename(tmp_lin, base_marker)  # 3. marker now describes the snapshot
        for b in retire_ids:  # 4. retire superseded markers, THEN their data
            shutil.rmtree(os.path.join(self.lineage_dir, f"batch_id={b}"), ignore_errors=True)
        for b in retire_ids:
            shutil.rmtree(os.path.join(self.data_dir, f"batch_id={b}"), ignore_errors=True)
        shutil.rmtree(aside, ignore_errors=True)
        shutil.rmtree(old_marker_aside, ignore_errors=True)


# perfbench/layers.py wraps each entry's ``publish`` for traced runs
PROTOCOLS = {"rename": RenameCommitProtocol}


class MergeSink:
    """Parquet-backed exactly-once keyed sink."""

    def __init__(
        self,
        table_dir: str,
        keys: tuple[str, ...] = ("conv_id", "turn_idx"),
        partition_key: str = "conv_id",
        order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
        version_col: str | None = None,
        n_partitions: int = 8,
        hive_partition_by: str | None = None,
    ):
        self.table_dir = table_dir
        self.protocol = RenameCommitProtocol(table_dir)
        self.data_dir = self.protocol.data_dir
        self.lineage_dir = self.protocol.lineage_dir
        self.keys = keys
        self.partition_key = partition_key
        self.order_cols = order_cols
        self.version_col = version_col
        self.n_partitions = n_partitions
        # hive-style directory layout: batch data lands under
        # <batch>/<col>=<v>/ subdirectories, so readers filtering on
        # the column get PARTITION PRUNING — only the touched
        # directories are listed and scanned. The scale lever for
        # bucket-keyed indexes (incremental dedup): a micro-batch's
        # lookup reads the buckets it hashes into, not the full index.
        # CONTRACT: values must not be type-inference-ambiguous — an
        # all-numeric directory tree is inferred as INT (hex '07' reads
        # back as 7), which breaks zero-padded equality after a
        # compact rewrite. Prefix a letter (incremental_dedup uses
        # 'b' + hex).
        self.hive_partition_by = hive_partition_by
        self.protocol.init()

    # -- commit log -------------------------------------------------
    def committed_batches(self) -> set[int]:
        return self.protocol.committed_batches()

    # -- the foreachBatch body ---------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in self.committed_batches():
            return  # replayed epoch — already committed, exactly-once
        if self.version_col and self.version_col not in batch_df.columns:
            # update-mode upserts: later epochs supersede earlier rows
            # for the same key, so stamp the epoch as the version
            batch_df = batch_df.withColumn(
                self.version_col, F.lit(int(batch_id)).cast("long")
            )
        # the epoch is written as delivered, one exchange and one sort:
        # every reader (_read_epochs: read_table, read_changes, compact)
        # resolves keys within and across epochs, and a deduped stream
        # delivers unique keys, so a write-side dedup only repeats work
        bdf = batch_df.repartition(self.n_partitions, self.partition_key).sortWithinPartitions(
            *self.order_cols
        )
        staged = {}

        def write_data(path: str) -> None:
            self._write_data(bdf, path)
            staged["data"] = path

        self.protocol.publish(
            int(batch_id),
            write_data,
            lambda p: self._write_lineage(p, staged["data"], int(batch_id), bdf.schema),
        )

    def _write_data(self, df: DataFrame, path: str) -> None:
        w = df.write.mode("overwrite")
        if self.hive_partition_by:
            w = w.partitionBy(self.hive_partition_by)
        w.parquet(path)

    def _write_lineage(
        self, lin_path: str, data_path: str, batch_id: int, schema: StructType
    ) -> None:
        """Lineage rows of the data files just staged at ``data_path``,
        built on the driver with no Spark job: one row per writing
        task, whose id is the NNNNN of its ``part-NNNNN-…`` files;
        ``n_rows`` from the footers; max partition_key and max keys[-1]
        from those two columns, or from the ``col=value`` directory
        when hive_partition_by moved the column out of the file.
        Zero-row files are skipped, so an empty epoch commits a
        zero-row lineage file. ``updated_at`` is epoch-derived, so
        replays of the same batch produce the same lineage rows."""
        maxed = {"max_conv_id": self.partition_key, "max_turn_idx": self.keys[-1]}
        types = {k: to_arrow_type(schema[c].dataType) for k, c in maxed.items()}
        per_file = {"partition_id": [], **{k: [] for k in maxed}, "n_rows": []}
        for root, _, files in os.walk(data_path):
            rel = os.path.relpath(root, data_path).split(os.sep)
            hive = dict(d.split("=", 1) for d in rel if "=" in d)
            for name in files:
                m = _PART_FILE.match(name)
                if not m:
                    continue
                with pq.ParquetFile(os.path.join(root, name)) as f:
                    n_rows = f.metadata.num_rows
                    if n_rows == 0:
                        continue
                    t = f.read(columns=[c for c in set(maxed.values()) if c not in hive])
                for k, c in maxed.items():
                    if c in hive:
                        v = None if hive[c] == _HIVE_NULL else unquote(hive[c])
                        v = pa.scalar(v, pa.string())
                    else:
                        v = pc.max(t[c])
                    per_file[k].append(v.cast(types[k]).as_py())
                per_file["partition_id"].append(int(m.group(1)))
                per_file["n_rows"].append(n_rows)
        # one task writes one file per hive directory it touches
        agg = pa.table(per_file, schema=pa.schema(
            [("partition_id", pa.int32()), *types.items(), ("n_rows", pa.int64())]
        )).group_by("partition_id").aggregate(
            [("max_conv_id", "max"), ("max_turn_idx", "max"), ("n_rows", "sum")]
        ).sort_by("partition_id")
        n = agg.num_rows
        lineage = pa.table(
            [
                agg["partition_id"], agg["max_conv_id_max"], agg["max_turn_idx_max"],
                agg["n_rows_sum"],
                pa.array([(LINEAGE_TS0 + batch_id) * 1_000_000] * n, pa.timestamp("us", tz="UTC")),
                pa.array([batch_id] * n, pa.int64()),
            ],
            names=["partition_id", *maxed, "n_rows", "updated_at", "batch_id"],
        )
        os.makedirs(lin_path)
        pq.write_table(lineage, os.path.join(lin_path, "part-00000.parquet"))

    # -- readers ------------------------------------------------------
    def _empty_table(self, spark: SparkSession) -> DataFrame:
        """Zero-row frame carrying the sink's DECLARED key and order
        columns (string-typed placeholders), so a caller's
        ``.select(*keys)`` on a never-committed sink returns empty
        instead of AnalysisException — e.g. a window-keyed sink
        (w_start, conv_id) before its first commit."""
        cols = list(dict.fromkeys((*self.keys, *self.order_cols)))
        return spark.createDataFrame([], schema=", ".join(f"`{c}` string" for c in cols))

    def read_table(
        self, spark: SparkSession, as_of_batch: int | None = None
    ) -> DataFrame:
        """Committed rows only, latest version per key. Path resolution
        can race a concurrent compact()'s final cleanup (the resolved
        path vanishes before spark.read lists it) — re-resolve and
        retry once; the post-compact committed set is self-consistent.

        ``as_of_batch`` = TIME TRAVEL (snapshot isolation, the Iceberg
        read-as-of): the table as of epoch N — only batches <= N
        participate, so "what did the table look like at commit N" is
        one filter over the commit set, no data rewrite. Like Iceberg
        snapshot expiry, compaction retires the epochs it merges: an
        as-of older than every retained epoch resolves to the OLDEST
        retained snapshot (the compact base, which holds the merged
        state of everything it retired) — never to an empty table."""
        if as_of_batch is not None:
            committed = self.committed_batches()
            if committed and all(b > as_of_batch for b in committed):
                floor_id = min(committed)  # oldest retained snapshot
                return self._read_epochs(spark, lambda b: b == floor_id)
        return self._read_epochs(
            spark, lambda b: as_of_batch is None or b <= as_of_batch
        )

    def read_changes(
        self, spark: SparkSession, since_batch: int, until_batch: int | None = None
    ) -> DataFrame:
        """INCREMENTAL read: latest-version rows committed in epochs
        (since_batch, until_batch] — the sink AS a change feed (the
        Iceberg incremental scan; also S6 task chaining made explicit:
        a downstream stage consumes exactly the epochs it has not seen,
        resuming from its own high-water mark instead of re-scanning
        the table). Compaction bound: if ``since_batch`` predates the
        compact base, the base (which merged the retired epochs) falls
        inside the window and the read OVER-DELIVERS already-consumed
        rows — the at-least-once resolution. Iceberg raises here; this
        engine's downstream consumption contract is a keyed MERGE
        (S6: sink re-read as next source), where over-delivery is
        absorbed by latest-version-wins exactly like a replayed epoch,
        so delivery stays effectively exactly-once end to end."""
        return self._read_epochs(
            spark,
            lambda b: b > since_batch and (until_batch is None or b <= until_batch),
        )

    def _read_epochs(self, spark: SparkSession, keep) -> DataFrame:
        committed = {b for b in self.committed_batches() if keep(b)}
        if not committed:
            return self._empty_table(spark)
        try:
            df = self.protocol.data_read(spark, committed)
        except Exception:
            committed = {b for b in self.committed_batches() if keep(b)}
            if not committed:
                return self._empty_table(spark)
            df = self.protocol.data_read(spark, committed)
        if self.version_col and self.version_col in df.columns:
            return apply_changes(df, self.keys, self.version_col).drop("batch_id")
        w_cols = list(self.keys)
        return df.dropDuplicates(w_cols).drop("batch_id")

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        """Same resolve-retry as read_table: a marker retired by a
        racing compact()'s swap_base between committed_batches() and
        the marker read raises — re-resolve once against the
        post-compact (self-consistent) commit set. The retry only
        fires when the commit set actually CHANGED under us (the
        compact-race signature); a deterministic read error surfaces
        immediately instead of being executed twice."""
        before = self.committed_batches()
        try:
            return self.protocol.lineage_read(spark)
        except Exception:
            if self.committed_batches() == before:
                raise  # not a compact race — a genuine read error
            return self.protocol.lineage_read(spark)

    # -- maintenance ---------------------------------------------------
    def compact(self, spark: SparkSession) -> int:
        """Fold all committed batches into one base batch (latest
        version per key), then drop the originals. Bounds read_table's
        path listing on a long-running stream — the analog of Iceberg
        snapshot expiration / rewrite_data_files. Must run under the
        pipeline's single-writer lock (streaming/pipeline.py): the
        commit protocol makes a crash mid-compaction safe (the new
        base is committed before the old batches are removed; a reader
        sees either the old set or old+new, and latest-version dedup
        makes old+new harmless).

        Returns the id of the new base batch.
        """
        committed = sorted(self.committed_batches())
        if len(committed) <= 1:
            return committed[0] if committed else -1
        base_id = max(committed)  # reuse the max id: replays of it stay no-ops
        snapshot = self.read_table(spark)
        snapshot = snapshot.repartition(self.n_partitions, self.partition_key).sortWithinPartitions(
            *self.order_cols
        )
        retire = [b for b in committed if b != base_id]

        self.protocol.swap_base(
            int(base_id),
            retire,
            lambda p: self._write_data(snapshot, p),
            lambda lin, data: self._write_lineage(lin, data, int(base_id), snapshot.schema),
        )
        return int(base_id)

    # -- lifecycle verbs (K6 analog: init/plan/status/destroy) --------
    def init(self) -> None:
        self.protocol.init()

    def status(self) -> dict:
        committed = self.committed_batches()
        return {
            "table_dir": self.table_dir,
            "committed_batches": len(committed),
            "max_batch_id": max(committed) if committed else None,
        }

    def destroy(self) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)
