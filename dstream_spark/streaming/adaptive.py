"""S4 dynamic batch sizing.

The reference resamples the observed average row size hourly and
resizes its CDC poll batches to a byte budget
(docs/capability-inventory.md:136). The Spark analog: a file-source
micro-batch is ``maxFilesPerTrigger`` files, fixed at query start — so
the engine runs the stream in SEGMENTS, and between segments a
controller recomputes files-per-trigger from the segment's observed
progress (rows per batch at the current setting → rows per file →
files needed for the target batch size). Exactly-once across the
restart is free: the checkpoint carries the offsets and the MergeSink
is idempotent (Pipeline.run_adaptive).

Row-based targeting (not wall-clock) keeps the controller
deterministic; durations vary run-to-run, row counts don't.

Byte mode (``target_bytes``): the reference's budget is BYTES — it
resamples the observed average row size and sizes batches to the SKU
limit (256KB/1MB, docs/capability-inventory.md:136). The analog:
``observed_row_bytes`` reads the feed's parquet FOOTERS (driver-side
metadata only, no scan) for on-disk bytes/row, and the controller
converts the byte budget into an effective row target per segment —
the same resample-then-resize loop.
"""

from __future__ import annotations

import glob
import os


def observed_row_bytes(path: str, sample_files: int = 16) -> float | None:
    """Average on-disk bytes per row over (up to) the first
    ``sample_files`` parquet files under ``path`` — footer metadata
    reads only (num_rows), no data scan. None = nothing to sample."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))[:sample_files]
    tot_bytes = tot_rows = 0
    for f in files:
        try:
            # read BOTH facts before counting either, so a failure
            # between them (torn footer → ArrowInvalid, replaced file →
            # OSError) can't skew the bytes/rows average
            size = os.path.getsize(f)
            rows = pq.ParquetFile(f).metadata.num_rows
        except Exception:  # noqa: BLE001 — torn/retired mid-sample
            continue
        tot_bytes += size
        tot_rows += rows
    return (tot_bytes / tot_rows) if tot_rows else None


class BatchSizeController:
    """Recommend maxFilesPerTrigger targeting ``target_rows`` input
    rows — or, when ``target_bytes`` is set, a BYTE budget converted
    through the observed average row size — per micro-batch, clamped
    to [min_files, max_files]."""

    def __init__(
        self,
        target_rows: int = 500_000,
        min_files: int = 1,
        max_files: int = 256,
        target_bytes: int | None = None,
    ):
        self.target_rows = target_rows
        self.target_bytes = target_bytes
        self.min_files = min_files
        self.max_files = max_files

    def effective_target_rows(self, avg_row_bytes: float | None) -> int:
        """Byte budget → row target via the resampled row size; falls
        back to the row target when no size observation exists."""
        if self.target_bytes and avg_row_bytes and avg_row_bytes > 0:
            return max(1, int(self.target_bytes / avg_row_bytes))
        return self.target_rows

    def recommend(
        self, progresses, current_files: int, avg_row_bytes: float | None = None
    ) -> int:
        """New files-per-trigger from a segment's batch progress list.
        Batches with zero input (idle ticks) are ignored; with no
        signal the current setting stands."""
        # a plain dict or a StreamingQueryProgress (a dict subclass)
        rows = [int(p.get("numInputRows") or 0) for p in progresses]
        rows = [r for r in rows if r > 0]
        if not rows or current_files <= 0:
            return current_files
        rows_per_file = (sum(rows) / len(rows)) / current_files
        if rows_per_file <= 0:
            return current_files
        want = round(self.effective_target_rows(avg_row_bytes) / rows_per_file)
        return max(self.min_files, min(self.max_files, int(want) or 1))
