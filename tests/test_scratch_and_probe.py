"""Bounded side effects: scratch dirs do not outlive the process, and
the on-disk size probe reads real paths out of input-file URIs."""

from __future__ import annotations

import os
import subprocess
import sys

from dstream_spark.queries_base import _scan_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_dir_removed_at_exit():
    """A process that makes a scratch dir and exits (no Spark session)
    leaves nothing behind."""
    code = (
        "import os\n"
        "from dstream_spark.streaming_queries import _scratch\n"
        "p = _scratch('exit_probe')\n"
        "open(os.path.join(p, 'f'), 'w').close()\n"
        "print(p)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    path = out.stdout.strip()
    assert os.path.basename(path).startswith("dstream_exit_probe_")
    assert not os.path.exists(path)


def test_scan_bytes_decodes_uri_paths(spark, tmp_path):
    """inputFiles() returns percent-encoded URIs: a dir named with a
    space and a '%' must still resolve to its real on-disk bytes."""
    d = tmp_path / "odd dir%20name"
    spark.range(50).coalesce(1).write.parquet(str(d))
    size = _scan_bytes(spark.read.parquet(str(d)))
    on_disk = sum(f.stat().st_size for f in d.iterdir() if f.name.endswith(".parquet"))
    assert size is not None and size == on_disk > 0
