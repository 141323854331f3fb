"""Session, progress listener and the per-file latency reducer shared
by the workloads."""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil
import statistics
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def epoch_s(iso: str) -> float:
    """Progress/listener timestamp ('2024-01-01T00:00:00.123Z') → epoch s."""
    dt = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no values")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values)


class ProgressLog(StreamingQueryListener):
    """Keeps every query's start time, progress JSON and termination."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        self.started[str(event.id)] = epoch_s(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.add(str(event.id))

    def wait_for(self, query_id: str, batch_ids: set[int], timeout_s: float = 30.0) -> list[dict]:
        """Progress of ``query_id`` once the listener bus has delivered
        every batch in ``batch_ids`` and the termination."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            got = {p["batchId"] for p in self.progress.get(query_id, [])}
            if batch_ids <= got and query_id in self.terminated:
                break
            time.sleep(0.02)
        else:
            raise TimeoutError(f"progress of query {query_id} not delivered")
        return sorted(self.progress[query_id], key=lambda p: p["batchId"])


def checkpoint_query_id(ckpt: str) -> str:
    with open(os.path.join(ckpt, "metadata")) as f:
        return json.load(f)["id"]


def committed_batch_ids(ckpt: str) -> set[int]:
    d = os.path.join(ckpt, "commits")
    return {int(f) for f in os.listdir(d) if f.isdigit()}


def file_batches(ckpt: str) -> dict[str, int]:
    """File name → the batch that read it, from the file source's
    metadata log (``sources/0/<batch>`` and its ``.compact`` files)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """Batch id → end of its micro-batch: timestamp + triggerExecution."""
    return {
        p["batchId"]: epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        for p in progress
    }


def file_latencies(due: dict[str, float], batch_of: dict[str, int], ends: dict[int, float]) -> list[float]:
    """Per file: end of the batch that committed it minus its due
    time. A due file that no committed batch read is an error."""
    missing = sorted(set(due) - set(batch_of))
    if missing:
        raise AssertionError(f"{len(missing)} files never committed, e.g. {missing[0]}")
    return [ends[batch_of[f]] - t for f, t in due.items()]


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total / 1e6


def remove(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    process (and with it the Python workers it forked) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
