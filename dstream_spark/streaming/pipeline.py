"""Pipeline planner + lifecycle verbs: the HCL-task analog.

A reference task is an HCL block {type, input{}, output{}}
(pkg/config/tasks.go:15-37) executed by verbs run/init/plan/status/
destroy (cmd/*.go). Ours is a plain dict (the late-bound config{}
analog — docs/capability-inventory.md:69):

    {
      "name": "transcripts",
      "source": {"type": "changefeed", "path": ...},
      "transforms": [callable(DataFrame) -> DataFrame, ...],
      "sink": {"type": "merge", "table_dir": ..., "sink": MergeSink},
      "checkpoint_dir": ...,
      "trigger": {"availableNow": True} | {"processingTime": "1 second"},
    }

Verb semantics (SURVEY.md §3, entry point 2):
- run: build source → transforms → sink, start the StreamingQuery.
- init: sink DDL (create dirs/tables) — EnsureDestinationExists (K5).
- plan: dry-run diff of what init would create.
- status: query lastProgress + sink commit state (C4 metrics analog).
- destroy: drop sink tables + checkpoint.

Single-writer lock (D5): Spark already guarantees one query per
checkpoint dir; we additionally take a lock file with a stale TTL to
reproduce dstream's blob-lease semantics (acquire / skip-if-held /
break-if-stale, docs/capability-inventory.md:185-192) so two engine
processes can't double-write one sink.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from dstream_spark.sinks.registry import get_sink
from dstream_spark.sources.registry import get_source

LOCK_STALE_S = 120.0  # the reference's 2-minute stale-lease TTL


class LockHeldError(RuntimeError):
    pass


def run_stream(
    df: DataFrame,
    mode: str,
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """Drain ``df`` once: start an ``availableNow`` query in output
    ``mode`` and wait for it; a failed query raises here.

    With no ``foreach_batch`` the rows land in a memory sink under a
    fresh query name and come back as ``spark.table(name)``. With one,
    every micro-batch goes to that body and nothing is returned.
    ``checkpoint`` is the query's checkpointLocation (Spark picks a
    temporary one when it is None)."""
    writer = df.writeStream.outputMode(mode).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if foreach_batch is not None:
        writer.foreachBatch(foreach_batch).start().awaitTermination()
        return None
    name = f"drain_{uuid.uuid4().hex[:8]}"
    writer.format("memory").queryName(name).start().awaitTermination()
    return df.sparkSession.table(name)


class Lock:
    """File lock with stale-TTL breaking (blob-lease analog).

    Acquisition is ATOMIC — the read-check-write TOCTOU the
    reference's blob lease avoids (docs/capability-inventory.md:
    185-192) is closed with two primitives:

    - claim of an ABSENT lock: ``os.link`` of a fully-written tmp file
      — atomic create-if-absent whose content appears whole
      (object-store analog: If-None-Match PUT of a complete object);
    - break of a STALE (>TTL) lock: re-check + unlink serialized under
      a short ``flock`` critical section, so two racers on an expired
      lock get exactly one winner and a fresh lock is never deleted
      (object-store analog: conditional PUT/DELETE with If-Match ETag
      — a CAS on the lock object). flock auto-releases on process
      death, so the breaker mutex itself cannot leak.

    A holder that renews only AFTER its lease expired may find the
    lock broken and re-owned; its heartbeat then raises LockHeldError
    and the pipeline fail-stops (lease-loss semantics).
    """

    def __init__(self, path: str, ttl_s: float = LOCK_STALE_S):
        self.path = path
        self.ttl_s = ttl_s

    def _write_exclusive(self, owner: str) -> bool:
        """Claim an absent lock atomically. False = lost the race.

        The claim is ``os.link`` of a FULLY-WRITTEN tmp file: atomic
        create-if-absent whose content appears whole (O_CREAT|O_EXCL
        then write is not atomic *together* — a racer can read the
        empty window as a torn lock and break it). Object-store
        analog: If-None-Match PUT of a complete object."""
        tmp = f"{self.path}.claim-{os.getpid()}-{threading.get_ident()}"
        with open(tmp, "w") as f:
            json.dump({"owner": owner, "ts": time.time()}, f)
        try:
            os.link(tmp, self.path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _cas_unlink_stale(self) -> bool:
        """Compare-and-delete: remove the lock iff it is STILL stale,
        atomically w.r.t. other breakers (flock-serialized; an
        object-store impl would use If-Match conditional DELETE).
        True = the slot is now free to claim."""
        import fcntl

        with open(self.path + ".cas", "w") as mutex:
            fcntl.flock(mutex, fcntl.LOCK_EX)
            try:
                meta = json.load(open(self.path))
            except FileNotFoundError:
                return True  # already broken/released — slot free
            except (json.JSONDecodeError, OSError):
                meta = {"ts": 0}  # genuinely torn lock: age it out
            if time.time() - meta.get("ts", 0) < self.ttl_s:
                return False  # re-owned by a faster breaker — live again
            os.unlink(self.path)
            return True
            # flock released when `mutex` closes

    def _cas_renew(self, owner: str) -> bool:
        """Owner renewal as a CAS: re-verify ownership and replace the
        lock content under the same ``.cas`` flock the stale-breaker
        uses, so a holder whose lease just expired can never clobber a
        successor that broke the stale lock and re-claimed it between
        the caller's read and this write (If-Match conditional PUT).
        True = renewed; False = lock vanished (retry the claim);
        raises LockHeldError if another owner took it."""
        import fcntl

        with open(self.path + ".cas", "w") as mutex:
            fcntl.flock(mutex, fcntl.LOCK_EX)
            try:
                meta = json.load(open(self.path))
            except FileNotFoundError:
                return False  # released/broken — go claim it fresh
            except (json.JSONDecodeError, OSError):
                return False  # torn — let the claim/break path sort it
            if meta.get("owner") != owner:
                age = time.time() - meta.get("ts", 0)
                raise LockHeldError(
                    f"lock {self.path} re-owned by {meta.get('owner')} "
                    f"({age:.0f}s old) — our lease lapsed"
                )
            tmp = f"{self.path}.tmp-{os.getpid()}-{threading.get_ident()}"
            with open(tmp, "w") as f:
                json.dump({"owner": owner, "ts": time.time()}, f)
            os.replace(tmp, self.path)
            return True

    def acquire(self, owner: str) -> None:
        for _ in range(4):  # create → (break stale → re-create) bounded retries
            if self._write_exclusive(owner):
                return
            try:
                meta = json.load(open(self.path))
            except FileNotFoundError:
                continue  # holder released between open attempts — retry create
            except (json.JSONDecodeError, OSError):
                meta = {"ts": 0}  # torn/garbage lock: age it out below
            age = time.time() - meta.get("ts", 0)
            if meta.get("owner") == owner:
                # renewal (heartbeat): ownership re-verified and the
                # content swapped under the .cas flock — a successor
                # that broke our expired lease between this read and
                # the write surfaces as LockHeldError, never a clobber
                if self._cas_renew(owner):
                    return
                continue  # vanished/torn under the CAS — retry claim
            if age < self.ttl_s:
                raise LockHeldError(
                    f"lock {self.path} held by {meta.get('owner')} ({age:.0f}s old)"
                )
            # stale (>TTL) → break it, as the reference does — via CAS
            # so a lock that was re-claimed in the meantime is never
            # deleted; then loop back to the atomic claim
            self._cas_unlink_stale()
        raise LockHeldError(f"lock {self.path}: lost the acquisition race repeatedly")

    def heartbeat(self, owner: str) -> None:
        self.acquire(owner)

    def release(self, owner: str) -> None:
        """Unlink our own lock; check+unlink run under the same CAS
        mutex as the stale break so a successor's lock (ours expired
        and was broken mid-release) is never deleted."""
        import fcntl

        if not os.path.exists(self.path):
            return
        with open(self.path + ".cas", "w") as mutex:
            fcntl.flock(mutex, fcntl.LOCK_EX)
            try:
                if json.load(open(self.path)).get("owner") == owner:
                    os.remove(self.path)
            except (json.JSONDecodeError, OSError, FileNotFoundError):
                pass


class Pipeline:
    def __init__(self, spark: SparkSession, conf: dict):
        self.spark = spark
        self.conf = conf
        self.name = conf.get("name", "pipeline")
        self.query: StreamingQuery | None = None
        ckpt = conf.get("checkpoint_dir")
        ttl = float(conf.get("lock_ttl_s", LOCK_STALE_S))
        self.lock = Lock(os.path.join(ckpt, "_dstream.lock"), ttl_s=ttl) if ckpt else None
        self._hb_stop: threading.Event | None = None
        self._hb_thread: threading.Thread | None = None
        self.lock_lost: str | None = None  # set by the heartbeat on lease loss
        self.crash_monitor = None  # FailureCaptureListener when enabled

    def _start_heartbeat(self, owner: str) -> None:
        """Renew the lease while the query runs — the reference holds an
        infinite blob lease and renews it; 'stale' means ABANDONED for
        >TTL, not merely long-running (capability-inventory.md:185-192).
        Without this, any query outliving the TTL had a breakable lock.
        Interval = TTL/3 so a renewal always lands before expiry."""
        self._hb_stop = threading.Event()
        interval = max(0.05, self.lock.ttl_s / 3.0)

        def beat() -> None:
            while not self._hb_stop.wait(interval):
                try:
                    self.lock.heartbeat(owner)
                except LockHeldError as e:
                    # Lease lost (heartbeat delayed past TTL and another
                    # writer broke it). Fail-stop: two unfenced writers
                    # on one sink is the exact state the lock prevents,
                    # so stop THIS query and surface the loss.
                    self.lock_lost = str(e)
                    try:
                        if self.query is not None and self.query.isActive:
                            self.query.stop()
                    except Exception:
                        pass
                    break

        self._hb_thread = threading.Thread(
            target=beat, name=f"{self.name}-lock-heartbeat", daemon=True
        )
        self._hb_thread.start()

    def _stop_heartbeat(self) -> None:
        if self._hb_stop is not None:
            self._hb_stop.set()
        if self._hb_thread is not None:
            self._hb_thread.join(timeout=5.0)
        self._hb_stop = self._hb_thread = None

    # -- verb: run -----------------------------------------------------
    def build(self) -> DataFrame:
        src_conf = dict(self.conf["source"])
        df = get_source(src_conf.pop("type"))(self.spark, src_conf)
        for t in self.conf.get("transforms", ()):
            df = t(df)
        return df

    def run(self, await_termination: bool = False, owner: str = "driver") -> StreamingQuery:
        if self.lock:
            os.makedirs(os.path.dirname(self.lock.path), exist_ok=True)
            self.lock.acquire(owner)
            self._start_heartbeat(owner)
        try:
            # opt-in: the listener is session-global and fires per
            # progress event, so benches keep it off the hot loop
            if self.conf.get("surface_failures") and self.crash_monitor is None:
                from dstream_spark.streaming.metrics import FailureCaptureListener

                self.crash_monitor = FailureCaptureListener()
                self.spark.streams.addListener(self.crash_monitor)
            df = self.build()
            sink_conf = dict(self.conf["sink"])
            writer = get_sink(sink_conf.pop("type"))(df, sink_conf)
            trigger = self.conf.get("trigger", {"availableNow": True})
            writer = writer.trigger(**trigger)
            if self.conf.get("checkpoint_dir"):
                writer = writer.option("checkpointLocation", self.conf["checkpoint_dir"])
            self.query = writer.queryName(self.name).start()
        except Exception:
            # a failed START must not leak the heartbeat/lease: the
            # daemon would renew the lock forever and a self-healing
            # stale lock becomes a permanent lock-out
            self._stop_heartbeat()
            if self.crash_monitor is not None:
                self.spark.streams.removeListener(self.crash_monitor)
                self.crash_monitor = None
            if self.lock:
                self.lock.release(owner)
            raise
        if self.crash_monitor is not None:
            self.crash_monitor.watch(str(self.query.id))
        if await_termination:
            self.query.awaitTermination()
        return self.query

    def run_adaptive(
        self,
        controller,
        segments: int = 2,
        owner: str = "driver",
    ) -> list[dict]:
        """S4 dynamic batch sizing: run the stream in segments (each
        drains what's available: availableNow), and between segments let
        ``controller`` (streaming/adaptive.BatchSizeController) resize
        max_files_per_trigger from the segment's observed progress —
        the reference's hourly row-size resample
        (docs/capability-inventory.md:136). Restarting from the same
        checkpoint is exactly-once: offsets + idempotent sink.

        In byte mode (controller.target_bytes set) each segment also
        RESAMPLES the feed's observed bytes/row from parquet footers —
        the reference's hourly average-row-size resample — and the
        controller converts the byte budget through it.

        Returns the per-segment sizing history."""
        history: list[dict] = []
        for seg in range(segments):
            q = self.run(owner=owner)
            q.awaitTermination()
            progresses = list(q.recentProgress)
            cur = int(self.conf["source"].get("max_files_per_trigger", 1))
            avg_row_bytes = None
            if getattr(controller, "target_bytes", None):
                from dstream_spark.streaming.adaptive import observed_row_bytes

                avg_row_bytes = observed_row_bytes(self.conf["source"]["path"])
            nxt = controller.recommend(progresses, cur, avg_row_bytes=avg_row_bytes)
            self.stop(owner=owner)
            history.append(
                {
                    "segment": seg,
                    "files_per_trigger": cur,
                    "batches": len(progresses),
                    "avg_row_bytes": avg_row_bytes,
                    "next_files_per_trigger": nxt,
                }
            )
            self.conf["source"]["max_files_per_trigger"] = nxt
        return history

    def stop(self, grace_s: float = 10.0, owner: str = "driver") -> None:
        """Graceful shutdown (K7): stop → bounded wait (the reference's
        SIGTERM + 10 s grace, pkg/executor/providers.go:441-487)."""
        if self.query is not None:
            self.query.stop()
            deadline = time.time() + grace_s
            while self.query.isActive and time.time() < deadline:
                time.sleep(0.05)
        self._stop_heartbeat()
        if self.crash_monitor is not None:
            self.spark.streams.removeListener(self.crash_monitor)
            self.crash_monitor = None
        if self.lock:
            self.lock.release(owner)

    # -- lifecycle verbs ------------------------------------------------
    def init(self) -> dict:
        created = []
        sink = self.conf.get("sink", {}).get("sink")
        if sink is not None:
            sink.init()
            created.append(sink.table_dir)
        ckpt = self.conf.get("checkpoint_dir")
        if ckpt:
            os.makedirs(ckpt, exist_ok=True)
            created.append(ckpt)
        return {"status": "success", "resources": created}

    def plan(self) -> dict:
        to_create = []
        sink = self.conf.get("sink", {}).get("sink")
        if sink is not None and not os.path.exists(sink.data_dir):
            to_create.append(sink.table_dir)
        ckpt = self.conf.get("checkpoint_dir")
        if ckpt and not os.path.exists(ckpt):
            to_create.append(ckpt)
        return {"status": "success", "would_create": to_create}

    def status(self) -> dict:
        out: dict = {"name": self.name, "active": bool(self.query and self.query.isActive)}
        if self.query is not None:
            out["last_progress"] = self.query.lastProgress
        if self.crash_monitor is not None:
            out["failures"] = list(self.crash_monitor.failures)
        if self.lock_lost:
            out["lock_lost"] = self.lock_lost
        sink = self.conf.get("sink", {}).get("sink")
        if sink is not None:
            out["sink"] = sink.status()
        return out

    def destroy(self) -> dict:
        import shutil

        removed = []
        sink = self.conf.get("sink", {}).get("sink")
        if sink is not None:
            sink.destroy()
            removed.append(sink.table_dir)
        ckpt = self.conf.get("checkpoint_dir")
        if ckpt and os.path.exists(ckpt):
            shutil.rmtree(ckpt, ignore_errors=True)
            removed.append(ckpt)
        return {"status": "success", "removed": removed}
