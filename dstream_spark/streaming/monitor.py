"""S2 multi-table monitor: independent per-table pipelines.

The reference's router monitors many tables from one process, one
polling loop per table, each with its own cursor, lock and failure
domain (docs/capability-inventory.md:130-135; a broken table must not
stop the others — D6). The Spark-native form: one StreamingQuery per
table — each with its OWN source path, checkpoint dir (hence offsets +
lock) and sink — sharing a single SparkSession/cluster. Queries run
concurrently on the scheduler; an exception in one terminates only
that query.

The second half of D6 is retry: the reference re-polls a failed batch
with backoff WITHOUT advancing the table's cursor
(docs/capability-inventory.md:195-199). ``supervise`` is that loop —
a failed table restarts from its own checkpoint after an exponential
backoff (Spark never committed the failed epoch, and the sink's
commit markers make the re-run exactly-once), while healthy tables
stream uninterrupted. Backoff is tracked per table as a
next-retry-at deadline, so one table's wait never blocks another's
supervision.

This is deliberately NOT a union-then-partitionBy single query: a
shared query couples the tables' failure domains and checkpoints,
which is exactly what the reference avoids.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from dstream_spark.streaming.pipeline import Pipeline


class Monitor:
    """Run N table pipelines side by side; track each independently."""

    def __init__(self, spark: SparkSession, table_confs: list[dict]):
        self.pipelines: dict[str, Pipeline] = {
            conf["name"]: Pipeline(spark, conf) for conf in table_confs
        }
        # start failures recorded by run_all, consumed by supervise so a
        # table that never started counts that failure as attempt 0
        self._start_errors: dict[str, Exception] = {}

    def init_all(self) -> dict:
        return {name: p.init() for name, p in self.pipelines.items()}

    def run_all(self, owner: str = "driver") -> dict:
        """Start every table's query; a table that fails to START is
        recorded (not raised) so the rest keep going — per-table
        failure isolation from the first moment."""
        started: dict[str, object] = {}
        for name, p in self.pipelines.items():
            try:
                started[name] = p.run(owner=owner)
                self._start_errors.pop(name, None)
            except Exception as e:  # noqa: BLE001 — isolate, report in status
                started[name] = e
                self._start_errors[name] = e
        return started

    def await_all(self) -> None:
        for p in self.pipelines.values():
            if p.query is not None:
                try:
                    p.query.awaitTermination()
                except Exception:  # surfaced via status()["failures"]
                    pass

    def supervise(
        self,
        owner: str = "driver",
        max_retries: int = 3,
        base_backoff_s: float = 0.2,
        poll_s: float = 0.05,
        timeout_s: float = 120.0,
        run_for_s: float | None = None,
    ) -> dict:
        """Run every table with per-table retry-with-backoff (D6's
        second half). A table whose query terminates with an exception
        is restarted from ITS OWN checkpoint after
        ``base_backoff_s * 2**attempt`` — the failed epoch was never
        committed (Spark only advances offsets on a successful
        foreachBatch), so the restart replays it and the sink's commit
        markers keep the overlap exactly-once. Retries are capped; a
        table that exhausts them is left failed, the rest continue.
        Non-blocking: backoff is a per-table deadline checked in one
        poll loop, so a backing-off table never delays a healthy one.

        Two trigger regimes:
        - availableNow (default, ``run_for_s=None``): a healthy query
          terminates when drained → success.
        - continuous (processingTime — the reference's long-running
          monitor loop): pass ``run_for_s``; the loop supervises for
          that window, restarting crashed tables with backoff, and a
          table still ACTIVE at the deadline is healthy — it reports
          ``ok=True, running=True`` and is LEFT RUNNING (callers own
          shutdown via stop_all).

        Returns per-table
        {"retries": n, "ok": True | False | None,
         "error": str | None[, "running": True, "timed_out": True]}.
        ``ok`` is TRI-STATE: True = drained/healthy, False = failed
        (error set), None = still draining at an availableNow deadline
        (running + timed_out set) — neither success nor failure, so
        callers must not truthiness-test ok.
        """
        if run_for_s is not None:
            timeout_s = run_for_s
        report = {
            name: {"retries": 0, "ok": False, "error": None}
            for name in self.pipelines
        }
        # tables whose initial start already failed (run_all recorded an
        # exception) begin in the retry queue; running ones in "active"
        retry_at: dict[str, float] = {}
        done: set[str] = set()
        for name, p in self.pipelines.items():
            if p.query is None:
                start_err = self._start_errors.pop(name, None)
                if start_err is not None:
                    # run_all's start failure is attempt 0: record its
                    # error and consume a retry for the restart
                    self._record_failure(name, p, start_err, report, retry_at,
                                         done, max_retries, base_backoff_s)
                else:
                    retry_at[name] = time.monotonic()  # never started — start now
        deadline = time.monotonic() + timeout_s
        while len(done) < len(self.pipelines) and time.monotonic() < deadline:
            for name, p in self.pipelines.items():
                if name in done:
                    continue
                now = time.monotonic()
                if name in retry_at:
                    if now < retry_at[name]:
                        continue
                    del retry_at[name]
                    try:
                        p.run(owner=owner)
                    except Exception as e:  # noqa: BLE001 — start failure = a failed attempt
                        self._record_failure(name, p, e, report, retry_at, done,
                                             max_retries, base_backoff_s)
                    continue
                q = p.query
                if q is None or q.isActive:
                    continue
                err = q.exception()  # the dead query's terminal exception, or None
                p.stop(owner=owner)  # release lock/heartbeat (before any retry)
                if err is None:
                    report[name]["ok"] = True
                    done.add(name)
                else:
                    self._record_failure(name, p, err, report, retry_at, done,
                                         max_retries, base_backoff_s)
            time.sleep(poll_s)
        for name, p in self.pipelines.items():
            if name not in done and p.query is not None and p.query.isActive:
                if run_for_s is not None:
                    # continuous regime: alive at the deadline == healthy
                    report[name]["ok"] = True
                    report[name]["running"] = True
                else:
                    # availableNow regime: still draining at the deadline
                    # is NOT a failure — mark it distinctly (ok=None) so
                    # it can't be confused with a crashed table
                    report[name]["ok"] = None
                    report[name]["running"] = True
                    report[name]["timed_out"] = True
        return report

    def _record_failure(
        self, name, p, err, report, retry_at, done, max_retries, base_backoff_s
    ) -> None:
        report[name]["error"] = str(err)
        attempts = report[name]["retries"]
        if attempts >= max_retries:
            done.add(name)  # exhausted — leave failed, others continue
            return
        report[name]["retries"] = attempts + 1
        p.query = None  # force a fresh start() from the same checkpoint
        retry_at[name] = time.monotonic() + base_backoff_s * (2 ** attempts)

    def status(self) -> dict:
        return {name: p.status() for name, p in self.pipelines.items()}

    def stop_all(self, owner: str = "driver") -> None:
        for p in self.pipelines.values():
            p.stop(owner=owner)
