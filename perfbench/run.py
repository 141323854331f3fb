"""The repo benchmark: one workload per invocation, in a
``local[<cores>]`` session of this process.

    python3 perfbench/run.py --workload cdc_dedup_drain --seed 1 --seconds 5 --trace 0

Prints one JSON object as the last stdout line: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced
run also writes its spans and layer report to
``perfbench/_work/traces/``. Inputs are cached in
``perfbench/_work/cache``; a missing input is generated first, in a
process and JVM of their own, so that the measured process never runs
the generator. Every other file a run writes is deleted before it
exits. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CACHE = os.path.join(WORK, "cache")
# The program's own default is 8g (bench.py: max(8, 1.5 x cores) g).
# 4g keeps the JVM of a run well inside a shared 16 GB host; the
# gated workloads' JVM peak RSS measured 1.3-2.8 GB under it.
DRIVER_MEM = "4g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[N]; default: all usable cores")
    ap.add_argument("--generate-only", action="store_true",
                    help="only generate the workload's cached inputs, then exit")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dstream_spark")):
        print(f"perfbench: no dstream_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import log, remove
    from workloads import VARIANTS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = args.cores or len(os.sched_getaffinity(0))
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    # everything the JVM and the Python workers write stays in scratch
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[var] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    wl = WORKLOADS[args.workload]()
    variant = args.seed % VARIANTS
    try:
        if args.generate_only:
            Run(args, cores, scratch).generate(wl, variant)
            return 0
        if not wl.ready(CACHE, variant):
            generate(wl, variant, argv if argv is not None else sys.argv[1:])
        result = Run(args, cores, scratch).execute(wl)
    finally:
        remove(scratch)
    print(json.dumps(result))
    return 0


def generate(wl, variant: int, argv: list[str]) -> None:
    """Make the missing inputs of ``wl``; a generator that needs Spark
    runs in a child process, so its jobs leave no trace in the measured
    JVM (heap, peak RSS, JIT)."""
    from harness import log

    t0 = time.perf_counter()
    if wl.generate_needs_spark:
        subprocess.run([sys.executable, os.path.abspath(__file__), *argv, "--generate-only"],
                       check=True, stdout=subprocess.DEVNULL)
    else:
        wl.generate(None, CACHE, variant)
    if not wl.ready(CACHE, variant):
        raise RuntimeError("input generation left no complete cache entry")
    log(f"inputs generated in {time.perf_counter() - t0:.1f}s")


class Run:
    def __init__(self, args, cores: int, scratch: str):
        self.args = args
        self.cores = cores
        self.scratch = scratch
        self.spark = None
        self.listener = None
        self.event_log = os.path.join(scratch, "eventlog")

    def session(self, event_log: str | None = None) -> float:
        """(Re)start the session; returns the ``get_spark`` wall."""
        from dstream_spark.session import get_spark
        from harness import ProgressLog

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        wall = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.listener = ProgressLog()
        self.spark.streams.addListener(self.listener)
        return wall

    def ctx(self, tracer=None):
        from workloads import Ctx

        return Ctx(self.spark, self.listener, self.cores, self.scratch, CACHE, self.args.seed, tracer)

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until it has ended."""
        from harness import stop_jvm

        if self.spark is not None:
            stop_jvm(self.spark)
            self.spark = None

    def generate(self, wl, variant: int) -> None:
        self.session()
        try:
            wl.generate(self.spark, CACHE, variant)
        finally:
            self.stop()

    def execute(self, wl) -> dict:
        from harness import log

        # set-up = session (with its worker prewarm) + warm-up operation,
        # three times; the first also launches the JVM. Loading the
        # cached inputs is not set-up. A traced run reports no set-up
        # and sets up once.
        get_spark_s = self.session(event_log=self.event_log if self.args.trace else None)
        wl.prepare(self.ctx())
        setups = []
        for i in range(1 if self.args.trace else 3):
            wall = get_spark_s if i == 0 else self.session()
            t0 = time.perf_counter()
            wl.warmup(self.ctx())
            setups.append((wall, time.perf_counter() - t0))
        log("set-ups (session + warm-up) " + " ".join(f"{a:.2f}+{b:.2f}" for a, b in setups))
        attempted = failed = 0
        # a traced run measures untraced twice and keeps the second, so
        # that the untraced and the traced operations both run in a
        # process that has already done a full-size one
        for _ in range(2 if self.args.trace else 1):
            t0 = time.perf_counter()
            ops = wl.measure(self.ctx(), self.args.seconds)
            log(f"measured {len(ops)} operations in {time.perf_counter() - t0:.1f}s")
            attempted += sum(op["attempted"] for op in ops)
            failed += sum(op["failed"] for op in ops)
        if self.args.trace:
            import layers

            metrics, t_attempted, t_failed = self.traced(wl, ops, get_spark_s)
            attempted += t_attempted
            failed += t_failed
            metrics = {k: metrics[k] for k in layers.PRINTED}
        else:
            metrics = {"setup_s": statistics.median(a + b for a, b in setups), **wl.metrics(ops)}
        self.stop()
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS.get(k) or layer_unit(k)} for k, v in metrics.items()},
        }

    def traced(self, wl, untraced_ops: list[dict], get_spark_s: float):
        """Measure again with the sink wrappers and the tracer, in the
        same session (its event log is on from the start, for the
        untraced operations too), and reduce the spans and the event
        log to per-layer metrics. The session is not restarted: after a
        restart in the same JVM, Python UDF tasks fail to report their
        accumulators to the new context."""
        import layers
        from harness import jvm_peak_rss_mb
        from trace import Tracer, build_tree, read_event_log, reduce_event_log, write_trace

        run_id = uuid.uuid4().hex[:12]
        tracer = Tracer(run_id)
        restore = layers.install_sink_wrappers(tracer)
        try:
            t_from = time.time()
            ops = wl.measure(self.ctx(tracer), self.args.seconds)
            t_to = time.time()
        finally:
            restore()
        extra = layers.side_measurements(self.args.workload, wl, self.ctx())
        extra["exec.peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        self.stop()
        job_spans, counters = reduce_event_log(read_event_log(self.event_log), t_from, t_to)
        for j in job_spans:
            tracer.add(f"job {j['job']}", "exec", "job", j["start"], j["end"], group=j["group"])
        spans = build_tree(tracer.spans)
        metrics = layers.per_layer(self.args.workload, wl, ops, untraced_ops, spans, counters,
                                   extra, get_spark_s)
        write_trace(
            os.path.join(WORK, "traces", f"{self.args.workload}-s{self.args.seed}-c{self.cores}.json"),
            spans,
            {"workload": self.args.workload, "seed": self.args.seed, "cores": self.cores,
             "run_id": run_id, "op": wl.op, "events_per_op": wl.events_per_op(ops),
             "end_to_end_untraced": {**wl.metrics(untraced_ops), "wall_s": wl.wall(untraced_ops)},
             "end_to_end_traced": {**wl.metrics(ops), "wall_s": wl.wall(ops)},
             "metrics": metrics},
        )
        return (metrics, sum(op["attempted"] for op in ops), sum(op["failed"] for op in ops))


UNITS = {"setup_s": "s", "events_per_s": "events/s"}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_bytes", "bytes"),
                         ("_pct", "%"), ("_share", "ratio"), ("_skew_max", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
