"""The four workloads. Each calls the program only through public entry
points: ``bench_pipeline.run_dedup_sink`` / ``run_window_sink``,
``streaming.pipeline.Pipeline`` and ``QUERIES[name].fn``.

A workload has ``ready``/``generate`` (its cached inputs and
references; ``run.py`` generates them in a process of their own, so the
measured JVM never runs the generator), ``prepare`` (loads the cached
inputs), ``warmup`` (part of set-up), ``measure`` (runs operations
until ``seconds`` of them are measured, checking each one's output),
``metrics`` (the end-to-end figures of a list of operations) and
``wall`` (the wall of one operation, the base of the tracing overhead).
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow.parquet as pq

from checks import (
    arrow_fingerprint,
    dedup_actual,
    dedup_reference,
    window_actual,
    window_reference,
)
from gen import make_dataset, make_feed, make_trickle
from harness import (
    batch_ends,
    checkpoint_query_id,
    committed_batch_ids,
    dir_mb,
    file_batches,
    file_latencies,
    log,
    median,
    quantile,
    remove,
)

HERE = os.path.dirname(os.path.abspath(__file__))

# --seed selects one of VARIANTS input sets (seed % VARIANTS): the
# events/dataset tables are drawn with the variant as numpy seed, so a
# checkout's cache serves most runs and expected.json covers them all
VARIANTS = 4
# the feed's duplicate sample always uses bench.py's sample seed, so at
# the same events table the feed holds exactly build_feed's rows
DUP_SEED = 42
STREAM_SF = 0.1  # the events table the feeds are derived from
REPLICAS = 3  # feed = transcripts x REPLICAS, about 330k events
N_SLICES = 16
FILES_PER_TRIGGER = 4
WARM_ROWS = 2000  # the warm-up drain: this many rows of the first slice
TRICKLE_FILES = 400  # about 275 events each
TRICKLE_RATE = 20.0  # files per second offered
TRICKLE_MIN_FILES = 100
TRICKLE_TRIGGER = "100 milliseconds"
TRICKLE_WARM_FILES = 1
BATCH_SF = 0.01

HEADLINE = [
    "relay_identity", "cdc_dedup", "cdc_latest_state", "tumbling_counts", "sliding_counts",
    "session_windows", "tool_correlation", "skew_salted_agg", "lineage_summary", "tpch_q1",
    "tpch_q3", "tpch_q5", "tpch_q6", "top_events_per_user", "docs_token_stats",
    "docs_fingerprint", "docs_minhash_bands", "docs_minhash_pairs", "docs_simhash",
    "docs_simhash_dups", "docs_simhash_wide_dups", "docs_decontaminate", "emb_cosine_topk",
    "emb_ivf_assign", "emb_ivf_topk",
]


class Ctx:
    """What a workload sees of the run: the live session, its listener,
    the core count, the scratch and cache dirs, the seed and, on
    traced runs, the tracer."""

    def __init__(self, spark, listener, cores: int, scratch: str, cache: str, seed: int, tracer=None):
        self.spark = spark
        self.listener = listener
        self.cores = cores
        self.scratch = scratch
        self.cache = cache
        self.seed = seed
        self.variant = seed % VARIANTS
        self.tracer = tracer

    def entry_span(self, name: str):
        import contextlib

        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, "streaming", "entry")


def feed_dirs(cache: str, variant: int) -> tuple[str, str]:
    """(events dataset dir, feed dir) of the drains' input variant."""
    return (os.path.join(cache, f"events-sf{STREAM_SF}-v{variant}"),
            os.path.join(cache, f"feed-r{REPLICAS}-n{N_SLICES}-d{DUP_SEED}-v{variant}"))


def _stream_op(ctx: Ctx, ckpt: str, due: dict[str, float] | None, start_due: bool) -> dict:
    """Progress, per-file latency and wall of one finished stream run."""
    qid = checkpoint_query_id(ckpt)
    progress = ctx.listener.wait_for(qid, committed_batch_ids(ckpt))
    started = ctx.listener.started[qid]
    batch_of = file_batches(ckpt)
    if start_due:
        due = {f: started for f in due}
    ends = batch_ends(progress)
    lat = file_latencies(due, batch_of, ends)
    if ctx.tracer is not None:
        from harness import epoch_s
        from trace import progress_spans

        progress_spans(ctx.tracer, progress, epoch_s)
    return {
        "progress": progress,
        "latencies": lat,
        "start": min(due.values()),
        "end": max(ends[b] for b in set(batch_of.values())),
        "files_per_batch": len(batch_of) / max(1, len(set(batch_of.values()))),
        "checkpoint_mb": dir_mb(ckpt),
    }


class Drain:
    """Closed-loop ``availableNow`` drain of the replicated feed."""

    entry_name = ""
    op = "one availableNow drain"
    generate_needs_spark = True

    def events_per_op(self, ops: list[dict]) -> float:
        return median([op["events"] for op in ops])

    def entry(self):
        raise NotImplementedError

    def reference(self, feed):
        raise NotImplementedError

    def actual(self, spark, table_dir: str):
        raise NotImplementedError

    def _ref_path(self, cache: str, variant: int) -> str:
        return os.path.join(feed_dirs(cache, variant)[1], f"_ref_{type(self).__name__}.json")

    def ready(self, cache: str, variant: int) -> bool:
        return os.path.exists(self._ref_path(cache, variant))

    def generate(self, spark, cache: str, variant: int) -> None:
        sf_dir, feed_dir = feed_dirs(cache, variant)
        make_dataset(sf_dir, STREAM_SF, variant)
        make_feed(spark, sf_dir, feed_dir, REPLICAS, N_SLICES, DUP_SEED)
        ref = self.reference(spark.read.parquet(feed_dir))
        with open(self._ref_path(cache, variant), "w") as f:
            json.dump(ref, f)

    def prepare(self, ctx: Ctx) -> None:
        self.feed_dir = feed_dirs(ctx.cache, ctx.variant)[1]
        with open(os.path.join(self.feed_dir, "_meta.json")) as f:
            self.meta = json.load(f)
        with open(self._ref_path(ctx.cache, ctx.variant)) as f:
            self.expected = tuple(json.load(f))
        self.warm_dir = os.path.join(ctx.scratch, "warm_feed")
        remove(self.warm_dir)
        os.makedirs(self.warm_dir)
        first = self.meta["files"][0]
        rows = pq.read_table(os.path.join(self.feed_dir, first)).slice(0, WARM_ROWS)
        pq.write_table(rows, os.path.join(self.warm_dir, first))

    def warmup(self, ctx: Ctx) -> None:
        wd = os.path.join(ctx.scratch, "warm")
        self.entry()(ctx.spark, self.warm_dir, wd, n_partitions=ctx.cores,
                     files_per_trigger=FILES_PER_TRIGGER)
        remove(wd)

    def measure(self, ctx: Ctx, seconds: float) -> list[dict]:
        ops: list[dict] = []
        while not ops or sum(op["wall"] for op in ops) < seconds:
            wd = os.path.join(ctx.scratch, f"drain{len(ops)}")
            with ctx.entry_span(self.entry_name):
                res = self.entry()(ctx.spark, self.feed_dir, wd, n_partitions=ctx.cores,
                                   files_per_trigger=FILES_PER_TRIGGER)
            op = _stream_op(ctx, os.path.join(wd, "ckpt"), dict.fromkeys(self.meta["files"]), True)
            op["wall"] = op["end"] - op["start"]
            op["events"] = self.meta["events"]
            op["table_mb"] = dir_mb(os.path.join(wd, "table"))
            got = self.actual(ctx.spark, os.path.join(wd, "table"))
            op["attempted"] = 1
            op["failed"] = int(got != self.expected or res["events"] != self.meta["events"])
            remove(wd)
            ops.append(op)
            log(f"drain {len(ops)}: {op['wall']:.2f}s, {op['events'] / op['wall']:.0f} events/s")
        return ops

    def metrics(self, ops: list[dict]) -> dict:
        return {"events_per_s": median([op["events"] / op["wall"] for op in ops])}

    def wall(self, ops: list[dict]) -> float:
        return median([op["wall"] for op in ops])


class DedupDrain(Drain):
    entry_name = "run_dedup_sink"

    def entry(self):
        from dstream_spark.bench_pipeline import run_dedup_sink

        return run_dedup_sink

    def reference(self, feed):
        return dedup_reference(feed)

    def actual(self, spark, table_dir):
        return dedup_actual(spark, table_dir)


class WindowDrain(Drain):
    entry_name = "run_window_sink"

    def entry(self):
        from dstream_spark.bench_pipeline import run_window_sink

        return run_window_sink

    def reference(self, feed):
        return window_reference(feed)

    def actual(self, spark, table_dir):
        return window_actual(spark, table_dir)


class Linker(threading.Thread):
    """Open-loop generator: hard-links file i into the watched dir at
    ``t0 + i / rate`` and records when it really landed."""

    def __init__(self, src_dir: str, dst_dir: str, names: list[str], rate: float, t0: float):
        super().__init__(name="perfbench-linker", daemon=True)
        self.src_dir, self.dst_dir, self.names = src_dir, dst_dir, names
        self.rate, self.t0 = rate, t0
        self.due: dict[str, float] = {}
        self.lag: list[float] = []
        self.stop_event = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, name in enumerate(self.names):
                due = self.t0 + i / self.rate
                if self.stop_event.wait(max(0.0, due - time.time())):
                    return
                os.link(os.path.join(self.src_dir, name), os.path.join(self.dst_dir, name))
                self.due[name] = due
                self.lag.append(time.time() - due)
        except BaseException as e:  # surfaced by the caller after join()
            self.error = e


class Trickle:
    """The dedup job as a long-running ``Pipeline`` (processingTime
    trigger) fed by the open-loop linker."""

    op = "one trickle run"
    generate_needs_spark = True

    def events_per_op(self, ops: list[dict]) -> float:
        return ops[0]["events"]

    @staticmethod
    def _src_dir(cache: str, variant: int) -> str:
        return os.path.join(cache, f"trickle-n{TRICKLE_FILES}-d{DUP_SEED}-v{variant}")

    def ready(self, cache: str, variant: int) -> bool:
        return os.path.exists(os.path.join(self._src_dir(cache, variant), "_meta.json"))

    def generate(self, spark, cache: str, variant: int) -> None:
        sf_dir = feed_dirs(cache, variant)[0]
        make_dataset(sf_dir, STREAM_SF, variant)
        make_trickle(spark, sf_dir, self._src_dir(cache, variant), TRICKLE_FILES, DUP_SEED)

    def prepare(self, ctx: Ctx) -> None:
        self.src_dir = self._src_dir(ctx.cache, ctx.variant)
        with open(os.path.join(self.src_dir, "_meta.json")) as f:
            self.meta = json.load(f)
        self.warm_dir = os.path.join(ctx.scratch, "warm_feed")
        remove(self.warm_dir)
        os.makedirs(self.warm_dir)
        for i in range(TRICKLE_WARM_FILES):
            name = f"part_{i:05d}.parquet"
            os.link(os.path.join(self.src_dir, name), os.path.join(self.warm_dir, name))

    def warmup(self, ctx: Ctx) -> None:
        from dstream_spark.bench_pipeline import run_dedup_sink

        wd = os.path.join(ctx.scratch, "warm")
        run_dedup_sink(ctx.spark, self.warm_dir, wd, n_partitions=ctx.cores,
                       files_per_trigger=TRICKLE_WARM_FILES)
        remove(wd)

    def measure(self, ctx: Ctx, seconds: float) -> list[dict]:
        from dstream_spark.bench_pipeline import transform_stage
        from dstream_spark.operators.dedup import dedup_stream
        from dstream_spark.sinks.merge import MergeSink
        from dstream_spark.streaming.pipeline import Pipeline

        n_files = min(TRICKLE_FILES, max(TRICKLE_MIN_FILES, int(TRICKLE_RATE * seconds)))
        names = [f"part_{i:05d}.parquet" for i in range(n_files)]
        wd = os.path.join(ctx.scratch, "trickle")
        watch, table, ckpt = (os.path.join(wd, d) for d in ("watch", "table", "ckpt"))
        remove(wd)
        os.makedirs(watch)
        ctx.spark.conf.set("spark.sql.shuffle.partitions", str(ctx.cores))
        pipe = Pipeline(ctx.spark, {
            "name": "perfbench_trickle",
            "source": {"type": "changefeed", "path": watch, "max_files_per_trigger": TRICKLE_FILES},
            "transforms": [lambda df: dedup_stream(df, watermark="30 minutes"), transform_stage],
            "sink": {"type": "merge", "sink": MergeSink(table, n_partitions=ctx.cores)},
            "checkpoint_dir": ckpt,
            "trigger": {"processingTime": TRICKLE_TRIGGER},
        })
        with ctx.entry_span("Pipeline.run"):
            query = pipe.run()
            linker = Linker(self.src_dir, watch, names, TRICKLE_RATE, time.time() + 0.5)
            linker.start()
            linker.join()
            query.processAllAvailable()
            pipe.stop()
        if linker.error is not None:
            raise linker.error
        op = _stream_op(ctx, ckpt, linker.due, False)
        events = sum(self.meta["files"][:n_files])
        progress = [p for p in op["progress"] if p.get("numInputRows", 0) > 0]
        op.update(
            wall=op["end"] - op["start"],
            events=events,
            busy_s=sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000.0,
            gen_lag_p90_s=quantile(linker.lag, 0.9),
            table_mb=dir_mb(table),
            attempted=n_files,
        )
        ok = dedup_actual(ctx.spark, table) == dedup_reference(ctx.spark.read.parquet(watch))
        op["failed"] = 0 if ok else n_files
        remove(wd)
        return [op]

    def metrics(self, ops: list[dict]) -> dict:
        op = ops[0]
        return {
            "events_per_s": op["events"] / op["wall"],
            "latency_p50_s": quantile(op["latencies"], 0.5),
            "latency_p90_s": quantile(op["latencies"], 0.9),
        }

    def wall(self, ops: list[dict]) -> float:
        return ops[0]["busy_s"]


class Headline:
    """The 25 headline registry queries, each run once per pass."""

    op = "one pass over the 25 queries"
    generate_needs_spark = False

    def events_per_op(self, ops: list[dict]) -> float:
        return sum(op["input_rows"] for op in ops)

    @staticmethod
    def _sf_dir(cache: str, variant: int) -> str:
        return os.path.join(cache, f"dataset-sf{BATCH_SF}-v{variant}")

    def ready(self, cache: str, variant: int) -> bool:
        return os.path.exists(os.path.join(self._sf_dir(cache, variant), "_meta.json"))

    def generate(self, spark, cache: str, variant: int) -> None:
        make_dataset(self._sf_dir(cache, variant), BATCH_SF, variant)

    def prepare(self, ctx: Ctx) -> None:
        self.sf_dir = self._sf_dir(ctx.cache, ctx.variant)
        self.rows = make_dataset(self.sf_dir, BATCH_SF, ctx.variant)
        with open(os.path.join(HERE, "expected.json")) as f:
            exp = json.load(f)
        self.expected = exp["variants"][str(ctx.variant)]
        self.tables = exp["tables"]

    def _run(self, ctx: Ctx, name: str):
        """One execution of ``name``, collected to Arrow: (wall, table)."""
        from dstream_spark.queries import QUERIES

        t0 = time.perf_counter()
        table = QUERIES[name].fn(ctx.spark, self.sf_dir).toArrow()
        return time.perf_counter() - t0, table

    def warmup(self, ctx: Ctx) -> None:
        self._run(ctx, "relay_identity")

    def measure(self, ctx: Ctx, seconds: float) -> list[dict]:
        """Passes over the 25 queries until ``seconds`` of them are
        timed, at least one. As in bench.py the first pass runs each
        query once in a session warmed by ``relay_identity``; unlike
        bench.py it collects the result (to Arrow) instead of writing
        it to noop, so that every execution's output is checked
        without running it twice. The check is not timed."""
        ops = [
            {"name": name, "walls": [], "attempted": 0, "failed": 0,
             "input_rows": sum(self.rows[t] for t in self.tables[name])}
            for name in HEADLINE
        ]
        sc = ctx.spark.sparkContext
        n_pass = 0
        while not n_pass or sum(sum(op["walls"]) for op in ops) < seconds:
            for op in ops:
                if ctx.tracer is None:
                    wall, table = self._run(ctx, op["name"])
                else:
                    sc.setJobGroup(op["name"], op["name"])
                    with ctx.tracer.span(op["name"], "queries", "query", pass_no=n_pass):
                        wall, table = self._run(ctx, op["name"])
                op["walls"].append(wall)
                op["attempted"] += 1
                op["failed"] += int(list(arrow_fingerprint(table)) != self.expected[op["name"]])
            n_pass += 1
            log(f"pass {n_pass}: {sum(op['walls'][-1] for op in ops):.2f}s")
        if ctx.tracer is not None:
            sc.setJobGroup("perfbench", "after the passes")
        return ops

    def metrics(self, ops: list[dict]) -> dict:
        """Throughput of a pass: input rows of the tables each query
        reads, summed over the 25, over the summed per-query median
        walls (the summed query wall, as a rate)."""
        return {"events_per_s": sum(op["input_rows"] for op in ops) / self.wall(ops)}

    def wall(self, ops: list[dict]) -> float:
        return sum(median(op["walls"]) for op in ops)


WORKLOADS = {
    "cdc_dedup_drain": DedupDrain,
    "cdc_window_drain": WindowDrain,
    "cdc_trickle": Trickle,
    "batch_headline": Headline,
}
