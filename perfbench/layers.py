"""Per-layer metrics of a traced run: the sink wrappers that produce
sink spans, the side measurement a trace adds, and the reduction of
spans, progress and event-log counters to the ``per_layer`` metrics.

The trace file holds every metric of ``names()``; a layer a workload
does not exercise reads 0 there. The result line prints ``PRINTED``,
the metrics that every gated workload exercises, so none of them reads
a constant 0 (the stream-only and batch-only layers are in the trace
file and the layer report)."""

from __future__ import annotations

import time
from collections import defaultdict

from harness import median

SELF_LAYERS = ("sources", "streaming", "sinks", "queries", "exec")


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    from workloads import HEADLINE

    return [
        "session.get_spark_s",
        "sources.latest_offset_ms", "sources.files_per_batch",
        "streaming.batches", "streaming.trigger_ms", "streaming.planning_ms",
        "streaming.add_batch_ms", "streaming.wal_commit_ms",
        "gen.lag_p90_s",
        "operators.state_rows", "operators.state_memory_bytes", "operators.state_commit_ms",
        "operators.rows_dropped_by_watermark", "operators.checkpoint_mb",
        "operators.rocksdb_flush_ms", "operators.rocksdb_checkpoint_ms",
        "operators.rocksdb_sst_bytes",
        "functions.transform_s",
        "functions.python_init_s", "functions.python_run_s",
        "functions.python_bytes_to", "functions.python_bytes_from",
        "sinks.process_batch_s", "sinks.pre_publish_s", "sinks.write_data_s",
        "sinks.write_lineage_s", "sinks.commit_s", "sinks.jobs_per_epoch", "sinks.table_mb",
        "queries.plan_s", "queries.exec_s",
        *[f"queries.{q}_s" for q in HEADLINE],
        "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_bytes",
        "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.tasks", "exec.jobs",
        "exec.stage_skew_max", "exec.peak_rss_mb",
        *[f"self.{layer}_s" for layer in SELF_LAYERS],
        "trace.wall_s", "trace.attributed_share", "trace.untraced_wall_s", "trace.overhead_pct",
    ]


# the per_layer metrics of BENCHMARK.json, in its order
PRINTED = (
    "session.get_spark_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.tasks", "exec.jobs", "exec.stage_skew_max", "exec.peak_rss_mb",
    "self.exec_s",
    "trace.wall_s", "trace.attributed_share", "trace.untraced_wall_s", "trace.overhead_pct",
)


def install_sink_wrappers(tracer):
    """Class-level wrappers: ``MergeSink.process_batch`` and every commit
    protocol's ``publish``, which also times the ``write_data`` and
    ``write_lineage`` callables it is given. Returns the undo."""
    from dstream_spark.sinks import merge

    orig_pb = merge.MergeSink.process_batch
    saved = [(merge.MergeSink, "process_batch", orig_pb)]

    def process_batch(self, batch_df, batch_id):
        with tracer.span("process_batch", "sinks", "process_batch", batch=int(batch_id)):
            return orig_pb(self, batch_df, batch_id)

    merge.MergeSink.process_batch = process_batch
    for cls in set(merge.PROTOCOLS.values()):
        saved.append((cls, "publish", cls.publish))

        def publish(self, batch_id, write_data, write_lineage, _orig=cls.publish):
            def data(path):
                with tracer.span("write_data", "sinks", "callable"):
                    return write_data(path)

            def lineage(path):
                with tracer.span("write_lineage", "sinks", "callable"):
                    return write_lineage(path)

            with tracer.span("publish", "sinks", "publish"):
                return _orig(self, batch_id, data, lineage)

        cls.publish = publish

    def restore():
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)

    return restore


def side_measurements(workload: str, wl, ctx) -> dict:
    """``functions.transform_s``: ``transform_stage`` alone over the
    batch-deduped feed, written to noop (the dedup workloads only)."""
    if workload not in ("cdc_dedup_drain", "cdc_trickle"):
        return {}
    from dstream_spark.bench_pipeline import transform_stage

    feed_dir = wl.feed_dir if workload == "cdc_dedup_drain" else wl.src_dir
    deduped = ctx.spark.read.parquet(feed_dir).dropDuplicates(["conv_id", "turn_idx"]).cache()
    deduped.count()
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        transform_stage(deduped).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    deduped.unpersist()
    return {"functions.transform_s": median(walls)}


def _progress_metrics(ops: list[dict], n_ops: int) -> dict:
    out: dict[str, float] = {}
    prog = [p for op in ops for p in op["progress"]]
    d = [p.get("durationMs", {}) for p in prog]
    out["streaming.batches"] = len(prog) / n_ops
    out["streaming.trigger_ms"] = median([x.get("triggerExecution", 0) for x in d])
    out["streaming.planning_ms"] = median([x.get("queryPlanning", 0) for x in d])
    out["streaming.add_batch_ms"] = median([x.get("addBatch", 0) for x in d])
    out["streaming.wal_commit_ms"] = median(
        [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]
    )
    out["sources.latest_offset_ms"] = median(
        [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]
    )
    out["sources.files_per_batch"] = median([op["files_per_batch"] for op in ops])
    states = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    if states:
        custom = [s.get("customMetrics", {}) for s in states]
        out["operators.state_rows"] = max(s.get("numRowsTotal", 0) for s in states)
        out["operators.state_memory_bytes"] = max(s.get("memoryUsedBytes", 0) for s in states)
        out["operators.state_commit_ms"] = sum(s.get("commitTimeMs", 0) for s in states) / n_ops
        out["operators.rows_dropped_by_watermark"] = (
            sum(s.get("numRowsDroppedByWatermark", 0) for s in states) / n_ops
        )
        out["operators.rocksdb_flush_ms"] = (
            sum(c.get("rocksdbCommitFlushLatency", 0) for c in custom) / n_ops
        )
        out["operators.rocksdb_checkpoint_ms"] = (
            sum(c.get("rocksdbCommitCheckpointLatency", 0) for c in custom) / n_ops
        )
        out["operators.rocksdb_sst_bytes"] = max(c.get("rocksdbSstFileSize", 0) for c in custom)
    out["operators.checkpoint_mb"] = median([op["checkpoint_mb"] for op in ops])
    out["sinks.table_mb"] = median([op["table_mb"] for op in ops])
    if "gen_lag_p90_s" in ops[0]:
        out["gen.lag_p90_s"] = ops[0]["gen_lag_p90_s"]
    return out


def _span_metrics(spans: list[dict], n_ops: int) -> dict:
    from trace import attribution, layer_self_times

    out: dict[str, float] = defaultdict(float)
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    def under(s, kind):
        p = s["parent"]
        while p is not None:
            if by_id[p]["kind"] == kind:
                return True
            p = by_id[p]["parent"]
        return False

    pbs = [s for s in spans if s["kind"] == "process_batch"]
    pubs = [s for s in spans if s["kind"] == "publish"]
    out["sinks.process_batch_s"] = sum(map(dur, pbs)) / n_ops
    out["sinks.pre_publish_s"] = (sum(map(dur, pbs)) - sum(map(dur, pubs))) / n_ops
    out["sinks.commit_s"] = sum(s["self_s"] for s in pubs) / n_ops
    for name in ("write_data", "write_lineage"):
        out[f"sinks.{name}_s"] = sum(dur(s) for s in spans if s["name"] == name) / n_ops
    jobs = [s for s in spans if s["kind"] == "job"]
    if pbs:
        out["sinks.jobs_per_epoch"] = sum(under(j, "process_batch") for j in jobs) / len(pbs)
    for q in (s for s in spans if s["kind"] == "query"):
        qjobs = [j for j in jobs if j["parent"] == q["id"]]
        first = min((j["start"] for j in qjobs), default=q["end"])
        out["queries.plan_s"] += (first - q["start"]) / n_ops
        out["queries.exec_s"] += sum(map(dur, qjobs)) / n_ops
    for layer, t in layer_self_times(spans).items():
        if layer in SELF_LAYERS:
            out[f"self.{layer}_s"] = t / n_ops
    wall, share = attribution(spans)
    out["trace.wall_s"] = wall / n_ops
    out["trace.attributed_share"] = share
    return dict(out)


def per_layer(workload: str, wl, ops, untraced_ops, spans, counters, extra, get_spark_s) -> dict:
    """All per-layer metrics; times and counters are per operation (a
    drain, a trickle run, a pass over the headline queries)."""
    batch = workload == "batch_headline"
    n_ops = len(ops[0]["walls"]) if batch else len(ops)
    out = dict.fromkeys(names(), 0.0)
    out["session.get_spark_s"] = get_spark_s
    if batch:
        for op in ops:
            out[f"queries.{op['name']}_s"] = median(op["walls"])
    else:
        out.update(_progress_metrics(ops, n_ops))
    out.update(_span_metrics(spans, n_ops))
    for k, v in counters.items():
        out[k] = v if k == "exec.stage_skew_max" else v / n_ops
    out.update(extra)
    base = wl.wall(untraced_ops)
    out["trace.untraced_wall_s"] = base
    out["trace.overhead_pct"] = (wl.wall(ops) / base - 1.0) * 100.0
    unknown = set(out) - set(names())
    if unknown:
        raise KeyError(f"metrics outside the per-layer list: {sorted(unknown)}")
    return out
