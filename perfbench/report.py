"""Layer report: runs the traced workloads and writes REPORT.md.

    python3 perfbench/report.py [--seed 42] [--seconds 5]

Runs, one process each, ``run.py --trace 1`` on cdc_dedup_drain at all
usable cores and at one core, cdc_window_drain, cdc_trickle and
batch_headline, then reads their trace files from
``perfbench/_work/traces/``. For every workload the report gives the
wall of one operation, the share of it that named spans account for,
the tracing overhead against the same run's untraced operations, each
layer's self time and the counters -- every ratio next to its base.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TRACES = os.path.join(HERE, "_work", "traces")

RUNS = [
    ("cdc_dedup_drain", 0),
    ("cdc_dedup_drain", 1),
    ("cdc_window_drain", 0),
    ("cdc_trickle", 0),
    ("batch_headline", 0),
]
SELF_LAYERS = ("sources", "streaming", "sinks", "queries", "exec")
COUNTERS = (
    "streaming.batches", "streaming.trigger_ms", "streaming.planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "sources.latest_offset_ms", "sources.files_per_batch",
    "gen.lag_p90_s", "operators.state_rows", "operators.state_memory_bytes",
    "operators.state_commit_ms", "operators.checkpoint_mb", "functions.transform_s",
    "functions.python_init_s", "functions.python_run_s", "functions.python_bytes_to",
    "functions.python_bytes_from", "sinks.process_batch_s", "sinks.pre_publish_s",
    "sinks.write_data_s", "sinks.write_lineage_s", "sinks.commit_s", "sinks.jobs_per_epoch",
    "sinks.table_mb", "queries.plan_s", "queries.exec_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.tasks",
    "exec.stage_skew_max",
)


def run_traced(workload: str, cores: int, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1"]
    if cores:
        cmd += ["--cores", str(cores)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    n = cores or len(os.sched_getaffinity(0))
    with open(os.path.join(TRACES, f"{workload}-s{seed}-c{n}.json")) as f:
        trace = json.load(f)["report"]
    trace["correct"] = result["correct"]
    return trace


def fmt(v: float) -> str:
    if v == 0:
        return "0"
    if abs(v) >= 1000:
        return f"{v:,.0f}"
    return f"{v:.3g}"


def section(t: dict) -> list[str]:
    m = t["metrics"]
    wall = m["trace.wall_s"]
    e2e = t["end_to_end_untraced"]
    lines = [
        f"### {t['workload']} (local[{t['cores']}], seed {t['seed']}, outputs "
        f"{'correct' if t['correct'] else 'WRONG'})",
        "",
        f"- one operation ({t['op']}): traced wall {wall:.3f} s; named spans cover "
        f"{100 * m['trace.attributed_share']:.1f}% of it",
        f"- tracing overhead: {m['trace.overhead_pct']:+.1f}% on the operation wall "
        f"(untraced {m['trace.untraced_wall_s']:.3f} s, same process)",
        f"- untraced end-to-end: " + ", ".join(f"{k} {fmt(v)}" for k, v in e2e.items()),
        "",
        "| layer | self time per operation (s) | share of the traced wall |",
        "| --- | ---: | ---: |",
    ]
    for layer in SELF_LAYERS:
        v = m[f"self.{layer}_s"]
        if v:
            lines.append(f"| {layer} | {v:.3f} | {100 * v / wall:.1f}% of {wall:.3f} s |")
    lines += ["", "| counter (per operation) | value |", "| --- | ---: |"]
    lines += [f"| {k} | {fmt(m[k])} |" for k in COUNTERS if m.get(k)]
    top = sorted(((k, v) for k, v in m.items() if k.startswith("queries.") and k.count(".") == 1
                  and k not in ("queries.plan_s", "queries.exec_s") and v), key=lambda kv: -kv[1])
    if top:
        lines += ["", "Slowest queries (s): " + ", ".join(f"{k[8:-2]} {v:.3f}" for k, v in top[:6])]
    return lines + [""]


def gap(dedup: dict, window: dict) -> list[str]:
    """Where the dedup drain's extra time per event goes, layer by layer."""
    ed, ew = dedup["events_per_op"], window["events_per_op"]
    md, mw = dedup["metrics"], window["metrics"]
    keys = ["sinks.write_data_s", "sinks.write_lineage_s", "sinks.pre_publish_s", "sinks.commit_s",
            "operators.state_commit_ms", "exec.cpu_s", "exec.shuffle_write_bytes", "sinks.table_mb",
            "operators.checkpoint_mb", "functions.transform_s"]
    lines = [
        "### Where the dedup drain's extra time goes (vs the window drain)",
        "",
        f"Both drain the same feed ({fmt(ed)} events per drain). Drain wall: dedup "
        f"{md['trace.wall_s']:.3f} s, window {mw['trace.wall_s']:.3f} s "
        f"(ratio {md['trace.wall_s'] / mw['trace.wall_s']:.2f}, base: the window drain).",
        "",
        "| per drain | dedup | window | dedup minus window |",
        "| --- | ---: | ---: | ---: |",
    ]
    for k in keys:
        lines.append(f"| {k} | {fmt(md[k])} | {fmt(mw[k])} | {fmt(md[k] - mw[k])} |")
    for layer in SELF_LAYERS:
        k = f"self.{layer}_s"
        if md[k] or mw[k]:
            lines.append(f"| {k} | {fmt(md[k])} | {fmt(mw[k])} | {fmt(md[k] - mw[k])} |")
    return lines + [""]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5.0)
    args = ap.parse_args()
    traces = {(w, c): run_traced(w, c, args.seed, args.seconds) for w, c in RUNS}
    n = len(os.sched_getaffinity(0))
    one, many = traces[("cdc_dedup_drain", 1)], traces[("cdc_dedup_drain", 0)]
    eps1, epsn = one["end_to_end_untraced"]["events_per_s"], many["end_to_end_untraced"]["events_per_s"]
    lines = [
        "# Layer report",
        "",
        f"Written by `python3 perfbench/report.py --seed {args.seed} --seconds {args.seconds:g}` "
        f"on a {n}-core host. Each section is one traced run; times and counters are per "
        "operation (a drain, a trickle run, a pass over the 25 queries).",
        "",
        "## Scaling diagnostic (not gated)",
        "",
        f"cdc_dedup_drain untraced: {fmt(eps1)} events/s at local[1], {fmt(epsn)} events/s at "
        f"local[{n}]: speed-up {epsn / eps1:.2f} over the single-core run (base), "
        f"{100 * epsn / eps1 / n:.0f}% of linear.",
        "",
        "## Workloads",
        "",
    ]
    for key in RUNS:
        lines += section(traces[key])
    lines += gap(many, traces[("cdc_window_drain", 0)])
    with open(os.path.join(HERE, "REPORT.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
