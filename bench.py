"""Engine benchmark. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "stream": {...events/sec for the north-star CDC jobs...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default 32).

Headline set = the engine's core operators (CDC/window/join/skew
family on the derived transcript stream, relational TPC-H subset,
dedup/similarity training-data ops) timed to a noop sink (full plan
execution, no collect cost), plus the two streaming pipelines from
dstream_spark.bench_pipeline measured end-to-end in events/sec —
the BASELINE.json metric. Scaling evidence (N vs 4N cores) is
produced by tools/scaling_bench.py into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dstream_spark.queries import QUERIES  # noqa: E402
from dstream_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "relay_identity",
    "cdc_dedup",
    "cdc_latest_state",
    "tumbling_counts",
    "sliding_counts",
    "session_windows",
    "tool_correlation",
    "skew_salted_agg",
    "lineage_summary",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "top_events_per_user",
    "docs_token_stats",
    "docs_fingerprint",
    "docs_minhash_bands",
    "docs_minhash_pairs",
    "docs_simhash",
    "docs_simhash_dups",
    "docs_simhash_wide_dups",
    "docs_decontaminate",
    "emb_cosine_topk",
    "emb_ivf_assign",
    "emb_ivf_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # heap sized to parallelism (1.5g/core): micro-batch persist + state
    # store + 32-way shuffle at 8g heap GC-thrashes (measured 27.5k/s
    # vs 197k/s at 48g for the same 32-core job)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(8, cores * 3 // 2)}g")
    spark = get_spark(app_name="dstream_bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    # north-star streaming pipelines (events/sec) — measured FIRST:
    # the heavy similarity headline queries leave the heap fragmented
    # and drag streaming throughput ~2x if run before (measured; the
    # driver-comparable stream number needs the clean JVM)
    from dstream_spark.bench_pipeline import build_feed, run_dedup_sink, run_window_sink

    # replicas=40 (4.4M events at sf0.1): at 1.1M the per-micro-batch
    # fixed costs (state-store commit, epoch overhead) dominate and the
    # events/s number mostly measures noise — 48k/71k at 1.1M vs
    # 116k/186k at 4.4M for identical code (BENCH/NOTES.md)
    replicas = int(os.environ.get("DSTREAM_BENCH_REPLICAS", "40"))
    feed_dir = os.environ.get(
        "DSTREAM_BENCH_FEED", f"/tmp/dstream_bench_feed_{sf}_r{replicas}"
    )
    build_feed(spark, sf_dir, feed_dir, replicas=replicas, n_slices=16)

    def drain(fn, tag: str) -> dict:
        # a fresh work dir per run, removed after it; only the feed is
        # reused across runs (a run's table and checkpoint are ~100 MB)
        work_dir = tempfile.mkdtemp(prefix=f"dstream_bench_{tag}_")
        try:
            return fn(spark, feed_dir, work_dir, n_partitions=cores)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    # steady-state protocol (BENCH/NOTES.md): first streaming run in a
    # JVM pays JIT/codegen/state-store init — warm once, then measure
    drain(run_dedup_sink, "warm")

    def best_of(fn, tag: str, n: int = 2) -> dict:
        # best-of-n with the MEDIAN alongside: the host shows 5%+ steal
        # at idle and 3x run-to-run swings (BENCH/NOTES.md), so best is
        # the engine's number, median the honest-noise companion the r3
        # verdict asked for
        import statistics

        runs = [drain(fn, tag) for _ in range(n)]
        best = max(runs, key=lambda r: r["events_per_sec"])
        best["all_events_per_sec"] = [r["events_per_sec"] for r in runs]
        best["median_events_per_sec"] = round(
            statistics.median(r["events_per_sec"] for r in runs), 1
        )
        return best

    stream = {
        # dedup is the headline (BASELINE.json metric) and the noisier
        # job (RocksDB state + MERGE sink): 5 samples (the r3 spread was
        # 3x over 3 samples); window is the stabler job, 3 samples
        "dedup_sink": best_of(run_dedup_sink, "dedup", n=5),
        "window_sink": best_of(run_window_sink, "window", n=3),
    }

    # warm the JVM/file cache so per-query numbers measure the engine
    QUERIES["relay_identity"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    def probe() -> float:
        # host-epoch sanity probe (r4 verdict task #8): docs_token_stats
        # measured 0.39 s vs 0.97 s in fresh sessions 20 min apart on a
        # quiet VM — bracketing the headline pass with this one number
        # makes cross-round per-query comparisons interpretable
        t0 = time.time()
        QUERIES["docs_token_stats"].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.time() - t0, 3)

    probe_pre = probe()
    per_query: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        per_query[name] = round(time.time() - t0, 3)
    probe_post = probe()

    total = round(sum(per_query.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                "cores": cores,
                "stream": stream,
                "epoch_probe": {"pre_s": probe_pre, "post_s": probe_post},
            }
        )
    )


if __name__ == "__main__":
    main()
