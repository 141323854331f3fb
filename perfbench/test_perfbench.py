"""Fast tests of the benchmark's own parts, on tiny inputs:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import trace  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from dstream_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", cores=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# -- generator -------------------------------------------------------------


def test_dataset_is_deterministic_per_seed():
    a = gen.dataset_tables(0.001, 3)
    b = gen.dataset_tables(0.001, 3)
    c = gen.dataset_tables(0.001, 4)
    assert sorted(a) == sorted(gen.ROWS_PER_SF.keys() - {"users"} | {"region", "nation"})
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["events"].equals(c["events"])
    assert a["events"].num_rows == 1000 and a["documents"].num_rows == 500


def test_cut_points_never_split_equal_timestamps():
    ts = np.array([1, 1, 1, 2, 2, 3, 3, 3, 3, 4, 5, 5])
    cuts = gen.cut_points(ts, 5)
    assert cuts[0] == 0 and cuts[-1] == len(ts)
    assert cuts == sorted(set(cuts))
    for c in cuts[1:-1]:
        assert ts[c] != ts[c - 1]


def test_feed_matches_build_feed_at_default_seed(spark, tmp_path):
    """The drains' feed at the default --seed, made exactly as a run
    makes it, holds build_feed's rows (same events table, bench.py's
    shape and sample seed), so the two sets of stream numbers stand
    side by side."""
    import run
    import workloads
    from dstream_spark.bench_pipeline import build_feed

    variant = run.parse_args(["--workload", "cdc_dedup_drain"]).seed % workloads.VARIANTS
    cache = str(tmp_path)
    wl = workloads.DedupDrain()
    assert not wl.ready(cache, variant)
    wl.generate(spark, cache, variant)
    assert wl.ready(cache, variant)
    sf_dir, feed_dir = workloads.feed_dirs(cache, variant)
    n = build_feed(spark, sf_dir, str(tmp_path / "theirs"), replicas=workloads.REPLICAS,
                   n_slices=workloads.N_SLICES)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "_change_type", "_commit_version"]
    ours = checks.fingerprint(spark.read.parquet(feed_dir), cols)
    theirs = checks.fingerprint(spark.read.parquet(str(tmp_path / "theirs")), cols)
    with open(os.path.join(feed_dir, "_meta.json")) as f:
        assert json.load(f)["events"] == n == ours[0]
    assert ours == theirs


def test_printed_metrics_match_benchmark_json():
    import layers
    import run

    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PRINTED)
    assert set(layers.PRINTED) <= set(layers.names())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: run.layer_unit(k) for k in layers.PRINTED
    }


# -- latency reducer -------------------------------------------------------


def _write_source_log(ckpt, entries_by_file):
    d = ckpt / "sources" / "0"
    d.mkdir(parents=True)
    for fname, entries in entries_by_file.items():
        lines = ["v1"] + [
            json.dumps({"path": f"file:///w/{p}", "timestamp": 0, "batchId": b, "action": "add"})
            for p, b in entries
        ]
        (d / fname).write_text("\n".join(lines) + "\n")


def test_latency_reducer(tmp_path):
    _write_source_log(tmp_path, {
        "0": [("a.parquet", 0), ("b.parquet", 0)],
        "1.compact": [("a.parquet", 0), ("b.parquet", 0), ("c.parquet", 1)],
        "2": [("d.parquet", 2)],
    })
    batch_of = harness.file_batches(str(tmp_path))
    assert batch_of == {"a.parquet": 0, "b.parquet": 0, "c.parquet": 1, "d.parquet": 2}
    t0 = harness.epoch_s("2024-01-01T00:00:00.000Z")
    progress = [
        {"batchId": 0, "timestamp": "2024-01-01T00:00:01.000Z", "durationMs": {"triggerExecution": 500}},
        {"batchId": 1, "timestamp": "2024-01-01T00:00:02.000Z", "durationMs": {"triggerExecution": 250}},
        {"batchId": 2, "timestamp": "2024-01-01T00:00:03.000Z", "durationMs": {"triggerExecution": 1000}},
    ]
    ends = harness.batch_ends(progress)
    due = {"a.parquet": t0, "b.parquet": t0 + 1.0, "c.parquet": t0 + 1.5, "d.parquet": t0 + 2.0}
    lat = harness.file_latencies(due, batch_of, ends)
    assert lat == pytest.approx([1.5, 0.5, 0.75, 2.0])
    assert harness.quantile(lat, 0.5) == pytest.approx(1.125)
    with pytest.raises(AssertionError, match="never committed"):
        harness.file_latencies({**due, "e.parquet": t0}, batch_of, ends)


# -- self-time arithmetic --------------------------------------------------


def test_self_time_and_attribution():
    tr = trace.Tracer("t")
    tr.add("run", "streaming", "entry", 0.0, 10.0)
    tr.add("batch 0", "streaming", "trigger", 1.0, 9.0, batch=0)
    tr.add("addBatch", "streaming", "phase", 1.5, 7.8, batch=0)
    # ends after the laid-out phase: the phase is stretched over it
    tr.add("process_batch", "sinks", "process_batch", 2.0, 7.9, batch=0)
    tr.add("publish", "sinks", "publish", 3.0, 7.0)
    tr.add("write_data", "sinks", "callable", 3.0, 5.0)
    tr.add("write_lineage", "sinks", "callable", 5.0, 6.0)
    tr.add("job 1", "exec", "job", 3.5, 4.5)
    tr.add("job 0", "exec", "job", 0.2, 0.8)  # outside any trigger
    spans = {s["name"]: s for s in trace.build_tree(tr.spans)}
    parent = {n: (spans[n]["parent"] is not None and
                  next(m for m, s in spans.items() if s["id"] == spans[n]["parent"]))
              for n in spans}
    assert parent["process_batch"] == "addBatch"
    assert parent["job 1"] == "write_data"
    assert parent["job 0"] == "run"
    assert spans["run"]["self_s"] == pytest.approx(10 - 8 - 0.6)
    assert spans["publish"]["self_s"] == pytest.approx(4 - 2 - 1)
    assert spans["write_data"]["self_s"] == pytest.approx(1.0)
    assert (spans["addBatch"]["start"], spans["addBatch"]["end"]) == (1.5, 7.9)
    assert spans["addBatch"]["self_s"] == pytest.approx(0.5)
    layers = trace.layer_self_times(list(spans.values()))
    assert layers["exec"] == pytest.approx(1.6)
    assert sum(layers.values()) == pytest.approx(10 - spans["run"]["self_s"])
    wall, share = trace.attribution(list(spans.values()))
    assert wall == 10 and share == pytest.approx(0.86)


def test_event_log_reduction():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "q1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10, "Stage IDs": [2]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
         "Task Metrics": {"Executor Run Time": ms, "Executor CPU Time": ms * 10**6,
                          "JVM GC Time": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}},
         "Task Info": {"Accumulables": [{"Name": "data returned from Python workers", "Update": 7}]}}
        for sid, ms in ((3, 100), (3, 100), (3, 400), (2, 50))
    ]
    spans, c = trace.reduce_event_log(events, 0.5, 5.0)
    assert spans == [{"job": 1, "start": 1.0, "end": 3.0, "group": "q1"}]
    assert c["exec.tasks"] == 3 and c["exec.run_s"] == pytest.approx(0.6)
    assert c["exec.shuffle_write_bytes"] == 15 and c["functions.python_bytes_from"] == 21
    assert c["exec.stage_skew_max"] == pytest.approx(4.0)


# -- output checks ---------------------------------------------------------


def _table(spark, tmp_path, rows, extra_dirs=()):
    from pyspark.sql import functions as F

    table = tmp_path / "table"
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    df.withColumn("_v", F.lit(0).cast("long")).write.parquet(str(table / "data" / "batch_id=0"))
    (table / "_lineage" / "batch_id=0").mkdir(parents=True)
    for d in extra_dirs:
        (table / "data" / d).mkdir()
    return str(table)


def test_dedup_check_catches_a_corrupted_table(spark, tmp_path):
    feed = spark.createDataFrame(
        [("c1", 1, "x"), ("c1", 1, "x"), ("c1", 2, "y"), ("c2", 1, "z")],
        "conv_id string, turn_idx int, text string",
    )
    ref = checks.dedup_reference(feed)
    good = [("c1", 1, "x"), ("c1", 2, "y"), ("c2", 1, "z")]
    assert checks.dedup_actual(spark, _table(spark, tmp_path / "ok", good)) == ref
    dup = good + [("c2", 1, "z")]
    assert checks.dedup_actual(spark, _table(spark, tmp_path / "dup", dup)) != ref
    edited = [("c1", 1, "x"), ("c1", 2, "Y"), ("c2", 1, "z")]
    assert checks.dedup_actual(spark, _table(spark, tmp_path / "edit", edited)) != ref
    stray = _table(spark, tmp_path / "stray", good, extra_dirs=["batch_id=1.tmp-0abc"])
    with pytest.raises(AssertionError, match="uncommitted"):
        checks.dedup_actual(spark, stray)


def test_window_check_reads_latest_version(spark, tmp_path):
    import datetime

    t = datetime.datetime(2024, 3, 1, 0, 10)
    feed = spark.createDataFrame(
        [("c1", t), ("c1", t + datetime.timedelta(minutes=5)), ("c2", t)],
        "conv_id string, ts timestamp_ntz",
    )
    ref = checks.window_reference(feed)
    table = tmp_path / "table"
    w0 = datetime.datetime(2024, 3, 1)
    for b, rows in enumerate([[("c1", 1), ("c2", 1)], [("c1", 2)]]):
        spark.createDataFrame(
            [(w0, c, n, b) for c, n in rows], "w_start timestamp, conv_id string, n_turns long, _v long"
        ).write.parquet(str(table / "data" / f"batch_id={b}"))
        (table / "_lineage" / f"batch_id={b}").mkdir(parents=True)
    assert checks.window_actual(spark, str(table)) == ref
    os.rename(table / "_lineage" / "batch_id=1", table / "uncommitted")
    assert checks.window_actual(spark, str(table)) != ref


def test_query_hash_matches_oracle_convention():
    import datetime

    import pyarrow as pa

    rows = [(1, 0.1 + 0.2, datetime.datetime(2024, 1, 1)), (2, None, None)]
    t = pa.table({"b": [1, 2], "a": [0.1 + 0.2, None],
                  "c": pa.array([datetime.datetime(2024, 1, 1), None], pa.timestamp("us", "UTC"))})
    n, h = checks.arrow_fingerprint(t)
    assert n == 2
    assert h == checks.hash_rows(["b", "a", "c"], rows)
    assert h == checks.hash_rows(["c", "a", "b"], [(r[2], r[1], r[0]) for r in reversed(rows)])
    assert h != checks.hash_rows(["b", "a", "c"], [(1, 0.3001, rows[0][2]), rows[1]])
