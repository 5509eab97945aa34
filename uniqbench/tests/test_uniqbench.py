"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest uniqbench/tests -q -p no:cacheprovider --basetemp=.uniqbench/pytest
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}

# sum of layer self times vs the run's wall time
SELF_TIME_TOLERANCE = 0.01


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    spec = workloads.BATCH["batch_mixed"]["input"]
    small = dict(spec, rows=5_000, keys=500)
    a = gen.write_batch(str(tmp_path / "a"), gen.batch_events(7, **small))
    b = gen.write_batch(str(tmp_path / "b"), gen.batch_events(7, **small))
    c = gen.write_batch(str(tmp_path / "c"), gen.batch_events(8, **small))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)

    p = workloads.STREAM["stream_openloop"]["phases"]["ever_stream"]
    args = (5, p["rows_per_file"], p["hot_keys"], p["zipf"], p["new_key_share"],
            p["interval_ms"])
    for i, (x, y) in enumerate(zip(gen.stream_files(3, *args), gen.stream_files(3, *args))):
        gen.write(x, str(tmp_path / f"x{i}.parquet"))
        gen.write(y, str(tmp_path / f"y{i}.parquet"))
        assert _bytes(tmp_path / f"x{i}.parquet") == _bytes(tmp_path / f"y{i}.parquet")


def test_generated_inputs_have_the_declared_properties():
    t = gen.batch_events(1, rows=20_000, keys=1_000, zipf=1.0, run_length=8, span_days=30)
    df = t.to_pandas()
    assert list(df.columns) == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert df["ts"].is_monotonic_increasing and df["ts"].is_unique
    assert df["user_id"].nunique() <= 1_000
    runs = (df["user_id"] != df["user_id"].shift()).sum()
    assert 20_000 / runs > 4  # mean run length near 8 (merged neighbours only lengthen it)

    p = workloads.STREAM["stream_openloop"]["phases"]["ever_stream"]
    files = list(gen.stream_files(1, 3, p["rows_per_file"], p["hot_keys"], p["zipf"],
                                  p["new_key_share"], p["interval_ms"]))
    seen = set()
    for i, f in enumerate(files):
        d = f.to_pandas()
        us = f.column("ts").cast("int64").to_pylist()
        assert {gen.file_index(t, p["interval_ms"]) for t in us} == {i}
        new = set(d["user_id"]) - seen - set(range(p["hot_keys"]))
        assert len(new) == round(p["rows_per_file"] * p["new_key_share"])
        seen |= set(d["user_id"])


def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert SPEC["paths"] == ["uniqbench"]
    assert SPEC["command"][1].startswith("uniqbench/")
    assert [w["name"] for w in SPEC["workloads"]] == workloads.WORKLOADS
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in SPEC["workloads"] + SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and unit.match(m["unit"])
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    assert 1 <= len(SPEC["per_layer"]) <= 128


def test_each_why_states_the_generated_input():
    whys = {w["name"]: w["why"] for w in SPEC["workloads"]}
    for name, spec in workloads.BATCH.items():
        inp = spec["input"]
        for v in (inp["rows"], inp["keys"]):
            assert f"{v // 1000}k" in whys[name]
        assert f"Zipf {inp['zipf']}" in whys[name]
    for name, spec in workloads.STREAM.items():
        for p in spec["phases"].values():
            assert f"{1000 * p['rows_per_file'] // p['interval_ms']}/s" in whys[name]


class _Progress(SimpleNamespace):
    pass


def _batch_layer_metrics():
    tracer = spans.Tracer()
    ctx = SimpleNamespace(tracer=tracer, work="/nonexistent", seed=1)
    b = workloads.Batch.__new__(workloads.Batch)
    b.ctx, b.spec = ctx, workloads.BATCH["batch_mixed"]
    b.rows = b.spec["input"]["rows"]
    per = {}
    for e in b.spec["entries"]:
        with tracer.span(f"entry.{e}", "bench") as sp:
            with tracer.span("plan", "bench"):
                with tracer.span("operators.x", "operators"):
                    pass
                with tracer.span("siddhiql.run_app", "siddhiql"):
                    with tracer.span("siddhiql.parse_app", "siddhiql"):
                        pass
            with tracer.span("exec", "bench") as ex:
                pass
        per[e] = {"span": sp["id"], "exec_s": ex["end"] - ex["start"], "rows_out": 5}
    ctx.traced = {"per_entry": per, "scan_s": 0.5, "scan_rows": 100, "overhead_frac": 0.02}
    groups = {f"{e}#plan": {"jobs": 1, "scan_nodes": 1} for e in per}
    return b.layer_metrics(groups)


def _stream_layer_metrics():
    s = workloads.Stream.__new__(workloads.Stream)
    s.ctx = SimpleNamespace(traced={"scan_s": 0.5, "scan_rows": 100})
    s.spec = workloads.STREAM["stream_openloop"]
    op = SimpleNamespace(commitTimeMs=5, numRowsTotal=10, memoryUsedBytes=100)
    prog = [_Progress(batchId=i, numInputRows=i, stateOperators=[op],
                      durationMs={"triggerExecution": 10, "addBatch": 5, "getBatch": 1})
            for i in range(1, 4)]
    s.phase_out = {ph: {"progress": prog, "late": [0.001], "backlog": 0}
                   for ph in s.spec["phases"]}
    return s.layer_metrics({})


def test_every_metric_a_run_can_print_is_declared():
    assert {"setup_s", "events_per_s", "latency_p50_ms", "latency_p90_ms",
            "peak_rss_mb"} == E2E
    extra = {"session.start_s", "session.warm_s", "trace.overhead_frac", "trace.wall_s",
             "trace.self_gap_frac"}
    layers = {"bench", "session", "sources", "operators", "streaming", "api", "siddhiql"}
    printed = (set(_batch_layer_metrics()) | set(_stream_layer_metrics()) | extra
               | {f"layer.{x}.self_s" for x in layers})
    assert printed <= PER_LAYER
    assert PER_LAYER <= printed


def test_traced_self_times_add_up_to_wall_time():
    tracer = spans.Tracer()
    with tracer.span("run", "bench"):
        time.sleep(0.01)
        with tracer.span("session", "session"):
            time.sleep(0.02)
            with tracer.span("session.get_spark", "session"):
                time.sleep(0.01)
        with tracer.span("entry", "bench"):
            with tracer.span("sources.load_table", "sources"):
                time.sleep(0.01)
            with tracer.span("operators.ever", "operators"):
                time.sleep(0.02)
    recon = run.layer_self_times(tracer)
    assert recon["gap_frac"] <= SELF_TIME_TOLERANCE
    assert abs(sum(recon["layers"].values()) - recon["wall_s"]) <= (
        SELF_TIME_TOLERANCE * recon["wall_s"])
    assert recon["layers"]["operators"] >= 0.02 and recon["layers"]["session"] >= 0.03


def test_self_time_subtracts_the_union_of_children():
    t = spans.Tracer()
    t.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0, "layer": "bench", "name": "r"},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0, "layer": "x", "name": "a"},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0, "layer": "x", "name": "b"},
    ]
    assert t.self_times() == {0: 6.0, 1: 3.0, 2: 2.0}


def test_event_log_rollup_attributes_work_to_job_groups():
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "nsTiming"},
        {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"}],
        "children": [{"nodeName": "Exchange", "metrics": [], "children": [
            {"nodeName": "Scan parquet ", "metrics": [], "children": []}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "jobGroupId": "g#exec", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g#exec"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1250, "Failed": False, "Accumulables": [
             {"ID": 7, "Update": "2000000000"}, {"ID": 8, "Update": "512"}]},
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Failed": True, "Accumulables": []},
         "Task Metrics": {}},
    ]
    g = spans.rollup_event_log(events)["g#exec"]
    assert g["jobs"] == 1 and g["stages"] == 1 and g["tasks"] == 2 and g["failed_tasks"] == 1
    assert g["shuffle_bytes"] == 64 and g["sched_delay_s"] == 0.25
    assert g["python_s"] == 2.0 and g["python_bytes"] == 512
    assert g["scan_nodes"] == 1 and g["exchange_nodes"] == 1


def test_stream_schedule_keeps_files_off_the_trigger_ticks():
    s = workloads.Stream.__new__(workloads.Stream)
    s.spec = workloads.STREAM["stream_openloop"]
    for phase, p in s.spec["phases"].items():
        step, tick = p["interval_ms"] / 1000.0, p["trigger_ms"] / 1000.0
        assert tick / step == int(tick / step)  # each window holds the same files
        offset = time.time() - time.perf_counter()
        due = s._schedule(phase, 2 + int(tick / step))
        assert due[0] < due[1] <= time.perf_counter() + tick + step
        for d in due[1:]:
            into_window = (d + offset) % tick
            assert abs(into_window % step - step / 2) < 0.005, phase


def test_percentile_interpolates_between_ranks():
    xs = list(range(1, 102))
    assert workloads.pct(xs, 50) == 51 and workloads.pct(xs, 90) == 91
    assert workloads.pct([1.0, 2.0], 50) == 1.5 and workloads.pct([1.0, 2.0], 90) == 1.9
    assert workloads.pct([], 50) == 0.0 and workloads.pct([3.0], 90) == 3.0


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    runner exits non-zero at once and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "uniqbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    cmd = [*SPEC["command"], "--workload", workloads.WORKLOADS[0], "--seed", "1",
           "--seconds", str(SPEC["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert "correct" not in p.stdout


def test_unknown_workload_is_refused():
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "nope",
                        "--seed", "1"],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and "correct" not in p.stdout
