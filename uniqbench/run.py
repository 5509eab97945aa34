#!/usr/bin/env python3
"""Benchmark of the uniqueness engine, one workload per run.

    python3 uniqbench/run.py --workload batch_catalyst --seed 1 --seconds 10 --trace 0

Generates the workload's input from ``--seed``, starts a session with
the library's ``get_spark`` on ``local[nproc/2]``, checks every output,
measures for ``--seconds`` and prints, as its last stdout line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer ones. See README.md.

Works from any directory; everything it writes goes under ``.uniqbench/``
at the root of the checkout it lives in.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

REQUIRED = ("BENCHMARK.json", "bench.py", "__spark_entry__.py", "siddhi_execution_unique_spark")


class Ctx:
    """State shared by the runner and a workload."""

    def __init__(self, args, work: str, tracer):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work, self.tracer = work, tracer
        self.spark = None
        self.metrics: dict[str, float] = {}
        self.detail: dict = {}
        self.traced: dict = {}
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"# FAILED {msg}", file=sys.stderr, flush=True)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def prepare_env(work: str, cpus: int) -> None:
    """Pin ``local[cpus]`` and keep every file the run writes inside
    ``work``; ship the package to Python workers through PYTHONPATH so
    the runner works from any directory."""
    for sub in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(work, "ckpt")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: temp files in
    # ``work``, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed initial heap keeps G1's resize decisions out of peak
        # memory; the library's maximum heap still applies
        "spark.driver.extraJavaOptions": "-Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def setup(ctx, cpus: int) -> None:
    """``get_spark`` until the JVM, a first job and one Python worker
    per task slot are warm."""
    from siddhi_execution_unique_spark.session import get_spark

    tr = ctx.tracer
    with tr.span("session", "session"):
        with tr.span("session.get_spark", "session") as start:
            ctx.spark = get_spark("uniqbench", extra_conf=spark_conf(ctx.work, ctx.trace))
        ctx.spark.sparkContext.setLogLevel("ERROR")
        with tr.span("session.warm", "session") as warm:
            ctx.spark.range(1).count()
            ctx.spark.range(0, cpus, 1, cpus).mapInPandas(lambda it: it, "id long").count()
    ctx.metrics["setup_s"] = warm["end"] - start["start"]
    ctx.detail["session"] = {"start_s": start["end"] - start["start"],
                             "warm_s": warm["end"] - warm["start"]}


def layer_self_times(tracer) -> dict:
    """Self time per layer over the main span tree, and how far the sum
    of all self times is from the root's wall time."""
    selfs = tracer.self_times()
    (root,) = [s for s in tracer.roots() if s["name"] == "run"]
    tree, todo = [], [root["id"]]
    kids: dict = {}
    for s in tracer.spans:
        kids.setdefault(s["parent"], []).append(s)
    while todo:
        sid = todo.pop()
        tree.append(sid)
        todo += [c["id"] for c in kids.get(sid, [])]
    wall = root["end"] - root["start"]
    layers: dict[str, float] = {}
    for sid in tree:
        s = tracer.spans[sid]
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + selfs[sid]
    gap = abs(sum(layers.values()) - wall) / wall
    return {"wall_s": wall, "gap_frac": gap, "layers": layers}


def measure(ctx, args, cpus: int, inherited_cpus: str | None) -> tuple:
    """Host stamp, input, set-up, check and measurement of one run, in
    the order of the README. Returns the workload and the host stamp;
    every process started here is stopped before it returns."""
    import bench
    import host
    import spans
    import workloads

    tracer, sampler = ctx.tracer, None
    try:
        with tracer.span("run", "bench"):
            with tracer.span("host", "bench"):
                stamp = {"nproc": host.nproc(), "cpus_used": cpus,
                         "SPARK_GRAFT_CPUS": inherited_cpus,
                         "md5_chain_sec": bench.calibrate(),
                         "md5_chain_parallel_sec": bench.calibrate_parallel(cpus),
                         "load_start": host.loadavg()}
            wl = workloads.make(ctx, args.workload)
            with tracer.span("generate", "bench"):
                wl.generate()
            sampler = host.RssSampler().start()
            setup(ctx, cpus)
            with tracer.span("check", "bench"):
                wl.check()
            stamp["load_mid"] = host.loadavg()
            with tracer.span("measure", "bench"):
                if not args.trace or args.workload in workloads.STREAM:
                    saved = spans.instrument(tracer) if args.trace else []
                    try:
                        wl.timed(args.seconds)
                    finally:
                        spans.restore(saved)
                if args.trace:
                    wl.traced()
            heap = ctx.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            ctx.detail["jvm_heap_mb"] = {
                "used": heap.getHeapMemoryUsage().getUsed() >> 20,
                "committed": heap.getHeapMemoryUsage().getCommitted() >> 20,
                "nonheap_committed": heap.getNonHeapMemoryUsage().getCommitted() >> 20}
            ctx.metrics["peak_rss_mb"] = sampler.stop()
            ctx.detail["peak_rss_by_process_mb"] = sampler.at_peak
            sampler = None
            with tracer.span("stop", "bench"):
                host.stop_spark(ctx.spark)
                ctx.spark = None
            stamp["load_end"] = host.loadavg()
    finally:
        if sampler is not None:
            sampler.stop()
        if ctx.spark is not None:
            host.stop_spark(ctx.spark)
    return wl, stamp


def layer_values(ctx, wl, args, out_dir: str) -> dict:
    """Every per-layer metric of a traced run, from the spans, the
    workload's own counters and the event log."""
    import spans

    groups = spans.rollup_event_log(spans.read_event_log(os.path.join(ctx.work, "eventlog")))
    values = wl.layer_metrics(groups)
    values["session.start_s"] = ctx.detail["session"]["start_s"]
    values["session.warm_s"] = ctx.detail["session"]["warm_s"]
    if "overhead_frac" in ctx.traced:
        values["trace.overhead_frac"] = ctx.traced["overhead_frac"]
    else:  # streaming: against the untraced run of this seed, if one ran here
        plain = os.path.join(out_dir, f"result-{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                eps = json.load(f)["metrics"]["events_per_s"]["value"]
            values["trace.overhead_frac"] = eps / ctx.metrics["events_per_s"] - 1.0
    recon = layer_self_times(ctx.tracer)
    values["trace.wall_s"] = recon["wall_s"]
    values["trace.self_gap_frac"] = recon["gap_frac"]
    for layer, v in recon["layers"].items():
        values[f"layer.{layer}.self_s"] = v
    ctx.tracer.write(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                     {"groups": groups, "metrics": values})
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"uniqbench: not inside a checkout of the engine (missing {missing})",
              file=sys.stderr)
        return 2
    import host
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"uniqbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    decl = declared()
    names = decl["per_layer"] if args.trace else decl["end_to_end"]
    # half the cores: the rest run what a task does not, the JIT and
    # GC threads, the Python workers that mapInPandas tasks feed and
    # the driver, so a run measures the engine and not the scheduler
    cpus = max(1, host.nproc() // 2)
    out_dir = os.path.join(ROOT, ".uniqbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    prepare_env(work, cpus)
    ctx = Ctx(args, work, Tracer())
    try:
        wl, stamp = measure(ctx, args, cpus, inherited_cpus)
        values = layer_values(ctx, wl, args, out_dir) if args.trace else ctx.metrics
    finally:
        shutil.rmtree(work, ignore_errors=True)

    undeclared = sorted(set(values) - set(names))
    absent = sorted(n for n in names if n not in values)
    if undeclared or (absent and not args.trace):
        print(f"uniqbench: undeclared metrics {undeclared}, unmeasured {absent}",
              file=sys.stderr)
        return 3
    failed = len(ctx.failures)
    run_id = next(s["id"] for s in ctx.tracer.roots() if s["name"] == "run")
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": stamp, "error_rate": failed / max(1, ctx.attempted),
              "failures": ctx.failures, "not_applicable": absent,
              "phases_s": {s["name"]: round(s["end"] - s["start"], 3)
                           for s in ctx.tracer.spans if s["parent"] == run_id},
              **ctx.detail}
    if args.trace:
        report["end_to_end_of_traced_run"] = dict(ctx.metrics)
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}
    result = {"correct": failed == 0, "attempted": ctx.attempted, "failed": failed,
              "metrics": metrics}
    path = os.path.join(out_dir, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({**result, "report": report}, f, indent=1)
    for n, m in metrics.items():
        print(f"# {n:48s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
