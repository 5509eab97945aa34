"""Tracing from outside the library: in-memory spans around each call
into a layer, a job group per call, and a reader for Spark's event
log.

Nothing here edits the library. :func:`instrument` swaps module
attributes for span-recording wrappers, so every call the registry
entries make into ``sources``, ``operators``, ``streaming``, ``api``
and ``siddhiql`` is recorded with its caller as parent.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans kept in memory: ``(id, name, layer, start, end, parent)``.
    Each thread keeps its own stack of open spans; a span opened on a
    thread with an empty stack has no parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, layer: str = "bench", **tags):
        return _Span(self, name, layer, tags)

    def self_times(self) -> dict[int, float]:
        """Self time of every closed span: its duration minus the union
        of the intervals its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, edge, s["start"]), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]

    def write(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        rows = [dict(s, self=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str, tags: dict):
        self.t, self.name, self.layer, self.tags = tracer, name, layer, tags

    def __enter__(self):
        stack = self.t._stack()
        with self.t._lock:
            self.id = len(self.t.spans)
            self.rec = {"id": self.id, "name": self.name, "layer": self.layer,
                        "parent": stack[-1] if stack else None,
                        "start": time.perf_counter(), "end": None, **self.tags}
            self.t.spans.append(self.rec)
        stack.append(self.id)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack().pop()
        return False


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


def instrument(tracer: Tracer) -> list:
    """Wrap the library's public entry points of every layer. Returns
    the ``(module, attribute, original)`` list for :func:`restore`."""
    import __spark_entry__ as entry_mod
    from siddhi_execution_unique_spark import api, operators, siddhiql, sources, streaming
    from siddhi_execution_unique_spark.streaming import sources as stream_sources

    targets = [
        (sources, ["load_table"], "sources"),
        (entry_mod, ["load_table"], "sources"),
        (stream_sources, ["stream_table"], "sources"),
        (operators, [n for n in dir(operators)
                     if callable(getattr(operators, n)) and not n.startswith("_")
                     and getattr(getattr(operators, n), "__module__", "").startswith(
                         "siddhi_execution_unique_spark.operators")], "operators"),
        (streaming, ["ever_stream", "deduplicate_exact_stream", "time_proc_replay",
                     "dedup_proc_replay"], "streaming"),
        (api, ["window", "stream_processor", "streaming_window"], "api"),
        (siddhiql, ["parse_app", "run_app"], "siddhiql"),
    ]
    saved = []
    for mod, names, layer in targets:
        for n in names:
            orig = getattr(mod, n)
            saved.append((mod, n, orig))
            setattr(mod, n, _wrap(tracer, orig, f"{layer}.{n}", layer))
    return saved


def restore(saved: list) -> None:
    for mod, n, orig in reversed(saved):
        setattr(mod, n, orig)


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (uncompressed) event logs under ``log_dir``,
    rolled or not, in file order."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus")))
    events = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


def rollup_event_log(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks, shuffle bytes
    written, scheduler delay (task launch minus stage submission), the
    Python-worker SQL metrics, and the scan and exchange nodes of each
    SQL execution's final plan."""
    acc_meta: dict[int, tuple[str, str]] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    def note_plan(eid, info):
        exec_plan[eid] = info
        for node in _plan_nodes(info):
            for m in node.get("metrics", []):
                acc_meta[m["accumulatorId"]] = (m["name"], m["metricType"])

    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            exec_group[e["executionId"]] = e.get("jobGroupId") or ""
            note_plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            note_plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
            out[stage_group.get(info["Stage ID"], "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(e["Stage ID"], "")]
            info, metrics = e["Task Info"], e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["failed_tasks"] += 1 if info.get("Failed") else 0
            g["shuffle_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            sub = stage_submit.get(e["Stage ID"])
            if sub:
                g["sched_delay_s"] += max(0, info["Launch Time"] - sub) / 1000.0
            for a in info.get("Accumulables", []):
                name, mtype = acc_meta.get(a.get("ID"), (a.get("Name"), ""))
                try:
                    upd = float(a.get("Update") or 0)
                except (TypeError, ValueError):
                    continue
                if name == "time to run Python workers":
                    g["python_s"] += upd / (1e9 if mtype == "nsTiming" else 1e3)
                elif name == "data sent to Python workers":
                    g["python_bytes"] += upd
    for eid, info in exec_plan.items():
        g = out[exec_group.get(eid, "")]
        for node in _plan_nodes(info):
            name = node.get("nodeName", "")
            if name.startswith(("Scan parquet", "FileScan parquet")):
                g["scan_nodes"] += 1
            elif "Exchange" in name and "Reused" not in name:
                g["exchange_nodes"] += 1
    return {k: dict(v) for k, v in out.items()}
