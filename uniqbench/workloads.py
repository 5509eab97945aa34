"""The workloads: what each one generates, runs, checks and measures.

Batch workloads call registry entries of ``__spark_entry__.py``
unchanged on a generated ``events.parquet`` and check every execution
against the entry's DuckDB ``oracle_sql()`` fingerprint. The streaming
workload drives two Structured Streaming twins with an open-loop file
generator and checks each phase's final output against its batch
operator on the same files.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

import gen

# entry name -> (metric label, tier). Labels name the operator the
# entry calls; siddhiql entries are rolled up as one layer instead.
BATCH = {
    "batch_mixed": {
        "input": {"rows": 50_000, "keys": 5_000, "zipf": 1.0, "run_length": 8, "span_days": 30},
        # checked passes after the first (compiling) one, before the
        # clock starts: pass times still fall 15-20% over the first
        # four or five passes of a fresh JVM (JIT)
        "warm_s": 10.0,
        "entries": {
            "unique_ever": ("ever", "catalyst"),
            "unique_deduplicate": ("deduplicate", "replay"),
            "unique_length_batch": ("length_batch", "replay"),
            "proc_time_replay": ("time_proc_replay", "replay"),
            "siddhiql_join_time_batch_all": (None, "siddhiql"),
        },
    },
}

# one phase per streaming twin, run one after the other (run at once,
# the two queries slowed each other 2-3x). Each query runs on a fixed
# processing-time trigger, and each offers a fixed rate far below its
# twin's drain rate, so a micro-batch always takes the same number of
# files and ends well before the next trigger. With Spark's default
# trigger (each batch starts when the last one ends), a batch's time
# grew with the rows it took and the rows with the time the batch
# before it took: latency moved 1.9x when the host's md5 calibration
# moved 1.4x. The schedule is laid on the trigger clock (``_schedule``)
# so that every run waits for the trigger the same way. Each phase
# first runs ``warm_s`` at its rate, unmeasured (micro-batch time
# falls by half over a fresh JVM's first ~40 micro-batches, JIT; the
# second phase starts on machinery the first has warmed), then
# measures ``--seconds``.
STREAM = {
    "stream_openloop": {
        "phases": {
            "ever_stream": {"rows_per_file": 200, "interval_ms": 100, "hot_keys": 2_000,
                            "zipf": 1.0, "new_key_share": 0.1, "mode": "update",
                            "trigger_ms": 1_000, "warm_s": 12.0},
            "dedup_stream": {"rows_per_file": 20, "interval_ms": 400, "hot_keys": 2_000,
                             "zipf": 1.0, "new_key_share": 0.1, "mode": "append",
                             "dedup_interval_ms": 2_000, "trigger_ms": 2_000, "warm_s": 6.0},
        },
    },
}

WORKLOADS = [*BATCH, *STREAM]


def pct(values, q: float) -> float:
    """Percentile ``q`` (0..100), interpolated linearly between the
    nearest ranks; 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = q / 100.0 * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def fingerprint(df) -> tuple[int, int]:
    """Order-independent fingerprint of every column of ``df``: the sum
    of each row's 32-bit-masked xxhash64 over the columns in name order,
    and the row count. Forces the full plan, like a noop write."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    row = df.select(
        F.coalesce(F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)),
        F.count(F.lit(1)),
    ).first()
    return int(row[0]), int(row[1])


# ------------------------------------------------------------------ batch

class Batch:
    """One batch workload inside a running session."""

    def __init__(self, ctx, name: str):
        import __spark_entry__ as entry_mod

        self.ctx, self.name, self.spec = ctx, name, BATCH[name]
        self.entries = list(self.spec["entries"])
        self.queries = entry_mod.queries()
        self.oracles = entry_mod.oracle_sql()
        self.rows = self.spec["input"]["rows"]
        self.input_dir = os.path.join(ctx.work, "input")
        self.expected: dict[str, tuple[int, int]] = {}

    def generate(self) -> None:
        gen.write_batch(self.input_dir, gen.batch_events(self.ctx.seed, **self.spec["input"]))

    def run_entry(self, entry: str):
        return fingerprint(self.queries[entry](self.ctx.spark, self.input_dir))

    def judge(self, entry: str, fp) -> bool:
        ok = fp == self.expected.get(entry)
        if not ok:
            self.ctx.fail(f"{entry}: fingerprint {fp} != oracle {self.expected.get(entry)}")
        return ok

    def check(self) -> None:
        """Untimed first pass: runs every entry once (compiling its
        code) while DuckDB computes the oracle outputs on a second
        thread, then fingerprints the oracle outputs in Spark with the
        entry's own column types and compares. Further untimed passes,
        also checked, run for the spec's ``warm_s`` to finish the
        warm-up."""
        oracle_dir = os.path.join(self.ctx.work, "oracle")
        os.makedirs(oracle_dir, exist_ok=True)
        errors: dict[str, str] = {}

        timing = {}

        def run_oracles():
            import duckdb
            import pyarrow.parquet as pq

            t = time.perf_counter()
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            path = os.path.join(self.input_dir, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
            for e in self.entries:
                try:
                    pq.write_table(con.sql(self.oracles[e]).arrow(),
                                   os.path.join(oracle_dir, f"{e}.parquet"))
                except Exception as exc:  # noqa: BLE001 - reported, never dropped
                    errors[e] = f"oracle failed: {exc!r}"[:300]
            con.close()
            timing["oracle_s"] = time.perf_counter() - t

        th = threading.Thread(target=run_oracles)
        th.start()
        t0 = time.perf_counter()
        got = {}
        for e in self.entries:
            self.ctx.attempted += 1
            try:
                df = self.queries[e](self.ctx.spark, self.input_dir)
                got[e] = (df.schema, fingerprint(df))
            except Exception as exc:  # noqa: BLE001
                self.ctx.fail(f"{e}: {exc!r}"[:300])
        timing["first_pass_s"] = time.perf_counter() - t0
        th.join()
        timing["oracle_wait_s"] = time.perf_counter() - t0 - timing["first_pass_s"]
        from pyspark.sql import functions as F

        for e in self.entries:
            if e in errors:
                self.ctx.fail(f"{e}: {errors[e]}")
                continue
            odf = self.ctx.spark.read.parquet(os.path.join(oracle_dir, f"{e}.parquet"))
            if e not in got:
                continue
            schema, fp = got[e]
            if sorted(odf.columns) != sorted(schema.names):
                self.ctx.fail(f"{e}: columns {sorted(schema.names)} != oracle {sorted(odf.columns)}")
                continue
            self.expected[e] = fingerprint(odf.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]))
            self.judge(e, fp)
        t = time.perf_counter()
        warm = self.passes(self.spec["warm_s"])
        timing["warm_s"] = time.perf_counter() - t
        timing["warm_passes"] = len(warm)
        self.ctx.detail["check"] = {k: round(v, 3) for k, v in timing.items()}

    def passes(self, seconds: float) -> list[dict]:
        """Closed loop of whole passes over the entries, in a fixed
        order, until ``seconds`` have passed (at least one pass). Every
        execution's output is checked against the oracle. Returns, per
        pass, each entry's call latency in seconds; a failed call has
        none."""
        ctx, out = self.ctx, []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            lat = {}
            for e in self.entries:
                t = time.perf_counter()
                ctx.attempted += 1
                try:
                    if self.judge(e, self.run_entry(e)):
                        lat[e] = time.perf_counter() - t
                except Exception as exc:  # noqa: BLE001 - counted and named, never dropped
                    ctx.fail(f"{e}: {exc!r}"[:300])
            out.append(lat)
        return out

    def timed(self, seconds: float) -> None:
        """Measured passes for ``seconds``. A user calls one entry and
        waits for its checked result, so each call is one latency
        sample, pooled over the entries. Throughput is the closed
        loop's steady state: one pass's input events over the sum of
        the entries' median call latencies, so that a single stalled
        call (a GC pause, a co-tenant burst) does not move it."""
        ctx = self.ctx
        t0 = time.perf_counter()
        passes = self.passes(seconds)
        wall = time.perf_counter() - t0
        # an entry that never succeeded processed nothing; the failure
        # is already counted and named
        lat = {e: [p[e] for p in passes if e in p] for e in self.entries}
        lat = {e: v for e, v in lat.items() if v}
        med = {e: statistics.median(v) for e, v in lat.items()}
        calls = [x for v in lat.values() for x in v]
        ctx.metrics.update({
            "events_per_s": len(med) * self.rows / sum(med.values()) if med else 0.0,
            "latency_p50_ms": 1000 * pct(calls, 50),
            "latency_p90_ms": 1000 * pct(calls, 90),
        })
        ctx.detail["timed"] = {
            "passes": len(passes), "calls": len(calls), "wall_s": wall,
            "events_per_wall_s": sum(self.rows * len(p) for p in passes) / wall,
            "entry_median_ms": {e: round(1000 * v, 1) for e, v in med.items()},
            "entry_latency_ms": {e: [round(1000 * x, 1) for x in v] for e, v in lat.items()}}

    def traced(self) -> None:
        """One pass in which every entry runs twice, untraced and traced
        back to back (the order alternating by entry), so the tracing
        overhead is measured on identical work."""
        import spans as tr

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        ctx = self.ctx
        sc = ctx.spark.sparkContext
        plain_s = traced_s = 0.0
        per = {}
        for i, e in enumerate(self.entries):
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                ctx.attempted += 1
                t = time.perf_counter()
                saved = tr.instrument(ctx.tracer) if traced else []
                try:
                    if not traced:
                        sc.setJobGroup(f"plain#{e}", e)
                        self.judge(e, self.run_entry(e))
                        continue
                    with ctx.tracer.span(f"entry.{e}", "bench", entry=e) as sp:
                        sc.setJobGroup(f"{e}#plan", e)
                        with ctx.tracer.span("plan", "bench"):
                            df = self.queries[e](ctx.spark, self.input_dir)
                        obs = Observation(f"rows_{e}")
                        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                        sc.setJobGroup(f"{e}#exec", e)
                        with ctx.tracer.span("exec", "bench") as ex:
                            fp = fingerprint(df)
                    self.judge(e, fp)
                    per[e] = {"span": sp["id"], "exec_s": ex["end"] - ex["start"],
                              "rows_out": obs.get["rows"]}
                except Exception as exc:  # noqa: BLE001 - counted and named, never dropped
                    ctx.fail(f"{e}: {exc!r}"[:300])
                finally:
                    tr.restore(saved)
                    if traced:
                        traced_s += time.perf_counter() - t
                    else:
                        plain_s += time.perf_counter() - t
        sc.setJobGroup("scan", "scan")
        scans = []
        for _ in range(3):
            from siddhi_execution_unique_spark.sources import load_table

            with ctx.tracer.span("sources.scan", "sources") as sp:
                fingerprint(load_table(ctx.spark, self.input_dir, "events"))
            scans.append(sp["end"] - sp["start"])
        ctx.traced = {"per_entry": per, "scan_s": statistics.median(scans),
                      "scan_rows": self.rows, "overhead_frac": traced_s / plain_s - 1.0}

    def layer_metrics(self, groups: dict) -> dict:
        """Per-layer metrics from the spans of :meth:`traced` and the
        event-log rollup ``groups`` (job group -> counters)."""
        ctx, t = self.ctx, self.ctx.traced
        spans = ctx.tracer.spans
        by_parent: dict = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def under(root_id, pred):
            out, todo = [], [root_id]
            while todo:
                for c in by_parent.get(todo.pop(), []):
                    if pred(c):
                        out.append(c)
                    else:
                        todo.append(c["id"])
            return out

        def group(e, key):
            return sum(groups.get(f"{e}#{ph}", {}).get(key, 0) for ph in ("plan", "exec"))

        m = {"sources.scan_s": t["scan_s"], "sources.scan_rows_per_s": t["scan_rows"] / t["scan_s"]}
        op_keys = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes", "sched_delay_s",
                   "python_s", "python_bytes")
        summed = dict.fromkeys(("plan_s", "exec_s", "self_s", *op_keys), 0.0)
        tiers = {"catalyst": 0.0, "replay": 0.0}
        rows_out = rows_in = 0
        sq = dict.fromkeys(("parse_s", "run_app_s", "run_app_jobs", "exec_s", "scan_nodes",
                            "exchange_nodes"), 0.0)
        apps = 0
        for e, (label, tier) in self.spec["entries"].items():
            p = t["per_entry"].get(e)
            if p is None:
                continue
            if tier == "siddhiql":
                apps += 1
                sq["parse_s"] += sum(s["end"] - s["start"] for s in under(
                    p["span"], lambda s: s["name"] == "siddhiql.parse_app"))
                sq["run_app_s"] += sum(s["end"] - s["start"] for s in under(
                    p["span"], lambda s: s["name"] == "siddhiql.run_app"))
                sq["run_app_jobs"] += groups.get(f"{e}#plan", {}).get("jobs", 0)
                sq["exec_s"] += p["exec_s"]
                sq["scan_nodes"] += group(e, "scan_nodes")
                sq["exchange_nodes"] += group(e, "exchange_nodes")
                continue
            plan_s = sum(s["end"] - s["start"] for s in under(
                p["span"], lambda s: s["layer"] in ("operators", "streaming")))
            one = {"plan_s": plan_s, "exec_s": p["exec_s"], "self_s": p["exec_s"] - t["scan_s"],
                   **{k: group(e, k) for k in op_keys}}
            for k in ("plan_s", "exec_s", "self_s", "jobs", "tasks"):
                m[f"operators.{label}.{k}"] = one[k]
            for k in summed:
                summed[k] += one[k]
            tiers[tier] += one["exec_s"]
            rows_out += p["rows_out"]
            rows_in += self.rows
        m.update({f"operators.{k}": v for k, v in summed.items()})
        m.update({f"operators.{k}.exec_s": v for k, v in tiers.items()})
        m["operators.rows_out_per_in"] = rows_out / rows_in if rows_in else 0.0
        m.update({f"siddhiql.{k}": v for k, v in sq.items()})
        m["siddhiql.scans_per_input"] = sq["scan_nodes"] / apps if apps else 0.0
        m["trace.overhead_frac"] = t["overhead_frac"]
        return m


# ----------------------------------------------------------------- stream

class Stream:
    """The open-loop streaming workload: one phase per twin, one after
    the other, each fed by one generator thread."""

    def __init__(self, ctx, name: str):
        self.ctx, self.name, self.spec = ctx, name, STREAM[name]
        self.phase_out: dict[str, dict] = {}

    def files(self, phase: str, seconds: float) -> int:
        p = self.spec["phases"][phase]
        return max(1, int(round(seconds * 1000 / p["interval_ms"])))

    def phase_dir(self, phase: str) -> str:
        # a directory named events.parquet, so load_table reads every
        # file of the phase as one table for the batch comparison
        return os.path.join(self.ctx.work, f"stream_{phase}", "events.parquet")

    def generate(self) -> None:
        """Files are built in memory up front so the schedule loop only
        writes them; file 0 warms the query before the schedule."""
        self.warm_files, self.inputs = {}, {}
        for idx, (ph, p) in enumerate(self.spec["phases"].items()):
            self.warm_files[ph] = self.files(ph, p["warm_s"])
            n = self.warm_files[ph] + self.files(ph, self.ctx.seconds)
            self.inputs[ph] = list(gen.stream_files(
                self.ctx.seed * 16 + idx, n + 1, p["rows_per_file"], p["hot_keys"], p["zipf"],
                p["new_key_share"], p["interval_ms"]))

    def check(self) -> None:
        pass

    def _query(self, phase: str, sdf):
        from siddhi_execution_unique_spark import streaming as stw

        p = self.spec["phases"][phase]
        if phase == "ever_stream":
            return stw.ever_stream(sdf, "user_id", ts="ts")
        return stw.deduplicate_exact_stream(sdf, "user_id", p["dedup_interval_ms"], ts="ts")

    def _put(self, phase: str, i: int) -> float:
        d = self.phase_dir(phase)
        tmp = os.path.join(d, f".part-{i:05d}.parquet")
        gen.write(self.inputs[phase][i], tmp)
        os.rename(tmp, os.path.join(d, f"part-{i:05d}.parquet"))
        return time.perf_counter()

    def _start(self, phase: str) -> dict:
        """Write the phase's file 0 and start its query with a
        ``foreachBatch`` sink that stamps when each file's rows were
        emitted and keeps the final output for the batch comparison."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                                       StructType, TimestampNTZType)
        from siddhi_execution_unique_spark.streaming.sources import stream_table

        p = self.spec["phases"][phase]
        os.makedirs(self.phase_dir(phase), exist_ok=True)
        schema = StructType([
            StructField("event_id", LongType()), StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()), StructField("event_type", StringType()),
            StructField("value", DoubleType()), StructField("props", StringType()),
        ])
        st = {"emitted": {}, "rows": {}, "lock": threading.Lock()}

        def sink(batch_df, batch_id):
            got = batch_df.select(
                "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "user_id",
                "event_type", "value", "props").collect()
            now = time.perf_counter()
            with st["lock"]:
                for r in got:
                    st["emitted"].setdefault(gen.file_index(r[1], p["interval_ms"]), now)
                    # update mode re-emits a key's latest row; append
                    # mode emits each kept event once
                    st["rows"][r[2] if p["mode"] == "update" else r[0]] = tuple(r)

        self._put(phase, 0)
        sdf = stream_table(self.ctx.spark, self.phase_dir(phase), schema, ts="ts",
                           max_files_per_trigger=100_000)
        st["query"] = (self._query(phase, sdf).writeStream.outputMode(p["mode"])
                       .trigger(processingTime=f"{p['trigger_ms']} milliseconds")
                       .foreachBatch(sink)
                       .option("checkpointLocation", os.path.join(self.ctx.work, f"ckpt_{phase}"))
                       .start())
        return st

    def _schedule(self, phase: str, files: int) -> list[float]:
        """Due times (``perf_counter``) of files ``0..files-1``: file
        ``i`` is due ``i - 1`` intervals after the schedule starts, and
        the schedule starts half an interval after a tick of the
        phase's trigger. Spark fires a processing-time trigger at whole
        multiples of its interval on the wall clock, so each trigger
        window holds the same files, due at the same offsets, in every
        run, and no file is due within half an interval of a tick (a
        file written just as a batch lists the directory would wait a
        whole trigger interval more in some runs only)."""
        p = self.spec["phases"][phase]
        step, tick = p["interval_ms"] / 1000.0, p["trigger_ms"] / 1000.0
        now, wall = time.perf_counter(), time.time()
        t0 = now + (math.floor(wall / tick) + 1) * tick - wall + step / 2
        return [t0 + (i - 1) * step for i in range(files)]

    def run_phase(self, phase: str) -> None:
        """Start the phase's query; once it has emitted file 0, one
        thread writes the phase's files on a fixed schedule
        (:meth:`_schedule`). Each file is written when due, however far
        behind the engine is."""
        st, tables = self._start(phase), self.inputs[phase]
        measured = range(self.warm_files[phase] + 1, len(tables))
        try:
            _wait(lambda: 0 in st["emitted"], 120, st["query"])
            due = self._schedule(phase, len(tables))
            late = []
            for i in range(1, len(tables)):
                pause = due[i] - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                late.append(self._put(phase, i) - due[i])
            with st["lock"]:
                backlog = sum(1 for i in measured if i not in st["emitted"])
            _wait(lambda: all(i in st["emitted"] for i in range(len(tables))), 60, st["query"])
            progress = [pr for pr in st["query"].recentProgress if pr.batchId > 0]
        finally:
            st["query"].stop()
        emitted = st["emitted"]
        self.phase_out[phase] = {
            "latency": [emitted[i] - due[i] for i in measured if i in emitted],
            "late": late, "backlog": backlog, "rows": st["rows"], "progress": progress,
            "missing": [i for i in range(len(tables)) if i not in emitted],
            "files": len(tables) - 1, "measured_files": len(measured),
            "events": sum(tables[i].num_rows for i in measured if i in emitted),
            "active_s": max((emitted[i] for i in measured if i in emitted),
                            default=due[-1]) - due[measured[0]],
        }

    def batch_check(self, phase: str, out: dict) -> None:
        """The phase's final output against its batch operator over the
        same files."""
        from pyspark.sql import functions as F
        from siddhi_execution_unique_spark import operators as ops
        from siddhi_execution_unique_spark.sources import load_table

        ctx, p = self.ctx, self.spec["phases"][phase]
        df = load_table(ctx.spark, os.path.dirname(self.phase_dir(phase)), "events")
        if phase == "ever_stream":
            res = ops.ever(df, "user_id", ts="ts", tiebreak="event_id")
        else:
            res = ops.deduplicate(df, "user_id", p["dedup_interval_ms"], ts="ts",
                                  tiebreak="event_id")
        want = {tuple(r) for r in res.select(
            "event_id", F.unix_micros(F.col("ts")).alias("ts_us"), "user_id", "event_type",
            "value", "props").collect()}
        got = set(out["rows"].values())
        ctx.attempted += 1
        if got != want:
            ctx.fail(f"{phase}: streamed output differs from batch operator "
                     f"({len(got ^ want)} rows differ of {len(want)})")

    def timed(self, seconds: float) -> None:
        ctx = self.ctx
        for phase in self.spec["phases"]:
            with ctx.tracer.span(f"phase.{phase}", "streaming"):
                self.run_phase(phase)
        lat, events, active = [], 0, 0.0
        for phase, out in self.phase_out.items():
            ctx.attempted += out["files"] + 1
            for i in out["missing"]:
                ctx.fail(f"{phase}: file {i} never emitted")
            lat += out["latency"]
            events += out["events"]
            active += out["active_s"]
        ctx.metrics.update({
            "events_per_s": events / active,
            "latency_p50_ms": 1000 * pct(lat, 50),
            "latency_p90_ms": 1000 * pct(lat, 90),
        })
        ctx.detail["timed"] = {"latency_samples": len(lat), **{
            ph: {"files": o["measured_files"], "latency_p50_ms": 1000 * pct(o["latency"], 50),
                 "latency_p90_ms": 1000 * pct(o["latency"], 90)}
            for ph, o in self.phase_out.items()}}
        with ctx.tracer.span("batch_check", "bench"):
            for phase, out in self.phase_out.items():
                self.batch_check(phase, out)

    def traced(self) -> None:
        from siddhi_execution_unique_spark.sources import load_table

        scans = []
        d = os.path.dirname(self.phase_dir("ever_stream"))
        for _ in range(3):
            with self.ctx.tracer.span("sources.scan", "sources") as sp:
                fingerprint(load_table(self.ctx.spark, d, "events"))
            scans.append(sp["end"] - sp["start"])
        rows = sum(t.num_rows for t in self.inputs["ever_stream"])
        self.ctx.traced = {"scan_s": statistics.median(scans), "scan_rows": rows}

    def layer_metrics(self, groups: dict) -> dict:
        t = self.ctx.traced
        m = {"sources.scan_s": t["scan_s"], "sources.scan_rows_per_s": t["scan_rows"] / t["scan_s"]}
        get_batch, late = [], []
        for phase, out in self.phase_out.items():
            prog = out["progress"]
            dur = [pr.durationMs for pr in prog]

            def p50(key):
                return pct([x.get(key, 0) for x in dur], 50)

            state = [op for pr in prog for op in pr.stateOperators]
            last_state = prog[-1].stateOperators if prog else []
            rows_in = [pr.numInputRows for pr in prog]
            get_batch += [x.get("getBatch", 0) + x.get("latestOffset", 0) for x in dur]
            late += out["late"]
            pre = f"streaming.{phase}"
            m.update({
                f"{pre}.batch_ms_p50": p50("triggerExecution"),
                f"{pre}.batch_ms_p90": pct([x.get("triggerExecution", 0) for x in dur], 90),
                f"{pre}.add_batch_ms_p50": p50("addBatch"),
                f"{pre}.planning_ms_p50": p50("queryPlanning"),
                f"{pre}.wal_commit_ms_p50": p50("walCommit"),
                f"{pre}.commit_offsets_ms_p50": p50("commitOffsets"),
                f"{pre}.state_commit_ms_p50": pct([op.commitTimeMs for op in state], 50),
                f"{pre}.state_rows_end": sum(op.numRowsTotal for op in last_state),
                f"{pre}.state_mem_bytes_end": sum(op.memoryUsedBytes for op in last_state),
                f"{pre}.batches": len(prog),
                f"{pre}.rows_per_batch_p50": pct(rows_in, 50),
                f"{pre}.empty_batch_frac": (sum(1 for r in rows_in if r == 0) / len(rows_in)
                                            if rows_in else 0.0),
                f"{pre}.backlog_files_end": out["backlog"],
            })
        m["sources.stream_get_batch_ms_p50"] = pct(get_batch, 50)
        m["bench.gen_late_ms_p90"] = 1000 * pct(late, 90)
        return m


def _wait(cond, timeout: float, query) -> None:
    deadline = time.perf_counter() + timeout
    while not cond():
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.perf_counter() > deadline:
            return
        time.sleep(0.005)


def make(ctx, name: str):
    return Batch(ctx, name) if name in BATCH else Stream(ctx, name)
