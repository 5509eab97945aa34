"""Host stamp, memory witness and process hygiene for one run."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids, out, todo = _children(), [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def engine_processes() -> list[int]:
    """The Spark JVM (a direct child of this process) and the Python
    daemon and workers below it. Short-lived helpers the JVM forks
    (file-permission commands, for one) are left out: until they exec
    they map all of the JVM's memory and would count it twice."""
    me, kids = os.getpid(), _children()
    jvms = [p for p in kids.get(me, []) if _comm(p) == "java"]
    return jvms + [p for j in jvms for p in descendants(j) if _comm(p).startswith("python")]


def resident_bytes(pid: int) -> int:
    """Resident memory of ``pid``. For a Python worker this is its
    proportional set size: the workers fork from one daemon and share
    most pages, which plain RSS would count once per worker. The JVM's
    pages are private, so its RSS from ``statm`` is the same figure; it
    is read there because walking the JVM's page tables for PSS takes
    20-40 ms and holds its memory-map lock."""
    try:
        if _comm(pid) == "java":
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Peak resident memory of this process's descendants (the Spark
    JVM and the Python workers it forks), sampled from ``/proc``. The
    benchmark's own Python process is left out: it holds the
    generator and the DuckDB oracle, not the system under test."""

    def __init__(self, interval: float = 0.1):
        self.interval, self.peak, self.at_peak = interval, 0, {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            sizes = {p: resident_bytes(p) for p in engine_processes()}
            total = sum(sizes.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = {f"{_comm(p)}:{p}": v >> 20 for p, v in sizes.items()}
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return self.peak / 2**20


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this run started has exited (killing stragglers after
    ``timeout``)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    pids = descendants()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Py4JError:
                pass  # the JVM is gone already; reap it below
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.time() + timeout
    for p in set(pids + descendants()):
        while _alive(p) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
