"""Process-level plumbing for the benchmark: the Spark session lifecycle,
the memory watch over the JVM and its Python workers, spans, and Spark
job accounting by job group.

Nothing here imports pyspark at module load; ``run.py`` sets the
environment (work directories, PYTHONPATH) before the first session
starts.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
import uuid
from contextlib import contextmanager


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process was started (from /proc, so the
    interpreter's own start-up counts)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------
# descendants and their memory
# ---------------------------------------------------------------------

def descendants(pid: int) -> "set[int]":
    """Every live descendant of ``pid``, from the per-thread ``children``
    lists in /proc (the JVM forks the Python daemon from one of its own
    threads, so every thread's list is read)."""
    found: "set[int]" = set()
    stack = [pid]
    while stack:
        parent = stack.pop()
        try:
            tasks = os.listdir(f"/proc/{parent}/task")
        except OSError:
            continue  # exited while we looked
        for tid in tasks:
            try:
                with open(f"/proc/{parent}/task/{tid}/children", encoding="ascii") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            for k in kids:
                if k not in found:
                    found.add(k)
                    stack.append(k)
    return found


def pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between processes (the Python
    workers are forked from one daemon) count once across the sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class MemoryWatch:
    """Samples the summed resident memory (PSS) of every descendant of
    this process — the JVM and the Python workers it forks — and keeps
    the peak.

    Past ``cap_mb`` it kills them: a run that would take the host into
    its OOM killer is reported as a failed run instead."""

    def __init__(self, cap_mb: float, interval_s: float = 1.0):
        self.cap_mb = cap_mb
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.killed_at_mb: "float | None" = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memwatch", daemon=True)

    def start(self) -> "MemoryWatch":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendants(me)
            total = sum(pss_mb(p) for p in pids)
            self.peak_mb = max(self.peak_mb, total)
            if total > self.cap_mb and self.killed_at_mb is None:
                self.killed_at_mb = total
                for p in pids:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            self._stop.wait(self.interval_s)


# ---------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------

def start_session(cpus: int):
    from ocr_translate_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session AND its JVM, then wait until every process this
    one started has exited (a fresh JVM can be launched afterwards)."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    if proc.stdin is not None:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=timeout_s)
                    except Exception:  # noqa: BLE001 - escalate below
                        proc.kill()
                        proc.wait(timeout=10)
        reap_descendants(timeout_s)


def reap_descendants(timeout_s: float = 30.0) -> None:
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in descendants(me):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------
# Spark job accounting
# ---------------------------------------------------------------------

class JobGroups:
    """Runs a block under a fresh Spark job group and reads back, from
    ``statusTracker``, the jobs it ran and their failed / retried tasks."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    @contextmanager
    def group(self, name: str):
        gid = f"{name}-{uuid.uuid4().hex[:8]}"
        self.sc.setJobGroup(gid, name)
        stats = {"jobs": 0, "failed_tasks": 0, "retried_stages": 0}
        try:
            yield stats
        finally:
            self.sc._jsc.clearJobGroup()
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stats["jobs"] = len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        stats["failed_tasks"] += stage.numFailedTasks
                        stats["retried_stages"] += int(stage.currentAttemptId > 0)


# ---------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, trace id, attributes);
    written out once, when the traced run ends.

    ``wrapped`` instruments functions of the program for the duration of a
    ``with`` block by replacing the attribute on its owner (module or
    class) with a span-recording shim."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "trace_id": self.trace_id, "span_id": sid,
            "parent_id": self._stack[-1] if self._stack else None,
            "name": name, "start": time.monotonic() - self._t0, "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self._t0

    @contextmanager
    def wrapped(self, targets: "list[tuple[object, str, str]]"):
        """``targets``: (owner, attribute, span name) triples."""
        saved = []
        for owner, attr, name in targets:
            original = getattr(owner, attr)
            saved.append((owner, attr, original))
            setattr(owner, attr, self._shim(original, name))
        try:
            yield
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)

    def _shim(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> "dict[str, float]":
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        children: "dict[int, list[dict]]" = {}
        for s in self.spans:
            if s["parent_id"] is not None:
                children.setdefault(s["parent_id"], []).append(s)
        out: "dict[str, float]" = {}
        for s in self.spans:
            covered = 0.0
            cursor = s["start"]
            for c in sorted(children.get(s["span_id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({
                "trace_id": self.trace_id,
                "spans": self.spans,
                "self_time_s": self.self_times(),
            }, fh, indent=1)
