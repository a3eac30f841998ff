"""Measurement helpers shared by the workloads: spans, process-tree
memory, container CPU, percentiles and directory sizes.

Nothing here touches the engine; spans wrap the engine's public calls
from the outside.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

# --------------------------------------------------------------- statistics


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it;
    the median when there are fewer than twenty samples."""
    if n < 20:
        return 50
    return max(50, int(math.floor(100.0 - 1000.0 / n)))


def tail(values) -> tuple[float, int]:
    p = tail_percentile(len(values))
    return (float(np.percentile(values, p)) if values else 0.0), p


# -------------------------------------------------------------------- CPU

_CG_V1 = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
_CG_V2 = "/sys/fs/cgroup/cpu.stat"


class CpuClock:
    """Container CPU-seconds: the cgroup counter when readable, else
    utime+stime summed over this process tree."""

    def __init__(self):
        if os.access(_CG_V1, os.R_OK):
            self.source = "cgroup-v1 cpuacct.usage"
        elif os.access(_CG_V2, os.R_OK):
            self.source = "cgroup-v2 cpu.stat"
        else:
            self.source = "procfs process tree"

    def seconds(self) -> float:
        if self.source.startswith("cgroup-v1"):
            with open(_CG_V1) as f:
                return int(f.read()) / 1e9
        if self.source.startswith("cgroup-v2"):
            with open(_CG_V2) as f:
                for line in f:
                    if line.startswith("usage_usec"):
                        return int(line.split()[1]) / 1e6
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                total += int(fields[11]) + int(fields[12])
            except (OSError, IndexError, ValueError):
                continue
        return total / os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------- memory


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (JVM and Python workers)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_rss_mb(root: int) -> float:
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Peak resident memory of this process tree, sampled on a daemon
    thread until ``stop``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="rss-sampler", daemon=True,
        )

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until it and every
    process under it (the Python workers) are gone."""
    from pyspark import SparkContext

    pids = process_tree(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
        gateway.proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {pids}")
        time.sleep(0.1)


# ------------------------------------------------------------------ files


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans around public engine calls.

    An op is a root span with its own id; every span opened inside it
    shares that id. While a span is open, Spark jobs launched from this
    thread run under a job group unique to the span, and the span's
    job/stage/task counts are read from ``statusTracker`` once the run
    is over (the status listener is asynchronous; reading late makes
    the counts repeat exactly). A disabled tracer records nothing and
    sets no job group.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op_id = 0
        self._active = False

    @contextmanager
    def op(self, name: str, traced: bool = True, **attrs):
        """Root span. ``traced=False`` runs the op with tracing off
        (the traced run alternates, to measure tracing overhead)."""
        self._active = self.enabled and traced
        if not self._active:
            yield None
            return
        self._op_id += 1
        try:
            with self.span(name, **attrs) as s:
                yield s
        finally:
            self._active = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self._active:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "op": self._op_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"pb-{self._op_id}-{len(self.spans)}",
            "attrs": dict(attrs),
        }
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s["group"], name, False)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def add_reported(self, parent: dict | None, name: str, seconds: float, **attrs):
        """A child span the program reported itself (duration only, no
        start/end, so it takes no part in self-time arithmetic)."""
        if parent is None:
            return
        self.spans.append({
            "id": len(self.spans), "op": parent["op"], "name": name,
            "parent": parent["id"], "group": None, "start": None,
            "end": None, "duration_s": seconds,
            "attrs": {"program_reported": True, **attrs},
        })

    def resolve(self) -> None:
        """Fill durations, self times and job/stage/task counts; call
        once, after the last traced op."""
        if not self.spans:
            return
        time.sleep(1.0)  # let the status listener drain
        st = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            if s["start"] is not None:
                s["duration_s"] = s["end"] - s["start"]
            if s["group"] is None:
                continue
            jobs = st.getJobIdsForGroup(s["group"])
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            s["jobs"], s["stages"], s["tasks"] = len(jobs), stages, tasks
        self._self_times()

    def _self_times(self) -> None:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["start"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            if s["start"] is None:
                continue
            covered, cur = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            s["self_s"] = s["duration_s"] - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def op_total(self, root: dict, key: str) -> int:
        """Sum of ``key`` over every span of ``root``'s op."""
        return sum(s.get(key, 0) for s in self.spans if s["op"] == root["op"])

    def dump(self, path: str) -> None:
        starts = [s["start"] for s in self.spans if s["start"] is not None]
        t0 = min(starts, default=0.0)
        out = []
        for s in self.spans:
            row = {k: v for k, v in s.items() if k not in ("start", "end")}
            if s["start"] is not None:
                row["start_s"] = s["start"] - t0
                row["end_s"] = s["end"] - t0
            out.append(row)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)
