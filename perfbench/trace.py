"""Tracing for the benchmark: spans, the Spark event log, UDF time, RSS.

Everything here lives outside the program. A span tags the Spark jobs it
triggers with a job group, so the event log can attribute task time,
shuffle, spill and skew to the layer call that caused them. Spans nest;
a span's figures cover its own jobs and those of its children.
"""
from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Span:
    __slots__ = ("name", "gid", "parent", "t0", "t1", "children")

    def __init__(self, name: str, gid: str, parent: "Span | None"):
        self.name = name
        self.gid = gid
        self.parent = parent
        self.t0 = time.time()
        self.t1 = None
        self.children: list = []

    def subtree(self) -> list:
        out = [self]
        for child in self.children:
            out.extend(child.subtree())
        return out


class Tracer:
    """Records spans around layer calls and tags their Spark jobs.

    It also reads the session's Python UDF profiler at each span boundary
    (``spark.sql.pyspark.udf.profiler=perf`` must be set), so ``udf_s`` of
    a span is the profiled UDF time its jobs accumulated.
    """

    def __init__(self, spark):
        self.spark = spark
        self.spans: list = []
        self.udf_s: dict = {}
        self._stack: list = []

    def _udf_total(self) -> float:
        results = self.spark.profile.profiler_collector._perf_profile_results
        return sum(s.total_tt for s in results.values())

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        span = Span(name, f"{name}#{len(self.spans)}", parent)
        if parent is not None:
            parent.children.append(span)
        self.spans.append(span)
        self._stack.append(span)
        udf0 = self._udf_total()
        sc.setJobGroup(span.gid, name)
        try:
            yield span
        finally:
            span.t1 = time.time()
            self._stack.pop()
            self.udf_s[span.gid] = self._udf_total() - udf0
            if parent is not None:
                sc.setJobGroup(parent.gid, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]


class EventLog:
    """Jobs and task metrics read back from an uncompressed event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict = {}  # job id -> dict(group, t0, t1, stages)
        self.tasks: dict = {}  # stage id -> list of task metric dicts
        # one application, one file (the session sets rolling off)
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        if len(files) != 1 or not os.path.isfile(files[0]):
            raise RuntimeError(f"expected one Spark event log file in {log_dir}")
        with open(files[0], encoding="utf-8") as fh:
            for line in fh:
                self._read(json.loads(line))

    def _read(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "t0": e["Submission Time"] / 1000.0,
                "t1": None,
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["t1"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            self.tasks.setdefault(e["Stage ID"], []).append(
                {
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "written": (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    ),
                }
            )

    def _stage_owner(self) -> dict:
        """stage id -> first job id that lists it (later jobs skip it)."""
        owner: dict = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stages"]:
                owner.setdefault(sid, jid)
        return owner

    def job_ids(self, groups: set) -> list:
        return [j for j, job in self.jobs.items() if job["group"] in groups]

    def ungrouped_before(self, t: float) -> list:
        return [
            j
            for j, job in self.jobs.items()
            if job["group"] is None and job["t0"] <= t
        ]

    def summarize(self, job_ids: list, t0: float, t1: float) -> dict:
        """Spark-side figures for a set of jobs run inside [t0, t1]."""
        wanted = set(job_ids)
        owner = self._stage_owner()
        stages = [s for s, j in owner.items() if j in wanted and s in self.tasks]
        tasks = [t for s in stages for t in self.tasks[s]]
        # driver time: span wall not covered by any of its jobs
        intervals = sorted(
            (max(self.jobs[j]["t0"], t0), min(self.jobs[j]["t1"] or t1, t1))
            for j in wanted
        )
        busy, cur0, cur1 = 0.0, None, None
        for a, b in intervals:
            if b <= a:
                continue
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    busy += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            busy += cur1 - cur0
        skew = 1.0
        if stages:
            slowest = max(stages, key=lambda s: sum(t["run_s"] for t in self.tasks[s]))
            durs = [t["dur_s"] for t in self.tasks[slowest]]
            skew = max(durs) / max(statistics.median(durs), 0.001)
        return {
            "wall_s": t1 - t0,
            "jobs": len(wanted),
            "task_s": sum(t["run_s"] for t in tasks),
            "driver_s": max(t1 - t0 - busy, 0.0),
            "shuffle_mb": sum(t["shuffle_write"] for t in tasks) / MB,
            "spill_mb": sum(t["spill"] for t in tasks) / MB,
            "written_mb": sum(t["written"] for t in tasks) / MB,
            "skew": skew,
        }

    def span_summary(self, span: Span) -> dict:
        groups = {s.gid for s in span.subtree()}
        return self.summarize(self.job_ids(groups), span.t0, span.t1)


class RssSampler:
    """Peak resident memory of a process subtree, sampled from /proc.

    The subtree is every descendant of this Python process: the driver
    JVM that pyspark launches and the Python workers the JVM forks.
    Memory is summed as PSS (resident pages, each shared page split
    among the processes sharing it), so the forked workers' shared
    pages are not counted once per worker.
    """

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    @staticmethod
    def _descendants(root: int) -> list:
        parent_of: dict = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    parent_of[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
        out = []
        for pid in parent_of:
            p = parent_of[pid]
            while p is not None and p != root and p > 1:
                p = parent_of.get(p)
            if p == root:
                out.append(pid)
        return out

    def sample(self) -> None:
        total = 0
        for pid in self._descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def java_version(spark) -> str:
    return spark.sparkContext._jvm.System.getProperty("java.version")
