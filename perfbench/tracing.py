"""In-memory spans around the calls into each layer, and the Spark
event log parsed into per-span job, task, shuffle and spill figures.

Spans are opened by the benchmark's own code and, in a traced run, by
wrappers installed on the engine's public classes (``CdcPipeline``,
``LakeTable``) from here: nothing in ``yadex_spark`` changes.  A span is
(name, start, end, parent, run id); times are wall-clock seconds so
that they line up with the event log's millisecond timestamps.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time


class Tracer:
    """Span recorder.  Disabled, ``span`` costs one attribute test."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            s = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
                 "parent": self._stack[-1]["id"] if self._stack else None,
                 "run": self.run_id}
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s["end"] = time.time()
                # foreachBatch calls back on another thread while the
                # main thread waits, so spans still close in LIFO order
                if s in self._stack:
                    self._stack.remove(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap the engine's public layer entry points (traced runs only)."""
    from yadex_spark.lake.table import LakeTable
    from yadex_spark.streaming.pipeline import CdcPipeline

    tracer.wrap(CdcPipeline, "run_available_now", "streaming.run")
    tracer.wrap(CdcPipeline, "apply_batch", "streaming.apply_batch")
    tracer.wrap(LakeTable, "commit_delta_dir", "lake.commit")
    tracer.wrap(LakeTable, "snapshots", "lake.snapshots")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


class EventLog:
    """Jobs of one application with their tasks' metrics summed."""

    def __init__(self, log_dir: str):
        paths = sorted(glob.glob(os.path.join(log_dir, "*")))
        if not paths:
            raise FileNotFoundError(f"no event log in {log_dir}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        exec_start: dict[int, float] = {}
        with open(paths[-1]) as f:
            lines = f.readlines()
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = {
                    "id": e["Job ID"], "submit": e["Submission Time"] / 1000.0,
                    "end": None, "exec": props.get("spark.sql.execution.id"),
                    "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
                    "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                    "records_read": 0, "records_written": 0, "bytes_written": 0,
                }
                self.jobs[job["id"]] = job
                for sid in e["Stage IDs"]:
                    stage_job[sid] = job["id"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = self.jobs.get(stage_job.get(e["Stage ID"]))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                job["tasks"] += 1
                job["run_ms"] += m.get("Executor Run Time", 0)
                job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                job["gc_ms"] += m.get("JVM GC Time", 0)
                job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job["records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
                job["records_written"] += m.get("Output Metrics", {}).get("Records Written", 0)
                job["bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            elif kind == SQL_START:
                exec_start[e["executionId"]] = e["time"] / 1000.0
        # a job still running when the session stopped has no end time
        self.jobs = {k: j for k, j in self.jobs.items() if j["end"] is not None}
        # planning: from an SQL execution's start to its first job
        first_job: dict[str, dict] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j["submit"]):
            job["planning_ms"] = 0.0
            ex = job["exec"]
            if ex is not None and ex not in first_job and int(ex) in exec_start:
                first_job[ex] = job
                job["planning_ms"] = max(0.0, (job["submit"] - exec_start[int(ex)]) * 1000)

    def attribute(self, spans: list[dict]) -> None:
        """Give each job the innermost closed span its submission time
        falls in (``job["span"]`` is that span's id, or None)."""
        closed = [s for s in spans if s["end"] is not None]
        for job in self.jobs.values():
            best = None
            for s in closed:
                if s["start"] <= job["submit"] <= s["end"]:
                    if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                        best = s
            job["span"] = best["id"] if best else None

    def jobs_under(self, spans: list[dict], roots: list[dict]) -> list[dict]:
        """Jobs attributed to any of ``roots`` or their descendants."""
        children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])
        ids, todo = set(), [r["id"] for r in roots]
        while todo:
            i = todo.pop()
            if i not in ids:
                ids.add(i)
                todo.extend(children.get(i, []))
        return [j for j in self.jobs.values() if j.get("span") in ids]


SPARK_TOTALS = {
    "spark.jobs": lambda js: len(js),
    "spark.tasks": lambda js: sum(j["tasks"] for j in js),
    "spark.task_run_ms": lambda js: sum(j["run_ms"] for j in js),
    "spark.executor_cpu_ms": lambda js: sum(j["cpu_ms"] for j in js),
    "spark.gc_ms": lambda js: sum(j["gc_ms"] for j in js),
    "spark.shuffle_read_bytes": lambda js: sum(j["shuffle_read"] for j in js),
    "spark.shuffle_write_bytes": lambda js: sum(j["shuffle_write"] for j in js),
    "spark.spill_bytes": lambda js: sum(j["spill"] for j in js),
    "spark.planning_ms": lambda js: sum(j["planning_ms"] for j in js),
}


def spark_totals(jobs: list[dict]) -> dict[str, float]:
    return {k: float(f(jobs)) for k, f in SPARK_TOTALS.items()}


def per_span(tracer: Tracer, log: EventLog) -> dict[str, dict]:
    """Per span name: calls, total ms and the ``spark.*`` totals of the
    jobs attributed to those spans themselves (not their children)."""
    out: dict[str, dict] = {}
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["end"] is None:
            continue
        row = out.setdefault(s["name"], {"calls": 0, "ms": 0.0, "jobs": []})
        row["calls"] += 1
        row["ms"] += (s["end"] - s["start"]) * 1000.0
    for j in log.jobs.values():
        if j.get("span") is not None:
            out[by_id[j["span"]]["name"]]["jobs"].append(j)
    for row in out.values():
        row.update(spark_totals(row.pop("jobs")))
    return out


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0
