"""Tracing for the traced benchmark run: in-memory spans around the
benchmark's calls into the engine's public functions, and Spark's own JSON
event log parsed per op.

Spans are attributed to Spark work by time window, not by job group:
background threads (such as the streaming engine's micro-batch thread) do
not inherit a caller's job group, but every job they submit still falls
inside the window of the call that caused it. Ops run one at a time, so
windows do not overlap.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans ``(name, start, end, op)`` in memory. Times are
    ``time.time()`` seconds so they share a clock with Spark's event log.
    A disabled tracer records nothing and costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.time(), "end": None, "op": self.op}
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float) -> None:
        """A span measured elsewhere (e.g. a streaming epoch reported by
        Spark, or a call made on another thread)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end, "op": self.op})

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a function that records a span per
        call, for calls the engine makes itself (foreachBatch callbacks,
        which arrive on another thread)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        def traced(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                self.record(name, t0, time.time())

        setattr(module, attr, traced)


# --- Spark event log ---------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a plain-JSON event log (Spark 4 compresses with
    zstd by default, which the Python standard library cannot read)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Parse the single application log in ``log_dir`` into jobs, stages and
    tasks, with times in seconds since the epoch."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                scope = json.loads(props.get("spark.rdd.scope") or "{}")
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1e3,
                    "stages": ev["Stage IDs"],
                    "call_site": props.get("callSite.short", ""),
                    # the RDD operation that ran the job ("checkpoint",
                    # "collect", "Exchange", ...) and its SQL execution
                    "scope": scope.get("name", ""),
                    "sql_id": props.get("spark.sql.execution.id"),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Submission Time" in si and "Completion Time" in si:
                    stages[si["Stage ID"]] = {
                        "start": si["Submission Time"] / 1e3,
                        "end": si["Completion Time"] / 1e3,
                    }
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "start": ti["Launch Time"] / 1e3,
                    "run_s": tm.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                    "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_disk_bytes": tm.get("Disk Bytes Spilled", 0),
                    "peak_exec_mem_bytes": tm.get("Peak Execution Memory", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_in(log: dict, start: float, end: float) -> list[int]:
    """Jobs submitted inside ``[start, end]`` (the millisecond event clock
    is widened by 1 ms on each side)."""
    return [j for j, r in log["jobs"].items() if start - 1e-3 <= r["submit"] <= end + 1e-3]


def execution_s(log: dict, start: float, end: float, scope: str) -> float | None:
    """Seconds from first submit to last end of the jobs of every SQL
    execution, submitted in the window, that ran a job of ``scope``; None
    when no job of ``scope`` ran in the window."""
    ids = [j for j in jobs_in(log, start, end) if "end" in log["jobs"][j]]
    sql_ids = {log["jobs"][j]["sql_id"] for j in ids if log["jobs"][j]["scope"] == scope}
    if not sql_ids - {None}:
        return None
    total = 0.0
    for sid in sql_ids - {None}:
        js = [log["jobs"][j] for j in ids if log["jobs"][j]["sql_id"] == sid]
        total += max(j["end"] for j in js) - min(j["submit"] for j in js)
    return total


def window_stats(log: dict, start: float, end: float, cores: int) -> dict:
    """Spark-side numbers for the work submitted in one window."""
    job_ids = jobs_in(log, start, end)
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"] if s in log["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    wall = end - start
    covered = _union_length([(log["stages"][s]["start"], log["stages"][s]["end"])
                             for s in stage_ids])
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = max((max(v) / statistics.median(v) for v in by_stage.values()
                if statistics.median(v) > 0), default=1.0)
    out = {
        "spark.jobs": len(job_ids),
        "spark.stages": len(stage_ids),
        "spark.tasks": len(tasks),
        "spark.driver_gap_s": max(0.0, wall - covered),
        "spark.task_s": sum(t["run_s"] for t in tasks),
        "spark.cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.stage_skew": skew,
    }
    out["spark.busy_frac"] = out["spark.task_s"] / (wall * cores) if wall > 0 else 0.0
    for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_disk_bytes"):
        out[f"spark.{k}"] = sum(t[k] for t in tasks)
    out["spark.peak_exec_mem_bytes"] = max((t["peak_exec_mem_bytes"] for t in tasks), default=0)
    return out


def span_totals(log: dict, spans: list[dict], op: int) -> dict:
    """Per span name within one op: summed seconds and the number of jobs
    submitted inside its windows."""
    out: dict[str, dict] = {}
    for s in spans:
        if s["op"] != op or s["end"] is None:
            continue
        r = out.setdefault(s["name"], {"s": 0.0, "jobs": 0})
        r["s"] += s["end"] - s["start"]
        r["jobs"] += len(jobs_in(log, s["start"], s["end"]))
    return out


def proc_hwm_mb(pid: int | str = "self") -> float | None:
    """Peak resident set (VmHWM) of a process, in MB; None if unreadable."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None
