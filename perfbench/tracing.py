"""Spans around layer calls, attributed to Spark work through the event log.

A span is opened by the benchmark around one eager call into a layer's
public function. While it is open, the calling thread's Spark job group
is ``span:<id>``, so every job, stage and task the call starts carries
the span id in the event log (``JobStart`` / ``StageSubmitted``
properties). Spans stay in memory and are written out once, at the end.

The event log is read with the stdlib ``json`` module only: the
uncompressed rolling files ``eventlog_v2_*/events_*`` (or a single
plain file) that ``spark.eventLog.enabled`` writes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

GROUP_PREFIX = "span:"
PYTHON_RUN = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
MB = 1024.0 * 1024.0


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Spark settings that turn the event log on, uncompressed, into
    ``log_dir`` (Spark 4 otherwise writes zstd)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


class Tracer:
    """Nested spans of one thread. With ``sc`` set, each span tags the
    Spark jobs it starts with its own job group. ``overhead_s`` is the
    time spent in the tracer's own bookkeeping and job-group calls."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t0

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def _acc(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", ()):
        name = a.get("Name")
        if name in (PYTHON_RUN, PYTHON_SENT, PYTHON_RETURNED):
            out[name] = out.get(name, 0.0) + float(a.get("Update") or 0)
    return out


def read_event_log(log_dir: str) -> dict:
    """-> {"jobs": [...], "tasks": [...]}, each tagged with the span id
    (or None) its job group names. Times are epoch seconds."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")

    def span_of(props: dict | None) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        return int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None

    stage_span: dict[int, int | None] = {}
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"span": span_of(e.get("Properties")),
                                         "start": e["Submission Time"] / 1e3, "end": None}
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    stage_span[e["Stage Info"]["Stage ID"]] = span_of(e.get("Properties"))
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    acc = _acc(info)
                    sr = m.get("Shuffle Read Metrics", {})
                    tasks.append({
                        "span": stage_span.get(e["Stage ID"]),
                        "stage": e["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "python_s": acc.get(PYTHON_RUN, 0.0) / 1e3,
                        "python_bytes": acc.get(PYTHON_SENT, 0.0) + acc.get(PYTHON_RETURNED, 0.0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "records_read": m.get("Input Metrics", {}).get("Records Read", 0),
                        "records_written": m.get("Output Metrics", {}).get("Records Written", 0),
                    })
    return {"jobs": [j for j in jobs.values() if j["end"] is not None], "tasks": tasks}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _task_skew(tasks: list[dict]) -> float:
    """Max over median task run time in the span's heaviest stage."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def span_metrics(spans: list[dict], log: dict) -> dict[int, dict]:
    """Per-span layer metrics. A span owns the jobs and tasks of its own
    job group and of every descendant span's group. ``self_s`` is its
    wall time minus the part covered by child spans and by its own Spark
    jobs: the driver-side work of the call itself."""
    children: dict[int | None, list[int]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children.get(cur, ()))
        return out

    out: dict[int, dict] = {}
    for s in spans:
        ids = set(subtree(s["id"]))
        tasks = [t for t in log["tasks"] if t["span"] in ids]
        jobs = [j for j in log["jobs"] if j["span"] in ids]
        busy = [(spans[c]["start"], spans[c]["end"]) for c in children.get(s["id"], ())]
        busy += [(j["start"], j["end"]) for j in jobs if j["span"] == s["id"]]
        wall = s["end"] - s["start"]
        out[s["id"]] = {
            "wall_s": wall,
            "self_s": wall - _covered(busy, s["start"], s["end"]),
            "jobs": len(jobs),
            "tasks": len(tasks),
            "task_s": sum(t["run_s"] for t in tasks),
            "exec_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "python_s": sum(t["python_s"] for t in tasks),
            "python_mb": sum(t["python_bytes"] for t in tasks) / MB,
            "shuffle_read_mb": sum(t["shuffle_read_bytes"] for t in tasks) / MB,
            "shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / MB,
            "spill_mb": sum(t["spill_bytes"] for t in tasks) / MB,
            "task_skew": _task_skew(tasks),
            "records_read": sum(t["records_read"] for t in tasks),
            "rows_out": s["rows_out"] if "rows_out" in s else sum(t["records_written"] for t in tasks),
        }
    return out


def by_name(spans: list[dict], metrics: dict[int, dict]) -> dict[str, dict]:
    """Sum the metrics of same-named spans (repeated probe calls);
    ``task_skew`` takes the max and ``calls`` counts the spans."""
    out: dict[str, dict] = {}
    for s in spans:
        m = metrics[s["id"]]
        agg = out.setdefault(s["name"], {"calls": 0})
        agg["calls"] += 1
        for k, v in m.items():
            agg[k] = max(agg.get(k, 0.0), v) if k == "task_skew" else agg.get(k, 0) + v
    return out
