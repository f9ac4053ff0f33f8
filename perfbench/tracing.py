"""Traced-run instrumentation: spans around calls into each layer, Spark's
event log, and a streaming-progress listener.

Spans live in memory and are written out once, when the run ends. Jobs,
tasks and SQL metrics are attributed to an operation by time window: the
load is one closed-loop client, so every job that starts inside an
operation's span belongs to it (streaming micro-batches included, which
carry their own job group).
"""

from __future__ import annotations

import contextlib
import json
import os
import time

# SQL metric that only Python-evaluating plan nodes carry; the other metrics
# of the same node give the Arrow<->Python boundary figures.
_PY_NODE_MARK = "time to run Python workers"


class Tracer:
    """Records ``(name, start, end, parent, iteration)`` spans."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, iteration: int | None = None):
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "iteration": iteration,
            }
        )
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def event_log_conf(log_dir: str) -> dict:
    """Session settings for one plain-JSON event log file in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _python_node_metrics(plan: dict, out: dict) -> None:
    metrics = {m["name"]: m for m in plan.get("metrics", [])}
    if _PY_NODE_MARK in metrics:
        for name, m in metrics.items():
            out[m["accumulatorId"]] = (name, m["metricType"])
    for child in plan.get("children", []):
        _python_node_metrics(child, out)


class EventLog:
    """The parts of a Spark event log the per-layer table needs."""

    def __init__(self, path: str):
        self.jobs: list[dict] = []
        self.tasks: list[dict] = []
        self.py_accums: dict[int, tuple[str, str]] = {}
        stage_job: dict[int, int] = {}
        by_id: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = {"id": ev["Job ID"], "start": ev["Submission Time"] / 1000.0, "end": None}
                    by_id[job["id"]] = job
                    self.jobs.append(job)
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job["id"]
                elif kind == "SparkListenerJobEnd":
                    by_id[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(_task(ev, stage_job))
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _python_node_metrics(ev["sparkPlanInfo"], self.py_accums)

    def window(self, t0: float, t1: float) -> dict:
        """Engine figures for the jobs submitted in ``[t0, t1]``."""
        jobs = [j for j in self.jobs if t0 <= j["start"] <= t1]
        ids = {j["id"] for j in jobs}
        tasks = [t for t in self.tasks if t["job"] in ids]
        py = {"number of output rows": 0.0, "data sent to Python workers": 0.0, _PY_NODE_MARK: 0.0}
        for t in tasks:
            for acc_id, update in t["accums"].items():
                named = self.py_accums.get(acc_id)
                if named and named[0] in py:
                    scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(named[1], 1.0)
                    py[named[0]] += float(update) * scale
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill_b"] for t in tasks) / 2**20,
            "driver_only_s": (t1 - t0) - _union(
                (max(j["start"], t0), min(j["end"] or t1, t1)) for j in jobs
            ),
            "udf_rows": py["number of output rows"],
            "udf_mb_sent": py["data sent to Python workers"] / 2**20,
            "udf_python_s": py[_PY_NODE_MARK],
        }


def _task(ev: dict, stage_job: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    shuffle = m.get("Shuffle Write Metrics") or {}
    accums = {}
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        if "Update" in a and str(a["Update"]).lstrip("-").isdigit():
            accums[a["ID"]] = a["Update"]
    return {
        "job": stage_job.get(ev["Stage ID"]),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_b": shuffle.get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "accums": accums,
    }


def _union(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def streaming_listener(spark):
    """Register and return a listener that keeps every micro-batch progress
    as ``(trigger time, query id, state rows, state update ms)``."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple[float, str, int, int]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.events.append(
                (ts, str(p.id), sum(o.numRowsTotal for o in ops), sum(o.allUpdatesTimeMs for o in ops))
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def window(self, t0: float, t1: float) -> tuple[int, int, int]:
            """Micro-batches, state rows left by each query's last batch, and
            state-update milliseconds for the batches triggered in the window."""
            sel = [e for e in self.events if t0 <= e[0] <= t1]
            last_rows = {qid: rows for _, qid, rows, _ in sorted(sel)}
            return len(sel), sum(last_rows.values()), sum(e[3] for e in sel)

    listener = Progress()
    spark.streams.addListener(listener)
    return listener
