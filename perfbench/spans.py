"""Spans around the benchmark's calls into the library, and the Spark
event log joined onto them.

A span is (id, name, start, end, parent, op). Spans are kept in memory
and written out once, after the run. While a span is open, every Spark
job its thread launches carries the description ``<op>:<span>``. Jobs
started from threads the library owns carry none, so jobs are joined to
ops by time (one client, closed loop: ops never overlap), and the label
only names the layer.
"""

from __future__ import annotations

import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from common import median


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_stack: list[dict] = []
        self._sc = None
        self.op_id = None

    def bind(self, spark) -> None:
        """Label jobs of ``spark`` from now on (None: label nothing)."""
        self._sc = spark.sparkContext if spark is not None else None

    def _label(self, value) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.job.description", value)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, op_id: str, traced: bool = True):
        """Root span of one op (or one set-up); nothing is recorded when
        ``traced`` is false."""
        self.enabled, self.op_id = traced, op_id
        self._op_stack = self._stack()
        try:
            with self.span("op"):
                yield
        finally:
            self.enabled, self.op_id = False, None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # a span opened on a helper thread hangs under the op thread's
        # innermost span
        parent = stack[-1] if stack else (
            self._op_stack[-1] if self._op_stack else None)
        with self._lock:
            rec = {
                "id": len(self.spans), "name": name, "op": self.op_id,
                "parent": parent["id"] if parent else None,
                "start": time.time(), "end": None,
            }
            self.spans.append(rec)
        stack.append(rec)
        self._label(f"{self.op_id}:{name}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._label(f"{self.op_id}:{stack[-1]['name']}" if stack else None)

    def concurrently(self, calls) -> None:
        """Run ``(span name, callable)`` pairs on one thread each, every
        call inside its span; re-raise the first failure."""
        def one(name, fn):
            with self.span(name):
                fn()

        with ThreadPoolExecutor(max_workers=len(calls)) as pool:
            futures = [pool.submit(one, name, fn) for name, fn in calls]
            for f in futures:
                f.result()

    # ------------------------------------------------------------ queries
    def ops(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == "op" and s["op"].startswith(prefix)]

    def per_op(self, name: str, prefix: str) -> list[float]:
        """Total seconds in spans called ``name``, one value per op whose
        id starts with ``prefix``."""
        out = []
        for root in self.ops(prefix):
            out.append(sum(s["end"] - s["start"] for s in self.spans
                           if s["op"] == root["op"] and s["name"] == name))
        return out

    def coverage(self, root: dict) -> float:
        """Share of the op's wall time covered by its child spans."""
        kids = [(s["start"], s["end"]) for s in self.spans
                if s["parent"] == root["id"]]
        wall = root["end"] - root["start"]
        return union_length(kids) / wall if wall > 0 else 0.0


def union_length(intervals) -> float:
    """Length of the union of [start, end] intervals (overlaps count
    once — the sum would double-count concurrent jobs)."""
    total = 0.0
    cur_s = cur_e = None
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


def parse_event_log(path: str) -> list[dict]:
    """Jobs of one Spark event log: id, submit/end (epoch seconds),
    description, task count and shuffle bytes written."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid, "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "desc": props.get("spark.job.description"),
                    "tasks": 0, "shuffle_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                job["tasks"] += 1
                sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                job["shuffle_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
    return [j for j in jobs.values() if j["end"] is not None]


def engine_layers(jobs: list[dict], roots: list[dict]) -> tuple[dict, list[dict]]:
    """Per-op Spark engine figures for the given op spans: jobs and
    tasks launched inside the op, the union of their intervals, the
    op's wall time outside every job, and shuffle bytes. Returns the
    per-op medians and the per-op rows."""
    rows = []
    for r in roots:
        mine = [j for j in jobs if r["start"] <= j["submit"] <= r["end"]]
        busy = union_length(
            (j["submit"], min(j["end"], r["end"])) for j in mine)
        wall = r["end"] - r["start"]
        rows.append({
            "op": r["op"], "wall_s": wall, "jobs": len(mine),
            "unlabeled_jobs": sum(1 for j in mine if not j["desc"]),
            "tasks": sum(j["tasks"] for j in mine), "job_s": busy,
            "idle_s": wall - busy,
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in mine),
        })
    med = {
        "spark.jobs_per_op": median(x["jobs"] for x in rows),
        "spark.tasks_per_op": median(x["tasks"] for x in rows),
        "spark.job_s_per_op": median(x["job_s"] for x in rows),
        "spark.idle_s_per_op": median(x["idle_s"] for x in rows),
        "spark.shuffle_bytes_per_op": median(x["shuffle_bytes"] for x in rows),
    }
    return med, rows
