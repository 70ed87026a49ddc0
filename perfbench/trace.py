"""Spans around public calls, and Spark event-log metrics attributed to them.

A span is (id, name, start, end, parent).  While a span is open the tracer
sets the Spark local property ``SPAN_PROPERTY`` to its id, so every job and
stage submitted inside it carries the id in the event log.  The job
description is not used for this: ``run_extraction``'s ``setJobGroup``
overwrites it.

``attribute`` reads an uncompressed, non-rolling event log and sums task
metrics and SQL accumulables per span id.  Spans are kept in memory and
written as JSON once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"

# SQL accumulables summed per span (task-side updates; times in ms).
SQL_METRICS = (
    "data sent to Python workers",
    "data returned from Python workers",
    "time to run Python workers",
)


class Tracer:
    """In-memory span recorder.  ``spark`` may be None (pure-Python spans)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set(self._stack[-1] if self._stack else None)

    def _set(self, sid: int | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                SPAN_PROPERTY, None if sid is None else str(sid)
            )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "shuffle_write_bytes": 0,
        "fetch_wait_ms": 0,
        **{m: 0 for m in SQL_METRICS},
        # scan node "size of files read", by the scanned location
        "scan_bytes": {},
    }


def attribute(events) -> dict[int, dict]:
    """Per-span sums over an iterable of event-log records (dicts).

    Jobs and stages are keyed to a span by ``SPAN_PROPERTY`` in their
    Properties; tasks by the span of their stage.  Scan-node file sizes are
    driver-side SQL metrics: they are keyed to a span through the SQL
    execution id its jobs carry, and to the table through the scan node's
    ``Location``.  Events without the property (harness bookkeeping outside
    any span) are dropped.
    """
    out: dict[int, dict] = {}
    stage_span: dict[tuple[int, int], int] = {}
    exec_span: dict[int, int] = {}
    scan_acc: dict[int, str] = {}  # accumulator id -> scanned location
    driver_updates: list[dict] = []

    def plan_scans(node) -> None:
        loc = (node.get("metadata") or {}).get("Location")
        for m in node.get("metrics", []):
            if loc and m["name"] == "size of files read":
                scan_acc[m["accumulatorId"]] = loc
        for child in node.get("children", []):
            plan_scans(child)

    def span_of(props) -> int | None:
        v = (props or {}).get(SPAN_PROPERTY)
        return int(v) if v not in (None, "") else None

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            sid = span_of(e.get("Properties"))
            if sid is not None:
                out.setdefault(sid, _empty())["jobs"] += 1
                exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_span[int(exec_id)] = sid
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            plan_scans(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # posted while the scan is planned, before the execution's first
            # job names its span: resolved after the last event
            driver_updates.append(e)
        elif kind == "SparkListenerStageSubmitted":
            sid = span_of(e.get("Properties"))
            info = e["Stage Info"]
            if sid is not None:
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = sid
                out.setdefault(sid, _empty())["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get((e["Stage ID"], e["Stage Attempt ID"]))
            if sid is None:
                continue
            acc = out.setdefault(sid, _empty())
            acc["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                acc["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") in SQL_METRICS and a.get("Update") is not None:
                    acc[a["Name"]] += int(a["Update"])
    for e in driver_updates:
        sid = exec_span.get(e["executionId"])
        if sid is None:
            continue
        scans = out.setdefault(sid, _empty())["scan_bytes"]
        for acc_id, value in e["accumUpdates"]:
            if acc_id in scan_acc:
                scans[scan_acc[acc_id]] = scans.get(scan_acc[acc_id], 0) + value
    return out


def read_event_log(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def total(per_span: dict[int, dict], ids) -> dict:
    """Sum of the per-span records for the given span ids."""
    acc = _empty()
    for sid in ids:
        for k, v in per_span.get(sid, {}).items():
            if k == "scan_bytes":
                for loc, n in v.items():
                    acc[k][loc] = acc[k].get(loc, 0) + n
            else:
                acc[k] += v
    return acc
