"""Spans with Spark's own accounting.

A span is a named, timed region with a parent and a round id. Each span
sets its own Spark job group, so every job it launches (AQE sub-jobs and
broadcast builds included, which inherit the thread's local properties)
is tagged with it. After the session stops, ``fold_event_log`` reads the
event log and folds ``TaskEnd`` metrics by job group, giving each span
its executor run time and shuffle bytes next to its wall time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "span-"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a traced run: an uncompressed event log in log_dir."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, round_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "round": round_id if round_id is not None else (parent or {}).get("round"),
            "group": f"{GROUP_PREFIX}{sid}",
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self._set_group(parent)

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]


def fold_event_log(log_dir: str) -> dict:
    """Fold the (single) event log under ``log_dir``.

    Returns ``{"groups": {group: totals}, "jobs": [(group, wall_s), ...]}``
    where totals hold ``tasks``, ``exec_s`` (executor run time),
    ``shuffle_write_bytes``, ``jobs`` and ``job_wall_s``. A task is
    attributed to the group of the latest job that listed its stage when
    the task ended.
    """
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    jobs: list[tuple[str | None, float]] = []
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                wall = (ev["Completion Time"] - job_start.pop(jid)) / 1000.0
                g = job_group.pop(jid)
                jobs.append((g, wall))
                if g is not None:
                    groups[g]["job_wall_s"] += wall
                    groups[g]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                t = groups[g]
                t["tasks"] += 1
                t["exec_s"] += m.get("Executor Run Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return {"groups": {g: dict(v) for g, v in groups.items()}, "jobs": jobs}


def group_coverage(folded: dict) -> float:
    """Share of all job wall time spent in jobs that carry a span group."""
    total = sum(w for _, w in folded["jobs"])
    tagged = sum(w for g, w in folded["jobs"] if g and g.startswith(GROUP_PREFIX))
    return tagged / total if total else 0.0


def span_totals(tracer: Tracer, folded: dict) -> list[dict]:
    """Per span: wall time plus the Spark totals of it and its children."""
    children: dict[int, list[int]] = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])

    def subtree(sid):
        yield sid
        for c in children[sid]:
            yield from subtree(c)

    out = []
    for s in tracer.spans:
        acc: dict[str, float] = defaultdict(float)
        for sid in subtree(s["id"]):
            for k, v in folded["groups"].get(f"{GROUP_PREFIX}{sid}", {}).items():
                acc[k] += v
        out.append({**s, "wall_s": tracer.wall(s), **acc})
    return out
