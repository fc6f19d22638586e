"""Spans around the benchmark's calls into each layer, and the Spark
event-log statistics attributed to them.

Spans are kept in memory (name, start, end, parent, run id, attributes)
and written out when the run ends.  In a traced run Spark's event log is
on; jobs, stages and task metrics are read back from it with ``json`` and
attributed to the innermost span whose wall-clock window holds the job's
submission time.  Attribution is by time, not by job group: the streaming
query's thread sets a job group of its own.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder.  Spans are cheap (two clock reads), so
    they are always recorded: the untraced run derives its per-stage
    end-to-end figures from them too, and only the event log is traced-only.
    Each thread nests its spans under its own open spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.run = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": stack[-1] if stack else None,
                   "run": self.run, "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def find(self, name: str, run: int | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (run is None or s["run"] == run)]

    def total(self, name: str, run: int | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name, run))


def _stat() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
            "spill_bytes": 0, "output_bytes": 0, "input_bytes": 0}


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from the single application log in ``log_dir``:
    jobs as {id, submit, stages}, stages as per-stage task totals for the
    stages that ran."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs, stages = [], {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append({"id": ev["Job ID"], "submit": ev["Submission Time"] / 1000,
                             "stages": ev["Stage IDs"]})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.setdefault(info["Stage ID"], _stat())["stages"] = 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], _stat())
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1000
                st["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                st["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return jobs, stages


def attribute(spans: list[dict], jobs: list[dict], stages: dict[int, dict]) -> dict[int, dict]:
    """Per-span totals (the span's own jobs plus its descendants')."""
    by_id = {s["id"]: s for s in spans}
    own = {s["id"]: _stat() for s in spans}
    seen_stages: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["id"]):
        inner = None
        for s in spans:
            if s["start"] <= job["submit"] <= s["end"] and (
                    inner is None or s["start"] >= inner["start"]):
                inner = s
        if inner is None:
            continue
        acc = own[inner["id"]]
        acc["jobs"] += 1
        for sid in job["stages"]:
            if sid in seen_stages or sid not in stages:
                continue  # a stage shared by jobs counts once; skipped stages never ran
            seen_stages.add(sid)
            for k, v in stages[sid].items():
                acc[k] += v
    totals = {sid: dict(v) for sid, v in own.items()}
    for s in spans:
        p = s["parent"]
        while p is not None:
            for k, v in own[s["id"]].items():
                totals[p][k] += v
            p = by_id[p]["parent"]
    return totals


def write_spans(path: str, spans: list[dict], totals: dict[int, dict],
                extra: dict) -> None:
    """Spans with their attributed statistics, plus the run's detail, as
    one JSON document."""
    out = [{**s, "stats": totals[s["id"]]} for s in spans]
    with open(path, "w") as f:
        json.dump({"spans": out, **extra}, f, indent=1, default=str)
