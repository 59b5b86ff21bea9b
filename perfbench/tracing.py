"""Bench-side spans and the fold of Spark's event log into them.

A span is recorded around every call the benchmark makes into a layer:
name, kind, start, end, parent span, workload and call id. Spans are kept
in memory and written out when the run ends. While a span is open, its
call id is the Spark job group of the calling thread, so the jobs it
launches carry it in the event log.

Jobs submitted from the engine's own worker threads (the index build and
compaction pools) carry no job group. The benchmark is a single client
with one call in flight, so span windows do not overlap, and such a job
is attributed to the innermost span whose window contains its submission
time. The fold counts how many jobs of each span were attributed that
way.
"""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path

# SQL accumulators of the Python UDF operators (Spark 4.1), by name.
PY_RUN = "time to run Python workers"  # ms
PY_INIT = "time to initialize Python workers"  # ms
PY_SENT = "data sent to Python workers"  # bytes

TASK_FIELDS = (
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "scan_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "py_run_s",
    "py_init_s",
    "py_bytes_sent",
)


class Tracer:
    """Records spans and tags Spark jobs with the innermost span's id.

    Disabled (``sc=None``), ``span`` only yields, so untimed bookkeeping
    costs nothing in the runs that measure end-to-end metrics."""

    def __init__(self, workload: str, sc=None):
        self.workload = workload
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "phase", **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "call_id": f"{self.workload}-{len(self.spans)}",
            "name": name,
            "kind": kind,
            "parent": self._stack[-1]["call_id"] if self._stack else None,
            "workload": self.workload,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["call_id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["call_id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def read_event_log(log_dir: Path) -> list[dict]:
    """Events of the one application logged under ``log_dir`` (a rolling
    ``eventlog_v2_*`` directory of ``events_<n>_*`` files, uncompressed)."""
    apps = sorted(log_dir.glob("eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {len(apps)}")
    files = sorted(
        apps[0].glob("events_*"), key=lambda p: int(p.name.split("_")[1])
    )
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    acc = {
        a.get("Name"): a.get("Update")
        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
    }
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "scan_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "py_run_s": float(acc.get(PY_RUN) or 0) / 1e3,
        "py_init_s": float(acc.get(PY_INIT) or 0) / 1e3,
        "py_bytes_sent": float(acc.get(PY_SENT) or 0),
    }


def fold_jobs(events: list[dict]) -> dict[int, dict]:
    """One record per Spark job: group, submit/end times (epoch s), stages
    run, tasks run and the summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "job_id": jid,
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "callsite": (ev.get("Properties") or {}).get("callSite.short"),
                "submit": ev["Submission Time"] / 1e3,
                "end": None,
                "stages": 0,
                "tasks": 0,
                **{f: 0.0 for f in TASK_FIELDS},
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            job["tasks"] += 1
            for f, v in _task_metrics(ev).items():
                job[f] += v
    return jobs


def attribute(spans: list[dict], jobs: dict[int, dict]) -> dict:
    """Assign every job to a span: by job group when the group is a span
    id, otherwise by submission time to the innermost span whose window
    contains it. Returns {call_id: [job, ...]} plus "" for jobs outside
    every span; each job gains ``by_group``."""
    by_id = {s["call_id"]: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["call_id"]] = d
    owned: dict[str, list[dict]] = {s["call_id"]: [] for s in spans}
    owned[""] = []
    for job in sorted(jobs.values(), key=lambda j: j["submit"]):
        job["by_group"] = job["group"] in by_id
        if job["by_group"]:
            owned[job["group"]].append(job)
            continue
        inside = [
            s for s in spans
            if s["start"] <= job["submit"] <= (s["end"] or float("inf"))
        ]
        owner = max(inside, key=lambda s: depth[s["call_id"]], default=None)
        owned[owner["call_id"] if owner else ""].append(job)
    return owned


def span_rows(spans: list[dict], owned: dict) -> list[dict]:
    """One row per span: wall, jobs (by group / by time), stages, tasks,
    the prep / jobs / tail split of the wall, and summed task metrics."""
    rows = []
    for s in spans:
        js = owned[s["call_id"]]
        wall = s["end"] - s["start"]
        row = dict(s)
        row.update(
            wall_s=wall,
            jobs=len(js),
            jobs_by_time=sum(not j["by_group"] for j in js),
            stages=sum(j["stages"] for j in js),
            tasks=sum(j["tasks"] for j in js),
        )
        for f in TASK_FIELDS:
            row[f] = sum(j[f] for j in js)
        if js:
            first = min(j["submit"] for j in js)
            last = max(j["end"] or s["end"] for j in js)
            row.update(
                prep_s=max(0.0, first - s["start"]),
                jobs_s=max(0.0, last - first),
                tail_s=max(0.0, s["end"] - last),
            )
        else:
            row.update(prep_s=wall, jobs_s=0.0, tail_s=0.0)
        rows.append(row)
    return rows
