"""Spans around calls into each layer, and Spark event-log accounting.

Every timed call goes through ``Tracer.span``: it records the layer,
the operation, the pass it belongs to and its wall-clock interval, and
tags the Spark jobs it starts with a job group. In a traced run the
spans are written to a JSON-lines file, and Spark's own event log
(switched on through session config by ``run.py``) is parsed after the
session stops. Jobs are attributed to the operation whose job group
they carry, or, when a worker thread dropped the group, to the
operation whose interval contains their submission time. Only one
caller runs at a time, so that attribution is unambiguous.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    layer: str
    name: str
    pass_no: int  # 0 = set-up, 1 = cold pass, 2.. = warm passes, -1 = other
    t0: float  # epoch seconds
    t1: float = 0.0
    parts: dict[str, float] = field(default_factory=dict)
    sid: int = 0
    parent: int | None = None  # sid of the enclosing span

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class Tracer:
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    pass_no: int = -1
    _open: list[Span] = field(default_factory=list)
    _next: int = 0

    @contextlib.contextmanager
    def span(self, layer: str, name: str, tag: bool = True):
        """Time one call into ``layer``. ``tag`` sets the Spark job
        group so the call's jobs can be found in the event log."""
        sc = self.spark.sparkContext if (tag and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(f"{GROUP_PREFIX}{self.pass_no}:{name}", name)
        parent = self._open[-1].sid if self._open else None
        s = Span(layer, name, self.pass_no, time.time(), sid=self._next, parent=parent)
        self._next += 1
        self._open.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._open.pop()
            self.spans.append(s)
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def select(self, layer: str | None = None, pass_no: int | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if (layer is None or s.layer == layer)
            and (pass_no is None or s.pass_no == pass_no)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "parent": s.parent,
                    "layer": s.layer, "name": s.name, "pass": s.pass_no,
                    "t0": round(s.t0, 6), "wall_s": round(s.wall, 6),
                    **{f"{k}_s": round(v, 6) for k, v in s.parts.items()},
                }) + "\n")


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    jid: int
    submit: float  # epoch seconds
    end: float = 0.0
    group: str | None = None
    stages: list[int] = field(default_factory=list)


def find_event_log(log_dir: str, app_id: str) -> list[str]:
    """The application's rolled event-log files in write order
    (``eventlog_v2_<app>/events_<n>_<app>``; run.py turns rolling on)."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    files = [f for f in os.listdir(rolled) if f.startswith("events_")]
    files.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(rolled, f) for f in files]


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def read_event_log(paths: list[str]):
    """(jobs by id, per-stage task totals, python-stage ids)."""
    jobs: dict[int, Job] = {}
    stage_tot: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    python_stages: set[int] = set()
    for line in _events(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
            j.group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            j.stages = list(ev.get("Stage IDs", []))
            jobs[j.jid] = j
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if any("Python" in (a.get("Name") or "")
                   for a in info.get("Accumulables", [])):
                python_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            t = stage_tot[ev["Stage ID"]]
            run = m.get("Executor Run Time", 0) / 1000.0
            deser = m.get("Executor Deserialize Time", 0) / 1000.0
            ser = m.get("Result Serialization Time", 0) / 1000.0
            fetch = 0.0
            if ti.get("Getting Result Time"):
                fetch = (ti["Finish Time"] - ti["Getting Result Time"]) / 1000.0
            dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
            t["tasks"] += 1
            t["run_s"] += run
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["deser_s"] += deser
            t["sched_s"] += max(0.0, dur - run - deser - ser - fetch)
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return jobs, stage_tot, python_stages


def _union(intervals: list[tuple[float, float]]) -> float:
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


def attribute(tracer: Tracer, jobs: dict[int, Job]) -> dict[int, Span]:
    """job id -> the op span that launched it (by group, else interval)."""
    ops = [s for s in tracer.spans if s.layer != "pass"]
    by_group = {f"{GROUP_PREFIX}{s.pass_no}:{s.name}": s for s in ops}
    out: dict[int, Span] = {}
    for j in jobs.values():
        s = by_group.get(j.group or "")
        if s is None:
            s = next((o for o in ops if o.t0 <= j.submit <= o.t1), None)
        if s is not None:
            out[j.jid] = s
    return out


def pass_accounting(tracer: Tracer, log_paths: list[str]) -> dict:
    """Per warm pass sums of the Spark-side layers, plus per-op counts.

    Returns ``{"passes": [{metric: value}...], "ops": {name: [...]}}``
    where each pass dict holds job/stage/task counts and task-time
    totals for the jobs launched inside that pass.
    """
    jobs, stage_tot, python_stages = read_event_log(log_paths)
    owner = attribute(tracer, jobs)
    stage_job: dict[int, int] = {}
    for j in sorted(jobs.values(), key=lambda j: j.jid):
        for sid in j.stages:
            stage_job.setdefault(sid, j.jid)
    job_tot: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, t in stage_tot.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        jt = job_tot[jid]
        jt["stages"] += 1
        for k, v in t.items():
            jt[k] += v
        if sid in python_stages:
            jt["python_s"] += t["run_s"] - t["cpu_s"]

    passes = []
    for p in tracer.select(layer="pass"):
        if p.pass_no < 2:
            continue
        mine = [j for j in jobs.values() if j.jid in owner and owner[j.jid].pass_no == p.pass_no]
        acc: dict[str, float] = defaultdict(float)
        for j in mine:
            acc["jobs"] += 1
            if not (j.group or "").startswith(GROUP_PREFIX):
                acc["untagged_jobs"] += 1
            for k, v in job_tot[j.jid].items():
                acc[k] += v
        spans = [(max(j.submit, p.t0), min(j.end or p.t1, p.t1)) for j in mine]
        acc["outside_jobs_s"] = max(0.0, p.wall - _union([s for s in spans if s[1] > s[0]]))
        passes.append(dict(acc))

    per_op: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for s in tracer.spans:
        if s.pass_no < 2 or s.layer == "pass":
            continue
        mine = [j for j in jobs.values() if owner.get(j.jid) is s]
        per_op[s.name]["jobs"].append(len(mine))
        per_op[s.name]["stages"].append(sum(job_tot[j.jid]["stages"] for j in mine))
        per_op[s.name]["tasks"].append(sum(job_tot[j.jid]["tasks"] for j in mine))
    return {"passes": passes, "ops": per_op}
