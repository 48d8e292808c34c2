"""Tracing for the benchmark's traced run: in-memory spans, job counting
and a reader for Spark's local event log.

Spans are recorded from the benchmark's own code, around its calls into
the engine's public functions; nothing inside the engine is changed.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


class Spans:
    """Spans kept in memory as (id, parent, name, start, end)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, parent: int | None, name: str, start: float, end: float) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, parent, name, start, end))
        return sid

    def open(self, parent: int | None, name: str) -> int:
        """Start a span now; close it with close()."""
        return self.add(parent, name, time.perf_counter(), float("nan"))

    def close(self, sid: int) -> float:
        s = self.spans[sid]
        s.end = time.perf_counter()
        return s.dur

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return {s.id: s.dur - covered(s, kids[s.id]) for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "parent": s.parent,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "self": selfs[s.id],
                        }
                    )
                    + "\n"
                )


def covered(span: Span, children: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to span."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class JobCounter:
    """Counts Spark jobs per traced step as the growth of the highest
    job id. The status tracker's per-group id lists keep only the last
    ``spark.ui.retainedJobs`` jobs, so counting their length clamps on
    long runs; job ids are assigned in increasing order, so the highest
    one never does. ``max_job_id`` returns the highest id launched so
    far (-1 before the first job)."""

    def __init__(self, max_job_id) -> None:
        self.max_job_id = max_job_id
        self.last = max_job_id()

    def delta(self) -> int:
        """Jobs launched since the previous call."""
        hi = self.max_job_id()
        n, self.last = hi - self.last, hi
        return n


def spark_max_job_id(sc) -> int:
    """Highest job id the scheduler has handed out, whatever its group
    (the jobs a streaming query launches carry no group of ours)."""
    return int(sc._jsc.sc().dagScheduler().nextJobId()) - 1


def catalyst_ms(df) -> dict[str, int]:
    """Analysis, optimization and planning milliseconds of a frame's
    QueryExecution, forcing the physical plan first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return out


_PY_ACCUMS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "data sent to Python workers": "py_sent_bytes",
}


def event_log_file(log_dir: str) -> str:
    found = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if len(found) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}: {found}")
    return found[0]


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, executor CPU, GC, shuffle
    bytes, spill, Python-worker time and bytes, the wall the group's jobs
    covered (union of submission-to-completion intervals) and the epoch
    second its first job was submitted."""
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    job_iv: dict[int, list[float]] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                jid = ev["Job ID"]
                group_of_job[jid] = g
                job_iv[jid] = [ev["Submission Time"] / 1e3, float("nan")]
                a = acc[g]
                a["jobs"] += 1
                a["first_submit_s"] = min(
                    a.get("first_submit_s", float("inf")), ev["Submission Time"] / 1e3
                )
                for sid in ev.get("Stage IDs", ()):
                    group_of_stage[sid] = g
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_iv:
                    job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                g = group_of_stage.get(ev["Stage Info"]["Stage ID"], "-")
                acc[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = group_of_stage.get(ev["Stage ID"], "-")
                a = acc[g]
                a["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                a["cpu_ns"] += m.get("Executor CPU Time", 0)
                a["gc_ms"] += m.get("JVM GC Time", 0)
                a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for u in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    key = _PY_ACCUMS.get(u.get("Name"))
                    if key is not None:
                        a[key] += float(u.get("Update", 0) or 0)
    by_group: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, (lo, hi) in job_iv.items():
        if hi == hi:  # completed
            by_group[group_of_job[jid]].append((lo, hi))
    for g, ivs in by_group.items():
        parent = Span(-1, None, g, min(lo for lo, _ in ivs), max(hi for _, hi in ivs))
        acc[g]["job_wall_s"] = covered(
            parent, [Span(-1, None, g, lo, hi) for lo, hi in ivs]
        )
    return {g: dict(v) for g, v in acc.items()}
