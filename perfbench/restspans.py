"""Spans kept in memory, and per-phase Spark job/stage figures read from the
Spark UI REST API.

``run_pipeline`` labels every job it launches with a ``kg:<phase>`` job
description. The traced run enables the UI, and after a timed call reads
``/jobs`` and ``/stages`` and attributes each job that started inside the
call's window to a phase. A job without a label (``run_pipeline`` submits
its small-table writes from a thread pool, whose threads need not carry the
description) goes to the phase of the labelled job submitted just before
it. Each stage counts once, for the first job that ran it.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.request
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[str] = None
    attrs: Dict[str, float] = field(default_factory=dict)


class Tracer:
    """Collects spans in memory; :meth:`dump` writes them once at the end."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: List[Span] = []

    def add(self, name, start, end, parent=None, **attrs) -> None:
        self.spans.append(Span(name, start, end, parent, dict(attrs)))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "trace_id": self.trace_id,
                    "spans": [
                        {
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            **s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                fh,
                indent=1,
            )


def _epoch(ts: Optional[str]) -> Optional[float]:
    # REST timestamps look like "2026-10-17T02:58:01.123GMT"
    if not ts:
        return None
    return (
        dt.datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
        .timestamp()
    )


def _union_s(intervals: List[Tuple[float, float]]) -> float:
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


class SparkRest:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run needs spark.ui.enabled=true")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read().decode())

    def phase_table(self, t_start: float, t_end: float) -> Dict[str, dict]:
        """Per-phase figures for the jobs submitted in [t_start, t_end].

        The REST store is updated by a listener thread, so wait until every
        job of the window reads as finished before attributing it.
        """
        for _ in range(50):
            jobs = [
                j
                for j in self._get("/jobs")
                if t_start <= (_epoch(j.get("submissionTime")) or 0) <= t_end
            ]
            if all(j.get("completionTime") for j in jobs):
                break
            time.sleep(0.1)
        jobs.sort(key=lambda j: j["jobId"])
        stages = {}
        for s in self._get("/stages"):
            if s.get("status") == "COMPLETE":
                stages.setdefault(s["stageId"], s)

        phases: Dict[str, dict] = {}
        intervals: Dict[str, List[Tuple[float, float]]] = {}
        seen_stages = set()
        current = "unlabelled"
        for job in jobs:
            desc = job.get("description") or ""
            if desc.startswith("kg:"):
                current = desc[3:]
            ph = phases.setdefault(
                current,
                {
                    "jobs": 0,
                    "executor_cpu_s": 0.0,
                    "executor_run_s": 0.0,
                    "shuffle_read_mb": 0.0,
                    "shuffle_write_mb": 0.0,
                    "spill_mb": 0.0,
                    "output_rows": 0,
                },
            )
            ph["jobs"] += 1
            intervals.setdefault(current, []).append(
                (
                    _epoch(job["submissionTime"]),
                    _epoch(job.get("completionTime")) or t_end,
                )
            )
            for sid in job.get("stageIds", []):
                s = stages.get(sid)
                if s is None or sid in seen_stages:
                    continue
                seen_stages.add(sid)
                ph["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                ph["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                ph["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
                ph["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
                ph["spill_mb"] += s.get("diskBytesSpilled", 0) / 1e6
                ph["output_rows"] += s.get("outputRecords", 0)
        for name, ivs in intervals.items():
            phases[name]["wall_s"] = _union_s(ivs)
        all_ivs = [iv for ivs in intervals.values() for iv in ivs]
        phases["_all"] = {"jobs": len(jobs), "busy_s": _union_s(all_ivs)}
        return phases
