"""Spans, percentiles and Spark's own task metrics.

Spans are recorded by the benchmark around its calls into the program
(name, start, end, parent, and the operation they belong to), kept in
memory and written out when the run ends. Spark's task and stage metrics
come from the event log of the traced session and are attributed to an
operation by the time its jobs were submitted.
"""

from __future__ import annotations

import glob
import itertools
import json
import statistics
import time
from contextlib import contextmanager

TAIL_MIN_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that leaves at least ten samples above it:
    (value, percentile, sample count). Needs more than ten samples."""
    n = len(samples)
    if n <= TAIL_MIN_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_MIN_BEYOND}")
    k = n - TAIL_MIN_BEYOND - 1  # ten ranks above index k
    return sorted(samples)[k], 100.0 * (k + 1) / n, n


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.op = 0  # spans of one operation share this id

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"id": sid, "op": self.op, "name": name, "parent": parent,
                 "start": start, "end": time.time()}
            )

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by direct child spans."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(s, self_s=round(self.self_time(s), 6)) for s in self.spans], f, indent=0
            )


def read_event_logs(log_dir: str) -> list[list[dict]]:
    """The events of each Spark application (session) logged in ``log_dir``."""
    apps = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            apps.append([json.loads(line) for line in f if line.strip()])
    return apps


def spark_metrics(apps: list[list[dict]], windows: list[tuple[float, float]]) -> list[dict]:
    """Per window (an operation's start and end, epoch seconds): Spark's
    jobs, stages, tasks and task metrics of the jobs submitted inside it.
    Jobs whose description starts with ``pipeline:`` are the pipeline's
    read-back aggregates; their input is the staged output, not the
    source, so they are left out of ``scan_records`` and of the write
    stages. Job and stage ids restart in every application, so stages
    are keyed by (application, stage id)."""
    jobs = []  # (submit_s, stage keys, is_agg)
    stage_job: dict[tuple[int, int], int] = {}
    completed: set[tuple[int, int]] = set()
    tasks_by_stage: dict[tuple[int, int], list[dict]] = {}
    for app, events in enumerate(apps):
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                keys = [(app, sid) for sid in e["Stage IDs"]]
                jobs.append((e["Submission Time"] / 1000.0, keys, desc.startswith("pipeline:")))
                for k in keys:
                    stage_job[k] = len(jobs) - 1
            elif kind == "SparkListenerStageCompleted":
                completed.add((app, e["Stage Info"]["Stage ID"]))
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                tasks_by_stage.setdefault((app, e["Stage ID"]), []).append(e)
    out = []
    for lo, hi in windows:
        mine = [j for j in jobs if lo <= j[0] <= hi]
        stages = sorted({k for _t, keys, _a in mine for k in keys if k in completed})
        m = dict(jobs=len(mine), stages=len(stages), tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                 shuffle_write=0, shuffle_read=0, spill=0, scan_records=0, write_skews=[])
        for sid in stages:
            is_agg = jobs[stage_job[sid]][2]
            ts = tasks_by_stage.get(sid, [])
            m["tasks"] += len(ts)
            durs, written = [], 0
            for t in ts:
                tm = t["Task Metrics"]
                m["run_s"] += tm["Executor Run Time"] / 1000.0
                m["cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["gc_s"] += tm["JVM GC Time"] / 1000.0
                m["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                srm = tm["Shuffle Read Metrics"]
                m["shuffle_read"] += srm["Remote Bytes Read"] + srm["Local Bytes Read"]
                m["spill"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                if not is_agg:
                    m["scan_records"] += tm["Input Metrics"]["Records Read"]
                written += tm["Output Metrics"]["Records Written"]
                info = t["Task Info"]
                durs.append(info["Finish Time"] - info["Launch Time"])
            if written and not is_agg and durs:
                m["write_skews"].append(max(durs) / max(statistics.median(durs), 1))
        out.append(m)
    return out
