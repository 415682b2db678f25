"""Spans around calls into the package's public functions, Spark job groups
per span, and Spark event-log parsing for executor time and bytes.

Wrappers replace module attributes, then every alias another package module
bound with ``from ... import`` is rebound too, so the order in which the
package's modules were imported does not matter. A wrapper costs one flag
test while tracing is off.

Per span the tracer sets one Spark job group (``pb-<span id>``), and on exit
reads that group's job ids from ``statusTracker``: a job belongs to the
innermost open span. The event log (enabled only in traced sessions) gives
each job's submission/completion time and each task's metrics.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "csv_parquet_s3_spark"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    t0: float
    epoch0: float
    t1: float = 0.0
    epoch1: float = 0.0
    jobs: list[int] = field(default_factory=list)
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans in memory while ``enabled``; a disabled tracer is a
    pass-through."""

    def __init__(self) -> None:
        self.sc = None  # the SparkContext, set once the session is up
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._base_group = "pb-untraced"

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(len(self.spans), name, parent, op, time.perf_counter(), time.time())
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sp.sid)
        group = f"pb-{sp.sid}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.t1, sp.epoch1 = time.perf_counter(), time.time()
            sp.jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            outer = f"pb-{self._stack[-1]}" if self._stack else self._base_group
            self.sc.setJobGroup(outer, "")

    def record(self, name: str, t0: float, t1: float) -> None:
        """Add a finished span for an interval timed by the caller (no jobs)."""
        if not self.enabled:
            return
        parent = self._stack[-1] if self._stack else None
        now_p, now_e = time.perf_counter(), time.time()
        sp = Span(len(self.spans), name, parent,
                  self.spans[parent].op if parent is not None else None,
                  t0, now_e - (now_p - t0), t1, now_e - (now_p - t1))
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sp.sid)

    # -- wrappers ------------------------------------------------------
    def wrap(self, module, attr: str, span_name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(span_name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith(PACKAGE) and getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)

    # -- aggregation ---------------------------------------------------
    def outermost(self, name: str, ops: set[int]) -> list[Span]:
        """Spans called ``name`` inside ``ops`` that have no ancestor of the
        same name (so nested re-entry is not counted twice)."""
        out = []
        for sp in self.spans:
            if sp.name != name or sp.op not in ops:
                continue
            p = sp.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if p is None:
                out.append(sp)
        return out

    def inclusive_jobs(self, sp: Span) -> list[int]:
        jobs = list(sp.jobs)
        for c in sp.children:
            jobs.extend(self.inclusive_jobs(self.spans[c]))
        return jobs

    def self_time_by_layer(self, ops: set[int]) -> dict[str, float]:
        """Span duration minus the time its children cover, summed per
        layer (the span name's first dotted component)."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.op not in ops:
                continue
            covered = sum(self.spans[c].dur for c in sp.children)
            layer = sp.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(sp.dur - covered, 0.0)
        return out


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every exercised layer. Call it before
    the ``operators`` package is imported; aliases bound earlier are
    rebound all the same."""
    import importlib

    targets = {
        "csv_parquet_s3_spark.ingest": [
            ("convert_csv_to_parquet", "ingest.convert_csv_to_parquet"),
            ("check_strict", "ingest.check_strict"),
            ("parse_csv", "ingest.parse_csv"),
            ("convert_with_quarantine", "ingest.convert_with_quarantine"),
        ],
        "csv_parquet_s3_spark.sinks.s3": [("write_parquet", "sinks.write_parquet")],
        "csv_parquet_s3_spark.sources.tables": [("load_table", "sources.load_table")],
        "csv_parquet_s3_spark.maintenance": [
            ("upsert", "maintenance.upsert"),
            ("delete_where", "maintenance.delete_where"),
            ("compact", "maintenance.compact"),
        ],
        "csv_parquet_s3_spark.purge": [("run_purge", "purge.run_purge")],
        "csv_parquet_s3_spark.plans.materialize": [
            ("materialize", "plans.materialize"),
            ("pin", "plans.materialize"),
        ],
    }
    for mod_name, attrs in targets.items():
        mod = importlib.import_module(mod_name)
        for attr, span_name in attrs:
            tracer.wrap(mod, attr, span_name)


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------
@dataclass
class EventLog:
    job_times: dict[int, tuple[float, float]]  # job id -> (submit, end) epoch s
    job_stages: dict[int, list[int]]
    stage_tasks: dict[int, list[dict]]  # stage id -> task metric dicts

    def tasks_of(self, jobs: list[int]) -> list[dict]:
        owner: dict[int, int] = {}
        for jid in sorted(self.job_stages):
            for sid in self.job_stages[jid]:
                owner.setdefault(sid, jid)
        wanted = set(jobs)
        return [m for sid, ms in self.stage_tasks.items()
                if owner.get(sid) in wanted for m in ms]


def read_event_log(log_dir: str) -> EventLog:
    job_times: dict[int, list[float]] = {}
    job_stages: dict[int, list[int]] = {}
    stage_tasks: dict[int, list[dict]] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_times[jid] = [ev["Submission Time"] / 1000.0, 0.0]
                    job_stages[jid] = list(ev.get("Stage IDs", []))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_times:
                        job_times[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    stage_tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return EventLog({j: (a, b) for j, (a, b) in job_times.items()}, job_stages, stage_tasks)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
