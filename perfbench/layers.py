"""Per-layer metrics of a traced run.

Every value is per operation of the traced window (a mean over its ops), so
runs of different lengths compare directly. Span-derived figures count the
outermost span of each name, jobs are inclusive of child spans, and tasks and
executor figures come from the Spark event log for those jobs. A metric of a
layer the workload does not call reads 0.
"""

from __future__ import annotations

import statistics

from mix import QUERY_MIX
from spans import read_event_log, union_length

LAYERS = ("bench", "ingest", "sinks", "sources", "operators", "plans", "maintenance", "purge")

# metric prefix -> span name; each yields <prefix>_s, and the listed extras
SPAN_METRICS = {
    "ingest.convert_files": ("ingest.convert_csv_to_parquet", ("jobs", "tasks")),
    "ingest.check_strict": ("ingest.check_strict", ()),
    "ingest.quarantine": ("ingest.convert_with_quarantine", ("jobs",)),
    "sinks.write": ("sinks.write_parquet", ("jobs",)),
    "maintenance.upsert": ("maintenance.upsert", ("jobs",)),
    "maintenance.delete_where": ("maintenance.delete_where", ()),
    "maintenance.compact": ("maintenance.compact", ()),
    "purge.run": ("purge.run_purge", ("jobs",)),
    "sources.load_table": ("sources.load_table", ("calls", "jobs")),
    "operators.build": ("operators.build", ("jobs",)),
    "operators.exec": ("operators.exec", ("jobs", "tasks")),
    "plans.materialize": ("plans.materialize", ("calls",)),
    "plans.release": ("plans.release", ()),
}

# Reported names that differ from the "<prefix>_<extra>" pattern.
RENAMES = {
    "sinks.write_jobs": "sinks.jobs",
    "purge.run_jobs": "purge.jobs",
}

# Output figures the workload measures from outside (bytes, counts).
OUTPUT_METRICS = (
    ("ingest.files_failed", "count"),
    ("ingest.rows_quarantined", "count"),
    ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("maintenance.bytes_rewritten", "bytes"),
    ("maintenance.files_after_compact", "count"),
    ("purge.rows_matched", "count"),
    ("stored_bytes_per_input_byte", "ratio"),
)

EXEC_METRICS = (
    ("exec.run_s", "run_s", "s"),
    ("exec.cpu_s", "cpu_s", "s"),
    ("exec.input_bytes", "input_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "spill_bytes", "bytes"),
)

UNITS = {"s": "s", "jobs": "count", "tasks": "count", "calls": "count"}


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in output order."""
    out = []
    for prefix, (_span, extras) in SPAN_METRICS.items():
        for extra in ("s", *extras):
            out.append((RENAMES.get(f"{prefix}_{extra}", f"{prefix}_{extra}"), UNITS[extra]))
    out += list(OUTPUT_METRICS)
    out += [(name, unit) for name, _key, unit in EXEC_METRICS]
    out += [("exec.core_busy_ratio", "ratio"), ("driver.outside_jobs_s", "s")]
    out += [(f"self_s.{layer}", "s") for layer in LAYERS]
    out += [(f"operators.jobs.{q}", "count") for q in QUERY_MIX]
    out += [("session.start_s", "s"), ("trace.untraced_op_s", "s"), ("trace.traced_op_s", "s"),
            ("trace.overhead_s", "s"), ("trace.overhead_ratio", "ratio"), ("error_rate", "ratio")]
    return out


def per_layer_metrics(ctx, wl, loop) -> dict[str, tuple[float, str]]:
    tr = ctx.tracer
    ops = loop.traced_ops
    log = read_event_log(ctx.path("eventlog"))
    n = max(len(ops), 1)
    m: dict[str, tuple[float, str]] = {}

    for prefix, (span_name, extras) in SPAN_METRICS.items():
        spans = tr.outermost(span_name, ops)
        jobs = [j for sp in spans for j in tr.inclusive_jobs(sp)]
        values = {
            "s": sum(sp.dur for sp in spans),
            "calls": len(spans),
            "jobs": len(jobs),
            "tasks": len(log.tasks_of(jobs)),
        }
        for extra in ("s", *extras):
            name = RENAMES.get(f"{prefix}_{extra}", f"{prefix}_{extra}")
            m[name] = (values[extra] / n, UNITS[extra])

    for name, unit in OUTPUT_METRICS:
        vals = [v for i, v in wl.outputs.get(name, {}).items() if i in ops]
        m[name] = (sum(vals) / n if vals else 0.0, unit)

    roots = tr.outermost("bench.op", ops)
    op_jobs = [tr.inclusive_jobs(sp) for sp in roots]
    tasks = log.tasks_of([j for jobs in op_jobs for j in jobs])
    for name, key, unit in EXEC_METRICS:
        m[name] = (sum(t[key] for t in tasks) / n, unit)
    wall = sum(sp.dur for sp in roots)
    busy = sum(t["run_s"] for t in tasks) / (wall * ctx.ncpu) if wall else 0.0
    m["exec.core_busy_ratio"] = (busy, "ratio")
    outside = 0.0
    for sp, jobs in zip(roots, op_jobs):
        spans = [(max(a, sp.epoch0), min(b, sp.epoch1))
                 for a, b in (log.job_times[j] for j in jobs if j in log.job_times)]
        outside += sp.dur - union_length([(a, b) for a, b in spans if b > a])
    m["driver.outside_jobs_s"] = (outside / n, "s")

    self_times = tr.self_time_by_layer(ops)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = (self_times.get(layer, 0.0) / n, "s")

    per_query: dict[str, list[int]] = {}
    for sp, jobs in zip(roots, op_jobs):
        q = getattr(wl, "op_query", {}).get(sp.op)
        if q is not None:
            per_query.setdefault(q, []).append(len(jobs))
    for q in QUERY_MIX:
        runs = per_query.get(q, [])
        m[f"operators.jobs.{q}"] = (sum(runs) / len(runs) if runs else 0.0, "count")

    untraced = _median(loop.walls)
    overhead = _median(loop.pairs)
    m["session.start_s"] = (ctx.phases["session_start"], "s")
    m["trace.untraced_op_s"] = (untraced, "s")
    m["trace.traced_op_s"] = (_median(loop.traced_walls), "s")
    m["trace.overhead_s"] = (overhead, "s")
    m["trace.overhead_ratio"] = (overhead / untraced if untraced else 0.0, "ratio")
    return m


def _median(values: list[float]) -> float:
    """The median, or 0 when every operation failed."""
    return statistics.median(values) if values else 0.0
