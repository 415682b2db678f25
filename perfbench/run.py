#!/usr/bin/env python3
"""perfbench: the pipeline benchmark, end to end and per module.

    python3 perfbench/run.py --workload {table_cycle,query_serving}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each workload is one closed-loop client in this
process on ``local[<cores>]``; the seed fixes every input. The loop measures
whole operations (a table cycle, a query) until at least ``--seconds`` of
operation time has accrued and the last round (two table cycles, or one pass
of the serving mix) is complete. Input generation and output checks run between
operations, off the clock. Set-up (session start, input generation, table
build, warm-up, oracle checks) is timed as ``setup_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it, prefixed
``perfbench-detail``, carries run metadata, input sizes and the wall-time
figures with their sample counts. The timed end-to-end metrics are CPU
times of this process and its descendants; wall times follow the load other
guests put on a shared host.

Everything the run writes goes under ``.perfbench_work/`` in the repository
root and is removed at exit. Exits 2 without a result when the package is
not importable.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("table_cycle", "query_serving")
# A run never exceeds this wall time, whatever the program's speed.
MAX_RUN_S = 150.0


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="row-count multiplier for table_cycle (the self-test uses 0.01)")
    # Self-test hook: change one output value after the first checked
    # operation, to show the checks catch it.
    ap.add_argument("--corrupt-one", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


class Context:
    """Per-run state shared by the workload and the loop."""

    def __init__(self, args: argparse.Namespace, work: str, started: float) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.work = work
        self.started = started
        self.spark = None
        self.tracer = None
        self.ncpu = len(os.sched_getaffinity(0))
        self.checks: list[tuple[str, str, bool, str]] = []
        self.phases: dict[str, float] = {}
        self.corrupt = args.corrupt_one

    def check(self, op: str, what: str, ok: bool, note: str = "") -> bool:
        """Record one output check of operation ``op``. An operation fails
        when any of its checks fails."""
        self.checks.append((op, what, bool(ok), note))
        if not ok:
            print(f"perfbench: CHECK FAILED {op}:{what}: {note}", file=sys.stderr, flush=True)
        return bool(ok)

    def outcome(self) -> tuple[int, int]:
        """(operations attempted, operations failed), over every checked
        operation: set-up checks, timed operations and final checks."""
        ops = {op for op, _, _, _ in self.checks}
        failed = {op for op, _, ok, _ in self.checks if not ok}
        return len(ops), len(failed)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one named step of set-up (reported in the detail line)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def cpu_s(self) -> float:
        """CPU time used so far by this process and its descendants: the
        Spark JVM and any Python workers."""
        return tree_cpu_s(os.getpid())


def start_session(ctx: Context):
    from csv_parquet_s3_spark.session import get_spark

    tmp = ctx.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed 2 GiB heap (the package's default driver memory is 8g) with a
    # fixed 512 MiB young generation: with G1's adaptive sizing, the peak RSS
    # of identical runs differed by up to 40%.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
    }
    if ctx.trace:
        log_dir = ctx.path("eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark(app_name="perfbench", master=f"local[{ctx.ncpu}]", extra_conf=conf)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def reset_peak_rss(pid: int) -> None:
    """Reset the kernel's peak resident set of a process to its current one."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int) -> float:
    """VmHWM (the kernel's peak resident set) of a process since the last
    reset, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_cpu_s(root: int) -> float:
    """User plus system CPU time of a process and all its descendants, in
    seconds, including that of descendants already waited for."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99) by statistics.quantiles; the
    single value for one sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Loop:
    """The closed loop: one op after another, each on the next input item,
    until the time budget is spent on a round boundary.

    In a traced run every item runs twice in a row, once with spans off and
    once with them on, alternating which goes first, so warm-up drift and
    the repeat's head start cancel in the traced-minus-untraced difference.
    """

    def __init__(self, ctx: Context, wl) -> None:
        self.ctx, self.wl = ctx, wl
        self.walls: list[float] = []  # untraced
        self.cpus: list[float] = []  # untraced
        self.traced_walls: list[float] = []
        self.traced_ops: set[int] = set()
        self.pairs: list[float] = []  # traced minus untraced, per item
        self._op = 0

    def _one(self, item: int, traced: bool) -> float | None:
        ctx, i = self.ctx, self._op
        self._op += 1
        ctx.tracer.enabled = traced
        try:
            wall, cpu = self.wl.run_op(ctx, i, item)
        except Exception as exc:  # an op that raises is counted as failed
            traceback.print_exc()
            ctx.check(f"op{i}", "ran", False, repr(exc))
            return None
        finally:
            ctx.tracer.enabled = False
        ctx.check(f"op{i}", "ran", True)
        if traced:
            self.traced_ops.add(i)
            self.traced_walls.append(wall)
        else:
            self.walls.append(wall)
            self.cpus.append(cpu)
        return wall

    def run(self) -> None:
        ctx, item = self.ctx, 0
        while True:
            if ctx.trace:
                first = item % 2 == 1
                walls = {on: self._one(item, on) for on in (first, not first)}
                if None not in walls.values():
                    self.pairs.append(walls[True] - walls[False])
            else:
                self._one(item, False)
            item += 1
            done = sum(self.walls) >= ctx.seconds and item % self.wl.round_size == 0
            if done or time.perf_counter() - ctx.started > MAX_RUN_S:
                return


def metadata(ctx: Context, args: argparse.Namespace, wl) -> dict:
    spark = ctx.spark
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": ctx.trace,
        "scale": args.scale,
        "nproc": ctx.ncpu,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "sf_dir": getattr(wl, "sf_dir", None),
        "inputs": wl.inputs,
    }


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    try:
        import csv_parquet_s3_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(csv_parquet_s3_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package was imported from outside {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Spark and Python scratch files stay inside the work directory; the
    # JVMs keep no perf-data files in the system temp directory.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
                       "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"})
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None
    ctx = Context(args, work, started)
    # A terminated run still stops Spark and removes what it wrote.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, detail = run(ctx, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print("perfbench-detail " + json.dumps(detail, sort_keys=True), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def run(ctx: Context, args: argparse.Namespace) -> tuple[dict, dict]:
    import importlib

    from spans import Tracer, install

    wl = importlib.import_module(f"wl_{args.workload}").Workload(ctx)
    ctx.tracer = Tracer()
    if ctx.trace:
        install(ctx.tracer)  # before anything imports the operators package
    t0 = time.perf_counter()
    try:
        with ctx.phase("generate"):
            wl.generate(ctx)
        with ctx.phase("session_start"):
            ctx.spark = start_session(ctx)
        ctx.tracer.sc = ctx.spark.sparkContext
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        # The peak RSS covers the timed operations only, not set-up.
        pid = jvm_pid(ctx.spark)
        reset_peak_rss(pid)
        steal0 = host_steal_s()
        loop = Loop(ctx, wl)
        loop.run()
        walls, cpus = loop.walls, loop.cpus
        steal = host_steal_s() - steal0
        wl.finish(ctx)
        rss = peak_rss_mb(pid)
        meta = metadata(ctx, args, wl)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)

    attempted, failed = ctx.outcome()
    detail = {"meta": meta, "setup_phases_s": ctx.phases, "host_steal_s": steal,
              "checks": len(ctx.checks),
              "failed_checks": [c for c in ctx.checks if not c[2]][:20]}
    if ctx.trace:
        from layers import per_layer_metrics

        metrics = per_layer_metrics(ctx, wl, loop)
        metrics["error_rate"] = (failed / attempted, "ratio")
        detail["untraced_walls"] = walls
        detail["traced_walls"] = loop.traced_walls
    else:
        # A run whose every operation failed reports 0 with "correct": false.
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_p50_s": (statistics.median(cpus) if cpus else 0.0, "s"),
            "ops_per_cpu_s": (len(cpus) / sum(cpus) if cpus else 0.0, "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
        # Wall-clock times follow the load other guests put on the host
        # (see README), so they go to the detail line only, as does
        # op_p90_s: one run has too few samples beyond the 90th percentile.
        timed = {
            "op_p50_s": (statistics.median(walls) if walls else 0.0, "s"),
            "op_p90_s": (quantile(walls, 90) if walls else 0.0, "s"),
            "ops_per_s": (len(walls) / sum(walls) if walls else 0.0, "1/s"),
        }
        named = dict(timed)
        named.update({wl.FIGURES[k]: v for k, v in timed.items() if k in wl.FIGURES})
        named.update(wl.figures(walls))
        detail["walls"] = walls
        detail["cpus"] = cpus
        detail["figures"] = {k: {"value": v, "unit": u, "samples": len(walls)}
                             for k, (v, u) in named.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
