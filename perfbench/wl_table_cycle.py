"""table_cycle: the daily pipeline on a standing multi-file table.

Set-up converts ``LIVE_DAYS`` days of F1 rows into the ``records`` table
and runs ``WARMUP_CYCLES`` checked cycles.
One operation is one day's cycle. The day arrives as ``FILES_PER_DAY`` CSV
files: a new day of rows, updates of live rows, and one file carrying a few
strict-violating rows. The cycle runs:

1. ``ingest.convert_csv_to_parquet`` of the day's files, the reference
   converter's per-file loop; the file with bad rows fails as a whole;
2. ``sinks.s3.write_parquet`` of the converted set into a ``file://`` sink,
   the upload step of the reference pipeline;
3. ``ingest.convert_with_quarantine`` of the failed file: its good rows are
   rescued, its bad rows quarantined;
4. ``maintenance.upsert`` of the converted and rescued rows on ``id``;
5. ``purge.run_purge`` with a CRITERIA retention config and a row-count
   guard, removing the oldest day;
6. ``maintenance.compact``.

Updates keep a row's day, so every cycle inserts and purges the same number
of rows and the table keeps its size; compaction keeps it at about one file
per live day. No query code runs.

At the default size (10,000 rows a day, a 40,000-row table) a traced cycle
on 4 cores spends about half its wall time in the driver outside Spark jobs
(``driver.outside_jobs_s`` 3.4 s of 6.8 s), and its executors keep less than
one core busy on average (``exec.core_busy_ratio`` 0.20): the program's jobs
on this table run one to a few tasks each. The cycle does not spread over
all cores at this size; the traced run reports both figures.

Checks per cycle: the converted and failed file sets equal the generator's;
the sink's row count, per-column null counts, HALF_UP-rescaled decimal sums,
timestamp and id sums equal the generator's ground truth (read back with
Arrow, not Spark); ``(n_good, n_bad)`` of the rescue, the upsert's
``(updated, inserted)``, the purge outcome and the table's row count equal
the generator's. At the end, the table's content equals an independent
DuckDB replay of every cycle from the generator's typed rows.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import records

LIVE_DAYS = 4
ROWS_PER_DAY = 10_000
FILES_PER_DAY = 3
BAD_ROWS = 5
TABLE = "records"
BAD_ID_BASE = 1_000_000_000
# While the JVM is still compiling the cycle's code, the first four cycles
# after the table build used about 38, 22, 16 and 15 CPU-seconds on 4
# cores, so two cycles run before timing.
WARMUP_CYCLES = 2


class Workload:
    # Two cycles a run, the first still warming up: a run that measured one
    # cycle on a slow host and two on a fast one would mix warm-up levels.
    round_size = 2
    FIGURES = {"op_p50_s": "cycle_p50_s"}  # wall figure -> workload's own name

    def __init__(self, ctx) -> None:
        self.rows = max(40, int(ROWS_PER_DAY * ctx.scale))
        self.updates = self.rows // 10
        self.version: dict[int, int] = {}
        self.csv_bytes: dict[int, int] = {}
        self.initial: list[list] = []
        self.cycles: list[dict] = []  # what the replay needs per cycle
        self.outputs: dict[str, dict[int, float]] = {}
        self.inputs: dict = {}
        self.cycle_no = 0
        self.landed_rows = 0
        self.ingest_s = 0.0

    # -- inputs --------------------------------------------------------
    def _day_ids(self, day: int) -> range:
        return range(day * self.rows, (day + 1) * self.rows)

    def _day(self, ctx, k: int) -> dict:
        """The files for cycle ``k``: a new day of rows and updates of live
        rows (same day, next version), dealt over the files, plus
        ``BAD_ROWS`` strict-violating rows in one of them."""
        rng = random.Random(f"{ctx.seed}:cycle:{k}")
        seed = ctx.seed
        good = [records.make_row(seed, rid, LIVE_DAYS + k) for rid in self._day_ids(LIVE_DAYS + k)]
        good += [records.make_row(seed, rid, rid // self.rows, self.version[rid] + 1)
                 for rid in rng.sample(sorted(self.version), self.updates)]
        rng.shuffle(good)
        bad_file = rng.randrange(FILES_PER_DAY)
        d = ctx.path("days", f"day{k}")
        os.makedirs(d)
        files = []
        for j in range(FILES_PER_DAY):
            part = good[j::FILES_PER_DAY]
            cells = [c for c, _ in part]
            if j == bad_file:
                cells += [records.make_row(seed, BAD_ID_BASE + k * BAD_ROWS + n, LIVE_DAYS + k, 0,
                                           rng.choice(records.STRICT_VIOLATIONS))[0]
                          for n in range(BAD_ROWS)]
                rng.shuffle(cells)
            truth = records.Truth()
            for _, typed in part:
                truth.add(typed)
            name = f"part-{k:04d}-{j}"
            records.write_csv(os.path.join(d, name + ".csv"), cells)
            files.append({"name": name, "bad": j == bad_file, "truth": truth, "rows": part})
        return {"dir": d, "good": good, "files": files}

    # -- set-up --------------------------------------------------------
    def generate(self, ctx) -> None:
        """Write the initial table's CSV."""
        self.tables_root = ctx.path("tables")
        self.table = os.path.join(self.tables_root, TABLE)
        os.makedirs(ctx.path("initial"))
        self.init_bytes = 0
        for day in range(LIVE_DAYS):  # one file per day: a multi-file table
            rows = []
            for rid in self._day_ids(day):
                cells, typed = records.make_row(ctx.seed, rid, day)
                rows.append(cells)
                self.initial.append(typed)
                self.version[rid] = 0
                self.csv_bytes[rid] = len(records.csv_line(cells).encode())
            self.init_bytes += records.write_csv(ctx.path("initial", f"day{day}.csv"), rows)

    def setup(self, ctx) -> None:
        from csv_parquet_s3_spark.ingest import convert_csv_dir
        from csv_parquet_s3_spark.schema import load_schema

        self.specs = load_schema(records.SCHEMA_PATH)
        with ctx.phase("table_build"):
            convert_csv_dir(ctx.spark, ctx.path("initial"), self.table, specs=self.specs)
        # Compaction keeps the table at about one file per live day.
        self.target_file_bytes = records.parquet_size(self.table)[0] // LIVE_DAYS
        self.inputs = {
            "live_days": LIVE_DAYS,
            "rows_per_day": self.rows,
            "table_rows": LIVE_DAYS * self.rows,
            "initial_csv_bytes": self.init_bytes,
            "initial_files": records.parquet_size(self.table)[1],
            "files_per_day": FILES_PER_DAY,
            "updates_per_day": self.updates,
            "planted_bad_rows_per_day": BAD_ROWS,
            "planted_bad_files_per_day": 1,
        }
        with ctx.phase("warmup"):  # checked like any other cycle
            for w in range(WARMUP_CYCLES):
                self._cycle(ctx, -1 - w)

    # -- one operation -------------------------------------------------
    def run_op(self, ctx, i: int, item: int) -> tuple[float, float]:
        return self._cycle(ctx, i)

    def _cycle(self, ctx, i: int) -> tuple[float, float]:
        from csv_parquet_s3_spark.ingest import convert_csv_to_parquet, convert_with_quarantine
        from csv_parquet_s3_spark.maintenance import compact, upsert
        from csv_parquet_s3_spark.purge import PurgeConfig, run_purge
        from csv_parquet_s3_spark.sinks.s3 import sink_path, write_parquet

        spark = ctx.spark
        k = self.cycle_no
        self.cycle_no += 1
        day = self._day(ctx, k)
        out = {name: ctx.path(name, f"day{k}")
               for name in ("converted", "retry", "rescued", "quarantine")}
        sink_dir = ctx.path("sink", f"day{k}")
        uri = sink_path(ctx.path("sink"), f"day{k}", scheme="file")
        cutoff = records.day_date(k + 1).isoformat()
        config = PurgeConfig(table_name=TABLE, action="CRITERIA",
                             sqlstatement=f" WHERE transaction_date < DATE '{cutoff}'",
                             max_record_count=2 * self.rows)
        rewritten = 0
        c0 = ctx.cpu_s()
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.op", op=i):
            report = convert_csv_to_parquet(spark, day["dir"], out["converted"], specs=self.specs)
            converted = spark.read.parquet(*report.converted)
            write_parquet(converted, uri)
            t_landed = time.perf_counter()
            os.makedirs(out["retry"])
            for src in report.failed:
                os.rename(src, os.path.join(out["retry"], os.path.basename(src)))
            n_good, n_bad = convert_with_quarantine(spark, out["retry"], out["rescued"],
                                                    out["quarantine"], specs=self.specs)
            changes = converted.unionByName(spark.read.parquet(out["rescued"]))
            n_upd, n_ins = upsert(spark, self.table, changes, "id")
            rewritten += records.parquet_size(self.table)[0]
            purged = run_purge(spark, [config], self.tables_root)
            rewritten += records.parquet_size(self.table)[0]
            n_files = compact(spark, self.table, target_file_bytes=self.target_file_bytes)
        wall = time.perf_counter() - t0
        cpu = ctx.cpu_s() - c0

        self._check(ctx, i, day, report, sink_dir, (n_good, n_bad), (n_upd, n_ins), purged,
                    out["quarantine"])
        # bookkeeping, off the clock
        for cells, typed in day["good"]:
            self.version[typed[0]] = self.version.get(typed[0], -1) + 1
            self.csv_bytes[typed[0]] = len(records.csv_line(cells).encode())
        for rid in self._day_ids(k):
            self.version.pop(rid, None)
            self.csv_bytes.pop(rid, None)
        self.cycles.append({"cutoff": cutoff, "good": [t for _, t in day["good"]]})
        table_bytes, _ = records.parquet_size(self.table)
        sink_bytes, sink_files = records.parquet_size(sink_dir)
        landed = sum(f["truth"].rows for f in day["files"] if not f["bad"])
        if i >= 0:
            self.landed_rows += landed
            self.ingest_s += t_landed - t0
        rec = self.outputs
        rec.setdefault("ingest.files_failed", {})[i] = len(report.failed)
        rec.setdefault("ingest.rows_quarantined", {})[i] = n_bad
        rec.setdefault("sinks.bytes_written", {})[i] = sink_bytes
        rec.setdefault("sinks.files_written", {})[i] = sink_files
        rec.setdefault("purge.rows_matched", {})[i] = sum(o.rows_matched for o in purged.outcomes)
        rec.setdefault("maintenance.bytes_rewritten", {})[i] = rewritten + table_bytes
        rec.setdefault("maintenance.files_after_compact", {})[i] = n_files
        rec.setdefault("stored_bytes_per_input_byte", {})[i] = (
            table_bytes / sum(self.csv_bytes.values()))
        shutil.rmtree(day["dir"], ignore_errors=True)
        shutil.rmtree(sink_dir, ignore_errors=True)
        for path in out.values():
            shutil.rmtree(path, ignore_errors=True)
        return wall, cpu

    def _check(self, ctx, i, day, report, sink_dir, quarantined, upserted, purged,
               quarantine_dir) -> None:
        op = f"op{i}"
        good = {f["name"] for f in day["files"] if not f["bad"]}
        bad = {f["name"] for f in day["files"] if f["bad"]}
        converted = {os.path.basename(p)[: -len(".parquet")] for p in report.converted}
        failed = {os.path.basename(p)[: -len(".csv")] for p in report.failed}
        ctx.check(op, "file_sets", (converted, failed) == (good, bad),
                  f"converted={sorted(converted)} failed={sorted(failed)}")
        if ctx.corrupt and i == 0:
            records.corrupt_amount(sink_dir)
        want = records.Truth()
        for f in day["files"]:
            if not f["bad"]:
                want.merge(f["truth"])
        sink = pads.dataset(sink_dir, format="parquet").to_table()
        got = records.observed_truth(sink)
        want = want.as_dict()
        ctx.check(op, "sink_values", got == want,
                  str({key: (got[key], want[key]) for key in want if got[key] != want[key]}))
        ctx.check(op, "sink_schema",
                  sink.schema.equals(records.arrow_schema(), check_metadata=False),
                  str(sink.schema))
        rescued = sum(len(f["rows"]) for f in day["files"] if f["bad"])
        ctx.check(op, "quarantine", quarantined == (rescued, BAD_ROWS)
                  and pq.ParquetDataset(quarantine_dir).read().num_rows == BAD_ROWS,
                  f"(n_good, n_bad)={quarantined}")
        ctx.check(op, "upsert", upserted == (self.updates, self.rows),
                  f"(updated, inserted)={upserted}")
        outcome = purged.outcomes[0] if purged.outcomes else None
        want_rows = LIVE_DAYS * self.rows
        ctx.check(op, "purge", outcome is not None and outcome.status == "purged"
                  and (outcome.rows_matched, outcome.rows_kept) == (self.rows, want_rows),
                  repr(outcome))
        ctx.check(op, "table_rows",
                  pq.ParquetDataset(self.table).read(columns=["id"]).num_rows == want_rows)

    # -- final check ---------------------------------------------------
    def finish(self, ctx) -> None:
        """Replay every cycle in DuckDB from the generator's typed rows and
        compare with the table's final content, row for row."""
        import duckdb

        schema = records.arrow_schema()

        def arrow(rows: list[list]) -> pa.Table:
            cols = list(zip(*rows))
            return pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{ctx.path('duckdb_tmp')}'")
            init = arrow(self.initial)  # noqa: F841 (DuckDB reads it by name)
            con.execute("CREATE TABLE expected AS SELECT * FROM init")
            for cyc in self.cycles:
                batch = arrow(cyc["good"])  # noqa: F841
                con.execute("DELETE FROM expected WHERE id IN (SELECT id FROM batch)")
                con.execute("INSERT INTO expected SELECT * FROM batch")
                con.execute(f"DELETE FROM expected WHERE transaction_date < DATE '{cyc['cutoff']}'")
            con.execute(f"CREATE VIEW actual AS SELECT * FROM read_parquet('{self.table}/*.parquet')")
            cols = ", ".join(records.COLUMNS)
            missing, extra = (
                con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL "
                            f"SELECT {cols} FROM {b})").fetchone()[0]
                for a, b in (("expected", "actual"), ("actual", "expected")))
            want, got = (con.execute(f"SELECT count(*), sum(hash({cols})) FROM {t}").fetchone()
                         for t in ("expected", "actual"))
        finally:
            con.close()
        self.inputs["final_checksum"] = str(got[1])
        ctx.check("replay", "content", missing == 0 and extra == 0 and want == got,
                  f"missing={missing} extra={extra} expected={want} actual={got}")

    def figures(self, walls: list[float]) -> dict[str, tuple[float, str]]:
        """Figures over the measured cycles that completed (0 if none did)."""
        ratios = [v for i, v in self.outputs.get("stored_bytes_per_input_byte", {}).items()
                  if i >= 0]
        return {
            "ingest_rows_per_s": (self.landed_rows / self.ingest_s if self.ingest_s else 0.0,
                                  "1/s"),
            "stored_bytes_per_input_byte": (sum(ratios) / len(ratios) if ratios else 0.0,
                                            "ratio"),
        }
