"""query_serving: a seeded order of the pinned 19-query mix over seeded
star-schema, event, document and embedding tables.

Set-up writes the tables, then runs every query once and compares its rows
with the query's DuckDB oracle from ``registry.ORACLES``; that pass is also
the warm-up. One operation is one query: the operator call, then Spark's
``noop`` sink, inside ``plans.materialize.released_after`` so each query
releases what it pinned. Each pass runs the whole mix in an order drawn from
the seed.

At this size each scan is one task, so driver-side planning, schema loads
and job orchestration dominate; the other workload does not run them.
"""

from __future__ import annotations

import math
import os
import random
import time

import serving_data
from mix import QUERY_MIX


class Workload:
    round_size = len(QUERY_MIX)
    FIGURES = {"ops_per_s": "query_qps", "op_p50_s": "query_p50_s", "op_p90_s": "query_p90_s"}

    def __init__(self, ctx) -> None:
        self.sf_dir = ""
        self.inputs: dict = {}
        self.outputs: dict[str, dict[int, float]] = {}
        self.op_query: dict[int, str] = {}
        self._orders: dict[int, list[str]] = {}

    def generate(self, ctx) -> None:
        """Write the tables."""
        self.sf_dir = ctx.path(f"perfbench-serve-{ctx.seed}-{os.getpid()}")
        rows = serving_data.write_tables(ctx.seed, self.sf_dir)
        self.inputs = {
            "rows": rows,
            "parquet_bytes": sum(os.path.getsize(os.path.join(self.sf_dir, f))
                                 for f in os.listdir(self.sf_dir)),
            "queries": len(QUERY_MIX),
        }

    def setup(self, ctx) -> None:
        from csv_parquet_s3_spark.operators import QUERIES
        from csv_parquet_s3_spark.plans.materialize import released_after

        spark = ctx.spark
        with ctx.phase("oracle_pass"):
            got = {}
            for q in QUERY_MIX:
                with released_after(spark):
                    got[q] = QUERIES[q](spark, self.sf_dir).toPandas()
            want = _oracle_results(self.sf_dir)
        if ctx.corrupt:
            frame = got[QUERY_MIX[0]]
            frame.iat[0, 0] = _nudge(frame.iat[0, 0])
        for q in QUERY_MIX:
            ok, note = compare(got[q], want[q])
            ctx.check(f"oracle:{q}", "rows", ok and len(want[q]) > 0,
                      note if len(want[q]) else "oracle returns 0 rows")
        self.inputs["oracle_rows"] = {q: len(want[q]) for q in QUERY_MIX}

    def _query(self, ctx, i: int) -> str:
        p = i // len(QUERY_MIX)
        if p not in self._orders:
            order = list(QUERY_MIX)
            random.Random(f"{ctx.seed}:pass:{p}").shuffle(order)
            self._orders[p] = order
        return self._orders[p][i % len(QUERY_MIX)]

    def run_op(self, ctx, i: int, item: int) -> tuple[float, float]:
        from csv_parquet_s3_spark.operators import QUERIES
        from csv_parquet_s3_spark.plans.materialize import released_after

        q = self._query(ctx, item)
        self.op_query[i] = q
        spark = ctx.spark
        c0 = ctx.cpu_s()
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.op", op=i):
            with released_after(spark):
                with ctx.tracer.span("operators.build"):
                    df = QUERIES[q](spark, self.sf_dir)
                with ctx.tracer.span("operators.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t_release = time.perf_counter()
            ctx.tracer.record("plans.release", t_release, time.perf_counter())
        wall = time.perf_counter() - t0
        return wall, ctx.cpu_s() - c0

    def finish(self, ctx) -> None:
        pass

    def figures(self, walls: list[float]) -> dict[str, tuple[float, str]]:
        return {}


def _oracle_results(sf_dir: str) -> dict:
    """Every mix query's ``registry.ORACLES`` result, computed by DuckDB."""
    import duckdb

    from csv_parquet_s3_spark.operators import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{os.path.join(sf_dir, 'duckdb_tmp')}'")
        for t in serving_data.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        return {q: con.sql(ORACLES[q]).df() for q in QUERY_MIX}
    finally:
        con.close()


# --------------------------------------------------------------------------
# Oracle comparison: same columns, same row count, same multiset of rows
# after a per-cell normalization (floats by repr, timestamps naive UTC).
# --------------------------------------------------------------------------
def _cell(v) -> str:
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        items = v.tolist() if hasattr(v, "tolist") else list(v)
        if isinstance(items, list):
            return "[" + ",".join(_cell(x) for x in items) + "]"
        return _cell(items)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(df) -> list[tuple[str, ...]]:
    df = df[sorted(df.columns)]
    return sorted(tuple(_cell(v) for v in row) for row in df.itertuples(index=False))


def compare(got, want) -> tuple[bool, str]:
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    a, b = _rows(got), _rows(want)
    if a != b:
        return False, f"first diffs {[(x, y) for x, y in zip(a, b) if x != y][:3]}"
    return True, f"ok ({len(got)} rows)"


def _nudge(v):
    """A different value of the same kind (self-test corruption)."""
    if isinstance(v, str):
        return v + "x"
    try:
        return v + 1
    except TypeError:
        return None
