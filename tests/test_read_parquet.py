"""The package's one parquet read, ``sources.tables.read_parquet``: a table's
schema is inferred once per file fingerprint, later reads of the unchanged
files start no Spark job and plan exactly like an inferred read, and any
rewrite or schema-affecting conf change re-infers."""

from __future__ import annotations

import ast
import datetime as dt
import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from csv_parquet_s3_spark.sources import tables as T

LINEITEM = "/root/testdata/sf0.001/lineitem.parquet"


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``, counted by job group."""
    sc = spark.sparkContext
    group = f"read-parquet-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    """Optimized logical plan with expression ids stripped."""
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())


def _write(spark, path, n=20, extra=False, mode="overwrite"):
    df = spark.range(n).withColumn("v", F.col("id") * 2)
    if extra:
        df = df.withColumn("w", F.lit("x"))
    df.write.mode(mode).parquet(path)


def test_second_read_starts_no_job_and_plans_like_inference(spark, tmp_path):
    table = str(tmp_path / "t")
    _write(spark, table)
    for path, pred in ((table, "id > 3"), (LINEITEM, "l_quantity > 30")):
        T.read_parquet(spark, path)  # fills the cache
        pinned, n_jobs = _jobs(spark, lambda: T.read_parquet(spark, path))
        assert n_jobs == 0, path
        inferred = spark.read.parquet(path)
        assert pinned.schema == inferred.schema
        assert _plan(pinned) == _plan(inferred)
        assert _plan(pinned.filter(pred)) == _plan(inferred.filter(pred))
        assert pinned.filter(pred).count() == inferred.filter(pred).count()


def test_new_column_reinfers(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path)
    assert T.read_parquet(spark, path).columns == ["id", "v"]
    _write(spark, path, extra=True)
    df, n_jobs = _jobs(spark, lambda: T.read_parquet(spark, path))
    assert n_jobs >= 1  # the footer-inference job ran again
    assert df.columns == ["id", "v", "w"]
    assert df.schema == spark.read.parquet(path).schema


def test_single_file_rewrite_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert T.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["p", "q"]}), path)
    assert T.read_parquet(spark, path).columns == ["a", "b"]


def test_appended_file_reinfers(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, n=20)
    assert T.read_parquet(spark, path).count() == 20
    _write(spark, path, n=5, mode="append")
    df, n_jobs = _jobs(spark, lambda: T.read_parquet(spark, path))
    assert n_jobs >= 1
    assert df.count() == 25


def test_partitioned_list_dir_reinfers(spark, tmp_path):
    path = str(tmp_path / "lists")
    spark.range(30).withColumn("list_id", F.col("id") % 3).write.partitionBy(
        "list_id"
    ).parquet(path)
    first = T.read_parquet(spark, path)
    assert {r.list_id for r in first.select("list_id").distinct().collect()} == {0, 1, 2}
    again, n_jobs = _jobs(spark, lambda: T.read_parquet(spark, path))
    assert n_jobs == 0
    assert again.schema == spark.read.parquet(path).schema
    spark.range(30, 33).withColumn("list_id", F.lit(3)).write.mode(
        "append"
    ).partitionBy("list_id").parquet(path)
    df, n_jobs = _jobs(spark, lambda: T.read_parquet(spark, path))
    assert n_jobs >= 1
    assert {r.list_id for r in df.select("list_id").distinct().collect()} == {0, 1, 2, 3}
    assert df.schema == spark.read.parquet(path).schema


def test_schema_affecting_conf_misses(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(T.read_parquet(spark, path).dtypes)["b"] == "binary"
        spark.conf.set(key, "true")
        df, n_jobs = _jobs(spark, lambda: T.read_parquet(spark, path))
        assert n_jobs >= 1
        assert dict(df.dtypes)["b"] == "string"
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(key, old)


def test_events_ts_encodings_normalize_to_timestamp(spark, tmp_path):
    """Both shipped ``events.ts`` encodings — TIMESTAMP(NANOS) and naive
    timestamp[us] — load as TIMESTAMP, on the inferring and the pinned read."""
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678000), dt.datetime(2024, 6, 1)]
    epoch = dt.datetime(1970, 1, 1)
    want = [(t - epoch) // dt.timedelta(microseconds=1) for t in ts]
    for unit in ("ns", "us"):
        sf_dir = tmp_path / unit
        sf_dir.mkdir()
        pq.write_table(
            pa.table({"event_id": [1, 2], "ts": pa.array(ts, pa.timestamp(unit))}),
            str(sf_dir / "events.parquet"),
        )
        for _ in range(2):
            df = T.load_table(spark, str(sf_dir), "events")
            assert dict(df.dtypes)["ts"] == "timestamp", unit
            got = df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()
            assert [r.us for r in got] == want, unit


def test_remote_path_has_no_fingerprint(tmp_path):
    assert T.fingerprint("s3a://bucket/prefix/t.parquet") is None
    assert T.fingerprint(str(tmp_path / "absent")) is None
    assert T.fingerprint(f"file://{tmp_path}") == ()


def test_source_table_bytes_follows_growth(spark, tmp_path):
    """The broadcast gate re-measures a table that grows in the session."""
    path = str(tmp_path / "part.parquet")
    _write(spark, path, n=10)
    before = T.source_table_bytes(str(tmp_path), "part")
    _write(spark, path, n=10, mode="append")
    after = T.source_table_bytes(str(tmp_path), "part")
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert after > before
    assert after == sum(os.path.getsize(os.path.join(path, f)) for f in parts)


def test_every_parquet_read_goes_through_read_parquet():
    """Grep gate: ``read.parquet(`` appears in the package only inside
    ``sources.tables.read_parquet``, so no read can skip the schema cache."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "csv_parquet_s3_spark")
    tables = os.path.join(pkg, "sources", "tables.py")
    with open(tables) as fh:
        tree = ast.parse(fh.read())
    allowed = next(
        (
            range(n.lineno, n.end_lineno + 1)
            for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name == "read_parquet"
        ),
        range(0),
    )
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if "read.parquet(" in line and not (path == tables and i in allowed):
                        offenders.append(f"{os.path.relpath(path, pkg)}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
