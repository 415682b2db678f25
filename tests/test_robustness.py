"""Operational robustness: schema evolution, vacuum, write-parity metadata."""

from __future__ import annotations

import os

from csv_parquet_s3_spark.maintenance import vacuum


def test_merge_schema_evolution(spark, tmp_path):
    """A dataset whose later files carry an added column reads as one
    DataFrame with mergeSchema; old rows surface NULL for the new column —
    the append-only schema-evolution contract."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.mode("append").parquet(path)

    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_vacuum_removes_orphan_staging(spark, tmp_path):
    from csv_parquet_s3_spark.maintenance import STAGING_MARKERS

    path = str(tmp_path / "ds")
    spark.range(10).write.parquet(path)
    # simulate crashed rewrites of every kind: orphan staging + backup dirs
    orphans = [path + m + "deadbeef" for m in STAGING_MARKERS] + [path + "._old-1234abcd"]
    # a sibling table's staging dir is not this dataset's to reap
    other = str(tmp_path / "ds2._compact-cafe01")
    for orphan in orphans + [other]:
        os.makedirs(orphan)
        open(os.path.join(orphan, "part-0.parquet"), "w").write("junk")

    assert sorted(vacuum(path)) == sorted(orphans)
    assert [d for d in os.listdir(str(tmp_path)) if "._" in d] == ["ds2._compact-cafe01"]
    assert spark.read.parquet(path).count() == 10  # data untouched


def test_parquet_write_parity_metadata(spark, tmp_path):
    """The sink's parity options are really applied: snappy compression and
    one row group for a small file (reference config, Main.java:44,
    CsvToParquetConverter.java:229-230)."""
    import pyarrow.parquet as pq

    from csv_parquet_s3_spark.ingest import _write_parquet

    path = str(tmp_path / "parity")
    _write_parquet(spark.range(1000).selectExpr("id", "id * 2 AS v"), path)
    part = next(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    meta = pq.ParquetFile(part).metadata
    assert meta.num_row_groups == 1  # far below 128 MiB → single group
    assert meta.row_group(0).column(0).compression == "SNAPPY"
