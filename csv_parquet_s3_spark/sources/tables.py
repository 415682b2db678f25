"""Parquet table catalog for the driver's synthetic star schema.

A "table" is a directory-or-file of Parquet, mirroring the reference's
dataset-as-directory-of-files model (SURVEY.md §1.1, ``Main.java:34-37``).
Every parquet read of the package goes through :func:`read_parquet`, so
Catalyst gets filter pushdown and column pruning for free and a table's
schema is inferred once per file fingerprint, not once per query; at 100 TB
each table is just a bigger directory with the same code path.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should broadcast in joins rather than shuffle.
# At TPC-H-like scale region/nation are constant-size and supplier/part/customer
# grow ~linearly but remain << lineitem; only the constant-size ones are safe
# to force-broadcast at 100 TB.
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Size gate for broadcast hints on SF-scaling tables (supplier/part/customer
# and frames derived from them). A Spark broadcast *hint* is honored
# unconditionally — there is no AQE size fallback once the hint is attached —
# so hinting a table that grows with SF OOMs the driver/executors at the
# 100 TB design point even though it is harmless at bench scale. The gate
# measures the table's on-disk parquet bytes and only attaches the hint when
# the source is provably small *for this dataset*; above the gate (or when
# the size cannot be measured locally, e.g. an s3a:// root) the join is left
# to CBO/AQE, which flips SMJ->BHJ at runtime when the build side really is
# small (DEPLOYMENT.md "AQE conversion" policy). 64 MiB of snappy parquet is
# ~200-400 MB of in-memory rows — inside the executor comfort zone
# DEPLOYMENT.md sizes for, and far above every SF this repo benches.
# Production knob: SPARK_GRAFT_GATE_BYTES overrides the default (read once
# at import, like every deployment env knob here) — size it to the
# cluster's broadcast budget per DEPLOYMENT.md; 0 disables all gated hints.
def _gate_bytes() -> int:
    raw = os.environ.get("SPARK_GRAFT_GATE_BYTES", str(64 << 20))
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_GATE_BYTES={raw!r}: expected integer bytes"
        ) from None


BROADCAST_GATE_BYTES = _gate_bytes()

def source_table_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet bytes of a table (file or directory), summed from its
    current :func:`fingerprint`, so a table that grows is re-measured.
    Returns a huge sentinel for paths that cannot be statted locally
    (remote roots) so callers fail toward *not* hinting."""
    fp = fingerprint(table_path(sf_dir, name))
    return 1 << 62 if fp is None else sum(size for _f, size, _mtime in fp)


def broadcast_if_small(
    df: DataFrame,
    sf_dir: str,
    source_table: str,
    threshold_bytes: int = BROADCAST_GATE_BYTES,
) -> DataFrame:
    """Attach ``F.broadcast`` only when ``source_table``'s measured bytes
    clear the gate. ``df`` may be a projection/filter/aggregate *derived*
    from ``source_table`` (e.g. a per-part average): derived frames are no
    larger than their source per key, so gating on the source is
    conservative-safe. Constant-size dimensions (region/nation) always hint.
    """
    if source_table in BROADCAST_TABLES:
        return F.broadcast(df)
    if source_table_bytes(sf_dir, source_table) <= threshold_bytes:
        return F.broadcast(df)
    return df


# (sf_dir, name) → catalog table name. When a bucketed copy of a table has
# been materialized (sources/bucketed.py), load_table serves the catalog
# table instead of the raw parquet: its bucket metadata lets the planner
# prove co-partitioning and drop the per-query join/agg Exchange. Results
# are identical — only the physical layout differs — so every oracle check
# holds unchanged under the override.
_BUCKETED_OVERRIDES: dict[tuple[str, str], str] = {}


def set_bucketed_override(sf_dir: str, name: str, catalog_table: str) -> None:
    _BUCKETED_OVERRIDES[(os.path.normpath(sf_dir), name)] = catalog_table


def clear_bucketed_overrides() -> None:
    _BUCKETED_OVERRIDES.clear()


# Session confs that change what inference derives from the same footers;
# part of the schema cache key, so flipping one re-infers.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# paths -> (fingerprints + confs, schema): one entry per path tuple,
# replaced when its files or the confs change. Each entry is swapped whole,
# so two threads racing on one path cost at most one extra inference.
_SCHEMAS: dict[tuple[str, ...], tuple[tuple, StructType]] = {}


def _spark_visible(name: str) -> bool:
    """Spark's file-listing filter: names starting with ``.`` or ``_``
    (checksums, ``_SUCCESS``, ``_temporary``) are hidden, except
    ``_``-prefixed partition directories (``_col=v``)."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def fingerprint(path: str) -> tuple | None:
    """Sorted ``(file, size, mtime_ns)`` of every file Spark reads under a
    local ``path`` (a file, or a directory listed recursively); ``None``
    for a remote (``s3a://``) or unstattable path."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    path = os.path.abspath(url.path if url.scheme else path)
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if _spark_visible(d)]
            for f in files:
                if _spark_visible(f):
                    full = os.path.join(root, f)
                    fst = os.stat(full)
                    out.append((full, fst.st_size, fst.st_mtime_ns))
    except OSError:  # vanished mid-listing: let Spark infer (or raise)
        return None
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """THE parquet read of the package: ``spark.read.parquet(*paths)`` with
    the schema pinned from a cache. Inference runs a footer-reading Spark
    job on every read; here it runs once per (file fingerprints, schema-
    affecting confs) and later reads of the unchanged files go through
    ``spark.read.schema(cached)``, which starts no job and plans the same.
    A rewrite changes the fingerprint and re-infers. Paths without a local
    fingerprint (``s3a://``) infer on every read, as before."""
    prints = tuple(fingerprint(p) for p in paths)
    if any(fp is None for fp in prints):
        return spark.read.parquet(*paths)
    key = (prints, tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    cached = _SCHEMAS.get(paths)
    if cached is not None and cached[0] == key:
        return spark.read.schema(cached[1]).parquet(*paths)
    df = spark.read.parquet(*paths)
    _SCHEMAS[paths] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    override = _BUCKETED_OVERRIDES.get((os.path.normpath(sf_dir), name))
    if override is not None:
        return spark.table(override)
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (no Spark type —
        # read raw int64 nanos via the legacy conf and divide to micros) and,
        # since the 2026-08 regeneration, as plain timestamp[us] with no
        # timezone (reads as TIMESTAMP_NTZ). Normalize both to TIMESTAMP
        # (LTZ): with the session timezone pinned to UTC the NTZ→LTZ cast is
        # wall-clock-identity and matches DuckDB's naive read exactly.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` queries can run."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
