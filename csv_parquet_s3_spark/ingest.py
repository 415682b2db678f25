"""Schema-declared CSV → Parquet conversion (the reference's core capability).

Reproduces the value semantics of the reference converter
(`/root/reference/src/main/java/com/rbccm/database/tools/CsvToParquetConverter.java`),
re-expressed as declarative Spark column expressions:

- header row consumed but ignored; binding is positional (:151-159)
- empty / whitespace-only cell → null, even for REQUIRED fields (:160-163);
  rows shorter than the schema get trailing nulls (:159)
- INT32/INT64: strict integer syntax (regex ``^[+-]?[0-9]+$`` mirrors
  ``Integer.parseInt``; overflow is an error) (:173, :181)
- DATE: strict ISO ``yyyy-MM-dd`` → DateType (:169-171)
- TIMESTAMP_MICROS: ``yyyy-MM-dd HH:mm:ss`` with optional fraction of
  EXACTLY 3/6/9 digits (shape-guarded to match the reference's exact-width
  formatters), parsed as UTC local datetime, nanos truncated to micros
  (:129-142). Plain seconds are accepted as a documented superset — the
  reference's own sample data uses fraction-less timestamps.
- DECIMAL: lenient — parsed with ``try_cast``, rescaled to **scale 2
  HALF_UP regardless of declared scale** (the reference hard-codes 2),
  unparseable → null, never an error (:188-195)
- any strict-field parse failure fails that FILE's conversion; sibling
  files continue (per-file isolation, :115-117)
- output named ``x.csv → x.parquet`` (:111-112), snappy + 128 MiB row
  groups (:229-230), atomic via Spark's committer (temp + rename, :147,:219)

Two modes:

- :func:`convert_csv_to_parquet` — reference-parity: one output file per
  input file (filename fidelity). Files convert sequentially but each file's
  rows parse partition-parallel; Spark's scheduler replaces the 4-thread pool.
- :func:`convert_csv_dir` — the 100 TB path: the whole directory is ONE
  DataFrame (task-per-split parallelism, no per-file driver loop) written as
  one partitioned Parquet dataset. Same parse expressions, no filename
  fidelity.
"""

from __future__ import annotations

import logging
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.schema import FieldSpec, load_schema, raw_struct_type
from csv_parquet_s3_spark.session import PARQUET_BLOCK_SIZE
from csv_parquet_s3_spark.sources.tables import read_parquet

logger = logging.getLogger(__name__)

INT_RE = "^[+-]?[0-9]+$"  # Integer.parseInt / Long.parseLong syntax
TS_FORMATS = (
    "yyyy-MM-dd HH:mm:ss.SSSSSSSSS",  # CsvToParquetConverter.java:43-45
    "yyyy-MM-dd HH:mm:ss",
)
# The reference's formatters accept a fraction of EXACTLY 3, 6, or 9 digits
# (java's `S` parses an exact digit count, :42-46). Spark's S-pattern is
# lenient within 1-9 digits, so a shape pre-guard enforces the exact widths;
# try_to_timestamp then validates field ranges. Fraction-less timestamps are
# kept as a documented superset — the reference's own sample data
# (src/main/resources/csv/sample1.csv `event_timestamp`) uses them.
TS_RE = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.(\d{3}|\d{6}|\d{9}))?$"


class IngestError(RuntimeError):
    """A file failed strict conversion (mirrors the reference's per-file error)."""


@dataclass
class IngestReport:
    converted: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)


def _nullify_empty(col: F.Column) -> F.Column:
    # `value.trim().isEmpty()` → null (CsvToParquetConverter.java:160-163).
    # Java's String.trim() strips every code point <= U+0020 (tab, FF, VT,
    # NUL, CR, ...), not just the space character that Spark's `trim` strips,
    # so the emptiness test must be "all chars <= U+0020", not `trim(col)=''`.
    return F.when(col.rlike(r"^[\x00-\x20]*$"), F.lit(None)).otherwise(col)


def parse_column(spec: FieldSpec) -> tuple[F.Column, F.Column | None]:
    """Return (parsed_column, violation_flag) for one declared field.

    ``violation_flag`` is non-None for strict types: true where the raw cell
    held a value that failed to parse (→ the file must fail, :204-213).
    """
    raw = _nullify_empty(F.col(spec.name))

    if spec.physical == "INT32" and spec.logical == "DATE":
        parsed = F.try_to_date(raw, "yyyy-MM-dd")
    elif spec.physical == "INT32":
        parsed = F.when(raw.rlike(INT_RE), F.expr(f"try_cast(`{spec.name}` as int)"))
    elif spec.physical == "INT64" and spec.logical == "TIMESTAMP_MICROS":
        parsed = F.when(
            raw.rlike(TS_RE),
            F.coalesce(
                *[F.try_to_timestamp(raw, F.lit(fmt)) for fmt in TS_FORMATS]
            ),
        ).cast("timestamp_ntz")
    elif spec.physical == "INT64":
        parsed = F.when(raw.rlike(INT_RE), F.expr(f"try_cast(`{spec.name}` as bigint)"))
    elif spec.logical == "DECIMAL":
        # Lenient: hard rescale to 2 HALF_UP (reference ignores declared
        # scale, :188-195); garbage → null, never a violation. String →
        # decimal(38,2) in one try_cast: Spark's changePrecision rounds
        # HALF_UP, exactly BigDecimal.setScale(2, HALF_UP), and scale-2 at
        # the full 38 precision admits the widest declared values
        # (DECIMAL(38,2) `total`, schema.json:146-153).
        dec = raw.cast("string").try_cast("decimal(38,2)")
        return dec.cast(f"decimal({max(spec.precision, 3)},2)").alias(spec.name), None
    else:  # STRING / unknown logical: pass-through
        return raw.alias(spec.name), None

    violation = raw.isNotNull() & parsed.isNull()
    return parsed.alias(spec.name), violation


def parse_csv(spark: SparkSession, path: str, specs: list[FieldSpec]) -> DataFrame:
    """Schema-directed positional parse of one CSV path (file or glob).

    The header row is consumed but its names are ignored — with an explicit
    schema Spark binds columns positionally, mirroring ``csvReader.skip(1)``.
    PERMISSIVE mode pads short rows with trailing nulls (:159).
    """
    raw = (
        spark.read.schema(raw_struct_type(specs))
        .option("header", "true")
        .option("enforceSchema", "true")
        .option("mode", "PERMISSIVE")
        .option("escape", '"')  # RFC-4180 doubled quotes, matching opencsv (:148)
        .csv(path)
    )
    parsed_cols, violations = [], []
    for spec in specs:
        col, viol = parse_column(spec)
        parsed_cols.append(col)
        if viol is not None:
            violations.append(viol.alias(f"_bad_{spec.name}"))
    return raw.select(*parsed_cols), raw.select(violations) if violations else None


def check_strict(spark: SparkSession, path: str, specs: list[FieldSpec]) -> None:
    """Raise IngestError if any strict-typed cell fails to parse (:204-213)."""
    _, viol = parse_csv(spark, path, specs)
    if viol is None:
        return
    any_bad = viol.filter(
        F.greatest(*[F.col(c) for c in viol.columns]) if len(viol.columns) > 1 else F.col(viol.columns[0])
    )
    bad = any_bad.limit(1).collect()
    if bad:
        fields = [c.removeprefix("_bad_") for c, v in bad[0].asDict().items() if v]
        raise IngestError(f"{path}: unparseable value(s) in strict field(s) {fields}")


def _write_parquet(df: DataFrame, out_path: str, single_file: bool = False) -> None:
    writer = (df.coalesce(1) if single_file else df).write.mode("overwrite").option(
        "compression", "snappy"
    ).option("parquet.block.size", str(PARQUET_BLOCK_SIZE))
    writer.parquet(out_path)


def convert_csv_to_parquet(
    spark: SparkSession,
    csv_dir: str,
    out_dir: str,
    schema_path: str | None = None,
    specs: list[FieldSpec] | None = None,
) -> IngestReport:
    """Reference-parity conversion: each ``x.csv`` → ``out_dir/x.parquet``.

    Per-file failures are logged and skipped without failing siblings
    (CsvToParquetConverter.java:115-117); the report records both outcomes.
    """
    if specs is None:
        if schema_path is None:
            raise ValueError("need schema_path or specs")
        specs = load_schema(schema_path)
    files = sorted(
        f for f in os.listdir(csv_dir) if f.endswith(".csv")
    )
    if not files:
        raise FileNotFoundError(f"No CSV files found in {csv_dir}")  # Main.java:38
    os.makedirs(out_dir, exist_ok=True)

    report = IngestReport()
    for fname in files:
        src = os.path.join(csv_dir, fname)
        final = os.path.join(out_dir, fname[: -len(".csv")] + ".parquet")
        tmp = final + "._staging"
        try:
            check_strict(spark, src, specs)
            df, _ = parse_csv(spark, src, specs)
            _write_parquet(df, tmp, single_file=True)
            part = next(
                p for p in os.listdir(tmp) if p.endswith(".parquet") and not p.startswith(".")
            )
            if os.path.exists(final):
                os.remove(final)
            shutil.move(os.path.join(tmp, part), final)  # temp+rename (:147,:219)
            report.converted.append(final)
        except Exception as exc:  # per-file isolation (:115-117)
            logger.error("Failed to convert %s: %s", src, exc)
            report.failed[src] = str(exc)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return report


def convert_csv_dir(
    spark: SparkSession,
    csv_dir: str,
    out_dir: str,
    schema_path: str | None = None,
    specs: list[FieldSpec] | None = None,
    strict: bool = True,
) -> DataFrame:
    """Scale-path conversion: whole directory as one DataFrame → one dataset.

    All files parse in one distributed job (split-per-task); the output is a
    normal multi-part Parquet dataset. Use this shape at 100 TB.
    """
    if specs is None:
        if schema_path is None:
            raise ValueError("need schema_path or specs")
        specs = load_schema(schema_path)
    glob = os.path.join(csv_dir, "*.csv")
    if strict:
        check_strict(spark, glob, specs)
    df, _ = parse_csv(spark, glob, specs)
    _write_parquet(df, out_dir)
    return read_parquet(spark, out_dir)


def convert_with_quarantine(
    spark: SparkSession,
    csv_dir: str,
    out_dir: str,
    quarantine_dir: str,
    schema_path: str | None = None,
    specs: list[FieldSpec] | None = None,
) -> tuple[int, int]:
    """Convert a CSV directory, routing strict-parse failures to quarantine.

    The reference offers two dispositions for a bad cell: fail the whole
    file (strict types, CsvToParquetConverter.java:204-213) or silently
    null (decimals, :188-195). At pipeline scale the useful middle ground
    is row-level quarantine: good rows flow to the typed dataset, bad rows
    land — in their ORIGINAL string form plus a list of offending fields —
    in a quarantine dataset for repair/replay. One distributed pass computes
    both outputs; returns (n_good, n_bad).
    """
    if specs is None:
        if schema_path is None:
            raise ValueError("need schema_path or specs")
        specs = load_schema(schema_path)
    glob = os.path.join(csv_dir, "*.csv")
    raw = (
        spark.read.schema(raw_struct_type(specs))
        .option("header", "true")
        .option("enforceSchema", "true")
        .option("mode", "PERMISSIVE")
        .option("escape", '"')
        .csv(glob)
    )
    parsed_cols, bad_flags = [], []
    for spec in specs:
        col, viol = parse_column(spec)
        parsed_cols.append(col)
        if viol is not None:
            bad_flags.append(
                F.when(viol, F.lit(spec.name)).otherwise(F.lit(None))
            )
    bad_fields = (
        F.array_compact(F.array(*bad_flags)) if bad_flags else F.array().cast("array<string>")
    )
    flagged = raw.withColumn("_bad_fields", bad_fields)
    good = flagged.filter(F.size("_bad_fields") == 0).select(*parsed_cols)
    bad = flagged.filter(F.size("_bad_fields") > 0)
    _write_parquet(good, out_dir)
    _write_parquet(bad, quarantine_dir)
    n_good = read_parquet(spark, out_dir).count()
    n_bad = read_parquet(spark, quarantine_dir).count()
    return n_good, n_bad
