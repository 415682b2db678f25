"""Seeded generator of F1 ``records`` rows: CSV cells plus the typed value
each cell must convert to.

The 28-column schema is pinned in ``records_schema.json`` next to this file
(FIXTURES.md F1), so an edit to the repository's own fixtures cannot change
the workload. Every row is a pure function of ``(seed, id, version)``: the
same seed always yields the same bytes, and a replay can recompute any row
without keeping it.

The cells cover the converter's edge cases: empty and whitespace-only cells
in every type, rows shorter than 28 cells, timestamps with 0/3/6/9-digit
fractions (nanos truncate to micros), decimals that need HALF_UP rescaling
to scale 2, non-numeric decimals (null, not an error), and quoted fields
with embedded commas and doubled quotes. A ``violation`` plants a cell
(one of ``STRICT_VIOLATIONS``) that must fail the strict parse of its file
or row.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Context, Decimal

import pyarrow as pa

SCHEMA_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "records_schema.json")

with open(SCHEMA_PATH) as _fh:
    SCHEMA_FIELDS = json.load(_fh)["fields"]
COLUMNS = [f["name"] for f in SCHEMA_FIELDS]
HEADER = ",".join(COLUMNS) + "\n"

_CENT = Decimal("0.01")
# Sums of DECIMAL(38,2) values need more than the default 28 digits.
_WIDE = Context(prec=80)
_EPOCH = dt.datetime(1970, 1, 1)
_TS_BASE = dt.datetime(2023, 1, 1)
_DAY0 = dt.date(2024, 1, 1)
_WORDS = ("alpha", "bravo", "delta", "echo", "gamma", "kilo", "lima", "omega",
          "sierra", "tango", "victor", "zulu", "ledger", "batch", "region")
_NAMES = ("Ada", "Brook", "Cyrus", "Dana", "Eli", "Farah", "Gus", "Hana")
_CITIES = ("Toronto", "Lagos", "Osaka", "Quito", "Oslo", "Perth")
_STATUS = ("ACTIVE", "INACTIVE", "PENDING")
_CURRENCY = ("USD", "EUR", "GBP", "JPY", "CAD")
_GARBAGE_DECIMAL = ("n/a", "abc", "1.2.3", "--", "12%")

# Strict-typed cells that must fail the parse: (column, raw cell).
STRICT_VIOLATIONS = (
    ("age", "abc"),
    ("birth_date", "2023-02-30"),
    ("event_timestamp", "2023-01-01 10:00:00.12"),
    ("quantity", "99999999999"),
    ("large_count", "12.5"),
)

ARROW_TYPES = {
    "INT32": pa.int32(),
    "INT64": pa.int64(),
    "DATE": pa.date32(),
    "TIMESTAMP_MICROS": pa.timestamp("us"),
    "STRING": pa.string(),
}


def arrow_schema() -> pa.Schema:
    """The Arrow types the converted Parquet must carry for each column."""
    out = []
    for f in SCHEMA_FIELDS:
        logical = f.get("logicalType")
        if logical == "DECIMAL":
            typ = pa.decimal128(max(f["precision"], 3), 2)
        else:
            typ = ARROW_TYPES[logical or f["type"]]
        out.append(pa.field(f["name"], typ))
    return pa.schema(out)


def day_date(day: int) -> dt.date:
    return _DAY0 + dt.timedelta(days=day)


def _decimal_cell(rng: random.Random, int_digits: int) -> tuple[str, Decimal | None]:
    roll = rng.random()
    if roll < 0.03:
        return "", None
    if roll < 0.06:
        return rng.choice(_GARBAGE_DECIMAL), None
    units = rng.randint(0, 10**int_digits - 1) * rng.choice((1, -1))
    frac_digits = rng.choice((0, 1, 2, 3))
    text = str(units)
    if frac_digits:
        frac = str(rng.randint(0, 10**frac_digits - 1)).zfill(frac_digits)
        text = f"{text}.{frac}" if units or rng.random() < 0.5 else f"-0.{frac}"
    return text, Decimal(text).quantize(_CENT, rounding=ROUND_HALF_UP, context=_WIDE)


def _maybe_empty(rng: random.Random, p: float, cell: str, value):
    if rng.random() < p:
        return (" " * rng.randint(1, 3) if rng.random() < 0.3 else ""), None
    return cell, value


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def make_row(seed: int, rid: int, day: int, version: int = 0,
             violation: tuple[str, str] | None = None) -> tuple[list[str], list]:
    """CSV cells and expected typed values for one row. ``violation`` replaces
    one strict cell with unparseable text (its typed value is then moot)."""
    rng = random.Random(f"{seed}:{rid}:{version}")
    cells: list[str] = []
    typed: list = []

    def put(cell: str, value) -> None:
        cells.append(cell)
        typed.append(value)

    put(str(rid), rid)
    name = rng.choice(_NAMES)
    put(*_maybe_empty(rng, 0.05, name, name))
    age = rng.randint(18, 90)
    put(*_maybe_empty(rng, 0.04, str(age), age))
    put(*_decimal_cell(rng, 7))
    bdate = dt.date(1940, 1, 1) + dt.timedelta(days=rng.randint(0, 23000))
    put(*_maybe_empty(rng, 0.04, bdate.isoformat(), bdate))
    desc = _text(rng, 2, 8)
    if rng.random() < 0.3:
        desc = desc.replace(" ", ", ", 1)
    if rng.random() < 0.05:
        desc += ' said "hi"'
    put(desc, desc)
    big = rng.randint(0, 2**40)
    put(*_maybe_empty(rng, 0.03, str(big), big))
    tdate = day_date(day)
    put(tdate.isoformat(), tdate)
    flag = rng.randint(0, 1)
    put(str(flag), flag)
    code = f"C{rng.randint(0, 9999):04d}"
    put(code, code)
    for lo, hi in ((10**9, 10**12), (-(2**50), 2**50), (-(2**63) + 1, 2**63 - 1)):
        v = rng.randint(lo, hi)
        put(*_maybe_empty(rng, 0.03, str(v), v))
    cur = rng.choice(_CURRENCY)
    put(cur, cur)
    ts = _TS_BASE + dt.timedelta(seconds=rng.randint(0, 365 * 86400))
    width = rng.choice((0, 3, 6, 9))
    ts_cell = ts.strftime("%Y-%m-%d %H:%M:%S")
    if width:
        nanos = rng.randint(0, 10**9 - 1)
        ts_cell += "." + str(nanos).zfill(9)[:width]
        ts = ts + dt.timedelta(microseconds=int(str(nanos).zfill(9)[:width].ljust(9, "0")) // 1000)
    put(*_maybe_empty(rng, 0.03, ts_cell, ts))
    v = rng.randint(0, 10**15)
    put(*_maybe_empty(rng, 0.03, str(v), v))
    qty = rng.randint(1, 1000)
    put(*_maybe_empty(rng, 0.03, str(qty), qty))
    notes = _text(rng, 1, 5)
    put(*_maybe_empty(rng, 0.3, notes, notes))
    addr = f"{rng.randint(1, 999)} {rng.choice(_WORDS).title()} St"
    put(addr, addr)
    email = f"user{rid}@example.com"
    put(email, email)
    phone = f"+1-555-{rng.randint(0, 9999):04d}"
    put(phone, phone)
    oid = rng.randint(1, 2**31 - 1)
    put(*_maybe_empty(rng, 0.03, str(oid), oid))
    status = rng.choice(_STATUS)
    put(status, status)
    city = rng.choice(_CITIES)
    put(city, city)
    bal = rng.randint(-(10**12), 10**12)
    put(*_maybe_empty(rng, 0.03, str(bal), bal))
    put(*_decimal_cell(rng, 25))
    comments = _text(rng, 1, 4)
    put(*_maybe_empty(rng, 0.4, comments, comments))
    uuid = f"uuid-{rng.randint(1000, 1012)}"
    put(uuid, uuid)

    if violation is not None:
        col, raw = violation
        cells[COLUMNS.index(col)] = raw
    elif rng.random() < 0.02:  # short row: trailing cells missing -> nulls
        keep = len(COLUMNS) - rng.randint(1, 3)
        cells = cells[:keep]
        typed = typed[:keep] + [None] * (len(COLUMNS) - keep)
    return cells, typed


def csv_line(cells: list[str]) -> str:
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerow(cells)
    return buf.getvalue()


_ID, _AMOUNT, _TS, _TOTAL = (COLUMNS.index(c) for c in ("id", "amount", "event_timestamp", "total"))


@dataclass
class Truth:
    """Aggregates the converted rows must reproduce exactly."""

    rows: int = 0
    nulls: list[int] = field(default_factory=lambda: [0] * len(COLUMNS))
    amount_sum: Decimal = Decimal(0)
    total_sum: Decimal = Decimal(0)
    ts_micros_sum: int = 0
    id_sum: int = 0

    def add(self, typed: list) -> None:
        self.rows += 1
        for i, v in enumerate(typed):
            if v is None:
                self.nulls[i] += 1
        self.amount_sum = _WIDE.add(self.amount_sum, typed[_AMOUNT] or 0)
        self.total_sum = _WIDE.add(self.total_sum, typed[_TOTAL] or 0)
        if typed[_TS] is not None:
            self.ts_micros_sum += (typed[_TS] - _EPOCH) // dt.timedelta(microseconds=1)
        self.id_sum += typed[_ID]

    def merge(self, other: Truth) -> None:
        self.rows += other.rows
        self.nulls = [a + b for a, b in zip(self.nulls, other.nulls)]
        self.amount_sum = _WIDE.add(self.amount_sum, other.amount_sum)
        self.total_sum = _WIDE.add(self.total_sum, other.total_sum)
        self.ts_micros_sum += other.ts_micros_sum
        self.id_sum += other.id_sum

    def as_dict(self) -> dict:
        return {
            "rows": self.rows,
            "nulls": dict(zip(COLUMNS, self.nulls)),
            "amount_sum": str(self.amount_sum),
            "total_sum": str(self.total_sum),
            "ts_micros_sum": self.ts_micros_sum,
            "id_sum": self.id_sum,
        }


def observed_truth(table: pa.Table) -> dict:
    """The same aggregates, computed from converted Parquet read by Arrow
    (no Spark involved)."""
    cols = {name: table.column(name).to_pylist() for name in ("id", "amount", "total")}
    ts = table.column("event_timestamp").cast(pa.int64()).to_pylist()
    return {
        "rows": table.num_rows,
        "nulls": {name: table.column(name).null_count for name in COLUMNS},
        "amount_sum": str(_wide_sum(cols["amount"])),
        "total_sum": str(_wide_sum(cols["total"])),
        "ts_micros_sum": sum(v for v in ts if v is not None),
        "id_sum": sum(cols["id"]),
    }


def _wide_sum(values) -> Decimal:
    total = Decimal(0)
    for v in values:
        if v is not None:
            total = _WIDE.add(total, v)
    return total


def write_csv(path: str, rows: list[list[str]]) -> int:
    """Write header + rows; returns the file's byte size."""
    with open(path, "w", newline="") as fh:
        fh.write(HEADER)
        csv.writer(fh, lineterminator="\n").writerows(rows)
    return os.path.getsize(path)


def parquet_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the Parquet parts under a directory."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(root, f))
                nfiles += 1
    return nbytes, nfiles


def corrupt_amount(table_dir: str) -> None:
    """Rewrite one Parquet file of a directory with one ``amount`` cell
    moved by one cent (the self-test's planted output error)."""
    import pyarrow.parquet as pq

    path = next(os.path.join(table_dir, f) for f in sorted(os.listdir(table_dir))
                if f.endswith(".parquet") and pq.read_metadata(os.path.join(table_dir, f)).num_rows)
    t = pq.read_table(path)
    idx = t.schema.get_field_index("amount")
    amounts = t.column(idx).to_pylist()
    k = next(j for j, v in enumerate(amounts) if v is not None)
    amounts[k] += _CENT
    field = t.schema.field(idx)
    pq.write_table(t.set_column(idx, field, pa.array(amounts, field.type)), path)
