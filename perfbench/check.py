"""Correctness bookkeeping: every timed operation is checked, and a
failed check marks the operation as failed for ``error_rate``."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import sys


class Checker:
    """Collects the mismatches found while checking one operation."""

    def __init__(self) -> None:
        self.problems: list[str] = []

    @property
    def ok(self) -> bool:
        return not self.problems

    def fail(self, what: str, detail: str) -> None:
        self.problems.append(f"{what}: {detail}")

    def equal(self, what: str, got, want) -> None:
        if got != want:
            self.fail(what, f"got {_short(got)}, want {_short(want)}")


class Tally:
    """Operations attempted and failed over a run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def add(self, chk: Checker, what: str) -> bool:
        self.attempted += 1
        if chk.ok:
            return True
        self.failed += 1
        for p in chk.problems[:3]:
            print(f"perfbench: {what} incorrect: {p}", file=sys.stderr)
        return False

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: {what} failed: {exc!r}", file=sys.stderr)


def _short(v, limit: int = 300) -> str:
    s = repr(v)
    return s if len(s) <= limit else s[:limit] + "..."


def canonical(value) -> str:
    """A comparable token for one cell of a query result: floats to nine
    significant digits, timestamps as naive UTC ISO, bytes as hex,
    arrays element-wise."""
    if value is None:
        return "null"
    if hasattr(value, "tolist") and not isinstance(value, (str, bytes)):
        value = value.tolist()
    if isinstance(value, float):
        return "null" if math.isnan(value) else f"{value:.9g}"
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, int):
        return str(value)
    if isinstance(value, dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return value.isoformat()
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).hex()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canonical(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(f"{k}:{canonical(v)}" for k, v in sorted(value.items())) + "}"
    return str(value)


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    """Rows (sequences in ``columns`` order) as sorted tuples of
    canonical cells, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canonical(r[i]) for i in order) for r in rows)


def column_kind(series) -> str:
    """The coarse type of a result column (int, float, bool, datetime,
    str, binary, object; ``empty`` when it holds no value). Cells
    compare as text, where 1 and 1.0 read the same, so the kind is what
    catches an integer column turned floating point. The same rule as
    ``faexport_db_spark.testing.column_kind``, kept here so that a change
    to the engine cannot change what the benchmark accepts."""
    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind in "fc":
        return "float"
    if kind in "Mm":
        return "datetime"
    if kind == "b":
        return "bool"
    if kind != "O":
        return kind
    values = series[series.notna()]
    if not len(values):
        return "empty"
    v = values.iloc[0]
    for types, name in (
        (bool, "bool"),
        (int, "int"),
        ((float, decimal.Decimal), "float"),
        ((dt.datetime, dt.date), "datetime"),
        ((bytes, bytearray), "binary"),
        (str, "str"),
    ):
        if isinstance(v, types):
            return name
    return "object"


def compare_tables(chk: Checker, what: str, got, want) -> None:
    """Order-insensitive comparison of two result tables (pandas
    frames): column names, column kinds, then values."""
    if sorted(got.columns) != sorted(want.columns):
        chk.fail(what, f"columns {sorted(got.columns)} != {sorted(want.columns)}")
        return
    kinds = {c: (column_kind(got[c]), column_kind(want[c])) for c in sorted(got.columns)}
    wrong = {c: k for c, k in kinds.items() if k[0] != k[1] and "empty" not in k}
    if wrong:
        chk.fail(what, f"column kinds (got, want) differ: {wrong}")
        return
    got_rows = canonical_rows(list(got.columns), _plain(got))
    want_rows = canonical_rows(list(want.columns), _plain(want))
    if len(got_rows) != len(want_rows):
        chk.fail(what, f"{len(got_rows)} rows, want {len(want_rows)}")
    elif got_rows != want_rows:
        diff = [(a, b) for a, b in zip(got_rows, want_rows) if a != b][:2]
        chk.fail(what, f"values differ, first: {_short(diff)}")


def _plain(pdf) -> list[tuple]:
    """Rows of a pandas frame with decimals as floats."""
    return [
        tuple(float(v) if isinstance(v, decimal.Decimal) else v for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
