"""Output checks: result comparison against DuckDB and order-insensitive
checksums of large results."""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.compute as pc

#: Relative tolerance for floating-point aggregates: Spark and DuckDB sum
#: doubles in different orders, so the last bits may differ.
FLOAT_RTOL = 1e-9


def _plain(tbl: pa.Table) -> pa.Table:
    """Timestamps → int64 microseconds since the epoch (Spark returns
    them zoned in UTC, DuckDB naive; the instants are the same)."""
    cols = []
    for col in tbl.columns:
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col.cast(pa.timestamp("us", tz=col.type.tz)), pa.int64())
        cols.append(col)
    return pa.table(cols, names=[n.lower() for n in tbl.column_names])


def _sort_key(row):
    return tuple(
        (1, round(v, 4)) if isinstance(v, float) else (0, v) if v is not None else (-1, 0)
        for v in row
    )


def rows_of(tbl: pa.Table) -> list[tuple]:
    t = _plain(tbl)
    rows = list(zip(*[c.to_pylist() for c in t.columns])) if t.num_columns else []
    return sorted(rows, key=_sort_key)


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Order-insensitive equality; floats within ``FLOAT_RTOL``."""
    if [n.lower() for n in got.column_names] != [n.lower() for n in want.column_names]:
        return False
    a, b = rows_of(got), rows_of(want)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                    x, y, rel_tol=FLOAT_RTOL, abs_tol=1e-6
                ):
                    return False
            elif x != y:
                return False
    return True


def checksum(tbl: pa.Table | pa.RecordBatch) -> dict[str, float]:
    """Order-insensitive checksum: row count plus, per column, the sum
    of integers, floats, epoch microseconds or string lengths."""
    out = {"rows": float(tbl.num_rows)}
    for name, col in zip(tbl.schema.names, tbl.columns):
        t = col.type
        if pa.types.is_timestamp(t):
            col = pc.cast(col.cast(pa.timestamp("us", tz=t.tz)), pa.int64())
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            col = pc.utf8_length(col)
        elif not (pa.types.is_integer(t) or pa.types.is_floating(t)):
            continue
        s = pc.sum(col).as_py()
        out[name.lower()] = float(s or 0)
    return out


def add_checksums(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    if not a:
        return dict(b)
    return {k: a[k] + b[k] for k in a}


def same_checksum(got: dict[str, float], want: dict[str, float]) -> bool:
    if got.keys() != want.keys():
        return False
    return all(math.isclose(got[k], want[k], rel_tol=FLOAT_RTOL) for k in got)
