"""Result comparison against DuckDB.

The comparison is the one ``tools/check_oracle.py`` applies to the
registry: same row count, same column names (order-insensitive), and
order-insensitive values, with floats equal to 1e-9 relative.
"""

from __future__ import annotations

import decimal
import math

import duckdb

from gen import TABLES


class _Last:
    """Stands for a null or a NaN in a canonical row: equal only to
    itself and ordered after every other value, so that rows sort into
    the same total order on both sides."""

    def __init__(self, rank: int, name: str):
        self.rank, self.name = rank, name

    def __eq__(self, other):
        return self is other

    def __hash__(self):
        return self.rank

    def __lt__(self, other):
        return isinstance(other, _Last) and self.rank < other.rank

    def __gt__(self, other):
        return not isinstance(other, _Last) or self.rank > other.rank

    def __le__(self, other):
        return self is other or self < other

    def __ge__(self, other):
        return self is other or self > other

    def __repr__(self):
        return self.name


NAN, NULL = _Last(1, "NaN"), _Last(2, "NULL")


def _canon(val):
    if val is None:
        return NULL
    if isinstance(val, float):
        return NAN if math.isnan(val) else val
    if isinstance(val, decimal.Decimal):
        return _canon(float(val))
    if isinstance(val, (list, tuple)):
        return tuple(_canon(v) for v in val)
    return val


def canonical_rows(rows, columns) -> list[tuple]:
    """Rows with columns in name order, sorted into a total order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    try:
        return sorted(out)
    except TypeError:       # a column mixes types that do not compare
        return sorted(out, key=lambda t: tuple(map(str, t)))


def close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the results agree, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    g = canonical_rows(got_rows, list(got_cols))
    w = canonical_rows(want_rows, list(want_cols))
    for a, b in zip(g, w):
        if a != b and not close(a, b):
            return f"row {a!r} != {b!r}"
    return None


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()
