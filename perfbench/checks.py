"""Result comparison against DuckDB, the benchmark's independent oracle."""

from __future__ import annotations

import math
import os

REL_TOL = 1e-9  # float sums and averages: summation order differs by engine
APPROX_REL_TOL = 0.05  # approx_distinct(x, 0.01) against an exact count


def duck_connect(tables: dict[str, str]):
    """An in-memory DuckDB with one view per parquet file."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _key(row) -> tuple:
    return tuple(
        (1, round(v, 3)) if isinstance(v, float) else (0, "" if v is None else str(v))
        for v in row
    )


def _same(a, b, rel: float) -> bool:
    if isinstance(a, float) or isinstance(b, float) or rel > REL_TOL:
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    return a == b


def compare(got, want, ordered: bool = False, approx_cols: tuple[int, ...] = ()) -> str | None:
    """None when ``got`` (Spark rows) equals ``want`` (DuckDB tuples) as a
    multiset, or as a list when ``ordered``; else what differs."""
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: {len(g)} columns, expected {len(w)}"
        for j, (a, b) in enumerate(zip(g, w)):
            rel = APPROX_REL_TOL if j in approx_cols else REL_TOL
            if not _same(a, b, rel):
                return f"row {i} column {j}: {a!r}, expected {b!r}"
    return None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
