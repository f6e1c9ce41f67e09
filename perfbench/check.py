"""Output checks: canonical row sets, the DuckDB oracle, fingerprints.

Spark and DuckDB hand back the same values in different Python types
(Row vs dict structs, Decimal vs float, int vs float counts), so both
sides are first turned into one canonical form: rows keyed by sorted
column name, values as None / number / str / bytes / tuple, rows in a
total order. Two outputs match when the column names, the row count
and every value agree; floats may differ by REL_TOL relative, which
absorbs the last-ulp drift of a reordered floating-point sum and
nothing the engine could get wrong.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math

REL_TOL = 1e-9


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(_canon(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return v


def _order(v):
    """A total order over canonical values of mixed types."""
    if v is None:
        return (0,)
    if isinstance(v, (int, float)):
        return (1, v)
    if isinstance(v, str):
        return (2, v)
    if isinstance(v, bytes):
        return (3, v)
    return (4, tuple(_order(x) for x in v))


def canonical(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda r: tuple(_order(v) for v in r))
    return tuple(columns[i] for i in idx), out


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got, want) -> str | None:
    """None when two canonical outputs agree, else the first difference."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if not _same(a, b):
            return f"row {i}: {a!r} != {b!r}"
    return None


def fingerprint(out) -> str:
    return hashlib.sha256(repr(out).encode()).hexdigest()


class Reference:
    """What one workload's outputs must be: the oracle's answer for the
    first output under each key, and that first output's fingerprint
    for every later one (every iteration of a run does the same work)."""

    def __init__(self, want: dict) -> None:
        self.want = want
        self.first: dict[str, str] = {}

    def problems(self, outs: dict) -> list[str]:
        found = []
        for key, got in outs.items():
            if key not in self.want:
                found.append(f"{key}: no oracle answer")
            elif key not in self.first:
                diff = mismatch(got, self.want[key])
                if diff is not None:
                    found.append(f"{key} differs from the oracle: {diff}")
                self.first[key] = fingerprint(got)
            elif fingerprint(got) != self.first[key]:
                found.append(f"{key}: output changed between iterations")
        return found


def collect(df) -> tuple[tuple[str, ...], list[tuple]]:
    """Run a Spark DataFrame to the driver, in canonical form."""
    return canonical(df.columns, df.collect())


def duck(inp):
    """A DuckDB connection with one view per generated table, under
    the bare table names the registry's oracle SQL expects."""
    import duckdb

    con = duckdb.connect()
    for name in inp.rows:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{inp.path(name)}')"
        )
    return con


def query(con, sql: str):
    cur = con.execute(sql)
    return canonical([d[0] for d in cur.description], cur.fetchall())
