"""DuckDB twins of the declared queries, compared cell for cell.

The normalisation is the engine's own oracle rule (tools/oracle_check.py):
columns compared as a set, rows as an unordered multiset, floats bit for
bit, timestamps as ISO text to the microsecond.
"""

from __future__ import annotations

import math
import os

import duckdb


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


class Twins:
    """DuckDB views over the parquet tables of one data directory."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, f)}'"
                )

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return normalize([d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()


def mismatch(expected: tuple[list[str], list[tuple]],
             got: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line reason."""
    (ec, er), (gc, gr) = expected, got
    if ec != gc:
        return f"schema {gc} != {ec}"
    if len(er) != len(gr):
        return f"rows {len(gr)} != {len(er)}"
    for a, b in zip(gr, er):
        if a != b:
            return f"first differing row {a!r} != {b!r}"
    return None
