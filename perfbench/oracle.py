"""DuckDB oracle comparison on the generated inputs.

A result matches its ``catalog.ALL_ORACLES`` SQL under the rules of
``tools/check_correctness.py``: same row count, same column-name set, and
equal values after order-insensitive canonicalisation.  For outputs the
engine wrote to parquet, DuckDB first compares the two multisets directly
(column by column, after checking each pair of columns holds the same kind
of value); only when it cannot confirm a match are both sides fetched and
canonicalised in Python, which is slow on 10^5 rows but gives the verdict
and the first differing row.  The one case the fast path accepts and the
Python rules would not is -0.0 against 0.0.
"""

from __future__ import annotations

import duckdb

from inputs import TABLES
from tools.check_correctness import canon


def connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{input_dir}/{t}.parquet')"
        )
    return con


def fetch(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list, list[str]]:
    res = con.sql(sql)
    return res.fetchall(), [d[0] for d in res.description]


_INTS = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}


def _kind(duck_type) -> str:
    """The Python value class DuckDB hands back for a column type."""
    t = str(duck_type)
    for prefix, kind in (("DECIMAL", "dec"), ("DOUBLE", "f"), ("FLOAT", "f"),
                         ("TIMESTAMP", "ts"), ("DATE", "d"),
                         ("BOOLEAN", "b"), ("VARCHAR", "s")):
        if t.startswith(prefix):
            return kind
    return "i" if t in _INTS else t


def output_problems(con: duckdb.DuckDBPyConnection, path: str, sql: str) -> list[str]:
    """Differences between a parquet directory the engine wrote and the
    oracle ``sql``; [] on a match."""
    con.sql("CREATE OR REPLACE TEMP TABLE _out AS "
            f"SELECT * FROM read_parquet('{path}/*.parquet')")
    con.sql(f"CREATE OR REPLACE TEMP TABLE _want AS {sql}")
    out, want = con.table("_out"), con.table("_want")
    kinds = dict(zip(out.columns, map(_kind, out.types)))
    if kinds == dict(zip(want.columns, map(_kind, want.types))):
        cols = ", ".join(f'"{c}"' for c in sorted(kinds))
        n_out, n_want, extra = con.sql(
            "SELECT (SELECT count(*) FROM _out), (SELECT count(*) FROM _want),"
            f" (SELECT count(*) FROM (SELECT {cols} FROM _out"
            f" EXCEPT ALL SELECT {cols} FROM _want))"
        ).fetchone()
        if n_out == n_want and extra == 0:
            return []
    return problems(*fetch(con, "SELECT * FROM _out"),
                    *fetch(con, "SELECT * FROM _want"))


def problems(rows, cols, orows, ocols) -> list[str]:
    """Differences between an engine result and its oracle; [] on a match."""
    out = []
    if len(rows) != len(orows):
        out.append(f"rowcount {len(rows)} vs oracle {len(orows)}")
    if sorted(cols) != sorted(ocols):
        out.append(f"cols {sorted(cols)} vs oracle {sorted(ocols)}")
    if not out:
        mine, theirs = canon(rows, cols), canon(orows, ocols)
        for i, (a, b) in enumerate(zip(mine, theirs)):
            if a != b:
                out.append(f"first diff at sorted row {i}: {a} vs oracle {b}")
                break
    return out
