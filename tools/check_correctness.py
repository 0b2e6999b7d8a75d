"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__.py`` on a scale-factor
dir and compares against the DuckDB ``oracle_sql()`` on the same parquet:
row count, column-name set, and exact order-insensitive value comparison
(stricter than any value hash — if this passes, the driver's hash passes).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if v is None:
        return ("null",)
    return ("s", str(v))


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize(r[i]) for i in order) for r in rows)


def connect(sf_dir):
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(srows, scols, orows, ocols):
    """What differs between Spark rows and oracle rows: row count, the
    column-name set, then the order-insensitive canonical values (the
    first differing sorted row).  An empty list means they are equal."""
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount {len(srows)} vs {len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
    if not problems:
        for i, (a, b) in enumerate(zip(canon(srows, scols),
                                       canon(orows, ocols))):
            if a != b:
                problems.append(
                    f"first diff at sorted row {i}:\n  spark  {a}\n  oracle {b}"
                )
                break
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as mod
    from ssis_to_dbt_spark.session import build_session

    import os

    spark = build_session(
        shuffle_partitions=int(os.environ.get("CHECK_SHUFFLE", "16")),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = connect(sf_dir)

    qs, oracles = mod.queries(), mod.oracle_sql()
    if only:
        # names outside the driver window fall back to the full individual
        # registry (ALL_QUERIES) instead of being silently skipped
        from ssis_to_dbt_spark import catalog

        unknown = only - set(qs) - set(catalog.ALL_QUERIES)
        if unknown:
            print(f"ERROR unknown query names: {sorted(unknown)}")
            sys.exit(2)
        for name in only - set(qs):
            qs[name] = catalog.ALL_QUERIES[name]
            if name in catalog.ALL_ORACLES:
                oracles[name] = catalog.ALL_ORACLES[name]
    passed = failed = rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failed += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            rows_only += 1
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: oracle error: {exc}")
            failed += 1
            continue
        problems = compare(srows, scols, orows, ocols)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            passed += 1
    print(f"\n{passed} passed, {failed} failed, {rows_only} rows-only")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
