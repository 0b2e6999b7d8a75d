"""Sweep EVERY registered standalone query (catalog.ALL_QUERIES, not just
the 50-entry driver window) against its DuckDB oracle — backs the README
claim that all registered queries pass.

Usage: python tools/check_all.py [sf_dir] [--json OUT] [--only n1,n2,...]
(default sf0.001; --only restricts the sweep to the named queries — the
optimization-round inner loop for re-oracling just the touched entries)

With --json OUT, also writes a machine-readable per-query record (the
round artifact REGISTRY_r{N}.json: status/rows/secs per query, plus the
shuffle-partition count and sf_dir the sweep ran at).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_correctness import compare, connect  # noqa: E402


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print(
                "usage: check_all.py [sf_dir] [--json OUT] [--only n1,n2,...]",
                file=sys.stderr,
            )
            sys.exit(2)
        json_out = args[i + 1]
        del args[i : i + 2]
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    from ssis_to_dbt_spark import catalog
    from ssis_to_dbt_spark.session import build_session

    unknown = sorted((only or set()) - set(catalog.ALL_QUERIES))
    if unknown:
        print(f"ERROR unknown query names: {unknown}")
        sys.exit(2)

    spark = build_session(
        shuffle_partitions=int(os.environ.get("CHECK_SHUFFLE", "16")),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = connect(sf_dir)

    passed = failed = rows_only = 0
    records = {}
    for name, fn in catalog.ALL_QUERIES.items():
        if only is not None and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            records[name] = {"status": "fail", "err": f"spark: {exc}"}
            failed += 1
            continue
        if name not in catalog.ALL_ORACLES:
            print(f"ROWS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            records[name] = {"status": "rows_only", "rows": len(srows),
                             "secs": round(time.time() - t0, 1)}
            rows_only += 1
            continue
        try:
            res = con.sql(catalog.ALL_ORACLES[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: oracle error: {exc}")
            records[name] = {"status": "fail", "err": f"oracle: {exc}"}
            failed += 1
            continue
        problems = compare(srows, scols, orows, ocols)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            records[name] = {"status": "fail", "err": "; ".join(problems)}
            failed += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            records[name] = {"status": "pass", "rows": len(srows),
                             "secs": round(time.time() - t0, 1)}
            passed += 1
    print(f"\n{passed} passed, {failed} failed, {rows_only} rows-only "
          f"of {len(catalog.ALL_QUERIES)}")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "shuffle_partitions": int(
                        os.environ.get("CHECK_SHUFFLE", "16")
                    ),
                    "total": len(catalog.ALL_QUERIES),
                    "passed": passed,
                    "failed": failed,
                    "rows_only": rows_only,
                    "queries": records,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_out}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    main()
