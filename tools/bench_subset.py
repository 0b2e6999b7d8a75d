"""Isolate and time a subset of bench queries (optimization-round helper).

Usage: python tools/bench_subset.py [q1 q2 ...] [--reps N] [--sf DIR] [--plans DIR]

Same methodology as bench.py (warmup, noop sink, $SPARK_GRAFT_* contract);
defaults to every bench HEADLINE entry.  Each rep is split into build
seconds (building the DataFrame: py4j plan construction plus any bounded
collects the builder runs) and action seconds (the noop write).  Prints
every rep plus the median total; with ``--reps N > 1`` the median is over
the warm reps only, because the first rep of a query runs cold (2-3x
slower).  With --plans also writes each query's .explain("formatted")
output to DIR/<name>.txt.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssis_to_dbt_spark import catalog  # noqa: E402
from ssis_to_dbt_spark.session import build_session  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 1
    plans_dir = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    if args:
        names = args
    else:
        import bench

        names = list(bench.HEADLINE)
    unknown = [n for n in names if n not in catalog.ALL_QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    spark = build_session(
        app_name="bench_subset",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # identical warmup to bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from ssis_to_dbt_spark.sources.readers import testdata

    for df in testdata(spark, sf_dir).values():
        df.write.format("noop").mode("overwrite").save()
    spark.range(256, numPartitions=64).mapInArrow(
        lambda it: it, "id long"
    ).collect()
    spark.range(256, numPartitions=64).groupBy("id").applyInPandas(
        lambda pdf: pdf, "id long"
    ).collect()

    results: dict[str, dict] = {}
    for name in names:
        fn = catalog.ALL_QUERIES[name]
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            mode = (
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            plan = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        build, action = [], []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_subset:{name}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            spark.sparkContext.setJobDescription(None)
            build.append(round(t1 - t0, 3))
            action.append(round(t2 - t1, 3))
        totals = [round(b + a, 3) for b, a in zip(build, action)]
        warm = totals[1:] or totals
        rec = {
            "build": build,
            "action": action,
            "reps": totals,
            "median": round(statistics.median(warm), 3),
        }
        results[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps({"all": results, "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
