"""Isolate and time a subset of bench queries (optimization-round helper).

Usage: python tools/bench_subset.py q1 q2 ... [--reps N] [--sf DIR] [--plans DIR]

Same methodology as bench.py (warmup, noop sink, $SPARK_GRAFT_* contract);
prints per-query times for each rep plus the median, and with --plans also
writes each query's .explain("formatted") output to DIR/<name>.txt.
"""

from __future__ import annotations

import json
import os
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
    names = args
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
        ts = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_subset:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        rec = {"reps": ts, "median": sorted(ts)[len(ts) // 2]}
        results[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps({"all": results, "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
