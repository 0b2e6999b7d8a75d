"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_warehouse --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run derives its inputs from the seed
(cached under ``.perfbench/inputs``), builds one SparkSession on
``local[<usable cpus>]`` in this process, sets up the workload, measures
whole units (passes or rounds) until ``--seconds`` have passed and at least
one unit has completed, checks the results against
the DuckDB oracles, and prints one JSON object as the last line of
standard output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
uncounted and counted units and reports the per-layer metrics.  Spans go
to ``.perfbench/traces``.  Everything the run writes stays under
``.perfbench`` in the checkout, and its per-run work directory is removed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # a run that is still going after this is abandoned


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_mb(pids: list[int]) -> float:
    """Proportional set size of ``pids`` summed: pages the processes share
    (a forked Python worker and its daemon) count once in the total."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def held_mem_mb(spark) -> dict:
    """Memory the driver process tree holds for the program: the JVM's heap
    in use once full collections stop freeing anything, plus its non-heap
    in use (metaspace, code cache), plus the proportional set size of the
    Python driver and of the Python workers alive now.  Live heap, not the
    JVM's resident size: a JVM's resident size follows how far its heap has
    grown, so blocks a session keeps pinned show in the live heap and not
    reliably in RSS.  Returns the parts."""
    jvm_pid = sc_gateway_pid()
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    # drop the Python proxies of JVM objects nothing uses any more; the JVM
    # then needs a few collections to free what they held (the context
    # cleaner releases an RDD's blocks only after a collection finds the RDD
    # unreachable), so collect until three readings agree within 1 MB
    gc.collect()
    heap: list[int] = []
    while len(heap) < 3 or max(heap[-3:]) - min(heap[-3:]) >= 2**20:
        if len(heap) == 30:
            raise RuntimeError(f"JVM heap did not settle: {heap[-3:]}")
        if heap:
            time.sleep(0.5)
        mx.gc()
        heap.append(mx.getHeapMemoryUsage().getUsed())
    python = [p for p in process_tree(os.getpid()) if p != jvm_pid]
    return {
        "jvm_heap": heap[-1] / 2**20,
        "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python": pss_mb(python),
        "python_processes": len(python),
    }


def sc_gateway_pid() -> int:
    """The JVM this process launched for its SparkContext."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process this run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 20
        while any(_alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in started:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


def instrument(tracer):
    """Open spans around the .dtsx parse/bind and Pipeline.run calls the
    catalog makes; returns a function that removes the wrappers."""
    from ssis_to_dbt_spark import dtsx, pipeline

    saved = [
        (dtsx, "parse_dtsx", "dtsx.parse"),
        (dtsx, "bind_package", "dtsx.bind"),
        (pipeline.Pipeline, "run", "pipeline.run"),
    ]
    originals = []
    for owner, attr, span_name in saved:
        fn = getattr(owner, attr)
        originals.append((owner, attr, fn))

        def wrapped(*a, _fn=fn, _name=span_name, **kw):
            with tracer.span(_name):
                return _fn(*a, **kw)

        setattr(owner, attr, wrapped)

    def restore():
        for owner, attr, fn in originals:
            setattr(owner, attr, fn)

    return restore


def run(args, out) -> dict:
    sys.path[:0] = [ROOT, BENCH_DIR]
    import __spark_entry__  # the package's own fixture location

    fixture_root = os.path.dirname(__spark_entry__.SF0001)
    # generated in a child process, so that its memory and time stay out of
    # this run's figures
    g0 = time.perf_counter()
    gen = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "inputs.py"), args.workload,
         str(args.seed), fixture_root, os.path.join(STATE, "inputs")],
        stdout=subprocess.PIPE, check=True, text=True,
    )
    input_dir, input_digest = json.loads(gen.stdout)
    gen_s = time.perf_counter() - g0

    run_dir = os.path.join(
        STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "local"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    import layers
    import spans
    from workloads import WORKLOADS, disk_usage
    from ssis_to_dbt_spark.session import build_session
    from ssis_to_dbt_spark.sources.readers import testdata

    spark = None
    try:
        tracer = spans.Tracer()
        setup_spans = {}
        with tracer.span("session.start") as s:
            spark = build_session(extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            })
            spark.sparkContext.setLogLevel("ERROR")
        setup_spans["session.start_s"] = s.duration
        if args.trace:
            sc = spark.sparkContext
            tracer.py4j = spans.Py4jCounter(sc._gateway._gateway_client)
            tracer.py4j.install()
            tracer.jobs = spans.SparkJobs(sc)
            restore = instrument(tracer)
        with tracer.span("readers.testdata") as s:
            tables = testdata(spark, input_dir)
        setup_spans["readers.testdata_s"] = s.duration
        setup_spans["readers.scan_s"] = 0.0
        if args.trace:  # a cold scan of the inputs, for the layer metric only
            with tracer.span("readers.scan") as s:
                for name in WORKLOADS[args.workload].scan_tables:
                    tables[name].write.format("noop").mode("overwrite").save()
            setup_spans["readers.scan_s"] = s.duration

        wl = WORKLOADS[args.workload](spark, input_dir, run_dir, tracer)
        wl.setup()
        setup_s = time.perf_counter() - T_START - gen_s

        wl.in_window = True
        w0, n = time.perf_counter(), 0
        min_units = 2 if args.trace else 1
        while n < min_units or time.perf_counter() - w0 < args.seconds:
            tracer.counting = bool(args.trace) and n % 2 == 1
            wl.unit()
            n += 1
        tracer.counting = False
        wl.in_window = False
        mem = held_mem_mb(spark)
        mem_mb = mem["jvm_heap"] + mem["jvm_non_heap"] + mem["python"]
        tmp_bytes = disk_usage(tmp)[0]

        c0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - c0
        if args.trace:
            restore()
            tracer.py4j.uninstall()
    finally:
        s0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        stop_s = time.perf_counter() - s0

    units = [s for s in tracer.find(wl.unit_name) if s.attrs.get("window")]
    plain = [s.duration for s in units if not s.attrs.get("counted")]
    report = {
        "workload": args.workload, "seed": args.seed,
        "input_digest": input_digest, "generate_s": gen_s,
        "units": wl.unit_name, "unit_s": plain,
        "fail_ratio": wl.failed / max(wl.attempted, 1),
        "check_s": check_s, "stop_s": stop_s,
        "pinned_rdds": wl.pinned_rdds, "held_mem_mb": mem, **wl.report(),
    }
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    span_file = os.path.join(
        STATE, "traces", f"{args.workload}-{args.seed}-trace{args.trace}.json"
    )
    tracer.write(span_file)
    report["span_file"] = os.path.relpath(span_file, ROOT)
    if args.trace:
        values = layers.compute(wl, tracer, setup_spans, tmp_bytes)
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, unit in layers.names_and_units()
        }
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(plain), "unit": "s"},
            "held_mem_mb": {"value": mem_mb, "unit": "MB"},
        }
    print(json.dumps({"report": report}), file=out)
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # Spark, the JVM and the Python workers inherit file descriptor 1:
    # point it at stderr so only the result reaches standard output
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    result = run(args, out)
    signal.alarm(0)
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
