"""The benchmark's workloads, driven through the public package.

Each workload has a set-up (untimed work a user pays once per session), a
repeated unit (an ETL pass or a serving round) and a correctness check
against the DuckDB oracles.  Every call into the engine runs inside a span,
so a traced run attributes time, py4j calls and Spark jobs to the layer
that was called.  An operation that raises, returns the wrong number of
rows or mismatches its oracle counts as failed; the run carries on.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle
from stats import summary
from ssis_to_dbt_spark import catalog
from ssis_to_dbt_spark.sources import writers
from ssis_to_dbt_spark.sources.readers import testdata
from ssis_to_dbt_spark.text.retrieval import (
    append_bm25_index,
    bm25_index_probe,
    write_bm25_index,
)
from ssis_to_dbt_spark.text.similarity import (
    append_ivf_index,
    ivf_probe_batch,
    write_ivf_index,
)

ETL_ENTRIES = [
    "stg_sales_transactions",
    "fct_sales_star",
    "agg_daily_sales",
    "dim_customer_scd2",
    "incremental_merge_orders",
    "merge_upsert_customers",
    "cdc_apply_orders",
    "dtsx_order_routing",
    "window_customer_orders",
    "streaming_roundtrip",
]

IVF_K, IVF_NPROBE, IVF_CELLS = 5, 2, 8
BM25_TOP = 10
IVF_APPEND_ROWS, BM25_APPEND_ROWS = 4, 8
# One serving round: four probes of each index per append to it (80% reads),
# the appends interleaved with the probes.  Serving traffic is read-mostly
# (YCSB's read-mostly mix, Cooper et al. SoCC 2010, is 95:5); 4:1 is the
# most read-heavy mix whose round fits a run, and with it probes take about
# four fifths of a round (measured shares in README.md).
PROBES_PER_APPEND = 4
_PROBES = ["ivf_probe", "bm25_probe"] * (PROBES_PER_APPEND // 2)
ROUND = _PROBES + ["ivf_append"] + _PROBES + ["bm25_append"]
ORACLE_ENTRIES = ("ivf_index_probe", "bm25_index_probe")


def disk_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return total, files


class Workload:
    name = ""
    unit_name = ""
    scan_tables: tuple[str, ...] = ()  # inputs read once during set-up

    def __init__(self, spark, input_dir: str, run_dir: str, tracer):
        self.spark = spark
        self.input_dir = input_dir
        self.run_dir = run_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.pinned_rdds: list[int] = []
        self.in_window = False  # set while the timed window runs

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"FAIL {self.name} {what}: {detail}", file=sys.stderr)

    def guarded(self, what: str, fn) -> None:
        """Run one operation, counting it and any exception it raises."""
        self.attempted += 1
        try:
            fn()
        except Exception:
            self.fail(what, traceback.format_exc())

    def report(self) -> dict:
        """Workload-specific figures for the report line."""
        return {}

    def after_unit(self) -> None:
        with self.tracer.quiet():
            jsc = self.spark.sparkContext._jsc
            self.pinned_rdds.append(jsc.getPersistentRDDs().size())


class EtlWarehouse(Workload):
    """The reference's own DAG: staging, star join, daily aggregate, SCD2,
    incremental merge, upsert, CDC apply, a .dtsx package run, a window
    model and a streaming round trip, each written to parquet with
    ``sources.writers.overwrite``."""

    name = "etl_warehouse"
    unit_name = "pass"
    # one warm-up pass takes the cold cost (a session's first pass ran
    # ~1.6x its third); the timed second pass still ran ~1.1x the third,
    # but another warm-up pass would add ~13 s to every run
    warmup_units = 1
    scan_tables = (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events",
    )

    def __init__(self, *a):
        super().__init__(*a)
        self.out = os.path.join(self.run_dir, "out")

    def setup(self) -> None:
        with self.tracer.span("warmup"):
            for _ in range(self.warmup_units):
                self.unit()

    def unit(self) -> None:
        t = self.tracer
        with t.span("pass", window=self.in_window, counted=t.counting):
            for name in ETL_ENTRIES:
                with t.span(name, kind="op"):
                    self.guarded(name, lambda name=name: self._entry(name))
        self.after_unit()

    def _entry(self, name: str) -> None:
        t = self.tracer
        with t.span("build", jobs=True):
            df = catalog.ALL_QUERIES[name](self.spark, self.input_dir)
        with t.span("action", jobs=True) as s:
            path = os.path.join(self.out, name)
            writers.overwrite(df, path)
        if t.counting:
            s.counters["bytes_written"], s.counters["files_written"] = disk_usage(path)

    def check(self) -> None:
        con = oracle.connect(self.input_dir)
        for name in ETL_ENTRIES:
            def one(name=name):
                diffs = oracle.output_problems(
                    con, os.path.join(self.out, name), catalog.ALL_ORACLES[name]
                )
                if diffs:
                    raise AssertionError("; ".join(diffs))
            self.guarded(f"oracle {name}", one)
        con.close()



class IndexServing(Workload):
    """One closed-loop client against persisted IVF and BM25 indexes:
    seeded probes alternate between the two, and seeded slices of the
    held-back documents and vectors are appended at a fixed ratio."""

    name = "index_serving"
    unit_name = "round"
    scan_tables = ("documents", "embeddings")

    def __init__(self, *a):
        super().__init__(*a)
        with open(os.path.join(self.input_dir, "requests.json")) as f:
            reqs = json.load(f)
        self.ivf_reqs, self.bm25_reqs = reqs["ivf"], reqs["bm25"]
        # held-back rows (id % 7 == 0), in the generated (seeded) order
        emb = pq.read_table(
            os.path.join(self.input_dir, "embeddings.parquet"),
            columns=["vec_id", "embedding"],
        ).to_pylist()
        docs = pq.read_table(
            os.path.join(self.input_dir, "documents.parquet"),
            columns=["doc_id", "text"],
        ).to_pylist()
        self.emb_delta = [
            (r["vec_id"], r["embedding"]) for r in emb if r["vec_id"] % 7 == 0
        ]
        self.doc_delta = [
            (r["doc_id"], r["text"]) for r in docs if r["doc_id"] % 7 == 0
        ]
        self.next = dict.fromkeys(
            ["ivf_probe", "bm25_probe", "ivf_append", "bm25_append"], 0
        )
        self.ivf_path = os.path.join(self.run_dir, "ivf")
        self.bm25_prefix = "perfbench_bm25"
        self.latency: dict[str, list[float]] = {k: [] for k in self.next}
        self.entry_rows: dict[str, tuple[list, list[str]]] = {}

    def setup(self) -> None:
        """Index builds, then warm-up: the catalog's own index entries
        (write, append and probe, cold; their results are oracle-checked
        after the timed window) and one request of each kind in a round
        (a session's first BM25 append ran about 1.5x a later one)."""
        t = self.tracer
        tables = testdata(self.spark, self.input_dir)
        docs, emb = tables["documents"], tables["embeddings"]
        with t.span("index_build"):
            with t.span("ivf_build", jobs=True):
                self.ivf = write_ivf_index(
                    emb.filter(F.col("vec_id") % 7 != 0), self.ivf_path,
                    n_cells=IVF_CELLS,
                )
            with t.span("bm25_build", jobs=True):
                self.bm25 = write_bm25_index(
                    docs.filter(F.col("doc_id") % 7 != 0), self.bm25_prefix,
                    os.path.join(self.run_dir, "bm25", "t"),
                )
        with t.span("warmup"):
            for name in ORACLE_ENTRIES:
                def run(name=name):
                    df = catalog.ALL_QUERIES[name](self.spark, self.input_dir)
                    self.entry_rows[name] = (df.collect(), df.columns)
                with t.span(name, kind="op"):
                    self.guarded(name, run)
            for kind in dict.fromkeys(ROUND):
                with t.span(kind, kind="op"):
                    self.guarded(kind, getattr(self, "_" + kind))

    def unit(self) -> None:
        t = self.tracer
        with t.span("round", window=self.in_window, counted=t.counting):
            for kind in ROUND:
                with t.span(kind, kind="op") as s:
                    self.guarded(kind, getattr(self, "_" + kind))
                if self.in_window:
                    self.latency[kind].append(s.duration)
        self.after_unit()

    def _take(self, kind: str) -> int:
        i = self.next[kind]
        self.next[kind] = i + 1
        return i

    def _ivf_probe(self) -> None:
        t = self.tracer
        req = self.ivf_reqs[self._take("ivf_probe") % len(self.ivf_reqs)]
        with t.span("build", jobs=True):
            q = self.spark.createDataFrame(
                [tuple(r) for r in req], "query_id long, embedding array<float>"
            )
            res = ivf_probe_batch(self.ivf, q, k=IVF_K, nprobe=IVF_NPROBE)
        with t.span("action", jobs=True) as s:
            rows = res.collect()
        s.attrs["rows"] = len(rows)
        if len(rows) != len(req) * IVF_K:
            raise AssertionError(f"{len(rows)} rows, want {len(req) * IVF_K}")

    def _bm25_probe(self) -> None:
        t = self.tracer
        bags = self.bm25_reqs[self._take("bm25_probe") % len(self.bm25_reqs)]
        with t.span("build", jobs=True):
            res = bm25_index_probe(self.bm25, bags, top_k=BM25_TOP)
        with t.span("action", jobs=True) as s:
            rows = res.collect()
        s.attrs["rows"] = len(rows)
        if len(rows) != len(bags) * BM25_TOP:
            raise AssertionError(f"{len(rows)} rows, want {len(bags) * BM25_TOP}")

    def _slice(self, kind: str, pool: list, size: int) -> list:
        i = self._take(kind)
        rows = pool[i * size:(i + 1) * size]
        if len(rows) < size:
            raise RuntimeError(f"{kind}: held-back rows exhausted at slice {i}")
        return rows

    def _ivf_append(self) -> None:
        rows = self._slice("ivf_append", self.emb_delta, IVF_APPEND_ROWS)
        with self.tracer.span("append", jobs=True):
            df = self.spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"
            )
            self.ivf = append_ivf_index(
                self.spark, self.ivf_path, df, index=self.ivf
            )

    def _bm25_append(self) -> None:
        rows = self._slice("bm25_append", self.doc_delta, BM25_APPEND_ROWS)
        with self.tracer.span("append", jobs=True):
            df = self.spark.createDataFrame(rows, "doc_id long, text string")
            self.bm25 = append_bm25_index(self.spark, self.bm25_prefix, df)

    def check(self) -> None:
        con = oracle.connect(self.input_dir)
        for name, (rows, cols) in self.entry_rows.items():
            def one(name=name, rows=rows, cols=cols):
                want = oracle.fetch(con, catalog.ALL_ORACLES[name])
                diffs = oracle.problems(rows, cols, *want)
                if diffs:
                    raise AssertionError("; ".join(diffs))
            self.guarded(f"oracle {name}", one)
        con.close()

    def report(self) -> dict:
        """Per-request latency in ms, by request kind, plus build time."""
        out = {
            kind: {k: (v * 1000 if k != "n" else v)
                   for k, v in summary(vals).items()}
            for kind, vals in self.latency.items()
        }
        builds = self.tracer.find("ivf_build") + self.tracer.find("bm25_build")
        out["index_build_s"] = sum(s.duration for s in builds)
        return out


WORKLOADS = {w.name: w for w in (EtlWarehouse, IndexServing)}
