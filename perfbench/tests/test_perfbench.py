"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import inputs  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


@pytest.fixture(scope="module")
def fixture_root():
    import __spark_entry__

    root = os.path.dirname(__spark_entry__.SF0001)
    if not os.path.isdir(root):
        pytest.skip("fixture tables not present")
    return root


@pytest.mark.parametrize("workload", sorted(inputs.SOURCES))
def test_generator_digest_depends_only_on_seed(workload, fixture_root, tmp_path):
    a1, d1 = inputs.generate(workload, 7, fixture_root, str(tmp_path / "a"))
    a2, d2 = inputs.generate(workload, 7, fixture_root, str(tmp_path / "b"))
    _, d3 = inputs.generate(workload, 8, fixture_root, str(tmp_path / "a"))
    assert d1 == d2 == inputs.digest(a1) == inputs.digest(a2)
    assert d3 != d1
    # a second call is served from the per-seed cache
    assert inputs.generate(workload, 7, fixture_root, str(tmp_path / "a")) == (a1, d1)


def test_etl_replicas_keep_keys_unique_and_joinable(fixture_root, tmp_path):
    import pyarrow.parquet as pq

    d, _ = inputs.generate("etl_warehouse", 3, fixture_root, str(tmp_path))
    src = os.path.join(fixture_root, inputs.SOURCES["etl_warehouse"]["default"])
    orders = pq.read_table(os.path.join(d, "orders.parquet"))
    lineitem = pq.read_table(os.path.join(d, "lineitem.parquet"))
    base = pq.read_table(os.path.join(src, "orders.parquet"))
    keys = orders.column("o_orderkey").to_pylist()
    assert len(keys) == len(set(keys)) == inputs.ETL_REPLICAS * base.num_rows
    assert set(lineitem.column("l_orderkey").to_pylist()) <= set(keys)
    assert orders.schema.equals(base.schema, check_metadata=False)


def test_serving_requests_are_complete(fixture_root, tmp_path):
    import json

    d, _ = inputs.generate("index_serving", 3, fixture_root, str(tmp_path))
    with open(os.path.join(d, "requests.json")) as f:
        reqs = json.load(f)
    assert len(reqs["ivf"]) == len(reqs["bm25"]) == inputs.N_REQUESTS
    ids = [q for req in reqs["ivf"] for q, _ in req]
    assert len(ids) == len(set(ids))
    assert all(len(r) == inputs.IVF_QUERIES_PER_REQUEST for r in reqs["ivf"])
    for bags in reqs["bm25"]:
        assert len(bags) == inputs.BM25_BAGS_PER_REQUEST
        assert all(2 <= len(terms) <= 4 for terms in bags.values())


@pytest.mark.parametrize(
    "n, p, beyond",
    [(100, 90, 10), (99, 90, 9), (1000, 90, 100), (1, 90, 0)],
)
def test_samples_beyond(n, p, beyond):
    assert stats.samples_beyond(n, p) == beyond


@pytest.mark.parametrize("n, has_p90", [(100, True), (99, False), (1000, True)])
def test_p90_needs_ten_samples_beyond(n, has_p90):
    values = [float(i) for i in range(n)]
    p90 = stats.tail_percentile(values)
    assert (p90 is not None) == has_p90
    if has_p90:
        assert sum(v > p90 for v in values) >= stats.MIN_TAIL_SAMPLES
    assert ("p90" in stats.summary(values)) == has_p90


def test_percentile_is_nearest_rank():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([float(i) for i in range(1, 101)], 90) == 90.0


def _span(i, parent, start, end):
    return spans.Span(id=i, parent=parent, name=str(i), start=start, end=end)


def test_self_time_subtracts_union_of_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps 1: [1, 6] counted once
        _span(3, 0, 8.0, 12.0),  # clipped to the parent's end
        _span(4, 1, 1.5, 2.0),
    ]
    self_s = spans.self_times(tree)
    assert self_s[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_s[1] == pytest.approx(3.0 - 0.5)
    assert self_s[2] == pytest.approx(3.0)
    assert self_s[4] == pytest.approx(0.5)
    assert sum(self_s[i] for i in (0, 1, 2, 4)) <= 10.0


class FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, cmd):
        self.sent.append(cmd)
        return "ok"


class FakeJobs:
    """Job groups as a local property; jobs run under the current group."""

    def __init__(self):
        self.group = None
        self.jobs: dict[str, list[dict]] = {}
        self.totals_read = []

    def set_group(self, group):
        self.group = group

    def current_group(self):
        return self.group

    def run_job(self, tasks, rows):
        self.jobs.setdefault(self.group, []).append({"tasks": tasks, "rows": rows})

    def totals(self, group):
        self.totals_read.append(group)
        out = dict.fromkeys(spans.JOB_FIELDS, 0)
        for j in self.jobs.get(group, []):
            out["jobs"] += 1
            out["tasks"] += j["tasks"]
            out["input_rows"] += j["rows"]
        return out


def test_counters_attribute_work_to_the_open_span():
    client, jobs = FakeClient(), FakeJobs()
    counter = spans.Py4jCounter(client)
    counter.install()
    tracer = spans.Tracer(py4j=counter, jobs=jobs)
    tracer.counting = True
    jobs.set_group("outer-app-group")
    with tracer.span("op") as op:
        client.send_command("a")
        with tracer.span("build", jobs=True) as build:
            client.send_command("b")
            client.send_command("c")
            jobs.run_job(tasks=4, rows=100)
        with tracer.span("action", jobs=True) as action:
            client.send_command("d")
            jobs.run_job(tasks=2, rows=10)
            jobs.run_job(tasks=1, rows=5)
            with counter.paused():
                client.send_command("benchmark's own call")
    assert build.counters["py4j_calls"] == 2
    assert action.counters["py4j_calls"] == 1
    assert op.counters["py4j_calls"] == 4
    assert (build.counters["jobs"], build.counters["tasks"]) == (1, 4)
    assert (action.counters["jobs"], action.counters["input_rows"]) == (2, 15)
    assert "jobs" not in op.counters  # only spans opened with jobs=True
    assert jobs.group == "outer-app-group"  # restored after each span
    assert "outer-app-group" not in jobs.jobs  # no job escaped its span
    assert len(set(jobs.totals_read)) == 2  # one group per span
    counter.uninstall()
    client.send_command("after")
    assert counter.count == 4 and len(client.sent) == 6


def test_uncounted_spans_take_no_counters():
    client, jobs = FakeClient(), FakeJobs()
    counter = spans.Py4jCounter(client)
    counter.install()
    tracer = spans.Tracer(py4j=counter, jobs=jobs)
    with tracer.span("pass") as s:
        with tracer.span("build", jobs=True) as b:
            client.send_command("x")
            jobs.run_job(tasks=1, rows=1)
    assert s.counters == {} and b.counters == {}
    assert jobs.totals_read == [] and jobs.jobs == {None: [{"tasks": 1, "rows": 1}]}
    assert [c.name for c in tracer.find("build", parent=s)] == ["build"]


def test_output_check_matches_the_python_rules(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from decimal import Decimal

    import oracle

    out = tmp_path / "out"
    out.mkdir()
    pq.write_table(
        pa.table({
            "k": pa.array([2, 1, 1], pa.int32()),
            "amt": pa.array([Decimal("1.50"), Decimal("2.00"), None],
                            pa.decimal128(18, 2)),
            "x": [0.5, float("nan"), 3.0],
        }),
        out / "part-0.parquet",
    )
    con = duckdb.connect()
    rows = ("(1::BIGINT, 2.0::DECIMAL(10,1), 'nan'::DOUBLE), "
            "(1, NULL, 3.0), (2, 1.5, 0.5)")
    want = f"SELECT * FROM (VALUES {rows}) t(k, amt, x)"
    assert oracle.output_problems(con, str(out), want) == []
    assert oracle.output_problems(con, str(out), want.replace("0.5)", "0.25)"))
    # a double where the engine wrote a decimal fails like canon() says
    as_double = want.replace("2.0::DECIMAL(10,1)", "2.0::DOUBLE")
    assert oracle.output_problems(con, str(out), as_double)
    missing = f"SELECT x, amt FROM ({want})"
    assert "cols" in oracle.output_problems(con, str(out), missing)[0]
