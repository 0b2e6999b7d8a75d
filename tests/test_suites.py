"""Driver-window suites generated from ``catalog._SUITES``: the tag, widening
and clash rules on synthetic arms, converted suites against their generated
DuckDB oracles, and ``tools/check_all.py --only`` name validation."""

import os
import subprocess
import sys

import duckdb
import pytest
from test_text import jobs_started

from ssis_to_dbt_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check_correctness import compare, connect  # noqa: E402

SF = "/root/testdata/sf0.001"


class TestSuiteRules:
    def test_widening_tags_and_clashes_start_no_job(self, spark):
        def values(row, cols):
            # an inline table: a one-arm suite over it collects without a job
            return spark.sql(f"SELECT * FROM VALUES {row} AS t({cols})")

        narrow = values("(1, 'x')", "n, s")
        own = values("(CAST(2 AS BIGINT), 'c')", "n, component")

        def build():
            wide = catalog._suite_frame("syn", [("a", narrow), ("p_", own)])
            tagged = catalog._suite_frame("syn", [("p_", own)]).collect()
            with pytest.raises(TypeError) as err:
                catalog._suite_frame("syn", [
                    ("a", values("('1')", "v")), ("b", values("(1.0D)", "v")),
                ])
            return wide.schema, tagged, str(err.value)

        (schema, tagged, err), jobs = jobs_started(spark, build)
        assert jobs == 0
        assert schema["n"].dataType.simpleString() == "bigint"
        assert schema.names == ["component", "n", "s"]
        assert [(r.component, r.n) for r in tagged] == [("p_c", 2)]
        assert "suite syn" in err and "'v'" in err
        assert "'a'" in err and "'b'" in err

        rel = duckdb.sql(catalog._suite_sql([
            ("a", "SELECT CAST(1 AS INTEGER) AS n, 'x' AS s"),
            ("p_", "SELECT CAST(2 AS BIGINT) AS n, 'c' AS component"),
        ]))
        types = dict(zip(rel.columns, (str(t) for t in rel.types)))
        assert types["n"] == "BIGINT"
        assert sorted(rel.fetchall()) == [("a", 1, "x"), ("p_c", 2, None)]


class TestConvertedSuitesMatchOracles:
    @pytest.mark.parametrize(
        "name", ["cdc_orders", "pivot_median_orders", "events_totals_suite"]
    )
    def test_suite_equals_generated_oracle(self, spark, name):
        df = catalog.ALL_QUERIES[name](spark, SF)
        scols, srows = df.columns, df.collect()
        con = connect(SF)
        res = con.sql(catalog.ALL_ORACLES[name])
        ocols = [d[0] for d in res.description]
        assert compare(srows, scols, res.fetchall(), ocols) == []


def test_check_all_rejects_unknown_names_before_spark():
    """A typo in ``--only`` must not check nothing and exit 0; with no Java
    to start, any Spark start would fail with a different exit code."""
    r = subprocess.run(
        [sys.executable, "tools/check_all.py", SF, "--only",
         "cdc_orders,no_such_entry"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
        env={**os.environ, "JAVA_HOME": "/nonexistent"},
    )
    assert r.returncode == 2, r.stdout + r.stderr
    assert "no_such_entry" in r.stdout
    assert "cdc_orders" not in r.stdout
