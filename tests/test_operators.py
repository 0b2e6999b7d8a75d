"""Operator tests: lookup policies, splits, set ops, SCD2, incremental,
quality tolerances, update_flag durability."""

import os

import pytest
from pyspark.sql import functions as F

from ssis_to_dbt_spark.operators import (
    LookupNoMatch,
    conditional_split,
    conditional_split_tagged,
    duplicate_keys,
    fk_violations,
    incremental_merge,
    lookup,
    max_watermark,
    merge_upsert,
    row_count_compare,
    scd2_rebuild,
    top_k_latest,
    union_all,
    watermark_filter,
)
from ssis_to_dbt_spark.operators.quality import preflight_guard
from ssis_to_dbt_spark.sources.writers import update_flag


@pytest.fixture()
def fact(spark):
    return spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")


class TestLookup:
    def test_ignore_null_extends(self, spark, fact):
        dim = spark.createDataFrame([(1, "x")], "k int, attr string")
        out = lookup(fact, dim, ["k"], {"attr": "attr"}, no_match=LookupNoMatch.IGNORE)
        rows = {r["k"]: r["attr"] for r in out.collect()}
        assert rows == {1: "x", 2: None, 3: None}

    def test_fail_raises_on_unmatched(self, spark, fact):
        dim = spark.createDataFrame([(1, "x")], "k int, attr string")
        with pytest.raises(ValueError, match="FailComponent"):
            lookup(fact, dim, ["k"], {"attr": "attr"}, no_match=LookupNoMatch.FAIL)

    def test_fail_tolerates_null_attr_on_matched_row(self, spark, fact):
        dim = spark.createDataFrame(
            [(1, None), (2, "y"), (3, "z")], "k int, attr string"
        )
        out = lookup(fact, dim, ["k"], {"attr": "attr"}, no_match=LookupNoMatch.FAIL)
        assert out.count() == 3
        assert "_matched" not in out.columns

    def test_fail_marker_dodges_fact_column_collision(self, spark):
        # a fact that already carries the marker name must not break match
        # detection (ambiguous-column AnalysisException) nor be consumed
        fact = spark.createDataFrame(
            [(1, "keepme")], "k int, __lookup_matched__ string"
        )
        dim = spark.createDataFrame([(1, "x")], "k int, attr string")
        out = lookup(fact, dim, ["k"], {"attr": "attr"}, no_match=LookupNoMatch.FAIL)
        row = out.first()
        assert row["__lookup_matched__"] == "keepme"
        assert row["attr"] == "x"

    def test_inner_drops_unmatched(self, spark, fact):
        dim = spark.createDataFrame([(1, "x")], "k int, attr string")
        out = lookup(fact, dim, ["k"], {"attr": "attr"}, no_match=LookupNoMatch.INNER)
        assert out.count() == 1

    def test_dim_filter_prunes_build_side(self, spark, fact):
        dim = spark.createDataFrame(
            [(1, "x", 0), (1, "cur", 1)], "k int, attr string, is_current int"
        )
        out = lookup(
            fact, dim, ["k"], {"attr": "attr"},
            dim_filter=F.col("is_current") == 1,
        )
        assert {r["attr"] for r in out.filter("k = 1").collect()} == {"cur"}


class TestCaseInsensitiveCollation:
    """r11 (r10 VERDICT #3): ``ci=True`` on lookup and the equi-join
    helpers — SQL Server's default CI collation on string keys.  The
    default stays case-sensitive (Spark semantics); CI folds both sides
    to lower() for the probe only, preserving the streamed side's
    original key case in the output."""

    def _sides(self, spark):
        f = spark.createDataFrame(
            [(1, "Alpha"), (2, "ALPHA"), (3, "beta"), (4, "Gamma")],
            "k int, seg string",
        )
        d = spark.createDataFrame(
            [("alpha", "A"), ("BETA", "B")], "seg string, code string"
        )
        return f, d

    def test_lookup_cs_vs_ci_parity(self, spark):
        f, d = self._sides(spark)
        cs = lookup(f, d, ["seg"], {"code": "code"})
        assert {r["k"]: r["code"] for r in cs.collect()} == {
            1: None, 2: None, 3: None, 4: None,
        }
        ci = lookup(f, d, ["seg"], {"code": "code"}, ci=True)
        rows = {r["k"]: (r["seg"], r["code"]) for r in ci.collect()}
        # matches are case-insensitive; the fact key keeps its case
        assert rows == {
            1: ("Alpha", "A"), 2: ("ALPHA", "A"),
            3: ("beta", "B"), 4: ("Gamma", None),
        }

    def test_lookup_ci_fail_and_inner_policies(self, spark):
        f, d = self._sides(spark)
        matched = f.filter("k != 4")
        out = lookup(
            matched, d, ["seg"], {"code": "code"},
            no_match=LookupNoMatch.FAIL, ci=True,
        )
        assert out.count() == 3
        with pytest.raises(ValueError, match="FailComponent"):
            lookup(
                f, d, ["seg"], {"code": "code"},
                no_match=LookupNoMatch.FAIL, ci=True,
            ).collect()
        inner = lookup(
            f, d, ["seg"], {"code": "code"},
            no_match=LookupNoMatch.INNER, ci=True,
        )
        assert {r["k"] for r in inner.collect()} == {1, 2, 3}

    def test_lookup_ci_non_string_keys_untouched(self, spark):
        # int key + string key: only the string key folds
        f = spark.createDataFrame(
            [(1, "X", 10), (2, "y", 20)], "id int, seg string, v int"
        )
        d = spark.createDataFrame(
            [(1, "x", "one"), (2, "Y", "two")],
            "id int, seg string, name string",
        )
        out = lookup(f, d, ["id", "seg"], {"name": "name"}, ci=True)
        assert {r["id"]: r["name"] for r in out.collect()} == {
            1: "one", 2: "two",
        }

    def test_joins_ci_variants(self, spark):
        from ssis_to_dbt_spark.operators.joins import (
            anti_join,
            merge_join,
            semi_join,
        )

        f, d = self._sides(spark)
        semi = semi_join(f, d.select("seg"), ["seg"], ci=True)
        assert {(r["k"], r["seg"]) for r in semi.collect()} == {
            (1, "Alpha"), (2, "ALPHA"), (3, "beta"),
        }
        anti = anti_join(f, d.select("seg"), ["seg"], ci=True)
        assert {r["k"] for r in anti.collect()} == {4}
        # CS baselines differ — the migration delta the option closes
        assert semi_join(f, d.select("seg"), ["seg"]).count() == 0
        assert anti_join(f, d.select("seg"), ["seg"]).count() == 4

        inner = merge_join(f, d, ["seg"], "inner", ci=True)
        assert {r["k"]: (r["seg"], r["code"]) for r in inner.collect()} == {
            1: ("Alpha", "A"), 2: ("ALPHA", "A"), 3: ("beta", "B"),
        }
        left = merge_join(f, d, ["seg"], "left", ci=True)
        assert {r["k"]: r["code"] for r in left.collect()} == {
            1: "A", 2: "A", 3: "B", 4: None,
        }
        # full join restores the present side's case
        full = merge_join(f, d, ["seg"], "full", ci=True)
        segs = {(r["k"], r["seg"]) for r in full.collect()}
        assert (None, "BETA") not in segs  # right beta matched left 'beta'
        assert (1, "Alpha") in segs and (4, "Gamma") in segs

    def test_full_join_right_only_rows_keep_right_case(self, spark):
        from ssis_to_dbt_spark.operators.joins import merge_join

        f = spark.createDataFrame([(1, "Alpha")], "k int, seg string")
        d = spark.createDataFrame([("DELTA", "D")], "seg string, code string")
        full = merge_join(f, d, ["seg"], "full", ci=True)
        assert {(r["k"], r["seg"], r["code"]) for r in full.collect()} == {
            (1, "Alpha", None), (None, "DELTA", "D"),
        }

    def test_fk_violations_ci(self, spark):
        child = spark.createDataFrame(
            [(1, "Alpha"), (2, "omega")], "id int, seg string"
        )
        parent = spark.createDataFrame([("ALPHA",)], "seg string")
        assert {r["id"] for r in fk_violations(child, parent, "seg").collect()} \
            == {1, 2}
        assert {
            r["id"] for r in fk_violations(child, parent, "seg", ci=True).collect()
        } == {2}

    def test_ci_preserves_broadcast_strategy(self, spark):
        f, d = self._sides(spark)
        plan = (
            lookup(f, d, ["seg"], {"code": "code"}, ci=True)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestSplitsAndSets:
    def test_tagged_first_match_wins(self, spark):
        df = spark.createDataFrame([(5,), (15,), (50,)], "n int")
        out = conditional_split_tagged(
            df, [("lo", F.col("n") <= 10), ("mid", F.col("n") <= 20)], "hi"
        )
        assert {r["n"]: r["route"] for r in out.collect()} == {
            5: "lo", 15: "mid", 50: "hi"
        }

    def test_multiframe_routes_disjoint(self, spark):
        df = spark.createDataFrame([(5,), (15,), (50,)], "n int")
        outs = conditional_split(
            df, [("lo", F.col("n") <= 10), ("mid", F.col("n") <= 20)], "hi"
        )
        assert outs["lo"].count() + outs["mid"].count() + outs["hi"].count() == 3

    def test_union_all_by_name(self, spark):
        a = spark.createDataFrame([(1, "x")], "k int, v string")
        b = spark.createDataFrame([("y", 2)], "v string, k int")
        assert union_all(a, b).count() == 2

    def test_data_conversion_error_output_routing(self, spark):
        from ssis_to_dbt_spark.operators import data_conversion_with_errors

        df = spark.createDataFrame(
            [(1, "42", "1.5"), (2, "oops", "2.5"), (3, None, "bad"), (4, "7", None)],
            "id int, a string, b string",
        )
        out = {
            r["id"]: (r["conv_route"], r["conv_error_col"], r["ia"], r["db"])
            for r in data_conversion_with_errors(
                df, {"ia": ("a", "INT"), "db": ("b", "DOUBLE")}
            ).collect()
        }
        assert out[1] == ("converted", None, 42, 1.5)
        # failed cast of non-null input -> error route, failing column named
        assert out[2] == ("error", "a", None, 2.5)
        assert out[3] == ("error", "b", None, None)
        # null input is a legitimate null, not an error
        assert out[4] == ("converted", None, 7, None)

    def test_data_conversion_in_place_keeps_error_routing(self, spark):
        # regression: converting a column onto ITSELF must still error-test
        # the original value, not its own null cast output
        from ssis_to_dbt_spark.operators import data_conversion_with_errors

        df = spark.createDataFrame(
            [(1, "42"), (2, "oops")], "id int, a string"
        )
        out = {
            r["id"]: (r["a"], r["conv_route"], r["conv_error_col"])
            for r in data_conversion_with_errors(
                df, {"a": ("a", "INT")}
            ).collect()
        }
        assert out[1] == (42, "converted", None)
        assert out[2] == (None, "error", "a")

    def test_data_conversion_empty_dict_passes_through(self, spark):
        from ssis_to_dbt_spark.operators import data_conversion_with_errors

        df = spark.createDataFrame([(1,)], "id int")
        row = data_conversion_with_errors(df, {}).first()
        assert row["conv_route"] == "converted"
        assert row["conv_error_col"] is None

    def test_top_k_latest(self, spark):
        df = spark.createDataFrame([(1, 10), (2, 30), (3, 20)], "id int, ts int")
        top = top_k_latest(df, [F.desc("ts"), F.col("id")], k=1).collect()
        assert top[0]["id"] == 2


class TestSCD2:
    def test_rebuild_collapses_unchanged_and_versions(self, spark):
        hist = spark.createDataFrame(
            [
                (1, "2020-01-01", "A"),
                (1, "2020-02-01", "A"),   # unchanged -> collapses
                (1, "2020-03-01", "B"),   # change -> version 2
                (2, "2020-01-15", "Z"),
            ],
            "ck int, ts string, attr string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        dim = scd2_rebuild(hist, "ck", "ts", ["attr"])
        rows = {(r["ck"], r["version_number"]): r for r in dim.collect()}
        assert len(rows) == 3
        assert rows[(1, 1)]["is_current"] is False
        assert str(rows[(1, 1)]["valid_to"]) == "2020-03-01"
        assert rows[(1, 2)]["is_current"] is True
        assert rows[(2, 1)]["is_current"] is True

    def test_point_in_time_join_picks_covering_version(self, spark):
        from ssis_to_dbt_spark.operators.scd import (
            scd2_point_in_time_join,
            scd2_rebuild,
        )

        hist = spark.createDataFrame(
            [(1, "2020-01-01", "A"), (1, "2020-03-01", "B")],
            "ck int, ts string, attr string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        dim = scd2_rebuild(hist, "ck", "ts", ["attr"])
        facts = spark.createDataFrame(
            [
                (10, 1, "2020-02-15"),  # inside version 1
                (11, 1, "2020-03-01"),  # boundary day -> NEW version
                (12, 1, "2020-06-01"),  # open current version
                (13, 1, "2019-12-01"),  # before any version
                (14, 9, "2020-02-01"),  # unknown key
            ],
            "fid int, ck int, fts string",
        ).withColumn("fts", F.col("fts").cast("timestamp"))
        inner = {
            r["fid"]: r["version_number"]
            for r in scd2_point_in_time_join(facts, dim, "ck", "fts").collect()
        }
        assert inner == {10: 1, 11: 2, 12: 2}
        left = {
            r["fid"]: r["version_number"]
            for r in scd2_point_in_time_join(
                facts, dim, "ck", "fts", how="left"
            ).collect()
        }
        assert left == {10: 1, 11: 2, 12: 2, 13: None, 14: None}

    def test_point_in_time_join_is_not_nested_loop(self, spark):
        from ssis_to_dbt_spark.operators.scd import (
            scd2_point_in_time_join,
            scd2_rebuild,
        )

        hist = spark.createDataFrame(
            [(1, "2020-01-01", "A")], "ck int, ts string, attr string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        dim = scd2_rebuild(hist, "ck", "ts", ["attr"])
        facts = spark.createDataFrame(
            [(10, 1, "2020-02-15")], "fid int, ck int, fts string"
        ).withColumn("fts", F.col("fts").cast("timestamp"))
        plan = scd2_point_in_time_join(
            facts, dim, "ck", "fts"
        )._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_merge_upsert_closes_and_inserts(self, spark):
        from ssis_to_dbt_spark.operators.scd import scd2_snapshot
        base = spark.createDataFrame(
            [(1, "A"), (2, "B")], "ck int, attr string"
        ).withColumn("eff", F.lit("2020-01-01").cast("date"))
        target = scd2_snapshot(base, "ck", ["attr"], "eff")
        source = spark.createDataFrame(
            [(1, "A"), (2, "CHANGED"), (3, "NEW")], "ck int, attr string"
        ).withColumn("eff", F.lit("2021-01-01").cast("date"))
        out = merge_upsert(target, source, "ck", ["attr"], "eff")
        rows = out.collect()
        assert len(rows) == 4  # 1 unchanged, 2-closed, 2-new, 3-new
        current = {r["ck"] for r in rows if r["is_current"]}
        assert current == {1, 2, 3}
        closed = [r for r in rows if not r["is_current"]]
        assert len(closed) == 1 and closed[0]["ck"] == 2


class TestMergeUpsertInto:
    """r11 (r10 VERDICT #7): the table-target SCD2 upsert — emits
    transactional MERGE INTO on delta/iceberg providers, falls back to
    the join-rebuild + overwrite on parquet (the rebuild stays the
    oracle).  Delta execution is environment-gated; the generated SQL
    and the fallback's value-equivalence are pinned unconditionally."""

    def _target(self, spark, name):
        from ssis_to_dbt_spark.operators.scd import scd2_snapshot

        base = spark.createDataFrame(
            [(1, "Ada", "2020-01-01"), (2, "Bob", "2020-01-01")],
            "ck int, attr string, eff string",
        ).withColumn("eff", F.col("eff").cast("timestamp"))
        scd2_snapshot(base, "ck", ["attr"], "eff").write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(name)
        return base

    def test_merge_sql_shape_and_identifier_validation(self):
        from ssis_to_dbt_spark.operators.scd import merge_upsert_sql

        close, insert = merge_upsert_sql(
            "dim_c", "src_v", "ck", "eff", ["ck", "attr", "is_current"]
        )
        assert close.startswith("MERGE INTO dim_c t USING src_v s ON ")
        assert "t.ck = s.ck AND t.is_current" in close
        assert "WHEN MATCHED AND t.change_hash != s.change_hash" in close
        assert "t.valid_to = CAST(s.eff AS DATE)" in close
        assert "t.is_current = false" in close
        assert "WHEN NOT MATCHED THEN INSERT (ck, attr, is_current) " \
            "VALUES (s.ck, s.attr, s.is_current)" in insert
        with pytest.raises(ValueError, match="identifier"):
            merge_upsert_sql("dim; DROP", "s", "ck", "eff", ["ck"])
        with pytest.raises(ValueError, match="identifier"):
            merge_upsert_sql("dim", "s", "ck", "eff", ["a b"])

    def test_parquet_fallback_matches_rebuild(self, spark):
        from ssis_to_dbt_spark.operators.scd import (
            merge_upsert_into,
            scd2_snapshot,
        )

        try:
            self._target(spark, "mui_dim")
            before = spark.table("mui_dim")
            batch = spark.createDataFrame(
                [(2, "Bobby", "2020-06-01"), (3, "Cyd", "2020-06-01")],
                "ck int, attr string, eff string",
            ).withColumn("eff", F.col("eff").cast("timestamp"))
            expected = sorted(map(tuple, merge_upsert(
                before, batch, "ck", ["attr"], "eff"
            ).collect()))
            merge_upsert_into(spark, "mui_dim", batch, "ck", ["attr"], "eff")
            spark.catalog.refreshTable("mui_dim")
            got = sorted(map(tuple, spark.table("mui_dim").collect()))
            assert got == expected
            rows = spark.table("mui_dim").collect()
            cur = {r["ck"]: r["attr"] for r in rows if r["is_current"]}
            assert cur == {1: "Ada", 2: "Bobby", 3: "Cyd"}
            closed = [r for r in rows if not r["is_current"]]
            assert [(r["ck"], str(r["valid_to"])) for r in closed] == [
                (2, "2020-06-01")
            ]
            _ = scd2_snapshot  # referenced for parity with the MERGE path
        finally:
            spark.sql("DROP TABLE IF EXISTS mui_dim")

    @pytest.mark.skipif(
        __import__("importlib").util.find_spec("delta") is None,
        reason="delta-spark not installed in this environment",
    )
    def test_delta_merge_matches_rebuild(self, spark):
        # runs only where the Delta jar exists; same assertions as the
        # fallback test but through the MERGE INTO statements
        from ssis_to_dbt_spark.operators.scd import merge_upsert_into

        try:
            base = self._target(spark, "mui_delta")  # noqa: F841
            spark.sql(
                "CREATE TABLE mui_delta2 USING delta "
                "AS SELECT * FROM mui_delta"
            )
            batch = spark.createDataFrame(
                [(2, "Bobby", "2020-06-01"), (3, "Cyd", "2020-06-01")],
                "ck int, attr string, eff string",
            ).withColumn("eff", F.col("eff").cast("timestamp"))
            merge_upsert_into(
                spark, "mui_delta2", batch, "ck", ["attr"], "eff"
            )
            cur = {
                r["ck"]: r["attr"]
                for r in spark.table("mui_delta2").collect()
                if r["is_current"]
            }
            assert cur == {1: "Ada", 2: "Bobby", 3: "Cyd"}
        finally:
            spark.sql("DROP TABLE IF EXISTS mui_delta")
            spark.sql("DROP TABLE IF EXISTS mui_delta2")


class TestIncremental:
    def test_watermark_roundtrip(self, spark):
        tgt = spark.createDataFrame([(1, 10), (2, 20)], "k int, ts int")
        src = spark.createDataFrame([(2, 20), (3, 30)], "k int, ts int")
        wm = max_watermark(tgt, "ts")
        assert wm == 20
        assert watermark_filter(src, "ts", wm).count() == 1
        # None watermark (first run) -> full scan
        assert watermark_filter(src, "ts", None).count() == 2

    def test_incremental_merge_replaces_keys(self, spark):
        tgt = spark.createDataFrame([(1, 10, "old"), (2, 20, "old")], "k int, ts int, v string")
        src = spark.createDataFrame(
            [(2, 25, "new"), (3, 30, "new")], "k int, ts int, v string"
        )
        out = incremental_merge(tgt, src, ["k"], "ts")
        rows = {r["k"]: r["v"] for r in out.collect()}
        assert rows == {1: "old", 2: "new", 3: "new"}


class TestQuality:
    def test_row_count_exact_passes(self, spark):
        a = spark.range(100)
        assert row_count_compare(a, spark.range(100)).status == "pass"

    def test_half_percent_drift_fails(self, spark):
        # reference validator.py:106-115 fails at >= 0.01%
        assert row_count_compare(spark.range(1000), spark.range(995)).status == "fail"

    def test_tiny_drift_warns(self, spark):
        res = row_count_compare(spark.range(100000), spark.range(99999))
        assert res.status == "warning" and res.ok

    def test_duplicate_keys(self, spark):
        df = spark.createDataFrame([(1,), (1,), (2,)], "k int")
        dups = duplicate_keys(df, ["k"]).collect()
        assert len(dups) == 1 and dups[0]["dup_count"] == 2

    def test_fk_violations(self, spark):
        child = spark.createDataFrame([(1,), (9,)], "fk int")
        parent = spark.createDataFrame([(1,)], "fk int")
        assert fk_violations(child, parent, "fk").collect()[0]["fk"] == 9

    def test_preflight_guard(self, spark):
        preflight_guard(spark.range(5), min_rows=1)
        with pytest.raises(RuntimeError, match="preflight"):
            preflight_guard(spark.range(5).filter("id < 0"), min_rows=1)

    def test_iqr_outliers_tukey_fences(self, spark):
        from ssis_to_dbt_spark.operators.quality import iqr_outliers

        # group "a": 1..11 plus one extreme value -> exactly one outlier;
        # group "b": constant values -> IQR 0, nothing outside the fences
        rows = [(v, "a") for v in range(1, 12)] + [(1000, "a")]
        rows += [(5, "b")] * 6
        df = spark.createDataFrame(rows, "v int, g string")
        out = {r["g"]: r for r in iqr_outliers(df, "v", ["g"]).collect()}
        assert out["a"]["n_rows"] == 12 and out["a"]["n_outliers"] == 1
        assert out["b"]["n_rows"] == 6 and out["b"]["n_outliers"] == 0
        assert out["b"]["p25"] == 5.0 and out["b"]["p75"] == 5.0


class TestUpdateFlag:
    def test_double_flip_no_data_loss(self, spark, tmp_path):
        p = os.path.join(str(tmp_path), "tbl")
        spark.createDataFrame([(i, 0) for i in range(20)], "id int, flag int").write.parquet(p)
        update_flag(spark, p, "flag", lambda df: df["id"] < 10, 1)
        update_flag(spark, p, "flag", lambda df: df["id"] >= 10, 2)
        counts = {
            r["flag"]: r["count"]
            for r in spark.read.parquet(p).groupBy("flag").count().collect()
        }
        assert counts == {1: 10, 2: 10}


class TestDatasetProfile:
    def test_profile_stats(self, spark):
        from ssis_to_dbt_spark.operators.profile import dataset_profile

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b")], "k int, v string"
        )
        prof = {r["column"]: r for r in dataset_profile(df, ["k", "v"]).collect()}
        assert prof["k"]["n_rows"] == 3
        assert prof["k"]["n_null"] == 0
        assert prof["k"]["n_distinct"] == 2
        assert prof["k"]["min_value"] == "1" and prof["k"]["max_value"] == "2"
        assert prof["v"]["n_null"] == 1
        assert prof["v"]["n_distinct"] == 2  # distinct ignores NULL

    def test_approximate_mode_runs(self, spark):
        from ssis_to_dbt_spark.operators.profile import dataset_profile

        df = spark.range(1000).withColumnRenamed("id", "k")
        prof = dataset_profile(df, ["k"], approximate=True).first()
        assert abs(prof["n_distinct"] - 1000) < 100


class TestSampling:
    def test_hash_split_stable_and_disjoint(self, spark):
        from ssis_to_dbt_spark.operators.sampling import hash_split

        df = spark.range(1000).withColumnRenamed("id", "k")
        a = {r["k"]: r["split"] for r in hash_split(df, "k", 10).collect()}
        b = {r["k"]: r["split"] for r in hash_split(df, "k", 10).collect()}
        assert a == b  # deterministic across runs
        test_frac = sum(1 for v in a.values() if v == "test") / 1000
        assert 0.05 < test_frac < 0.15  # ~25/256

    def test_stratified_sample_fractions(self, spark):
        from ssis_to_dbt_spark.operators.sampling import stratified_sample

        df = spark.createDataFrame(
            [(i, "a" if i % 2 else "b") for i in range(2000)], "k int, s string"
        )
        out = stratified_sample(df, "s", {"a": 0.5, "b": 0.1}, key_col="k")
        counts = {r["s"]: r["count"] for r in out.groupBy("s").count().collect()}
        assert 400 < counts["a"] < 600
        assert 50 < counts.get("b", 0) < 150

    def test_hash_split_degenerate_percentages(self, spark):
        # test_pct >= 100 used to render a 3-char threshold that ordered
        # below every 2-char hex prefix, silently routing all rows to train
        from ssis_to_dbt_spark.operators.sampling import hash_split

        df = spark.range(100).withColumnRenamed("id", "k")
        all100 = {r["split"] for r in hash_split(df, "k", 100).collect()}
        assert all100 == {"test"}
        all0 = {r["split"] for r in hash_split(df, "k", 0).collect()}
        assert all0 == {"train"}

    def test_stratified_sample_full_keep_fraction(self, spark):
        # fraction >= 1.0 used to render the 5-char "10000" threshold which
        # kept only ~1/16 of the stratum
        from ssis_to_dbt_spark.operators.sampling import stratified_sample

        df = spark.createDataFrame(
            [(i, "a" if i % 2 else "b") for i in range(200)], "k int, s string"
        )
        out = stratified_sample(df, "s", {"a": 1.0}, key_col="k")
        counts = {r["s"]: r["count"] for r in out.groupBy("s").count().collect()}
        assert counts["a"] == 100  # ALL of stratum a
        assert "b" not in counts  # default fraction 0

    def test_token_budget_under_budget_and_stable(self, spark):
        from ssis_to_dbt_spark.operators.sampling import token_budget_sample

        df = spark.createDataFrame(
            [(i, 10) for i in range(1000)], "k int, n_tokens int"
        )
        out = token_budget_sample(df, "n_tokens", budget=1600, key_col="k")
        total = out.agg(F.sum("n_tokens")).first()[0]
        assert total <= 1600
        assert total >= 1200  # buckets fill close to their share
        again = token_budget_sample(df, "n_tokens", budget=1600, key_col="k")
        assert sorted(r["k"] for r in out.collect()) == sorted(
            r["k"] for r in again.collect()
        )

    def test_token_budget_auto_buckets_twin(self, spark):
        """r9: n_buckets=None derives max(16, ceil(total/target)) — the
        auto form must equal pinning that count explicitly, the derived
        count must exceed the 16 floor here, and the budget contract
        must still hold."""
        from ssis_to_dbt_spark.operators.sampling import token_budget_sample

        df = spark.createDataFrame(
            [(i, 10) for i in range(1000)], "k int, n_tokens int"
        )
        total = 10_000
        nb = max(16, (total + 299) // 300)  # target 300 -> 34 buckets
        assert nb > 16
        auto = token_budget_sample(
            df, "n_tokens", budget=1600, key_col="k",
            n_buckets=None, target_bucket_tokens=300,
        )
        pinned = token_budget_sample(
            df, "n_tokens", budget=1600, key_col="k", n_buckets=nb
        )
        a = sorted(r["k"] for r in auto.collect())
        assert a == sorted(r["k"] for r in pinned.collect())
        assert 0 < len(a) and sum(
            r["n_tokens"] for r in auto.collect()
        ) <= 1600

    def test_token_budget_beyond_256_buckets(self, spark):
        """r10 regression (r9 ADVICE high): with n_buckets > 256 the
        bucket id must still range over ALL buckets — a 2-hex-char hash
        slice stranded buckets >= 256 empty, silently admitting only
        ~256/nb of the budget.  With 2000 rows x 10 tokens into 400
        buckets of 50-token quota, a healthy spread admits ~5 rows/bucket
        across most buckets; the broken form capped admissions at 256
        buckets (~12.8k tokens of the 20k budget)."""
        from ssis_to_dbt_spark.operators.sampling import token_budget_sample

        df = spark.createDataFrame(
            [(i, 10) for i in range(2000)], "k int, n_tokens int"
        )
        nb = 400
        out = token_budget_sample(
            df, "n_tokens", budget=20_000, key_col="k", n_buckets=nb
        )
        total = out.agg(F.sum("n_tokens")).first()[0]
        assert total <= 20_000
        # every bucket quota is 50 tokens = 5 rows; hash-uniform spread
        # over 400 live buckets admits far more than 256 buckets' worth
        assert total > 256 * 50
        # and the bucket ids themselves must exceed the byte range
        from pyspark.sql import functions as SF
        buckets = (
            df.withColumn(
                "_b",
                SF.pmod(
                    SF.conv(
                        SF.substring(SF.md5(SF.col("k").cast("string")),
                                     1, 15),
                        16, 10,
                    ).cast("long"),
                    SF.lit(nb),
                ),
            )
            .agg(SF.countDistinct("_b").alias("d"),
                 SF.max("_b").alias("mx"))
            .first()
        )
        assert buckets["mx"] >= 256
        assert buckets["d"] > 300


class TestWeightedSample:
    def test_deterministic_across_partitionings(self, spark):
        from ssis_to_dbt_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(i, 1 + i % 4) for i in range(200)], "k long, w int"
        )
        a = [r["k"] for r in weighted_sample(df.repartition(1), "k", "w", 20).collect()]
        b = [r["k"] for r in weighted_sample(df.repartition(13), "k", "w", 20).collect()]
        assert a == b and len(a) == 20

    def test_cap_per_group_deterministic_and_capped(self, spark):
        from ssis_to_dbt_spark.operators.sampling import cap_per_group

        df = spark.createDataFrame(
            [(i, "s%d" % (i % 3)) for i in range(100)], "doc_id long, src string"
        )
        a = cap_per_group(df.repartition(1), ["src"], 10, "doc_id")
        b = cap_per_group(df.repartition(17), ["src"], 10, "doc_id")
        ka = sorted(r["doc_id"] for r in a.collect())
        kb = sorted(r["doc_id"] for r in b.collect())
        assert ka == kb and len(ka) == 30  # 10 per src, partition-invariant
        # group smaller than the cap is kept whole
        small = df.filter("doc_id < 4")
        assert cap_per_group(small, ["src"], 10, "doc_id").count() == 4
        import pytest as _pytest
        with _pytest.raises(ValueError, match="cap"):
            cap_per_group(df, ["src"], 0, "doc_id")

    def test_cap_per_group_rank_mode_keeps_top_n(self, spark):
        from pyspark.sql import functions as F
        from ssis_to_dbt_spark.operators.sampling import cap_per_group

        df = spark.createDataFrame(
            [(i, "s", float(i)) for i in range(20)], "doc_id long, src string, q double"
        )
        top = cap_per_group(df, ["src"], 5, "doc_id", rank_col="q")
        assert sorted(r["doc_id"] for r in top.collect()) == [15, 16, 17, 18, 19]

    def test_null_and_nonpositive_weight_rows_never_selected(self, spark):
        from ssis_to_dbt_spark.operators.sampling import weighted_sample

        # Without the eligibility filter these degenerate rows would WIN:
        # sequence(1, 0) auto-steps -1 and yields [1, 0] (two tickets), and
        # a NULL weight yields a NULL priority, which ascending sort places
        # first.  The operator must treat both as zero tickets.
        rows = [(i, 1) for i in range(20)] + [(100, 0), (101, -3), (102, None)]
        df = spark.createDataFrame(rows, "k long, w int")
        out = weighted_sample(df, "k", "w", 10).collect()
        assert len(out) == 10
        assert all(r["k"] < 100 for r in out)
        # all-degenerate input -> empty sample, not an error
        bad = df.filter("k >= 100")
        assert weighted_sample(bad, "k", "w", 5).count() == 0

    def test_higher_weight_wins_more_often(self, spark):
        from ssis_to_dbt_spark.operators.sampling import weighted_sample
        from pyspark.sql import functions as F

        # 500 rows, half weight 8, half weight 1: the weight-8 half should
        # take the large majority of a 100-row sample (expected ~89%)
        df = spark.createDataFrame(
            [(i, 8 if i % 2 == 0 else 1) for i in range(500)], "k long, w int"
        )
        out = weighted_sample(df, "k", "w", 100)
        heavy = out.filter(F.col("w") == 8).count()
        assert heavy > 70

    def test_sample_is_prefix_of_priority_order(self, spark):
        from ssis_to_dbt_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(i, 1 + i % 2) for i in range(100)], "k long, w int"
        )
        top10 = [r["k"] for r in weighted_sample(df, "k", "w", 10).collect()]
        top25 = [r["k"] for r in weighted_sample(df, "k", "w", 25).collect()]
        assert top25[:10] == top10  # without-replacement prefix property


class TestMixtureSample:
    def _df(self, spark):
        rows = (
            [(i, "a") for i in range(1000)]
            + [(i + 1000, "b") for i in range(150)]
            + [(i + 2000, "c") for i in range(50)]
            + [(i + 3000, "d") for i in range(30)]
        )
        return spark.createDataFrame(rows, "k int, g string")

    def test_binding_group_kept_whole_others_downsampled(self, spark):
        from ssis_to_dbt_spark.operators.sampling import mixture_sample

        df = self._df(spark)
        out = mixture_sample(df, "g", {"a": 6, "b": 3, "c": 1}, key_col="k")
        counts = {r["g"]: r["count"] for r in out.groupBy("g").count().collect()}
        # W=10; T = min(1000*10/6, 150*10/3, 50*10/1) = 500
        # targets: a=300 (hash-approximate), b=150 (admit=65536, exact),
        # c=50 (exact); d is not in the weights -> dropped entirely
        assert counts["b"] == 150
        assert counts["c"] == 50
        assert 240 <= counts["a"] <= 360
        assert "d" not in counts

    def test_deterministic_across_runs_and_partitionings(self, spark):
        from ssis_to_dbt_spark.operators.sampling import mixture_sample

        df = self._df(spark)
        w = {"a": 6, "b": 3, "c": 1}
        first = sorted(r["k"] for r in mixture_sample(df, "g", w, "k").collect())
        again = sorted(
            r["k"]
            for r in mixture_sample(df.repartition(7), "g", w, "k").collect()
        )
        assert first == again


class TestZorderLayout:
    def test_morton_interleave_known_values(self, spark):
        from ssis_to_dbt_spark.operators import morton_interleave

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long"
        )
        out = {
            (r["x"], r["y"]): r["z"]
            for r in df.select(
                "x", "y", morton_interleave(F.col("x"), F.col("y")).alias("z")
            ).collect()
        }
        assert out[(0, 0)] == 0
        assert out[(1, 0)] == 1       # x -> even bits
        assert out[(0, 1)] == 2       # y -> odd bits
        # x=3 (0b11) -> bits 0,2 = 5; y=5 (0b101) -> bits 1,5 = 34
        assert out[(3, 5)] == 5 | 34
        assert out[(65535, 65535)] == (1 << 32) - 1

    def test_zorder_key_scaling_and_constant_dim(self, spark):
        from ssis_to_dbt_spark.operators import zorder_key

        df = spark.createDataFrame(
            [(0, 7), (100, 7), (50, 7)], "x long, y long"
        )
        rows = {r["x"]: r["_z"] for r in zorder_key(df, "x", "y").collect()}
        # y is constant -> scales to 0 -> z is the interleave of x alone
        assert rows[0] == 0
        assert rows[100] > rows[50] > rows[0]

    def test_zorder_write_clusters_both_dims(self, spark, tmp_path):
        from ssis_to_dbt_spark.operators import zorder_write

        # a grid: row-major order localizes only y; z-order localizes both
        grid = [(x, y) for x in range(64) for y in range(64)]
        df = spark.createDataFrame(grid, "x long, y long").repartition(4)
        path = os.path.join(str(tmp_path), "zorder")
        zorder_write(df, path, "x", "y", n_files=16)
        back = spark.read.parquet(path)
        assert back.count() == 4096
        spans = (
            back.withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("dx"),
                (F.max("y") - F.min("y")).alias("dy"),
            )
            .collect()
        )
        # every file's rectangle must be narrow in BOTH dimensions: a
        # 4096-row grid over 16 files -> each file ~256 rows; a linear sort
        # would give dx=63 (full span) on the minor dimension
        assert all(r["dx"] <= 32 and r["dy"] <= 32 for r in spans), spans

    def test_zorder_scan_prunes_files(self, spark, tmp_path):
        from ssis_to_dbt_spark.operators import (
            zorder_prune_files, zorder_scan, zorder_write,
        )

        grid = [(x, y) for x in range(64) for y in range(64)]
        df = spark.createDataFrame(grid, "x long, y long").repartition(4)
        path = os.path.join(str(tmp_path), "zscan")
        zorder_write(df, path, "x", "y", n_files=16)

        # selective 2-D rectangle: a z-ordered layout must read only the
        # files whose footer rectangle intersects it
        kept, total = zorder_prune_files(
            spark, path, "x", "y", x_range=(0, 7), y_range=(0, 7)
        )
        assert total == 16
        assert len(kept) < total // 2, (len(kept), total)

        out = zorder_scan(
            spark, path, "x", "y", x_range=(0, 7), y_range=(0, 7)
        )
        expect = sorted(
            (x, y) for x in range(8) for y in range(8)
        )
        assert sorted((r["x"], r["y"]) for r in out.collect()) == expect

        # pruning is an optimization, never a correctness dependency: the
        # same result comes from the full scan with the same predicate
        full = spark.read.parquet(path).filter("x <= 7 AND y <= 7")
        assert sorted((r["x"], r["y"]) for r in full.collect()) == expect

    def test_zorder_scan_open_ranges_and_empty(self, spark, tmp_path):
        from ssis_to_dbt_spark.operators import zorder_scan, zorder_write

        grid = [(x, y) for x in range(16) for y in range(16)]
        df = spark.createDataFrame(grid, "x long, y long")
        path = os.path.join(str(tmp_path), "zscan2")
        zorder_write(df, path, "x", "y", n_files=4)
        # half-open range
        out = zorder_scan(spark, path, "x", "y", x_range=(12, None))
        assert out.count() == 4 * 16
        # rectangle outside the data -> empty, schema preserved
        empty = zorder_scan(
            spark, path, "x", "y", x_range=(100, 200), y_range=(0, 1)
        )
        assert empty.count() == 0
        assert empty.columns == ["x", "y"]


class TestBloomFilter:
    def test_no_false_negatives_and_bounded_false_positives(self, spark):
        from ssis_to_dbt_spark.operators.joins import bloom_build, bloom_prefilter

        dim = spark.range(100).withColumnRenamed("id", "key")
        fact = spark.range(2000).withColumnRenamed("id", "key")
        bloom = bloom_build(dim, "key", m=4096, k=3)
        passed = {r["key"] for r in bloom_prefilter(fact, "key", bloom).collect()}
        assert set(range(100)) <= passed  # a Bloom filter never drops members
        # ~300 bits set of 4096 -> per-probe FP rate (300/4096)^3 ~ 0.04%
        assert len(passed) <= 120

    def test_bloom_bits_deterministic_and_mergeable_shape(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.operators.joins import bloom_build

        dim = spark.range(50).withColumnRenamed("id", "key")
        a = bloom_build(dim, "key").first()["bloom_bits"]
        b = bloom_build(dim.repartition(5), "key").first()["bloom_bits"]
        assert a == b  # content-addressed: partitioning never changes the bits
        assert a == sorted(set(a))

    def test_k_out_of_range_raises(self, spark):
        import pytest

        from ssis_to_dbt_spark.operators.joins import bloom_build

        dim = spark.range(5).withColumnRenamed("id", "key")
        with pytest.raises(ValueError):
            bloom_build(dim, "key", k=5)


class TestSqlTask:
    def test_result_set_contracts(self, spark):
        from ssis_to_dbt_spark.operators.sql_task import execute_sql, register_views

        df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        register_views(spark, {"tbl": df})
        full = execute_sql(spark, "SELECT * FROM tbl WHERE k = 2")
        assert full.count() == 1
        row = execute_sql(
            spark, "SELECT max(k) AS mx FROM tbl", result_set="SingleRow"
        )
        assert row["mx"] == 2
        assert execute_sql(spark, "SELECT 1", result_set="None") is None


class TestWindowOps:
    def _df(self, spark):
        return spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0)],
            "k string, seq int, v double",
        )

    def test_ranked_and_running(self, spark):
        from ssis_to_dbt_spark.operators import ranked, running_aggregate

        df = self._df(spark)
        out = running_aggregate(
            ranked(df, ["k"], ["seq"], out_col="rn"),
            ["k"], ["seq"], "v", out_col="run",
        )
        rows = {(r["k"], r["seq"]): (r["rn"], r["run"]) for r in out.collect()}
        assert rows[("a", 3)] == (3, 60.0)
        assert rows[("b", 1)] == (1, 5.0)

    def test_offset_and_moving(self, spark):
        from ssis_to_dbt_spark.operators import moving_aggregate, offset_compare

        df = self._df(spark)
        out = moving_aggregate(
            offset_compare(df, ["k"], ["seq"], "v", out_col="prev"),
            ["k"], ["seq"], "v", 2, out_col="mv2",
        )
        rows = {(r["k"], r["seq"]): (r["prev"], r["mv2"]) for r in out.collect()}
        assert rows[("a", 1)] == (None, 10.0)   # lag NULL at partition edge
        assert rows[("a", 3)] == (20.0, 50.0)   # trailing-2 window

    def test_ntile_and_bad_args(self, spark):
        import pytest as _pytest

        from ssis_to_dbt_spark.operators import moving_aggregate, ntile_buckets, ranked

        df = self._df(spark)
        buckets = {r["seq"]: r["bucket"] for r in
                   ntile_buckets(df.filter("k = 'a'"), ["k"], ["seq"], 2).collect()}
        assert buckets == {1: 1, 2: 1, 3: 2}
        with _pytest.raises(ValueError):
            ranked(df, ["k"], ["seq"], method="percentile")
        with _pytest.raises(ValueError):
            moving_aggregate(df, ["k"], ["seq"], "v", 0)


class TestValidationReport:
    def _report(self, spark):
        from ssis_to_dbt_spark.operators import (
            ModelValidation,
            ValidationReport,
            pk_integrity,
            row_count_compare,
        )

        ok = spark.range(10).withColumnRenamed("id", "k")
        drifted = spark.range(2000).withColumnRenamed("id", "k")
        near = spark.createDataFrame(
            [(i,) for i in range(19_999)], "k long"
        )
        dup = spark.createDataFrame([(1,), (1,), (2,)], "k long")
        base = spark.createDataFrame([(i,) for i in range(20_000)], "k long")

        return (
            ValidationReport()
            .add_model(
                ModelValidation("dim_ok").add(row_count_compare(ok, ok)).add(
                    pk_integrity(ok, ["k"])
                )
            )
            .add_model(
                # 1-row drift over 20k = 0.005% < the 0.01% warn tolerance
                ModelValidation("fct_warn").add(row_count_compare(base, near))
            )
            .add_model(
                ModelValidation("stg_fail").add(row_count_compare(ok, drifted)).add(
                    pk_integrity(dup, ["k"])
                )
            )
        )

    def test_rollup_counts_and_worst_wins(self, spark):
        rep = self._report(spark)
        assert (rep.total_models, rep.models_passed, rep.models_warning,
                rep.models_failed) == (3, 1, 1, 1)
        assert rep.overall_status == "fail"
        statuses = {m.model_name: m.overall_status for m in rep.model_validations}
        assert statuses == {
            "dim_ok": "pass", "fct_warn": "warning", "stg_fail": "fail",
        }

    def test_json_and_markdown_artifacts(self, spark, tmp_path):
        import json as _json

        rep = self._report(spark)
        log = rep.export_json(tmp_path / "validation_log.json")
        data = _json.loads(log.read_text())
        assert data["overall_status"] == "fail"
        assert data["total_models"] == 3
        assert [m["model_name"] for m in data["model_validations"]] == [
            "dim_ok", "fct_warn", "stg_fail",
        ]
        checks = data["model_validations"][2]["checks"]
        assert {c["check"] for c in checks} == {"row_count", "pk_integrity"}
        assert all("detail" in c for c in checks)

        md = rep.generate_report(tmp_path / "validation_report.md").read_text()
        assert "# Migration Validation Report" in md
        assert "| Overall Status | **FAIL** |" in md
        assert "### dim_ok ✅" in md
        assert "### fct_warn ⚠️" in md
        assert "### stg_fail ❌" in md


class TestAsofJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 20, 100)],
            "id long, key long, t long",
        )
        right = spark.createDataFrame(
            [(10, 100, "a", 1.0), (10, 200, "b", None), (20, 150, "c", 3.0)],
            "key long, t long, tag string, v double",
        )
        return left, right

    def test_backward_inclusive_match(self, spark):
        from ssis_to_dbt_spark.operators.joins import asof_join

        left, right = self._frames(spark)
        out = {
            r["id"]: (r["t_asof"], r["tag"], r["v"])
            for r in asof_join(
                left, right, ["key"], "t", "t", ["tag", "v"]
            ).collect()
        }
        assert out[1] == (100, "a", 1.0)  # equal ts matches (inclusive)
        assert out[2] == (200, "b", None)  # latest prior row, its NULL field
        # survives as NULL instead of stitching v=1.0 from the older row
        assert out[3] == (None, None, None)  # nothing at or before t=50
        assert out[4] == (None, None, None)  # key 20's row is later (t=150)

    def test_payload_collision_raises(self, spark):
        from ssis_to_dbt_spark.operators.joins import asof_join

        left, right = self._frames(spark)
        with pytest.raises(ValueError, match="collide"):
            asof_join(
                left, right.withColumnRenamed("tag", "id"),
                ["key"], "t", "t", ["id"], suffix="",
            )


class TestRangeJoin:
    def test_containment_and_bucket_crossing(self, spark):
        from datetime import datetime as dt

        from ssis_to_dbt_spark.operators.joins import range_join

        left = spark.createDataFrame(
            [
                (1, 10, dt(2024, 1, 1, 0, 30)),   # inside iv1
                (2, 10, dt(2024, 1, 1, 5, 0)),    # inside iv2 (crosses buckets)
                (3, 10, dt(2024, 1, 1, 2, 0)),    # == iv1 end: half-open, out
                (4, 20, dt(2024, 1, 1, 0, 30)),   # right key, no interval
            ],
            "id long, key long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (10, dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 2, 0), "iv1"),
                (10, dt(2024, 1, 1, 3, 0), dt(2024, 1, 1, 9, 0), "iv2"),
            ],
            "key long, s timestamp, e timestamp, tag string",
        )
        out = range_join(left, "ts", right, "s", "e", ["key"], bucket_seconds=3600)
        got = {(r["id"], r["tag"]) for r in out.collect()}
        assert got == {(1, "iv1"), (2, "iv2")}
        # start boundary is inclusive
        left2 = spark.createDataFrame(
            [(9, 10, dt(2024, 1, 1, 3, 0))], "id long, key long, ts timestamp"
        )
        assert [
            r["tag"] for r in range_join(
                left2, "ts", right, "s", "e", ["key"], bucket_seconds=3600
            ).collect()
        ] == ["iv2"]


class TestRollupKmv:
    def test_rollup_emits_every_grain(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import rollup_aggregate

        df = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)],
            "d string, h int, v double",
        )
        out = rollup_aggregate(df, ["d", "h"], {"s": F.sum("v")})
        rows = {(r["d"], r["h"], r["grouping_level"]): r["s"]
                for r in out.collect()}
        assert rows[("a", 1, 0)] == 10.0 and rows[("a", 2, 0)] == 20.0
        assert rows[("a", None, 1)] == 30.0 and rows[("b", None, 1)] == 5.0
        assert rows[(None, None, 3)] == 35.0
        assert len(rows) == 6

    def test_kmv_exact_below_k(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import kmv_distinct

        df = spark.createDataFrame([(i % 10,) for i in range(100)], "x int")
        r = kmv_distinct(df, "x", k=64).first()
        assert r["kmv_k"] == 10 and r["kmv_estimate"] == 10.0

    def test_kmv_estimate_within_tolerance(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import kmv_distinct

        n = 5000
        df = spark.createDataFrame([(i,) for i in range(n)], "x long")
        r = kmv_distinct(df, "x", k=256).first()
        # KMV relative error ~ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
        assert abs(r["kmv_estimate"] - n) / n < 0.25
        # deterministic: same input, same estimate
        r2 = kmv_distinct(df, "x", k=256).first()
        assert r2["kmv_estimate"] == r["kmv_estimate"]

    def test_kmv_merge_is_lossless(self, spark):
        # merging per-group sketches must reproduce the direct union
        # estimate bit-exactly (any global k-min hash is in its group's
        # k-min set) — the property that makes KMV a map-side sketch
        from ssis_to_dbt_spark.operators.aggregate import (
            kmv_distinct,
            kmv_merge_estimate,
            kmv_sketch_grouped,
        )

        df = spark.createDataFrame(
            [(i % 5, i % 700) for i in range(3000)], "g int, x long"
        )
        direct = kmv_distinct(df, "x", k=64).first()
        sketches = kmv_sketch_grouped(df, ["g"], "x", k=64)
        assert sketches.count() == 5
        merged = kmv_merge_estimate(sketches, k=64).first()
        assert merged["kmv_k"] == direct["kmv_k"]
        assert merged["kmv_estimate"] == direct["kmv_estimate"]

    def test_histogram_merge_is_lossless_and_quantile_deterministic(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import (
            histogram_merge,
            histogram_quantile,
            histogram_sketch_grouped,
        )

        df = spark.createDataFrame(
            [(i % 3, float(i)) for i in range(100)], "g int, x double"
        )
        grouped = histogram_sketch_grouped(df, ["g"], "x", 10.0)
        merged = {r["bin"]: r["n"] for r in histogram_merge(grouped).collect()}
        direct = {
            r["bin"]: r["n"]
            for r in histogram_sketch_grouped(df, [], "x", 10.0).collect()
        }
        assert merged == direct  # lossless merge
        assert merged == {b: 10 for b in range(10)}
        q = histogram_quantile(histogram_merge(grouped), 0.5, 10.0).first()
        # rank target ceil(0.5*100)=50 lands in bin 4 -> lower bound 40.0
        assert q["total_n"] == 100 and q["quantile_estimate"] == 40.0
        # empty histogram -> zero rows, not one all-NULL row
        empty = histogram_sketch_grouped(df.filter("x < 0"), [], "x", 10.0)
        assert histogram_quantile(empty, 0.5, 10.0).count() == 0

    def test_kmv_grouped_sketch_bounded_by_k(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.operators.aggregate import kmv_sketch_grouped

        df = spark.createDataFrame(
            [(i % 2, i) for i in range(500)], "g int, x long"
        )
        sizes = {
            r["g"]: r["n"]
            for r in kmv_sketch_grouped(df, ["g"], "x", k=16)
            .select("g", F.size("kmv_sketch").alias("n"))
            .collect()
        }
        assert sizes == {0: 16, 1: 16}


class TestJoinDifferential:
    """Seeded randomized differential tests: the scalable join rewrites must
    agree with brute-force reference implementations on dense random data
    (many key collisions, boundary timestamps, multi-bucket intervals)."""

    def test_asof_matches_bruteforce(self, spark):
        import random

        rnd = random.Random(42)
        left = [(i, rnd.randint(0, 4), rnd.randint(0, 60)) for i in range(120)]
        rts = sorted({(rnd.randint(0, 4), rnd.randint(0, 60))
                      for _ in range(80)})
        right = [(k, t, f"p{k}_{t}") for k, t in rts]  # unique (key, ts)

        from ssis_to_dbt_spark.operators.joins import asof_join

        out = asof_join(
            spark.createDataFrame(left, "id long, key long, t long"),
            spark.createDataFrame(right, "key long, t long, tag string"),
            ["key"], "t", "t", ["tag"],
        ).collect()
        got = {r["id"]: (r["t_asof"], r["tag"]) for r in out}
        assert len(got) == len(left)
        for i, k, t in left:
            cand = [(rt, tag) for rk, rt, tag in right if rk == k and rt <= t]
            expect = max(cand) if cand else (None, None)
            assert got[i] == expect, (i, k, t, got[i], expect)

    def test_range_matches_bruteforce(self, spark):
        import random
        from datetime import datetime, timedelta

        rnd = random.Random(7)
        base = datetime(2024, 1, 1)
        left = [
            (i, rnd.randint(0, 3), base + timedelta(minutes=rnd.randint(0, 600)))
            for i in range(100)
        ]
        right = []
        for j in range(40):
            s = rnd.randint(0, 550)
            right.append(
                (j, rnd.randint(0, 3), base + timedelta(minutes=s),
                 base + timedelta(minutes=s + rnd.randint(1, 240)))
            )

        from ssis_to_dbt_spark.operators.joins import range_join

        out = range_join(
            spark.createDataFrame(left, "id long, key long, ts timestamp"),
            "ts",
            spark.createDataFrame(
                right, "iv long, key long, s timestamp, e timestamp"
            ),
            "s", "e", ["key"], bucket_seconds=3600,
        ).collect()
        got = {(r["id"], r["iv"]) for r in out}
        expect = {
            (i, j)
            for i, lk, t in left
            for j, rk, s, e in right
            if lk == rk and s <= t < e
        }
        assert got == expect


class TestPivotUnpivot:
    def test_pivot_static_schema_and_values(self, spark):
        from ssis_to_dbt_spark.operators.split import pivot_aggregate

        df = spark.createDataFrame(
            [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0),
             ("a", "x", 4.0), ("a", "z", 9.0)],  # 'z' not in declared values
            "g string, k string, v double",
        )
        out = pivot_aggregate(df, ["g"], "k", ["x", "y"], F.sum("v"))
        assert out.columns == ["g", "x", "y"]  # static, 'z' excluded
        rows = {r["g"]: (r["x"], r["y"]) for r in out.collect()}
        assert rows["a"] == (5.0, 2.0)
        assert rows["b"] == (3.0, None)

    def test_unpivot_roundtrip(self, spark):
        from ssis_to_dbt_spark.operators.split import pivot_aggregate, unpivot

        df = spark.createDataFrame(
            [("a", "x", 1.0), ("b", "y", 2.0)], "g string, k string, v double"
        )
        piv = pivot_aggregate(df, ["g"], "k", ["x", "y"], F.sum("v"))
        long = unpivot(piv, ["g"], ["x", "y"], "k", "v").filter(
            F.col("v").isNotNull()
        )
        assert {(r["g"], r["k"], r["v"]) for r in long.collect()} == {
            ("a", "x", 1.0), ("b", "y", 2.0),
        }


class TestGroupedMedian:
    def test_lower_median_odd_even_and_ties(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import grouped_median_disc

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 5.0), ("a", 3.0),          # odd: median 3
             ("b", 2.0), ("b", 4.0),                      # even: lower median 2
             ("c", 7.0), ("c", 7.0), ("c", 9.0), ("c", 7.0)],  # ties: 7
            "g string, v double",
        )
        out = {r["g"]: r["m"]
               for r in grouped_median_disc(df, ["g"], "v", "m").collect()}
        assert out == {"a": 3.0, "b": 2.0, "c": 7.0}


class TestFuzzyPairs:
    def test_blocked_levenshtein_pairs(self, spark):
        from ssis_to_dbt_spark.operators.joins import fuzzy_pairs

        df = spark.createDataFrame(
            [(1, "red widget", "red"), (2, "red widgit", "red"),
             (3, "red widget", "red"), (4, "blue widget", "blue")],
            "id long, name string, blk string",
        )
        out = {(r["id_a"], r["id_b"]): r["distance"]
               for r in fuzzy_pairs(df, "id", "name", "blk",
                                    max_distance=3, min_distance=1).collect()}
        # exact dup (1,3) excluded by min_distance; cross-block (4) never pairs
        assert out == {(1, 2): 1, (2, 3): 1}


class TestEmptyInputs:
    """New operators must degrade to empty/identity results on empty inputs,
    not throw — a pipeline stage upstream can legitimately filter to zero."""

    def test_asof_empty_right_keeps_left_with_nulls(self, spark):
        from ssis_to_dbt_spark.operators.joins import asof_join

        left = spark.createDataFrame([(1, 10, 5)], "id long, key long, t long")
        right = spark.createDataFrame([], "key long, t long, tag string")
        out = asof_join(left, right, ["key"], "t", "t", ["tag"]).collect()
        assert len(out) == 1 and out[0]["tag"] is None

    def test_range_join_empty_right_is_empty(self, spark):
        from datetime import datetime as dt

        from ssis_to_dbt_spark.operators.joins import range_join

        left = spark.createDataFrame(
            [(1, 10, dt(2024, 1, 1))], "id long, key long, ts timestamp"
        )
        right = spark.createDataFrame(
            [], "key long, s timestamp, e timestamp"
        )
        assert range_join(left, "ts", right, "s", "e", ["key"]).count() == 0

    def test_connected_components_empty_pairs(self, spark):
        from ssis_to_dbt_spark.text.dedup import connected_components

        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
        assert connected_components(pairs).count() == 0

    def test_kmv_empty_estimates_zero(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import kmv_distinct

        df = spark.createDataFrame([], "x long")
        r = kmv_distinct(df, "x", k=16).first()
        assert r["kmv_k"] == 0 and r["kmv_estimate"] == 0.0

    def test_fuzzy_pairs_empty(self, spark):
        from ssis_to_dbt_spark.operators.joins import fuzzy_pairs

        df = spark.createDataFrame([], "id long, name string, blk string")
        assert fuzzy_pairs(df, "id", "name", "blk", 3).count() == 0


class TestPageRank:
    def test_one_iteration_hand_values_and_mass(self, spark):
        from ssis_to_dbt_spark.operators.graph import pagerank

        # path graph 1-2-3, symmetrized; degrees 1,2,1
        pairs = [(1, 2), (2, 1), (2, 3), (3, 2)]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        r = {x["node"]: x["rank"]
             for x in pagerank(edges, iterations=1).collect()}
        assert abs(r[1] - 0.575) < 1e-12
        assert abs(r[2] - 1.85) < 1e-12
        assert abs(r[3] - 0.575) < 1e-12
        assert abs(sum(r.values()) - 3.0) < 1e-9  # no dangling: mass conserved

    def test_partition_count_invariance(self, spark):
        from ssis_to_dbt_spark.operators.graph import pagerank

        pairs = [(i, (i * 7) % 50) for i in range(200) if i != (i * 7) % 50]
        edges = spark.createDataFrame(
            pairs + [(b, a) for a, b in pairs], "src long, dst long"
        )
        a = {x["node"]: x["rank"] for x in
             pagerank(edges.repartition(1), iterations=3).collect()}
        b = {x["node"]: x["rank"] for x in
             pagerank(edges.repartition(13), iterations=3).collect()}
        assert a == b  # decimal-summed contributions: bit-equal at any layout


class TestSnapshotDiff:
    def test_classifies_insert_update_delete(self, spark):
        from ssis_to_dbt_spark.operators.cdc import snapshot_diff

        old = spark.createDataFrame(
            [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)],
            "k long, status string, amt double",
        )
        new = spark.createDataFrame(
            [(2, "B2", 20.0), (3, "C", 30.0), (4, "D", 40.0)],
            "k long, status string, amt double",
        )
        out = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(old, new, ["k"], ["status", "amt"]).collect()
        }
        # 1 deleted, 2 updated (status), 3 unchanged -> absent, 4 inserted
        assert out == {1: "D", 2: "U", 4: "I"}

    def test_null_safe_comparison_not_a_change(self, spark):
        from ssis_to_dbt_spark.operators.cdc import snapshot_diff

        old = spark.createDataFrame([(1, None)], "k long, status string")
        new = spark.createDataFrame([(1, None)], "k long, status string")
        assert snapshot_diff(old, new, ["k"], ["status"]).count() == 0
        # NULL -> value IS a change
        new2 = spark.createDataFrame([(1, "S")], "k long, status string")
        rows = snapshot_diff(old, new2, ["k"], ["status"]).collect()
        assert len(rows) == 1 and rows[0]["change_type"] == "U"

    def test_empty_old_is_all_inserts(self, spark):
        from ssis_to_dbt_spark.operators.cdc import snapshot_diff

        old = spark.createDataFrame([], "k long, status string")
        new = spark.createDataFrame([(1, "A")], "k long, status string")
        rows = snapshot_diff(old, new, ["k"], ["status"]).collect()
        assert len(rows) == 1 and rows[0]["change_type"] == "I"


class TestApplyChanges:
    def _snap(self, spark):
        return spark.createDataFrame(
            [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)],
            "k long, status string, amt double",
        )

    def test_last_change_per_key_wins(self, spark):
        from ssis_to_dbt_spark.operators.cdc import apply_changes

        changes = spark.createDataFrame(
            [
                (1, "A1", 11.0, "U", 1),
                (2, "B1", 21.0, "D", 1),
                (4, "D0", 40.0, "I", 1),
                (4, "D1", 41.0, "U", 2),  # supersedes the insert
            ],
            "k long, status string, amt double, change_type string, seq int",
        )
        out = {
            r["k"]: (r["status"], r["amt"])
            for r in apply_changes(self._snap(spark), changes, ["k"], "seq").collect()
        }
        # 1 updated, 2 deleted, 3 untouched, 4 inserted-then-updated
        assert out == {1: ("A1", 11.0), 3: ("C", 30.0), 4: ("D1", 41.0)}

    def test_seq_tie_breaks_toward_delete(self, spark):
        from ssis_to_dbt_spark.operators.cdc import apply_changes

        changes = spark.createDataFrame(
            [(3, "C9", 99.0, "U", 5), (3, None, 0.0, "D", 5)],
            "k long, status string, amt double, change_type string, seq int",
        )
        out = apply_changes(self._snap(spark), changes, ["k"], "seq")
        assert sorted(r["k"] for r in out.collect()) == [1, 2]

    def test_delete_then_reinsert(self, spark):
        from ssis_to_dbt_spark.operators.cdc import apply_changes

        changes = spark.createDataFrame(
            [(2, None, 0.0, "D", 1), (2, "B9", 29.0, "I", 2)],
            "k long, status string, amt double, change_type string, seq int",
        )
        out = {
            r["k"]: r["status"]
            for r in apply_changes(self._snap(spark), changes, ["k"], "seq").collect()
        }
        assert out == {1: "A", 2: "B9", 3: "C"}

    def test_roundtrip_with_snapshot_diff(self, spark):
        """apply_changes(old, diff-as-changelog) reconstructs the new
        snapshot — the two CDC operators are mutual inverses."""
        from ssis_to_dbt_spark.operators.cdc import apply_changes, snapshot_diff
        from pyspark.sql import functions as F

        old = self._snap(spark)
        new = spark.createDataFrame(
            [(2, "B2", 20.0), (3, "C", 30.0), (4, "D", 40.0)],
            "k long, status string, amt double",
        )
        diff = snapshot_diff(old, new, ["k"], ["status", "amt"])
        changes = diff.select(
            "k",
            F.col("new_status").alias("status"),
            F.col("new_amt").alias("amt"),
            "change_type",
            F.lit(1).alias("seq"),
        )
        got = sorted(
            (r["k"], r["status"], r["amt"])
            for r in apply_changes(old, changes, ["k"], "seq").collect()
        )
        want = sorted((r["k"], r["status"], r["amt"]) for r in new.collect())
        assert got == want


class TestGapFill:
    def _obs(self, spark):
        # key 'a': hours 0, 3 observed (gap at 1, 2); key 'b': hour 1 only
        rows = [
            ("a", "2024-01-01 00:00:00", 10.0),
            ("a", "2024-01-01 03:00:00", 30.0),
            ("b", "2024-01-01 01:00:00", 99.0),
        ]
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            rows, "k string, hour string, v double"
        ).withColumn("hour", F.col("hour").cast("timestamp"))

    def test_fill_forward_carries_last_non_null(self, spark):
        from ssis_to_dbt_spark.operators.window import fill_forward
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, None), ("a", 3, None), ("a", 4, 40.0),
             ("b", 1, None)],
            "k string, i int, v double",
        )
        out = {(r["k"], r["i"]): r["v"]
               for r in fill_forward(df, ["k"], "i", ["v"]).collect()}
        assert out == {("a", 1): 10.0, ("a", 2): 10.0, ("a", 3): 10.0,
                       ("a", 4): 40.0, ("b", 1): None}

    def test_grid_spans_min_to_max_per_key(self, spark):
        from ssis_to_dbt_spark.operators.window import time_grid

        grid = time_grid(self._obs(spark), ["k"], "hour", "1 hour")
        per_key = {}
        for r in grid.collect():
            per_key.setdefault(r["k"], []).append(r["hour"].hour)
        assert sorted(per_key["a"]) == [0, 1, 2, 3]
        assert per_key["b"] == [1]

    def test_gaps_marked_and_filled(self, spark):
        from ssis_to_dbt_spark.operators.window import gap_fill

        out = {
            (r["k"], r["hour"].hour): (r["v"], r["is_gap"])
            for r in gap_fill(
                self._obs(spark), ["k"], "hour", ["v"], "1 hour"
            ).collect()
        }
        assert out[("a", 0)] == (10.0, 0)
        assert out[("a", 1)] == (10.0, 1)  # gap carries hour 0 forward
        assert out[("a", 2)] == (10.0, 1)
        assert out[("a", 3)] == (30.0, 0)
        assert out[("b", 1)] == (99.0, 0)


class TestCountMinSketch:
    def _toks(self, spark):
        vals = ["a"] * 5 + ["b"] * 3 + ["c"] * 1 + [f"x{i}" for i in range(50)]
        return spark.createDataFrame([(v,) for v in vals], "tok string")

    def test_estimate_never_undercounts(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import cms_estimate, cms_sketch

        toks = self._toks(spark)
        probes = spark.createDataFrame(
            [("a",), ("b",), ("c",), ("absent",)], "tok string"
        )
        sk = cms_sketch(toks, "tok", depth=3, width=64)
        est = {r["tok"]: r["cms_est"]
               for r in cms_estimate(sk, probes, "tok", depth=3, width=64).collect()}
        truth = {"a": 5, "b": 3, "c": 1, "absent": 0}
        for tok, t in truth.items():
            assert est[tok] >= t, tok

    def test_merged_shards_equal_direct(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import (
            cms_estimate,
            cms_merge,
            cms_sketch,
        )
        from pyspark.sql import functions as F

        toks = self._toks(spark).withColumn(
            "half", (F.length("tok") % 2 == 0).cast("int")
        )
        probes = spark.createDataFrame([("a",), ("b",), ("x7",)], "tok string")
        direct = cms_sketch(toks, "tok", depth=3, width=64)
        merged = cms_merge(
            cms_sketch(toks.filter("half = 0"), "tok", depth=3, width=64)
            .unionByName(cms_sketch(toks.filter("half = 1"), "tok", depth=3, width=64))
        )
        d = {r["tok"]: r["cms_est"]
             for r in cms_estimate(direct, probes, "tok", depth=3, width=64).collect()}
        m = {r["tok"]: r["cms_est"]
             for r in cms_estimate(merged, probes, "tok", depth=3, width=64).collect()}
        assert d == m

    def test_sketch_size_bounded_by_depth_width(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import cms_sketch

        sk = cms_sketch(self._toks(spark), "tok", depth=3, width=16)
        assert sk.count() <= 3 * 16
        rows = sk.select("cms_row").distinct().collect()
        assert sorted(r["cms_row"] for r in rows) == [0, 1, 2]


class TestMergeAggregate:
    def test_sum_min_max_merge_exactly(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import merge_aggregate

        from decimal import Decimal as D

        schema = "k string, s decimal(18,2), n long, lo double, hi double"
        existing = spark.createDataFrame(
            [("a", D("10.50"), 2, 1.0, 9.0), ("b", D("5.25"), 1, 2.0, 2.0)],
            schema,
        )
        delta = spark.createDataFrame(
            [("a", D("0.75"), 3, 0.5, 4.0), ("c", D("7.00"), 1, 3.0, 3.0)],
            schema,
        )
        out = {
            r["k"]: (str(r["s"]), r["n"], r["lo"], r["hi"])
            for r in merge_aggregate(
                existing, delta, ["k"],
                sum_cols=["s", "n"], min_cols=["lo"], max_cols=["hi"],
            ).collect()
        }
        assert out == {
            "a": ("11.25", 5, 0.5, 9.0),
            "b": ("5.25", 1, 2.0, 2.0),
            "c": ("7.00", 1, 3.0, 3.0),
        }

    def test_dtypes_preserved_after_merge(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import merge_aggregate

        from decimal import Decimal as D

        schema = "k string, s decimal(18,2), n long"
        existing = spark.createDataFrame([("a", D("1.00"), 1)], schema)
        delta = spark.createDataFrame([("a", D("2.00"), 2)], schema)
        out = merge_aggregate(existing, delta, ["k"], sum_cols=["s", "n"])
        # Spark widens decimal sums to (28,2); the merge must cast back so
        # repeated maintenance cycles keep a stable schema
        got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert got == {"k": "string", "s": "decimal(18,2)", "n": "bigint"}

    def test_merge_equals_full_recompute(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import merge_aggregate
        from pyspark.sql import functions as F

        rows = [(i % 4, float(i)) for i in range(100)]
        df = spark.createDataFrame(rows, "k int, v double")
        agg = lambda d: d.groupBy("k").agg(  # noqa: E731
            F.sum(F.col("v").cast("decimal(18,2)")).cast("decimal(18,2)").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        full = {(r["k"]): (str(r["s"]), r["n"]) for r in agg(df).collect()}
        merged = merge_aggregate(
            agg(df.filter("v < 37")), agg(df.filter("v >= 37")),
            ["k"], sum_cols=["s", "n"],
        )
        got = {(r["k"]): (str(r["s"]), r["n"]) for r in merged.collect()}
        assert got == full


class TestRangeAggregate:
    def test_range_frame_bounds_by_value_not_rows(self, spark):
        from ssis_to_dbt_spark.operators.window import range_aggregate

        # days 0, 1, 10: the day-10 window must NOT include days 0/1
        df = spark.createDataFrame(
            [(1, 0, 5.0), (1, 1, 7.0), (1, 10, 11.0)],
            "g long, day int, v double",
        )
        out = {
            r["day"]: r["s"]
            for r in range_aggregate(
                df, ["g"], "day", "v", preceding=6, out_col="s"
            ).collect()
        }
        assert out == {0: 5.0, 1: 12.0, 10: 11.0}

    def test_peer_rows_share_frame(self, spark):
        from ssis_to_dbt_spark.operators.window import range_aggregate

        df = spark.createDataFrame(
            [(1, 5, 1.0), (1, 5, 2.0)], "g long, day int, v double"
        )
        vals = [
            r["s"]
            for r in range_aggregate(
                df, ["g"], "day", "v", preceding=0, out_col="s"
            ).collect()
        ]
        assert vals == [3.0, 3.0]


class TestHll:
    """HyperLogLog register sketch: estimate accuracy in both regimes,
    lossless shard merge, and the register table's determinism."""

    def _regs(self, spark, n, b=10):
        from ssis_to_dbt_spark.operators.aggregate import hll_registers

        df = spark.createDataFrame([(i,) for i in range(n)], "x long")
        return hll_registers(df, "x", b=b)

    def test_dense_estimate_within_tolerance(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import hll_estimate

        n = 20_000  # >> 2.5 * m: harmonic-mean regime
        est = hll_estimate(self._regs(spark, n), b=10).first()["hll_estimate"]
        # HLL std error ~ 1.04/sqrt(1024) = 3.25%; allow 4 sigma
        assert abs(est - n) / n < 0.13

    def test_sparse_linear_counting(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import hll_estimate

        r = hll_estimate(self._regs(spark, 30), b=10).first()
        assert r["hll_zeros"] > 0
        # linear counting is near-exact at this occupancy
        assert abs(r["hll_estimate"] - 30) / 30 < 0.05

    def test_merge_is_lossless(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import (
            hll_merge,
            hll_registers,
        )

        df = spark.createDataFrame(
            [(i, i % 3) for i in range(5000)], "x long, shard int"
        )
        direct = sorted(
            (r["bucket"], r["rho_max"])
            for r in hll_registers(df, "x", b=8).collect()
        )
        shards = [
            hll_registers(df.filter(F.col("shard") == s), "x", b=8)
            for s in range(3)
        ]
        merged = sorted(
            (r["bucket"], r["rho_max"])
            for r in hll_merge(shards[0].unionAll(shards[1]).unionAll(shards[2])).collect()
        )
        assert merged == direct

    def test_registers_deterministic_and_bounded(self, spark):
        a = sorted((r["bucket"], r["rho_max"]) for r in self._regs(spark, 2000, b=6).collect())
        b = sorted((r["bucket"], r["rho_max"]) for r in self._regs(spark, 2000, b=6).collect())
        assert a == b and len(a) <= 64
        assert all(0 <= bk < 64 and 1 <= rm <= 61 for bk, rm in a)

    def test_b_validation(self, spark):
        import pytest as _pt

        with _pt.raises(ValueError):
            self._regs(spark, 10, b=0)
        with _pt.raises(ValueError):
            self._regs(spark, 10, b=17)


class TestFunnel:
    """Ordered funnel: strict-after semantics, out-of-order events, repeated
    steps, and step-skip behavior on planted sequences."""

    def _df(self, spark, rows):
        from datetime import datetime

        data = [
            (u, datetime(2024, 1, 1, 0, m), t) for u, m, t in rows
        ]
        return spark.createDataFrame(
            data, "user_id long, ts timestamp, event_type string"
        )

    def test_planted_sequences(self, spark):
        from ssis_to_dbt_spark.operators.funnel import funnel

        df = self._df(spark, [
            # u1 completes in order
            (1, 0, "view"), (1, 5, "click"), (1, 9, "purchase"),
            # u2: click BEFORE view -> depth 1 (strictly-after rule)
            (2, 5, "click"), (2, 7, "view"),
            # u3: purchase before click -> depth 2, later purchase counts
            (3, 0, "view"), (3, 1, "purchase"), (3, 2, "click"),
            (3, 8, "purchase"),
            # u4: never views -> excluded
            (4, 0, "click"), (4, 1, "purchase"),
            # u5: click at SAME minute as view -> not strictly after
            (5, 3, "view"), (5, 3, "click"),
        ])
        rows = {r["user_id"]: r for r in funnel(
            df, ["view", "click", "purchase"]).collect()}
        assert rows[1]["depth"] == 3
        assert rows[1]["step_3_ts"].minute == 9
        assert rows[2]["depth"] == 1 and rows[2]["step_2_ts"] is None
        assert rows[3]["depth"] == 3 and rows[3]["step_3_ts"].minute == 8
        assert 4 not in rows
        assert rows[5]["depth"] == 1

    def test_earliest_completion(self, spark):
        from ssis_to_dbt_spark.operators.funnel import funnel

        df = self._df(spark, [
            (1, 4, "view"), (1, 2, "view"), (1, 3, "click"), (1, 6, "click"),
        ])
        r = funnel(df, ["view", "click"]).collect()[0]
        # earliest view = :02; earliest click strictly after = :03
        assert r["step_1_ts"].minute == 2 and r["step_2_ts"].minute == 3

    def test_summary_counts(self, spark):
        from ssis_to_dbt_spark.operators.funnel import funnel_summary

        df = self._df(spark, [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
            (2, 0, "view"), (2, 1, "click"),
            (3, 0, "view"),
        ])
        s = {r["step_idx"]: r["n_users"] for r in funnel_summary(
            df, ["view", "click", "purchase"]).collect()}
        assert s == {1: 3, 2: 2, 3: 1}

    def test_empty_steps_raises(self, spark):
        import pytest as _pt
        from ssis_to_dbt_spark.operators.funnel import funnel

        with _pt.raises(ValueError):
            funnel(self._df(spark, []), [])


class TestMadOutliers:
    def test_planted_outlier(self, spark):
        from ssis_to_dbt_spark.operators.quality import mad_outliers

        rows = [("a", v) for v in [10, 11, 12, 13, 14, 100]] + [
            ("b", v) for v in [5, 5, 5, 5]
        ]
        df = spark.createDataFrame(rows, "g string, x int")
        out = {r["g"]: r for r in mad_outliers(df, "x", ["g"], k=3.0).collect()}
        # group a: med=12.5, MAD=1.5 -> |100-12.5|=87.5 > 4.5 -> 1 outlier
        a = out["a"]
        assert a["med"] == 12.5 and a["mad"] == 1.5
        assert a["n_rows"] == 6 and a["n_outliers"] == 1
        # group b: identical values -> MAD 0, nothing deviates -> 0 outliers
        b = out["b"]
        assert b["mad"] == 0.0 and b["n_outliers"] == 0

    def test_mad_zero_flags_any_deviation(self, spark):
        from ssis_to_dbt_spark.operators.quality import mad_outliers

        # >50% identical: MAD collapses to 0 and every deviating row flags
        df = spark.createDataFrame(
            [("g", 7)] * 5 + [("g", 8), ("g", 6)], "g string, x int"
        )
        r = mad_outliers(df, "x", ["g"], k=3.0).collect()[0]
        assert r["mad"] == 0.0 and r["n_outliers"] == 2


class TestSortedNeighborhood:
    def test_window_pairs_and_budget(self, spark):
        from ssis_to_dbt_spark.operators.joins import sorted_neighborhood_pairs

        rows = [(i, w) for i, w in enumerate(
            ["apple", "apply", "banana", "bananb", "cherry", "zzz"])]
        df = spark.createDataFrame(rows, "id int, t string")
        pairs = sorted_neighborhood_pairs(
            df, "id", "t", F.col("t"), window=2
        ).collect()
        got = {(p["id_a"], p["id_b"]): p["distance"] for p in pairs}
        # sorted order: apple apply banana bananb cherry zzz
        assert got[(0, 1)] == 1       # apple-apply adjacent
        assert got[(2, 3)] == 1       # banana-bananb adjacent
        # budget: each record pairs with at most `window` successors
        n = len(rows)
        assert len(pairs) == (n - 1) * 2 - 1  # tail truncation: 2n-3

    def test_catches_first_token_typos_blocking_misses(self, spark):
        from ssis_to_dbt_spark.operators.joins import (
            fuzzy_pairs,
            sorted_neighborhood_pairs,
        )

        # typo in the FIRST token: first-token equi-blocking can't pair them,
        # sorted-neighborhood (adjacent in sort order) can
        df = spark.createDataFrame(
            [(1, "grean apple crate"), (2, "green apple crate")],
            "id int, t string",
        )
        blocked = fuzzy_pairs(
            df.withColumn("blk", F.split(F.col("t"), " ")[0]),
            "id", "t", "blk", max_distance=3,
        ).count()
        snm = sorted_neighborhood_pairs(
            df, "id", "t", F.col("t"), window=1, max_distance=3
        ).count()
        assert blocked == 0 and snm == 1


class TestIntervalsAndCohorts:
    def test_merge_intervals_planted(self, spark):
        from datetime import datetime

        from ssis_to_dbt_spark.operators.window import merge_intervals

        def t(m):
            return datetime(2024, 1, 1, 0, m)

        rows = [
            ("u", t(0), t(10)), ("u", t(5), t(15)),   # overlap -> one island
            ("u", t(15), t(20)),                       # touching -> merges
            ("u", t(30), t(35)),                       # gap -> new island
            ("v", t(0), t(1)),                         # other key untouched
        ]
        df = spark.createDataFrame(rows, "k string, s timestamp, e timestamp")
        out = sorted(
            (r["k"], r["island_start"].minute, r["island_end"].minute,
             r["n_intervals"])
            for r in merge_intervals(df, ["k"], "s", "e").collect()
        )
        assert out == [("u", 0, 20, 3), ("u", 30, 35, 1), ("v", 0, 1, 1)]

    def test_cohort_retention_planted(self, spark):
        from datetime import datetime

        from ssis_to_dbt_spark.operators.funnel import cohort_retention

        rows = [
            # u1 first seen week of Jan 1 (Mon), active again week of Jan 8
            (1, datetime(2024, 1, 2)), (1, datetime(2024, 1, 10)),
            # u2 first seen week of Jan 8 only
            (2, datetime(2024, 1, 9)),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = {
            (r["cohort"].day, r["period"].day): (r["period_idx"], r["n_users"])
            for r in cohort_retention(df).collect()
        }
        # cohorts truncate to Mondays: Jan 1 and Jan 8
        assert out[(1, 1)] == (0, 1)   # u1 week 0
        assert out[(1, 8)] == (1, 1)   # u1 retained in week 1
        assert out[(8, 8)] == (0, 1)   # u2 week 0


class TestCubeAggregate:
    def test_all_grains_present(self, spark):
        from ssis_to_dbt_spark.operators import cube_aggregate

        df = spark.createDataFrame(
            [("x", "p", 1), ("x", "q", 2), ("y", "p", 4)],
            "a string, b string, v int",
        )
        out = {
            (r["a"], r["b"], r["grouping_level"]): r["n"]
            for r in cube_aggregate(
                df, ["a", "b"], {"n": F.sum("v").cast("long")}
            ).collect()
        }
        assert out[("x", "p", 0)] == 1 and out[("y", "p", 0)] == 4
        assert out[("x", None, 1)] == 3          # a-only grain
        assert out[(None, "p", 2)] == 5          # b-only grain (cube != rollup)
        assert out[(None, None, 3)] == 7         # grand total
        assert len(out) == 8


class TestQuantileBuckets:
    def test_tertiles_planted(self, spark):
        from ssis_to_dbt_spark.operators.sampling import quantile_buckets

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 10)], "id int, score double"
        )
        out = {r["id"]: r["bucket"] for r in quantile_buckets(
            df, "score", 3).collect()}
        # cutoffs at exact percentiles of 1..9: q1/3 = 3.666.., q2/3 = 6.333..
        assert [out[i] for i in range(1, 10)] == [1, 1, 1, 2, 2, 2, 3, 3, 3]

    def test_boundary_inclusive_lower(self, spark):
        from ssis_to_dbt_spark.operators.sampling import quantile_buckets

        # 4 identical + 2 larger: q1/3 == the repeated value -> ties go DOWN
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate([5.0] * 4 + [9.0, 10.0])],
            "id int, score double",
        )
        out = quantile_buckets(df, "score", 3).collect()
        assert all(r["bucket"] == 1 for r in out if r["score"] == 5.0)

    def test_validation(self, spark):
        import pytest as _pt

        from ssis_to_dbt_spark.operators.sampling import quantile_buckets

        df = spark.createDataFrame([(1, 1.0)], "id int, score double")
        with _pt.raises(ValueError):
            quantile_buckets(df, "score", 1)


class TestTemperatureMixture:
    def test_flattens_dominant_group(self, spark):
        rows = [(i, "big") for i in range(400)] + [
            (i, "small") for i in range(400, 425)
        ]
        df = spark.createDataFrame(rows, "k int, g string")

        from ssis_to_dbt_spark.operators.sampling import temperature_mixture

        out = temperature_mixture(df, "g", "k")
        by_g = {
            r["g"]: r["n"]
            for r in out.groupBy("g").count().withColumnRenamed(
                "count", "n"
            ).collect()
        }
        # weights: floor(sqrt(400))=20, floor(sqrt(25))=5 -> 4:1 target vs
        # the raw 16:1 — the dominant group must be flattened toward it
        assert set(by_g) == {"big", "small"}, "every group stays represented"
        raw_ratio = 400 / 25
        kept_ratio = by_g["big"] / by_g["small"]
        assert kept_ratio < raw_ratio / 2
        # never upsample: kept <= group size
        assert by_g["big"] <= 400 and by_g["small"] <= 25

    def test_deterministic_and_partition_invariant(self, spark):
        rows = [(i, "a" if i % 3 else "b") for i in range(300)]
        df = spark.createDataFrame(rows, "k int, g string")

        from ssis_to_dbt_spark.operators.sampling import temperature_mixture

        first = sorted(r["k"] for r in temperature_mixture(df, "g", "k").collect())
        second = sorted(
            r["k"]
            for r in temperature_mixture(df.repartition(7), "g", "k").collect()
        )
        assert first == second  # content-addressed membership

    def test_membership_is_subset(self, spark):
        rows = [(i, "x") for i in range(50)]
        df = spark.createDataFrame(rows, "k int, g string")

        from ssis_to_dbt_spark.operators.sampling import temperature_mixture

        kept = {r["k"] for r in temperature_mixture(df, "g", "k").collect()}
        assert kept <= set(range(50))


class TestTimeDecayScore:
    def test_exact_closed_form(self, spark):
        from datetime import datetime

        from ssis_to_dbt_spark.operators.window import time_decay_score

        rows = [
            (1, datetime(2024, 1, 1, 10, 0), 100, 1.5),
            (1, datetime(2024, 1, 1, 11, 0), 101, 2.0),   # newest for user 1
            (2, datetime(2024, 1, 1, 9, 0), 102, 4.0),    # single event
        ]
        df = spark.createDataFrame(
            rows, "user_id int, ts timestamp, event_id int, value double"
        )
        out = {
            r["user_id"]: r
            for r in time_decay_score(
                df, ["user_id"], ["ts", "event_id"], "value", depth=16
            ).collect()
        }
        # user 1: newest (2.0 -> 20000 units) << 15, older (1.5) << 14
        assert out[1]["score_units"] == 20000 * (1 << 15) + 15000 * (1 << 14)
        assert out[1]["n_events"] == 2
        assert out[1]["last_ts"] == datetime(2024, 1, 1, 11, 0)
        assert out[2]["score_units"] == 40000 * (1 << 15)

    def test_depth_truncation_and_tie_order(self, spark):
        from datetime import datetime

        from ssis_to_dbt_spark.operators.window import time_decay_score

        ts = datetime(2024, 1, 1)
        # 5 same-timestamp events: event_id desc decides recency
        rows = [(1, ts, i, 1.0) for i in range(5)]
        df = spark.createDataFrame(
            rows, "user_id int, ts timestamp, event_id int, value double"
        )
        [r] = time_decay_score(
            df, ["user_id"], ["ts", "event_id"], "value", depth=3
        ).collect()
        # only the 3 newest (event_id 4, 3, 2) survive the depth cut
        assert r["n_events"] == 3
        assert r["score_units"] == 10000 * ((1 << 2) + (1 << 1) + 1)

    def test_depth_guard(self, spark):
        import pytest as _pt

        from ssis_to_dbt_spark.operators.window import time_decay_score

        df = spark.createDataFrame(
            [(1, 1, 1, 1.0)], "user_id int, ts int, event_id int, value double"
        )
        for bad in (0, 63):
            with _pt.raises(ValueError):
                time_decay_score(
                    df, ["user_id"], ["ts", "event_id"], "value", depth=bad
                )

    def test_value_out_of_range_raises_not_nulls(self, spark):
        """Non-ANSI Spark would cast an over-range value to NULL and
        silently drop its contribution; the range guard must raise
        instead (ADVICE r6)."""
        import pytest as _pt

        from ssis_to_dbt_spark.operators.window import time_decay_score

        # 1e15 overflows DECIMAL(18,4) entirely
        df = spark.createDataFrame(
            [(1, 1, 1, 1.0e15)],
            "user_id int, ts int, event_id int, value double",
        )
        with _pt.raises(Exception, match="exact-BIGINT range"):
            time_decay_score(
                df, ["user_id"], ["ts", "event_id"], "value", depth=16
            ).collect()
        # fits the decimal but busts the shift budget at depth=62
        # (bound is 2^(62-62) = 1 unit; 0.0002 quantizes to 2 units)
        df2 = spark.createDataFrame(
            [(1, 1, 1, 0.0002)],
            "user_id int, ts int, event_id int, value double",
        )
        with _pt.raises(Exception, match="exact-BIGINT range"):
            time_decay_score(
                df2, ["user_id"], ["ts", "event_id"], "value", depth=62
            ).collect()

    def test_null_values_contribute_nothing(self, spark):
        from ssis_to_dbt_spark.operators.window import time_decay_score

        df = spark.createDataFrame(
            [(1, 1, 1, None), (1, 2, 2, 1.0)],
            "user_id int, ts int, event_id int, value double",
        )
        [r] = time_decay_score(
            df, ["user_id"], ["ts", "event_id"], "value", depth=4
        ).collect()
        # newest (1.0 -> 10000 units) << 3; the NULL row ranks but adds 0
        assert r["score_units"] == 10000 * (1 << 3)
        assert r["n_events"] == 2


class TestDistributedGlobalRank:
    """r9: the exact global rank without a single-partition window —
    range-partitioned bucket-local ranking must reproduce the window
    form bit-for-bit and carry no empty-frame Window in its plan."""

    def test_matches_single_partition_window(self, spark):
        from pyspark.sql import Window

        from ssis_to_dbt_spark.operators.window import (
            distributed_global_rank,
        )

        df = spark.createDataFrame(
            [(i, f"k{(i * 37) % 97:02d}") for i in range(500)],
            "id long, key string",
        ).repartition(13)
        want = {
            (r["id"], r["key"]): r["rn"]
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("key", "id"))
            ).collect()
        }
        got = {
            (r["id"], r["key"]): r["_rn"]
            for r in distributed_global_rank(
                df, ["key", "id"], num_partitions=7
            ).collect()
        }
        assert got == want

    def test_sorted_neighborhood_engines_identical(self, spark, monkeypatch):
        from ssis_to_dbt_spark.operators import joins
        from ssis_to_dbt_spark.operators.joins import (
            sorted_neighborhood_pairs,
        )

        df = spark.createDataFrame(
            [(i, f"part name {(i * 13) % 41}") for i in range(200)],
            "id long, name string",
        )
        key = F.substring("name", 1, 8)
        a = sorted(map(tuple, sorted_neighborhood_pairs(
            df, "id", "name", key, window=3
        ).collect()))
        # a zero threshold puts any measured count in the distributed regime
        monkeypatch.setattr(joins, "SNB_WINDOW_RANK_MAX_ROWS", 0)
        b = sorted(map(tuple, sorted_neighborhood_pairs(
            df, "id", "name", key, window=3
        ).collect()))
        assert a == b and len(a) > 0

    def test_distributed_plan_has_no_global_window(self, spark):
        from ssis_to_dbt_spark.operators.window import (
            distributed_global_rank,
        )

        df = spark.range(1000).selectExpr("id", "id % 7 AS k")
        out = distributed_global_rank(df, ["k", "id"], num_partitions=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the ranking window partitions by _pid — never an empty frame
        assert "partitionBy" not in plan or "_pid" in plan
        assert "SinglePartition" not in plan.split("Window")[-1][:400]

    def test_auto_rank_engine_measures_and_switches(self, spark, monkeypatch):
        """r10 (r9 VERDICT #3): sorted_neighborhood_pairs measures the row
        count — below the threshold it plans the single-partition window;
        above it (threshold forced to 0) the distributed rank, with no
        empty-frame global Window in the plan.  Both regimes
        value-identical."""
        from ssis_to_dbt_spark.operators import joins
        from ssis_to_dbt_spark.operators.joins import (
            sorted_neighborhood_pairs,
        )

        df = spark.createDataFrame(
            [(i, f"part name {(i * 13) % 41}") for i in range(200)],
            "id long, name string",
        )
        key = F.substring("name", 1, 8)
        small = sorted_neighborhood_pairs(df, "id", "name", key, window=3)
        plan_small = small._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" in plan_small  # window regime chosen
        monkeypatch.setattr(joins, "SNB_WINDOW_RANK_MAX_ROWS", 0)
        big = sorted_neighborhood_pairs(df, "id", "name", key, window=3)
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        # distributed regime: any Window node keys on the bucket id
        for seg in plan_big.split("Window")[1:]:
            assert "SinglePartition" not in seg[:400]
        assert sorted(map(tuple, small.collect())) == sorted(
            map(tuple, big.collect())
        )


class TestSchemaTestsCi:
    """r11: dbt schema tests under CI-server collation — unique treats
    case variants as duplicates, relationships matches parents
    case-insensitively, accepted_values folds both sides."""

    def test_unique_relationships_accepted_values(self, spark):
        from ssis_to_dbt_spark.operators.quality import (
            accepted_values_violations,
            relationship_violations,
            unique_violations,
        )

        df = spark.createDataFrame(
            [(1, "Alpha"), (2, "ALPHA"), (3, "beta"), (4, None)],
            "id int, seg string",
        )
        assert unique_violations(df, "seg").count() == 0  # CS: all distinct
        assert [r["seg"] for r in unique_violations(df, "seg", ci=True)
                .collect()] == ["alpha"]

        parent = spark.createDataFrame([("alpha",), ("BETA",)], "seg string")
        cs = relationship_violations(df, parent, "seg", "seg")
        assert {r["id"] for r in cs.collect()} == {1, 2, 3}
        ci = relationship_violations(df, parent, "seg", "seg", ci=True)
        assert ci.count() == 0  # NULL fk exempt, rest match under fold

        av_cs = accepted_values_violations(df, "seg", ["alpha", "beta"])
        assert {r["id"] for r in av_cs.collect()} == {1, 2, 4}
        av_ci = accepted_values_violations(
            df, "seg", ["Alpha", "Beta"], ci=True
        )
        assert {r["id"] for r in av_ci.collect()} == {4}  # NULL only


class TestMergeUpsertCi:
    """r11: SCD2 upsert under CI collation — a re-crawled case-variant
    key must update the existing dimension row, not open a duplicate
    current row beside it."""

    def test_case_variant_updates_instead_of_duplicating(self, spark):
        from ssis_to_dbt_spark.operators.scd import (
            merge_upsert,
            merge_upsert_sql,
            scd2_snapshot,
        )

        base = spark.createDataFrame(
            [("Acme", "NY", "2020-01-01")],
            "ck string, attr string, eff string",
        ).withColumn("eff", F.col("eff").cast("timestamp"))
        target = scd2_snapshot(base, "ck", ["attr"], "eff")
        batch = spark.createDataFrame(
            [("ACME", "SF", "2020-06-01")],
            "ck string, attr string, eff string",
        ).withColumn("eff", F.col("eff").cast("timestamp"))

        # case-sensitive: 'ACME' looks new -> TWO current rows
        cs = merge_upsert(target, batch, "ck", ["attr"], "eff")
        assert cs.filter("is_current").count() == 2

        # CI: the variant closes out 'Acme' and inserts one current row
        ci = merge_upsert(target, batch, "ck", ["attr"], "eff", ci=True)
        rows = ci.collect()
        cur = [r for r in rows if r["is_current"]]
        closed = [r for r in rows if not r["is_current"]]
        assert [(r["ck"], r["attr"]) for r in cur] == [("ACME", "SF")]
        assert [(r["ck"], str(r["valid_to"])) for r in closed] == [
            ("Acme", "2020-06-01")
        ]
        # unchanged CI re-send: no new version
        same = spark.createDataFrame(
            [("acme", "SF", "2020-09-01")],
            "ck string, attr string, eff string",
        ).withColumn("eff", F.col("eff").cast("timestamp"))
        again = merge_upsert(ci, same, "ck", ["attr"], "eff", ci=True)
        assert again.filter("is_current").count() == 1
        assert again.count() == 2

        # MERGE INTO form folds the ON clause the same way
        close, _ = merge_upsert_sql(
            "d", "s", "ck", "eff", ["ck"], ci=True
        )
        assert "LOWER(t.ck) = LOWER(s.ck)" in close


class TestShuffleShards:
    """r11: deterministic global shuffle into training shards."""

    def test_reproducible_and_seed_sensitive(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.operators.sampling import shuffle_shards

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id")
        a = sorted(map(tuple, shuffle_shards(docs, "doc_id").collect()))
        b = sorted(map(tuple, shuffle_shards(docs, "doc_id").collect()))
        assert a == b  # same seed -> identical layout
        c = sorted(
            map(tuple, shuffle_shards(docs, "doc_id", seed="s1").collect())
        )
        assert a != c  # new seed -> new order
        out = shuffle_shards(docs, "doc_id", n_shards=8)
        # every row kept, positions dense from 1 within each shard
        assert out.count() == docs.count()
        per = {
            r["shard"]: (r["n"], r["mx"])
            for r in out.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n"), F.max("pos").alias("mx"))
            .collect()
        }
        assert set(per) == set(range(8))
        for n, mx in per.values():
            assert n == mx  # dense row numbers
        # hash sharding is roughly balanced at 500/8 rows
        sizes = [n for n, _ in per.values()]
        assert max(sizes) < 2.5 * min(sizes)
