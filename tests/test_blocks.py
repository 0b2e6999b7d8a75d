"""Engine-owned localCheckpoint block lifecycle (r15; r14 VERDICT #5).

These tests pin the ENGINE's own behavior: a catalog query's checkpoint
blocks are released when the next top-level query is built, nested
builders share the outer scope, in-builder supersession releases eagerly,
and the SPARK_GRAFT_KEEP_BLOCKS escape hatch keeps everything pinned.
"""

from __future__ import annotations

import pytest

from ssis_to_dbt_spark import blocks


def _persistent_ids(spark) -> set[int]:
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keys()
    }


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    # tests elsewhere may have leaked blocks into the shared session;
    # start and end each test with none pending and none persistent
    blocks.release_pending()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.rdd().unpersist(False)
    yield
    blocks.release_pending()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.rdd().unpersist(False)


class TestScopedCheckpoint:
    def test_scope_releases_previous_query_blocks(self, spark):
        df = spark.range(50).selectExpr("id", "id * 2 AS y")

        with blocks.query_scope():
            ck = blocks.checkpoint(df)  # eager: blocks exist now
            assert ck.count() == 50
        assert _persistent_ids(spark), "eager checkpoint should pin blocks"

        # blocks survive the scope exit (the consumer runs after the
        # builder returns) and die when the NEXT query scope begins
        with blocks.query_scope():
            assert _persistent_ids(spark) == set()

    def test_lazy_checkpoint_released_after_consumption(self, spark):
        df = spark.range(30)
        with blocks.query_scope():
            ck = blocks.checkpoint(df, eager=False)
        assert ck.count() == 30  # consumer materializes
        assert _persistent_ids(spark)
        with blocks.query_scope():
            assert _persistent_ids(spark) == set()

    def test_nested_scope_shares_outer(self, spark):
        df = spark.range(10)
        with blocks.query_scope():
            with blocks.query_scope():  # nested builder
                blocks.checkpoint(df)
            # inner exit must NOT queue a release of its own
            assert _persistent_ids(spark)
        with blocks.query_scope():
            assert _persistent_ids(spark) == set()

    def test_release_is_immediate(self, spark):
        df = spark.range(20)
        with blocks.query_scope():
            ck = blocks.checkpoint(df)
            assert _persistent_ids(spark)
            blocks.release(ck)
            assert _persistent_ids(spark) == set()

    def test_no_scope_degrades_to_plain_checkpoint(self, spark):
        ck = blocks.checkpoint(spark.range(5))
        assert ck.count() == 5
        assert _persistent_ids(spark)  # pinned: caller owns cleanup
        # and a later scope entry does NOT touch unregistered blocks
        with blocks.query_scope():
            assert _persistent_ids(spark)

    def test_keep_blocks_escape_hatch(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_KEEP_BLOCKS", "1")
        df = spark.range(15)
        with blocks.query_scope():
            ck = blocks.checkpoint(df)
            blocks.release(ck)  # no-op under the hatch
            assert _persistent_ids(spark)
        with blocks.query_scope():
            assert _persistent_ids(spark)  # still pinned

    def test_release_tolerates_non_checkpoint_frames(self, spark):
        blocks.release(None)
        blocks.release(spark.range(3))  # plain plan: no LogicalRDD


class TestCatalogScope:
    SF = "/root/testdata/sf0.001"

    def test_catalog_query_blocks_released_at_next_query(self, spark):
        from ssis_to_dbt_spark import catalog
        from ssis_to_dbt_spark.session import tune_for_correctness

        tune_for_correctness(spark)
        # winnow_docs declares a lazy checkpoint feeding both arms
        df = catalog.ALL_QUERIES["winnow_docs"](spark, self.SF)
        df.write.format("noop").mode("overwrite").save()
        leaked = _persistent_ids(spark)
        assert leaked, "winnow_docs should have checkpointed its fp pass"

        # building the NEXT catalog query releases the previous one's
        # blocks — the engine-owned lifecycle the bench scrub used to do
        df2 = catalog.ALL_QUERIES["exact_dedup_docs"](spark, self.SF)
        assert _persistent_ids(spark).isdisjoint(leaked)
        df2.write.format("noop").mode("overwrite").save()

    def test_catalog_scratch_dirs_reaped_at_next_query(self, spark):
        import glob
        import os
        import shutil
        import tempfile

        from ssis_to_dbt_spark import catalog

        pattern = os.path.join(tempfile.gettempdir(), "ssis_rt_append_*")
        before = set(glob.glob(pattern))
        df = catalog.ALL_QUERIES["roundtrip_append"](spark, self.SF)
        assert df.count() > 0
        (made,) = set(glob.glob(pattern)) - before
        assert os.path.isdir(made)  # the consumer above still needed it

        # building the next catalog query reaps the previous one's dir
        catalog.ALL_QUERIES["stg_sales_transactions"](spark, self.SF)
        assert not os.path.exists(made)

        # a direct call outside any scope leaves its dir to the caller
        assert catalog.q_roundtrip_append(spark, self.SF).count() > 0
        (direct,) = set(glob.glob(pattern)) - before
        catalog.ALL_QUERIES["stg_sales_transactions"](spark, self.SF)
        assert os.path.isdir(direct)
        shutil.rmtree(direct)
