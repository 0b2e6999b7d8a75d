"""Plan-shape regression tests — the 100 TB performance contract.

These assert the PHYSICAL plan properties the engine's scale story depends
on; a change that silently turns a broadcast join into a shuffle join or
un-pushes a filter fails here, not in production.
"""

import pytest
from pyspark.sql import functions as F

from ssis_to_dbt_spark import catalog

SF = "/root/testdata/sf0.001"


def plan_of(spark, name, mode="formatted"):
    df = catalog.ALL_QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


class TestPlanShapes:
    def test_staging_filter_pushed_to_scan(self, spark):
        plan = plan_of(spark, "stg_sales_transactions")
        assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,N)]" in plan

    def test_staging_single_codegen_stage(self, spark):
        # scan -> filter -> project collapses into one codegen pipeline
        plan = plan_of(spark, "stg_sales_transactions", "simple")
        # "*(1)" markers = codegen stage ids; exactly one stage, id 1
        assert "*(1) Project" in plan and "*(2)" not in plan

    def test_star_join_broadcasts_dims_fact_never_shuffles(self, spark):
        plan = plan_of(spark, "fct_sales_star", "simple")
        assert plan.count("BroadcastHashJoin") == 3
        assert "Exchange hashpartitioning" not in plan
        # dim filters pushed into the dim scans, not applied post-join
        assert "GreaterThan(c_acctbal,0.0)" in plan

    def test_star_join_prunes_dim_columns_before_broadcast(self, spark):
        plan = plan_of(spark, "fct_sales_star")
        # customer scan must read only the 3 needed columns, not all 5
        assert "ReadSchema: struct<c_custkey:bigint,c_acctbal:double,c_mktsegment:string>" in plan

    def test_aggregate_has_mapside_partial(self, spark):
        plan = plan_of(spark, "agg_daily_sales", "simple")
        assert "partial_sum" in plan
        assert plan.count("Exchange") == 1  # exactly one shuffle, on group keys

    def test_topk_uses_take_ordered_not_global_sort(self, spark):
        plan = plan_of(spark, "top_events", "simple")
        assert "TakeOrderedAndProject" in plan
        assert "Sort [" not in plan  # no full sort of the table

    def test_semi_join_stays_semi(self, spark):
        plan = plan_of(spark, "orders_semi_join", "simple")
        assert "LeftSemi" in plan

    def test_scd2_single_shuffle_on_natural_key(self, spark):
        # window partitionBy o_custkey: dedupe + lag + row_number + lead all
        # reuse one hash partitioning on the natural key
        plan = plan_of(spark, "dim_customer_scd2", "simple")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_lookup_no_python_udfs_anywhere_on_hot_paths(self, spark):
        for name in ["stg_sales_transactions", "fct_sales_star", "agg_daily_sales",
                     "dim_customer_scd2", "events_tumbling_10min"]:
            plan = plan_of(spark, name, "simple")
            assert "BatchEvalPython" not in plan, name
            assert "PythonUDF" not in plan, name

    def test_minhash_is_single_agg_shuffle_then_band_join(self, spark):
        plan = plan_of(spark, "minhash_pairs_docs", "simple")
        # signature build: one explode + one aggregate on doc_id; banding is
        # an equi-join (SMJ or shuffled hash on band hash) — NO cartesian
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the band-bucket cap (round 6): a row_number window over
        # (band_idx, band_hash) bounds every bucket's pair generation.  A
        # map-side WindowGroupLimit pre-trim is deliberately NOT forced via
        # spark.sql.optimizer.windowGroupLimitThreshold: measured at sf0.1
        # it costs ~12% on minhash (rank maintenance sorts every partition)
        # while the scale protection — the post-shuffle cap on the join
        # input — is this Window regardless
        assert plan.count("row_number()") >= 2  # both band sides capped

    def test_knn_join_two_phase_topk(self, spark):
        # phase 1 must rank within (query_id, _salt) so the full scored pair
        # set never funnels into n_queries partitions; phase 2 ranks only the
        # rank-filtered survivors — two Window nodes, and the salt key present
        # in a hash exchange
        plan = plan_of(spark, "knn_join_embeddings", "simple")
        assert plan.count("+- Window ") == 2
        assert "_salt" in plan
        # the corpus side itself is never hash-exchanged before scoring: the
        # only exchanges are the two window ones
        assert plan.count("Exchange hashpartitioning") == 2
        # Spark inserts Partial WindowGroupLimit before each exchange, so a
        # map task emits at most k rows per (query, salt) group — the shuffle
        # never carries the full scored pair set
        assert plan.count("row_number(), 5, Partial") == 2

    def test_window_family_collapses_to_one_exchange(self, spark):
        # four window expressions (rank, running sum, lag, moving sum) over
        # one (partition, order) spec must share a single Window node behind
        # a single hash exchange — the W-family scale contract
        plan = plan_of(spark, "window_customer_orders", "simple")
        assert plan.count("Window") == 1
        assert plan.count("Exchange") == 1
        assert plan.count("Sort") == 1

    def test_ivf_assignment_is_mapside_only(self, spark):
        # cell assignment must be a pure linear scan: literal centroids,
        # argmax projection, zero exchanges — the property that lets a
        # cell-partitioned rewrite turn probes into partition pruning
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import ivf_assign, ivf_centroids

        emb = testdata(spark, SF)["embeddings"]
        cents = ivf_centroids(emb, n_cells=4)
        plan = ivf_assign(emb, cents)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_text_analysis_is_mapside_only(self, spark):
        # all twelve signals (incl. the round-5 repetition/quality columns)
        # must stay one shuffle-free projection over the document scan —
        # the property that makes the curation pass linear in bytes at 100 TB
        plan = plan_of(spark, "text_analysis_docs", "simple")
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_ivf_topk_probe_ends_in_take_ordered(self, spark):
        plan = plan_of(spark, "ivf_topk_embeddings", "simple")
        assert "TakeOrderedAndProject" in plan
        assert "Exchange hashpartitioning" not in plan

    def test_range_join_is_hash_join_not_bnlj(self, spark):
        # the whole point of the bucketized rewrite: the inequality join must
        # NOT plan as BroadcastNestedLoopJoin (per-key pair blowup)
        plan = plan_of(spark, "range_join_sessions", "simple")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_asof_join_single_exchange_no_pair_blowup(self, spark):
        # union+window form: NO join operator exists at all — the only
        # exchanges are the query's own purchase dedup agg (user_id, ts) and
        # the single window shuffle on user_id that implements the as-of
        plan = plan_of(spark, "asof_attribution", "simple")
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "last(_asof_payload" in plan

    def test_bloom_prefilter_fact_side_never_shuffles(self, spark):
        # the bit-set rides a 1-row broadcast; the orders scan must reach the
        # filter through map-side ops only (no Exchange hashpartitioning of
        # the fact table anywhere before aggregation)
        plan = plan_of(spark, "bloom_orders", "simple")
        assert "BroadcastNestedLoopJoin" in plan  # 1-row bit-set crossJoin
        # zero hash shuffles anywhere: the only exchanges are the two scalar
        # single-partition aggs (bloom build, final metrics) + broadcasts
        assert "Exchange hashpartitioning" not in plan
        assert plan.count("Exchange SinglePartition") == 2

    def test_decontaminate_eval_shingles_broadcast(self, spark):
        # training side must meet the eval set in a BroadcastHashJoin — a
        # shuffled join here would move the whole exploded training corpus
        plan = plan_of(spark, "decontam_docs", "simple")
        assert "BroadcastHashJoin" in plan
        # exactly two hash shuffles, NEITHER moving the training corpus: the
        # eval-side shingle distinct (tiny by construction) and the final
        # n_shared groupBy on doc_id (post-join survivors only)
        assert plan.count("Exchange hashpartitioning(sh") == 1
        assert plan.count("Exchange hashpartitioning(doc_id") == 1
        assert plan.count("Exchange hashpartitioning") == 2

    def test_pack_sequences_windows_partition_by_bucket(self, spark):
        # one shuffle total, keyed by the 16-way hash bucket — NO
        # single-partition global sort (the serialize-everything trap)
        plan = plan_of(spark, "pack_docs", "simple")
        assert plan.count("Exchange hashpartitioning(_bucket") == 1
        assert "Exchange SinglePartition" not in plan

    def test_semdedup_pairs_confined_to_cell_group(self, spark):
        # Arrow kernel: map-only Arrow assignment, then exactly ONE hash
        # exchange keyed on the cell id into the grouped per-cell pair
        # kernel — never an all-pairs cartesian/BNLJ, and pairs never
        # materialize as Spark rows at all
        plan = plan_of(spark, "semdedup_embeddings", "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "FlatMapGroupsInPandas" in plan, plan
        assert "Exchange hashpartitioning(cell" in plan, plan

    def test_semdedup_expr_engine_pairs_confined_to_cell_equijoin(self, spark):
        # expression reference (the differential twin): the within-cell
        # self-join must be an equi-join keyed on the cell id — never an
        # unkeyed pair join
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text.similarity import (
            _semdedup_expr,
            ivf_centroids,
        )

        emb = testdata(spark, SF)["embeddings"]
        plan = _semdedup_expr(
            emb, 0.3, "vec_id", "embedding", ivf_centroids(emb, 4)
        )._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert (
            "Join [cell" in plan
            or "BroadcastHashJoin [cell" in plan
            or "SortMergeJoin [cell" in plan
            or "ShuffledHashJoin [cell" in plan
        ), plan

    def test_apply_changes_snapshot_never_shuffles(self, spark):
        # the snapshot meets the collapsed changelog in a key anti-join
        # (broadcast here: the changelog is the small side); the only hash
        # exchanges are the changelog's own last-change windows — the
        # changelog subtree is evaluated once per consumer (keys for the
        # anti-join, payload for the upserts), which re-windows the SMALL
        # side twice rather than ever shuffling the big snapshot
        plan = plan_of(spark, "cdc_apply_orders", "simple")
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("Exchange hashpartitioning") == 2
        # WindowGroupLimit caps each map task at 1 row per key before the
        # exchange, so even the changelog shuffle carries ~|keys| rows
        assert "WindowGroupLimit" in plan

    def test_gap_fill_single_window_no_cartesian(self, spark):
        # grid generation is a span agg + map-side sequence explode; the
        # carry-forward is exactly ONE window (one shuffle on the keys)
        plan = plan_of(spark, "gap_fill_events", "simple")
        assert plan.count("Window") == 1
        assert "Generate explode" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_weighted_sample_take_ordered(self, spark):
        # ticket generation is map-only; selection must be
        # TakeOrderedAndProject (k per partition + k-row driver merge),
        # never a global sort
        plan = plan_of(spark, "weighted_sample_docs", "simple")
        assert "TakeOrderedAndProject" in plan
        assert "Exchange hashpartitioning" not in plan

    def test_mixture_sample_corpus_filter_is_mapside(self, spark):
        # per-group thresholds broadcast back; the documents scan reaches its
        # filter without being hash-shuffled (only the tiny counts agg may
        # shuffle)
        plan = plan_of(spark, "mixture_docs", "simple")
        assert "BroadcastHashJoin" in plan
        # the only hashpartitioning exchanges operate on the counts agg
        # (grouping by lang), never on doc_id
        for frag in plan.split("Exchange hashpartitioning"):
            assert not frag.startswith("(doc_id")

    def test_resize_chain_is_map_only(self, spark):
        # encode -> resize -> decode is a single map-only mapInPandas chain:
        # no exchange of any kind, three Python-runner stages
        plan = plan_of(spark, "resize_bmp_stats", "simple")
        assert "Exchange" not in plan
        assert plan.count("MapInPandas") == 3

    def test_source_cap_single_window_exchange(self, spark):
        # the per-domain cap is ONE window exchange on source with a
        # row_number counter — no sort beyond the window's own, no join;
        # rank-limit pushdown must plant a PARTIAL WindowGroupLimit BEFORE
        # the exchange so heavy domains are trimmed map-side
        plan = plan_of(spark, "source_cap_docs", "simple")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Exchange hashpartitioning(source" in plan
        assert "Join" not in plan
        pre_exchange = plan.split("Exchange hashpartitioning")[1]
        assert "WindowGroupLimit" in pre_exchange and "Partial" in pre_exchange


class TestRound6PlanShapes:
    """Plan contracts for the round-6 operators: gopher battery and
    winnowing fingerprints are map-only; funnel is a single shuffle;
    HLL register state is one partial-aggregated exchange."""

    def test_gopher_battery_is_mapside_only(self, spark):
        plan = plan_of(spark, "gopher_quality_docs", "simple")
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_winnow_fingerprints_map_only_and_jvm_side(self, spark):
        # the expression reference of winnow_fingerprints (the public
        # Arrow kernel's plan is pinned by test_winnow_arrow_map_only)
        from ssis_to_dbt_spark.text.dedup import _winnow_fingerprints_expr

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = _winnow_fingerprints_expr(docs)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_funnel_single_shuffle(self, spark):
        from ssis_to_dbt_spark.operators.funnel import funnel

        ev = spark.read.parquet(f"{SF}/events.parquet")
        plan = funnel(ev, ["view", "click", "purchase"])._jdf.queryExecution(
        ).explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert plan.count("Exchange hashpartitioning") == 1
        # step-type filter must reach the scan
        assert "PushedFilters: [In(event_type" in plan.replace("\n", " ") or \
            "event_type" in plan.split("PushedFilters")[1][:200]

    def test_hll_registers_partial_agg(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import hll_registers

        ev = spark.read.parquet(f"{SF}/events.parquet")
        plan = hll_registers(ev, "user_id", b=10)._jdf.queryExecution(
        ).explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        # map-side partial max before the single register exchange
        assert plan.count("Exchange hashpartitioning") == 1
        assert "partial_max" in plan or "HashAggregate" in plan


class TestRound6PlanShapesB:
    """Second-batch round-6 plan contracts: projection is map-only,
    interval merge shares one exchange across windows + groupBy, hard
    negatives broadcast the query side."""

    def _plan(self, spark, df, mode="simple"):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )

    def test_projection_map_only(self, spark):
        from ssis_to_dbt_spark.text.similarity import project_embeddings

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = self._plan(spark, project_embeddings(emb, out_dim=4, dims=64))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_merge_intervals_single_exchange(self, spark):
        from ssis_to_dbt_spark.operators.window import merge_intervals

        ev = spark.read.parquet(f"{SF}/events.parquet").select(
            "user_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
        )
        plan = self._plan(spark, merge_intervals(ev, ["user_id"], "s", "e"))
        # both windows and the island groupBy ride the user_id partitioning
        assert plan.count("Exchange hashpartitioning") == 1

    def test_hard_negatives_broadcasts_queries(self, spark):
        from ssis_to_dbt_spark.text.similarity import hard_negatives

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = self._plan(
            spark,
            hard_negatives(
                emb, queries=emb.filter(F.col("vec_id") % 50 == 0)
            ),
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # corpus side itself never hash-shuffles before scoring; the only
        # hash exchange is the per-query top-k window
        assert plan.count("Exchange hashpartitioning") == 1


class TestRound7PlanShapes:
    """Round-7 plan contracts: the pair-sized side of the split-leakage
    audit and the batch side of cross-corpus dedup are PINNED broadcasts —
    the 100x-scale plan must not depend on AQE runtime stats when the
    small side is known small by construction."""

    def _plan(self, spark, df, mode="simple"):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )

    def test_split_leakage_pairs_broadcast_both_joins(self, spark):
        plan = plan_of(spark, "split_leakage_docs", "simple")
        # two split-table attachments (doc_a, doc_b), both as broadcasts of
        # the pair-derived side — the corpus split table never shuffles for
        # the pair tagging
        assert plan.count("BroadcastHashJoin") >= 2

    def test_cross_corpus_batch_side_broadcasts(self, spark):
        from ssis_to_dbt_spark.text.dedup import cross_corpus_candidates

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        batch = docs.filter(F.col("doc_id") % 17 == 0)
        corpus = docs.filter(F.col("doc_id") % 17 != 0)
        plan = self._plan(
            spark, cross_corpus_candidates(batch, corpus)
        )
        # band join + both signature re-attachments: the batch/pair side is
        # always the broadcast build side; the corpus side of each join
        # must not appear below an Exchange hashpartitioning introduced by
        # a sort-merge join (its only exchanges are its own banding aggs)
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan


class TestArrowKernelPlanShapes:
    """The round-7 Arrow kernels must stay map-only: exactly one
    ArrowEvalPython-family stage, no exchange introduced by the kernel —
    the 100 TB plan shape is identical to the expression twins'."""

    def _plan(self, spark, df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )

    def test_winnow_arrow_map_only(self, spark):
        from ssis_to_dbt_spark.text.dedup import winnow_fingerprints

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = self._plan(spark, winnow_fingerprints(docs))
        assert "Exchange" not in plan
        assert plan.count("MapInPandas") == 1

    def test_gopher_arrow_map_only(self, spark):
        from ssis_to_dbt_spark.text.analysis import gopher_signals_arrow

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = self._plan(spark, gopher_signals_arrow(docs))
        assert "Exchange" not in plan
        assert plan.count("MapInPandas") == 1

    def test_text_signals_arrow_map_only_and_prunes_columns(self, spark):
        from ssis_to_dbt_spark.text.analysis import text_signals_arrow

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = text_signals_arrow(docs)
        plan = self._plan(spark, df)
        assert "Exchange" not in plan
        assert plan.count("MapInPandas") == 1
        # the pre-projection must push column pruning into the scan: only
        # (doc_id, text) leave the parquet reader, not the full table
        formatted = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in formatted


class TestDsirPlanShapes:
    """DSIR plan contract: the bucket-ratio model (<= B rows) reaches the
    corpus-sized doc-bucket counts as a PINNED broadcast, and the only
    corpus-sized exchanges are the two aggregations (doc-bucket counts,
    final per-doc score); featureless docs ride through as explode_outer
    null-gram markers, so no corpus-sized join and no sort-merge join
    exist anywhere in the plan."""

    def test_ratio_table_broadcasts(self, spark):
        plan = plan_of(spark, "dsir_docs", "simple")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_scan_prunes_to_needed_columns(self, spark):
        # featurization needs (doc_id, text, lang) only — n_chars/source
        # must not leave the parquet reader
        plan = plan_of(spark, "dsir_docs", "formatted")
        assert "n_chars" not in plan.split("Location")[0]

    def test_apply_path_is_map_only(self, spark):
        # the fit-then-apply scorer must have ZERO exchanges and ZERO
        # joins: scoring a new crawl batch is embarrassingly parallel
        # (one Arrow kernel stage — the score fold — and nothing else)
        plan = plan_of(spark, "dsir_apply_docs", "simple")
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert plan.count("MapInPandas") == 1

    def test_fit_state_arrow_is_partial_count_shape(self, spark):
        # the arrow fit kernel: one MapInPandas emitting <= B-row partial
        # counts per batch, then exactly ONE exchange (the B-key groupBy)
        # — the exploded per-gram stream never exists in the plan
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.text.analysis import dsir_fit_state

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        state = dsir_fit_state(docs, F.col("lang") == "en", 64)
        plan = state._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert plan.count("MapInPandas") == 1
        assert plan.count("Exchange") == 1
        assert "Generate explode" not in plan


class TestRound8PlanShapes:
    """Composed curation pipeline: the seams between stages must add no
    shuffle of the corpus — drops ride broadcast anti-joins, the k-row
    DSIR winner set and mixture thresholds broadcast."""

    @staticmethod
    def _lazy_plan(spark):
        # checkpoint=False keeps the whole chain one lazy plan so the seam
        # joins are visible in the explain (the production entry's eager
        # localCheckpoints would truncate them out of the final plan)
        df = catalog.q_curation_pipeline_docs(
            spark, SF, checkpoint=False
        )
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )

    def test_curation_pipeline_seams_broadcast(self, spark):
        plan = self._lazy_plan(spark)
        # every join in the composed chain broadcasts at fixture scale —
        # a corpus-side shuffle join at a seam would surface here
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        # the dedup-drop and decontamination-drop seams are anti-joins
        # against broadcast id sets (corpus decided map-side)
        assert "LeftAnti, BuildRight" in plan

    def test_curation_pipeline_pack_window_partitions_by_bucket(self, spark):
        plan = self._lazy_plan(spark)
        # the packing cumulative-sum window partitions by the 16-way hash
        # bucket — no whole-corpus single-partition window stream exists
        assert "hashpartitioning(_bucket" in plan


class TestSizeAwareSeams:
    """Round 9: the curation drop seams pick their join strategy from the
    MEASURED drop-set size (broadcast small, shuffled anti-join large) —
    both regimes plan-pinned and value-identical."""

    @staticmethod
    def _plan(df, spark):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )

    def _frames(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text", "lang", "n_chars"
        )
        drop = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
        return docs, drop

    def test_small_drop_set_broadcasts(self, spark):
        from ssis_to_dbt_spark.curation import drop_seam_anti_join

        docs, drop = self._frames(spark)
        out = drop_seam_anti_join(docs, drop)
        plan = self._plan(out, spark)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan

    def test_large_drop_set_shuffles(self, spark, monkeypatch):
        from ssis_to_dbt_spark import curation
        from ssis_to_dbt_spark.curation import drop_seam_anti_join

        docs, drop = self._frames(spark)
        # force the large regime: any measured count exceeds a 0 threshold
        monkeypatch.setattr(curation, "SEAM_BROADCAST_MAX_IDS", 0)
        out = drop_seam_anti_join(docs, drop)
        plan = self._plan(out, spark)
        assert "ShuffledHashJoin" in plan and "LeftAnti" in plan
        assert "BroadcastHashJoin" not in plan

    def test_regimes_value_identical(self, spark, monkeypatch):
        from ssis_to_dbt_spark import curation
        from ssis_to_dbt_spark.curation import drop_seam_anti_join

        docs, drop = self._frames(spark)
        a = sorted(r["doc_id"] for r in
                   drop_seam_anti_join(docs, drop).collect())
        monkeypatch.setattr(curation, "SEAM_BROADCAST_MAX_IDS", 0)
        b = sorted(r["doc_id"] for r in
                   drop_seam_anti_join(docs, drop).collect())
        assert a == b and len(a) > 0

    def test_stage_seams_use_size_aware_join(self, spark, monkeypatch):
        """stage_dedup / stage_clean route through the seam helper: the
        forced-large regime must produce a shuffled anti-join end-to-end
        while keeping identical survivors."""
        from ssis_to_dbt_spark import curation
        from ssis_to_dbt_spark.curation import (
            stage_clean,
            stage_dedup,
            stage_gate,
            stage_prune,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        gated = stage_gate(docs).localCheckpoint()
        pruned = stage_prune(gated).localCheckpoint()
        small = stage_dedup(gated, pruned)
        monkeypatch.setattr(curation, "SEAM_BROADCAST_MAX_IDS", 0)
        large = stage_dedup(gated, pruned)
        assert "ShuffledHashJoin" in self._plan(large, spark)
        assert "BroadcastHashJoin" in self._plan(small, spark)
        assert sorted(r["doc_id"] for r in small.collect()) == sorted(
            r["doc_id"] for r in large.collect()
        )


class TestRound11PlanShapes:
    def test_ci_collation_fold_is_pre_exchange_projection(self, spark):
        """The lower() fold must be a codegen projection BEFORE any
        exchange — CI collation changes expressions, never join strategy
        or shuffle width."""
        plan = plan_of(spark, "ci_collation_customers", "simple")
        # the lookup / semi / anti components all stay broadcast joins
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        # the fold appears as a projection expression (codegen side)
        assert "lower(" in plan
        # the fact side never hash-shuffles for the join (the only
        # exchanges belong to the dim-side distinct aggregations)
        fmt = plan_of(spark, "ci_collation_customers")
        assert "Exchange hashpartitioning [codegen" not in fmt  # sanity

    def test_time_contract_is_map_only(self, spark):
        """TIME arithmetic is pure per-row expression work: one pruned
        scan, zero exchanges, whole-stage codegen throughout."""
        plan = plan_of(spark, "time_contract_events", "simple")
        assert "Exchange" not in plan
        assert "*(1)" in plan and "*(2)" not in plan  # one codegen stage
        fmt = plan_of(spark, "time_contract_events")
        assert "ReadSchema: struct<event_id:bigint,ts:timestamp" in fmt

    def test_bm25_query_terms_broadcast_and_group_limit(self, spark):
        """BM25: the literal query-term table must broadcast (the corpus
        token explode prunes to query terms map-side, never shuffling the
        full token stream), corpus scalars arrive via broadcast
        crossJoin (BroadcastNestedLoopJoin over one row), and the
        per-query top-k must use the WindowGroupLimit pushdown so only k
        rows per query cross the final window exchange."""
        plan = plan_of(spark, "bm25_search_docs", "simple")
        assert "BroadcastHashJoin" in plan
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan
        # the only sort feeds the ranking window, not a join
        assert "SortMergeJoin" not in plan

    def test_nearest_reference_broadcasts_eval_map_only_corpus(self, spark):
        """Semantic decontam: the eval side is a BroadcastNestedLoopJoin
        build (model-sized), the corpus side never hash-shuffles before
        scoring, and the per-item argmax runs under WindowGroupLimit."""
        plan = plan_of(spark, "semantic_decontam_embeddings", "simple")
        assert "BroadcastNestedLoopJoin" in plan
        assert "WindowGroupLimit" in plan
        assert "SortMergeJoin" not in plan

    def test_shuffle_shards_no_global_sort(self, spark):
        """Deterministic shuffle: one exchange on the shard key + a
        per-shard sort — no range-partitioned global sort (the
        single-funnel shape a naive ORDER BY md5 would produce)."""
        plan = plan_of(spark, "shuffle_shards_docs", "simple")
        assert "Exchange hashpartitioning(shard" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_nb_model_grid_broadcasts(self, spark):
        """NB apply: the model grid joins the (doc, term) counts via
        broadcast (bounded |vocab| x |labels| model state); the per-doc
        argmax is a row_number window, and no cartesian product appears
        (the labels crossJoin is a broadcast nested loop over the tiny
        priors table)."""
        plan = plan_of(spark, "nb_classifier_docs", "simple")
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan
        assert "RunningWindowFunction" in plan or "Window" in plan


class TestRound12PlanShapes:
    def test_ci_group_fold_rides_the_hash_agg(self, spark):
        """CI GROUP BY/DISTINCT/dup: the lower() fold is a map-side
        projection riding the SAME hash aggregate (partial combine
        intact) — no extra exchange, no cartesian, and the sort_top
        component's orderBy+limit collapses to TakeOrderedAndProject
        (never a range-partitioned global sort)."""
        plan = plan_of(spark, "ci_group_customers", "simple")
        assert "lower(" in plan
        # min(string) representative forces SortAggregate; the contract
        # is the MAP-SIDE PARTIAL COMBINE before the one exchange, not
        # the aggregate flavor
        assert "partial_min" in plan and "partial_count" in plan
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_semantic_decontam_ivf_prunes_without_broadcasting_eval(
        self, spark
    ):
        """The catalog entry's plan: PartitionFilters on the eval assign
        scan and NO broadcast nested loop (the eval side reaches the
        join through the cell key, not a broadcast of its rows; the
        model-sized routed side may still auto-broadcast — that is the
        query side, which is the intended direction)."""
        fmt = plan_of(spark, "semantic_decontam_ivf")
        assert "PartitionFilters" in fmt and "cell" in fmt
        assert "BroadcastNestedLoopJoin" not in fmt
        assert "CartesianProduct" not in fmt

    def test_ci_filter_fold_stays_scan_side_expression(self, spark):
        """r13: the CI predicate fold is a per-row lower() comparison in
        the scan-side Filter — no exchange, no join, no UDF appears in
        any of the four components' plan."""
        fmt = plan_of(spark, "ci_filter_customers", "simple")
        assert "Exchange hashpartitioning" not in fmt
        assert "lower(" in fmt
        assert "BatchEvalPython" not in fmt and "ArrowEval" not in fmt

    def test_image_phash_banded_join_never_all_pairs(self, spark):
        """r13: the perceptual near-dup plan joins on (band_idx,
        band_val) — a hash equi-join, never a cartesian/BNLJ — and the
        hash stage is one Arrow mapInPandas over the media scan."""
        fmt = plan_of(spark, "image_phash_neardup")
        assert "CartesianProduct" not in fmt
        assert "BroadcastNestedLoopJoin" not in fmt
        assert "band_val" in fmt
        assert fmt.count("MapInPandas") >= 1

    def test_ivf_recall_fused_single_scan(self, spark):
        """r14 (fused recall audit): ONE full-index scan serves every
        nprobe arm — the ranked routing broadcasts onto the assign scan,
        arms fan out via a literal explode, and the shared per-arm top-k
        is checkpointed so the scan is not re-run per consumer.  Nothing
        in the audit is a cartesian."""
        fmt = plan_of(spark, "ivf_recall_audit")
        assert "CartesianProduct" not in fmt
        # the arm fan is a pure-JVM literal explode (no Python-side
        # createDataFrame of the 3-row arm table)
        assert "explode([1,2,8])" in fmt
        # the fused top-k relation enters as the checkpointed RDD —
        # both the exact arm and the hit join read the SAME blocks
        assert "Scan ExistingRDD" in fmt
        assert "BatchEvalPython" not in fmt and "ArrowEvalPython" not in fmt

    def test_ivf_recall_fused_lazy_shape(self, spark):
        """The pre-checkpoint fused plan (checkpoint=False): the ranked
        routing joins the assign scan as a BROADCAST (queries are a
        model-sized sample by contract) — no shuffle of the index side
        before scoring, no cartesian."""
        import tempfile

        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.text.similarity import (
            ivf_recall_at_k,
            write_ivf_index,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        idx = write_ivf_index(
            emb, tempfile.mkdtemp(prefix="planpin_recall_"), n_cells=8
        )
        q = emb.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        df = ivf_recall_at_k(idx, q, k=5, nprobes=(1, 2, 8),
                             checkpoint=False)
        fmt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BroadcastHashJoin" in fmt
        assert "CartesianProduct" not in fmt
        assert "BroadcastNestedLoopJoin" not in fmt
