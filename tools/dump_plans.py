"""Dump formatted physical plans for the flagship queries into PLANS.md.

The scale argument in SCALE.md is enforced by plan-shape asserts in
tests/test_plans.py; this artifact makes the actual plans reviewable without
running Spark.  Regenerate after any operator change:

    python tools/dump_plans.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"

# query -> the property the plan demonstrates
SHOWCASE = {
    "stg_sales_transactions": "filter pushed to scan; single codegen stage",
    "fct_sales_star": "3 broadcast joins; fact side never shuffles",
    "agg_daily_sales": "map-side partial aggregation; one exchange",
    "dim_customer_scd2": "all SCD2 windows share one exchange",
    "topk_embeddings": "TakeOrderedAndProject, no global sort",
    "knn_join_embeddings": "two-phase top-k; WindowGroupLimit caps map output",
    "asof_attribution": "as-of join with no join node: union + one window",
    "range_join_sessions": "interval join as hash equi-join (no BNLJ)",
    "ivf_topk_embeddings": "map-only cell assignment; probe then TakeOrdered",
    "minhash_pairs_docs": "explode + min-aggs; banded equi-join on ids",
    "chunk_docs": "map-only chunk explosion: sequence/slice/posexplode, no shuffle",
    "surprisal_docs": "token-keyed count aggs + joins; decimal-exact per-doc sums",
    "bloom_orders": "1-row broadcast bit-set prefilter; fact side never hash-shuffles",
    "pack_docs": "packing cumsum windows keyed by 16-way bucket; no single-partition sort",
    "semdedup_embeddings": "Arrow kernel: map-only assignment, one cell-keyed exchange into the grouped pair kernel",
    "cdc_apply_orders": "changelog window (WindowGroupLimit-capped) + key anti-join; snapshot never shuffles",
    "weighted_sample_docs": "map-only ticket transform; TakeOrderedAndProject selection",
    "dup_spans_docs": "window fingerprints exploded once; inverted-index count join, doc-keyed fold",
    "zorder_events": "1-row bounds broadcast; codegen'd Morton key; one bucket hash agg",
    "resize_bmp_stats": "map-only mapInPandas chain (encode -> resize -> decode); no shuffle",
    "source_cap_docs": "per-domain cap: one window exchange on source, row-counter state",
    "minhash_pairs_md5": "band-bucket cap: row_number window on the band keys bounds pair generation",
    "dtsx_sales_fact_etl": "parsed SalesFactETL.dtsx: source filters pushed to scan, 3 broadcast lookups, codegen'd derived decimals",
    "gopher_quality_docs": "Arrow Gopher kernel: one MapInPandas stage, no exchange, pruned scan",
    "winnow_docs": "winnowing: Arrow fingerprint kernel (map-only), inverted-index pair join",
    "funnel_events": "funnel: one shuffle (sorted per-user sequence fold); oracle uses k-pass joins",
    "hll_users_events": "HLL registers: map-side partial max, one bounded exchange",
    "bpe_encode_docs": "BPE encode: codegen replace chain over vocab, broadcast join back",
    "text_analysis_docs": "Arrow signal battery: one MapInPandas, (doc_id, text) pruned scan",
    "label_prototypes": "Arrow prototype assignment; centroid agg lazily checkpointed (one compute)",
    "split_leakage_docs": "pair side PINNED broadcast at both joins; corpus split table never shuffles",
    "dtsx_order_routing": "branched <paths> package: one conversion scan fanned out to four destinations",
    "dsir_docs": "DSIR: B-row bucket model broadcast back; corpus shuffles exactly twice; explode_outer markers avoid a resurrection join",
    "curation_pipeline_docs": "composed curation chain (lazy form): broadcast anti-join drops at the dedup/decontam seams, k-row DSIR winner + mixture thresholds broadcast, bucket-keyed packing window — no SMJ, no cartesian",
    "pack_nosplit_docs": "no-split NFD packing: auto-sized bucket count from one scalar agg; one bucket-key exchange into the applyInPandas fold",
    "crawl_ingest_docs": "continuous-crawl two-batch loop: batch bands broadcast against the index, size-aware drop seams, merged-DSIR map-only scoring, bucket-keyed packing; r11 adds the within-batch self-join components (capped band buckets, size-aware regime)",
    "ci_collation_customers": "CI collation: lower() fold is a codegen projection BEFORE the exchange — broadcast lookup strategy identical to the case-sensitive plan",
    "jpeg_decode_stats": "real JPEG entropy decode: one map-only mapInPandas chain (encode -> decode), pruned (doc_id) scan, no shuffle",
    "bm25_search_docs": "BM25: literal query-term broadcast prunes the token explode map-side; 1-row scalar crossJoin; WindowGroupLimit per-query top-k",
    "nb_classifier_docs": "NB fit+apply: (label,term) hash agg with map-side combine; model grid broadcast back; per-doc argmax window; no cartesian",
    "ivf_index_probe": "persisted IVF probe: in-plan query routing, routed queries broadcast, assignment scan pruned by dynamic partition pruning on cell (served by the reused broadcast), per-query WindowGroupLimit",
    "bm25_index_probe": "persisted BM25 probe: one postings scan, bucket-pruned by the term IN-filter (SelectedBucketsCount); df_t is a term window on that bucketed scan and dl rides on the postings (no doclen join); stats are literals; shared scoring expression and ranking tail with bm25_search_docs",
    "semantic_decontam_ivf": "corpus-scale decontam through the IVF index: map-only routing, PartitionFilters on the eval assign scan, cell-keyed shuffle join — NO broadcast of either side, per-item WindowGroupLimit argmax",
    "ci_group_customers": "CI GROUP BY/DISTINCT/dup/sort: the lower() fold is a map-side projection riding the same hash agg (partial combine intact); MIN-case representative rides the combine",
    "hybrid_rrf_docs": "RRF hybrid retrieval: both input rankings are per-query WindowGroupLimit top-k relations; the fuse is a model-sized union + (query, doc) hash agg — the corpus is only touched inside the two retrievers",
    "ci_filter_customers": "CI predicate folds (r13): LOWER() stays a per-row codegen expression inside the scan-side Filter — no exchange added by the fold; the expression-compiler arms share the plan shape with the rewrite_tsql arms",
    "ivf_recall_audit": "recall@k audit (r13): each nprobe arm is a partition-pruned probe; hit counts join per-query top-k relations (request-scale); the exact arm is the unpruned probe, not a separate brute operator",
    "image_phash_neardup": "perceptual near-dup (r13): map-only mapInPandas hash, banded self-join on (band_idx, band_val) with capped buckets, bit_count XOR hamming in codegen — never all-pairs",
}

# some entries need non-default kwargs for a REVIEWABLE plan (the
# production pipeline checkpoints eagerly, which truncates the lineage
# out of the explain)
OVERRIDES = {
    "curation_pipeline_docs": lambda spark, sf: __import__(
        "ssis_to_dbt_spark.catalog", fromlist=["catalog"]
    ).q_curation_pipeline_docs(spark, sf, checkpoint=False),
}


def main() -> None:
    from ssis_to_dbt_spark import catalog
    from ssis_to_dbt_spark.session import build_session

    spark = build_session(
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = [
        "# PLANS — formatted physical plans of the flagship queries",
        "",
        "Generated by `python tools/dump_plans.py` at sf0.001 (plan shapes are",
        "data-size independent; AQE leaves these static shapes intact).",
        "Shape regressions fail `tests/test_plans.py`.",
        "",
    ]
    for name, why in SHOWCASE.items():
        fn = OVERRIDES.get(name, catalog.ALL_QUERIES[name])
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", "", f"*{why}*", "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
