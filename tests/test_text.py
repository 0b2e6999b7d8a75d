"""Text extension tests: dedup families, similarity search, analysis."""

import pytest
from pyspark.sql import functions as F

import ssis_to_dbt_spark.text as tx


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def _tagged_jobs(spark, fn):
    """``(fn(), ids of the Spark jobs fn started)``, found by a job tag
    (tags nest, so this never disturbs a caller's job group)."""
    import uuid

    sc = spark.sparkContext
    tag = "t" + uuid.uuid4().hex
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    return out, list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def jobs_started(spark, fn):
    """``(fn(), number of Spark jobs fn started)``."""
    out, ids = _tagged_jobs(spark, fn)
    return out, len(ids)


def stage_tasks(spark, fn):
    """``(fn(), task count of each stage of the jobs fn started)``."""
    out, ids = _tagged_jobs(spark, fn)
    st = spark.sparkContext.statusTracker()
    stages = [
        st.getStageInfo(sid) for j in ids for sid in st.getJobInfo(j).stageIds
    ]
    return out, [s.numTasks for s in stages if s is not None]


def num_buckets(spark, table):
    """The bucket count a table was written with."""
    (row,) = [
        r for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if r["col_name"] == "Num Buckets"
    ]
    return int(row["data_type"])


def executed_scans(df):
    """The file scans of ``df``'s executed plan (after an action),
    looking through adaptive query stages."""
    todo, scans = [df._jdf.queryExecution().executedPlan()], []
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif name == "FileSourceScanExec":
            scans.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return scans


class TestExactDedup:
    def test_whitespace_case_normalized(self, spark):
        df = docs_df(spark, [(1, "Hello  World"), (2, "hello world "), (3, "other")])
        out = tx.exact_dedup(df)
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]

    def test_groups(self, spark):
        df = docs_df(spark, [(1, "a b"), (2, "a b"), (3, "c")])
        groups = {r["canonical_doc_id"]: r["n_docs"] for r in tx.exact_duplicate_groups(df).collect()}
        assert groups == {1: 2, 3: 1}


class TestMinhash:
    def test_identical_docs_pair(self, spark):
        text = "the quick brown fox jumps over the lazy dog again and again"
        df = docs_df(spark, [(1, text), (2, text), (3, "completely different words here nothing shared at all ok")])
        pairs = tx.minhash_candidates(df).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
        assert pairs[0]["est_jaccard"] == 1.0

    def test_short_docs_do_not_collapse(self, spark):
        # regression: empty shingle sets used to give all-null signatures
        df = docs_df(spark, [(1, "hello world"), (2, "foo bar"), (3, "hello world")])
        pairs = [(r["doc_a"], r["doc_b"]) for r in tx.minhash_candidates(df).collect()]
        assert pairs == [(1, 3)]

    def test_md5_signature_arrow_twin_bit_identical(self, spark):
        """The Arrow signature kernel vs the expression explode on every
        edge the expression path has: NULL text, empty, blank, whitespace
        variants, short-doc whole-text fallback, fixture docs."""
        from ssis_to_dbt_spark.text.dedup import (
            minhash_signatures_md5,
            minhash_signatures_md5_arrow,
        )

        edge = spark.createDataFrame(
            [
                (1, None),
                (2, ""),
                (3, "   "),
                (4, "One two"),
                (5, "a b c d e f g h i j"),
                (6, "\tTabbed  START x y z w"),
                (7, "repeat repeat repeat repeat repeat"),
            ],
            "doc_id int, text string",
        )
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        for df in (edge, docs):
            e = {
                r["doc_id"]: list(r["minhash"])
                for r in minhash_signatures_md5(df).collect()
            }
            a = {
                r["doc_id"]: list(r["minhash"])
                for r in minhash_signatures_md5_arrow(df).collect()
            }
            assert e == a


class TestSimhash:
    def test_identical_fingerprints(self, spark):
        text = "one two three four five six seven eight nine ten"
        df = docs_df(spark, [(1, text), (2, text)])
        out = tx.simhash_candidates(df).collect()
        assert len(out) == 1 and out[0]["hamming_distance"] == 0


class TestNgramJaccard:
    def test_exact_similarity(self, spark):
        df = docs_df(spark, [
            (1, "a b c d e"), (2, "a b c d e"), (3, "z z z z z"),
        ])
        pairs = tx.ngram_jaccard_pairs(df, min_jaccard=0.5).collect()
        assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


class TestSimilarity:
    def test_brute_force_self_top1(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.1])],
            "vec_id int, embedding array<float>",
        )
        top = tx.brute_force_topk(df, [1.0, 0.0], k=2).collect()
        assert top[0]["vec_id"] == 1 and abs(top[0]["cosine"] - 1.0) < 1e-9
        assert top[1]["vec_id"] == 3

    def test_knn_join_topk_per_query(self, spark):
        corpus = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(10)],
            "vec_id int, embedding array<float>",
        )
        queries = spark.createDataFrame(
            [(100, [9.0, 1.0])], "query_id int, query_vec array<float>"
        )
        out = tx.knn_join(queries, corpus, k=3).collect()
        assert len(out) == 3
        assert out[0]["vec_id"] == 9

    def test_lsh_bucket_is_deterministic(self, spark):
        df = spark.createDataFrame(
            [(1, [0.5, -0.2, 0.8])], "vec_id int, embedding array<float>"
        )
        a = df.select(tx.hyperplane_bucket(F.col("embedding"), 8).alias("b")).first()["b"]
        b = df.select(tx.hyperplane_bucket(F.col("embedding"), 8).alias("b")).first()["b"]
        assert a == b


class TestAnalysis:
    def test_token_count(self, spark):
        df = docs_df(spark, [(1, "one two  three"), (2, ""), (3, "   ")])
        out = {r["doc_id"]: r["n"] for r in df.select(
            "doc_id", tx.token_count(F.col("text")).alias("n")).collect()}
        assert out == {1: 3, 2: 0, 3: 0}

    def test_language_id_markers(self, spark):
        df = docs_df(spark, [
            (1, "the cat and the dog is a pet"),
            (2, "der hund und die katze ist nicht da"),
            (3, "xyzzy plugh qwerty"),
        ])
        out = {r["doc_id"]: r["lang"] for r in df.select(
            "doc_id", tx.language_id(F.col("text")).alias("lang")).collect()}
        assert out == {1: "en", 2: "de", 3: "und"}

    def test_quality_score_bounds(self, spark):
        df = docs_df(spark, [(1, "the quick brown fox and the hen"), (2, "")])
        scores = {r["doc_id"]: r["q"] for r in df.select(
            "doc_id", tx.quality_score(F.col("text")).alias("q")).collect()}
        assert 0.0 <= scores[1] <= 1.0
        assert scores[2] == 0.0

    def test_fingerprint_matches_dedup_normalization(self, spark):
        df = docs_df(spark, [(1, "A  b"), (2, "a b")])
        fps = [r["fp"] for r in df.select(
            tx.document_fingerprint(F.col("text")).alias("fp")).collect()]
        assert fps[0] == fps[1]

    def test_mean_token_length(self, spark):
        df = docs_df(spark, [(1, "ab cdef"), (2, "")])
        out = {r["doc_id"]: r["m"] for r in df.select(
            "doc_id", tx.mean_token_length(F.col("text")).alias("m")).collect()}
        assert out == {1: 3.0, 2: 0.0}

    def test_dup_token_fraction(self, spark):
        df = docs_df(spark, [(1, "a b a a"), (2, "x y z"), (3, "")])
        out = {r["doc_id"]: r["d"] for r in df.select(
            "doc_id", tx.dup_token_fraction(F.col("text")).alias("d")).collect()}
        assert out == {1: 0.5, 2: 0.0, 3: 0.0}

    def test_top_token_fraction(self, spark):
        df = docs_df(spark, [(1, "a b a c"), (2, "spam spam spam spam"), (3, "")])
        out = {r["doc_id"]: r["t"] for r in df.select(
            "doc_id", tx.top_token_fraction(F.col("text")).alias("t")).collect()}
        assert out == {1: 0.5, 2: 1.0, 3: 0.0}

    def test_max_token_run(self, spark):
        df = docs_df(spark, [
            (1, "spam spam spam ok"),
            (2, "a b a b"),
            (3, ""),
            (4, "x"),
        ])
        out = {r["doc_id"]: r["r"] for r in df.select(
            "doc_id", tx.max_token_run(F.col("text")).alias("r")).collect()}
        assert out == {1: 3, 2: 1, 3: 0, 4: 1}

    def test_symbol_and_digit_fractions(self, spark):
        df = docs_df(spark, [(1, "ab 12 !?"), (2, "")])
        row = df.filter("doc_id = 1").select(
            tx.symbol_fraction(F.col("text")).alias("s"),
            tx.digit_fraction(F.col("text")).alias("d"),
        ).first()
        assert row["s"] == 0.25  # "!?" over 8 chars
        assert row["d"] == 0.25  # "12" over 8 chars
        empty = df.filter("doc_id = 2").select(
            tx.symbol_fraction(F.col("text")).alias("s")).first()
        assert empty["s"] == 0.0


class TestMd5Twins:
    """Portable md5 variants must behave like their xxhash64 production twins
    (the cross-engine value equality itself is proven by the DuckDB oracle)."""

    def test_minhash_md5_identical_docs_pair(self, spark):
        text = "the quick brown fox jumps over the lazy dog again and again"
        df = docs_df(spark, [(1, text), (2, text), (3, "completely different words here nothing shared at all ok")])
        pairs = tx.minhash_candidates_md5(df).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
        assert pairs[0]["est_jaccard"] == 1.0

    def test_minhash_md5_short_docs_do_not_collapse(self, spark):
        df = docs_df(spark, [(1, "hello world"), (2, "foo bar"), (3, "hello world")])
        pairs = [(r["doc_a"], r["doc_b"]) for r in tx.minhash_candidates_md5(df).collect()]
        assert pairs == [(1, 3)]

    def test_simhash_md5_identical_fingerprints(self, spark):
        text = "one two three four five six seven eight nine ten"
        df = docs_df(spark, [(1, text), (2, text)])
        fps = {r["doc_id"]: r["simhash"] for r in tx.simhash_md5_fingerprints(df).collect()}
        assert fps[1] == fps[2]
        assert 0 <= fps[1] < (1 << 32)
        out = tx.simhash_md5_candidates(df).collect()
        assert len(out) == 1 and out[0]["hamming_distance"] == 0

    def test_lsh_md5_bucket_matches_query_to_itself(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.5]), (1, [1.0, 0.01, 0.5]), (2, [-1.0, 0.2, -0.5])],
            "vec_id int, embedding array<float>",
        )
        q = [1.0, 0.0, 0.5]
        top = tx.lsh_topk_md5(df, q, k=3).collect()
        ids = [r["vec_id"] for r in top]
        assert ids[0] == 0  # the query vector itself wins its own bucket
        assert abs(top[0]["cosine"] - 1.0) < 1e-12

    def test_embedding_neardup_md5_blocks_then_filters(self, spark):
        # two near-identical vectors must pair; an opposite vector must not
        df = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.5]), (2, [0.99, 0.01, 0.5]), (3, [-1.0, 0.0, -0.5])],
            "vec_id int, embedding array<float>",
        )
        pairs = tx.embedding_neardup_pairs_md5(df, min_cosine=0.9).collect()
        assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
        assert pairs[0]["cosine"] > 0.99

    def test_bucket_size_cap_bounds_degenerate_corpus(self, spark):
        # 1000 identical vectors land in ONE bucket; uncapped that is
        # 1000*999/2 = 499500 pairs — the cap must truncate the bucket to its
        # first N members so the pair count is bounded at N*(N-1)/2
        df = spark.createDataFrame(
            [(i, [1.0, 0.5, 0.25]) for i in range(1000)],
            "vec_id int, embedding array<float>",
        )
        pairs = tx.embedding_neardup_pairs_md5(
            df, min_cosine=0.9, max_bucket_size=50
        )
        assert pairs.count() == 50 * 49 // 2
        # kept members are the deterministic id-ordered prefix
        ids = pairs.agg(F.max("id_b")).first()[0]
        assert ids == 49
        capped = tx.lsh_bucket_candidates(
            df, num_planes=4, dims=3, max_bucket_size=50
        )
        assert capped.count() == 50 * 49 // 2


class TestIVF:
    def _corpus(self, spark):
        # 2-D so cell geometry is obvious: ids 0,1 are the centroids
        # (x-axis and y-axis); the rest cluster around one of them
        rows = [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.9, 0.1]),
            (3, [0.1, 0.9]),
            (4, [0.8, 0.2]),
            (5, [-1.0, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def test_centroids_are_lowest_ids(self, spark):
        cents = tx.ivf_centroids(self._corpus(spark), n_cells=2)
        assert [c for c, _ in cents] == [0, 1]
        assert cents[0][1] == [1.0, 0.0] and cents[1][1] == [0.0, 1.0]

    def test_assignment_nearest_centroid(self, spark):
        df = self._corpus(spark)
        cents = tx.ivf_centroids(df, n_cells=2)
        cells = {
            r["vec_id"]: r["cell"]
            for r in tx.ivf_assign(df, cents).collect()
        }
        assert cells[0] == 0 and cells[2] == 0 and cells[4] == 0
        assert cells[1] == 1 and cells[3] == 1
        assert cells[5] == 1  # cos(-x, x)=-1 < cos(-x, y)=0

    def test_assignment_tie_takes_lowest_cell(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
            "vec_id int, embedding array<float>",
        )
        cents = tx.ivf_centroids(df, n_cells=2)
        cells = {r["vec_id"]: r["cell"] for r in tx.ivf_assign(df, cents).collect()}
        assert cells[2] == 0  # equidistant from both centroids

    def test_topk_probes_only_nearest_cells(self, spark):
        df = self._corpus(spark)
        out = tx.ivf_topk(df, [1.0, 0.05], k=10, n_cells=2, nprobe=1).collect()
        got = [r["vec_id"] for r in out]
        # nprobe=1 probes only the x-axis cell: y-cluster ids never scored
        assert set(got) <= {0, 2, 4}
        assert got[0] == 0  # best cosine first
        # nprobe=2 covers everything -> exact brute-force result
        full = tx.ivf_topk(df, [1.0, 0.05], k=10, n_cells=2, nprobe=2).collect()
        brute = tx.brute_force_topk(df, [1.0, 0.05], k=10).collect()
        assert [r["vec_id"] for r in full] == [r["vec_id"] for r in brute]


class TestSemDeDup:
    def _corpus(self, spark):
        # ids 0,1 seed the two cells (x-axis / y-axis); 2 and 4 are near-dups
        # of 0's direction, 3 clusters with 1, 5 is an isolated direction
        rows = [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.99, 0.01]),
            (3, [0.5, 0.6]),   # cell 1, but cos(3,1)=0.768 < tau
            (4, [0.98, 0.02]),
            (5, [-1.0, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def test_dup_marks_lowest_cellmate(self, spark):
        out = {
            r["vec_id"]: (r["cell"], r["dup_of"])
            for r in tx.semdedup(self._corpus(spark), n_cells=2, tau=0.95).collect()
        }
        assert len(out) == 6  # one row per input vector
        assert out[0] == (0, None)  # representative: lowest id in its dup set
        assert out[2] == (0, 0) and out[4] == (0, 0)  # near-dups of 0
        assert out[1] == (1, None)
        assert out[3][1] is None  # cos(3,1)=0.768 < tau
        assert out[5][1] is None  # negative direction: no dup

    def test_dups_confined_to_cell(self, spark):
        # identical vectors in DIFFERENT cells are never compared: 6 mirrors
        # 2 but is pushed into cell 1 by construction being closer to y-axis
        rows = [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.6, 0.8]),   # cell 1 (cos to y = .8 > cos to x = .6)
            (3, [0.6, 0.8]),   # identical to 2, same cell -> dup_of=2
        ]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        out = {r["vec_id"]: r["dup_of"] for r in tx.semdedup(df, n_cells=2, tau=0.999).collect()}
        assert out[3] == 2 and out[2] is None

    def test_keep_filter_drops_only_dups(self, spark):
        out = tx.semdedup(self._corpus(spark), n_cells=2, tau=0.95)
        kept = sorted(
            r["vec_id"] for r in out.filter(out.dup_of.isNull()).collect()
        )
        assert kept == [0, 1, 3, 5]

    def test_max_cos_reported_for_dups(self, spark):
        out = {r["vec_id"]: r["max_cos_r"]
               for r in tx.semdedup(self._corpus(spark), n_cells=2, tau=0.95).collect()}
        assert out[2] is not None and out[2] > 0.99
        assert out[0] is None

    def test_arrow_and_expr_engines_bit_identical(self, spark):
        # the Arrow kernels fold dimensions in the same sequential order as
        # the F.aggregate expression reference, so the two must agree
        # BIT-exactly (same cells, same dup_of, same max_cos doubles) — on
        # the synthetic corpus and on the real fixture
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text.similarity import (
            _semdedup_expr,
            ivf_centroids,
        )

        fixture = testdata(spark, "/root/testdata/sf0.001")["embeddings"]
        for df in (self._corpus(spark), fixture):
            a = {
                (r["vec_id"], r["cell"], r["dup_of"], r["max_cos_r"])
                for r in tx.semdedup(df, n_cells=4, tau=0.3).collect()
            }
            e = {
                (r["vec_id"], r["cell"], r["dup_of"], r["max_cos_r"])
                for r in _semdedup_expr(
                    df, 0.3, "vec_id", "embedding", ivf_centroids(df, 4)
                ).collect()
            }
            assert a == e

    def test_gram_and_chunked_arrow_paths_bit_identical(self, spark):
        # r14 perf: cells <= gram_max_n accumulate the pair-dot matrix as
        # sequential rank-1 updates (same per-element IEEE op order as the
        # pair-gather fold); forcing gram_max_n=1 routes every cell through
        # the original chunked fallback — outputs must agree BIT-exactly
        from ssis_to_dbt_spark.text.similarity import (
            _semdedup_arrow,
            ivf_centroids,
        )
        from ssis_to_dbt_spark.sources.readers import testdata

        fixture = testdata(spark, "/root/testdata/sf0.001")["embeddings"]
        for df in (self._corpus(spark), fixture):
            cents = ivf_centroids(df, 4)
            g = {
                (r["vec_id"], r["cell"], r["dup_of"], r["max_cos_r"])
                for r in _semdedup_arrow(
                    df, 0.3, "vec_id", "embedding", cents
                ).collect()
            }
            c = {
                (r["vec_id"], r["cell"], r["dup_of"], r["max_cos_r"])
                for r in _semdedup_arrow(
                    df, 0.3, "vec_id", "embedding", cents, gram_max_n=1
                ).collect()
            }
            assert g == c

    def test_empty_corpus_both_engines(self, spark):
        # empty input -> empty centroid list; the expression reference's
        # ivf_assign must short-circuit (argmax over an empty struct array
        # is VOID-typed and fails analysis) and both return 0 rows
        from pyspark.sql import types as T

        from ssis_to_dbt_spark.text.similarity import (
            _semdedup_expr,
            ivf_centroids,
        )

        empty = spark.createDataFrame([], T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]))
        assert tx.semdedup(empty, n_cells=2).count() == 0
        assert _semdedup_expr(
            empty, 0.3, "vec_id", "embedding", ivf_centroids(empty, 2)
        ).count() == 0

    def test_empty_centroids_sentinel_both_engines(self, spark):
        # non-empty batch + empty centroid list: both assignment paths emit
        # the typed sentinel cell -1 instead of crashing mid-batch
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        from ssis_to_dbt_spark.text.similarity import assign_cells_arrow

        for fn in (tx.ivf_assign, assign_cells_arrow):
            out = {r["vec_id"]: r["cell"] for r in fn(df, []).collect()}
            assert out == {1: -1, 2: -1}


class TestConnectedComponents:
    def test_two_components_min_label(self, spark):
        # chain 1-2-3 (diameter 2, needs >1 round) and isolated pair 10-11
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
        )
        out = {r["node"]: r["label"]
               for r in tx.connected_components(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_long_chain_converges(self, spark):
        # path graph 0-1-2-...-9: worst-case diameter for label propagation
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
        )
        out = {r["node"]: r["label"]
               for r in tx.connected_components(pairs).collect()}
        assert set(out.values()) == {0} and len(out) == 10

    def test_min_label_nonconvergence_raises(self, spark):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
        )
        import pytest as _pytest

        from ssis_to_dbt_spark.text.dedup import _cc_min_label

        # the distributed min-label path itself — the size gate of
        # connected_components would label this 10-edge chain
        # driver-side without iterating at all
        with _pytest.raises(RuntimeError, match="converge"):
            _cc_min_label(pairs, "doc_a", "doc_b", max_rounds=2)

    def test_auto_switches_to_star_on_deep_chain(self, spark, monkeypatch):
        # a 1000-node path graph: diameter 999 >> any sane min-label budget;
        # connected_components must fall over to star contraction and
        # still converge (3 min-label rounds, then star)
        from ssis_to_dbt_spark.text import dedup

        monkeypatch.setattr(dedup, "CC_COLLECT_MAX_EDGES", 0)
        monkeypatch.setattr(dedup, "CC_MIN_LABEL_ROUNDS", 3)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(999)], "doc_a long, doc_b long"
        )
        out = {r["node"]: r["label"]
               for r in tx.connected_components(pairs).collect()}
        assert len(out) == 1000 and set(out.values()) == {0}

    def test_star_matches_min_label(self, spark):
        # mixed shape: two chains, a triangle, an isolated pair
        edges = (
            [(i, i + 1) for i in range(5)]
            + [(20, 21), (21, 22), (20, 22)]
            + [(30, 31)]
            + [(40 + i, 41 + i) for i in range(6)]
        )
        from ssis_to_dbt_spark.text.dedup import _cc_min_label, _cc_star_labels

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        star = {(r["node"], r["label"])
                for r in _cc_star_labels(pairs, "doc_a", "doc_b").collect()}
        minl = {(r["node"], r["label"])
                for r in _cc_min_label(pairs, "doc_a", "doc_b", 25).collect()}
        assert star == minl


class TestQuantize:
    def test_int8_symmetric_roundtrip(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
            "vec_id int, embedding array<float>",
        )
        rows = {(r["vec_id"], r["dim"]): (r["q"], r["scale"])
                for r in tx.quantize_embeddings(df).collect()}
        assert rows[(1, 0)] == (127, 1.0)    # max_abs element -> ±127
        assert rows[(1, 1)] == (-64, 1.0)    # round(-63.5) away from zero
        assert rows[(1, 2)] == (32, 1.0)
        assert rows[(1, 3)] == (0, 1.0)
        assert rows[(2, 0)] == (0, 0.0)      # zero vector: q=0, no NaN
        assert len(rows) == 8


class TestPiiRedaction:
    def test_email_phone_and_markup(self, spark):
        df = spark.createDataFrame(
            [(1, "Write to john.doe+x@corp.example.org or call +1 (555) 123-4567 now"),
             (2, "<p>hello   <b>world</b></p>"),
             (3, "no pii here")],
            "id int, t string",
        )
        out = {r["id"]: r["c"] for r in df.select(
            "id", tx.redact_pii(tx.strip_markup(F.col("t"))).alias("c")
        ).collect()}
        assert out[1] == "Write to <EMAIL> or call <PHONE> now"
        assert out[2] == "hello world"
        assert out[3] == "no pii here"


class TestContainment:
    def test_small_doc_inside_big_scores_one(self, spark):
        small = "alpha beta gamma delta"
        big = small + " epsilon zeta eta theta iota kappa"
        df = docs_df(spark, [(1, small), (2, big), (3, "unrelated words only here")])
        from ssis_to_dbt_spark.text.dedup import containment_pairs

        out = {
            (r["contained_id"], r["container_id"]): r["containment"]
            for r in containment_pairs(df, min_containment=0.5).collect()
        }
        # every shingle of doc 1 appears in doc 2 -> containment 1.0
        assert out[(1, 2)] == 1.0
        # the reverse direction is diluted by doc 2's extra shingles
        assert (2, 1) not in out
        assert all(k[0] != 3 and k[1] != 3 for k in out)

    def test_empty_corpus(self, spark):
        from ssis_to_dbt_spark.text.dedup import containment_pairs

        df = spark.createDataFrame([], "doc_id int, text string")
        assert containment_pairs(df).count() == 0


class TestTfIdf:
    def test_rare_term_outranks_common(self, spark):
        from ssis_to_dbt_spark.text.analysis import tf_idf_top_terms

        df = docs_df(
            spark,
            [
                (1, "shared shared rareword"),
                (2, "shared common text"),
                (3, "shared common text"),
            ],
        )
        top = {
            (r["doc_id"], r["rn"]): (r["term"], r["df_t"])
            for r in tf_idf_top_terms(df, top_k=2).collect()
        }
        # 'shared' is in all 3 docs -> idf ln(1) = 0; 'rareword' df=1 wins
        assert top[(1, 1)][0] == "rareword"
        assert top[(1, 1)][1] == 1


class TestBpeTrain:
    def _docs(self, spark, text):
        return spark.createDataFrame([(text,)], "text string")

    def test_learns_most_frequent_pairs_in_order(self, spark):
        from ssis_to_dbt_spark.text.bpe import bpe_train

        merges, vocab = bpe_train(self._docs(spark, "aa aa ab"), rounds=3)
        # vocabulary-frequency training: 'aa' counts ONCE with weight 2, so
        # 'a a' wins round 1 at weight 2; 'a b' (weight 1) wins round 2;
        # round 3 finds no pairs left and training stops early
        assert merges == [(1, "a a", 2), (2, "a b", 1)]

    def test_merge_applies_to_vocab(self, spark):
        from ssis_to_dbt_spark.text.bpe import bpe_train

        _, vocab = bpe_train(self._docs(spark, "aa aa ab"), rounds=2)
        syms = {r["w"]: r["sym"].strip() for r in vocab.collect()}
        assert syms["aa"] == "a~a" and syms["ab"] == "a~b"

    def test_segment_uses_merges_in_training_order(self, spark):
        from ssis_to_dbt_spark.text.bpe import bpe_segment, bpe_train
        from pyspark.sql import functions as F

        merges, _ = bpe_train(self._docs(spark, "aa aa ab"), rounds=2)
        probe = spark.createDataFrame([("aab",), ("ba",)], "w string")
        segs = {
            r["w"]: r["seg"]
            for r in probe.select(
                "w", bpe_segment(F.col("w"), merges).alias("seg")
            ).collect()
        }
        # 'a a' merges first (greedy left-to-right), then 'a b' no longer
        # matches because its left 'a' was consumed
        assert segs["aab"] == "a~a b"
        assert segs["ba"] == "b a"  # no learned pair applies

    def test_overlapping_runs_merge_single_pass(self, spark):
        from ssis_to_dbt_spark.text.bpe import bpe_segment

        from pyspark.sql import functions as F

        probe = spark.createDataFrame([("aaa",)], "w string")
        seg = probe.select(
            bpe_segment(F.col("w"), [(1, "a a", 9)]).alias("s")
        ).first()["s"]
        # left-to-right non-overlapping with consumed boundaries: ONE merge
        # per pass, the same greedy both engines implement
        assert seg == "a~a a"


class TestDedupLines:
    def _run(self, spark, text):
        from ssis_to_dbt_spark.text.analysis import dedup_lines
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(text,)], "text string")
        return df.select(dedup_lines(F.col("text")).alias("out")).first()["out"]

    def test_repeats_dropped_first_kept_in_order(self, spark):
        assert self._run(spark, "a\nb\na\nc\nb\na") == "a\nb\nc"

    def test_no_repeats_is_identity(self, spark):
        assert self._run(spark, "x\ny\nz") == "x\ny\nz"

    def test_empty_lines_dedupe_too(self, spark):
        assert self._run(spark, "a\n\nb\n\na") == "a\n\nb"

    def test_single_line_untouched(self, spark):
        assert self._run(spark, "only line") == "only line"


class TestChunking:
    def test_overlapping_chunks(self, spark):
        df = docs_df(spark, [(1, " ".join(f"t{i}" for i in range(10)))])
        out = sorted(
            (r["chunk_idx"], r["chunk_text"], r["chunk_len"])
            for r in tx.chunk_documents(
                df, chunk_tokens=4, overlap_tokens=1
            ).collect()
        )
        assert out == [
            (0, "t0 t1 t2 t3", 4),
            (1, "t3 t4 t5 t6", 4),
            (2, "t6 t7 t8 t9", 4),
        ]

    def test_short_doc_single_chunk(self, spark):
        df = docs_df(spark, [(1, "a b"), (2, "x")])
        out = {r["doc_id"]: (r["chunk_idx"], r["chunk_text"])
               for r in tx.chunk_documents(df, chunk_tokens=4,
                                           overlap_tokens=1).collect()}
        assert out == {1: (0, "a b"), 2: (0, "x")}

    def test_rejects_overlap_ge_chunk(self, spark):
        df = docs_df(spark, [(1, "a b c")])
        with pytest.raises(ValueError, match="overlap"):
            tx.chunk_documents(df, chunk_tokens=4, overlap_tokens=4)

    def test_chunking_is_mapside_only(self, spark):
        df = docs_df(spark, [(1, "a b c d e f")])
        plan = tx.chunk_documents(df)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "Exchange" not in plan


class TestBigramSurprisal:
    def test_known_corpus(self, spark):
        # unigrams: a:3 b:3 x:1; bigrams: "a b":3, "b a":1, "b x":1
        # doc1 = [0, -ln(1/3), 0] -> mean 1.098612/3; doc2 = [0, -ln(1/3)]/2
        df = docs_df(spark, [(1, "a b a b"), (2, "a b x")])
        out = {r["doc_id"]: (r["n_bigrams"], r["surprisal_units"])
               for r in tx.bigram_surprisal(df).collect()}
        # -ln(1/3) = 1.098612 -> 1098612 micro-units; "a b" bigrams score 0
        assert out[1] == (3, 1098612)
        assert out[2] == (2, 1098612)
        means = {r["doc_id"]: r["surprisal_mean"]
                 for r in tx.bigram_surprisal(df).collect()}
        assert abs(means[1] - 1.098612 / 3) < 1e-9
        assert abs(means[2] - 1.098612 / 2) < 1e-9

    def test_single_token_docs_have_no_row(self, spark):
        df = docs_df(spark, [(1, "only"), (2, "two tokens")])
        ids = [r["doc_id"] for r in tx.bigram_surprisal(df).collect()]
        assert ids == [2]


class TestDecontaminate:
    def _frames(self, spark):
        train = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
                (2, "completely different words with no overlap whatsoever here"),
                (3, "tiny doc"),
            ],
            "doc_id long, text string",
        )
        eval_set = spark.createDataFrame(
            [
                (100, "intro alpha beta gamma delta epsilon zeta eta theta outro"),
                (101, "tiny doc"),
            ],
            "doc_id long, text string",
        )
        return train, eval_set

    def test_flags_ngram_overlap_and_short_doc_exact_match(self, spark):
        train, eval_set = self._frames(spark)
        out = {
            r["doc_id"]: r["n_shared"]
            for r in tx.decontaminate(train, eval_set, shingle_n=8).collect()
        }
        # doc 1 shares 8-gram windows of "alpha..theta" (one 8-gram);
        # doc 3 (< 8 tokens) falls back to whole-text exact match with 101
        assert out.get(1, 0) >= 1
        assert out.get(3) == 1
        assert 2 not in out

    def test_clean_corpus_flags_nothing(self, spark):
        train, _ = self._frames(spark)
        eval_set = spark.createDataFrame(
            [(200, "unrelated benchmark sentence nine words long for the test")],
            "doc_id long, text string",
        )
        assert tx.decontaminate(train, eval_set, shingle_n=8).count() == 0


class TestDuplicateSpans:
    def _docs(self, spark):
        shared = "one two three four five six seven eight"  # 8 tokens
        return spark.createDataFrame(
            [
                (1, f"{shared} unique tail for document one"),
                (2, f"prefix words here {shared} and a different tail"),
                (3, "entirely distinct content with no repeated windows at all"),
                (4, "short doc"),  # < w tokens: no windows, no output row
                (5, "rep rep rep rep rep rep rep rep rep rep"),  # self-dup
            ],
            "doc_id long, text string",
        )

    def test_cross_doc_span_flagged_with_position(self, spark):
        out = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["first_dup_pos"])
            for r in tx.duplicate_spans(self._docs(spark), w=8).collect()
        }
        # doc 1: 13 tokens -> 6 windows; the shared 8-gram starts at pos 0
        assert out[1][1] >= 1 and out[1][2] == 0
        # doc 2: shared 8-gram starts after the 3-token prefix
        assert out[2][1] >= 1 and out[2][2] == 3
        # doc 3: windows exist but none duplicated
        assert out[3][1] == 0 and out[3][2] is None
        # doc 4: shorter than w -> no row at all
        assert 4 not in out

    def test_within_document_repetition_counts(self, spark):
        out = {
            r["doc_id"]: r
            for r in tx.duplicate_spans(self._docs(spark), w=8).collect()
        }
        # doc 5: ten identical tokens -> 3 windows, all the same fingerprint,
        # duplicated against EACH OTHER (within one document)
        r = out[5]
        assert r["n_spans"] == 3
        assert r["n_dup_spans"] == 3
        assert r["first_dup_pos"] == 0

    def test_higher_min_count_demotes_pairs(self, spark):
        out = {
            r["doc_id"]: r["n_dup_spans"]
            for r in tx.duplicate_spans(
                self._docs(spark), w=8, min_count=3
            ).collect()
        }
        # the cross-doc span occurs exactly twice -> not duplicated at >= 3;
        # doc 5's window occurs 3 times -> still flagged
        assert out[1] == 0 and out[2] == 0
        assert out[5] == 3


class TestPackSequences:
    def _packed(self, spark, seq=100):
        df = spark.createDataFrame(
            [(i, 10 + (i % 7)) for i in range(300)], "doc_id long, n_tok int"
        )
        return df, tx.pack_sequences(df, "n_tok", seq, key_col="doc_id")

    def test_every_doc_placed_once_with_conserved_tokens(self, spark):
        df, packed = self._packed(spark)
        rows = packed.collect()
        assert len(rows) == 300
        spans = {r["doc_id"]: r["end_tok"] - r["start_tok"] for r in rows}
        toks = {r["doc_id"]: r["n_tok"] for r in df.collect()}
        assert spans == toks

    def test_streams_are_contiguous_and_seq_ids_consistent(self, spark):
        _, packed = self._packed(spark, seq=100)
        by_bucket: dict[int, list] = {}
        for r in packed.collect():
            by_bucket.setdefault(r["seq_id"] % 16, []).append(r)
        for bucket, rows in by_bucket.items():
            rows.sort(key=lambda r: r["start_tok"])
            pos = 0
            for r in rows:
                assert r["start_tok"] == pos  # no gaps, no overlaps
                assert r["seq_id"] == (r["start_tok"] // 100) * 16 + bucket
                pos = r["end_tok"]

    def test_deterministic_under_repartitioning(self, spark):
        df, packed = self._packed(spark)
        again = tx.pack_sequences(
            df.repartition(13), "n_tok", 100, key_col="doc_id"
        )
        key = lambda r: r["doc_id"]
        assert sorted(map(tuple, packed.collect()), key=lambda t: t[0]) == sorted(
            map(tuple, again.collect()), key=lambda t: t[0]
        )


class TestPackSequencesNosplit:
    """No-split (next-fit decreasing) packing: documents never chop
    across sequence boundaries — SFT-data packing."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, 10 + (i * 13) % 77) for i in range(300)],
            "doc_id long, n_tok int",
        )

    def test_no_doc_split_and_capacity_respected(self, spark):
        df = self._df(spark)
        rows = tx.pack_sequences_nosplit(
            df, "n_tok", 100, key_col="doc_id"
        ).collect()
        assert len(rows) == 300  # each doc placed exactly once
        toks = {r["doc_id"]: r["n_tok"] for r in df.collect()}
        by_seq: dict[int, list] = {}
        for r in rows:
            # span equals the doc's token count — never chopped
            assert r["end_tok"] - r["start_tok"] == toks[r["doc_id"]]
            by_seq.setdefault(r["seq_id"], []).append(r)
        for seq, members in by_seq.items():
            members.sort(key=lambda r: r["start_tok"])
            pos = 0
            for r in members:
                assert r["start_tok"] == pos  # contiguous within sequence
                pos = r["end_tok"]
            # capacity holds unless the sequence is a single oversized doc
            assert pos <= 100 or len(members) == 1

    def test_oversized_doc_gets_own_sequence(self, spark):
        df = spark.createDataFrame(
            [(1, 250), (2, 40), (3, 40), (4, 40)], "doc_id long, n_tok int"
        )
        rows = {
            r["doc_id"]: r
            for r in tx.pack_sequences_nosplit(
                df, "n_tok", 100, key_col="doc_id"
            ).collect()
        }
        big = rows[1]
        assert big["start_tok"] == 0 and big["end_tok"] == 250
        others_in_seq = [
            d for d, r in rows.items()
            if r["seq_id"] == big["seq_id"] and d != 1
        ]
        assert others_in_seq == []

    def test_deterministic_under_repartitioning(self, spark):
        df = self._df(spark)
        a = sorted(
            map(tuple, tx.pack_sequences_nosplit(
                df, "n_tok", 100, key_col="doc_id"
            ).collect())
        )
        b = sorted(
            map(tuple, tx.pack_sequences_nosplit(
                df.repartition(13), "n_tok", 100, key_col="doc_id"
            ).collect())
        )
        assert a == b

    def test_null_token_count_raises_loudly(self, spark):
        """A null-text doc yields a NULL token count; silently packing it
        would diverge from the SQL oracle's NULL semantics — the kernel
        must refuse with a clear message instead (the loud-guard
        discipline)."""
        df = spark.createDataFrame(
            [(1, 10), (2, None), (3, 20)], "doc_id long, n_tok int"
        )
        with pytest.raises(Exception, match="NULL token count"):
            tx.pack_sequences_nosplit(
                df, "n_tok", 100, key_col="doc_id"
            ).collect()

    def test_auto_bucket_count_derivation(self, spark):
        """r9: n_buckets auto-derives as max(1, ceil(total/target)) — the
        auto output must be identical to pinning that count explicitly,
        and two fixture scales must derive DIFFERENT counts (the knob
        scales with the data, not the caller's guess)."""
        derived = []
        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
            docs = spark.read.parquet(f"{sf}/documents.parquet")
            dd = docs.select(
                "doc_id", tx.token_count(F.col("text")).alias("n_tok")
            )
            total = dd.agg(F.sum("n_tok")).collect()[0][0]
            nb = max(1, (int(total) + 4095) // 4096)
            derived.append(nb)
            auto = sorted(map(tuple, tx.pack_sequences_nosplit(
                dd, "n_tok", 512, key_col="doc_id",
                target_bucket_tokens=4096,
            ).collect()))
            pinned = sorted(map(tuple, tx.pack_sequences_nosplit(
                dd, "n_tok", 512, key_col="doc_id", n_buckets=nb
            ).collect()))
            assert auto == pinned and len(auto) > 0
        assert derived[0] != derived[1]

    def test_auto_bucket_target_validation(self, spark):
        df = self._df(spark)
        with pytest.raises(ValueError, match="target_bucket_tokens"):
            tx.pack_sequences_nosplit(
                df, "n_tok", 100, key_col="doc_id", target_bucket_tokens=0
            )

    def test_chop_packer_auto_bucket_twin(self, spark):
        """r9: the chop packer gained the same auto-sizing knob
        (n_buckets=None) — auto output must equal pinning the derived
        count, at two scales with different derived counts (the cumsum
        window has the identical one-task-per-bucket hazard)."""
        derived = []
        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
            docs = spark.read.parquet(f"{sf}/documents.parquet")
            dd = docs.select(
                "doc_id", tx.token_count(F.col("text")).alias("n_tok")
            )
            total = dd.agg(F.sum("n_tok")).collect()[0][0]
            nb = max(1, (int(total) + 4095) // 4096)
            derived.append(nb)
            auto = sorted(map(tuple, tx.pack_sequences(
                dd, "n_tok", 512, key_col="doc_id", n_buckets=None,
                target_bucket_tokens=4096,
            ).collect()))
            pinned = sorted(map(tuple, tx.pack_sequences(
                dd, "n_tok", 512, key_col="doc_id", n_buckets=nb
            ).collect()))
            assert auto == pinned and len(auto) > 0
        assert derived[0] != derived[1]

    def test_nfd_waste_bounded_vs_chop(self, spark):
        # decreasing next-fit on uniform smallish docs should not open
        # absurdly more sequences than the chop packer's token total
        df = self._df(spark)
        total = sum(r["n_tok"] for r in df.collect())
        n_seq = (
            tx.pack_sequences_nosplit(df, "n_tok", 100, key_col="doc_id")
            .select("seq_id")
            .distinct()
            .count()
        )
        lower = -(-total // 100)  # ceil: perfect packing
        assert n_seq <= 2 * lower + 16  # NFD stays within 2x + bucket slack


class TestBandBucketCap:
    """The LSH band-bucket cap: a planted mega-family of duplicates must not
    emit quadratic pairs, and on a diverse corpus the cap is a no-op."""

    def _family(self, spark, n=60, extra=()):
        text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [(i, text) for i in range(n)] + list(extra)
        return spark.createDataFrame(rows, "doc_id int, text string")

    def test_minhash_cap_bounds_pairs(self, spark):
        df = self._family(spark, 60)
        capped = tx.minhash_candidates(df, max_bucket_size=10)
        # 60 identical docs -> every band bucket holds all 60; capped to the
        # first 10 ids per band the distinct-pair output is exactly C(10,2).
        assert capped.count() == 45
        uncapped = tx.minhash_candidates(df, max_bucket_size=None)
        assert uncapped.count() == 60 * 59 // 2

    def test_minhash_cap_keeps_id_prefix(self, spark):
        df = self._family(spark, 60)
        pairs = tx.minhash_candidates(df, max_bucket_size=10).collect()
        ids = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
        assert ids == set(range(10))  # deterministic first-N-by-id

    def test_simhash_cap_bounds_pairs(self, spark):
        df = self._family(spark, 60)
        assert tx.simhash_candidates(df, max_bucket_size=8).count() == 28
        assert (
            tx.simhash_candidates(df, max_bucket_size=None).count() == 60 * 59 // 2
        )

    def test_md5_twins_cap(self, spark):
        df = self._family(spark, 40)
        assert tx.minhash_candidates_md5(df, max_bucket_size=5).count() == 10
        assert tx.simhash_md5_candidates(df, max_bucket_size=5).count() == 10

    def test_cap_noop_on_diverse_corpus(self, spark):
        # distinct docs + one small dup family well under the cap: candidate
        # sets with and without the cap must be identical (fixture recall).
        rows = [
            (i, f"unique document number {i} with its own words w{i} x{i} y{i}")
            for i in range(20)
        ] + [(100, "same same text here ok fine"), (101, "same same text here ok fine")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        for fn in (tx.minhash_candidates, tx.simhash_candidates):
            a = sorted(
                (r["doc_a"], r["doc_b"])
                for r in fn(df, max_bucket_size=10_000).collect()
            )
            b = sorted(
                (r["doc_a"], r["doc_b"])
                for r in fn(df, max_bucket_size=None).collect()
            )
            assert a == b and (100, 101) in a


class TestGopherSignals:
    """Planted-fixture coverage of the Gopher rule battery: hand-computable
    repetition fractions, line-shape rules, and edge cases (empty text,
    short docs, ties)."""

    def _one(self, spark, text, col):
        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        return df.select(col.alias("v")).collect()[0]["v"]

    def test_dup_ngram_fraction_planted(self, spark):
        # tokens: a b a b a -> 2-grams: [a b, b a, a b, b a] -> 4 total, 2
        # distinct -> dup fraction 0.5
        v = self._one(spark, "a b a b a", tx.dup_ngram_fraction(F.col("text"), 2))
        assert v == 0.5

    def test_dup_ngram_fraction_no_repeats_and_short(self, spark):
        assert self._one(spark, "a b c", tx.dup_ngram_fraction(F.col("text"), 2)) == 0.0
        # fewer tokens than n -> no n-grams -> 0
        assert self._one(spark, "solo", tx.dup_ngram_fraction(F.col("text"), 2)) == 0.0
        assert self._one(spark, "", tx.dup_ngram_fraction(F.col("text"), 2)) == 0.0

    def test_top_ngram_char_fraction_planted(self, spark):
        # "ab cd ab cd x": 2-grams [ab cd, cd ab, ab cd, cd x]; top = "ab cd"
        # (count 2, 4 non-space chars) -> 8 / 9 non-space chars
        v = self._one(
            spark, "ab cd ab cd x", tx.top_ngram_char_fraction(F.col("text"), 2)
        )
        assert v == pytest.approx(8 / 9, abs=0)

    def test_top_ngram_tie_breaks_lexicographically(self, spark):
        # every 2-gram unique (all count 1): winner is lex-smallest "aa zz"
        # (2 chars+2 chars)*1 / 8 non-space chars
        v = self._one(spark, "zz aa zz bb", tx.top_ngram_char_fraction(F.col("text"), 2))
        assert v == pytest.approx(4 / 8, abs=0)

    def test_dup_ngram_char_fraction_planted(self, spark):
        # tokens: a b c a b c a b c -> 5-grams: [a b c a b, b c a b c,
        # c a b c a, a b c a b, b c a b c] -> "a b c a b" x2 (5 chars),
        # "b c a b c" x2 (5 chars) -> dup chars = 2*5 + 2*5 = 20 over 9
        # non-space chars (overlap-uncorrected, can exceed 1)
        v = self._one(
            spark, "a b c a b c a b c", tx.dup_ngram_char_fraction(F.col("text"), 5)
        )
        assert v == pytest.approx(20 / 9, abs=0)

    def test_line_fractions(self, spark):
        text = "- first bullet\nplain line\n* second bullet\ntrails off...\n\n"
        assert self._one(spark, text, tx.bullet_line_fraction(F.col("text"))) == 0.5
        assert self._one(spark, text, tx.ellipsis_line_fraction(F.col("text"))) == 0.25
        assert self._one(spark, "", tx.bullet_line_fraction(F.col("text"))) == 0.0

    def test_alpha_word_fraction_and_stopwords(self, spark):
        assert self._one(
            spark, "abc 123 d4 --", tx.alpha_word_fraction(F.col("text"))
        ) == 0.5
        assert self._one(
            spark, "the cat and the hat", tx.stopword_count(F.col("text"))
        ) == 3

    def test_gopher_rules_struct(self, spark):
        good = " ".join(
            f"the quick brown fox w{i} jumps over and lazy dog of to is a d{i}"
            for i in range(8)
        )
        row = (
            spark.createDataFrame([(1, good)], "doc_id int, text string")
            .select(tx.gopher_rules(F.col("text")).alias("r"))
            .collect()[0]["r"]
            .asDict()
        )
        assert row["word_count_ok"] and row["stopword_ok"] and row["alpha_word_ok"]
        # degenerate loop output fails the repetition rules and the verdict
        bad = "buy now " * 60
        rb = (
            spark.createDataFrame([(1, bad)], "doc_id int, text string")
            .select(tx.gopher_rules(F.col("text")).alias("r"))
            .collect()[0]["r"]
            .asDict()
        )
        assert not rb["top_2gram_ok"] and not rb["dup_5gram_ok"]
        assert not rb["passes"]


class TestBpeEncode:
    """bpe_encode vs a textbook reference (iterate lowest rank to fixpoint,
    greedy left-to-right merge) — including run and chain cases the
    single-space representation gets wrong."""

    @staticmethod
    def _ref(word, merges):
        toks = list(word)
        while True:
            best = next(
                ((a, b) for a, b in merges
                 if any(toks[i] == a and toks[i + 1] == b
                        for i in range(len(toks) - 1))),
                None,
            )
            if best is None:
                return toks
            a, b = best
            out = []
            for t in toks:
                if out and out[-1] == a and t == b:
                    out[-1] = a + b
                else:
                    out.append(t)
            toks = out

    def _enc(self, spark, words, merges):
        from ssis_to_dbt_spark.text.bpe import bpe_encode

        df = spark.createDataFrame([(w,) for w in words], "word string")
        return {
            r["word"]: r["toks"]
            for r in df.select(
                "word", bpe_encode(F.col("word"), merges).alias("toks")
            ).collect()
        }

    def test_matches_reference_on_tricky_words(self, spark):
        merges = [("t", "h"), ("th", "e"), ("s", "t"), ("st", "r"),
                  ("e", "a"), ("r", "e"), ("a", "a")]
        words = ["the", "there", "stream", "strength", "aaaa", "aaa",
                 "tthhee", "streamsthe", "x", "east", "restart"]
        got = self._enc(spark, words, merges)
        for w in words:
            assert got[w] == self._ref(w, merges), w

    def test_run_merge_is_complete(self, spark):
        # 'aaaa' with rule (a,a): greedy pairs -> [aa, aa]; the old
        # single-space representation would drop the second merge
        got = self._enc(spark, ["aaaa", "aaaaa"], [("a", "a")])
        assert got["aaaa"] == ["aa", "aa"]
        assert got["aaaaa"] == ["aa", "aa", "a"]

    def test_token_counts_conserved(self, spark):
        from ssis_to_dbt_spark.text.bpe import bpe_token_counts

        df = spark.createDataFrame(
            [(1, "the stream"), (2, "the the aaaa"), (3, "")],
            "doc_id int, text string",
        )
        merges = [("t", "h"), ("th", "e"), ("a", "a")]
        rows = {r["doc_id"]: r for r in bpe_token_counts(df, merges).collect()}
        # 'the' -> [the] (1), 'stream' -> s t r e a m (6), 'aaaa' -> [aa, aa]
        assert rows[1]["n_words"] == 2 and rows[1]["n_bpe_tokens"] == 7
        assert rows[2]["n_words"] == 3 and rows[2]["n_bpe_tokens"] == 4
        assert 3 not in rows  # empty doc contributes no row


class TestWinnowing:
    """Winnowing fingerprints: selection guarantee, rightmost-tie rule,
    short-doc edges, and the candidate join with its hot-hash cap."""

    def _fp(self, spark, rows, k=4, w=4):
        df = spark.createDataFrame(rows, "doc_id int, text string")
        return tx.winnow_fingerprints(df, k=k, w=w)

    def test_shared_run_guarantees_shared_fingerprint(self, spark):
        # docs share a token run of length w + k - 1 = 7 -> must share >= 1
        # fingerprint (the winnowing recall guarantee)
        shared = "alpha beta gamma delta epsilon zeta eta"
        rows = [
            (1, "x1 y1 z1 " + shared + " q1 r1"),
            (2, "a2 b2 " + shared + " s2 t2 u2"),
        ]
        fps = self._fp(spark, rows).collect()
        h1 = {r["fp_hash"] for r in fps if r["doc_id"] == 1}
        h2 = {r["fp_hash"] for r in fps if r["doc_id"] == 2}
        assert h1 & h2

    def test_short_docs_yield_nothing(self, spark):
        # < k tokens: no grams; k..k+w-2 grams (< w hashes): no windows
        rows = [(1, "a b c"), (2, "a b c d e f"), (3, "")]
        assert self._fp(spark, rows).count() == 0

    def test_density_and_determinism(self, spark):
        import random

        rng = random.Random(7)
        words = " ".join(f"w{rng.randrange(500)}" for _ in range(200))
        a = sorted(map(tuple, self._fp(spark, [(1, words)]).collect()))
        b = sorted(map(tuple, self._fp(spark, [(1, words)]).collect()))
        assert a == b
        # expected density ~ 2/(w+1) of the 197 grams; loose band
        assert 40 <= len(a) <= 120

    def test_rightmost_tie(self, spark):
        # identical tokens -> every gram hash equal -> each window selects
        # the RIGHTMOST position; distinct positions = one per window end
        rows = [(1, "z z z z z z z z z z")]  # 10 tokens, 7 grams, 4 windows
        fps = self._fp(spark, rows).collect()
        assert {r["fp_pos"] for r in fps} == {4, 5, 6, 7}

    def test_candidates_planted_pair(self, spark):
        shared = " ".join(f"c{i}" for i in range(12))
        rows = [
            (1, shared + " tail1 t1b t1c"),
            (2, shared + " tail2 t2b t2c"),
            (3, "completely different words here nothing shared at all ok"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        pairs = tx.winnow_candidates(df, min_shared=2).collect()
        assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]

    def test_default_path_matches_expression_reference(self, spark):
        # winnow_candidates' own fingerprint pass (the Arrow kernel) gives
        # the pairs the expression reference gives, on the edge-case docs
        # plus a planted near-duplicate pair
        from ssis_to_dbt_spark.text.dedup import _winnow_fingerprints_expr

        shared = " ".join(f"c{i}" for i in range(12))
        rows = TestArrowTwinsRound7.EDGE_DOCS + [
            (13, shared + " tail"), (14, "head " + shared),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(map(tuple, tx.winnow_candidates(df, min_shared=1).collect()))
        ref = sorted(map(tuple, tx.winnow_candidates(
            df, min_shared=1, fingerprints=_winnow_fingerprints_expr(df)
        ).collect()))
        assert got == ref
        assert (13, 14) in {(a, b) for a, b, _ in got}

    def test_hot_hash_cap(self, spark):
        # the same text in 30 docs: every hash hits 30 docs > cap 10 -> no
        # candidate survives; with the cap off, all 435 pairs appear
        rows = [(i, "m0 m1 m2 m3 m4 m5 m6 m7 m8 m9") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        assert tx.winnow_candidates(df, min_shared=1, max_hash_docs=10).count() == 0
        assert tx.winnow_candidates(df, min_shared=1, max_hash_docs=None).count() == 435


class TestProjection:
    """JL sign projection: linearity, determinism, and the JL property
    (projected dot products approximate scaled originals)."""

    def test_deterministic_and_linear(self, spark):
        from ssis_to_dbt_spark.text.similarity import project_embeddings

        rows = [(1, [1.0] * 16), (2, [2.0] * 16), (3, [0.0] * 16)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        out = {
            r["vec_id"]: r["projected"]
            for r in project_embeddings(df, out_dim=4, dims=16).collect()
        }
        # scaling a vector scales its projection (linearity)
        assert out[2] == [2 * x for x in out[1]]
        assert out[3] == [0.0] * 4

    def test_jl_preserves_dot_products(self, spark):
        import random

        from ssis_to_dbt_spark.text.similarity import project_embeddings

        rng = random.Random(3)
        vecs = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id int, embedding array<float>",
        )
        out = {
            r["vec_id"]: r["projected"]
            for r in project_embeddings(df, out_dim=32, dims=64).collect()
        }
        # E[<Pa, Pb>] = k * <a, b>; check the normalized estimate is in a
        # loose band for a few pairs (k=32 -> std err ~ |a||b|/sqrt(32))
        import math

        ok = 0
        for a, b in [(0, 1), (2, 3), (4, 5), (6, 7), (8, 9)]:
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            pdot = sum(x * y for x, y in zip(out[a], out[b])) / 32
            na = math.sqrt(sum(x * x for x in vecs[a]))
            nb = math.sqrt(sum(x * x for x in vecs[b]))
            if abs(pdot - dot) < 4 * na * nb / math.sqrt(32):
                ok += 1
        assert ok >= 4  # allow one 4-sigma miss


class TestRound6NullRobustness:
    """NULL text / empty-frame behavior of the round-6 operators: no crash,
    and NULL text behaves like an empty document wherever a guard exists."""

    def test_gopher_signals_null_text(self, spark):
        from ssis_to_dbt_spark.text.analysis import gopher_signals

        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "the and of to is a " * 20)],
            "doc_id int, text string",
        )
        rows = {r["doc_id"]: r for r in gopher_signals(df).collect()}
        for d in (1, 2):
            assert rows[d]["dup_2gram_frac"] == 0.0
            assert rows[d]["dup_5gram_char_frac"] == 0.0
            assert rows[d]["gopher_pass"] in (False, None)
        assert rows[3]["stop_hits"] > 0

    def test_winnow_and_bpe_null_text(self, spark):
        from ssis_to_dbt_spark.text.bpe import bpe_token_counts

        df = spark.createDataFrame(
            [(1, None), (2, "the quick brown fox jumps over the lazy dog ok")],
            "doc_id int, text string",
        )
        fps = tx.winnow_fingerprints(df).collect()
        assert all(r["doc_id"] == 2 for r in fps) and fps
        counts = bpe_token_counts(df, [("t", "h")]).collect()
        assert [r["doc_id"] for r in counts] == [2]

    def test_funnel_and_intervals_empty_frames(self, spark):
        from ssis_to_dbt_spark.operators.funnel import funnel
        from ssis_to_dbt_spark.operators.window import merge_intervals

        ev = spark.createDataFrame(
            [], "user_id long, ts timestamp, event_type string"
        )
        assert funnel(ev, ["view", "click"]).count() == 0
        iv = spark.createDataFrame([], "k string, s timestamp, e timestamp")
        assert merge_intervals(iv, ["k"], "s", "e").count() == 0

    def test_hll_empty_frame(self, spark):
        from ssis_to_dbt_spark.operators.aggregate import (
            hll_estimate,
            hll_registers,
        )

        df = spark.createDataFrame([], "x long")
        regs = hll_registers(df, "x", b=8)
        assert regs.count() == 0
        r = hll_estimate(regs, b=8).collect()[0]
        # all 256 registers zero -> linear counting of an empty set
        assert r["hll_zeros"] == 256 and r["hll_estimate"] == 0.0


class TestHardNegatives:
    def test_planted(self, spark):
        from ssis_to_dbt_spark.text.similarity import hard_negatives

        rows = [
            (0, [1.0, 0.0], "a"),
            (1, [0.99, 0.14], "b"),   # near but different label -> negative
            (2, [1.0, 0.001], "b"),   # cosine ~1 -> excluded as near-dup
            (3, [0.0, 1.0], "b"),     # orthogonal -> weakest negative
            (4, [0.9, 0.43], "a"),    # same label -> excluded
        ]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label string")
        out = hard_negatives(
            df, k=2, dup_threshold=0.999,
            queries=df.filter(F.col("vec_id") == 0),
        ).collect()
        got = [(r["vec_id"], r["rank"]) for r in out]
        assert got == [(1, 1), (3, 2)]
        assert all(r["q_id"] == 0 for r in out)

    def test_self_and_same_label_never_appear(self, spark):
        from ssis_to_dbt_spark.text.similarity import hard_negatives

        rows = [(i, [float(i), 1.0], "x" if i % 2 else "y") for i in range(10)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label string")
        out = hard_negatives(df, k=3, dup_threshold=1.1).collect()
        ids = {(r["q_id"], r["vec_id"]) for r in out}
        assert all(q != v for q, v in ids)
        lab = {i: ("x" if i % 2 else "y") for i in range(10)}
        assert all(lab[q] != lab[v] for q, v in ids)


class TestCorpusDedupLines:
    def test_boilerplate_removed_corpus_wide(self, spark):
        from ssis_to_dbt_spark.text.dedup import corpus_dedup_lines

        boiler = "accept our cookies"
        rows = [
            (1, f"{boiler}\nunique one\n\n{boiler}"),   # repeat within doc too
            (2, f"{boiler}\nunique two"),
            (3, boiler),                                 # nothing survives
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r for r in corpus_dedup_lines(df).collect()}
        # doc 1 is first: keeps ONE boilerplate occurrence + its unique line
        assert out[1]["n_kept"] == 2 and out[1]["n_dropped"] == 1
        assert out[2]["n_kept"] == 1 and out[2]["n_dropped"] == 1
        assert out[3]["n_kept"] == 0 and out[3]["clean_md5"] is None
        # doc 2's surviving text is exactly its unique line
        import hashlib

        assert out[2]["clean_md5"] == hashlib.md5(b"unique two").hexdigest()


class TestLabelPrototypes:
    def test_centroids_and_assignment(self, spark):
        from ssis_to_dbt_spark.text.similarity import (
            label_centroids,
            prototype_assign,
        )

        rows = [
            (0, [1.0, 0.0], 0), (1, [0.8, 0.0], 0),   # class 0 along x
            (2, [0.0, 1.0], 1), (3, [0.0, 0.6], 1),   # class 1 along y
        ]
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<float>, label int"
        )
        cent = {
            (r["label"], r["dim"]): (r["mean_r"], r["n"])
            for r in label_centroids(df).collect()
        }
        assert cent[(0, 0)] == (0.9, 2) and cent[(0, 1)] == (0.0, 2)
        assert cent[(1, 1)] == (0.8, 2)
        protos = {0: [0.9, 0.0], 1: [0.0, 0.8]}
        pred = {
            r["vec_id"]: r["pred_label"]
            for r in prototype_assign(df, protos).collect()
        }
        assert pred == {0: 0, 1: 0, 2: 1, 3: 1}

    def test_centroids_partition_invariant(self, spark):
        import random

        from ssis_to_dbt_spark.text.similarity import label_centroids

        rng = random.Random(5)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
            for i in range(200)
        ]
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<float>, label int"
        )
        a = sorted(map(tuple, label_centroids(df).collect()))
        b = sorted(map(tuple, label_centroids(df.repartition(13)).collect()))
        assert a == b  # decimal sums: bit-equal at any partitioning


class TestCharEntropy:
    @staticmethod
    def _units(m: int) -> int:
        import math
        from decimal import Decimal

        if m <= 0:
            return 0
        return int(Decimal(str(round(math.log(m), 6))) * 1_000_000)

    def test_known_distribution(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.text.analysis import char_entropy

        df = spark.createDataFrame(
            [(1, "aabb"), (2, "aaaa"), (3, ""), (4, None), (5, "abc")],
            "doc_id int, text string",
        )
        out = {
            r["doc_id"]: r
            for r in df.select(
                "doc_id", char_entropy(F.col("text")).alias("e")
            ).collect()
        }
        u = self._units
        # aabb: n=4, two runs of 2 -> 4*L(4) - 2*(2*L(2))
        assert out[1]["e"]["n_chars"] == 4
        assert out[1]["e"]["n_distinct"] == 2
        assert out[1]["e"]["entropy_units"] == 4 * u(4) - 2 * (2 * u(2))
        # uniform single char: entropy exactly 0
        assert out[2]["e"]["entropy_units"] == 4 * u(4) - 4 * u(4) == 0
        assert out[2]["e"]["n_distinct"] == 1
        # empty and NULL quarantine to the zero struct
        for d in (3, 4):
            assert tuple(out[d]["e"]) == (0, 0, 0)
        # all-distinct: n*L(n) - 0 (each k=1, L(1)=0)
        assert out[5]["e"]["entropy_units"] == 3 * u(3)
        assert out[5]["e"]["n_distinct"] == 3

    def test_order_invariance(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.text.analysis import char_entropy

        df = spark.createDataFrame(
            [(1, "mississippi"), (2, "ipssissimpi")],  # same multiset
            "doc_id int, text string",
        )
        rows = df.select(char_entropy(F.col("text")).alias("e")).collect()
        assert rows[0]["e"] == rows[1]["e"]


class TestKmeansFit:
    def test_two_planted_clusters(self, spark):
        from ssis_to_dbt_spark.text.similarity import ivf_assign, kmeans_fit

        # ids 0..3: near +x; ids 4..7: near +y.  Init = 2 lowest ids, both
        # from the x-cluster, so convergence genuinely has to move one
        # centroid across to the y-cluster.
        rows = [(i, [1.0, 0.05 * i]) for i in range(4)] + [
            (i, [0.05 * (i - 4), 1.0]) for i in range(4, 8)
        ]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        cents = kmeans_fit(df, k=2, rounds=3)
        assigned = {
            r["vec_id"]: r["cell"]
            for r in ivf_assign(df, cents).collect()
        }
        xs = {assigned[i] for i in range(4)}
        ys = {assigned[i] for i in range(4, 8)}
        assert len(xs) == 1 and len(ys) == 1 and xs != ys

    def test_partition_invariant(self, spark):
        import random

        from ssis_to_dbt_spark.text.similarity import kmeans_fit

        rng = random.Random(11)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
        ]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        a = kmeans_fit(df, k=3, rounds=2)
        b = kmeans_fit(df.repartition(7), k=3, rounds=2)
        assert a == b  # decimal sums + round-6 quantization: bit-identical

    def test_empty_cell_keeps_previous_centroid(self, spark):
        from ssis_to_dbt_spark.text.similarity import kmeans_fit

        # both points identical: one centroid captures everything, the
        # other keeps its init vector instead of going NULL
        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 0.0])],
            "vec_id int, embedding array<float>",
        )
        cents = dict(kmeans_fit(df, k=2, rounds=2))
        assert cents[0] == [1.0, 0.0]
        assert cents[1] == [1.0, 0.0]  # init was doc 1's vector; unchanged


class TestPruneClusters:
    def test_keep_longest_policy(self, spark):
        from ssis_to_dbt_spark.text.dedup import prune_clusters

        docs = spark.createDataFrame(
            [(1, 10), (2, 30), (3, 20), (4, 5)],
            "doc_id int, n_chars int",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_a int, doc_b int"
        )
        out = {r["doc_id"]: r for r in prune_clusters(docs, pairs).collect()}
        # cluster {1,2,3}: doc 2 is longest -> kept; 1 and 3 dropped
        assert out[2]["kept"] and not out[1]["kept"] and not out[3]["kept"]
        assert {out[i]["cluster_id"] for i in (1, 2, 3)} == {1}
        assert {out[i]["cluster_size"] for i in (1, 2, 3)} == {3}
        # singleton passes through kept, own id, size 1
        assert out[4]["kept"] and out[4]["cluster_id"] == 4
        assert out[4]["cluster_size"] == 1

    def test_length_tie_breaks_to_lowest_id(self, spark):
        from ssis_to_dbt_spark.text.dedup import prune_clusters

        docs = spark.createDataFrame(
            [(7, 10), (9, 10)], "doc_id int, n_chars int"
        )
        pairs = spark.createDataFrame([(7, 9)], "doc_a int, doc_b int")
        out = {r["doc_id"]: r for r in prune_clusters(docs, pairs).collect()}
        assert out[7]["kept"] and not out[9]["kept"]


class TestPrototypeAssignScaling:
    def test_many_labels_linear_plan(self, spark):
        """20 labels must stay fast: the argmax is max-of-structs, not a
        when-chain (which would be a 2^20-node expression tree)."""
        import random
        import time

        from ssis_to_dbt_spark.text.similarity import prototype_assign

        rng = random.Random(3)
        protos = {
            lab: [rng.uniform(-1, 1) for _ in range(16)] for lab in range(20)
        }
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        t0 = time.time()
        out = prototype_assign(df, protos).collect()
        assert time.time() - t0 < 60
        assert len(out) == 50
        assert all(0 <= r["pred_label"] < 20 for r in out)

    def test_tie_breaks_to_smallest_label(self, spark):
        from ssis_to_dbt_spark.text.similarity import prototype_assign

        protos = {5: [1.0, 0.0], 9: [1.0, 0.0]}  # identical centroids
        df = spark.createDataFrame(
            [(0, [0.5, 0.0])], "vec_id int, embedding array<float>"
        )
        [r] = prototype_assign(df, protos).collect()
        assert r["pred_label"] == 5

    def test_non_numeric_labels_raise(self, spark):
        import pytest as _pt

        from ssis_to_dbt_spark.text.similarity import prototype_assign

        df = spark.createDataFrame(
            [(0, [0.5, 0.0])], "vec_id int, embedding array<float>"
        )
        with _pt.raises(ValueError, match="numeric"):
            prototype_assign(df, {"en": [1.0, 0.0]})
        with _pt.raises(ValueError, match="numeric"):
            prototype_assign(df, {True: [1.0, 0.0]})


class TestClusterSafeSplit:
    def test_no_pair_crosses_the_split(self, spark):
        """The invariant the operator exists for: a near-dup candidate pair
        can never straddle train/test, because the split key is the
        cluster id."""
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.operators.sampling import hash_split
        from ssis_to_dbt_spark.text.dedup import prune_clusters

        docs = spark.createDataFrame(
            [(i, 10 + i) for i in range(40)], "doc_id int, n_chars int"
        )
        # chains of 4: {0..3}, {4..7}, ... — multi-hop so transitivity matters
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40) if i % 4 != 3],
            "doc_a int, doc_b int",
        )
        split = hash_split(prune_clusters(docs, pairs), "cluster_id")
        a = split.select(F.col("doc_id").alias("doc_a"),
                         F.col("split").alias("split_a"))
        b = split.select(F.col("doc_id").alias("doc_b"),
                         F.col("split").alias("split_b"))
        crossing = (
            pairs.join(a, "doc_a").join(b, "doc_b")
            .filter(F.col("split_a") != F.col("split_b"))
        )
        assert crossing.count() == 0
        # split matches the reference md5 arithmetic exactly, per doc
        import hashlib

        got = {
            r["doc_id"]: (r["cluster_id"], r["split"])
            for r in split.collect()
        }
        for doc in range(40):
            cid = (doc // 4) * 4  # min id of the chain-of-4 component
            h = hashlib.md5(str(cid).encode()).hexdigest()[:2]
            want = "test" if h < "19" else "train"
            assert got[doc] == (cid, want)


class TestLineLanguageProfile:
    def test_mixed_document(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.text.analysis import line_language_profile

        text = "\n".join(
            [
                "the cat and the dog is a pet",      # en
                "der hund ist nicht das problem",    # de
                "the sun and the moon of the sky",   # en
                "",                                   # dropped (empty)
                "   ",                                # dropped (blank)
                "xyzzy 12345",                        # und (no markers)
            ]
        )
        df = spark.createDataFrame(
            [(1, text), (2, "le chat et la maison"), (3, ""), (4, None)],
            "doc_id int, text string",
        )
        out = {
            r["doc_id"]: tuple(r["p"])
            for r in df.select(
                "doc_id", line_language_profile(F.col("text")).alias("p")
            ).collect()
        }
        # doc 1: 4 non-empty lines, majority en (2), langs {en, de, und} = 3
        assert out[1] == (4, "en", 2, 3)
        assert out[2] == (1, "fr", 1, 1)
        # empty and NULL quarantine to the typed zero profile
        assert out[3] == (0, "und", 0, 0)
        assert out[4] == (0, "und", 0, 0)

    def test_tie_breaks_in_marker_order(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.text.analysis import line_language_profile

        # one en line, one de line: tie -> en (earlier in marker order)
        text = "the cat and the dog\nder hund ist nicht da"
        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        [r] = df.select(line_language_profile(F.col("text")).alias("p")).collect()
        assert r["p"]["major_lang"] == "en" and r["p"]["major_n"] == 1


class TestCrossCorpusCandidates:
    def test_only_cross_pairs_and_directed(self, spark):
        from ssis_to_dbt_spark.text.dedup import cross_corpus_candidates

        dup = "the quick brown fox jumps over the lazy dog again and again"
        rows_new = [(1, dup), (2, "completely unrelated new text here")]
        rows_corpus = [
            (10, dup),                                  # near-dup of new 1
            (11, dup + " extra"),                       # still similar
            (12, "another unrelated corpus document"),
            (13, "another unrelated corpus document"),  # dup WITHIN corpus
        ]
        new = spark.createDataFrame(rows_new, "doc_id int, text string")
        corpus = spark.createDataFrame(rows_corpus, "doc_id int, text string")
        out = cross_corpus_candidates(new, corpus).collect()
        got = {(r["new_id"], r["corpus_id"]) for r in out}
        # the planted cross dup is found; est on the exact copy is 1.0
        assert (1, 10) in got
        est = {(r["new_id"], r["corpus_id"]): r["est_jaccard"] for r in out}
        assert est[(1, 10)] == 1.0
        # within-corpus dup (12, 13) must NOT appear — only cross pairs
        assert all(n in (1, 2) for n, _ in got)
        assert all(c >= 10 for _, c in got)

    def test_empty_batch_yields_nothing(self, spark):
        from ssis_to_dbt_spark.text.dedup import cross_corpus_candidates

        corpus = spark.createDataFrame(
            [(10, "some corpus text that exists")], "doc_id int, text string"
        )
        new = corpus.filter("doc_id < 0")
        assert cross_corpus_candidates(new, corpus).count() == 0


class TestArrowTwinsRound7:
    """Bit-identity contracts for the round-7 Arrow kernels: same values as
    the expression paths on the real fixture corpus AND on adversarial
    synthetic edge cases (blank/whitespace text, sub-shingle docs, bullet
    and ellipsis lines, repeated n-grams)."""

    EDGE_DOCS = [
        (1, ""),
        (2, "   "),
        (3, "\t\n "),
        (4, "one two three"),  # shorter than k=4 grams
        (5, "a b c d"),  # exactly one gram, fewer than w windows
        (6, "a b c d e f g h i j k l m n o p"),
        (7, "- item one\n- item two\n- item three\nreal text here"),
        (8, "trailing off...\nand more…\nplain line"),
        (9, "the the the the the the the the the the the the"),
        (10, "The Quick brown FOX jumps over the lazy dog " * 20),
        (11, "números con acentos y símbolos: ¡é½!  \n\n fin"),
        (12, "word " * 60),
    ]

    def _edge_df(self, spark):
        return spark.createDataFrame(self.EDGE_DOCS, "doc_id long, text string")

    def test_winnow_bit_identical_on_fixture(self, spark):
        from ssis_to_dbt_spark.text.dedup import (
            _winnow_fingerprints_expr,
            winnow_fingerprints,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = set(map(tuple, _winnow_fingerprints_expr(docs, k=4, w=4).collect()))
        b = set(map(tuple, winnow_fingerprints(docs, k=4, w=4).collect()))
        assert a == b and len(a) > 0

    def test_winnow_bit_identical_on_edge_cases(self, spark):
        from ssis_to_dbt_spark.text.dedup import (
            _winnow_fingerprints_expr,
            winnow_fingerprints,
        )

        df = self._edge_df(spark)
        for k, w in ((4, 4), (2, 3), (1, 1)):
            a = set(map(tuple, _winnow_fingerprints_expr(df, k=k, w=w).collect()))
            b = set(
                map(tuple, winnow_fingerprints(df, k=k, w=w).collect())
            )
            assert a == b, f"winnow mismatch at k={k} w={w}"

    def test_gopher_bit_identical_on_fixture(self, spark):
        from ssis_to_dbt_spark.text.analysis import (
            gopher_signals,
            gopher_signals_arrow,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = {r["doc_id"]: r.asDict() for r in gopher_signals(docs).collect()}
        b = {
            r["doc_id"]: r.asDict()
            for r in gopher_signals_arrow(docs).collect()
        }
        assert a == b  # exact dict equality: every double to the last bit

    def test_gopher_bit_identical_on_edge_cases(self, spark):
        from ssis_to_dbt_spark.text.analysis import (
            gopher_signals,
            gopher_signals_arrow,
        )

        df = self._edge_df(spark)
        a = {r["doc_id"]: r.asDict() for r in gopher_signals(df).collect()}
        b = {
            r["doc_id"]: r.asDict() for r in gopher_signals_arrow(df).collect()
        }
        assert a == b

    def test_gopher_arrow_passes_extras_through(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.text.analysis import (
            gopher_signals,
            gopher_signals_arrow,
        )

        df = self._edge_df(spark)
        extras = {"n_chars_x": F.length("text"), "upper_id": F.col("doc_id") * 2}
        a = {r["doc_id"]: r.asDict() for r in gopher_signals(df, extra_cols=extras).collect()}
        b = {r["doc_id"]: r.asDict() for r in gopher_signals_arrow(df, extra_cols=extras).collect()}
        assert a == b
        assert a[4]["n_chars_x"] == 13 and a[4]["upper_id"] == 8


class TestFarthestPointSeeds:
    """Round-7 deterministic k-means++-style seeding: well-spread seeds on
    exactly the degenerate input that breaks lowest-id seeding."""

    def test_spreads_where_lowest_id_degenerates(self, spark):
        from ssis_to_dbt_spark.text.similarity import (
            farthest_point_seeds,
            ivf_centroids,
        )

        # first 3 ids are near-identical: lowest-id seeding yields 3
        # duplicate centroids; farthest-point must pick 3 distinct regions
        rows = (
            [(i, [1.0, 0.001 * i]) for i in range(3)]
            + [(10, [-1.0, 0.0]), (11, [0.0, 1.0])]
        )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        low = ivf_centroids(df, n_cells=3)
        assert all(v[0] == 1.0 for _, v in low)  # degenerate: all same region
        fps = farthest_point_seeds(df, k=3)
        vecs = [v for _, _, v in fps]
        assert any(v[0] < 0 for v in vecs)       # reached the -x region
        assert any(v[1] > 0.9 for v in vecs)     # reached the +y region

    def test_deterministic_and_partition_invariant(self, spark):
        from ssis_to_dbt_spark.text.similarity import farthest_point_seeds

        rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        a = farthest_point_seeds(df, k=4)
        b = farthest_point_seeds(df.repartition(7), k=4)
        assert a == b

    def test_kmeans_farthest_seeding_fills_cells(self, spark):
        from ssis_to_dbt_spark.text.similarity import ivf_assign, kmeans_fit

        rows = (
            [(i, [1.0, 0.0]) for i in range(3)]
            + [(10 + i, [-1.0, 0.1 * i]) for i in range(3)]
        )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = kmeans_fit(df, k=2, rounds=1, seeding="farthest")
        assigned = ivf_assign(df, cents)
        cells = {r["cell"] for r in assigned.collect()}
        assert len(cells) == 2  # both clusters found despite duplicate head

    def test_k1_and_empty_and_bad_seeding(self, spark):
        import pytest as _pt

        from ssis_to_dbt_spark.text.similarity import (
            farthest_point_seeds,
            kmeans_fit,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
        )
        assert len(farthest_point_seeds(df, k=1)) == 1
        empty = df.filter("vec_id < 0")
        assert farthest_point_seeds(empty, k=3) == []
        with _pt.raises(ValueError):
            farthest_point_seeds(df, k=0)
        with _pt.raises(ValueError):
            kmeans_fit(df, k=1, seeding="random")


def test_index_shapes_are_not_options():
    """The MinHash and pHash index shapes are the ``dedup`` module
    constants: no write, append, compaction, probe or hashing function
    takes a shape parameter a caller could set differently."""
    import inspect

    from ssis_to_dbt_spark import ingest, streaming
    from ssis_to_dbt_spark.text import dedup, multimodal

    fns = [
        dedup.minhash_signatures_md5,
        dedup.minhash_signatures_md5_arrow,
        dedup.minhash_candidates_md5,
        dedup.corpus_dedup_index,
        dedup.write_corpus_dedup_index,
        dedup.append_corpus_dedup_index,
        dedup.cross_corpus_candidates,
        dedup.compact_corpus_dedup_index,
        dedup.write_phash_index,
        dedup.append_phash_index,
        dedup.compact_phash_index,
        dedup.phash_probe_index,
        dedup.phash_keep_one,
        dedup.phash_candidates,
        ingest.ingest_media_batch,
        streaming.write_stream_media_ingest,
        multimodal.image_phash,
        multimodal.dhash_image,
        multimodal.ahash_image,
    ]
    shape = {
        "num_hashes", "bands", "shingle_n", "bits", "band_bits",
        "hash_w", "hash_h",
    }
    for fn in fns:
        assert not shape & set(inspect.signature(fn).parameters), fn.__name__


class TestBandCapAdversarial:
    """Round-7 stress test: the band cap's bound must hold END-TO-END under
    the adversarial input it exists for — thousands of copies of one
    document, which without the cap would emit m(m-1)/2 pairs through a
    single band-bucket join task."""

    def test_duplicate_flood_pair_output_bounded(self, spark):
        import time

        from ssis_to_dbt_spark.text.dedup import minhash_candidates_md5

        text = "the quick brown fox jumps over the lazy dog again and again"
        n_dup, cap = 4000, 50
        rows = [(i, text) for i in range(n_dup)] + [
            (n_dup + i, f"unique filler document number {i} with words {i*7}")
            for i in range(50)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        t0 = time.time()
        pairs = minhash_candidates_md5(df, max_bucket_size=cap).collect()
        dt = time.time() - t0
        # bound: every duplicate band bucket truncates to cap members ->
        # <= cap*(cap-1)/2 distinct pairs per bucket; all 4 bands hold the
        # same duplicate family, so the DISTINCT pair union is bounded by
        # cap*(cap-1)/2 (+ any accidental filler collisions), NOT ~8e6
        uncapped = n_dup * (n_dup - 1) // 2
        bound = 4 * cap * (cap - 1) // 2
        assert len(pairs) <= bound, (len(pairs), bound)
        assert len(pairs) < uncapped / 100
        # the kept prefix still surfaces the duplicate family
        dup_pairs = [
            p for p in pairs if p["doc_a"] < n_dup and p["doc_b"] < n_dup
        ]
        assert len(dup_pairs) > 0
        assert all(p["est_jaccard"] == 1.0 for p in dup_pairs)
        # wall-time sanity: this must behave like a capped join, not an
        # 8M-pair blowup (generous CI bound; uncapped measured >>60s shape)
        assert dt < 60, f"duplicate flood took {dt:.1f}s — cap not effective?"

    def test_cap_keeps_lowest_id_prefix_deterministically(self, spark):
        from ssis_to_dbt_spark.text.dedup import minhash_candidates_md5

        text = "identical content in every copy of this document body"
        df = spark.createDataFrame(
            [(i, text) for i in range(100)], "doc_id long, text string"
        )
        a = sorted(
            (r["doc_a"], r["doc_b"])
            for r in minhash_candidates_md5(df, max_bucket_size=5).collect()
        )
        b = sorted(
            (r["doc_a"], r["doc_b"])
            for r in minhash_candidates_md5(
                df.repartition(13), max_bucket_size=5
            ).collect()
        )
        assert a == b  # content-addressed truncation: partition-invariant
        # kept members are the id-ordered prefix of the bucket
        members = {x for p in a for x in p}
        assert members == set(range(5))


class TestTextSignalsArrow:
    """Bit-identity contract for the full text-analysis Arrow kernel vs the
    expression battery it replaces in the driver entry."""

    def test_bit_identical_on_fixture(self, spark):
        from ssis_to_dbt_spark import catalog

        sf = "/root/testdata/sf0.001"
        a = {
            r["doc_id"]: r.asDict()
            for r in catalog.ALL_QUERIES["text_analysis_docs"](spark, sf).collect()
        }
        b = {
            r["doc_id"]: r.asDict()
            for r in catalog.ALL_QUERIES["text_analysis_docs_expr"](
                spark, sf
            ).collect()
        }
        assert a == b  # every double/int/string to the last bit

    def test_bit_identical_on_edge_cases(self, spark):
        from ssis_to_dbt_spark.text.analysis import text_signals_arrow

        from ssis_to_dbt_spark import catalog  # noqa: F401

        edge = TestArrowTwinsRound7.EDGE_DOCS + [
            (20, "the and of to is a " * 10),      # stopword-saturated
            (21, "999 888 777 666 555"),           # digits only tokens
            (22, "x" * 2000),                      # single-char, len factor capped
            (23, "der die und das ist nicht hier"),  # german beats english
        ]
        df = spark.createDataFrame(edge, "doc_id long, text string")
        arrow = {r["doc_id"]: r.asDict() for r in text_signals_arrow(df).collect()}
        # expression twin over the same frame
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.catalog import _char_entropy_struct
        from ssis_to_dbt_spark.text import (
            digit_fraction,
            document_fingerprint,
            dup_token_fraction,
            language_id,
            max_token_run,
            mean_token_length,
            quality_score,
            regex_token_count,
            symbol_fraction,
            token_count,
            top_token_fraction,
        )

        txt = F.col("text")
        out = df.select(
            "doc_id",
            token_count(txt).alias("n_tokens"),
            regex_token_count(txt).alias("n_bpe"),
            language_id(txt).alias("lang_pred"),
            quality_score(txt).alias("q_score"),
            document_fingerprint(txt).alias("fingerprint"),
            mean_token_length(txt).alias("mean_tok_len"),
            dup_token_fraction(txt).alias("dup_tok_frac"),
            top_token_fraction(txt).alias("top_tok_frac"),
            max_token_run(txt).cast("int").alias("max_run"),
            symbol_fraction(txt).alias("symbol_frac"),
            digit_fraction(txt).alias("digit_frac"),
            _char_entropy_struct(txt).alias("_ent"),
        )
        keep = [c for c in out.columns if c != "_ent"]
        expr = {
            r["doc_id"]: r.asDict()
            for r in out.select(
                *keep,
                F.col("_ent").getField("n_distinct").alias("ent_distinct"),
                F.col("_ent").getField("entropy_units").alias("entropy_units"),
            ).collect()
        }
        assert arrow == expr
        assert expr[23]["lang_pred"] == "de"


class TestPrototypeAssignArrow:
    def test_bit_identical_to_expr(self, spark):
        from ssis_to_dbt_spark.text.similarity import (
            label_centroids,
            prototype_assign,
            prototype_assign_arrow,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = label_centroids(emb).orderBy("label", "dim").collect()
        protos = {}
        for r in rows:
            protos.setdefault(r["label"], []).append(float(r["mean_r"]))
        a = {
            r["vec_id"]: (int(r["pred_label"]), r["cosine"])
            for r in prototype_assign(emb, protos).collect()
        }
        b = {
            r["vec_id"]: (int(r["pred_label"]), r["cosine"])
            for r in prototype_assign_arrow(emb, protos).collect()
        }
        assert a == b  # raw cosines to the last bit, same tie-breaks

    def test_tie_breaks_to_smallest_label(self, spark):
        from ssis_to_dbt_spark.text.similarity import prototype_assign_arrow

        protos = {5: [1.0, 0.0], 9: [1.0, 0.0]}
        df = spark.createDataFrame(
            [(0, [0.5, 0.0])], "vec_id int, embedding array<float>"
        )
        [r] = prototype_assign_arrow(df, protos).collect()
        assert r["pred_label"] == 5

    def test_rejects_non_numeric_and_empty(self, spark):
        import pytest as _pt

        from ssis_to_dbt_spark.text.similarity import prototype_assign_arrow

        df = spark.createDataFrame(
            [(0, [0.5, 0.0])], "vec_id int, embedding array<float>"
        )
        with _pt.raises(ValueError, match="numeric"):
            prototype_assign_arrow(df, {"en": [1.0, 0.0]})
        with _pt.raises(ValueError, match="non-empty"):
            prototype_assign_arrow(df, {})


class TestArrowTwinsUnicode:
    """The Arrow twins' riskiest divergence surface is JVM-vs-Python
    lowercasing and whitespace classes; pin bit-identity on Turkish
    dotted-I, ligatures, sharp-s, Greek final sigma, astral emoji,
    unicode spaces (NBSP/thin/LS/PS are NOT ASCII \\s), and ASCII control
    whitespace."""

    ROWS = [
        (1, "İstanbul ŞEHİR ıçın Straße GROSS"),
        (2, "nb sp and thin space ls ps end"),
        (3, "emoji \U0001f389 party \U0001f38a done"),
        (4, "ﬁ ligature ﬆ and ß MASSE"),
        (5, "mixed\x0bvertical\x0ctab\rcarriage"),
        (6, "ΣΊΣΥΦΟΣ greek FINAL sigma ς"),
    ]

    def test_all_twins_bit_identical_on_unicode(self, spark):
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.catalog import _char_entropy_struct
        from ssis_to_dbt_spark.text import (
            digit_fraction,
            document_fingerprint,
            dup_token_fraction,
            language_id,
            max_token_run,
            mean_token_length,
            quality_score,
            regex_token_count,
            symbol_fraction,
            token_count,
            top_token_fraction,
        )
        from ssis_to_dbt_spark.text.analysis import (
            gopher_signals,
            gopher_signals_arrow,
            text_signals_arrow,
        )
        from ssis_to_dbt_spark.text.dedup import (
            _winnow_fingerprints_expr,
            winnow_fingerprints,
        )

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        txt = F.col("text")
        out = df.select(
            "doc_id",
            token_count(txt).alias("n_tokens"),
            regex_token_count(txt).alias("n_bpe"),
            language_id(txt).alias("lang_pred"),
            quality_score(txt).alias("q_score"),
            document_fingerprint(txt).alias("fingerprint"),
            mean_token_length(txt).alias("mean_tok_len"),
            dup_token_fraction(txt).alias("dup_tok_frac"),
            top_token_fraction(txt).alias("top_tok_frac"),
            max_token_run(txt).cast("int").alias("max_run"),
            symbol_fraction(txt).alias("symbol_frac"),
            digit_fraction(txt).alias("digit_frac"),
            _char_entropy_struct(txt).alias("_ent"),
        )
        keep = [c for c in out.columns if c != "_ent"]
        expr = {
            r["doc_id"]: r.asDict()
            for r in out.select(
                *keep,
                F.col("_ent").getField("n_distinct").alias("ent_distinct"),
                F.col("_ent").getField("entropy_units").alias("entropy_units"),
            ).collect()
        }
        arrow = {
            r["doc_id"]: r.asDict() for r in text_signals_arrow(df).collect()
        }
        assert expr == arrow
        ge = {r["doc_id"]: r.asDict() for r in gopher_signals(df).collect()}
        ga = {
            r["doc_id"]: r.asDict() for r in gopher_signals_arrow(df).collect()
        }
        assert ge == ga
        we = set(map(tuple, _winnow_fingerprints_expr(df, k=2, w=2).collect()))
        wa = set(map(tuple, winnow_fingerprints(df, k=2, w=2).collect()))
        assert we == wa
        from ssis_to_dbt_spark.text.dedup import (
            minhash_signatures_md5,
            minhash_signatures_md5_arrow,
        )

        ms = {
            r["doc_id"]: list(r["minhash"])
            for r in minhash_signatures_md5(df).collect()
        }
        ma = {
            r["doc_id"]: list(r["minhash"])
            for r in minhash_signatures_md5_arrow(df).collect()
        }
        assert ms == ma

    def test_dsir_scorer_bit_identical_on_unicode(self, spark):
        """The r7 gap: Unicode whitespace (NBSP/thin/LS/PS) tokenizes
        differently under Python's Unicode \\s than Java's ASCII \\s unless
        the Arrow twin compiles with re.ASCII — pin the parity here."""
        from pyspark.sql import functions as F

        from ssis_to_dbt_spark.text.analysis import (
            _dsir_fit_state_expr,
            _dsir_score_expr,
            dsir_fit,
            dsir_model_from_state,
            dsir_score,
        )

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        tgt = F.col("doc_id") % 2 == 0
        model = dsir_fit(df, tgt, buckets=64)
        expr = {tuple(r) for r in _dsir_score_expr(df, model).collect()}
        arrow = {tuple(r) for r in dsir_score(df, model).collect()}
        assert expr == arrow
        # the fit kernel shares the tokenizer — pin it on the same rows
        ref = dsir_model_from_state(_dsir_fit_state_expr(df, tgt, 64), 64)
        assert model == ref


class TestDsir:
    """DSIR importance resampling (hashed n-gram bucket model)."""

    def _df(self, spark):
        rows = [
            # target slice: documents about "alpha beta"
            (1, "alpha beta alpha beta alpha", "en"),
            (2, "alpha beta gamma alpha beta", "en"),
            (3, "beta alpha beta alpha", "en"),
            # raw pool: off-target documents about "delta epsilon"
            (4, "delta epsilon delta epsilon delta", "de"),
            (5, "epsilon delta zeta epsilon delta", "de"),
            # unlabeled candidates: one target-like, one off-target-like
            (6, "alpha beta alpha beta", "fr"),
            (7, "delta epsilon delta epsilon", "fr"),
            # featureless
            (8, "", "fr"),
        ]
        return spark.createDataFrame(rows, "doc_id int, text string, lang string")

    def test_target_like_doc_outranks_off_target(self, spark):
        from ssis_to_dbt_spark.text.analysis import dsir_importance

        out = {
            r["doc_id"]: r
            for r in dsir_importance(
                self._df(spark), F.col("lang") == "en", buckets=64
            ).collect()
        }
        assert len(out) == 8
        # the target-like candidate must carry a strictly larger importance
        # weight than its off-target twin of the same length
        assert out[6]["weight_units"] > out[7]["weight_units"]
        # and target-like mass is positive, off-target negative (log ratio)
        assert out[6]["weight_units"] > 0 > out[7]["weight_units"]

    def test_featureless_doc_scores_zero_and_survives(self, spark):
        from ssis_to_dbt_spark.text.analysis import dsir_importance

        out = {
            r["doc_id"]: r
            for r in dsir_importance(
                self._df(spark), F.col("lang") == "en", buckets=64
            ).collect()
        }
        assert out[8]["n_feats"] == 0
        assert out[8]["weight_units"] == 0
        assert out[8]["gumbel_units"] is not None

    def test_n_feats_counts_unigrams_plus_bigrams(self, spark):
        from ssis_to_dbt_spark.text.analysis import dsir_importance

        out = {
            r["doc_id"]: r["n_feats"]
            for r in dsir_importance(
                self._df(spark), F.col("lang") == "en", buckets=64
            ).collect()
        }
        # doc 1 has 5 tokens -> 5 unigrams + 4 bigrams
        assert out[1] == 9
        assert out[6] == 4 + 3

    def test_select_is_topk_and_partition_invariant(self, spark):
        from ssis_to_dbt_spark.text.analysis import dsir_importance, dsir_select

        df = self._df(spark)
        tgt = F.col("lang") == "en"
        picks = sorted(
            r["doc_id"]
            for r in dsir_select(dsir_importance(df, tgt, buckets=64), 3).collect()
        )
        picks_rep = sorted(
            r["doc_id"]
            for r in dsir_select(
                dsir_importance(df.repartition(7), tgt, buckets=64), 3
            ).collect()
        )
        assert len(picks) == 3
        assert picks == picks_rep

    def test_python_oracle_bit_exact(self, spark):
        """weight_units and gumbel_units match an exact Python replica of
        the bucket model (md5 buckets, add-one smoothing, round(ln,6)
        micro-units) — the same determinism discipline as bigram surprisal."""
        import hashlib
        import math
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        from ssis_to_dbt_spark.text.analysis import dsir_importance

        B = 64

        def rhu6(x):
            # Spark's F.round is HALF_UP (Python round is half-even)
            return int(
                Decimal(repr(x)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
                * 1_000_000
            )

        def units(m):
            return rhu6(math.log(m)) if m > 0 else 0

        def bucket(g):
            return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

        rows = [
            (r["doc_id"], r["text"], r["lang"])
            for r in self._df(spark).collect()
        ]
        per_doc, q_cnt, p_cnt = {}, Counter(), Counter()
        for did, text, lang in rows:
            toks = text.strip().split() if text.strip() else []
            grams = toks + [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]
            c = Counter(bucket(g) for g in grams)
            per_doc[did] = c
            q_cnt.update(c)
            if lang == "en":
                p_cnt.update(c)
        qt, pt = sum(q_cnt.values()), sum(p_cnt.values())
        ratio = {
            b: units(p_cnt[b] + 1) - units(pt + B)
            - units(q_cnt[b] + 1) + units(qt + B)
            for b in q_cnt
        }

        def gumbel(did):
            h = int(
                hashlib.md5(str(did).encode()).hexdigest()[:15], 16
            )
            u = float(h + 1) / 2305843009213693952.0
            return rhu6(-math.log(-math.log(u)))

        got = {
            r["doc_id"]: r
            for r in dsir_importance(
                self._df(spark), F.col("lang") == "en", buckets=B
            ).collect()
        }
        for did, c in per_doc.items():
            want_w = sum(n * ratio[b] for b, n in c.items())
            assert got[did]["weight_units"] == want_w, did
            assert got[did]["n_feats"] == sum(c.values())
            assert got[did]["gumbel_units"] == gumbel(did), did

    def test_buckets_validation(self, spark):
        from ssis_to_dbt_spark.text.analysis import dsir_importance

        with pytest.raises(ValueError, match="buckets"):
            dsir_importance(self._df(spark), F.col("lang") == "en", buckets=1)

    def test_fit_then_apply_bit_identical_to_fused(self, spark):
        """dsir_fit + dsir_score reproduces dsir_importance exactly (same
        integers, same in-order sums)."""
        from ssis_to_dbt_spark.text.analysis import (
            dsir_fit,
            dsir_importance,
            dsir_score,
        )

        df = self._df(spark)
        tgt = F.col("lang") == "en"
        fused = sorted(
            tuple(r)
            for r in dsir_importance(df, tgt, buckets=64).collect()
        )
        model = dsir_fit(df, tgt, buckets=64)
        applied = sorted(tuple(r) for r in dsir_score(df, model).collect())
        assert fused == applied

    def test_score_heldout_corpus_uses_smoothed_default(self, spark):
        """Scoring a corpus the model never saw: unseen grams land in
        unseen buckets and get the smoothed default ratio — no nulls, no
        errors (the cross-corpus crawl-scoring shape)."""
        from ssis_to_dbt_spark.text.analysis import dsir_fit, dsir_score

        model = dsir_fit(self._df(spark), F.col("lang") == "en", buckets=64)
        held = spark.createDataFrame(
            [(100, "totally unseen vocabulary everywhere"), (101, "")],
            "doc_id int, text string",
        )
        out = {r["doc_id"]: r for r in dsir_score(held, model).collect()}
        assert out[100]["n_feats"] == 4 + 3
        assert out[100]["weight_units"] is not None
        assert out[101]["n_feats"] == 0 and out[101]["weight_units"] == 0

    def test_fit_arrow_engine_bit_identical(self, spark):
        """dsir_fit — per-batch partial bucket counts — must reproduce
        the expression explode's model exactly, including on empty/null
        text and under repartitioning."""
        from ssis_to_dbt_spark.text.analysis import (
            _dsir_fit_state_expr,
            dsir_fit,
            dsir_model_from_state,
        )

        df = self._df(spark)
        tgt = F.col("lang") == "en"
        expr = dsir_model_from_state(_dsir_fit_state_expr(df, tgt, 64), 64)
        arrow = dsir_fit(df, tgt, buckets=64)
        assert expr == arrow
        arrow7 = dsir_fit(df.repartition(7), tgt, buckets=64)
        assert expr == arrow7

    def test_fit_arrow_null_target_counts_into_q_only(self, spark):
        """NULL target predicate rows: the expression path's
        when(_tgt,1).otherwise(0) counts them into _q_cnt only — the
        arrow kernel must match."""
        from ssis_to_dbt_spark.text.analysis import (
            _dsir_fit_state_expr,
            dsir_fit,
            dsir_model_from_state,
        )

        rows = [
            (1, "alpha beta alpha", "en"),
            (2, "delta epsilon", None),  # NULL lang -> NULL target
            (3, "alpha delta", "de"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id int, text string, lang string"
        )
        tgt = F.col("lang") == "en"
        assert dsir_fit(df, tgt, buckets=32) == dsir_model_from_state(
            _dsir_fit_state_expr(df, tgt, 32), 32
        )

    def test_merge_state_refit_bit_equals_full_refit(self, spark):
        """Incremental refit (growing reference corpus): fit-state on two
        disjoint slices, merge (sum-of-sums), derive — model must be
        BIT-EQUAL to the single-pass full fit."""
        from ssis_to_dbt_spark.text.analysis import (
            dsir_fit,
            dsir_fit_state,
            dsir_merge_state,
            dsir_model_from_state,
        )

        df = self._df(spark)
        tgt = F.col("lang") == "en"
        full = dsir_fit(df, tgt, buckets=64)
        s1 = dsir_fit_state(df.filter(F.col("doc_id") <= 4), tgt, 64)
        s2 = dsir_fit_state(df.filter(F.col("doc_id") > 4), tgt, 64)
        merged = dsir_model_from_state(dsir_merge_state(s1, s2), 64)
        assert merged == full

    def test_merge_state_with_empty_delta_is_identity(self, spark):
        from ssis_to_dbt_spark.text.analysis import (
            dsir_fit,
            dsir_fit_state,
            dsir_merge_state,
            dsir_model_from_state,
        )

        df = self._df(spark)
        tgt = F.col("lang") == "en"
        full = dsir_fit(df, tgt, buckets=64)
        empty = dsir_fit_state(df.filter(F.lit(False)), tgt, 64)
        merged = dsir_model_from_state(
            dsir_merge_state(dsir_fit_state(df, tgt, 64), empty), 64
        )
        assert merged == full

    def test_merge_state_associative_three_way(self, spark):
        """Delta-append order must not matter: ((a+b)+c) == fit(a∪b∪c)."""
        from ssis_to_dbt_spark.text.analysis import (
            dsir_fit,
            dsir_fit_state,
            dsir_merge_state,
            dsir_model_from_state,
        )

        df = self._df(spark)
        tgt = F.col("lang") == "en"
        full = dsir_fit(df, tgt, buckets=64)
        parts = [
            dsir_fit_state(df.filter(F.col("doc_id") % 3 == i), tgt, 64)
            for i in range(3)
        ]
        acc = parts[0]
        for p in parts[1:]:
            acc = dsir_merge_state(acc, p)
        assert dsir_model_from_state(acc, 64) == full

    def test_fit_on_gramless_corpus_returns_zero_model(self, spark):
        from ssis_to_dbt_spark.text.analysis import dsir_fit

        empty = spark.createDataFrame(
            [(1, ""), (2, "")], "doc_id int, text string"
        )
        model = dsir_fit(empty, F.lit(True), buckets=16)
        assert model == [0] * 16

    def test_arrow_score_engine_bit_identical(self, spark):
        """dsir_score == the expression fold, including adversarial
        whitespace (F.trim strips spaces only; Java split keeps leading
        empty tokens) and unicode text."""
        from ssis_to_dbt_spark.text.analysis import (
            _dsir_score_expr,
            dsir_fit,
            dsir_score,
        )

        adversarial = spark.createDataFrame(
            [
                (1, "alpha beta alpha", "en"),
                (2, "\talpha\tbeta\t", "en"),       # tabs survive F.trim
                (3, "  leading spaces trimmed", "de"),
                (4, "", "de"),
                (5, "   ", "fr"),                    # all-space -> blank
                (6, "\n", "fr"),                     # newline survives trim
                (7, "ünïcode grüße 中文 text", "de"),
                (8, None, "en"),
                (9, "single", "fr"),
            ],
            "doc_id int, text string, lang string",
        )
        model = dsir_fit(adversarial, F.col("lang") == "en", buckets=32)
        a = sorted(
            tuple(r) for r in _dsir_score_expr(adversarial, model).collect()
        )
        b = sorted(
            tuple(r) for r in dsir_score(adversarial, model).collect()
        )
        assert a == b

class TestCurationPipeline:
    """End-to-end composed curation chain (gate -> dedup prune ->
    decontaminate -> DSIR select -> temperature mixture -> pack): the
    oracle proves values; these pin the SEAM INVARIANTS — each stage
    consumes exactly the previous stage's survivors."""

    SF = "/root/testdata/sf0.001"

    def test_stage_seams_consistent(self, spark):
        from ssis_to_dbt_spark.catalog import (
            _PIPELINE_DSIR_K,
            ALL_QUERIES,
        )

        rows = ALL_QUERIES["curation_pipeline_docs"](spark, self.SF).collect()
        by = {}
        for r in rows:
            by.setdefault(r["component"], []).append(r)
        gate = {r["doc_id"] for r in by["gate"]}
        prune_all = {r["doc_id"] for r in by["prune"]}
        kept = {r["doc_id"] for r in by["prune"] if r["s1"] == "true"}
        cont = {r["doc_id"] for r in by["contaminated"]}
        clean = {r["doc_id"] for r in by["clean"]}
        sel = {r["doc_id"] for r in by["dsir_sel"]}
        mix = {r["doc_id"] for r in by["mixture"]}
        pack = {r["doc_id"] for r in by["pack"]}
        assert prune_all == gate  # prune decides every gated doc
        assert kept <= gate and len(kept) < len(gate)  # dedup really drops
        assert cont <= kept  # contamination is checked on dedup survivors
        assert clean == kept - cont and cont  # decontam really drops
        assert sel <= clean and len(sel) <= _PIPELINE_DSIR_K
        assert mix <= sel and mix  # mixture keeps a non-empty subset
        assert pack == mix  # packing covers exactly the final kept set

    def test_pack_coordinates_well_formed(self, spark):
        from ssis_to_dbt_spark.catalog import ALL_QUERIES

        rows = ALL_QUERIES["curation_pipeline_docs"](spark, self.SF).collect()
        packs = [r for r in rows if r["component"] == "pack"]
        assert packs
        for r in packs:
            start, end = r["v2"], int(r["s1"])
            assert 0 <= start <= end
        # per bucket stream, doc spans tile without gaps or overlaps —
        # r9: the stream count auto-sizes (ceil(total/2^24); 1 at
        # fixture scale), derived here with the stage's own arithmetic
        total = sum(int(r["s1"]) - r["v2"] for r in packs)
        nb = max(1, (total + (1 << 24) - 1) // (1 << 24))
        streams = {}
        for r in packs:
            streams.setdefault(r["v1"] % nb, []).append(
                (r["v2"], int(r["s1"]))
            )
        for spans in streams.values():
            spans.sort()
            pos = 0
            for start, end in spans:
                assert start == pos
                pos = end


class TestPruneClustersSizeAware:
    """r9: prune_clusters measures the component table before pinning
    broadcasts — the forced-large regime (threshold 0) must produce the
    identical (cluster_id, cluster_size, kept) assignment with no
    broadcast of the component table in its plan."""

    def test_regimes_value_identical_and_plans_differ(self, spark, monkeypatch):
        from ssis_to_dbt_spark.text import dedup
        from ssis_to_dbt_spark.text.dedup import (
            minhash_candidates_md5,
            prune_clusters,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text", "n_chars")
        pairs = minhash_candidates_md5(docs).localCheckpoint()
        small = prune_clusters(docs, pairs)
        monkeypatch.setattr(dedup, "PRUNE_BROADCAST_MAX_IDS", 0)
        large = prune_clusters(docs, pairs)
        assert sorted(map(tuple, small.collect())) == sorted(
            map(tuple, large.collect())
        )
        p_small = small._jdf.queryExecution().executedPlan().toString()
        p_large = large._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p_small
        assert "BroadcastHashJoin" not in p_large


class TestBm25TopK:
    """r11: BM25 lexical retrieval — scores checked against a pure-python
    replica of the formula (same round-6 micro-unit quantization)."""

    @staticmethod
    def _u6(x):
        # engine rounding: HALF_UP on the shortest repr (Spark round),
        # not python round()'s HALF_EVEN
        from decimal import ROUND_HALF_UP, Decimal

        return int(
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            ) * 1_000_000
        )

    def _py_bm25(self, docs, query_terms, k1=1.2, b=0.75):
        import math

        toks = {d: t.lower().split() for d, t in docs.items()}
        n = len(docs)
        dls = {d: (0 if not t.strip() else len(t.lower().split()))
               for d, t in docs.items()}
        avgdl = sum(dls.values()) / n
        out = {}
        for term in set(query_terms):
            df_t = sum(1 for t in toks.values() if term in t)
            if df_t == 0:
                continue
            idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
            for d, t in toks.items():
                tf = t.count(term)
                if tf == 0:
                    continue
                tfp = tf * (k1 + 1.0) / (
                    tf + k1 * ((1.0 - b) + b * dls[d] / avgdl)
                )
                nh, su = out.get(d, (0, 0))
                out[d] = (nh + 1, su + self._u6(idf * tfp))
        return out

    def test_scores_match_python_replica_and_rank(self, spark):
        from ssis_to_dbt_spark.text.retrieval import bm25_topk

        docs = {
            1: "spark join hash join join",
            2: "hash table scan scan window",
            3: "the quick brown fox",
            4: "spark spark spark hash join window sort",
        }
        df = spark.createDataFrame(
            [(k, v) for k, v in docs.items()], "doc_id long, text string"
        )
        q = {"q1": ["join", "hash"], "q2": ["window"]}
        got = {
            (r["query_id"], r["doc_id"]): (r["n_terms"], r["score_units"])
            for r in bm25_topk(df, q, top_k=10).collect()
        }
        for qid, terms in q.items():
            exp = self._py_bm25(docs, terms)
            for d, (nh, su) in exp.items():
                assert got[(qid, d)] == (nh, su), (qid, d)
        # doc 3 matches nothing — never appears
        assert not any(d == 3 for (_, d) in got)

    def test_top_k_cut_and_doc_id_tiebreak(self, spark):
        from ssis_to_dbt_spark.text.retrieval import bm25_topk

        # five identical docs -> identical scores; ties break on doc_id
        df = spark.createDataFrame(
            [(i, "alpha beta") for i in range(5)], "doc_id long, text string"
        )
        r = bm25_topk(df, {"q": ["alpha"]}, top_k=3).collect()
        assert [x["doc_id"] for x in sorted(r, key=lambda x: x["rn"])] == [
            0, 1, 2,
        ]


class TestNaiveBayes:
    """r11: multinomial NB fit/apply — separable fixture, smoothing floor,
    prior-only fallback for out-of-vocabulary documents."""

    def _fixture(self, spark):
        rows = [
            (1, "buy money buy offer money", "spam"),
            (2, "money offer buy buy", "spam"),
            (3, "hello friend meeting tomorrow", "ham"),
            (4, "friend hello lunch tomorrow meeting", "ham"),
            (5, "see you tomorrow friend", "ham"),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def test_separable_classes_predicted(self, spark):
        from ssis_to_dbt_spark.text.retrieval import nb_fit, nb_predict

        train = self._fixture(spark)
        test = spark.createDataFrame(
            [(10, "buy money now"), (11, "hello meeting tomorrow")],
            "doc_id long, text string",
        )
        pred = {
            r["doc_id"]: r["pred_label"]
            for r in nb_predict(nb_fit(train), test).collect()
        }
        assert pred == {10: "spam", 11: "ham"}

    def test_grid_has_smoothed_floor_for_unseen_pairs(self, spark):
        from ssis_to_dbt_spark.text.retrieval import nb_fit

        m = nb_fit(self._fixture(spark))
        grid = m.grid.collect()
        labels = {r["label"] for r in grid}
        vocab = {r["term"] for r in grid}
        # full labels x vocab cross: 'money' has a (ham) row too
        assert len(grid) == len(labels) * len(vocab)
        ham_money = [
            r for r in grid if r["label"] == "ham" and r["term"] == "money"
        ]
        assert len(ham_money) == 1 and ham_money[0]["ll_units"] < 0

    def test_oov_document_scores_prior_only(self, spark):
        from ssis_to_dbt_spark.text.retrieval import nb_fit, nb_predict

        train = self._fixture(spark)  # priors: ham 3/5, spam 2/5
        test = spark.createDataFrame(
            [(20, "zzz qqq www")], "doc_id long, text string"
        )
        r = nb_predict(nb_fit(train), test).collect()
        assert len(r) == 1
        assert r[0]["pred_label"] == "ham"      # argmax prior
        assert r[0]["n_vocab_toks"] == 0
        import math
        assert r[0]["best_units"] == TestBm25TopK._u6(math.log(3 / 5))

    def test_shuffle_model_join_matches_broadcast(self, spark):
        from ssis_to_dbt_spark.text.retrieval import nb_fit, nb_predict

        train = self._fixture(spark)
        test = spark.createDataFrame(
            [(10, "buy money now"), (11, "hello meeting tomorrow")],
            "doc_id long, text string",
        )
        m = nb_fit(train)
        a = sorted(map(tuple, nb_predict(m, test).collect()))
        b = sorted(
            map(tuple, nb_predict(m, test, broadcast_model=False).collect())
        )
        assert a == b


class TestPersistedIvfIndex:
    """r11: the persisted IVF-ANN index — disk round-trip, append under
    stored centroids, partition-pruned batch probe."""

    def _emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_write_read_roundtrip_and_append_equals_one_pass(
        self, spark, tmp_path
    ):
        from ssis_to_dbt_spark.text.similarity import (
            append_ivf_index,
            ivf_assign,
            read_ivf_index,
            write_ivf_index,
        )

        emb = self._emb(spark)
        base = emb.filter(F.col("vec_id") % 7 != 0)
        delta = emb.filter(F.col("vec_id") % 7 == 0)
        path = str(tmp_path / "ivf")
        idx0 = write_ivf_index(base, path, n_cells=8)
        idx = append_ivf_index(spark, path, delta)
        # append never moves centroids
        assert idx.centroids == idx0.centroids
        # two-step build == one-pass assignment of the union
        one = ivf_assign(emb, idx.centroids, cell_col="cell").select(
            "vec_id", "cell"
        )
        got = sorted(map(tuple, idx.assign.select("vec_id", "cell").collect()))
        exp = sorted(map(tuple, one.collect()))
        assert got == exp

    def test_probe_matches_in_memory_ivf_topk_per_query(
        self, spark, tmp_path
    ):
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            ivf_topk,
            write_ivf_index,
        )

        emb = self._emb(spark)
        path = str(tmp_path / "ivf")
        idx = write_ivf_index(emb, path, n_cells=8)
        queries = emb.filter(F.col("vec_id").isin([0, 100, 250])).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        batch = {
            (r["query_id"], r["rn"]): (r["vec_id"], r["cosine_r"])
            for r in ivf_probe_batch(idx, queries, k=5, nprobe=2).collect()
        }
        for qid in [0, 100, 250]:
            qvec = list(
                emb.filter(F.col("vec_id") == qid).first()["embedding"]
            )
            single = ivf_topk(
                emb, qvec, k=5, n_cells=8, nprobe=2,
                centroids=idx.centroids,
            ).collect()
            for i, row in enumerate(
                sorted(single, key=lambda r: (-r["cosine"], r["vec_id"]))[:5]
            ):
                vid, cr = batch[(qid, i + 1)]
                assert vid == row["vec_id"]
                assert cr == round(row["cosine"], 6) or abs(
                    cr - round(row["cosine"], 6)
                ) < 1e-9

    def test_probe_arms_equal_per_arm_probes(self, spark, tmp_path):
        """r14 fused multi-arm probe: each arm of ivf_probe_batch_arms
        is bit-identical to the standalone ivf_probe_batch at that
        nprobe — including an arm that exceeds n_cells (clamped)."""
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            ivf_probe_batch_arms,
            write_ivf_index,
        )

        emb = self._emb(spark)
        idx = write_ivf_index(emb, str(tmp_path / "ivfarms"), n_cells=8)
        queries = emb.filter(F.col("vec_id").isin([0, 100, 250])).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        fused = ivf_probe_batch_arms(
            idx, queries, k=5, nprobes=(1, 2, 8, 11)
        ).collect()
        for a in (1, 2, 8, 11):
            arm = sorted(
                (r["query_id"], r["rn"], r["vec_id"], r["cosine_r"])
                for r in fused
                if r["nprobe"] == a
            )
            solo = sorted(
                (r["query_id"], r["rn"], r["vec_id"], r["cosine_r"])
                for r in ivf_probe_batch(
                    idx, queries, k=5, nprobe=a
                ).collect()
            )
            assert arm == solo and len(arm) > 0

    def test_probe_scan_partition_prunes(self, spark, tmp_path):
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            write_ivf_index,
        )

        emb = self._emb(spark)
        path = str(tmp_path / "ivf")
        idx = write_ivf_index(emb, path, n_cells=8)
        queries = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ivf_probe_batch(idx, queries, k=5, nprobe=2)
        fmt = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # the assignment scan carries a partition filter on cell — the
        # on-disk layout is pruned to the probed cells, and the routed
        # query table broadcasts
        assert "PartitionFilters" in fmt and "cell" in fmt
        assert "cell IN" in fmt or "cell#" in fmt
        assert "BroadcastHashJoin" in fmt
        # only 2 of the 8 cell partitions are actually read: the executed
        # scan's 'number of partitions read' metric
        assert len(out.collect()) == 5
        assign_dir = tmp_path / "ivf" / "assign"
        assert all((assign_dir / f"cell={c}").is_dir() for c in range(8))
        read = [
            s.metrics().get("numPartitions").get().value()
            for s in executed_scans(out)
            if "cell" in s.relation().partitionSchema().fieldNames()
        ]
        assert read == [2]

    def test_route_queries_tiebreak_lowest_cell(self, spark):
        from ssis_to_dbt_spark.text.similarity import route_queries

        q = spark.createDataFrame(
            [(1, [1.0, 0.0])], "query_id long, embedding array<double>"
        )
        # two identical centroids -> tie; lowest cell id must rank first
        cents = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
        cells = [
            r["cell"]
            for r in route_queries(q, cents, nprobe=2).collect()
        ]
        assert sorted(cells) == [0, 1]

    def test_kmeans_centroids_plug_into_index(self, spark, tmp_path):
        """The centroids= parameter takes kmeans_fit output directly —
        trained cells, same layout, same probe path."""
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            kmeans_fit,
            write_ivf_index,
        )

        emb = self._emb(spark)
        cents = kmeans_fit(emb, k=4, rounds=2)
        idx = write_ivf_index(
            emb, str(tmp_path / "ivf_km"), centroids=cents
        )
        assert idx.centroids == sorted(
            (c, [float(x) for x in v]) for c, v in cents
        )
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        r = ivf_probe_batch(idx, q, k=3, nprobe=1).collect()
        assert len(r) == 3 and r[0]["vec_id"] == 0  # self is top hit
        assert abs(r[0]["cosine_r"] - 1.0) < 1e-6


class TestPersistedBm25Index:
    """r11: the persisted BM25 postings index — disk round-trip, additive
    append, bucket-pruned probe equal to the in-memory operator."""

    def _docs(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )

    def test_probe_equals_in_memory_and_append_is_additive(
        self, spark, tmp_path
    ):
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            bm25_index_probe,
            bm25_topk,
            write_bm25_index,
        )

        docs = self._docs(spark)
        base = docs.filter(F.col("doc_id") % 7 != 0)
        delta = docs.filter(F.col("doc_id") % 7 == 0)
        prefix = "bm25t_" + tmp_path.name
        write_bm25_index(base, prefix, str(tmp_path / "t"))
        idx = append_bm25_index(spark, prefix, delta)
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        got = sorted(
            map(tuple, bm25_index_probe(idx, q, top_k=10).collect())
        )
        exp = sorted(map(tuple, bm25_topk(docs, q, top_k=10).collect()))
        assert got == exp
        # stats advanced additively to the union's totals
        s = idx.stats.first()
        assert s["n_docs"] == docs.count()

    def test_probe_scan_bucket_prunes(self, spark, tmp_path, monkeypatch):
        from ssis_to_dbt_spark.sources import writers
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            write_bm25_index,
        )

        # a multi-bucket index: ~38 KB of postings in 1 KB buckets
        monkeypatch.setattr(writers, "BUCKET_BYTES", 1 << 10)
        docs = self._docs(spark)
        prefix = "bm25p_" + tmp_path.name
        idx = write_bm25_index(docs, prefix, str(tmp_path / "t"))
        out = bm25_index_probe(idx, {"q": ["hash", "join"]}, top_k=5)
        fmt = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # the postings scan is bucket-pruned to the query terms' buckets
        assert "SelectedBucketsCount" in fmt
        import re
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", fmt)
        assert m and int(m.group(1)) < int(m.group(2))

    def test_probe_is_one_postings_scan_built_without_jobs(
        self, spark, tmp_path
    ):
        """The probe reads the postings once and nothing else: no
        doc-length scan (postings carry dl), no stats or stopterm read
        (the handle holds them), so building it starts no Spark job."""
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            write_bm25_index,
        )

        docs = self._docs(spark).filter(F.col("doc_id") % 5 == 0)
        prefix = "bm25one_" + tmp_path.name
        idx = write_bm25_index(docs, prefix, str(tmp_path / "t"))
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        out, n_jobs = jobs_started(
            spark, lambda: bm25_index_probe(idx, q, top_k=5)
        )
        assert n_jobs == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert len(scans) == 1 and f"{prefix}_postings" in scans[0]
        assert f"{prefix}_doclen" not in plan

    def test_postings_without_dl_rejected_until_compacted(
        self, spark, tmp_path
    ):
        """Postings written before they carried dl: probe and append
        raise naming compact_bm25_index; after it, the probe equals the
        in-memory operator."""
        import pytest

        from ssis_to_dbt_spark.sources.writers import write_bucketed
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            bm25_index_probe,
            bm25_topk,
            compact_bm25_index,
            read_bm25_index,
            write_bm25_index,
        )

        docs = self._docs(spark).filter(F.col("doc_id") % 5 == 0)
        prefix = "bm25leg_" + tmp_path.name
        write_bm25_index(docs, prefix, str(tmp_path / "t"))
        # the postings layout before dl: (term, doc_id, tf)
        write_bucketed(
            spark.table(f"{prefix}_postings").select("term", "doc_id", "tf"),
            f"{prefix}_legacy", str(tmp_path / "legacy"), ["term"],
            num_buckets=64, sort_cols=["term"],
        )
        spark.sql(f"DROP TABLE {prefix}_postings")
        spark.sql(f"ALTER TABLE {prefix}_legacy RENAME TO {prefix}_postings")
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        idx = read_bm25_index(spark, prefix)
        with pytest.raises(ValueError, match="compact_bm25_index"):
            bm25_index_probe(idx, q)
        with pytest.raises(ValueError, match="compact_bm25_index"):
            append_bm25_index(spark, prefix, docs)
        idx = compact_bm25_index(spark, prefix, str(tmp_path / "t"))
        got = sorted(map(tuple, bm25_index_probe(idx, q).collect()))
        exp = sorted(map(tuple, bm25_topk(docs, q).collect()))
        assert got == exp and len(got) > 0


class TestBm25BucketSizing:
    """The BM25 index sizes its bucket count from the corpus's token
    count (``writers.bucket_count``), not from a parameter."""

    def _docs(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )

    def test_bucket_count_rule(self, spark, monkeypatch):
        from ssis_to_dbt_spark.sources import writers
        from ssis_to_dbt_spark.text import retrieval

        def n(spark, tokens):
            return writers.bucket_count(
                spark, tokens * retrieval._POSTINGS_BYTES_PER_TOKEN
            )

        assert n(spark, 0) == 1
        # ~96M tokens fill one 128 MB bucket; one token more needs two
        per = writers.BUCKET_BYTES / retrieval._POSTINGS_BYTES_PER_TOKEN
        assert n(spark, int(per)) == 1 and n(spark, int(per) + 1) == 2
        assert n(spark, int(per) * 5) == 8
        # a 100 TB corpus (~1.7e13 tokens) is capped at the largest power
        # of two within spark.sql.sources.bucketing.maxBuckets (100,000)
        assert n(spark, 17 * 10**12) == 65536
        monkeypatch.setattr(writers, "BUCKET_BYTES", 1)
        assert n(spark, 10**6) == 65536

    def test_small_index_probe_scans_in_one_task(self, spark, tmp_path):
        """One bucket: the probe's postings scan stage, like every other
        stage of its jobs, runs one task."""
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            bm25_topk,
            write_bm25_index,
        )

        docs = self._docs(spark)
        prefix = "bm25one_t_" + tmp_path.name
        idx = write_bm25_index(docs, prefix, str(tmp_path / "t"))
        assert num_buckets(spark, f"{prefix}_postings") == 1
        assert num_buckets(spark, f"{prefix}_doclen") == 1
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        rows, tasks = stage_tasks(
            spark, lambda: bm25_index_probe(idx, q, top_k=5).collect()
        )
        assert tasks and max(tasks) == 1
        exp = bm25_topk(docs, q, top_k=5).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, exp))

    def test_append_keeps_a_non_default_bucket_count(
        self, spark, tmp_path, monkeypatch
    ):
        """An append writes into the index's own bucket spec, whatever
        count the index was written with."""
        from ssis_to_dbt_spark.sources import writers
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            bm25_index_probe,
            bm25_topk,
            write_bm25_index,
        )

        monkeypatch.setattr(writers, "BUCKET_BYTES", 1 << 12)
        docs = self._docs(spark)
        prefix = "bm25nb_" + tmp_path.name
        write_bm25_index(
            docs.filter(F.col("doc_id") % 7 != 0), prefix,
            str(tmp_path / "t"),
        )
        assert num_buckets(spark, f"{prefix}_postings") == 16
        monkeypatch.undo()
        idx = append_bm25_index(
            spark, prefix, docs.filter(F.col("doc_id") % 7 == 0)
        )
        assert num_buckets(spark, f"{prefix}_postings") == 16
        assert num_buckets(spark, f"{prefix}_doclen") == 16
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        got = sorted(map(tuple, bm25_index_probe(idx, q).collect()))
        exp = sorted(map(tuple, bm25_topk(docs, q).collect()))
        assert got == exp

    def test_compaction_resizes_from_the_stats(
        self, spark, tmp_path, monkeypatch
    ):
        """An index written with 1 bucket gets more at compaction once
        its stats outgrow the bucket size; scores do not move."""
        from ssis_to_dbt_spark.sources import writers
        from ssis_to_dbt_spark.text import retrieval
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            compact_bm25_index,
            write_bm25_index,
        )

        prefix = "bm25rs_" + tmp_path.name
        idx = write_bm25_index(
            self._docs(spark), prefix, str(tmp_path / "t")
        )
        assert num_buckets(spark, f"{prefix}_postings") == 1
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        before = sorted(map(tuple, bm25_index_probe(idx, q).collect()))
        monkeypatch.setattr(writers, "BUCKET_BYTES", 1 << 10)
        idx = compact_bm25_index(spark, prefix, str(tmp_path / "t"))
        assert num_buckets(spark, f"{prefix}_postings") == (
            writers.bucket_count(
                spark, idx.total_dl * retrieval._POSTINGS_BYTES_PER_TOKEN
            )
        ) > 1
        assert sorted(
            map(tuple, bm25_index_probe(idx, q).collect())
        ) == before

    def test_append_runs_five_jobs_and_takes_an_empty_batch(
        self, spark, tmp_path
    ):
        """An append evaluates its batch in its two writes only (the
        stats delta is observed on the doclen write): 5 jobs.  A 0-row
        batch returns and leaves the stats as they were."""
        from ssis_to_dbt_spark.text.retrieval import (
            _doc_len,
            append_bm25_index,
            write_bm25_index,
        )

        docs = self._docs(spark)
        prefix = "bm25j_" + tmp_path.name
        idx0 = write_bm25_index(
            docs.filter(F.col("doc_id") % 7 != 0), prefix,
            str(tmp_path / "t"),
        )
        delta = docs.filter(F.col("doc_id") % 7 == 0)
        idx, n_jobs = jobs_started(
            spark, lambda: append_bm25_index(spark, prefix, delta)
        )
        assert n_jobs == 5
        n, dl = delta.agg(
            F.count(F.lit(1)), F.sum(_doc_len(F.col("text")))
        ).first()
        assert (idx.n_docs, idx.total_dl) == (
            idx0.n_docs + n, idx0.total_dl + dl
        )
        empty = spark.createDataFrame([], "doc_id long, text string")
        idx2 = append_bm25_index(spark, prefix, empty)
        s = idx2.stats.first()
        assert (idx2.n_docs, idx2.total_dl) == (idx.n_docs, idx.total_dl)
        assert (s["n_docs"], s["total_dl"]) == (idx.n_docs, idx.total_dl)

    def test_skip_append_leaves_no_persistent_rdd(self, spark, tmp_path):
        """on_overlap='skip' no longer pins the filtered batch: the
        append leaves no persistent RDD behind, and a replay still
        appends nothing."""
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            write_bm25_index,
        )

        docs = self._docs(spark)
        prefix = "bm25sk_" + tmp_path.name
        write_bm25_index(
            docs.filter(F.col("doc_id") % 7 != 0), prefix,
            str(tmp_path / "t"),
        )
        delta = docs.filter(F.col("doc_id") % 7 == 0)

        def rdd_ids():
            return set(
                spark.sparkContext._jsc.getPersistentRDDs().keySet()
            )

        before = rdd_ids()
        idx = append_bm25_index(spark, prefix, delta, on_overlap="skip")
        idx = append_bm25_index(spark, prefix, delta, on_overlap="skip")
        assert rdd_ids() - before == set()
        assert idx.n_docs == docs.count()


class TestBm25IndexLifecycleEdges:
    """r12 (r11 ADVICE): empty-corpus stats, overlap enforcement on
    append, and NULL training labels in NB."""

    def _docs(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )

    def test_empty_corpus_index_stores_zero_stats_then_appends(
        self, spark, tmp_path
    ):
        """An index written over ZERO documents stores (0, 0) — not
        (0, NULL) — so the first real append's additive advance works."""
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            bm25_index_probe,
            bm25_topk,
            write_bm25_index,
        )

        docs = self._docs(spark)
        prefix = "bm25z_" + tmp_path.name
        idx = write_bm25_index(
            docs.filter(F.lit(False)), prefix, str(tmp_path / "t")
        )
        s = idx.stats.first()
        assert (s["n_docs"], s["total_dl"]) == (0, 0)
        # the append that used to raise TypeError on int(NULL)
        sub = docs.filter(F.col("doc_id") % 11 == 0)
        idx = append_bm25_index(spark, prefix, sub)
        q = {"q": ["hash", "join"]}
        got = sorted(map(tuple, bm25_index_probe(idx, q).collect()))
        exp = sorted(map(tuple, bm25_topk(sub, q).collect()))
        assert got == exp

    def test_append_legacy_null_total_dl_is_healed(self, spark, tmp_path):
        """A legacy index whose stats row carries NULL total_dl (written
        before write_bm25_index learned to COALESCE) still appends: the
        old side is `or 0`-guarded too."""
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            write_bm25_index,
        )

        docs = self._docs(spark).filter(F.col("doc_id") % 11 == 0)
        prefix = "bm25n_" + tmp_path.name
        write_bm25_index(
            docs.filter(F.lit(False)), prefix, str(tmp_path / "t")
        )
        # simulate the legacy layout: overwrite stats with (0, NULL)
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {prefix}_stats")
            .filter(F.col("col_name") == "Location")
            .first()["data_type"]
        )
        spark.createDataFrame(
            [(0, None)], "n_docs long, total_dl long"
        ).repartition(1).write.mode("overwrite").parquet(loc)
        spark.catalog.refreshTable(f"{prefix}_stats")
        idx = append_bm25_index(spark, prefix, docs)
        s = idx.stats.first()
        assert s["n_docs"] == docs.count() and s["total_dl"] > 0

    def test_append_overlap_error_and_skip_modes(self, spark, tmp_path):
        """on_overlap='error' refuses an overlapping batch naming the
        count; 'skip' makes a full replay a no-op (idempotent append) —
        probe scores equal the clean single-append build."""
        import pytest

        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            bm25_index_probe,
            bm25_topk,
            write_bm25_index,
        )

        docs = self._docs(spark)
        base = docs.filter(F.col("doc_id") % 7 != 0)
        delta = docs.filter(F.col("doc_id") % 7 == 0)
        prefix = "bm25o_" + tmp_path.name
        write_bm25_index(base, prefix, str(tmp_path / "t"))
        append_bm25_index(spark, prefix, delta, on_overlap="skip")
        # replay the SAME batch: 'error' refuses, 'skip' appends nothing
        with pytest.raises(ValueError, match="already indexed"):
            append_bm25_index(spark, prefix, delta, on_overlap="error")
        idx = append_bm25_index(spark, prefix, delta, on_overlap="skip")
        s = idx.stats.first()
        assert s["n_docs"] == docs.count()
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        got = sorted(map(tuple, bm25_index_probe(idx, q).collect()))
        exp = sorted(map(tuple, bm25_topk(docs, q).collect()))
        assert got == exp

    def test_append_on_overlap_rejects_unknown_mode(self, spark, tmp_path):
        import pytest

        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            write_bm25_index,
        )

        docs = self._docs(spark).limit(5)
        prefix = "bm25m_" + tmp_path.name
        write_bm25_index(docs, prefix, str(tmp_path / "t"))
        with pytest.raises(ValueError, match="unknown mode"):
            append_bm25_index(spark, prefix, docs, on_overlap="upsert")

    def test_catalog_bm25_probe_drops_its_tables(self, spark):
        """q_bm25_index_probe must not leak bm25idx_* tables into the
        metastore across bench/correctness invocations (r11 ADVICE)."""
        from ssis_to_dbt_spark import catalog

        before = {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("bm25idx_")
        }
        out = catalog.q_bm25_index_probe(spark, "/root/testdata/sf0.001")
        assert out.count() > 0  # result survives the table drop
        after = {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("bm25idx_")
        }
        assert after == before

    def test_nb_fit_filters_null_labels(self, spark):
        """NULL training labels carry no class identity: the fitted model
        equals the fit on the non-null subset, and predictions never
        emit a NULL pred_label."""
        from ssis_to_dbt_spark.text.retrieval import nb_fit, nb_predict

        docs = self._docs(spark).limit(40)
        noisy = docs.withColumn(
            "lang",
            F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
                F.col("lang")
            ),
        )
        clean = docs.filter(F.col("doc_id") % 5 != 0)
        m_noisy = nb_fit(noisy)
        m_clean = nb_fit(clean)
        assert sorted(map(tuple, m_noisy.grid.collect())) == sorted(
            map(tuple, m_clean.grid.collect())
        )
        assert sorted(map(tuple, m_noisy.priors.collect())) == sorted(
            map(tuple, m_clean.priors.collect())
        )
        preds = nb_predict(m_noisy, docs.limit(10)).collect()
        assert preds and all(r["pred_label"] is not None for r in preds)


class TestRrfFusion:
    """r12: reciprocal-rank fusion of per-query rankings — the standard
    zero-calibration hybrid-retrieval combiner over the engine's lexical
    and vector search outputs."""

    def test_hand_model(self, spark):
        """Two 3-item lists, k=60: fused units match the Python model
        exactly (round-6 micro-units, ties on ascending id)."""
        from ssis_to_dbt_spark.text.retrieval import rrf_fuse

        a = spark.createDataFrame(
            [("q", 10, 1), ("q", 11, 2), ("q", 12, 3)],
            "query_id string, doc_id long, rn int",
        )
        b = spark.createDataFrame(
            [("q", 12, 1), ("q", 10, 2), ("q", 99, 3)],
            "query_id string, doc_id long, rn int",
        )
        got = {
            r["doc_id"]: (r["n_lists"], r["rrf_units"], r["rn"])
            for r in rrf_fuse([a, b], k=60).collect()
        }

        def u(rank):
            return int(round(1.0 / (60 + rank), 6) * 1_000_000)

        model = {
            10: u(1) + u(2),   # 16393 + 16129 = 32522
            12: u(3) + u(1),   # 15873 + 16393 = 32266
            11: u(2),          # 16129
            99: u(3),          # 15873
        }
        order = sorted(model, key=lambda d: (-model[d], d))
        for d in model:
            n_lists = 2 if d in (10, 12) else 1
            assert got[d] == (n_lists, model[d], order.index(d) + 1)

    def test_fuses_persisted_probe_outputs(self, spark, tmp_path):
        """The persisted BM25 and IVF probes produce exactly the shapes
        rrf_fuse consumes: fusing them equals fusing the in-memory
        operators when the indexes cover the full corpus and the ANN
        probe visits every cell."""
        from pyspark.sql import Window
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            bm25_topk,
            rrf_fuse,
            write_bm25_index,
        )
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            write_ivf_index,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        qvecs = emb.filter(F.col("vec_id").isin([0, 50])).select(
            F.when(F.col("vec_id") == 0, "q1").otherwise("q2")
            .alias("query_id"),
            "embedding",
        )
        # persisted path
        bidx = write_bm25_index(
            docs, "rrf_" + tmp_path.name, str(tmp_path / "t")
        )
        vidx = write_ivf_index(emb, str(tmp_path / "ivf"), n_cells=8)
        bm_p = bm25_index_probe(bidx, q, top_k=10).select(
            "query_id", "doc_id", "rn"
        )
        ann_p = ivf_probe_batch(
            vidx, qvecs, k=10, nprobe=8
        ).select("query_id", F.col("vec_id").alias("doc_id"), "rn")
        fused_p = sorted(map(tuple, rrf_fuse(
            [bm_p, ann_p], k=60, top_k=10
        ).collect()))
        # in-memory path
        bm_m = bm25_topk(docs, q, top_k=10).select(
            "query_id", "doc_id", "rn"
        )
        fused_m = sorted(map(tuple, rrf_fuse(
            [bm_m, ann_p], k=60, top_k=10
        ).collect()))
        assert fused_p == fused_m
        assert fused_p  # non-empty
        # every fused row cites 1 or 2 source lists
        assert {t[2] for t in fused_p} <= {1, 2}

    def test_empty_and_single_list(self, spark):
        import pytest

        from ssis_to_dbt_spark.text.retrieval import rrf_fuse

        with pytest.raises(ValueError, match="at least one"):
            rrf_fuse([])
        a = spark.createDataFrame(
            [("q", 1, 1)], "query_id string, doc_id long, rn int"
        )
        rows = rrf_fuse([a], k=60).collect()
        assert len(rows) == 1 and rows[0]["n_lists"] == 1


class TestIndexSkewLifecycle:
    """r12 (r11 VERDICT #6): posting-list growth caps and imbalance
    audits for the persisted BM25 and IVF indexes — the lifecycle
    machinery the dedup index already carries (band cap/audit/compact)."""

    def _mkdocs(self, spark, ids, text):
        return spark.createDataFrame(
            [(i, text) for i in ids], "doc_id long, text string"
        )

    def test_stopword_heavy_append_stream_bounds_postings(
        self, spark, tmp_path
    ):
        """Adversarial stream: every appended batch repeats the term
        'the' in every doc.  With max_df set, the term stops after the
        batch that pushes it over the cap — its lifetime posting count
        is BOUNDED while the uncapped twin grows linearly; normal-term
        probes keep scoring correctly; the stopped term scores nothing."""
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            bm25_index_probe,
            read_bm25_index,
            write_bm25_index,
        )

        # base: 10 docs, 'the' absent, 'alpha' in 3 (under any cap);
        # each append: 10 docs ALL carrying 'the', 'quick' in 3
        prefix = "bm25cap_" + tmp_path.name
        base = self._mkdocs(spark, range(3), "alpha beta").unionByName(
            spark.createDataFrame(
                [(i, f"filler{i} beta") for i in range(3, 10)],
                "doc_id long, text string",
            )
        )
        write_bm25_index(
            base, prefix, str(tmp_path / "t"), max_df=0.4
        )
        counts = []
        for b in range(4):
            ids = list(range(100 + b * 10, 110 + b * 10))
            batch = spark.createDataFrame(
                [
                    (i, f"the uniq{i} quick" if j < 3 else f"the uniq{i}")
                    for j, i in enumerate(ids)
                ],
                "doc_id long, text string",
            )
            append_bm25_index(spark, prefix, batch, max_df=0.4)
            n_the = (
                spark.table(f"{prefix}_postings")
                .filter(F.col("term") == "the").count()
            )
            counts.append(n_the)
        # batch 1: 10/20 docs carry 'the' -> df 10 > 0.4*20=8 -> stopped
        # at the first append; no posting rows for it EVER land
        assert counts == [0, 0, 0, 0]
        idx = read_bm25_index(spark, prefix)
        assert idx.stopterms.filter(F.col("term") == "the").count() == 1
        # stopped term scores nothing; normal terms still score
        assert bm25_index_probe(idx, {"q": ["the"]}).count() == 0
        got = bm25_index_probe(idx, {"q": ["quick", "alpha"]}).collect()
        assert len(got) > 0
        # a mixed query drops only the stopped term
        mixed = bm25_index_probe(idx, {"q": ["the", "quick"]}).collect()
        assert {r["doc_id"] for r in mixed} == {
            r["doc_id"] for r in bm25_index_probe(
                idx, {"q": ["quick"]}
            ).collect()
        }

    def test_write_time_max_df_and_explicit_stopwords(
        self, spark, tmp_path
    ):
        from ssis_to_dbt_spark.text.retrieval import write_bm25_index

        docs = self._mkdocs(spark, range(10), "common word")
        docs = docs.unionByName(
            self._mkdocs(spark, range(100, 103), "rare token common")
        )
        prefix = "bm25w_" + tmp_path.name
        idx = write_bm25_index(
            docs, prefix, str(tmp_path / "t"),
            stopwords=["word"], max_df=0.9,
        )
        stopped = {r["term"] for r in idx.stopterms.collect()}
        # 'common' df=13/13 > 0.9*13; 'word' explicit
        assert stopped == {"common", "word"}
        terms_left = {
            r["term"]
            for r in idx.postings.select("term").distinct().collect()
        }
        assert "common" not in terms_left and "word" not in terms_left
        assert {"rare", "token"} <= terms_left

    def test_stopwords_with_backslash_and_quote_stored_verbatim(
        self, spark, tmp_path
    ):
        """Stopwords reach the stopterm table as written — a backslash
        inside or at the end of a word, and a quote — at write time and
        through stop_bm25_terms, and a probe drops each of them."""
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            read_bm25_index,
            stop_bm25_terms,
            write_bm25_index,
        )

        odd = ["back\\slash", "tail\\", "o'neil", "x\\'y"]
        docs = self._mkdocs(spark, range(4), " ".join(odd) + " keep")
        prefix = "bm25esc_" + tmp_path.name
        write_bm25_index(
            docs, prefix, str(tmp_path / "t"), stopwords=odd[:2]
        )
        stop_bm25_terms(spark, prefix, odd[2:])
        stored = {r["term"] for r in spark.table(f"{prefix}_stopterms").collect()}
        assert stored == set(odd)
        idx = read_bm25_index(spark, prefix)
        for w in odd:
            assert bm25_index_probe(idx, {"q": [w]}).count() == 0, w
        assert bm25_index_probe(idx, {"q": ["keep"]}).count() == 4

    def test_term_audit_flags_creeper_and_stop_remediates(
        self, spark, tmp_path
    ):
        """A term that stays under the per-batch cap in every append but
        creeps over the lifetime cap is invisible to the incremental
        check — the audit catches it, stop_bm25_terms remediates, and
        probes exclude it afterwards."""
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            bm25_index_term_audit,
            bm25_index_probe,
            read_bm25_index,
            stop_bm25_terms,
            write_bm25_index,
        )

        prefix = "bm25aud_" + tmp_path.name
        base = self._mkdocs(spark, range(20), "alpha beta")
        write_bm25_index(base, prefix, str(tmp_path / "t"))
        # each batch: 'creep' in 4/10 docs (under any per-batch alarm),
        # lifetime df -> 16/60 docs... use cap 0.2: 16 > 0.2*60=12
        for b in range(4):
            ids = range(200 + b * 10, 210 + b * 10)
            batch = self._mkdocs(spark, list(ids)[:4], "creep word").unionByName(
                self._mkdocs(spark, list(ids)[4:], "plain word")
            )
            append_bm25_index(spark, prefix, batch)
        audit = bm25_index_term_audit(spark, prefix, max_df=0.2)
        flagged = {r["term"]: r["df_t"] for r in audit.collect()}
        assert "creep" in flagged and flagged["creep"] == 16
        stop_bm25_terms(spark, prefix, ["creep"])
        idx = read_bm25_index(spark, prefix)
        assert bm25_index_probe(idx, {"q": ["creep"]}).count() == 0
        # postings rows remain on disk (no rewrite) but are unreachable
        assert idx.postings.filter(F.col("term") == "creep").count() == 16

    def test_compact_bm25_reclaims_stopped_terms_and_preserves_scores(
        self, spark, tmp_path
    ):
        """Compaction physically drops stopped terms' postings (what
        stop_bm25_terms only made unreachable) from the stored postings
        — never re-reading corpus text — and probe scores for live
        terms are unchanged."""
        from ssis_to_dbt_spark.text.retrieval import (
            append_bm25_index,
            bm25_index_probe,
            compact_bm25_index,
            stop_bm25_terms,
            write_bm25_index,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        prefix = "bm25cpt_" + tmp_path.name
        write_bm25_index(
            docs.filter(F.col("doc_id") % 7 != 0), prefix,
            str(tmp_path / "t"),
        )
        append_bm25_index(
            spark, prefix, docs.filter(F.col("doc_id") % 7 == 0)
        )
        stop_bm25_terms(spark, prefix, ["the", "a", "of"])
        q = {"q1": ["hash", "join"], "q2": ["window"]}
        before = sorted(map(tuple, bm25_index_probe(
            __import__("ssis_to_dbt_spark.text.retrieval",
                       fromlist=["read_bm25_index"])
            .read_bm25_index(spark, prefix), q
        ).collect()))
        n_stopped_before = spark.table(f"{prefix}_postings").filter(
            F.col("term").isin(["the", "a", "of"])
        ).count()
        assert n_stopped_before > 0  # unreachable but still on disk
        idx = compact_bm25_index(spark, prefix, str(tmp_path / "t"))
        assert idx.postings.filter(
            F.col("term").isin(["the", "a", "of"])
        ).count() == 0  # physically reclaimed
        after = sorted(map(tuple, bm25_index_probe(idx, q).collect()))
        assert after == before
        # a second compaction stages a fresh generation (v2), no clash
        idx2 = compact_bm25_index(spark, prefix, str(tmp_path / "t"))
        assert sorted(
            map(tuple, bm25_index_probe(idx2, q).collect())
        ) == before

    def test_bm25_compaction_crash_heals_on_read(self, spark, tmp_path):
        """A crash between the swap's DROP and RENAME leaves the live
        postings name missing with the fully-written stage present —
        read_bm25_index rolls the rename forward."""
        from ssis_to_dbt_spark.sources.writers import write_bucketed
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            bm25_topk,
            read_bm25_index,
            write_bm25_index,
        )

        from ssis_to_dbt_spark import fs as _fs

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(60)
        prefix = "bm25hl_" + tmp_path.name
        write_bm25_index(docs, prefix, str(tmp_path / "t"))
        # simulate the crash: stage the compacted postings, write the
        # commit marker (compact_bm25_index touches it right after the
        # bucketed write returns), drop live, crash before the rename
        postings = spark.table(f"{prefix}_postings")
        write_bucketed(
            postings, f"{prefix}_compact_stage_postings",
            str(tmp_path / "t_postings_compact_v1"), ["term"],
            num_buckets=64, sort_cols=["term"],
        )
        _fs.touch(
            spark, str(tmp_path / "t_postings_compact_v1" / "_COMMIT")
        )
        spark.sql(f"DROP TABLE {prefix}_postings")
        idx = read_bm25_index(spark, prefix)  # heals
        assert not spark.catalog.tableExists(
            f"{prefix}_compact_stage_postings"
        )
        q = {"q": ["hash", "join"]}
        got = sorted(map(tuple, bm25_index_probe(idx, q).collect()))
        exp = sorted(map(tuple, bm25_topk(docs, q).collect()))
        assert got == exp

    def test_bm25_compaction_uncommitted_stage_rolls_back(
        self, spark, tmp_path
    ):
        """r12 ADVICE: a stage table WITHOUT the _COMMIT marker is a
        crash mid-CTAS (name registered, data possibly partial) — the
        heal must DROP the stage and keep the live generation, never
        roll a partial write forward over good data."""
        from ssis_to_dbt_spark import fs as _fs
        from ssis_to_dbt_spark.sources.writers import write_bucketed
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            bm25_topk,
            read_bm25_index,
            write_bm25_index,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(60)
        prefix = "bm25rb_" + tmp_path.name
        write_bm25_index(docs, prefix, str(tmp_path / "t"))
        # a PARTIAL stage: only the first 5 postings rows made it
        partial = spark.table(f"{prefix}_postings").limit(5)
        write_bucketed(
            partial, f"{prefix}_compact_stage_postings",
            str(tmp_path / "t_postings_compact_v1"), ["term"],
            num_buckets=64, sort_cols=["term"],
        )
        # NO _COMMIT marker -> the crash happened mid-write
        idx = read_bm25_index(spark, prefix)  # rolls back
        assert not spark.catalog.tableExists(
            f"{prefix}_compact_stage_postings"
        )
        assert not _fs.exists(
            spark, str(tmp_path / "t_postings_compact_v1")
        )
        q = {"q": ["hash", "join"]}
        got = sorted(map(tuple, bm25_index_probe(idx, q).collect()))
        exp = sorted(map(tuple, bm25_topk(docs, q).collect()))
        assert got == exp

    def test_recluster_ivf_rebuilds_clean_generation(self, spark, tmp_path):
        """recluster_ivf_index trains fresh centroids on the STORED
        vectors and writes a new generation: same vector set, audit
        clean again, probe self-hits intact; the source index is
        untouched."""
        from ssis_to_dbt_spark.text.similarity import (
            append_ivf_index,
            ivf_index_cell_audit,
            ivf_probe_batch,
            recluster_ivf_index,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(64)
        src = str(tmp_path / "ivf_v1")
        write_ivf_index(emb, src, n_cells=4)
        one = emb.limit(1).select("embedding").first()["embedding"]
        drift = spark.createDataFrame(
            [(1000 + i, list(one)) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        append_ivf_index(spark, src, drift)
        assert ivf_index_cell_audit(spark, src, max_ratio=2.5).count() >= 1
        dst = str(tmp_path / "ivf_v2")
        idx2 = recluster_ivf_index(spark, src, dst, n_cells=4)
        # same vector multiset carried over
        assert spark.read.parquet(f"{dst}/assign").count() == 64 + 200
        # the hot mass is now its own cell: imbalance ratio drops
        # below the drifted index's (the 200 identical vectors can't
        # spread, but k-means gives them a dedicated centroid)
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        r = {x["query_id"]: x for x in ivf_probe_batch(
            idx2, q, k=1, nprobe=1
        ).collect()}
        for qid in (0, 1):
            assert r[qid]["vec_id"] == qid  # self is top hit
        # source untouched
        assert spark.read.parquet(f"{src}/assign").count() == 64 + 200

    def test_recluster_ivf_in_place_swap_and_append(self, spark, tmp_path):
        """r12 VERDICT #3: dst_path=None swaps IN PLACE — a probe opened
        after the recluster (plain read_ivf_index on the SAME path)
        serves the new generation with no manual repoint, and an append
        after the recluster assigns under the NEW stored centroids and
        lands in the new generation."""
        from ssis_to_dbt_spark import fs as _fs
        from ssis_to_dbt_spark.text.similarity import (
            append_ivf_index,
            ivf_probe_batch,
            read_ivf_index,
            recluster_ivf_index,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(64)
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, n_cells=4)
        one = emb.limit(1).select("embedding").first()["embedding"]
        drift = spark.createDataFrame(
            [(1000 + i, list(one)) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        append_ivf_index(spark, path, drift)
        old_cents = read_ivf_index(spark, path).centroids
        recluster_ivf_index(spark, path, n_cells=4)
        # stage fully reaped, no manual repoint: same path serves the
        # rebuilt generation
        assert not _fs.exists(spark, f"{path}/_recluster_stage")
        idx = read_ivf_index(spark, path)
        assert idx.centroids != old_cents  # fresh k-means generation
        assert idx.assign.count() == 64 + 200
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        r = {x["query_id"]: x for x in ivf_probe_batch(
            idx, q, k=1, nprobe=1
        ).collect()}
        for qid in (0, 1):
            assert r[qid]["vec_id"] == qid
        # append AFTER the recluster lands in the new generation under
        # the new centroids
        more = spark.createDataFrame(
            [(5000 + i, list(one)) for i in range(8)],
            "vec_id long, embedding array<float>",
        )
        idx2 = append_ivf_index(spark, path, more)
        assert idx2.assign.count() == 64 + 200 + 8
        # the 8 clones co-locate with the 200-clone hot mass's NEW cell
        cells = (
            idx2.assign.filter(F.col("vec_id") >= 1000)
            .select("cell").distinct().collect()
        )
        assert len(cells) == 1

    def test_recluster_ivf_crash_state_matrix(self, spark, tmp_path):
        """The three crash states of the in-place swap (mirror of
        TestCompactionSwapSelfHeal): (A) stage without _COMMIT ->
        rollback, live generation intact; (B) stage with _COMMIT before
        any rename -> roll forward to the new generation; (C) mid-heal
        crash (assign renamed, centroids still staged) -> re-heal
        completes the swap."""
        from ssis_to_dbt_spark import fs as _fs
        from ssis_to_dbt_spark.text.similarity import (
            ivf_centroids,
            read_ivf_index,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(32)

        def fresh(path):
            write_ivf_index(emb, path, n_cells=4)
            return read_ivf_index(spark, path).centroids

        def stage_new_gen(path):
            # a complete new generation staged with DIFFERENT centroids
            # (2 cells, so the generations are distinguishable)
            stage = f"{path}/_recluster_stage"
            cents = ivf_centroids(emb, 2)
            write_ivf_index(emb, stage, n_cells=2, centroids=cents)
            return stage

        # (A) no marker: rollback, live untouched
        p_a = str(tmp_path / "a")
        live_cents = fresh(p_a)
        stage_new_gen(p_a)
        idx = read_ivf_index(spark, p_a)
        assert not _fs.exists(spark, f"{p_a}/_recluster_stage")
        assert idx.centroids == live_cents
        assert idx.assign.count() == 32

        # (B) marker, crash before any rename: roll forward
        p_b = str(tmp_path / "b")
        fresh(p_b)
        stage_b = stage_new_gen(p_b)
        _fs.touch(spark, f"{stage_b}/_COMMIT")
        idx = read_ivf_index(spark, p_b)
        assert not _fs.exists(spark, f"{p_b}/_recluster_stage")
        assert len(idx.centroids) == 2  # the NEW generation
        assert idx.assign.count() == 32

        # (C) marker, assign already renamed, centroids still staged
        p_c = str(tmp_path / "c")
        fresh(p_c)
        stage_c = stage_new_gen(p_c)
        _fs.touch(spark, f"{stage_c}/_COMMIT")
        _fs.delete(spark, f"{p_c}/assign")
        _fs.rename(spark, f"{stage_c}/assign", f"{p_c}/assign")
        idx = read_ivf_index(spark, p_c)
        assert not _fs.exists(spark, f"{p_c}/_recluster_stage")
        assert len(idx.centroids) == 2
        assert idx.assign.count() == 32

    def test_ivf_recall_audit_dial(self, spark, tmp_path):
        """r13 (r12 VERDICT #7): ivf_recall_at_k — exact arm recovers
        everything (n_hits = k at nprobe = n_cells), per-query hit
        counts are monotone in nprobe, every query appears in every arm
        (zero-hit queries included), and each count equals the overlap
        of that arm's ivf_probe_batch top-k with the exact arm's."""
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            ivf_recall_at_k,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        idx = write_ivf_index(emb, str(tmp_path / "ivf"), n_cells=8)
        q = emb.filter(F.col("vec_id") % 40 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ivf_recall_at_k(idx, q, k=5, nprobes=(1, 2, 8)).collect()
        n_q = q.count()
        by_np = {}
        for r in out:
            by_np.setdefault(r["nprobe"], {})[r["query_id"]] = r["n_hits"]
            assert r["k"] == 5 and 0 <= r["n_hits"] <= 5
        assert set(by_np) == {1, 2, 8}
        for np_, hits in by_np.items():
            assert len(hits) == n_q  # every query in every arm
        # exact arm: full recall
        assert all(h == 5 for h in by_np[8].values())
        # monotone per query: more probed cells never lose neighbors
        for qid in by_np[1]:
            assert by_np[1][qid] <= by_np[2][qid] <= by_np[8][qid]

        # values: each (nprobe, query)'s n_hits is the overlap of that
        # arm's top-k ids with the exact (nprobe = n_cells) top-k ids
        def topk_ids(nprobe):
            ids = {}
            for r in ivf_probe_batch(idx, q, k=5, nprobe=nprobe).collect():
                ids.setdefault(r["query_id"], set()).add(r["vec_id"])
            return ids

        probed = {np_: topk_ids(np_) for np_ in (1, 2, 8)}
        for np_, hits in by_np.items():
            for qid, n_hits in hits.items():
                assert n_hits == len(
                    probed[np_].get(qid, set()) & probed[8][qid]
                )

    def test_maintain_ivf_index_three_branches(self, spark, tmp_path):
        """r13: the executable audit->recall->recluster cycle.
        (A) healthy index -> 'healthy', nothing rebuilt; (B) hot cells
        but recall at the production nprobe still clears min_recall ->
        'recall_ok', nothing rebuilt; (C) hot cells and the recall gate
        can't clear (or no sample) -> in-place recluster, fresh
        generation served from the SAME path, recall re-measured."""
        from ssis_to_dbt_spark.text.similarity import (
            append_ivf_index,
            maintain_ivf_index,
            read_ivf_index,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(64)
        sample = emb.limit(8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        # (A) healthy
        p_a = str(tmp_path / "a")
        write_ivf_index(emb, p_a, n_cells=4)
        rep = maintain_ivf_index(spark, p_a, sample, max_ratio=4.0)
        assert rep["action"] == "healthy" and rep["hot_cells"] == []

        # drift a second index hot
        p_b = str(tmp_path / "b")
        write_ivf_index(emb, p_b, n_cells=4)
        one = emb.limit(1).select("embedding").first()["embedding"]
        drift = spark.createDataFrame(
            [(1000 + i, list(one)) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        append_ivf_index(spark, p_b, drift)
        old_cents = read_ivf_index(spark, p_b).centroids

        # (B) hot, but min_recall=0 always clears -> watch, don't rebuild
        rep = maintain_ivf_index(
            spark, p_b, sample, max_ratio=2.5, min_recall=0.0, nprobe=1,
        )
        assert rep["action"] == "recall_ok"
        assert rep["hot_cells"] and 0.0 <= rep["recall_before"] <= 1.0
        assert read_ivf_index(spark, p_b).centroids == old_cents

        # (C) hot and no sample to clear the gate -> in-place recluster
        rep = maintain_ivf_index(spark, p_b, None, max_ratio=2.5)
        assert rep["action"] == "reclustered"
        idx = read_ivf_index(spark, p_b)
        assert idx.centroids != old_cents
        assert idx.assign.count() == 64 + 200
        # and with a sample, the rebuilt recall is reported
        rep = maintain_ivf_index(
            spark, p_b, sample, max_ratio=2.5, min_recall=2.0, nprobe=4,
        )
        assert rep["action"] == "reclustered"
        assert rep["recall_after"] == 1.0  # nprobe = n_cells arm is exact

    def test_maintain_ivf_recall_with_index_id_col_sample(
        self, spark, tmp_path
    ):
        """r13 ADVICE: a query sample taken straight off the embeddings
        frame (carrying the INDEX id column `vec_id`) must not make the
        probe's cell join self-ambiguous — _recall renames to
        non-colliding names before probing."""
        from ssis_to_dbt_spark.text.similarity import (
            append_ivf_index,
            maintain_ivf_index,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(64)
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, n_cells=4)
        one = emb.limit(1).select("embedding").first()["embedding"]
        drift = spark.createDataFrame(
            [(1000 + i, list(one)) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        append_ivf_index(spark, path, drift)
        # sample WITH vec_id/embedding — the collision case
        sample = emb.limit(8)
        rep = maintain_ivf_index(
            spark, path, sample, max_ratio=2.5, min_recall=0.0, nprobe=1,
        )
        assert rep["action"] == "recall_ok"
        assert 0.0 <= rep["recall_before"] <= 1.0

    def test_append_ivf_heals_committed_stage_before_writing(
        self, spark, tmp_path
    ):
        """r13 ADVICE: append with an OPEN index handle over a committed
        crashed-recluster stage must heal FIRST — otherwise the appended
        rows land in the doomed live assign dir and the next read-time
        heal silently deletes them."""
        from ssis_to_dbt_spark import fs as _fs
        from ssis_to_dbt_spark.text.similarity import (
            append_ivf_index,
            ivf_centroids,
            read_ivf_index,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(32)
        path = str(tmp_path / "ivf")
        handle = write_ivf_index(emb, path, n_cells=4)
        # a crashed recluster: complete staged new generation + _COMMIT
        stage = f"{path}/_recluster_stage"
        cents = ivf_centroids(emb, 2)
        write_ivf_index(emb, stage, n_cells=2, centroids=cents)
        _fs.touch(spark, f"{stage}/_COMMIT")
        new = spark.createDataFrame(
            [(500 + i, [float(i), 0.0, 1.0] + [0.0] * 61)
             for i in range(5)],
            "vec_id long, embedding array<float>",
        ).select(
            "vec_id",
            F.col("embedding").cast(
                emb.schema["embedding"].dataType.simpleString()
            ).alias("embedding"),
        )
        idx = append_ivf_index(spark, path, new, index=handle)
        # healed to the NEW generation and the appended rows SURVIVED
        assert not _fs.exists(spark, stage)
        assert len(idx.centroids) == 2
        assert idx.assign.count() == 32 + 5
        got = read_ivf_index(spark, path)
        assert got.assign.filter(F.col("vec_id") >= 500).count() == 5

    def test_ivf_cell_audit_flags_hot_cell_after_drifted_appends(
        self, spark, tmp_path
    ):
        """Appends assign under FROZEN centroids: a drifted batch (every
        vector identical) funnels into one cell; the audit flags exactly
        that cell, and a fresh index over the same data is clean."""
        from ssis_to_dbt_spark.text.similarity import (
            append_ivf_index,
            ivf_index_cell_audit,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        path = str(tmp_path / "ivf")
        write_ivf_index(emb, path, n_cells=8)
        assert ivf_index_cell_audit(spark, path, max_ratio=3.0).count() == 0
        # drifted appends: one vector duplicated under fresh ids
        one = emb.limit(1).select("embedding").first()["embedding"]
        n = emb.count()
        drift = spark.createDataFrame(
            [(int(n + i), list(one)) for i in range(3 * n)],
            "vec_id long, embedding array<float>",
        )
        append_ivf_index(spark, path, drift)
        hot = ivf_index_cell_audit(spark, path, max_ratio=3.0).collect()
        assert len(hot) == 1 and hot[0]["n_vectors"] >= 3 * n
        assert hot[0]["ratio"] > 3.0


class TestIndexEdgeCases:
    """r11: degenerate inputs on the persisted-index and cross-set-1NN
    APIs — empty query batches, k past the corpus size, empty reference
    sets — must produce empty/short results, never errors."""

    def test_ivf_probe_empty_query_batch(self, spark, tmp_path):
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        idx = write_ivf_index(emb, str(tmp_path / "ivf"), n_cells=4)
        empty = emb.filter(F.lit(False)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        assert ivf_probe_batch(idx, empty, k=5, nprobe=2).count() == 0

    def test_ivf_probe_k_exceeds_cell_population(self, spark, tmp_path):
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(6)
        idx = write_ivf_index(emb, str(tmp_path / "ivf"), n_cells=2)
        q = emb.limit(1).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        r = ivf_probe_batch(idx, q, k=1000, nprobe=1).collect()
        # at most the probed cell's population; rn stays dense from 1
        assert 0 < len(r) <= 6
        assert sorted(x["rn"] for x in r) == list(range(1, len(r) + 1))

    @pytest.mark.parametrize(
        "probe",
        [
            pytest.param(
                lambda s, idx, q: s.ivf_probe_batch(idx, q, nprobe=0),
                id="probe_zero",
            ),
            pytest.param(
                lambda s, idx, q: s.ivf_probe_batch(idx, q, nprobe=-1),
                id="probe_negative",
            ),
            pytest.param(
                lambda s, idx, q: s.ivf_probe_batch_arms(idx, q, nprobes=()),
                id="arms_empty",
            ),
            pytest.param(
                lambda s, idx, q: s.ivf_probe_batch_arms(
                    idx, q, nprobes=(2, -1)
                ),
                id="arms_negative",
            ),
            pytest.param(
                lambda s, idx, q: s.ivf_recall_at_k(idx, q, nprobes=()),
                id="recall_empty",
            ),
            pytest.param(
                lambda s, idx, q: s.semantic_decontam_indexed(
                    q.withColumnRenamed("query_id", "vec_id"), idx,
                    nprobe=0,
                ),
                id="decontam_zero",
            ),
        ],
    )
    def test_ivf_probe_rejects_bad_nprobe(self, spark, probe):
        """Every IVF probe entry point rejects nprobe < 1 and an empty
        arm set when the probe is built, before any Spark job runs."""
        from ssis_to_dbt_spark.text import similarity
        from ssis_to_dbt_spark.text.similarity import IvfIndex

        vecs = spark.createDataFrame(
            [(0, 0, [1.0, 0.0]), (1, 1, [0.0, 1.0])],
            "cell int, vec_id long, embedding array<double>",
        )
        idx = IvfIndex(
            centroids=[(0, [1.0, 0.0]), (1, [0.0, 1.0])], assign=vecs
        )
        q = vecs.select(F.col("vec_id").alias("query_id"), "embedding")
        with pytest.raises(ValueError, match="nprobe"):
            probe(similarity, idx, q)

    def test_nearest_reference_empty_ref_yields_empty(self, spark):
        from ssis_to_dbt_spark.text.similarity import nearest_reference

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        ev = emb.filter(F.lit(False)).select(
            F.col("vec_id").alias("ref_id"), "embedding"
        )
        assert nearest_reference(emb.limit(3), ev).count() == 0

    def test_nearest_reference_self_hit_and_threshold(self, spark):
        from ssis_to_dbt_spark.text.similarity import nearest_reference

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        ev = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("ref_id"), "embedding"
        )
        out = {
            r["vec_id"]: r
            for r in nearest_reference(
                emb.filter(F.col("vec_id") < 3), ev, threshold=0.99
            ).collect()
        }
        for i in range(3):  # each vector's nearest reference is itself
            assert out[i]["ref_id"] == i
            assert abs(out[i]["cosine_r"] - 1.0) < 1e-6
            assert out[i]["contaminated"] == 1

    def test_semantic_decontam_indexed_equals_broadcast_path(
        self, spark, tmp_path
    ):
        """r12 (r11 VERDICT #5): with nprobe = n_cells the IVF-routed
        decontamination equals nearest_reference exactly — same nearest
        eval neighbor, same rounded cosine, same flag."""
        from ssis_to_dbt_spark.text.similarity import (
            nearest_reference,
            semantic_decontam_indexed,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        train = emb.filter(F.col("vec_id") % 50 != 0)
        ev = emb.filter(F.col("vec_id") % 50 == 0)
        idx = write_ivf_index(ev, str(tmp_path / "ivf"), n_cells=8)
        got = sorted(map(tuple, semantic_decontam_indexed(
            train, idx, threshold=0.5, nprobe=8
        ).collect()))
        exp = sorted(map(tuple, nearest_reference(
            train,
            ev.select(F.col("vec_id").alias("ref_id"), "embedding"),
            threshold=0.5,
        ).collect()))
        assert got == exp

    def test_semantic_decontam_indexed_prunes_and_never_broadcasts_eval(
        self, spark, tmp_path
    ):
        """The probe's assign scan carries PartitionFilters on the probed
        cell set, and the eval side reaches the join WITHOUT a broadcast:
        with auto-broadcast disabled the plan holds no BroadcastExchange
        at all (the cell join is a plain shuffle join)."""
        from ssis_to_dbt_spark.text.similarity import (
            semantic_decontam_indexed,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        train = emb.filter(F.col("vec_id") % 50 != 0)
        ev = emb.filter(F.col("vec_id") % 50 == 0)
        idx = write_ivf_index(ev, str(tmp_path / "ivf"), n_cells=8)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = semantic_decontam_indexed(train, idx, nprobe=2)
            fmt = out._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "PartitionFilters" in fmt and "cell" in fmt
        assert "BroadcastExchange" not in fmt
        assert "BroadcastNestedLoopJoin" not in fmt

    def test_semantic_decontam_indexed_small_nprobe_subset(
        self, spark, tmp_path
    ):
        """nprobe < n_cells: every reported neighbor is a real eval
        vector and the flag matches its rounded cosine — the usual IVF
        recall trade, never a wrong value."""
        from ssis_to_dbt_spark.text.similarity import (
            semantic_decontam_indexed,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        train = emb.filter(F.col("vec_id") % 50 != 0).limit(30)
        ev = emb.filter(F.col("vec_id") % 50 == 0)
        idx = write_ivf_index(ev, str(tmp_path / "ivf"), n_cells=8)
        rows = semantic_decontam_indexed(
            train, idx, threshold=0.5, nprobe=2
        ).collect()
        ev_ids = {r["vec_id"] for r in ev.select("vec_id").collect()}
        assert rows
        for r in rows:
            assert r["ref_id"] in ev_ids
            assert r["contaminated"] == int(r["cosine_r"] >= 0.5)

    def test_decontam_indexed_routing_runs_once(self, spark, tmp_path):
        """r12 VERDICT ("what's wrong" #1): deriving the probed-cell set
        must not evaluate the corpus-side routing twice.  nprobe <
        n_cells: the routed frame is localCheckpoint'ed, so the cell
        join's query side reads the checkpointed blocks (Scan
        ExistingRDD in the plan) instead of recomputing route_queries;
        nprobe >= n_cells: the prune is skipped outright — no checkpoint,
        no IN-filter, no action at build time.  The query-batch probe
        has no cell-set action at all: its assign scan carries a dynamic
        partition pruning filter served by the join's own broadcast, so
        building it starts no job."""
        from ssis_to_dbt_spark.text.similarity import (
            ivf_probe_batch,
            nearest_reference,
            read_ivf_index,
            semantic_decontam_indexed,
            write_ivf_index,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        train = emb.filter(F.col("vec_id") % 50 != 0)
        ev = emb.filter(F.col("vec_id") % 50 == 0)
        path = str(tmp_path / "ivf")
        write_ivf_index(ev, path, n_cells=8)
        idx = read_ivf_index(spark, path)

        pruned = semantic_decontam_indexed(train, idx, nprobe=2)
        assert "ExistingRDD" in pruned._jdf.queryExecution().toString()

        # nprobe >= n_cells: the prune (and its cell-set action) is
        # skipped — the old code collected the cell set even though the
        # prune was a no-op there
        full = semantic_decontam_indexed(train, idx, threshold=0.5,
                                         nprobe=8)
        plan = full._jdf.queryExecution().toString()
        assert "ExistingRDD" not in plan
        # and the values still equal the broadcast path exactly
        got = sorted(map(tuple, full.collect()))
        exp = sorted(map(tuple, nearest_reference(
            train,
            ev.select(F.col("vec_id").alias("ref_id"), "embedding"),
            threshold=0.5,
        ).collect()))
        assert got == exp

        # the query-batch probe: routing runs once, inside the plan
        q = emb.limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        probed, n_jobs = jobs_started(
            spark, lambda: ivf_probe_batch(idx, q, k=3, nprobe=2)
        )
        assert n_jobs == 0
        # the planned assign scan carries the dynamic pruning filter,
        # served by the join's broadcast (SubqueryAdaptiveBroadcast, which
        # adaptive execution turns into a SubqueryBroadcast reusing it;
        # the run-time prune is pinned by test_probe_scan_partition_prunes)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruningexpression(cell#" in plan
        assert "SubqueryAdaptiveBroadcast dynamicpruning#" in plan
        unpruned, n_jobs = jobs_started(
            spark, lambda: ivf_probe_batch(idx, q, k=3, nprobe=8)
        )
        assert n_jobs == 0
        assert "dynamicpruning" not in (
            unpruned._jdf.queryExecution().toString()
        )

    def test_bm25_probe_all_terms_absent(self, spark, tmp_path):
        from ssis_to_dbt_spark.text.retrieval import (
            bm25_index_probe,
            write_bm25_index,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        idx = write_bm25_index(
            docs, "bm25e_" + tmp_path.name, str(tmp_path / "t")
        )
        out = bm25_index_probe(
            idx, {"q": ["zzznothere", "qqqmissing"]}, top_k=5
        )
        assert out.count() == 0

    def test_local_rows_df_matches_createdataframe(self, spark):
        """r14 local_rel helper: the JVM LocalRelation form carries the
        same schema (names + types) and the same rows as the
        createDataFrame it replaces, including NULLs, quotes in
        strings, doubles (repr round-trip), and the 0-row case."""
        from ssis_to_dbt_spark.local_rel import local_rows_df

        rows = [
            (1, "plain", 0.5, None),
            (None, "it's \"quoted\" \\ backslash", -1.75e-300, 7),
            (3, None, float(2**53 + 1), -9),
        ]
        schema = "a int, b string, c double, d long"
        ref = spark.createDataFrame(rows, schema)
        got = local_rows_df(spark, rows, schema)
        # one partition: one task wherever it is scanned or broadcast
        assert got.rdd.getNumPartitions() == 1
        assert [
            (f.name, f.dataType.simpleString()) for f in got.schema.fields
        ] == [
            (f.name, f.dataType.simpleString()) for f in ref.schema.fields
        ]
        key = lambda r: tuple(  # noqa: E731
            repr(v) for v in r
        )
        assert sorted(map(key, got.collect())) == sorted(
            map(key, ref.collect())
        )
        empty = local_rows_df(spark, [], schema)
        assert empty.count() == 0
        assert [f.dataType.simpleString() for f in empty.schema.fields] == [
            f.dataType.simpleString() for f in ref.schema.fields
        ]
