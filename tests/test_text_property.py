"""Property-based tests: text quality signals against Python oracles.

One Spark job per hypothesis example set (single createDataFrame of all
generated documents) keeps runtime bounded, mirroring
test_expressions_property.py.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import ssis_to_dbt_spark.text as tx

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# words of printable ASCII (no whitespace); documents join them with spaces
words = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1,
    max_size=8,
)
documents = st.lists(words, min_size=0, max_size=30).map(" ".join)


def _rows(spark, docs):
    return spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id int, text string"
    )


def _signals(spark, docs):
    df = _rows(spark, docs)
    t = F.col("text")
    return {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            tx.token_count(t).alias("n"),
            tx.dup_token_fraction(t).alias("dup"),
            tx.top_token_fraction(t).alias("top"),
            tx.max_token_run(t).alias("run"),
            tx.mean_token_length(t).alias("mtl"),
            tx.symbol_fraction(t).alias("sym"),
            tx.digit_fraction(t).alias("dig"),
        ).collect()
    }


class TestSignalProperties:
    @given(docs=st.lists(documents, min_size=1, max_size=8))
    @settings(**SETTINGS)
    def test_invariants_against_python_oracle(self, spark, docs):
        out = _signals(spark, docs)
        for i, d in enumerate(docs):
            toks = d.split()
            r = out[i]
            assert r["n"] == len(toks)
            # fractions bounded
            for k in ("dup", "top", "sym", "dig"):
                assert 0.0 <= r[k] <= 1.0, (k, d)
            if toks:
                # python oracles
                assert r["dup"] == (len(toks) - len(set(toks))) / len(toks)
                counts = {w: toks.count(w) for w in set(toks)}
                assert r["top"] == max(counts.values()) / len(toks)
                best = cur = 1
                for a, b in zip(toks, toks[1:]):
                    cur = cur + 1 if a == b else 1
                    best = max(best, cur)
                assert r["run"] == best
                assert r["run"] <= max(counts.values())
                assert r["mtl"] == sum(len(w) for w in toks) / len(toks)
            else:
                assert r["dup"] == r["top"] == 0.0
                assert r["run"] == 0

    @given(docs=st.lists(documents, min_size=1, max_size=5))
    @settings(**SETTINGS)
    def test_chunking_reassembles_exactly(self, spark, docs):
        # concatenating chunks with overlaps removed must reproduce the doc
        df = _rows(spark, docs)
        chunks = tx.chunk_documents(df, chunk_tokens=5, overlap_tokens=2)
        by_doc = {}
        for r in chunks.collect():
            by_doc.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["chunk_text"], r["chunk_len"])
            )
        for i, d in enumerate(docs):
            toks = d.split()
            got = sorted(by_doc[i])
            rebuilt = []
            for idx, text, n in got:
                ctoks = text.split() if text else []
                assert len(ctoks) == n or (n == 1 and text == "")
                rebuilt.extend(ctoks if idx == 0 else ctoks[2:])
            if toks:
                assert rebuilt == toks, d
            # every chunk adds unseen tokens (no fully-contained tail chunk)
            strides = [idx * 3 for idx, _, _ in got]
            for s, (_, _, n) in zip(strides[1:], got[1:]):
                assert s < max(len(toks), 1)


class TestXlsRoundtripProperty:
    """Hypothesis round-trips through the BIFF8 writer/reader: arbitrary
    strings (incl. non-Latin-1 -> 16-bit SST) and numbers must survive."""

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=-10**9, max_value=10**9),
                st.text(
                    alphabet=st.characters(
                        min_codepoint=32, max_codepoint=0x2FFF,
                        blacklist_categories=("Cs",),
                    ),
                    max_size=40,
                ),
            ),
            min_size=1,
            max_size=20,
        )
    )
    @settings(max_examples=10, deadline=None)
    def test_roundtrip(self, rows, tmp_path_factory):
        import os

        from ssis_to_dbt_spark.sources.xls import read_xls_rows, write_xls

        p = os.path.join(str(tmp_path_factory.mktemp("xlsprop")), "t.xls")
        write_xls(["k", "v"], [[k, v] for k, v in rows], p)
        grid = read_xls_rows(p)
        assert grid[0] == ["k", "v"]
        got = grid[1:]
        for (k, v), row in zip(rows, got):
            assert row[0] == str(k)
            assert (row[1] or "") == v  # empty cell reads back as None/''


# lowercase alphabetic words so BPE merges over [a-z] chars can apply
lc_words = st.text(alphabet="abcdefg", min_size=1, max_size=10)
lc_docs = st.lists(lc_words, min_size=0, max_size=20).map(" ".join)


class TestRound6Properties:
    """Round-6 operators against Python oracles: n-gram repetition signals,
    BPE encode (reference implementation + conservation), winnowing
    (guarantee + density bound)."""

    @staticmethod
    def _py_ngrams(toks, n):
        return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    @given(docs=st.lists(documents, min_size=1, max_size=6))
    @settings(**SETTINGS)
    def test_ngram_signals_python_oracle(self, spark, docs):
        df = _rows(spark, docs)
        t = F.col("text")
        out = {
            r["doc_id"]: r
            for r in df.select(
                "doc_id",
                tx.dup_ngram_fraction(t, 2).alias("d2"),
                tx.top_ngram_char_fraction(t, 2).alias("t2"),
                tx.dup_ngram_char_fraction(t, 3).alias("c3"),
            ).collect()
        }
        for i, d in enumerate(docs):
            toks = d.split()
            g2 = self._py_ngrams(toks, 2)
            r = out[i]
            if g2:
                assert r["d2"] == (len(g2) - len(set(g2))) / len(g2)
            else:
                assert r["d2"] == 0.0
            nosp = sum(len(w) for w in toks)
            if g2 and nosp:
                counts = {}
                for g in g2:
                    counts[g] = counts.get(g, 0) + 1
                best = max(counts.values())
                # lex-smallest among max-count
                bg = min(g for g, c in counts.items() if c == best)
                assert r["t2"] == best * len(bg.replace(" ", "")) / nosp
            g3 = self._py_ngrams(toks, 3)
            if nosp:
                dup = sum(
                    c * len(g.replace(" ", ""))
                    for g, c in {
                        g: g3.count(g) for g in set(g3)
                    }.items()
                    if c > 1
                )
                assert r["c3"] == (dup / nosp if g3 else 0.0)

    @given(
        docs=st.lists(lc_docs, min_size=1, max_size=5),
        merges=st.lists(
            st.tuples(
                st.text(alphabet="abcdefg", min_size=1, max_size=2),
                st.text(alphabet="abcdefg", min_size=1, max_size=2),
            ),
            min_size=1,
            max_size=5,
        ),
    )
    @settings(**SETTINGS)
    def test_bpe_encode_reference_and_conservation(self, spark, docs, merges):
        from ssis_to_dbt_spark.text.bpe import bpe_encode

        words = sorted({w for d in docs for w in d.split()})
        if not words:
            return
        df = spark.createDataFrame([(w,) for w in words], "word string")
        got = {
            r["word"]: r["toks"]
            for r in df.select(
                "word", bpe_encode(F.col("word"), merges).alias("toks")
            ).collect()
        }
        from tests.test_text import TestBpeEncode

        for w in words:
            toks = got[w]
            assert "".join(toks) == w  # conservation: no chars lost/created
            assert toks == TestBpeEncode._ref(w, merges), (w, merges)

    @given(data=st.data())
    @settings(**SETTINGS)
    def test_winnowing_guarantee_and_density(self, spark, data):
        k, w = 3, 4
        vocab = [f"v{i}" for i in range(40)]
        mk = st.lists(st.sampled_from(vocab), min_size=0, max_size=60)
        t1 = data.draw(mk)
        t2 = data.draw(mk)
        shared = [f"s{i}" for i in range(w + k - 1)]
        docs = [
            (1, " ".join(t1[:30] + shared + t1[30:])),
            (2, " ".join(t2[:10] + shared + t2[10:])),
        ]
        df = spark.createDataFrame(docs, "doc_id int, text string")
        fps = tx.winnow_fingerprints(df, k=k, w=w).collect()
        h1 = {r["fp_hash"] for r in fps if r["doc_id"] == 1}
        h2 = {r["fp_hash"] for r in fps if r["doc_id"] == 2}
        # shared run of length w+k-1 -> at least one shared fingerprint
        assert h1 & h2
        # density: selected windows <= gram count; at least 1 per w window
        for did, toks in ((1, docs[0][1].split()), (2, docs[1][1].split())):
            n_grams = max(len(toks) - k + 1, 0)
            n_sel = sum(1 for r in fps if r["doc_id"] == did)
            if n_grams >= w:
                assert n_sel <= n_grams - w + 1
                assert n_sel >= (n_grams - w + 1 + w - 1) // w  # ceil(/w)


class TestRound6ExtensionProperties:
    @given(docs=st.lists(documents, min_size=1, max_size=8))
    @settings(**SETTINGS)
    def test_char_entropy_python_oracle(self, spark, docs):
        """entropy_units matches the exact-integer Python computation; the
        identity H*n = n*L(n) - sum k*L(k) over character counts."""
        import math
        from collections import Counter
        from decimal import Decimal

        def units(m):
            if m <= 0:
                return 0
            return int(Decimal(str(round(math.log(m), 6))) * 1_000_000)

        out = {
            r["doc_id"]: r["e"]
            for r in _rows(spark, docs)
            .select("doc_id", tx.char_entropy(F.col("text")).alias("e"))
            .collect()
        }
        for i, d in enumerate(docs):
            counts = Counter(d)
            n = len(d)
            want_units = n * units(n) - sum(
                k * units(k) for k in counts.values()
            )
            got = out[i]
            assert got["n_chars"] == n
            assert got["n_distinct"] == len(counts)
            assert got["entropy_units"] == want_units
            # uniform text has exactly zero entropy; entropy never negative
            # beyond quantization slack (1e-6 per term)
            assert got["entropy_units"] >= -n

    @given(
        groups=st.lists(
            st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 500)),
            min_size=1,
            max_size=3,
            unique_by=lambda t: t[0],
        ).filter(lambda gs: any(n > 0 for _, n in gs))
    )
    @settings(**SETTINGS)
    def test_temperature_mixture_invariants(self, spark, groups):
        """Kept set is a subset, every non-empty group stays represented
        when feasible, and membership is content-addressed (re-run equal)."""
        from ssis_to_dbt_spark.operators.sampling import temperature_mixture

        rows, k = [], 0
        for g, n in groups:
            for _ in range(n):
                rows.append((k, g))
                k += 1
        df = spark.createDataFrame(rows, "k int, g string")
        kept = temperature_mixture(df, "g", "k").collect()
        kept_ids = sorted(r["k"] for r in kept)
        assert set(kept_ids) <= {r[0] for r in rows}
        again = sorted(
            r["k"] for r in temperature_mixture(df.repartition(5), "g", "k").collect()
        )
        assert kept_ids == again

    @given(
        n_docs=st.integers(2, 12),
        edges=st.lists(
            st.tuples(st.integers(0, 11), st.integers(0, 11)),
            min_size=0,
            max_size=10,
        ),
    )
    @settings(**SETTINGS)
    def test_prune_clusters_exactly_one_kept_per_cluster(
        self, spark, n_docs, edges
    ):
        from ssis_to_dbt_spark.text.dedup import prune_clusters

        docs = spark.createDataFrame(
            [(i, 100 - i) for i in range(n_docs)], "doc_id int, n_chars int"
        )
        e = [
            (a, b)
            for a, b in edges
            if a != b and a < n_docs and b < n_docs
        ]
        pairs = spark.createDataFrame(
            e or [(0, 0)], "doc_a int, doc_b int"
        ).filter(F.col("doc_a") != F.col("doc_b"))
        out = prune_clusters(docs, pairs).collect()
        assert len(out) == n_docs  # every doc decided exactly once
        by_cluster = {}
        for r in out:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
        for cid, members in by_cluster.items():
            assert sum(1 for m in members if m["kept"]) == 1
            assert all(m["cluster_size"] == len(members) for m in members)
            assert min(m["doc_id"] for m in members) == cid


class TestArrowTwinProperties:
    """Property-based bit-identity: the round-7 Arrow kernels vs their
    expression twins on RANDOM documents (mixed whitespace, punctuation,
    empty docs) — one Spark job per example set."""

    # documents with real whitespace structure: words, newlines, tabs
    _mixed = st.lists(
        st.one_of(
            words,
            st.just("\n"),
            st.just("\t"),
            st.just("..."),
            st.just("- bullet"),
        ),
        min_size=0,
        max_size=40,
    ).map(" ".join)

    @given(docs=st.lists(_mixed, min_size=1, max_size=6))
    @settings(**SETTINGS)
    def test_text_signals_arrow_matches_expr(self, spark, docs):
        from ssis_to_dbt_spark.catalog import _char_entropy_struct
        from ssis_to_dbt_spark.text.analysis import text_signals_arrow

        df = _rows(spark, docs)
        t = F.col("text")
        out = df.select(
            "doc_id",
            tx.token_count(t).alias("n_tokens"),
            tx.regex_token_count(t).alias("n_bpe"),
            tx.language_id(t).alias("lang_pred"),
            tx.quality_score(t).alias("q_score"),
            tx.document_fingerprint(t).alias("fingerprint"),
            tx.mean_token_length(t).alias("mean_tok_len"),
            tx.dup_token_fraction(t).alias("dup_tok_frac"),
            tx.top_token_fraction(t).alias("top_tok_frac"),
            tx.max_token_run(t).cast("int").alias("max_run"),
            tx.symbol_fraction(t).alias("symbol_frac"),
            tx.digit_fraction(t).alias("digit_frac"),
            _char_entropy_struct(t).alias("_ent"),
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
            r["doc_id"]: r.asDict()
            for r in text_signals_arrow(df).collect()
        }
        assert expr == arrow

    @given(docs=st.lists(_mixed, min_size=1, max_size=6))
    @settings(**SETTINGS)
    def test_winnow_arrow_matches_expr(self, spark, docs):
        from ssis_to_dbt_spark.text.dedup import (
            _winnow_fingerprints_expr,
            winnow_fingerprints,
        )

        df = _rows(spark, docs)
        a = set(map(tuple, _winnow_fingerprints_expr(df, k=2, w=3).collect()))
        b = set(map(tuple, winnow_fingerprints(df, k=2, w=3).collect()))
        assert a == b


class TestDsirProperties:
    """DSIR weights vs an exact Python replica of the bucket model on
    random documents and random target assignments."""

    @given(
        docs=st.lists(documents, min_size=1, max_size=12),
        tgt_mask=st.lists(st.booleans(), min_size=12, max_size=12),
    )
    @settings(**SETTINGS)
    def test_python_oracle_bit_exact_random_docs(self, spark, docs, tgt_mask):
        import hashlib
        import math
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        from ssis_to_dbt_spark.text.analysis import dsir_importance

        B = 32

        def rhu6(x):
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

        rows = [(i, d, bool(tgt_mask[i])) for i, d in enumerate(docs)]
        df = spark.createDataFrame(
            rows, "doc_id int, text string, tgt boolean"
        )
        per_doc, q_cnt, p_cnt = {}, Counter(), Counter()
        for did, text, is_t in rows:
            toks = text.strip().split() if text.strip() else []
            grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            c = Counter(bucket(g) for g in grams)
            per_doc[did] = c
            q_cnt.update(c)
            if is_t:
                p_cnt.update(c)
        qt, pt = sum(q_cnt.values()), sum(p_cnt.values())
        ratio = {
            b: units(p_cnt[b] + 1) - units(pt + B)
            - units(q_cnt[b] + 1) + units(qt + B)
            for b in q_cnt
        }
        got = {
            r["doc_id"]: r
            for r in dsir_importance(df, F.col("tgt"), buckets=B).collect()
        }
        assert set(got) == set(per_doc)
        for did, c in per_doc.items():
            assert got[did]["weight_units"] == sum(
                n * ratio[b] for b, n in c.items()
            ), did
            assert got[did]["n_feats"] == sum(c.values()), did

    @given(docs=st.lists(documents, min_size=2, max_size=10))
    @settings(**SETTINGS)
    def test_partition_invariance(self, spark, docs):
        from ssis_to_dbt_spark.text.analysis import dsir_importance

        rows = [(i, d) for i, d in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        tgt = F.col("doc_id") % 2 == 0
        a = sorted(
            tuple(r)
            for r in dsir_importance(df, tgt, buckets=16).collect()
        )
        b = sorted(
            tuple(r)
            for r in dsir_importance(
                df.repartition(5), tgt, buckets=16
            ).collect()
        )
        assert a == b

    @given(docs=st.lists(documents, min_size=1, max_size=10))
    @settings(**SETTINGS)
    def test_arrow_score_engine_bit_identical_random_docs(self, spark, docs):
        from ssis_to_dbt_spark.text.analysis import (
            _dsir_fit_state_expr,
            _dsir_score_expr,
            dsir_fit,
            dsir_model_from_state,
            dsir_score,
        )

        rows = [(i, d) for i, d in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        tgt = F.col("doc_id") % 2 == 0
        model = dsir_fit(df, tgt, buckets=16)
        a = sorted(tuple(r) for r in _dsir_score_expr(df, model).collect())
        b = sorted(tuple(r) for r in dsir_score(df, model).collect())
        assert a == b
        # the fit kernel vs its expression reference on the same docs
        ref = dsir_model_from_state(_dsir_fit_state_expr(df, tgt, 16), 16)
        assert model == ref


# --- connected components vs a Python union-find oracle ---------------------

edge_lists = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=40,
    ),
    min_size=1,
    max_size=6,
)


def _uf_oracle(edges):
    """Union-find ground truth: node -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {
        n: min(members)
        for members in comp.values()
        for n in members
    }


def _flatten(graphs):
    """Pack several random graphs into ONE edge list on disjoint id ranges
    (components cannot cross ranges), so each hypothesis example costs a
    single iterative CC run — the one-job-per-example convention above."""
    return [
        (g * 1000 + a, g * 1000 + b)
        for g, edges in enumerate(graphs)
        for a, b in edges
    ]


class TestConnectedComponentsProperty:
    """Random edge lists (self-loops, duplicate edges, multi-graph packs)
    vs a Python union-find oracle — pure min-label, star contraction, AND
    the auto path forced past its switch point, on the same graphs."""

    @given(graphs=edge_lists)
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_min_label_matches_union_find(self, spark, graphs):
        from ssis_to_dbt_spark.text.dedup import _cc_min_label

        edges = _flatten(graphs)
        df = spark.createDataFrame(edges, "doc_a int, doc_b int")
        got = {
            r["node"]: r["label"]
            for r in _cc_min_label(df, "doc_a", "doc_b", 60).collect()
        }
        assert got == _uf_oracle(edges)

    @given(graphs=edge_lists)
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_star_contraction_matches_union_find(self, spark, graphs):
        from ssis_to_dbt_spark.text.dedup import _cc_star_labels

        edges = _flatten(graphs)
        df = spark.createDataFrame(edges, "doc_a int, doc_b int")
        got = {
            r["node"]: r["label"]
            for r in _cc_star_labels(df, "doc_a", "doc_b").collect()
        }
        assert got == _uf_oracle(edges)

    @given(graphs=edge_lists)
    @settings(max_examples=3, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_auto_switchover_matches_union_find(self, spark, graphs):
        # one min-label round forces the min-label -> star fallover on any
        # graph that needs more than one propagation round, and a zero
        # edge cap keeps the graph off the driver-side union-find
        from ssis_to_dbt_spark.text import dedup

        edges = _flatten(graphs)
        df = spark.createDataFrame(edges, "doc_a int, doc_b int")
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "CC_COLLECT_MAX_EDGES", 0)
            mp.setattr(dedup, "CC_MIN_LABEL_ROUNDS", 1)
            got = {
                r["node"]: r["label"]
                for r in tx.connected_components(df).collect()
            }
        assert got == _uf_oracle(edges)

    @given(graphs=edge_lists)
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_driver_gate_matches_union_find(self, spark, graphs):
        # r14: the default size-gated path (collect + driver union-find)
        # on the same random graphs — equal to the oracle and therefore
        # to the forced-distributed paths above
        edges = _flatten(graphs)
        df = spark.createDataFrame(edges, "doc_a int, doc_b int")
        got = {
            r["node"]: r["label"]
            for r in tx.connected_components(df).collect()
        }
        assert got == _uf_oracle(edges)


class TestPruneClustersProperty:
    """prune_clusters vs a Python oracle on random graphs + random doc
    lengths: component = union-find, representative = longest text with
    lowest-id tie-break, singletons pass through kept."""

    @given(
        graphs=edge_lists,
        lengths=st.lists(
            st.integers(min_value=0, max_value=9), min_size=41, max_size=41
        ),
    )
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_matches_python_oracle(self, spark, graphs, lengths):
        from ssis_to_dbt_spark.text.dedup import prune_clusters

        edges = _flatten(graphs)
        nodes = sorted({n for e in edges for n in e})
        # every node gets a doc; plus some isolated docs never in a pair
        doc_ids = nodes + [999_000, 999_001]
        docs = [(d, lengths[i % len(lengths)]) for i, d in enumerate(doc_ids)]
        df = spark.createDataFrame(docs, "doc_id long, n_chars int")
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["kept"])
            for r in prune_clusters(df, pairs).collect()
        }
        comp = _uf_oracle(edges)
        sizes = {}
        for n, lab in comp.items():
            sizes[lab] = sizes.get(lab, 0) + 1
        length = dict(docs)
        reps = {}
        for n, lab in comp.items():
            cur = reps.get(lab)
            cand = (-length[n], n)
            if cur is None or cand < cur:
                reps[lab] = cand
        want = {}
        for d, _l in docs:
            if d in comp:
                lab = comp[d]
                want[d] = (lab, sizes[lab], reps[lab][1] == d)
            else:
                want[d] = (d, 1, True)
        assert got == want


class TestPackNosplitProperty:
    """No-split packing invariants on random token-count distributions
    (including zeros and oversized docs): every doc placed exactly once
    and never chopped, sequences contiguous, capacity respected except
    for single-oversized-doc sequences, and the whole assignment is a
    pure function of the (key, n_tok) set — partitioning-independent."""

    @given(
        toks=st.lists(
            st.integers(min_value=0, max_value=150),
            min_size=1,
            max_size=60,
        )
    )
    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_invariants_random_token_counts(self, spark, toks):
        cap = 100
        df = spark.createDataFrame(
            [(i, n) for i, n in enumerate(toks)], "doc_id long, n_tok int"
        )
        rows = tx.pack_sequences_nosplit(
            df, "n_tok", cap, key_col="doc_id"
        ).collect()
        assert len(rows) == len(toks)
        by_seq = {}
        for r in rows:
            assert r["end_tok"] - r["start_tok"] == toks[r["doc_id"]]
            by_seq.setdefault(r["seq_id"], []).append(r)
        for members in by_seq.values():
            members.sort(key=lambda r: r["start_tok"])
            pos = 0
            for r in members:
                assert r["start_tok"] == pos
                pos = r["end_tok"]
            assert pos <= cap or len(members) == 1
        again = sorted(
            map(
                tuple,
                tx.pack_sequences_nosplit(
                    df.repartition(5), "n_tok", cap, key_col="doc_id"
                ).collect(),
            )
        )
        assert sorted(map(tuple, rows)) == again


class TestCurationChainProperty:
    """r9 VERDICT ask: the composed curation chain over RANDOM corpora
    (random texts/langs with planted near-dups) — global invariants that
    no fixture-pinned test can certify:

    - stage containment: pruned partitions gated; clean = deduped minus
      contaminated; selected/mixed/packed nest correctly;
    - exactly ONE kept representative per near-dup cluster, and it is
      the longest member (n_chars DESC, doc_id ASC tiebreak);
    - no contaminated doc survives into the DSIR fit corpus;
    - DSIR select returns exactly min(k, |clean|) winners;
    - packing tiles each md5 bucket stream contiguously from 0 with
      span = the doc's token count and seq_id = (start DIV S)*nb+bucket.
    """

    _VOCAB = (
        "the and of to data spark table row group query filter merge "
        "join window sort batch value stream line part order customer "
        "fast slow small large hash scan key column vector agg"
    ).split()
    _LANGS = ["en", "en", "de", "fr", "es"]  # en-skewed like a crawl

    def _corpus(self, rnd):
        docs = []
        n = rnd.randint(40, 70)
        for i in range(n):
            k = rnd.randint(25, 60)
            text = " ".join(rnd.choice(self._VOCAB) for _ in range(k))
            docs.append((i, text, rnd.choice(self._LANGS)))
        # plant near-dup clusters: copies with one appended word
        for j in range(rnd.randint(3, 6)):
            base = docs[rnd.randrange(n)]
            docs.append((
                1000 + j,
                base[1] + " extra",
                base[2],
            ))
        return [(i, t, lang, len(t)) for i, t, lang in docs]

    @given(seed=st.integers(min_value=0, max_value=10**6))
    @settings(max_examples=3, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_chain_invariants_random_corpus(self, spark, seed):
        import random

        from ssis_to_dbt_spark.curation import (
            stage_clean,
            stage_contaminated,
            stage_dedup,
            stage_dsir_select,
            stage_gate,
            stage_mixture,
            stage_pack,
            stage_prune,
        )

        rnd = random.Random(seed)
        rows = self._corpus(rnd)
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, n_chars int"
        )
        k = 15
        gated = stage_gate(docs).localCheckpoint()
        pruned = stage_prune(gated).localCheckpoint()
        deduped = stage_dedup(gated, pruned).localCheckpoint()
        cont = stage_contaminated(deduped, docs).localCheckpoint()
        clean = stage_clean(deduped, cont).localCheckpoint()
        selected = stage_dsir_select(clean, k).localCheckpoint()
        mixed = stage_mixture(selected).localCheckpoint()
        packed = stage_pack(mixed)

        n_chars = {r[0]: r[3] for r in rows}
        gated_ids = {r["doc_id"] for r in gated.collect()}
        prune_rows = pruned.collect()
        assert {r["doc_id"] for r in prune_rows} == gated_ids

        # one representative per cluster, and it is the longest member
        clusters = {}
        for r in prune_rows:
            clusters.setdefault(r["cluster_id"], []).append(r)
        for cid, members in clusters.items():
            kept = [r for r in members if r["kept"]]
            assert len(kept) == 1, f"cluster {cid}: {len(kept)} kept"
            best = min(
                members,
                key=lambda r: (-n_chars[r["doc_id"]], r["doc_id"]),
            )
            assert kept[0]["doc_id"] == best["doc_id"]
            assert all(
                r["cluster_size"] == len(members) for r in members
            )

        dedup_ids = {r["doc_id"] for r in deduped.collect()}
        assert dedup_ids == {
            r["doc_id"] for r in prune_rows if r["kept"]
        }

        cont_ids = {r["doc_id"] for r in cont.collect()}
        clean_ids = {r["doc_id"] for r in clean.collect()}
        assert cont_ids <= dedup_ids
        assert clean_ids == dedup_ids - cont_ids  # no contaminated doc survives

        sel_ids = {r["doc_id"] for r in selected.collect()}
        assert len(sel_ids) == min(k, len(clean_ids))
        assert sel_ids <= clean_ids

        mixed_rows = mixed.collect()
        mixed_ids = {r["doc_id"] for r in mixed_rows}
        assert mixed_ids <= sel_ids

        # packing tiles exactly the mixture survivors
        from ssis_to_dbt_spark.text.analysis import token_count

        ntok = {
            r["doc_id"]: r["n"]
            for r in mixed.select(
                "doc_id", token_count(F.col("text")).alias("n")
            ).collect()
        }
        pk = packed.collect()
        assert {r["doc_id"] for r in pk} == mixed_ids
        # r9: stage_pack auto-sizes the stream count — derive it with
        # the stage's own arithmetic (ceil(total/2^24); 1 at this scale)
        nb = max(1, (sum(ntok.values()) + (1 << 24) - 1) >> 24)
        by_bucket = {}
        for r in pk:
            assert r["end_tok"] - r["start_tok"] == ntok[r["doc_id"]]
            by_bucket.setdefault(r["seq_id"] % nb, []).append(r)
        for bucket, members in by_bucket.items():
            members.sort(key=lambda r: r["start_tok"])
            pos = 0
            for r in members:
                assert r["start_tok"] == pos
                assert r["seq_id"] == (r["start_tok"] // 512) * nb + bucket
                pos = r["end_tok"]


class TestIngestLoopProperty:
    """r10 (r9 VERDICT #6): the continuous-crawl loop over RANDOM corpora
    cut into RANDOM batch sequences — invariants per batch:

    (a) accepted and rejected partition the gated batch (disjoint, union);
    (b) every rejected doc has an index candidate at est_jaccard >= the
        threshold, and every accepted doc has none;
    (c) the merged DSIR state is BIT-EQUAL to a full refit over
        seed + all accepted docs so far;
    (d) restart equivalence: rebuilding the index state from scratch over
        seed + accepted-so-far and running the next batch from it yields
        the identical outputs as the incrementally-evolved state.
    """

    _VOCAB = (
        "the and of to data spark table row group query filter merge "
        "join window sort batch value stream line part order customer "
        "fast slow small large hash scan key column vector agg"
    ).split()

    def _rows(self, rnd, n, id0):
        out = []
        for i in range(n):
            k = rnd.randint(50, 70)
            text = " ".join(rnd.choice(self._VOCAB) for _ in range(k))
            out.append((id0 + i, text, "en", len(text)))
        return out

    @given(seed_int=st.integers(min_value=0, max_value=10**6))
    @settings(max_examples=2, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_loop_invariants_random_batches(self, spark, seed_int):
        import random

        from ssis_to_dbt_spark.ingest import (
            DUP_THRESHOLD,
            IngestState,
            ingest_batch,
            seed_ingest_state,
        )
        from ssis_to_dbt_spark.text.analysis import (
            dsir_fit_state,
            dsir_model_from_state,
        )
        from ssis_to_dbt_spark.text.dedup import (
            corpus_dedup_index,
            cross_corpus_candidates,
        )

        rnd = random.Random(seed_int)
        schema = "doc_id long, text string, lang string, n_chars int"
        seed_rows = self._rows(rnd, rnd.randint(15, 25), 0)
        seed_df = spark.createDataFrame(seed_rows, schema)

        n_batches = rnd.randint(2, 3)
        batches = []
        next_id = 1000
        pool = list(seed_rows)  # dup sources: seed + earlier batches
        for _ in range(n_batches):
            rows = self._rows(rnd, rnd.randint(5, 10), next_id)
            next_id += 100
            # plant near-dups of earlier docs (one appended word)
            for _ in range(rnd.randint(1, 3)):
                base = pool[rnd.randrange(len(pool))]
                rows.append((next_id, base[1] + " extra", "en",
                             base[3] + 6))
                next_id += 1
            pool.extend(rows)
            batches.append(spark.createDataFrame(rows, schema))

        state = seed_ingest_state(seed_df)
        accepted_so_far = seed_df
        for bi, b in enumerate(batches):
            pre_index = (state.sigs.localCheckpoint(),
                         state.bands.localCheckpoint())
            r = ingest_batch(b, state)
            gated_ids = {x["doc_id"] for x in r.gated.collect()}
            acc_ids = {x["doc_id"] for x in r.accepted.collect()}
            rej_ids = {x["doc_id"] for x in r.rejected.collect()}
            # (a) partition of the gated batch
            assert acc_ids | rej_ids == gated_ids
            assert not (acc_ids & rej_ids)
            # (b) rejection exactly = has an over-threshold index match
            pairs = cross_corpus_candidates(
                r.gated, corpus_index=pre_index,
            ).collect()
            over = {
                p["new_id"] for p in pairs
                if p["est_jaccard"] >= DUP_THRESHOLD
            }
            assert rej_ids == over
            # (c) merged state bit-equals a full refit on seed+accepted
            accepted_so_far = accepted_so_far.unionByName(
                r.accepted
            ).localCheckpoint()
            full = dsir_fit_state(
                accepted_so_far, F.col("lang") == "en", buckets=256
            )
            assert dsir_model_from_state(
                r.state.dsir_state, 256
            ) == dsir_model_from_state(full, 256)
            # (d) restart equivalence: rebuild the index from scratch
            # over seed+accepted and run the NEXT batch from both states
            if bi + 1 < len(batches):
                rb_sigs, rb_bands = corpus_dedup_index(accepted_so_far)
                rebuilt = IngestState(
                    sigs=rb_sigs, bands=rb_bands,
                    dsir_state=full,
                )
                nxt = batches[bi + 1]
                a = ingest_batch(nxt, r.state)
                c = ingest_batch(nxt, rebuilt)
                assert sorted(
                    map(tuple, a.rejected.collect())
                ) == sorted(map(tuple, c.rejected.collect()))
                assert sorted(
                    map(tuple, a.scored.collect())
                ) == sorted(map(tuple, c.scored.collect()))
            state = r.state


def _units6(x: float) -> int:
    """round(x, 6) -> integer micro-units with the ENGINE's rounding:
    Spark's round() is BigDecimal.valueOf(double).setScale(6, HALF_UP)
    — i.e. HALF_UP on the shortest decimal repr — while python round()
    is banker's (HALF_EVEN), which disagrees exactly on .5 boundaries
    (hypothesis found ln() landing on one)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        * 1_000_000
    )


class TestBm25Property:
    """r11: bm25_topk vs a sequential pure-python replica (same formula,
    same round-6 micro-unit quantization) over random tiny corpora and
    random query bags — exercises empty docs, all-miss queries,
    repeated terms, and tie ranking."""

    @staticmethod
    def _py_bm25(docs, terms, k1=1.2, b=0.75):
        import math

        u6 = _units6
        toks = {d: t.lower().split() for d, t in docs.items()}
        n = len(docs)
        dls = {d: (0 if not t.strip() else len(t.lower().split()))
               for d, t in docs.items()}
        avgdl = sum(dls.values()) / n
        out = {}
        for term in set(terms):
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
                out[d] = (nh + 1, su + u6(idf * tfp))
        return out

    @given(
        docs=st.lists(documents, min_size=1, max_size=8),
        qwords=st.lists(words, min_size=1, max_size=4),
        data=st.data(),
    )
    @settings(**SETTINGS)
    def test_matches_python_replica(self, spark, docs, qwords, data):
        from ssis_to_dbt_spark.text.retrieval import bm25_topk

        # mix generated words with words actually present, lowercased
        present = [w for d in docs for w in d.lower().split()]
        if present:
            qwords = qwords + data.draw(
                st.lists(st.sampled_from(present), max_size=3)
            )
        terms = sorted({w.lower() for w in qwords})
        dmap = dict(enumerate(docs))
        got = {
            r["doc_id"]: (r["n_terms"], r["score_units"])
            for r in bm25_topk(
                _rows(spark, docs), {"q": terms}, top_k=100
            ).collect()
        }
        assert got == self._py_bm25(dmap, terms)


class TestNaiveBayesProperty:
    """r11: nb_fit/nb_predict vs a sequential pure-python multinomial NB
    (same Laplace smoothing, same quantization, same tie rule)."""

    @staticmethod
    def _py_nb(train, test_docs):
        import math
        import re

        # the ENGINE tokenizer convention (split(trim(lower), '\s+')):
        # blank text yields one empty-string token, matching the DuckDB
        # oracles — NOT python str.split(), which yields []
        tok = lambda s: re.split(r"\s+", s.lower().strip())  # noqa: E731
        u = lambda x: _units6(math.log(x))  # noqa: E731
        counts, class_tok, nc = {}, {}, {}
        vocab = set()
        for text, lab in train:
            nc[lab] = nc.get(lab, 0) + 1
            for t in tok(text):
                counts[(lab, t)] = counts.get((lab, t), 0) + 1
                class_tok[lab] = class_tok.get(lab, 0) + 1
                vocab.add(t)
        # blank docs contribute no tokens but do count for priors; a
        # label with NO tokens still needs a class_tok entry of 0
        for lab in nc:
            class_tok.setdefault(lab, 0)
        n_all = sum(nc.values())
        v = len(vocab)
        out = {}
        for d, text in test_docs.items():
            best = None
            for lab in sorted(nc):
                s = u(nc[lab] / n_all)
                nv = 0
                for t in tok(text):
                    if t not in vocab:
                        continue
                    nv += 1
                    s += u((counts.get((lab, t), 0) + 1)
                           / (class_tok[lab] + v))
                if best is None or s > best[1]:
                    best = (lab, s, nv)
            out[d] = best
        return out

    @given(
        train=st.lists(
            st.tuples(documents, st.sampled_from(["a", "b", "c"])),
            min_size=1, max_size=8,
        ),
        tests=st.lists(documents, min_size=1, max_size=4),
    )
    @settings(**SETTINGS)
    def test_matches_python_replica(self, spark, train, tests):
        from ssis_to_dbt_spark.text.retrieval import nb_fit, nb_predict

        # the model needs a non-empty vocabulary: guarantee one token
        train = train + [("anchor token", "a")]
        tr = spark.createDataFrame(
            [(i, t, lab) for i, (t, lab) in enumerate(train)],
            "doc_id int, text string, lang string",
        )
        te = spark.createDataFrame(
            [(i, t) for i, t in enumerate(tests)],
            "doc_id int, text string",
        )
        got = {
            r["doc_id"]: (r["pred_label"], r["best_units"],
                          r["n_vocab_toks"])
            for r in nb_predict(nb_fit(tr), te).collect()
        }
        exp = self._py_nb(train, dict(enumerate(tests)))
        assert got == exp


class TestPhashProperties:
    """r13: perceptual-hash invariants (pure Python over the BMP codec —
    cheap, many examples)."""

    @given(
        w=st.integers(min_value=2, max_value=12),
        h=st.integers(min_value=2, max_value=10),
        seed=st.integers(min_value=0, max_value=10**6),
        factor=st.integers(min_value=2, max_value=3),
    )
    @settings(max_examples=60, deadline=None)
    def test_pixel_replication_never_changes_the_hash(
        self, w, h, seed, factor
    ):
        """NN downsampling with the floor mapping recovers the source
        grid from any integer pixel replication — so the dHash AND the
        aHash of a factor-replicated image equal the original's."""
        from ssis_to_dbt_spark.text.multimodal import (
            ahash_image,
            dhash_image,
            encode_bmp_pixels,
        )

        def g(x, y):
            v = (seed + 37 * x + 101 * y + x * y) % 256
            return (v, v, v)

        rows = [[g(x, y) for x in range(w)] for y in range(h)]
        big = [
            [rows[y // factor][x // factor] for x in range(w * factor)]
            for y in range(h * factor)
        ]
        a, b = encode_bmp_pixels(rows), encode_bmp_pixels(big)
        assert dhash_image(a) == dhash_image(b)
        assert ahash_image(a) == ahash_image(b)

    @given(seed=st.integers(min_value=0, max_value=10**6))
    @settings(max_examples=60, deadline=None)
    def test_dhash_matches_bit_model_on_exact_grids(self, seed):
        """On a 9x6 source (no resize) the operator's dHash equals the
        closed-form bit model — the same invariant the SQL oracle
        relies on, here over arbitrary pixel functions."""
        from ssis_to_dbt_spark.text.multimodal import (
            dhash_image,
            encode_bmp_pixels,
        )

        def g(x, y):
            return (seed * 7 + 53 * x + 29 * y + (x * x) % 13) % 256

        rows = [[(g(x, y),) * 3 for x in range(9)] for y in range(6)]
        want = 0
        for y in range(6):
            for x in range(8):
                if g(x, y) > g(x + 1, y):
                    want |= 1 << (y * 8 + x)
        assert dhash_image(encode_bmp_pixels(rows)) == want

    @given(
        seed=st.integers(min_value=0, max_value=10**6),
        w=st.integers(min_value=8, max_value=16),
        h=st.integers(min_value=6, max_value=12),
    )
    @settings(max_examples=40, deadline=None)
    def test_hash_fits_48_bits_and_is_deterministic(self, seed, w, h):
        from ssis_to_dbt_spark.text.multimodal import (
            ahash_image,
            dhash_image,
            encode_bmp_pixels,
        )

        rows = [
            [((seed + 3 * x + 11 * y) % 256,) * 3 for x in range(w)]
            for y in range(h)
        ]
        data = encode_bmp_pixels(rows)
        d1, d2 = dhash_image(data), dhash_image(data)
        a1 = ahash_image(data)
        assert d1 == d2
        assert 0 <= d1 < (1 << 48) and 0 <= a1 < (1 << 48)
