"""Property-based tests for round-6 surfaces: the T-SQL rewriter (pure
Python — cheap, many examples) and the LSH band-bucket cap / star
contraction (one Spark job per example, few examples, model oracles)."""

import re

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from ssis_to_dbt_spark.dtsx import rewrite_tsql

SPARK_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ident = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,8}", fullmatch=True)
dotted = st.tuples(ident, ident).map(lambda t: f"{t[0]}.{t[1]}")


class TestRewriteProperties:
    @given(table=dotted, col=ident, val=st.text(max_size=12))
    @settings(max_examples=100, deadline=None)
    def test_string_params_always_quote_safely(self, table, col, val):
        out = rewrite_tsql(
            f"SELECT {col} FROM {table} WHERE {col} = ?",
            {table: "v"},
            params=[val],
        )
        # no placeholder survives OUTSIDE string literals (a '?' inside the
        # injected literal is data, not a placeholder)
        outside = "".join(
            p for i, p in enumerate(re.split(r"('(?:[^']|'')*')", out))
            if i % 2 == 0
        )
        assert "?" not in outside
        # the literal is balanced: stripping doubled quotes leaves exactly
        # the two delimiters
        assert out.count("'") - 2 * val.count("'") == 2

    @given(table=dotted, n=st.integers(min_value=1, max_value=999))
    @settings(max_examples=100, deadline=None)
    def test_top_always_becomes_trailing_limit(self, table, n):
        out = rewrite_tsql(f"SELECT TOP {n} a FROM [{table}]", {table: "v"})
        assert out.endswith(f"LIMIT {n}")
        assert "TOP" not in out.upper()
        assert "[" not in out and "]" not in out

    @given(other=dotted)
    @settings(max_examples=100, deadline=None)
    def test_unbound_tables_pass_through_unchanged(self, other):
        sql = f"SELECT a FROM {other}"
        out = rewrite_tsql(sql, {"known.table": "v"})
        # a table we did not bind is left for Spark to resolve (or fail
        # loudly) — never silently rewritten
        if other.lower() != "known.table":
            assert other in out


class TestBandCapProperties:
    @given(
        texts=st.lists(
            st.sampled_from(
                [
                    "alpha beta gamma delta epsilon zeta",
                    "one two three four five six seven",
                    "red green blue cyan magenta yellow",
                ]
            ),
            min_size=2,
            max_size=24,
        ),
        cap=st.integers(min_value=2, max_value=6),
    )
    @settings(**SPARK_SETTINGS)
    def test_capped_pairs_subset_and_bounded(self, spark, texts, cap):
        import ssis_to_dbt_spark.text as tx

        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id int, text string"
        )
        capped = {
            (r["doc_a"], r["doc_b"])
            for r in tx.minhash_candidates_md5(
                df, max_bucket_size=cap
            ).collect()
        }
        full = {
            (r["doc_a"], r["doc_b"])
            for r in tx.minhash_candidates_md5(
                df, max_bucket_size=None
            ).collect()
        }
        assert capped <= full
        # the kept prefix is by id: every pair within the first `cap` ids
        # of a duplicate family survives capping
        by_text = {}
        for i, t in enumerate(texts):
            by_text.setdefault(t, []).append(i)
        for ids in by_text.values():
            keep = sorted(ids)[:cap]
            for i, a in enumerate(keep):
                for b in keep[i + 1:]:
                    assert (a, b) in capped, (a, b)
        # global bound: pairs never exceed what cap-sized families allow
        n_fams = len(by_text)
        assert len(capped) <= n_fams * cap * (cap - 1) // 2


class TestStarContractionProperty:
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=20),
                st.integers(min_value=0, max_value=20),
            ),
            min_size=1,
            max_size=20,
        )
    )
    @settings(**SPARK_SETTINGS)
    def test_star_labels_match_python_union_find(self, spark, edges):
        from ssis_to_dbt_spark.text.dedup import _cc_star_labels

        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["node"]: r["label"]
            for r in _cc_star_labels(df, "doc_a", "doc_b").collect()
        }
        # model: union-find with min-label canonicalization
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in parent}
        assert got == want


class TestCiFoldProperties:
    """r13: properties of the CI-collation predicate fold (pure Python —
    cheap, many examples)."""

    @given(col=ident, val=st.text(max_size=12))
    @settings(max_examples=150, deadline=None)
    def test_fold_is_idempotent(self, col, val):
        from ssis_to_dbt_spark.dtsx import _fold_ci_sql

        lit = "'" + val.replace("'", "''") + "'"
        once = _fold_ci_sql(f"SELECT * FROM t WHERE {col} = {lit}")
        assert _fold_ci_sql(once) == once

    @given(col=ident, val=st.text(max_size=12))
    @settings(max_examples=150, deadline=None)
    def test_fold_preserves_literal_payload_case_insensitively(
        self, col, val
    ):
        """The folded comparison compares the SAME value: the literal
        lowers, never mangles — un-lowering recovers a string that
        case-folds back to the original."""
        from ssis_to_dbt_spark.dtsx import _fold_ci_sql

        lit = "'" + val.replace("'", "''") + "'"
        out = _fold_ci_sql(f"SELECT * FROM t WHERE {col} = {lit}")
        if any(c.isalpha() for c in val):
            assert f"LOWER({col}) = " in out
            m = re.search(r"= ('(?:[^']|'')*')$", out)
            assert m
            got = m.group(1)[1:-1].replace("''", "'")
            assert got == val.lower()
        else:
            # letterless: CI is a no-op, typed comparisons stay typed
            assert out == f"SELECT * FROM t WHERE {col} = {lit}"

    @given(
        parts=st.lists(
            st.tuples(ident, st.text(max_size=8)), min_size=1, max_size=4
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_fold_never_touches_literal_interiors(self, parts):
        """Whatever appears INSIDE a string literal — including text
        shaped like `x = 'y'` — survives the fold byte-for-byte."""
        from ssis_to_dbt_spark.dtsx import _fold_ci_sql

        lits = [
            "'" + f"{c} = ''{v}''".replace("'", "''")[: 30] + "'"
            for c, v in parts
        ]
        # literals in SELECT position only: no code-side comparison at all
        sql = "SELECT " + ", ".join(
            f"{lit} AS a{i}" for i, lit in enumerate(lits)
        ) + " FROM t"
        assert _fold_ci_sql(sql) == sql

    @given(col=ident, vals=st.lists(st.text(max_size=8), min_size=1,
                                    max_size=4),
           neg=st.sampled_from(["NOT ", "not ", "Not ", ""]))
    @settings(max_examples=100, deadline=None)
    def test_not_in_folds_and_keeps_negation(self, col, vals, neg):
        """r13 ADVICE: `col NOT IN (...)` must fold to
        `LOWER(col) NOT IN (...)` — never `col LOWER(NOT) IN (...)`
        (the identifier group must not swallow the NOT keyword)."""
        from ssis_to_dbt_spark.dtsx import _fold_ci_sql, _CI_IDENT_STOPWORDS

        assume(col.upper() not in _CI_IDENT_STOPWORDS)
        lits = ["'" + v.replace("'", "''") + "'" for v in vals]
        sql = f"SELECT * FROM t WHERE {col} {neg}IN ({', '.join(lits)})"
        out = _fold_ci_sql(sql)
        assert "LOWER(NOT)" not in out.upper().replace(" ", "")
        if any(any(ch.isalpha() for ch in v) for v in vals):
            want_neg = "NOT " if neg else ""
            assert f"LOWER({col}) {want_neg}IN (" in out
            members = re.findall(r"'(?:[^']|'')*'", out)
            assert [m[1:-1].replace("''", "'") for m in members] == [
                v.lower() for v in vals
            ]
        else:
            assert out == sql

    @given(col=ident, vals=st.lists(st.text(max_size=8), min_size=1,
                                    max_size=4))
    @settings(max_examples=100, deadline=None)
    def test_in_list_folds_all_or_nothing(self, col, vals):
        from ssis_to_dbt_spark.dtsx import _fold_ci_sql, _CI_IDENT_STOPWORDS

        assume(col.upper() not in _CI_IDENT_STOPWORDS)
        lits = ["'" + v.replace("'", "''") + "'" for v in vals]
        sql = f"SELECT * FROM t WHERE {col} IN ({', '.join(lits)})"
        out = _fold_ci_sql(sql)
        if any(any(ch.isalpha() for ch in v) for v in vals):
            assert f"LOWER({col}) IN (" in out
            # every member lowered
            members = re.findall(r"'(?:[^']|'')*'", out)
            assert [m[1:-1].replace("''", "'") for m in members] == [
                v.lower() for v in vals
            ]
        else:
            assert out == sql
