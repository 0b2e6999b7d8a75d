"""Corpus retrieval / supervised-scoring operators: BM25 top-k search and
a multinomial Naive Bayes classifier (fit + apply).

Both are classic public-domain algorithms (Robertson & Zaragoza 2009,
"The Probabilistic Relevance Framework: BM25 and Beyond"; McCallum &
Nigam 1998 for multinomial NB) expressed as pure DataFrame plans — no
UDFs, no driver-side loops over data.  They extend the engine's
training-data-curation surface: BM25 is the standard lexical retriever
for "find documents like this query" corpus probes, and NB is the
cheapest useful document-quality / domain classifier (the fastText-style
linear baseline) that can be trained inside the same Spark job that
scores the corpus.

Reference analog: the reference's validation layer computes corpus-level
scalar checks (``src/validation/validator.py``); these operators are the
retrieval/classification extension of the same "derive a corpus
statistic, score every row against it" shape, per the engine-extension
charter (SURVEY.md §2.16+).

Determinism discipline (the :func:`~ssis_to_dbt_spark.text.analysis
.bigram_surprisal` pattern): every ``ln()`` result is round(x, 6)
quantized and converted to exact integer micro-units (BIGINT) BEFORE any
summation, so scores are exact integers — order-independent under
Spark's parallel partial aggregation and bit-equal across engines whose
``ln`` differs in the last ulp (JVM vs libm, observed ~8% of inputs).

100 TB shape:
- BM25: the query-term table is a literal (broadcast, a few rows), so
  the corpus explode filters to query terms MAP-SIDE before the
  (doc, term) count agg — the only wide relation is |hits|, not |tokens|.
  Doc lengths are one map-side projection + per-doc agg; corpus scalars
  (N, avgdl) reach the score via a broadcast 1-row crossJoin.  Final
  top-k is a per-query WindowGroupLimit (k rows per query cross the
  exchange, not the corpus).
- BM25 index probe: ONE scan of the query terms' postings buckets.
  Postings carry the document length, so no doc-length table is read
  (at 100 TB that join would read the whole doclen table per probe);
  df_t is a window over the term-bucketed scan (no exchange); corpus
  scalars are literals held on the index handle.  The only exchanges
  are the (query, doc) aggregate's and the top-k window's.
- NB fit: one (label, term) hash agg with map-side combine; the model
  grid is |vocab| x |labels| rows — bounded model state, not data.
- NB apply: one (doc, term) count agg, one join against the model grid
  (broadcast when the measured vocab is small; token-keyed shuffle
  otherwise), one per-(doc, label) sum, one per-doc argmax window.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..local_rel import _sql_str, local_rows_df
from ..sources.writers import (
    _next_compact_version,
    _swap_in,
    _table_location,
    bucket_count,
    insert_into,
    write_bucketed,
)
from .dedup import _tokens
from .similarity import _sql_dlit, _sql_ident

_UNIT = 1_000_000


def _ln_units(x: Column) -> Column:
    """round(ln(x), 6) as exact integer micro-units (BIGINT)."""
    return (
        F.round(F.log(x), 6).cast(T.DecimalType(18, 6)) * _UNIT
    ).cast("long")


def _doc_len(text: Column) -> Column:
    """Whitespace token count of lowercased text; blank text counts 0
    (the corpus-wide ``n_tokens`` convention)."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(_tokens(text))
    )


def _query_terms_df(spark, queries: dict[str, list[str]]) -> DataFrame:
    # JVM LocalRelation (r14 perf): the query-term table is request-
    # sized and sits in every probe plan; the Python-slice spread of
    # createDataFrame paid ~one worker round-trip per slice per probe
    return local_rows_df(
        spark,
        sorted({(q, t) for q, terms in queries.items() for t in terms}),
        "query_id string, term string",
    )


def _bm25_units(k1: float, b: float) -> str:
    """The per-(doc, term) BM25 contribution as exact micro-units, over
    columns ``tf, df_t, dl, n_docs, total_dl``:

        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with the Lucene-style non-negative idf
        idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5)).

    ONE expression shared by :func:`bm25_topk` and the persisted index
    probe — the equality of the two paths is structural, not
    re-derived.  SQL text (one ``selectExpr`` argument) rather than a
    Column chain, which would cost one py4j round trip per operator on
    every probe; literal doubles render via repr() (shortest round-trip,
    same bits)."""
    n = "CAST(n_docs AS DOUBLE)"
    df_t = "CAST(df_t AS DOUBLE)"
    idf = f"ln((1.0D + ((({n} - {df_t}) + 0.5D) / ({df_t} + 0.5D))))"
    avgdl = f"(CAST(total_dl AS DOUBLE) / {n})"
    tfd = "CAST(tf AS DOUBLE)"
    k1s = _sql_dlit(k1)
    tfp = (
        f"(({tfd} * ({k1s} + 1.0D)) / ({tfd} + ({k1s} * "
        f"({_sql_dlit(1.0 - b)} + (({_sql_dlit(b)} * dl) / {avgdl})))))"
    )
    return (
        f"CAST((CAST(round(({idf} * {tfp}), 6) AS DECIMAL(18,6)) "
        f"* {_UNIT}) AS BIGINT)"
    )


def _bm25_top(
    per_term: DataFrame, top_k: int, id_col: str
) -> DataFrame:
    """Shared BM25 ranking tail: one ``(query_id, doc, u)`` row per
    matched (query, doc, term) -> per-query top-k ``(query_id, doc,
    n_terms, score_units, rn)``, ties on ascending doc."""
    idq = _sql_ident(id_col)
    per_q = per_term.groupBy("query_id", id_col).agg(
        F.expr("count(1) AS n_terms"), F.expr("sum(u) AS score_units")
    )
    return (
        per_q.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id "
            f"ORDER BY score_units DESC, {idq}) AS rn",
        )
        .filter(f"rn <= {int(top_k)}")
        .selectExpr(
            "query_id", idq, "CAST(n_terms AS BIGINT) AS n_terms",
            "score_units", "CAST(rn AS INT) AS rn",
        )
    )


def bm25_topk(
    df: DataFrame,
    queries: dict[str, list[str]],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 lexical top-k search: for each named query (a bag of
    lowercase terms), the ``top_k`` highest-scoring documents.

    Each per-term contribution is round(x, 6)-quantized to integer
    micro-units before the per-(query, doc) sum (module determinism
    discipline), so ``score_units`` is an exact BIGINT.  Ranking ties
    break on ascending ``doc_id``.

    Returns ``(query_id, doc_id, n_terms, score_units, rn)`` — ``n_terms``
    is how many of the query's terms the document contains.

    100 TB shape (module doc): the literal query-term table broadcasts,
    the corpus token explode filters to query terms map-side, and only
    per-query top-k rows cross the final exchange (WindowGroupLimit).
    For repeated probing without re-tokenizing the corpus, persist the
    postings with :func:`write_bm25_index` and probe via
    :func:`bm25_index_probe` — same scores by construction (shared
    :func:`_bm25_units` / :func:`_bm25_top` tail, pytest-pinned).
    """
    spark = df.sparkSession
    qterms = _query_terms_df(spark, queries)
    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    # map-side prune to the query vocabulary BEFORE the (doc, term) agg
    hits = toks.join(F.broadcast(qterms.select("term").distinct()), "term")
    tf = hits.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = df.select(
        F.col(id_col), _doc_len(F.col(text_col)).alias("dl")
    )
    scalars = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_doc_len(F.col(text_col))).alias("total_dl"),
    )
    # df_t from the hits themselves (identical to the corpus-wide value
    # for those terms: the hits carry every doc containing them)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(scalars))
        .selectExpr(_sql_ident(id_col), "term", f"{_bm25_units(k1, b)} AS u")
        .join(F.broadcast(qterms), "term")
    )
    return _bm25_top(per_term, top_k, id_col)


@dataclass
class NBModel:
    """Multinomial NB model state: the (label, term) log-likelihood grid
    (Laplace-smoothed over the GLOBAL training vocabulary, so every
    vocab term has a defined log-likelihood under every label) and the
    per-label log-priors.  Both are bounded model relations
    (|vocab| x |labels| and |labels| rows), not data."""

    grid: DataFrame     # (label, term, ll_units)
    priors: DataFrame   # (label, prior_units)


def nb_fit(
    train_df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    alpha: int = 1,
) -> NBModel:
    """Fit a multinomial Naive Bayes text classifier on whitespace tokens
    of lowercased ``text_col`` with add-``alpha`` (Laplace) smoothing:

        ll(t | c)  = ln((count(t, c) + alpha) / (tokens_c + alpha * V))
        prior(c)   = ln(n_docs_c / n_docs)

    quantized to integer micro-units (module discipline).  The grid is
    the full labels x vocabulary cross (unseen (t, c) pairs get the
    smoothed floor), so scoring needs no per-row fallback logic.

    100 TB shape: one (label, term) hash agg with map-side combine over
    the exploded tokens; the vocabulary scalar reaches the grid via a
    broadcast 1-row crossJoin; grid size is model-bounded.

    NULL training labels are FILTERED before fitting: a NULL carries no
    class identity, and letting it through would make the predict-time
    argmax tie-break engine-dependent (Spark windows sort NULLS FIRST,
    ANSI ORDER BY defaults NULLS LAST).
    """
    train_df = train_df.filter(F.col(label_col).isNotNull())
    toks = train_df.select(
        F.col(label_col).alias("label"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    )
    counts = toks.groupBy("label", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    class_tok = counts.groupBy("label").agg(F.sum("cnt").alias("tok_c"))
    vocab = counts.select("term").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("v_size"))
    grid = (
        class_tok.crossJoin(vocab)
        .join(counts, ["label", "term"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "label",
            "term",
            _ln_units(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha)).cast(
                    "double"
                )
                / (
                    F.col("tok_c") + F.lit(alpha) * F.col("v_size")
                ).cast("double")
            ).alias("ll_units"),
        )
    )
    n = train_df.agg(F.count(F.lit(1)).alias("n_all"))
    priors = (
        train_df.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("n_c"))
        .crossJoin(F.broadcast(n))
        .select(
            "label",
            _ln_units(
                F.col("n_c").cast("double") / F.col("n_all").cast("double")
            ).alias("prior_units"),
        )
    )
    return NBModel(grid=grid, priors=priors)


def nb_predict(
    model: NBModel,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Score documents under a fitted :class:`NBModel` and return the
    argmax label per document:

        score(d, c) = prior_units(c)
                      + sum over vocab terms t of m(d, t) * ll_units(t, c)

    where m(d, t) is the document's term count; out-of-vocabulary tokens
    are dropped (they carry no class signal under the model).  Documents
    with NO in-vocabulary tokens still get a row — their score is the
    prior alone, via the (doc x label) left join.  Ties break on
    ascending label.  Exact integer arithmetic throughout.

    Returns ``(doc_id, pred_label, best_units, n_vocab_toks)``.

    ``broadcast_model=True`` hints the model grid broadcast (the model is
    bounded |vocab| x |labels|); pass False when a measured vocabulary is
    too large for the broadcast cap — the join then shuffles on the term
    key, and the per-(doc, label) agg is unchanged.
    """
    m = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term")
    ).groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("m"))
    grid = F.broadcast(model.grid) if broadcast_model else model.grid
    contrib = m.join(grid, "term").groupBy(id_col, "label").agg(
        F.sum(F.col("m") * F.col("ll_units")).alias("tok_units"),
        F.sum("m").alias("n_vocab_toks"),
    )
    base = df.select(F.col(id_col)).crossJoin(F.broadcast(model.priors))
    scores = base.join(contrib, [id_col, "label"], "left").select(
        id_col,
        "label",
        (
            F.col("prior_units")
            + F.coalesce(F.col("tok_units"), F.lit(0))
        ).alias("score_units"),
        F.coalesce(F.col("n_vocab_toks"), F.lit(0)).alias("n_vocab_toks"),
    )
    # asc_nulls_last: belt-and-braces with nb_fit's NULL-label filter —
    # if a hand-built model grid carries a NULL label anyway, the
    # tie-break still matches ANSI ORDER BY (NULLS LAST), not Spark's
    # window default (NULLS FIRST)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_units").desc(), F.col("label").asc_nulls_last()
    )
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("label").alias("pred_label"),
            F.col("score_units").alias("best_units"),
            F.col("n_vocab_toks").cast("long").alias("n_vocab_toks"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted BM25 postings index (r11): the lexical member of the persisted
# index family — dedup (bucketed minhash bands), vectors (cell-partitioned
# IVF), and now text (term-bucketed postings).  The corpus is tokenized
# ONCE; every later query batch reads only the buckets its terms hash to.
# ---------------------------------------------------------------------------


@dataclass
class Bm25Index:
    """Persisted BM25 index handle: term-bucketed postings (each row
    carries its document's length ``dl``), the doc-length table, the
    1-row (n_docs, total_dl) stats table and the stopterm table, plus
    the model-sized state a probe needs as plain values: ``n_docs``,
    ``total_dl`` and the ``stopped`` term set.  A probe's
    ``term IN (...)`` literal filter becomes BUCKET PRUNING on the
    postings (SelectedBucketsCount in the plan), so query cost scales
    with the query's terms, not the corpus, and building a probe starts
    no Spark job.  The bucket count is sized by the corpus's token count
    (:func:`~ssis_to_dbt_spark.sources.writers.bucket_count`, ~128 MB of
    postings per bucket): an index under ~96M tokens has 1 bucket, so
    its probe scans in 1 task.

    The values are read ONCE, when the handle is opened
    (:func:`read_bm25_index`; :func:`write_bm25_index`,
    :func:`append_bm25_index` and :func:`compact_bm25_index` return a
    fresh handle), so a handle reflects the index as of its opening:
    after :func:`stop_bm25_terms`, re-open it to probe without the new
    stopterms.

    ``stopterms`` (r12, r11 VERDICT #6) is the persisted excluded-term
    table (may be ``None`` on legacy indexes written before it existed):
    stop-frequency terms whose posting lists would otherwise grow
    unboundedly under appends.  A stopped term writes NO further
    postings and is dropped from probe queries — it carries almost no
    BM25 signal anyway (df near N drives idf toward ln(1 + ~0))."""

    postings: DataFrame  # (term, doc_id, tf, dl)
    doclen: DataFrame    # (doc_id, dl)
    stats: DataFrame     # (n_docs long, total_dl long) — one row
    stopterms: DataFrame | None  # (term) — excluded terms
    n_docs: int
    total_dl: int
    stopped: frozenset[str]


def _open_bm25(
    spark, table_prefix: str, n_docs: int, total_dl: int, stopped
) -> Bm25Index:
    """A handle over the index tables holding the given state."""
    stop = None
    if spark.catalog.tableExists(f"{table_prefix}_stopterms"):
        stop = spark.table(f"{table_prefix}_stopterms")
    return Bm25Index(
        postings=spark.table(f"{table_prefix}_postings"),
        doclen=spark.table(f"{table_prefix}_doclen"),
        stats=spark.table(f"{table_prefix}_stats"),
        stopterms=stop,
        n_docs=n_docs,
        total_dl=total_dl,
        stopped=frozenset(stopped),
    )


def _read_bm25_state(spark, table_prefix: str) -> tuple[int, int, set]:
    """``(n_docs, total_dl, stopterm set)`` in ONE collect (the stats
    row and the stopterm rows as one union).  ``or 0`` on both stats:
    a legacy index written before write_bm25_index learned to COALESCE
    may store a NULL total_dl over an empty corpus."""
    sql = (
        "SELECT true AS s, n_docs, total_dl, CAST(NULL AS STRING) AS term "
        f"FROM {table_prefix}_stats"
    )
    if spark.catalog.tableExists(f"{table_prefix}_stopterms"):
        sql += (
            " UNION ALL SELECT false, NULL, NULL, term "
            f"FROM {table_prefix}_stopterms"
        )
    rows = spark.sql(sql).collect()
    stats = next((r for r in rows if r["s"]), None)
    return (
        int((stats and stats["n_docs"]) or 0),
        int((stats and stats["total_dl"]) or 0),
        {r["term"] for r in rows if not r["s"]},
    )


def _require_dl(postings: DataFrame, caller: str) -> None:
    """Postings written before they carried ``dl`` have one remedy."""
    if "dl" not in postings.columns:
        raise ValueError(
            f"{caller}: the postings have no dl column (written before "
            "postings carried document lengths); run compact_bm25_index "
            "once to add it"
        )


def _postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(term, doc, tf, dl)`` from ONE tokenizing pass: ``dl`` is a
    function of the doc, so grouping on it adds no job and no row.  It
    is projected BEFORE the explode: beside a generator it would be
    evaluated once per token instead of once per doc."""
    text = F.col(text_col)
    return (
        df.select(F.col(id_col), text, _doc_len(text).alias("dl"))
        .select(id_col, "dl", F.explode(_tokens(text)).alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", id_col, "tf", "dl")
    )


def _not_stopped(postings: DataFrame, stopped) -> DataFrame:
    """Drop stopterm postings with a literal filter (the set is
    model-sized) — no broadcast job."""
    if not stopped:
        return postings
    terms = ", ".join(_sql_str(t) for t in sorted(stopped))
    return postings.filter(f"term NOT IN ({terms})")


def _max_df_threshold(max_df: int | float, n_docs: int) -> int:
    """Resolve a max-df cap: float = fraction of the corpus, int =
    absolute document count."""
    if isinstance(max_df, float):
        return int(max_df * n_docs)
    return int(max_df)


def _over_max_df(postings: DataFrame, thr: int) -> list[str]:
    """The terms of ``postings`` in more than ``thr`` documents (one
    bounded collect: the stopterm set is model-sized, and the handle
    holds it anyway)."""
    return sorted(
        r["term"]
        for r in postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .filter(F.col("df_t") > thr)
        .select("term")
        .collect()
    )


# Stored postings bytes per corpus token (snappy parquet, one bucket),
# measured on written indexes: 1.41 over the serving benchmark's
# 4,285 documents (326,206 bytes, 231,688 tokens) and 1.40 over the
# sf0.1 documents (5,000 docs, 270,704 tokens).
_POSTINGS_BYTES_PER_TOKEN = 1.4


def write_bm25_index(
    df: DataFrame,
    table_prefix: str,
    path_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: list[str] | None = None,
    max_df: int | float | None = None,
) -> Bm25Index:
    """Tokenize the corpus into ``{prefix}_postings`` (bucketed + sorted
    on ``term``; each row carries its document's length ``dl``, from the
    same tokenizing pass), ``{prefix}_doclen`` (bucketed on ``id_col``),
    the 1-row additive ``{prefix}_stats`` table, and the
    ``{prefix}_stopterms`` exclusion table.  The corpus scalars
    ``(n_docs, total_dl)`` come first, from one aggregate: they are the
    stats row, resolve ``max_df`` and size the buckets
    (:func:`~ssis_to_dbt_spark.sources.writers.bucket_count`; 1 bucket
    up to ~96M tokens).

    ``stopwords`` / ``max_df`` (r12, r11 VERDICT #6) bound posting-list
    growth: explicit stopwords plus any term whose document frequency
    exceeds ``max_df`` (float = fraction of n_docs, int = absolute) are
    recorded in ``{prefix}_stopterms`` and write NO postings — stopped
    terms are unsearchable by contract (their idf is ~0 anyway).
    Appends honor the stored stopterm set and extend it (batch-level
    detection); :func:`bm25_index_term_audit` is the periodic lifetime
    check for slow creepers, remediated by :func:`stop_bm25_terms` —
    the same cheap-incremental-cap + periodic-audit split as the dedup
    index's band cap/audit/compact family.

    100 TB shape: one explode + (doc, term) hash agg with map-side
    combine (the only wide pass), one per-doc length projection, one
    scalar agg.  Probes then bucket-prune the postings to the query
    terms; stats are additive on append, so the index never re-reads
    corpus text."""
    spark = df.sparkSession
    dl = df.select(F.col(id_col), _doc_len(F.col(text_col)).alias("dl"))
    # COALESCE the length sum: over an EMPTY corpus SUM() is NULL, and a
    # NULL stored total_dl would poison the first append's additive
    # advance (int(None) TypeError) — an empty index must store (0, 0)
    s = dl.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0))
    ).first()
    n_docs, total_dl = int(s[0]), int(s[1])
    n_buckets = bucket_count(spark, total_dl * _POSTINGS_BYTES_PER_TOKEN)
    postings = _postings(df, id_col, text_col)
    stopped = set(stopwords or [])
    if max_df is not None:
        stopped.update(
            _over_max_df(postings, _max_df_threshold(max_df, n_docs))
        )
    # the stopterms as a JVM LocalRelation (r14 perf): a createDataFrame
    # of a local list spreads over default-parallelism Python slices and
    # its write pays a repartition shuffle; the literal relation is one
    # single-task write with no Python workers
    stop = local_rows_df(
        spark, [(w,) for w in sorted(stopped)], "term string"
    )
    postings = postings.join(F.broadcast(stop), "term", "anti")
    (
        stop.write.mode("overwrite").format("parquet")
        .option("path", f"{path_prefix}_stopterms")
        .saveAsTable(f"{table_prefix}_stopterms")
    )
    write_bucketed(
        postings, f"{table_prefix}_postings", f"{path_prefix}_postings",
        ["term"], num_buckets=n_buckets, sort_cols=["term"],
    )
    write_bucketed(
        dl, f"{table_prefix}_doclen", f"{path_prefix}_doclen",
        [id_col], num_buckets=n_buckets, sort_cols=[id_col],
    )
    local_rows_df(
        spark, [(n_docs, total_dl)], "n_docs long, total_dl long"
    ).write.mode("overwrite").format("parquet").option(
        "path", f"{path_prefix}_stats"
    ).saveAsTable(f"{table_prefix}_stats")
    return _open_bm25(spark, table_prefix, n_docs, total_dl, stopped)


def _heal_bm25_compaction(spark, table_prefix: str) -> None:
    """Finish a :func:`compact_bm25_index` swap a crash left half-done.
    The compaction stages ONE table (postings; doclen/stats/stopterms
    are never rewritten).  The session catalog registers a bucketed
    ``saveAsTable``'s name only after its data write returns (pinned by
    ``TestWriteBucketedRegistersLast``; the dedup and phash heals rely on
    that alone).  This heal still keys commitment on the ``_COMMIT``
    marker :func:`compact_bm25_index` touches AFTER the bucketed write
    returns, so it stays safe under a catalog that registers earlier:
    marker present -> roll forward (drop the live name if present,
    rename the stage in); marker absent -> roll BACK (drop the stage and
    delete its directory; the live table was never touched).  A crash
    before the stage registered leaves only the live table: nothing to
    do."""
    from .. import fs as _fs

    stage = f"{table_prefix}_compact_stage_postings"
    if not spark.catalog.tableExists(stage):
        return
    loc = _table_location(spark, stage)
    if loc and _fs.exists(spark, f"{loc}/_COMMIT"):
        spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_postings")
        spark.sql(f"ALTER TABLE {stage} RENAME TO {table_prefix}_postings")
        return
    spark.sql(f"DROP TABLE IF EXISTS {stage}")
    if loc:
        _fs.delete(spark, loc)


def read_bm25_index(spark, table_prefix: str) -> Bm25Index:
    """Open the index: one bounded collect of the stats row and the
    stopterm set (stopterms is optional for legacy-index compat: indexes
    written before r12 carry no exclusion table and behave as
    uncapped)."""
    # self-heal a crashed compaction swap (same contract as the dedup
    # index: the rename completes on read, no operator action)
    _heal_bm25_compaction(spark, table_prefix)
    return _open_bm25(
        spark, table_prefix, *_read_bm25_state(spark, table_prefix)
    )


def compact_bm25_index(
    spark,
    table_prefix: str,
    path_prefix: str,
    cleanup: bool = True,
) -> Bm25Index:
    """Postings COMPACTION — physically reclaim what
    :func:`stop_bm25_terms` only made unreachable, and fold the small
    per-append files into one bucketed generation.  Rebuilds the
    postings table FROM THE STORED POSTINGS (anti-joined against the
    stopterm set) — the corpus text is never re-read; doclen, stats,
    and stopterms are untouched.  Postings written before they carried
    ``dl`` get it here, from ONE join against the doclen table; this is
    the only upgrade path (probe and append reject such postings).
    The new generation's bucket count is sized from the stats row
    (:func:`~ssis_to_dbt_spark.sources.writers.bucket_count`): appends
    keep the count the index was written with, so compaction is where a
    grown index gets more.

    Crash-safe by the dedup index's recipe: the new generation writes
    to a FRESH versioned path ``{path_prefix}_postings_compact_v{k}``
    (a failed run leaves the live table untouched), then swaps via
    drop + rename; :func:`read_bm25_index` heals a crash between those
    two statements.  ``cleanup=True`` deletes the superseded postings
    directory after the swap."""
    from .. import fs as _fs

    _heal_bm25_compaction(spark, table_prefix)
    n_docs, total_dl, stopped = _read_bm25_state(spark, table_prefix)
    postings = spark.table(f"{table_prefix}_postings")
    if "dl" not in postings.columns:
        doclen = spark.table(f"{table_prefix}_doclen")
        (id_col,) = [c for c in doclen.columns if c != "dl"]
        postings = postings.join(doclen, id_col).select(
            "term", id_col, "tf", "dl"
        )
    postings = _not_stopped(postings, stopped)
    k = _next_compact_version(spark, path_prefix, ("postings",))
    stage = f"{table_prefix}_compact_stage_postings"
    write_bucketed(
        postings,
        stage,
        f"{path_prefix}_postings_compact_v{k}",
        ["term"],
        bucket_count(spark, total_dl * _POSTINGS_BYTES_PER_TOKEN),
        sort_cols=["term"],
    )
    # commit marker AFTER the bucketed write fully returns (r12 ADVICE):
    # the heal rolls the stage forward only when this file exists, so
    # a stage without it rolls BACK even under a catalog that registers
    # the name before the data is written (this one registers it last)
    _fs.touch(spark, f"{path_prefix}_postings_compact_v{k}/_COMMIT")
    _swap_in(spark, stage, f"{table_prefix}_postings", cleanup)
    return _open_bm25(spark, table_prefix, n_docs, total_dl, stopped)


def append_bm25_index(
    spark,
    table_prefix: str,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    on_overlap: str = "allow",
    max_df: int | float | None = None,
) -> Bm25Index:
    """Append NEW documents: their postings/lengths extend the bucketed
    tables (``writers.insert_into``: the tables' own bucket spec), and
    the stats row advances ADDITIVELY (the old row plus the batch's
    count and length sum, observed on the doclen write itself, so the
    batch is evaluated by the two writes only).  The existing postings are
    untouched: term frequencies are per-doc, and df_t is derived at
    probe time from the postings themselves, so append needs no global
    recount.  The returned handle is built from the stats and stopterm
    set the append just wrote — nothing is re-read.  Postings without
    ``dl`` (written before postings carried it) raise ``ValueError``:
    run :func:`compact_bm25_index` once.

    Stopterm cap (r12): the batch's postings exclude the STORED
    stopterm set (a literal filter — the set is model-sized), and
    with ``max_df`` set, any term whose BATCH df alone exceeds the cap
    (measured against the post-append n_docs) is newly stopped: added
    to ``{prefix}_stopterms`` and written no postings.  This bounds
    per-append growth; a term that creeps over the cap across many
    individually-quiet batches is the periodic
    :func:`bm25_index_term_audit`'s job (remediate with
    :func:`stop_bm25_terms`) — the cheap-per-append + lifetime-audit
    split the dedup index uses for its band buckets.

    PRECONDITION — disjoint doc_ids: the batch's ``id_col`` values must
    not already exist in the index.  An overlapping append does NOT just
    duplicate rows — it corrupts scores corpus-wide: the doc's postings
    rows land twice, which doubles its hits and inflates the derived
    df_t of every term it contains.  ``on_overlap`` picks the
    enforcement:

    - ``"allow"`` (default): trust the caller — zero extra reads.
    - ``"skip"``: anti-join the batch against the existing doclen ids
      first; already-indexed docs are silently dropped.  This makes the
      append IDEMPOTENT under at-least-once replay (the ``_ib``-tag
      analog for this layout, paid as one id-bucketed semi-scan).
    - ``"error"``: count the overlap (bucket-pruned id join) and raise
      ``ValueError`` naming the count, appending nothing.

    Idempotency contract: plain at-least-once under ``"allow"`` (a
    replayed batch appends twice — and per the precondition above,
    corrupts scores); use ``"skip"`` for replay-safe appends."""
    if on_overlap not in ("allow", "skip", "error"):
        raise ValueError(f"on_overlap: unknown mode {on_overlap!r}")
    _heal_bm25_compaction(spark, table_prefix)
    _require_dl(
        spark.table(f"{table_prefix}_postings"), "append_bm25_index"
    )
    n_old, dl_old, stopped = _read_bm25_state(spark, table_prefix)
    if on_overlap != "allow":
        existing = spark.table(f"{table_prefix}_doclen").select(id_col)
        if on_overlap == "error":
            n_dup = new_df.join(existing, id_col, "semi").count()
            if n_dup:
                raise ValueError(
                    f"append_bm25_index: {n_dup} doc_id(s) already "
                    f"indexed in {table_prefix}_doclen — overlapping "
                    "appends corrupt scores (duplicate postings double "
                    "hits and inflate df_t)"
                )
        else:
            # no pin needed: the filtered batch reads the doclen table
            # this append extends, but nothing evaluates it after the
            # doclen write (the stats delta is observed ON that write)
            new_df = new_df.join(existing, id_col, "anti")
    postings = _not_stopped(_postings(new_df, id_col, text_col), stopped)
    if max_df is not None:
        # batch-level detection against the POST-append corpus size
        thr = _max_df_threshold(max_df, n_old + new_df.count())
        newly = _over_max_df(postings, thr)
        postings = _not_stopped(postings, newly)
        stopped |= set(newly)
        # append creates the table when a legacy index lacks it
        # (managed location — functional, though outside the original
        # path_prefix layout)
        local_rows_df(
            spark, [(t,) for t in newly], "term string"
        ).write.mode("append").format("parquet").saveAsTable(
            f"{table_prefix}_stopterms"
        )
    insert_into(postings, f"{table_prefix}_postings")
    delta = Observation()
    insert_into(
        new_df.select(
            F.col(id_col), _doc_len(F.col(text_col)).alias("dl")
        ).observe(
            delta, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
        ),
        f"{table_prefix}_doclen",
    )
    n_docs = n_old + int(delta.get["n"])
    # the delta's SUM is NULL for a 0-row batch
    total_dl = dl_old + int(delta.get["s"] or 0)
    # overwrite the FILES at the stats table's existing external location
    # (then refresh) rather than drop/recreate the table: saveAsTable
    # would re-register it as MANAGED at the warehouse path — colliding
    # with any leftover directory from a prior generation — and would
    # silently detach it from the caller's path_prefix layout
    local_rows_df(
        spark, [(n_docs, total_dl)], "n_docs long, total_dl long"
    ).write.mode("overwrite").parquet(
        _table_location(spark, f"{table_prefix}_stats")
    )
    spark.catalog.refreshTable(f"{table_prefix}_stats")
    # the handle is built from the state just written: nothing re-read
    return _open_bm25(spark, table_prefix, n_docs, total_dl, stopped)


def bm25_index_probe(
    index: Bm25Index,
    queries: dict[str, list[str]],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe the persisted postings in ONE scan: filter the postings to
    the query terms (a literal ``IN`` over the term-bucketed table ->
    BUCKET PRUNING; the corpus is never re-tokenized), take ``df_t`` as
    a per-term count window over that scan, and score with the SAME
    expression and ranking tail as :func:`bm25_topk`
    (:func:`_bm25_units`, :func:`_bm25_top`) — scores are identical to
    the in-memory operator over the same corpus by construction.

    Stopped terms (``index.stopped``) are dropped from the query term
    set before the scan — the fetch is bounded by the QUERY's term
    count, not the stopterm table — so a term stopped AFTER some of its
    postings were written scores nothing, consistently with a term
    stopped at write time.  Building the probe starts no Spark job: the
    stopterm set and the corpus scalars are values on the handle, and
    the query terms are a one-partition LocalRelation.  Postings without
    ``dl`` (written before postings carried it) raise ``ValueError``:
    run :func:`compact_bm25_index` once.

    100 TB shape: corpus-side read = the query terms' buckets only, and
    nothing else — no doc-length join; df_t is exact (the pruned scan
    carries every doc containing those terms) and needs no exchange,
    since the scan is bucketed on ``term``; the stats are literals."""
    _require_dl(index.postings, "bm25_index_probe")
    spark = index.postings.sparkSession
    queries = {
        q: [t for t in ts if t not in index.stopped]
        for q, ts in queries.items()
    }
    queries = {q: ts for q, ts in queries.items() if ts}
    terms = sorted({t for ts in queries.values() for t in ts})
    if not terms:
        return local_rows_df(
            spark, [],
            f"query_id string, {id_col} long, n_terms long, "
            "score_units long, rn int",
        )
    idq = _sql_ident(id_col)
    hits = index.postings.filter(
        f"term IN ({', '.join(_sql_str(t) for t in terms)})"
    ).selectExpr(
        "term", idq, "tf", "dl",
        "count(1) OVER (PARTITION BY term) AS df_t",
        f"CAST({index.n_docs} AS BIGINT) AS n_docs",
        f"CAST({index.total_dl} AS BIGINT) AS total_dl",
    )
    per_term = hits.join(
        F.broadcast(_query_terms_df(spark, queries)), "term"
    ).selectExpr("query_id", idq, f"{_bm25_units(k1, b)} AS u")
    return _bm25_top(per_term, top_k, id_col)


def bm25_index_term_audit(
    spark,
    table_prefix: str,
    max_df: int | float = 0.5,
) -> DataFrame:
    """Index-health audit (r12, r11 VERDICT #6): terms whose LIFETIME
    posting-list size (across all appends) exceeds ``max_df`` (float =
    fraction of the stats row's n_docs, int = absolute) — the per-append
    batch-level cap in :func:`append_bm25_index` bounds each batch's
    contribution but not a slow creeper that stays under the cap in
    every individual batch.  Returns ``(term, df_t)`` over-cap terms,
    largest first; a non-empty result is the signal to
    :func:`stop_bm25_terms` them.  Cost: one aggregation over the
    term-bucketed postings table — bucketed on exactly this grouping
    key, so the groupBy is exchange-free.  The dedup index's
    band-audit analog (`corpus_dedup_index_band_audit`)."""
    n_docs = int(
        spark.table(f"{table_prefix}_stats").first()["n_docs"] or 0
    )
    thr = _max_df_threshold(max_df, n_docs)
    return (
        spark.table(f"{table_prefix}_postings")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .filter(F.col("df_t") > thr)
        .orderBy(F.col("df_t").desc(), "term")
    )


def stop_bm25_terms(
    spark, table_prefix: str, terms: list[str]
) -> None:
    """Remediate an audit hit: add ``terms`` to the index's stopterm
    table.  Existing postings rows for them stay on disk (no parquet
    rewrite) but become unreachable — probes drop stopped terms before
    the scan and appends write no further postings for them; a later
    full rebuild (write_bm25_index) physically reclaims the space.  The
    terms are one literal relation, so each call appends one file."""
    if not terms:
        return
    local_rows_df(
        spark, [(t,) for t in sorted(set(terms))], "term string"
    ).write.mode("append").format("parquet").saveAsTable(
        f"{table_prefix}_stopterms"
    )


def rrf_fuse(
    results: list[DataFrame],
    k: int = 60,
    top_k: int | None = None,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rn",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse N
    per-query rankings — e.g. the persisted BM25 probe and the persisted
    IVF-ANN probe — into one hybrid ranking:

        rrf(q, d) = sum over lists L of 1 / (k + rank_L(q, d))

    The standard zero-training hybrid-retrieval combiner: rank-based, so
    BM25 score units and cosine similarities need no calibration against
    each other.  Each contribution is round(1/(k+rank), 6) quantized to
    integer micro-units BEFORE the sum (module determinism discipline) —
    ``rrf_units`` is an exact BIGINT, order-independent under partial
    aggregation and bit-equal across engines.

    Inputs carry ``(query_col, id_col, rank_col)``; a document absent
    from a list simply contributes nothing (no penalty term — the
    standard formulation).  Returns ``(query_col, id_col, n_lists,
    rrf_units, rn)`` with ties broken on ascending ``id_col``; ``top_k``
    truncates per query.

    100 TB shape: each input is already a per-query top-k (k rows per
    query, model-sized relative to the corpus); the union + (query, doc)
    hash agg with map-side combine and the per-query WindowGroupLimit
    window are all bounded by queries x k x n_lists rows — the corpus is
    never touched here."""
    if not results:
        raise ValueError("rrf_fuse: at least one result list required")
    parts = [
        df.select(
            F.col(query_col),
            F.col(id_col),
            (
                F.round(
                    F.lit(1.0)
                    / (F.lit(int(k)) + F.col(rank_col).cast("double")),
                    6,
                ).cast(T.DecimalType(18, 6))
                * _UNIT
            ).cast("long").alias("_u"),
        )
        for df in results
    ]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = allp.groupBy(query_col, id_col).agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.sum("_u").alias("rrf_units"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_units").desc(), F.col(id_col)
    )
    out = fused.withColumn("rn", F.row_number().over(w))
    if top_k is not None:
        out = out.filter(F.col("rn") <= int(top_k))
    return out.select(
        query_col,
        id_col,
        F.col("n_lists").cast("long").alias("n_lists"),
        "rrf_units",
        F.col("rn").cast("int").alias("rn"),
    )
