"""Text-analysis operators for large-scale training-data pipelines.

Everything here is a pure ``pyspark.sql.Column`` expression (no Python UDFs):
at 100 TB these run entirely inside Tungsten whole-stage codegen as one
narrow projection over the document scan — no shuffle, no Python boundary.

Operators (driver extension surface alongside SURVEY.md §2):
- ``token_count``          whitespace tokenization count
- ``regex_token_count``    BPE-ish word/punctuation token estimate
- ``language_id``          stopword-marker n-gram heuristic (argmax over langs)
- ``quality_score``        length/punctuation/stopword-ratio score in [0, 1]
- ``document_fingerprint`` md5 content fingerprint + 64-bit rolling hash
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# BPE-ish tokenizer: word pieces OR single non-space punctuation marks.
_TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# Tiny per-language stopword marker sets (heuristic language ID — the classic
# n-gram/function-word approach scaled down to expression form).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "los", "las", "es", "una", "y"],
}


def _ws_tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(_ws_tokens(text))
    )


def regex_token_count(text: Column) -> Column:
    """BPE-ish token estimate: word pieces + individual punctuation marks.
    ``regexp_count`` (not ``size(regexp_extract_all(...))``) — same value,
    no throwaway match-array materialization per row."""
    return F.regexp_count(text, F.lit(_TOKEN_PATTERN))


def _marker_hits(text_lower: Column, words: list[str]) -> Column:
    """Count of marker-stopword occurrences (word-bounded) in the text."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(text_lower, F.lit(pattern))


def language_id(text: Column, default: str = "und") -> Column:
    """Heuristic language ID: argmax of per-language stopword-marker hits.

    Deterministic tiebreak: languages are scored in a fixed order and ties
    go to the earliest language.  Documents with zero marker hits map to
    ``default`` ('und' = undetermined).

    Argmax via ``array_max`` of (score, -index) structs, NOT a chained
    ``when`` fold: the fold nests each comparison inside the next, so the
    per-language ``regexp_count`` subtrees get inlined ~2^langs times and
    codegen does not eliminate them (profiled 2.7 s -> 0.7 s at sf0.1 for
    this one column).  The struct array evaluates each score exactly once.
    """
    low = F.lower(text)
    entries = list(_LANG_MARKERS.items())
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    _marker_hits(low, words).alias("s"),
                    F.lit(-i).alias("ni"),
                )
                for i, (_, words) in enumerate(entries)
            ]
        )
    )
    langs = F.array(*[F.lit(lang) for lang, _ in entries])
    return F.when(
        best.getField("s") > 0,
        F.element_at(langs, (-best.getField("ni") + 1).cast("int")),
    ).otherwise(F.lit(default))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0, 1]:

    - length factor: min(n_chars / 1000, 1)               (longer is better)
    - alpha ratio:   letters+digits+spaces / n_chars      (penalize symbol soup)
    - stopword factor: min(stopword_hits / tokens / 0.2, 1)

    All arithmetic is exact-integer counts divided as doubles, so the same
    expression evaluated by another engine (the DuckDB oracle) produces
    bit-identical doubles.
    """
    n_chars = F.length(text)
    n_alpha = F.regexp_count(text, F.lit(r"[A-Za-z0-9 ]"))
    toks = token_count(text)
    stop_hits = _marker_hits(F.lower(text), _LANG_MARKERS["en"])
    length_factor = F.least(n_chars.cast("double") / F.lit(1000.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )
    stop_factor = F.when(
        toks > 0,
        F.least(stop_hits.cast("double") / toks / F.lit(0.2), F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    return (length_factor + alpha_ratio + stop_factor) / F.lit(3.0)


def mean_token_length(text: Column) -> Column:
    """Mean non-whitespace characters per whitespace token (a Gopher-style
    quality signal: machine-generated or OCR-damaged text skews short or
    long).  Pure expression — integer counts divided as doubles, so any
    engine evaluating the same tree produces bit-identical values."""
    n_tok = token_count(text)
    n_chars = F.length(text) - F.regexp_count(text, F.lit(r"\s"))
    return F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(F.lit(0.0))


def dup_token_fraction(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token
    (1 - distinct/total) — the cheapest repetition signal; boilerplate and
    keyword-stuffed documents score high."""
    t = _ws_tokens(text)
    n = token_count(text)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(t))).cast("double") / n
    ).otherwise(F.lit(0.0))


def _max_equal_run(arr: Column) -> Column:
    """Longest run of consecutive equal elements — one linear ``F.aggregate``
    pass with a (prev, run, best) struct accumulator.  HOF lambdas are
    interpreted (not codegen'd), so keeping this to ONE pass of ~3 ops per
    element is what makes the per-document signals affordable at scale; a
    transform-with-nested-filter formulation is O(distinct x n) interpreted
    ops and benched ~4x slower over the whole query."""

    def step(acc, x):
        run = F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    return F.aggregate(arr, zero, step).getField("best")


def top_token_fraction(text: Column) -> Column:
    """Share of the document taken by its single most frequent token — the
    expression-only analog of Gopher's 'fraction of chars in the most common
    n-gram' rule.  Max multiplicity = longest equal-run of the SORTED token
    array, so this reuses the linear run scan instead of a quadratic
    count-per-distinct-token pass; no shuffle, map-only."""
    n = token_count(text)
    best = _max_equal_run(F.array_sort(_ws_tokens(text)))
    return F.when(n > 0, best.cast("double") / n).otherwise(F.lit(0.0))


def max_token_run(text: Column) -> Column:
    """Length of the longest run of consecutively repeated tokens ('spam spam
    spam' -> 3) — catches degenerate generation loops that global frequency
    signals miss.  Single linear pass, map-only."""
    return F.when(
        token_count(text) > 0, _max_equal_run(_ws_tokens(text))
    ).otherwise(F.lit(0))


def symbol_fraction(text: Column) -> Column:
    """Fraction of characters that are neither alphanumeric nor whitespace —
    high values flag markup soup, encoding damage, or ASCII art."""
    n_chars = F.length(text)
    n_sym = F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]"))
    return F.when(n_chars > 0, n_sym.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )


def digit_fraction(text: Column) -> Column:
    """Fraction of characters that are digits — tables/logs dumped as prose
    score high and usually belong in a different pipeline branch."""
    n_chars = F.length(text)
    n_dig = F.regexp_count(text, F.lit(r"[0-9]"))
    return F.when(n_chars > 0, n_dig.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )


def _ngrams(tokens: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array (``n >= 2``); empty array
    when the document has fewer than ``n`` tokens.  Pure expression — one
    ``transform`` over an index sequence, no shuffle."""
    cnt = F.size(tokens) - F.lit(n - 1)
    return F.when(
        cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Fraction of word n-grams that repeat an earlier occurrence
    (``1 - distinct/total``) — the Gopher-style repetition signal one level
    above :func:`dup_token_fraction`; boilerplate families and looped
    generation score high where unigram stats look clean."""
    g = _ngrams(_ws_tokens(text), n)
    total = F.size(g)
    return F.when(
        total > 0, (total - F.size(F.array_distinct(g))).cast("double") / total
    ).otherwise(F.lit(0.0))


def _max_run_with_val(arr: Column) -> Column:
    """Longest run of consecutive equal elements AND the element achieving it
    — one linear ``F.aggregate`` pass (same cost shape as
    :func:`_max_equal_run`).  Strict ``>`` keeps the FIRST maximal run, so on
    a sorted array the winner is the lexicographically smallest among ties —
    a deterministic argmax any other engine can reproduce."""

    def step(acc, x):
        run = F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1)
        )
        better = run > acc.getField("best")
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc.getField("best")).alias("best"),
            F.when(better, x).otherwise(acc.getField("best_val")).alias("best_val"),
        )

    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("best_val"),
    )
    return F.aggregate(arr, zero, step)


def top_ngram_char_fraction(text: Column, n: int = 2) -> Column:
    """Gopher repetition rule: fraction of non-whitespace characters accounted
    for by the single most frequent word n-gram (occurrences x its non-space
    char length / total non-space chars).  Multiplicity comes from the longest
    equal-run of the SORTED n-gram array — linear, map-only; tie-break is the
    lexicographically smallest n-gram (deterministic, oracle-reproducible).
    Published Gopher thresholds: 0.20 / 0.18 / 0.16 for n = 2 / 3 / 4."""
    g = F.array_sort(_ngrams(_ws_tokens(text), n))
    n_chars = F.length(text) - F.regexp_count(text, F.lit(r"\s"))
    return F.when(
        (F.size(g) > 0) & (n_chars > 0),
        _top_run_chars(g).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))


def dup_ngram_char_fraction(text: Column, n: int = 5) -> Column:
    """Gopher repetition rule: fraction of non-whitespace characters inside
    word n-grams that occur more than once (sum of occurrences x non-space
    char length over duplicated n-grams / total non-space chars).  Overlap
    between duplicated spans is NOT collapsed (the cheap published variant —
    values can exceed those of span-merging implementations; documented so
    thresholds are calibrated against THIS definition).  Computed as one
    linear fold over the sorted n-gram array: when an element equals its
    predecessor the run's chars are added (2x on the run's second member to
    retroactively count the first) — no quadratic per-distinct scan, no
    shuffle.  Published Gopher thresholds: 0.15 / 0.14 / ... for n = 5 / 6 /
    ...; requires ``n >= 2`` (the empty-string fold sentinel can never equal
    a space-joined n-gram)."""
    g = F.array_sort(_ngrams(_ws_tokens(text), n))
    n_chars = F.length(text) - F.regexp_count(text, F.lit(r"\s"))
    return F.when(
        n_chars > 0, _dup_run_chars(g).cast("double") / n_chars
    ).otherwise(F.lit(0.0))


def _nonblank_lines(text: Column) -> Column:
    return F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != "")


def bullet_line_fraction(text: Column) -> Column:
    """Fraction of non-blank lines starting with a bullet marker (``-``,
    ``*``, U+2022) — Gopher drops documents where > 90% of lines are
    bullets (nav menus, scraped list pages)."""
    ls = _nonblank_lines(text)
    n = F.size(ls)
    hits = F.size(F.filter(ls, lambda l: F.trim(l).rlike(r"^[-*•]")))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def ellipsis_line_fraction(text: Column) -> Column:
    """Fraction of non-blank lines ending in an ellipsis (``...`` or U+2026)
    — Gopher drops documents where > 30% of lines trail off (truncated
    snippet pages)."""
    ls = _nonblank_lines(text)
    n = F.size(ls)
    hits = F.size(
        F.filter(ls, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def alpha_word_fraction(text: Column) -> Column:
    """Fraction of whitespace tokens containing at least one alphabetic
    character — Gopher requires >= 80% (drops number/symbol dumps)."""
    toks = _ws_tokens(text)
    n = token_count(text)
    hits = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def stopword_count(text: Column) -> Column:
    """English stopword-marker occurrences (word-bounded) — Gopher requires
    at least 2 distinct-position hits; reuses the language-ID marker set so
    the two signals stay consistent."""
    return _marker_hits(F.lower(text), _LANG_MARKERS["en"])


def gopher_rules(
    text: Column, min_words: int = 50, max_words: int = 100_000
) -> Column:
    """The Gopher quality-filter rule set (Rae et al. 2021, §A1.1) as a
    struct of per-rule booleans plus the conjunctive ``passes`` verdict —
    map-only, every member a pure expression over the same scan.  Symbol
    ratio reuses :func:`symbol_fraction` (all non-alphanumeric chars) rather
    than the paper's #/ellipsis-only ratio — stricter, documented.
    Repetition rules use this module's overlap-uncorrected definitions with
    the published thresholds."""
    n = token_count(text)
    mwl = mean_token_length(text)
    checks = [
        ((n >= min_words) & (n <= max_words)).alias("word_count_ok"),
        ((mwl >= 3.0) & (mwl <= 10.0)).alias("mean_word_len_ok"),
        (symbol_fraction(text) <= 0.1).alias("symbol_ratio_ok"),
        (bullet_line_fraction(text) <= 0.9).alias("bullet_ok"),
        (ellipsis_line_fraction(text) <= 0.3).alias("ellipsis_ok"),
        (alpha_word_fraction(text) >= 0.8).alias("alpha_word_ok"),
        (stopword_count(text) >= 2).alias("stopword_ok"),
        (top_ngram_char_fraction(text, 2) <= 0.20).alias("top_2gram_ok"),
        (top_ngram_char_fraction(text, 3) <= 0.18).alias("top_3gram_ok"),
        (top_ngram_char_fraction(text, 4) <= 0.16).alias("top_4gram_ok"),
        (dup_ngram_char_fraction(text, 5) <= 0.15).alias("dup_5gram_ok"),
    ]
    passes = checks[0]
    for c in checks[1:]:
        passes = passes & c
    return F.struct(*checks, passes.alias("passes"))


def _top_run_chars(sorted_arr: Column) -> Column:
    """occurrences x non-space char length of the most frequent element of a
    SORTED array (lex-smallest on ties) — the numerator of
    :func:`top_ngram_char_fraction`, exposed for the staged battery."""
    st = _max_run_with_val(sorted_arr)
    return st.getField("best") * F.length(
        F.translate(st.getField("best_val"), " ", "")
    )


def _dup_run_chars(sorted_arr: Column) -> Column:
    """sum of occurrences x non-space char length over elements of a SORTED
    array that occur more than once — the numerator of
    :func:`dup_ngram_char_fraction`, exposed for the staged battery."""

    def step(acc, x):
        clen = F.length(F.translate(x, " ", ""))
        same = x == acc.getField("prev")
        run = F.when(same, acc.getField("run") + 1).otherwise(F.lit(1))
        add = (
            F.when(same & (acc.getField("run") == 1), clen * 2)
            .when(same, clen)
            .otherwise(F.lit(0))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            (acc.getField("dup") + add).alias("dup"),
        )

    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("dup")
    )
    return F.aggregate(sorted_arr, zero, step).getField("dup")


def line_language_profile(text: Column) -> Column:
    """Per-LINE language profile — the mixed-language / code-switch gate
    (multilingual crawls routinely interleave boilerplate in one language
    with body text in another; doc-level language ID alone cannot see it).

    Each non-empty trimmed line is language-ID'd with the same marker
    argmax as :func:`language_id`, then the profile reduces over the FIXED
    language set (marker languages + 'und'), entirely inside expressions:
    ``struct(n_lines, major_lang, major_n, n_langs)`` where ``major_lang``
    is the modal line language (ties to the earliest language in marker
    order, matching :func:`language_id`) and ``n_langs`` counts distinct
    line languages observed.  Zero non-empty lines (empty/NULL text) yields
    the typed ``(0, 'und', 0, 0)`` row.

    Map-only and shuffle-FREE at any corpus size: because the language set
    is a compile-time constant, per-language line counts are ``size(filter
    (line_langs, = lang))`` over a let-bound langs array — no explode, no
    (doc, lang) aggregation.  Cost is linear in line count with the
    regexp-marker floor per line.
    """
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(text, F.lit("")), "\n"), lambda l: F.trim(l)
        ),
        lambda l: l != "",
    )
    langs = list(_LANG_MARKERS) + ["und"]

    def profile(ls: Column) -> Column:
        n = F.size(ls)

        def _is(lang: str):
            # NOT `lambda x, lang=lang`: pyspark reads a 2-arg HOF lambda
            # as (element, index) and would bind the index to `lang`
            return lambda x: x == lang

        counts = [F.size(F.filter(ls, _is(lang))) for lang in langs]

        def with_counts(carr: Column) -> Column:
            best = F.array_max(
                F.array(
                    *[
                        F.struct(
                            F.element_at(carr, i + 1).alias("c"),
                            F.lit(-i).alias("ni"),
                        )
                        for i in range(len(langs))
                    ]
                )
            )
            lang_arr = F.array(*[F.lit(x) for x in langs])
            n_langs = F.size(F.filter(carr, lambda c: c > 0))
            return F.struct(
                n.cast("int").alias("n_lines"),
                F.element_at(
                    lang_arr, (-best.getField("ni") + 1).cast("int")
                ).alias("major_lang"),
                best.getField("c").cast("int").alias("major_n"),
                n_langs.cast("int").alias("n_langs"),
            )

        return F.when(
            n == 0,
            F.struct(
                F.lit(0).alias("n_lines"),
                F.lit("und").alias("major_lang"),
                F.lit(0).alias("major_n"),
                F.lit(0).alias("n_langs"),
            ),
        ).otherwise(_let(F.array(*counts), with_counts))

    return _let(F.transform(lines, lambda l: language_id(l)), profile)


def gopher_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    extra_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """The full Gopher signal battery as a STAGED plan: one projection
    materializes each sorted n-gram array exactly once, the next derives
    every fraction from those shared columns, the last derives the rule
    booleans from the already-computed fractions.

    The column-function forms (:func:`gopher_rules` etc.) rebuild their
    n-gram array per call — fine for one signal, but the 12-signal battery
    evaluated that way re-tokenizes ~23x per row (measured 62 s at sf0.1 vs
    ~8 s staged).  Staying a multi-stage ``select`` keeps it map-only and
    shuffle-free; Catalyst does not re-inline the array columns because they
    are expensive and multiply referenced."""
    txt = F.col(text_col)
    extras = [c.alias(k) for k, c in (extra_cols or {}).items()]
    # stage 0: tokenize ONCE — seven signals reference the token array, and
    # expressions inside HOF lambdas are interpreted without CSE, so an
    # inline split would re-tokenize per referencing column
    s0 = df.select(
        F.col(id_col), txt.alias("_txt"), *extras,
        _ws_tokens(txt).alias("_toks"),
    )
    txt = F.col("_txt")
    toks = F.col("_toks")
    n_toks = F.when(F.trim(txt) == "", F.lit(0)).otherwise(F.size(toks))
    s1 = s0.select(
        F.col(id_col),
        *[k for k in (extra_cols or {})],
        n_toks.alias("n_tokens"),
        (F.length(txt) - F.regexp_count(txt, F.lit(r"\s"))).alias("n_nospace"),
        F.length(txt).alias("n_chars"),
        F.regexp_count(txt, F.lit(r"[^A-Za-z0-9\s]")).alias("n_sym"),
        stopword_count(txt).alias("stop_hits"),
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).alias(
            "alpha_words"
        ),
        bullet_line_fraction(txt).alias("bullet_line_frac"),
        ellipsis_line_fraction(txt).alias("ellipsis_line_frac"),
        F.array_sort(_ngrams(toks, 2)).alias("_g2"),
        F.array_sort(_ngrams(toks, 3)).alias("_g3"),
        F.array_sort(_ngrams(toks, 4)).alias("_g4"),
        F.array_sort(_ngrams(toks, 5)).alias("_g5"),
    )

    def _dup_frac(g):
        total = F.size(g)
        return F.when(
            total > 0,
            (total - F.size(F.array_distinct(g))).cast("double") / total,
        ).otherwise(F.lit(0.0))

    def _char_frac(num, g=None):
        cond = F.col("n_nospace") > 0
        if g is not None:
            cond = cond & (F.size(g) > 0)
        return F.when(cond, num.cast("double") / F.col("n_nospace")).otherwise(
            F.lit(0.0)
        )

    s2 = s1.select(
        id_col,
        *[k for k in (extra_cols or {})],
        "n_tokens",
        "stop_hits",
        "bullet_line_frac",
        "ellipsis_line_frac",
        _dup_frac(F.col("_g2")).alias("dup_2gram_frac"),
        _dup_frac(F.col("_g3")).alias("dup_3gram_frac"),
        _char_frac(_top_run_chars(F.col("_g2")), F.col("_g2")).alias(
            "top_2gram_char_frac"
        ),
        _char_frac(_top_run_chars(F.col("_g3")), F.col("_g3")).alias(
            "top_3gram_char_frac"
        ),
        _char_frac(_top_run_chars(F.col("_g4")), F.col("_g4")).alias(
            "top_4gram_char_frac"
        ),
        _char_frac(_dup_run_chars(F.col("_g5"))).alias("dup_5gram_char_frac"),
        F.when(
            F.col("n_tokens") > 0,
            F.col("alpha_words").cast("double") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("alpha_word_frac"),
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_nospace").cast("double") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        F.when(
            F.col("n_chars") > 0,
            F.col("n_sym").cast("double") / F.col("n_chars"),
        )
        .otherwise(F.lit(0.0))
        .alias("symbol_frac"),
    )
    passes = (
        F.col("n_tokens").between(min_words, max_words)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_frac") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stop_hits") >= 2)
        & (F.col("top_2gram_char_frac") <= 0.20)
        & (F.col("top_3gram_char_frac") <= 0.18)
        & (F.col("top_4gram_char_frac") <= 0.16)
        & (F.col("dup_5gram_char_frac") <= 0.15)
    )
    return s2.withColumn("gopher_pass", passes)


def gopher_signals_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    extra_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """Arrow (``mapInPandas``) twin of :func:`gopher_signals` — same output
    schema, BIT-IDENTICAL values (pytest-pinned on the fixture corpus):

    - tokenization mirrors Spark ``split(trim(s), '\\s+')`` exactly
      (space-only trim, ASCII ``\\s``, leading/trailing empty tokens kept);
    - every count is an exact integer, and every fraction is the single
      IEEE-754 division of the same two integers the expression path
      divides, so the doubles agree to the last bit;
    - the top-n-gram tie rule (lex-smallest among the most frequent) is
      ``min()`` over Python strings — code-point order, which equals the
      UTF8-binary order Spark's ``array_sort`` uses.

    Exists because the expression battery's floor is the interpreted HOF
    work (4 n-gram transforms + sorts + aggregate folds per row, no
    codegen); here each document is one pass of compiled-C regex plus
    ``collections.Counter``.  Still map-only: one ArrowEvalPython stage,
    no shuffle — the 100 TB plan shape is unchanged.  ``extra_cols`` are
    evaluated JVM-side in a pre-projection and passed through the kernel
    untouched, so arbitrary expression extras stay supported."""
    import re as _re

    from collections import Counter

    from pyspark.sql import types as T

    ws = _re.compile(r"\s+", _re.ASCII)
    any_ws = _re.compile(r"\s", _re.ASCII)
    sym = _re.compile(r"[^A-Za-z0-9\s]", _re.ASCII)
    alpha = _re.compile(r"[A-Za-z]")
    stop = _re.compile(
        r"\b(" + "|".join(_LANG_MARKERS["en"]) + r")\b", _re.ASCII
    )
    bullet = _re.compile(r"^[-*•]")
    ellipsis = _re.compile(r"(\.\.\.|…)$")

    extras = list((extra_cols or {}).keys())
    pre = df.select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        *[c.alias(k) for k, c in (extra_cols or {}).items()],
    )
    passthrough = [pre.schema[id_col]] + [pre.schema[k] for k in extras]
    schema = T.StructType(
        list(passthrough)
        + [
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("stop_hits", T.IntegerType()),
            T.StructField("bullet_line_frac", T.DoubleType()),
            T.StructField("ellipsis_line_frac", T.DoubleType()),
            T.StructField("dup_2gram_frac", T.DoubleType()),
            T.StructField("dup_3gram_frac", T.DoubleType()),
            T.StructField("top_2gram_char_frac", T.DoubleType()),
            T.StructField("top_3gram_char_frac", T.DoubleType()),
            T.StructField("top_4gram_char_frac", T.DoubleType()),
            T.StructField("dup_5gram_char_frac", T.DoubleType()),
            T.StructField("alpha_word_frac", T.DoubleType()),
            T.StructField("mean_word_len", T.DoubleType()),
            T.StructField("symbol_frac", T.DoubleType()),
            T.StructField("gopher_pass", T.BooleanType()),
        ]
    )
    sig_names = [f.name for f in schema.fields[len(passthrough):]]

    def one_doc(s):
        trimmed = s.strip(" ")
        toks = ws.split(trimmed)
        n_tokens = 0 if trimmed == "" else len(toks)
        n_chars = len(s)
        n_nospace = n_chars - len(any_ws.findall(s))
        n_sym = len(sym.findall(s))
        stop_hits = len(stop.findall(s.lower()))
        alpha_words = sum(1 for t in toks if alpha.search(t))
        lines = [l for l in s.split("\n") if l.strip(" ") != ""]
        n_l = len(lines)
        b_hits = sum(1 for l in lines if bullet.search(l.strip(" ")))
        e_hits = sum(1 for l in lines if ellipsis.search(l.strip(" ")))
        bullet_frac = b_hits / n_l if n_l > 0 else 0.0
        ellipsis_frac = e_hits / n_l if n_l > 0 else 0.0

        counters = {}
        for n in (2, 3, 4, 5):
            if len(toks) >= n:
                counters[n] = Counter(
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                )
            else:
                counters[n] = Counter()

        def dup_frac(n):
            c = counters[n]
            total = sum(c.values())
            return (total - len(c)) / total if total > 0 else 0.0

        def top_chars(n):
            c = counters[n]
            if not c or n_nospace <= 0:
                return 0.0
            m = max(c.values())
            val = min(g for g, cnt in c.items() if cnt == m)
            return (m * len(val.replace(" ", ""))) / n_nospace

        def dup_run_chars5():
            if n_nospace <= 0:
                return 0.0
            num = sum(
                cnt * len(g.replace(" ", ""))
                for g, cnt in counters[5].items()
                if cnt > 1
            )
            return num / n_nospace

        vals = {
            "n_tokens": n_tokens,
            "stop_hits": stop_hits,
            "bullet_line_frac": bullet_frac,
            "ellipsis_line_frac": ellipsis_frac,
            "dup_2gram_frac": dup_frac(2),
            "dup_3gram_frac": dup_frac(3),
            "top_2gram_char_frac": top_chars(2),
            "top_3gram_char_frac": top_chars(3),
            "top_4gram_char_frac": top_chars(4),
            "dup_5gram_char_frac": dup_run_chars5(),
            "alpha_word_frac": (
                alpha_words / n_tokens if n_tokens > 0 else 0.0
            ),
            "mean_word_len": (
                n_nospace / n_tokens if n_tokens > 0 else 0.0
            ),
            "symbol_frac": n_sym / n_chars if n_chars > 0 else 0.0,
        }
        vals["gopher_pass"] = (
            min_words <= n_tokens <= max_words
            and 3.0 <= vals["mean_word_len"] <= 10.0
            and vals["symbol_frac"] <= 0.1
            and vals["bullet_line_frac"] <= 0.9
            and vals["ellipsis_line_frac"] <= 0.3
            and vals["alpha_word_frac"] >= 0.8
            and stop_hits >= 2
            and vals["top_2gram_char_frac"] <= 0.20
            and vals["top_3gram_char_frac"] <= 0.18
            and vals["top_4gram_char_frac"] <= 0.16
            and vals["dup_5gram_char_frac"] <= 0.15
        )
        return vals

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {f.name: [] for f in schema.fields}
            extra_series = [pdf[k] for k in extras]
            for i, (did, s) in enumerate(zip(pdf[id_col], pdf["_txt"])):
                out[id_col].append(did)
                for k, ser in zip(extras, extra_series):
                    out[k].append(ser.iloc[i])
                if s is None:
                    for k in sig_names:
                        out[k].append(None)
                    continue
                vals = one_doc(s)
                for k in sig_names:
                    out[k].append(vals[k])
            yield pd.DataFrame(out)

    return pre.mapInPandas(gen, schema)


def text_signals_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow (``mapInPandas``) twin of the full per-document text-analysis
    battery (the `text_analysis_docs` projection): token counts, BPE-ish
    token estimate, language ID, quality score, md5 fingerprint, repetition
    signals, symbol/digit fractions, and the exact-integer char-entropy
    struct — BIT-IDENTICAL to the expression formulations (pytest-pinned on
    the fixture corpus and on adversarial edge cases):

    - integer counts are exact; every double is the same IEEE division /
      min / left-associative sum the JVM expression tree performs;
    - ``entropy_units`` uses the proven Python oracle formulation from the
      property suite (``round(ln m, 6)`` micro-units as exact integers);
    - language-ID ties go to the earliest language in the fixed marker
      order, exactly like the (score, -index) struct argmax.

    Exists because the battery's floor is interpreted HOF work (the sorted
    char-run entropy scan, per-token folds, n-gram array ops — no codegen,
    no CSE in lambdas); here each document is compiled-regex passes plus
    ``collections.Counter``.  Map-only: one ArrowEvalPython stage, no
    shuffle — the 100 TB plan shape is identical to the expression twin's.
    """
    import hashlib
    import re as _re

    from collections import Counter
    from decimal import Decimal

    from pyspark.sql import types as T

    ws = _re.compile(r"\s+", _re.ASCII)
    any_ws = _re.compile(r"\s", _re.ASCII)
    bpe = _re.compile(_TOKEN_PATTERN, _re.ASCII)
    alpha_sp = _re.compile(r"[A-Za-z0-9 ]")
    sym = _re.compile(r"[^A-Za-z0-9\s]", _re.ASCII)
    dig = _re.compile(r"[0-9]")
    langs = list(_LANG_MARKERS)
    lang_pats = [
        _re.compile(r"\b(" + "|".join(_LANG_MARKERS[g]) + r")\b", _re.ASCII)
        for g in langs
    ]
    stop = lang_pats[langs.index("en")]

    def lunits(m: int) -> int:
        if m <= 0:
            return 0
        return int(Decimal(str(round(math.log(m), 6))) * 1_000_000)

    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("n_bpe", T.IntegerType()),
            T.StructField("lang_pred", T.StringType()),
            T.StructField("q_score", T.DoubleType()),
            T.StructField("fingerprint", T.StringType()),
            T.StructField("mean_tok_len", T.DoubleType()),
            T.StructField("dup_tok_frac", T.DoubleType()),
            T.StructField("top_tok_frac", T.DoubleType()),
            T.StructField("max_run", T.IntegerType()),
            T.StructField("symbol_frac", T.DoubleType()),
            T.StructField("digit_frac", T.DoubleType()),
            T.StructField("ent_distinct", T.IntegerType()),
            T.StructField("entropy_units", T.LongType()),
        ]
    )
    sig_names = [f.name for f in schema.fields[1:]]

    def one_doc(s):
        trimmed = s.strip(" ")
        toks = ws.split(trimmed)
        n_tok = 0 if trimmed == "" else len(toks)
        n_chars = len(s)
        low = s.lower()
        n_nospace = n_chars - len(any_ws.findall(s))

        hits = [len(p.findall(low)) for p in lang_pats]
        bi = max(range(len(langs)), key=lambda i: (hits[i], -i))
        lang_pred = langs[bi] if hits[bi] > 0 else "und"

        stop_hits = len(stop.findall(low))
        lf = min(n_chars / 1000.0, 1.0)
        ar = len(alpha_sp.findall(s)) / n_chars if n_chars > 0 else 0.0
        sf_ = min(stop_hits / n_tok / 0.2, 1.0) if n_tok > 0 else 0.0
        q_score = (lf + ar + sf_) / 3.0

        fingerprint = hashlib.md5(
            ws.sub(" ", low.strip(" ")).encode("utf-8")
        ).hexdigest()

        if n_tok > 0:
            tok_counts = Counter(toks)
            dup_frac = (n_tok - len(tok_counts)) / n_tok
            top_frac = max(tok_counts.values()) / n_tok
            max_run = run = 1
            for a, b in zip(toks, toks[1:]):
                run = run + 1 if b == a else 1
                if run > max_run:
                    max_run = run
        else:
            dup_frac = top_frac = 0.0
            max_run = 0

        if n_chars > 0:
            ccounts = Counter(s)
            ent_distinct = len(ccounts)
            entropy_units = n_chars * lunits(n_chars) - sum(
                k * lunits(k) for k in ccounts.values()
            )
        else:
            ent_distinct = 0
            entropy_units = 0

        return {
            "n_tokens": n_tok,
            "n_bpe": len(bpe.findall(s)),
            "lang_pred": lang_pred,
            "q_score": q_score,
            "fingerprint": fingerprint,
            "mean_tok_len": n_nospace / n_tok if n_tok > 0 else 0.0,
            "dup_tok_frac": dup_frac,
            "top_tok_frac": top_frac,
            "max_run": max_run,
            "symbol_frac": len(sym.findall(s)) / n_chars if n_chars > 0 else 0.0,
            "digit_frac": len(dig.findall(s)) / n_chars if n_chars > 0 else 0.0,
            "ent_distinct": ent_distinct,
            "entropy_units": entropy_units,
        }

    pre = df.select(F.col(id_col), F.col(text_col).alias("_txt"))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {f.name: [] for f in schema.fields}
            for did, s in zip(pdf[id_col], pdf["_txt"]):
                out[id_col].append(did)
                if s is None:
                    for k in sig_names:
                        out[k].append(None)
                    continue
                vals = one_doc(s)
                for k in sig_names:
                    out[k].append(vals[k])
            yield pd.DataFrame(out)

    return pre.mapInPandas(gen, schema)


def _log_units(m: Column) -> Column:
    """``round(ln(m), 6)`` as exact integer micro-units (BIGINT) — the
    :func:`bigram_surprisal` determinism discipline: quantize each log term
    before any sum so last-ulp ``ln`` differences between engines vanish and
    the remaining arithmetic is exact integers.  0 for ``m <= 0``."""
    u = (
        F.round(F.log(m.cast("double")), 6).cast("decimal(18,6)") * 1_000_000
    ).cast("long")
    return F.when(m > 0, u).otherwise(F.lit(0).cast("long"))


def _let(value: Column, body) -> Column:
    """Let-binding inside a single Column: evaluate ``value`` ONCE and make
    it available to ``body`` as a lambda variable — a 1-element ``transform``
    unwrapped with ``element_at``.  HOF lambda bodies are interpreted with
    no common-subexpression elimination, so any intermediate referenced
    more than once must be bound this way (or staged as a real column,
    which a Column-returning helper cannot do)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def char_entropy(text: Column) -> Column:
    """Shannon character entropy signal (low entropy = repeated filler /
    padding / binary-ish junk; a standard cheap quality gate beside the
    Gopher rules).  Returns ``struct(n_chars, n_distinct, entropy_units)``
    with ``entropy_units = n*L(n) - sum_c k_c*L(k_c)`` where ``k_c`` is the
    count of character ``c`` and ``L(m) = round(ln m, 6) * 1e6`` as BIGINT
    (the ``H*n = n ln n - sum k ln k`` identity keeps the per-run fold free
    of the document length, so the sort/split is evaluated once, and every
    term is an exact integer — order-independent and engine-portable).
    ``H = entropy_units / (n_chars * 1e6)`` nats.

    Map-only (sort-the-chars + a boundary scan per doc, no shuffle).  The
    run-length extraction is a three-stage pipeline of array ops — run
    STARTS via an index filter (``chars[i] != chars[i-1]``), run lengths
    via ``zip_with`` of the bounds array against its own shift, then one
    ``aggregate`` of ``k*L(k)`` over the (distinct-count-sized) lengths —
    instead of a sequential struct-accumulator fold over every char: the
    per-char work drops from building a multi-field struct to two
    ``element_at`` lookups, measured 1.4x faster warm at sf0.1, and the
    expensive ``L`` terms evaluate once per RUN either way.  HOF lambdas
    are interpreted without CSE, so each intermediate (sorted chars, run
    starts, bounds) is let-bound via :func:`_let` — a 1-element
    transform whose lambda variable IS the single evaluation (the
    :func:`gopher_signals` lesson, applied inside one Column).  Callers
    should still project the struct ONCE and pull fields in a separate
    ``select`` stage.
    Character granularity is UTF-16 code units on the JVM vs code points in
    a SQL oracle — identical over BMP text, which is the fixture (and
    crawl-corpus) norm; the multimodal module owns non-BMP honesty.
    """

    def inner(ch: Column) -> Column:
        n = F.size(ch)
        starts = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == 1)
            | (F.element_at(ch, i) != F.element_at(ch, i - 1)),
        )

        def with_bounds(b: Column) -> Column:
            d = F.size(b) - 1
            lens = F.zip_with(
                F.slice(b, 1, d), F.slice(b, 2, d), lambda a, c: c - a
            )
            sum_k_ln_k = F.aggregate(
                lens,
                F.lit(0).cast("long"),
                lambda acc, k: acc + k.cast("long") * _log_units(k),
            )
            return F.struct(
                n.cast("int").alias("n_chars"),
                d.cast("int").alias("n_distinct"),
                (n.cast("long") * _log_units(n) - sum_k_ln_k).alias(
                    "entropy_units"
                ),
            )

        return _let(
            F.concat(starts, F.array(n + 1)), with_bounds
        )

    folded = _let(F.array_sort(F.split(text, "")), inner)
    empty = F.length(F.coalesce(text, F.lit(""))) == 0
    return F.when(
        empty,
        F.struct(
            F.lit(0).alias("n_chars"),
            F.lit(0).alias("n_distinct"),
            F.lit(0).cast("long").alias("entropy_units"),
        ),
    ).otherwise(folded)


def document_fingerprint(text: Column) -> Column:
    """md5 fingerprint of whitespace-normalized lowercase text — the
    content-identity key used by exact dedup and provenance tracking."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(normalized)


def rolling_hash(text: Column, window: int = 8) -> Column:
    """64-bit polynomial rolling-hash sketch: xxhash64 of each ``window``-token
    slice, reduced to the minimum (a 1-element winnowing fingerprint).  Useful
    as a cheap containment signal between documents; xxhash64 keeps it inside
    codegen."""
    toks = _ws_tokens(text)
    k = F.greatest(F.size(toks) - F.lit(window - 1), F.lit(0))
    # zip_with over shifted slices, not transform(sequence, i -> slice(...)):
    # an expression captured inside an interpreted HOF lambda (the tokenizer)
    # would re-evaluate once per window position (see text/dedup.py:shingle)
    grams = F.slice(toks, 1, k)
    for i in range(1, window):
        shifted = F.slice(toks, i + 1, k)
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    # docs shorter than the window hash as a single whole-text gram
    grams = F.when(k > 0, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_min(F.transform(grams, lambda g: F.xxhash64(g)))


# PII / markup scrubbing patterns are deliberately written with EXPLICIT
# character classes (no \w, no lookaround) so Java regex (Spark) and RE2
# (DuckDB, Go tooling) agree byte-for-byte — the property that makes a
# redaction pass auditable by an external engine.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"


def redact_pii(text: Column) -> Column:
    """Corpus-curation PII scrub: emails -> ``<EMAIL>``, phone-shaped digit
    runs -> ``<PHONE>``.  Pure ``regexp_replace`` projections — codegen'd,
    map-only, no UDF."""
    out = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(out, PHONE_PATTERN, "<PHONE>")


def dedup_lines(text: Column) -> Column:
    """Within-document repeated-line removal (the C4/Gopher curation rule:
    every repeat of an earlier identical line in the same document is
    dropped, first occurrence kept in order).  Pure expression — split on
    newline, linear first-occurrence fold, re-join — so the pass stays
    map-only with no shuffle and no UDF at any corpus size.  The fold is
    O(lines * kept) interpreted HOF ops per document, right for prose-sized
    line counts; a corpus of pathological million-line documents should
    explode to (doc, line_no) rows and window on (doc, line) instead."""
    lines = F.split(text, "\n")
    kept = F.aggregate(
        lines,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )
    return F.array_join(kept, "\n")


def strip_markup(text: Column) -> Column:
    """Drop HTML/XML tags and collapse the leftover whitespace — the
    boilerplate-removal step before quality scoring web-scraped text."""
    no_tags = F.regexp_replace(text, r"<[^>]+>", " ")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap_tokens: int = 8,
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    context-window preparation step of a training pipeline (each chunk
    carries ``overlap_tokens`` of trailing context from its predecessor).

    Chunk starts step by ``stride = chunk_tokens - overlap_tokens``; the
    final chunk may be short, and a start is only generated while it adds
    unseen tokens, so no chunk is fully contained in its predecessor.

    100 TB shape: tokenize -> ``sequence``/``transform``/``slice`` ->
    ``posexplode``, all narrow operations — a map-only pass whose output
    rows stay in the parent partition (no shuffle, no UDF).  Row count
    grows by ~n_tokens/stride per doc, which is the irreducible output of
    chunking, not plan overhead.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    t = _ws_tokens(F.col(text_col))
    n = F.size(t)
    n_chunks = F.lit(1) + F.greatest(
        F.ceil((n - F.lit(chunk_tokens)).cast("double") / F.lit(stride)).cast(
            "int"
        ),
        F.lit(0),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.slice(t, k * stride + 1, chunk_tokens),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_arr")
    ).select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", "_arr").alias("chunk_text"),
        F.size("_arr").cast("int").alias("chunk_len"),
    )


DEFAULT_TARGET_BUCKET_TOKENS = 1 << 24  # ~16M tokens per packing stream


def pack_sequences(
    df: DataFrame,
    token_col: str,
    seq_tokens: int,
    key_col: str = "doc_id",
    n_buckets: int | None = 16,
    target_bucket_tokens: int | None = None,
) -> DataFrame:
    """Assign documents to fixed-size training sequences (concat-and-chop
    packing): documents are laid end-to-end in a deterministic
    content-hash order and the token stream is cut every ``seq_tokens``
    tokens, so each document lands at a stable (sequence, offset).

    Deterministic, partition-order-independent, and parallel: the corpus
    splits into ``n_buckets`` streams by a 60-bit slice of md5(key)
    (documents are interchangeable across a packing run, so
    independent per-bucket streams are semantically equivalent to one
    global stream), each bucket runs its own cumulative-sum window, and
    the global ``seq_id`` interleaves bucket-local sequence numbers with
    the bucket index.  No global sort exists at any scale — the window
    partitions by bucket, exactly like ``token_budget_sample``.

    r9: pass ``n_buckets=None`` to AUTO-SIZE the stream count exactly
    like :func:`pack_sequences_nosplit` — ``max(1, ceil(total_tokens /
    target_bucket_tokens))`` from one scalar aggregation (default target
    2^24 tokens).  The cumsum window sorts each bucket within ONE window
    partition, so the fixed-16 default has the same 100 TB hazard as the
    NFD packer's (a ~6 TB bucket in one task); auto-sizing is the
    production setting, the fixed default stays for oracle-pinned
    fixture-scale entries.

    Output: (key, seq_id, start_tok, end_tok) where start/end are offsets
    in the bucket's concatenated token stream; a document straddling a cut
    (``floor(start/seq) != floor((end-1)/seq)``) continues into the next
    sequence, which is the standard LM-pretraining chop.
    """
    if n_buckets is None:
        target = (
            DEFAULT_TARGET_BUCKET_TOKENS
            if target_bucket_tokens is None
            else int(target_bucket_tokens)
        )
        if target < 1:
            raise ValueError("target_bucket_tokens must be >= 1")
        total = (
            df.agg(
                F.sum(F.col(token_col).cast("long")).alias("_t")
            ).collect()[0]["_t"]
            or 0
        )
        n_buckets = max(1, (int(total) + target - 1) // target)
    n_buckets = int(n_buckets)
    h = F.md5(F.col(key_col).cast("string"))
    w = (
        Window.partitionBy("_bucket")
        .orderBy("_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_h", h)
        .withColumn(
            "_bucket",
            # 60-bit hash slice: auto-sizing yields n_buckets >> 256 at
            # corpus scale, where a 2-hex-char id strands buckets >= 256
            # empty and each live stream grows as corpus/256
            F.pmod(F.conv(F.substring("_h", 1, 15), 16, 10).cast("long"),
                   F.lit(n_buckets)),
        )
        .withColumn("_cum", F.sum(F.col(token_col)).over(w).cast("long"))
        .select(
            key_col,
            # integral DIV, not floor(double /): bucket token streams can
            # exceed 2^53 at corpus scale, where double division drops ulps
            (
                F.expr(f"(_cum - {token_col}) DIV {int(seq_tokens)}")
                * n_buckets
                + F.col("_bucket")
            ).cast("long").alias("seq_id"),
            (F.col("_cum") - F.col(token_col)).cast("long").alias("start_tok"),
            F.col("_cum").alias("end_tok"),
        )
    )


def pack_sequences_nosplit(
    df: DataFrame,
    token_col: str,
    seq_tokens: int,
    key_col: str = "doc_id",
    n_buckets: int | None = None,
    target_bucket_tokens: int | None = None,
) -> DataFrame:
    """NO-SPLIT sequence packing (next-fit decreasing): documents are
    never chopped across sequence boundaries — the packing used for
    SFT/instruction data, where a truncated example is a corrupted label.
    Complements :func:`pack_sequences` (concat-and-chop, the LM-pretrain
    packing).

    Deterministic and partition-order-independent: the corpus splits into
    ``n_buckets`` streams by md5(key) (documents are interchangeable
    across a packing run), each bucket sorts by (token count DESC,
    md5-hex ASC — unique, so the order is total) and runs the next-fit
    fold: a document that does not fit the current sequence closes it and
    opens the next.  Decreasing order keeps the classic NFD waste bound;
    a document longer than ``seq_tokens`` gets a sequence of its own
    (``end_tok > seq_tokens`` marks it for the caller to truncate or
    reject).  Output: ``(key, seq_id, start_tok, end_tok)`` with offsets
    WITHIN the sequence (``0 <= start_tok``, ``end_tok - start_tok`` =
    the document's token count).

    Scale shape: one shuffle on the bucket key into an
    ``applyInPandas`` fold (the fold is inherently sequential per
    stream — same single-pass-per-bucket story as the chop packer's
    cumsum window).  ``n_buckets`` AUTO-SIZES by default (r9): one tiny
    scalar aggregation measures the corpus token total and derives
    ``ceil(total / target_bucket_tokens)`` (default target 2^24 ≈ 16M
    tokens ≈ tens of thousands of doc rows per pandas group), so a
    bucket always fits one executor — at 100 TB that yields ~10^6
    buckets instead of trusting a caller-picked 16 that would put ~6 TB
    in one group.  Pass ``n_buckets`` explicitly to pin a count (for
    bit-stable output across corpus growth).  Waste bound: NFD keeps
    per-stream waste within the classic next-fit-decreasing bound;
    splitting into ``nb`` independent streams adds at most ``nb - 1``
    partially filled final sequences, so total waste grows by
    ``<= nb * seq_tokens`` tokens — negligible while
    ``target_bucket_tokens >> seq_tokens``.  The DuckDB oracle replays
    the fold exactly with a recursive CTE, deriving the same bucket
    count from the same integer arithmetic, so the full assignment is
    value-hash verifiable."""
    from pyspark.sql import types as T

    cap = int(seq_tokens)
    if n_buckets is None:
        target = (
            DEFAULT_TARGET_BUCKET_TOKENS
            if target_bucket_tokens is None
            else int(target_bucket_tokens)
        )
        if target < 1:
            raise ValueError("target_bucket_tokens must be >= 1")
        total = (
            df.agg(
                F.sum(F.col(token_col).cast("long")).alias("_t")
            ).collect()[0]["_t"]
            or 0
        )
        nb = max(1, (int(total) + target - 1) // target)
    else:
        nb = int(n_buckets)
    key_field = df.schema[key_col]
    schema = T.StructType(
        [
            T.StructField(key_col, key_field.dataType, key_field.nullable),
            T.StructField("seq_id", T.LongType()),
            T.StructField("start_tok", T.LongType()),
            T.StructField("end_tok", T.LongType()),
        ]
    )
    pre = (
        df.select(
            F.col(key_col),
            F.col(token_col).cast("long").alias("_n"),
            F.md5(F.col(key_col).cast("string")).alias("_h"),
        )
        .withColumn(
            "_bucket",
            # 60-bit hash slice — same auto-size rationale as the chop
            # packer: n_buckets must exceed 256 at the scales auto-sizing
            # exists for
            F.pmod(
                F.conv(F.substring("_h", 1, 15), 16, 10).cast("long"),
                F.lit(nb),
            ),
        )
    )

    def fold(pdf):
        import pandas as pd

        if pdf["_h"].isna().any():
            n_bad = int(pdf["_h"].isna().sum())
            raise ValueError(
                f"pack_sequences_nosplit: NULL {key_col} on {n_bad} row(s) "
                "— md5(NULL) has no bucket; filter NULL keys upstream "
                "(silently packing them would diverge from the SQL "
                "oracle's NULL semantics)"
            )
        if pdf["_n"].isna().any():
            bad = pdf.loc[pdf["_n"].isna(), key_col].iloc[0]
            raise ValueError(
                f"pack_sequences_nosplit: NULL token count for key {bad!r} "
                "— a null-text document reached the packer; filter or "
                "default token counts upstream (silently packing it would "
                "diverge from the SQL oracle's NULL semantics)"
            )
        pdf = pdf.sort_values(
            ["_n", "_h"], ascending=[False, True], kind="mergesort"
        )
        b = int(pdf["_bucket"].iloc[0])
        seq_local = 0
        fill = 0
        ks, sids, sts, ens = [], [], [], []
        for k, n in zip(pdf[key_col], pdf["_n"]):
            n = int(n)
            if fill + n > cap and fill > 0:
                seq_local += 1
                fill = 0
            ks.append(k)
            sids.append(seq_local * nb + b)
            sts.append(fill)
            ens.append(fill + n)
            fill += n
        return pd.DataFrame(
            {
                key_col: ks,
                "seq_id": sids,
                "start_tok": sts,
                "end_tok": ens,
            }
        )

    return pre.groupBy("_bucket").applyInPandas(fold, schema)


def bigram_surprisal(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram surprisal against the corpus's own bigram
    statistics — a perplexity-style quality filter (no external LM): for
    each bigram, s = -ln(C(w1 w2) / C(w1)); a document of improbable
    transitions (shuffled text, gibberish) scores high, repeated
    boilerplate scores near 0.  Token-boundary convention: C(w1) counts ALL
    corpus occurrences of w1 (doc-final included) — a heuristic scorer, not
    a normalized LM.

    Determinism: each bigram's surprisal is round(x, 6)-quantized (kills
    last-ulp ln() differences between engines, as in tf_idf_top_terms),
    converted to exact integer micro-units (x 1e6 in decimal arithmetic),
    and summed as BIGINT — exact and order-independent, so Spark's parallel
    partial aggregation equals the oracle's sequential scan bit-for-bit.
    ``surprisal_units`` (the integer sum) is the value to hash/compare;
    ``surprisal_mean`` is a convenience double whose final division can
    land on a rounding midpoint and is therefore NOT cross-engine stable
    at the last printed digit.

    100 TB shape: two token-keyed hash aggs (bigram, unigram vocab) + two
    shuffle joins on token keys + one per-doc agg.  Stopword-heavy keys skew
    the count aggs, which stay in the map-side combiner; the count tables
    are broadcastable when the vocabulary is bounded.
    """
    from pyspark.sql import types as T

    t = _ws_tokens(F.col(text_col))
    k = F.greatest(F.size(t) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(t, 1, k),
        F.slice(t, 2, k),
        lambda a, b: F.struct(
            a.alias("w1"), F.concat(a, F.lit(" "), b).alias("bigram")
        ),
    )
    bg = df.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.bigram").alias("bigram")
    )
    bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bg"))
    uni = (
        df.select(F.explode(t).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    scored = bg.join(bgc, "bigram").join(uni, bg["w1"] == uni["tok"])
    s_units = (
        F.round(
            -F.log(F.col("c_bg").cast("double") / F.col("c_uni").cast("double")),
            6,
        ).cast(T.DecimalType(18, 6))
        * 1_000_000
    ).cast("long")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(s_units).alias("surprisal_units"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        "surprisal_units",
        (
            F.col("surprisal_units").cast("double")
            / F.col("n_bigrams")
            / F.lit(1_000_000.0)
        ).alias("surprisal_mean"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document — corpus-level term weighting in three
    shuffles, all on bounded keys.

    tf = per-(doc, term) occurrence count; df_t = number of docs containing
    the term (distinct by construction, since tf is already one row per
    doc-term); idf = ln(N / df_t).  N reaches the score via a broadcast
    1-row crossJoin, so the big tf relation never re-shuffles for the
    scalar.  Ranking and output use ``round(tfidf, 6)`` — the score is
    quantized BEFORE the per-doc top-k window so an engine whose ``ln``
    differs in the last ulp (observed: JVM vs libm, ~8% of inputs) still
    ranks identically; ``term`` breaks exact ties.

    100 TB shape: two hash aggs (doc-term, then term) + one broadcast + one
    window partitioned by doc — no global sort, no driver state.  Hot terms
    (stopwords) concentrate in df_t counting, which is a plain int agg with
    map-side partial aggregation, so skew stays in the combiner.
    """
    from .dedup import _tokens

    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n))
    scored = scored.withColumn(
        "tfidf_r",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.col("n_docs").cast("double") / F.col("df_t").cast("double")),
            6,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf_r").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(id_col, "term", "tf", "df_t", "tfidf_r", "rn")
    )


def dsir_importance(
    df: DataFrame,
    target: Column,
    buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR document scoring (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling", arXiv:2302.03169): score every
    document by how much more likely its hashed n-gram features are under a
    TARGET distribution (rows where ``target`` is true — e.g. a trusted
    high-quality or in-domain slice) than under the RAW corpus distribution.
    The standard pretraining-data curation move when you have a small good
    corpus and a huge crawl: keep crawl documents that look like the target.

    Model: unigram + bigram features hashed into ``buckets`` md5 buckets;
    bucket distributions are add-one smoothed; a document's log importance
    weight is ``sum_b count_b * (ln p_b - ln q_b)``.  Every log term is
    quantized round(ln m, 6) -> integer micro-units (BIGINT) BEFORE any
    arithmetic (the :func:`bigram_surprisal` determinism discipline), so the
    whole score is exact integers — engine-portable and order-independent.
    ``gumbel_units`` is a content-addressed Gumbel(0,1) draw from md5 of the
    id (quantized the same way): resampling ``proportional to`` the weight
    is top-k of ``weight_units + gumbel_units`` (the Gumbel-max trick),
    reproducible on any engine with md5.

    Returns one row per input row: ``(id, n_feats, weight_units,
    gumbel_units)`` — blank/featureless documents keep a row with
    ``n_feats = 0, weight_units = 0``.

    100 TB shape: one explode -> groupBy(id, bucket) count (the only
    corpus-sized shuffle, with map-side partial aggregation), a
    ``buckets``-row statistics relation (second agg collapses to <= B rows),
    the log-ratio table joined back by BROADCAST (B rows, pinned — never a
    corpus shuffle), and a final groupBy(id).  Featureless documents ride
    through as an ``explode_outer`` null-gram marker row rather than a
    corpus-sized resurrection join, so there is NO join between two
    corpus-sized relations anywhere.  No driver-side state, no collect; the
    "model" (bucket ratio table) never exceeds B rows.  Ids are assumed
    unique (one output row per id).

    Grams are bucketed by the portable 60-bit md5 prefix, so a SQL oracle
    reproduces every weight bit-for-bit; the Gumbel draw uses the same md5
    prefix of the id (once per document — keeps selection replayable).
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    from .dedup import _md5_long

    toks = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(_ws_tokens(F.col(text_col)))
    base = df.select(F.col(id_col), target.alias("_tgt"), toks.alias("_tk"))
    # explode_outer: a document with zero grams keeps ONE row with a NULL
    # gram (null bucket), so it reaches the final per-id aggregate without
    # a separate corpus-sized left join to restore it.
    grams = base.select(
        id_col,
        "_tgt",
        F.explode_outer(
            F.concat(F.col("_tk"), _ngrams(F.col("_tk"), 2))
        ).alias("_g"),
    )
    # md5(NULL) is NULL, so the featureless-doc marker row lands in the
    # null bucket rather than becoming a phantom feature.
    bucket = F.pmod(_md5_long(F.col("_g")), F.lit(buckets))
    cnt = grams.groupBy(id_col, "_tgt", bucket.alias("_b")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    bstat = cnt.filter(F.col("_b").isNotNull()).groupBy("_b").agg(
        F.sum("_c").alias("_q_cnt"),
        F.sum(F.when(F.col("_tgt"), F.col("_c")).otherwise(0)).alias("_p_cnt"),
    )
    # Totals via an unpartitioned window over the <= B-row relation — stays
    # lazy (no driver action) and costs one single-partition pass over B rows.
    wall = Window.partitionBy()
    bstat = bstat.select(
        "_b",
        "_q_cnt",
        "_p_cnt",
        F.sum("_q_cnt").over(wall).alias("_qt"),
        F.sum("_p_cnt").over(wall).alias("_pt"),
    )
    ratio = bstat.select(
        "_b",
        (
            _log_units(F.col("_p_cnt") + 1)
            - _log_units(F.col("_pt") + buckets)
            - _log_units(F.col("_q_cnt") + 1)
            + _log_units(F.col("_qt") + buckets)
        ).alias("_r_units"),
    )
    feat = F.col("_b").isNotNull()
    scores = (
        cnt.join(F.broadcast(ratio), "_b", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(feat, F.col("_c")).otherwise(0)).alias("_n_feats"),
            F.sum(
                F.when(feat, F.col("_c") * F.col("_r_units")).otherwise(0)
            ).alias("_w_units"),
        )
    )
    # Content-addressed Gumbel(0,1): u = (h + 1) / 2^61 with h the 60-bit
    # md5 prefix — u is strictly inside (0, 0.5], the denominator is a power
    # of two (exact double), and the int->double cast + division are IEEE
    # correctly-rounded on every engine, so only ln() can differ (killed by
    # the 6-decimal quantization).
    u = (_md5_long(F.col(id_col).cast("string")) + 1).cast("double") / F.lit(
        2305843009213693952.0
    )
    g_units = (
        F.round(-F.log(-F.log(u)), 6).cast("decimal(18,6)") * 1_000_000
    ).cast("long")
    return scores.select(
        id_col,
        F.col("_n_feats").cast("long").alias("n_feats"),
        F.col("_w_units").cast("long").alias("weight_units"),
        g_units.alias("gumbel_units"),
    )


def dsir_fit(
    df: DataFrame,
    target: Column,
    buckets: int = 256,
    text_col: str = "text",
) -> list[int]:
    """Fit the DSIR bucket model once and hand back the dense ratio table:
    ``model[b]`` = micro-unit log ratio ``L(p_b+1) - L(P+B) - L(q_b+1) +
    L(Q+B)`` for bucket ``b`` (buckets unseen in the fit corpus get the
    smoothed default ``L(Q+B) - L(P+B)``).  Feed it to :func:`dsir_score`
    to score any OTHER corpus map-only — the production split when the
    model is fit on a reference corpus once and then applied to every new
    crawl batch without refitting (the cross-corpus shape).

    Cost: the :func:`dsir_fit_state` kernel (per-Arrow-batch partial
    bucket counts, one <= ``buckets``-key groupBy) and a model-sized
    collect — the same driver-traffic contract as
    :func:`~ssis_to_dbt_spark.text.similarity.kmeans_fit`.  The units are
    computed IN SPARK with the same :func:`_log_units` expression the fused
    :func:`dsir_importance` uses, so fit+:func:`dsir_score` reproduces its
    weights bit-for-bit.
    """
    return dsir_model_from_state(
        dsir_fit_state(df, target, buckets, text_col), buckets
    )


def dsir_fit_state(
    df: DataFrame,
    target: Column,
    buckets: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """The mergeable sufficient statistic behind :func:`dsir_fit`: the
    ≤``buckets``-row count table ``(_b, _q_cnt, _p_cnt)`` (total and
    target-side gram counts per hashed bucket).  Production reference
    corpora GROW — keeping this state on disk makes a refit after
    appending new target docs a DELTA aggregation
    (:func:`dsir_merge_state`), not a re-read of the full fit corpus.

    Kernel: a ``mapInPandas`` pass emits per-Arrow-batch PARTIAL bucket
    counts (≤ ``buckets`` rows per batch) folded in compiled C, then one
    tiny groupBy — the shuffle carries batch-count × buckets rows and the
    exploded gram stream never exists.  Tokenizer/bucket twin discipline
    identical to :func:`dsir_score` (space-only trim, ASCII ``\\s`` split
    with kept empty tokens; md5 hex[:15] % B).  The
    target predicate is evaluated JVM-SIDE in the pre-projection, so
    arbitrary Columns work and NULL target counts into ``_q_cnt`` only.
    Test reference: the explode -> groupBy(bucket) expression form
    :func:`_dsir_fit_state_expr` (bit-identical counts, pytest-pinned)."""
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    import re as _re

    from pyspark.sql import types as T

    ws = _re.compile(r"\s+", _re.ASCII)
    schema = T.StructType(
        [
            T.StructField("_b", T.LongType()),
            T.StructField("_q_cnt", T.LongType()),
            T.StructField("_p_cnt", T.LongType()),
        ]
    )
    pre = df.select(target.alias("_tgt"), F.col(text_col).alias("_txt"))
    bucket = _gram_bucket_fn(int(buckets))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            q: dict[int, int] = {}
            p: dict[int, int] = {}
            for tgt, s in zip(pdf["_tgt"], pdf["_txt"]):
                if s is None:
                    continue
                t = s.strip(" ")
                if t == "":
                    continue
                toks = ws.split(t)
                is_t = tgt is True or (tgt is not None and tgt == True)  # noqa: E712
                for g in toks:
                    b = bucket(g)
                    q[b] = q.get(b, 0) + 1
                    if is_t:
                        p[b] = p.get(b, 0) + 1
                for a, c in zip(toks, toks[1:]):
                    b = bucket(f"{a} {c}")
                    q[b] = q.get(b, 0) + 1
                    if is_t:
                        p[b] = p.get(b, 0) + 1
            if q:
                ks = sorted(q)
                yield pd.DataFrame(
                    {
                        "_b": ks,
                        "_q_cnt": [q[k] for k in ks],
                        "_p_cnt": [p.get(k, 0) for k in ks],
                    }
                )

    partial = pre.mapInPandas(gen, schema)
    return partial.groupBy("_b").agg(
        F.sum("_q_cnt").cast("long").alias("_q_cnt"),
        F.sum("_p_cnt").cast("long").alias("_p_cnt"),
    )


def _dsir_fit_state_expr(
    df: DataFrame,
    target: Column,
    buckets: int,
    text_col: str = "text",
) -> DataFrame:
    """Expression test reference for :func:`dsir_fit_state`: one explode
    -> groupBy(bucket) over ``df`` (map-side partial agg collapses to ≤
    buckets rows before the shuffle; NULL target counts into ``_q_cnt``
    only via ``F.when(_tgt, 1).otherwise(0)``)."""
    from .dedup import _md5_long

    toks = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(_ws_tokens(F.col(text_col)))
    grams = df.select(
        target.alias("_tgt"),
        F.explode(F.concat(toks, _ngrams(toks, 2))).alias("_g"),
    )
    return grams.groupBy(
        F.pmod(_md5_long(F.col("_g")), F.lit(buckets)).alias("_b")
    ).agg(
        F.count(F.lit(1)).alias("_q_cnt"),
        F.sum(F.when(F.col("_tgt"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )).alias("_p_cnt"),
    )


def _gram_bucket_fn(buckets: int):
    """Python twin of the expression path's
    ``F.pmod(_md5_long(gram), buckets)``: md5 hex[:15] (always
    non-negative) modulo ``buckets``."""
    import hashlib

    def bucket(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % buckets

    return bucket


def dsir_merge_state(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two :func:`dsir_fit_state` count tables — sum-of-sums per
    bucket via the :func:`~ssis_to_dbt_spark.operators.aggregate
    .merge_aggregate` pattern.  Counts are exact integers, so the merged
    state is IDENTICAL to fitting the concatenated corpora directly, and
    the model derived from it is bit-equal to a full refit
    (pytest-proven; driver-oracled as ``dsir_merge`` in
    ``sampling_splits``).  O(buckets) shuffle — never corpus-sized."""
    from ..operators.aggregate import merge_aggregate

    return merge_aggregate(
        state, delta, keys=["_b"], sum_cols=["_q_cnt", "_p_cnt"]
    )


def dsir_model_from_state(state: DataFrame, buckets: int) -> list[int]:
    """Turn a (possibly merged) count state into the dense micro-unit
    ratio table :func:`dsir_score` consumes — the same ``_log_units``
    expressions the fused :func:`dsir_importance` uses, so
    fit-state → model → score reproduces its weights bit-for-bit."""
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    wall = Window.partitionBy()
    rows = state.select(
        "_b",
        (
            _log_units(F.col("_p_cnt") + 1)
            - _log_units(F.sum("_p_cnt").over(wall) + buckets)
            - _log_units(F.col("_q_cnt") + 1)
            + _log_units(F.sum("_q_cnt").over(wall) + buckets)
        ).alias("_r_units"),
        (
            _log_units(F.sum("_q_cnt").over(wall) + buckets)
            - _log_units(F.sum("_p_cnt").over(wall) + buckets)
        ).alias("_default_units"),
    ).collect()
    if not rows:
        return [0] * buckets
    default = rows[0]["_default_units"]
    model = [default] * buckets
    for r in rows:
        model[r["_b"]] = r["_r_units"]
    return model


def dsir_score(
    df: DataFrame,
    model: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a :func:`dsir_fit` model — ENTIRELY map-only:
    the model is a literal table shipped with the kernel (like the k-means
    centroid and JL sign-matrix literals), the per-document weight is an
    in-order integer sum over the grams, and no shuffle, join, or
    aggregation touches the corpus.  At 100 TB this is the shape that
    matters: fitting reads the reference corpus once, and scoring every
    new crawl batch is embarrassingly parallel (zero exchanges —
    plan-pinned).

    Same output contract as :func:`dsir_importance` (``id, n_feats,
    weight_units, gumbel_units``) and — with a model fit on the SAME
    corpus — bit-identical weights, since both sum the same exact integers.

    Kernel: one ``mapInPandas`` pass; the Gumbel term uses Decimal-HALF_UP quantization (Spark's ``F.round``
    mode).  Tokenization replicates the expression form exactly:
    ``F.trim`` strips SPACES only (not tabs/newlines), and Java's regex
    split keeps leading empty tokens — both preserved here
    (``s.strip(' ')`` + ``re.split``).  Test reference: the Column fold
    :func:`_dsir_score_expr` (bit-identical, pytest-pinned on the fixture,
    adversarial whitespace and Unicode).
    """
    buckets = len(model)
    if buckets < 2:
        raise ValueError("model must have >= 2 buckets")
    import hashlib
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import types as T

    mod = [int(u) for u in model]
    ws = _re.compile(r"\s+", _re.ASCII)
    two_pow_61 = 2305843009213693952.0

    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("n_feats", T.LongType()),
            T.StructField("weight_units", T.LongType()),
            T.StructField("gumbel_units", T.LongType()),
        ]
    )
    pre = df.select(F.col(id_col), F.col(text_col).alias("_txt"))
    bucket = _gram_bucket_fn(buckets)

    def gumbel(did) -> int:
        h = int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16)
        u = float(h + 1) / two_pow_61
        x = -math.log(-math.log(u))
        return int(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            * 1_000_000
        )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, nf, wu, gu = [], [], [], []
            for did, s in zip(pdf[id_col], pdf["_txt"]):
                ids.append(did)
                gu.append(gumbel(did))
                if s is None:
                    nf.append(0)
                    wu.append(0)
                    continue
                t = s.strip(" ")
                toks = [] if t == "" else ws.split(t)
                grams = toks + [
                    f"{a} {b}" for a, b in zip(toks, toks[1:])
                ]
                nf.append(len(grams))
                wu.append(sum(mod[bucket(g)] for g in grams))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_feats": nf,
                    "weight_units": wu,
                    "gumbel_units": gu,
                }
            )

    return pre.mapInPandas(gen, schema)


def _dsir_score_expr(
    df: DataFrame,
    model: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Expression test reference for :func:`dsir_score`: the model as a
    literal array and the weight as an in-order ``F.aggregate`` integer
    fold over the staged gram array."""
    buckets = len(model)
    from .dedup import _md5_long

    arr = F.array(*[F.lit(int(u)).cast("long") for u in model])
    toks = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(_ws_tokens(F.col(text_col)))
    # Stage the gram array as a real column: it feeds both the weight fold
    # and n_feats, and HOF lambda bodies get no subexpression elimination.
    staged = df.select(
        F.col(id_col),
        F.coalesce(
            F.concat(toks, _ngrams(toks, 2)), F.array().cast("array<string>")
        ).alias("_ga"),
    )
    weight = F.aggregate(
        F.col("_ga"),
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + F.element_at(
            arr, (F.pmod(_md5_long(g), F.lit(buckets)) + 1).cast("int")
        ),
    )
    u = (_md5_long(F.col(id_col).cast("string")) + 1).cast("double") / F.lit(
        2305843009213693952.0
    )
    g_units = (
        F.round(-F.log(-F.log(u)), 6).cast("decimal(18,6)") * 1_000_000
    ).cast("long")
    return staged.select(
        id_col,
        F.size("_ga").cast("long").alias("n_feats"),
        weight.alias("weight_units"),
        g_units.alias("gumbel_units"),
    )



def dsir_select(scored: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """Gumbel-top-k resampling over :func:`dsir_importance` scores: the k
    rows with the largest ``weight_units + gumbel_units`` (id ascending on
    exact ties) — a sample ``proportional to`` the importance weight, fully
    deterministic because the Gumbel draw is content-addressed.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject (per-partition
    top-k then a k-row merge on the driver) — no global sort at any scale.
    """
    return scored.orderBy(
        (F.col("weight_units") + F.col("gumbel_units")).desc(), id_col
    ).limit(k)
