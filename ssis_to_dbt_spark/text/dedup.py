"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-bounded (never all-pairs):

- exact:     hash-groupBy on normalized text. One shuffle on the 128-bit
             content hash; at 100 TB this is the canonical dedup pass.
- minhash:   shingle -> K minhash signature -> LSH banding -> candidates via
             an equi-join on (band, band_hash). Only near-identical docs
             collide, so the join output is ~linear in the duplicate count.
- simhash:   48-bit sign-fingerprint of token hashes; near-dups share the
             fingerprint (or a band of it) -> equi-join, same cost shape.
- n-gram Jaccard: exact set similarity via an inverted-index join on
             shingles (with a frequent-shingle cap so hot shingles can't
             quadratically blow up a bucket — the standard scale guard).

Everything is built-in Column expressions (higher-order functions, xxhash64)
— no Python UDFs — so the whole pass stays in Tungsten codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from .. import blocks
from ..sources.writers import (
    _next_compact_version,
    _swap_in,
    bucket_count,
    insert_into,
    write_bucketed,
)

# The shapes of the two persisted near-duplicate indexes.  Every write,
# append, compaction and probe bands with these values, so an index is
# always read with the shape it was written with.
# MinHash (text): 8 md5 permutations over word 3-gram shingles, in 4
# bands of 2 values (a pair of Jaccard s shares a band with probability
# 1 - (1 - s^2)^4).
MINHASH_NUM_HASHES = 8
MINHASH_BANDS = 4
MINHASH_SHINGLE_N = 3
# pHash (image): one bit per cell of an 8 x 6 gray grid, 48 bits (the
# value stays positive in a signed 64-bit column), in 12-bit bands.
PHASH_GRID_W = 8
PHASH_GRID_H = 6
PHASH_BITS = PHASH_GRID_W * PHASH_GRID_H
PHASH_BAND_BITS = 12


def _cap_band_members(
    banded: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_bucket_size: int | None,
) -> DataFrame:
    """Deterministically keep only the first ``max_bucket_size`` members
    (ordered by id) of each LSH band bucket before pair generation.

    Without this, a band bucket with m members emits m(m-1)/2 pairs through
    a single join task — and at 100 TB the NORMAL case is duplicate-heavy
    (boilerplate families, mirrored pages), so a hot bucket with 10^6
    members means 5*10^11 pairs. The cap bounds any bucket's output at
    cap^2/2. Truncation rather than bucket dropping (the hot-shingle cap's
    policy in :func:`ngram_jaccard_pairs`): a banded LSH pair has multiple
    chances across bands, but an oversized bucket is exactly where the
    duplicates live, and the kept id-prefix still surfaces a canonical
    representative of every near-dup family in it.

    Cost: a row_number window partitioned on the SAME keys the band join
    shuffles on, so the added exchange is the one the join needed anyway.
    The protection is the post-shuffle cap on the join input (pair output
    <= cap^2/2 per bucket).  A map-side WindowGroupLimit pre-trim is
    available by raising ``spark.sql.optimizer.windowGroupLimitThreshold``
    above the cap, but is deliberately not forced: measured at sf0.1 it
    costs ~12% on clean corpora (rank maintenance sorts every partition)
    while trimming nothing.  Same contract as the embedding-LSH
    ``_cap_bucket_size`` (``text/similarity.py``).
    """
    if max_bucket_size is None:
        return banded
    w = Window.partitionBy(*key_cols).orderBy(id_col)
    return (
        banded.withColumn("_bn", F.row_number().over(w))
        .filter(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def _tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingle(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) of lowercased text.

    Built as ``zip_with`` over n shifted slices of the token array rather
    than ``transform(sequence(...), i -> slice(toks, i, n))``: higher-order
    lambdas are interpreted (no codegen, no subexpression elimination), so an
    expression captured INSIDE a lambda — here the regex tokenizer — would
    re-evaluate once per gram.  The slice formulation evaluates the tokenizer
    n times per document instead of once per gram (~sequence-length times).
    """
    toks = _tokens(text)
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    grams = F.slice(toks, 1, k)
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, k)
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    # Docs shorter than n tokens get ONE shingle = the whole normalized text.
    # An empty shingle set would give every short doc an all-null minhash
    # signature, collapsing all of them into a single quadratic LSH bucket;
    # the whole-text fallback keeps identical short docs pairable while
    # distinct ones stay apart.
    grams = F.when(k > 0, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(grams)


def normalized_text(text: Column) -> Column:
    """Lowercase, trim, collapse whitespace — the exact-dedup canonical form."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def exact_duplicate_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    (content_hash, n_docs, canonical_doc_id)."""
    return (
        df.withColumn("content_hash", F.md5(normalized_text(F.col(text_col))))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical row (min id) per content hash. Plan: hash -> one
    shuffle -> min-aggregate -> semi-join back; no window over all rows."""
    hashed = df.withColumn("content_hash", F.md5(normalized_text(F.col(text_col))))
    canonical = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return hashed.join(canonical, ["content_hash", id_col], "left_semi").drop(
        "content_hash"
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """K-permutation minhash signatures: (id_col, minhash array<bigint>).

    Shape matters here: explode the shingle set ONCE, then take num_hashes
    ``min(xxhash64(i, shingle))`` aggregates in a single groupBy(id).  The
    earlier all-in-one-projection formulation re-inlined the whole shingle
    expression (regex split + slices) into every one of the 64 signature
    lambdas — Catalyst does not CSE across higher-order-function lambdas —
    making it ~100x slower.  This version computes shingles once per doc and
    shuffles once on the doc id (which LSH banding needs anyway).
    """
    sh = df.select(
        F.col(id_col), F.explode(shingle(F.col(text_col), shingle_n)).alias("_sh")
    )
    # r14 perf: the num_hashes min-aggregates and the final array render
    # as SQL text (one parse each) instead of Column-by-Column — the
    # identical expression trees (integer literal permutation ids, same
    # xxhash64 argument types) at O(1) py4j round-trips instead of ~5 per
    # hash; measured seconds of driver time at num_hashes=64
    aggs = [
        F.expr(f"min(xxhash64({i}, _sh)) AS _h{i}")
        for i in range(num_hashes)
    ]
    sigs = sh.groupBy(id_col).agg(*aggs)
    arr = ", ".join(f"_h{i}" for i in range(num_hashes))
    return sigs.selectExpr(
        f"`{id_col}`", f"array({arr}) AS minhash"
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs.

    Banding: the signature splits into ``bands`` bands of ``num_hashes/bands``
    rows; docs agreeing on ANY full band become a candidate pair.  The pair
    generation is groupBy (band_idx, band_hash) -> intra-bucket pairing, an
    equi-join keyed on the band hash: no all-pairs comparison ever happens.
    ``max_bucket_size`` bounds degenerate band buckets (duplicate-heavy
    corpora) via :func:`_cap_band_members`.

    Output: (doc_a, doc_b, est_jaccard) with doc_a < doc_b, est_jaccard =
    fraction of matching signature components.
    """
    rows = num_hashes // bands
    # The signature table feeds THREE consumers (banding + both per-pair
    # signature re-attachments); without materialization each one re-runs
    # the shingle-explode -> 64-min-agg pipeline from the corpus scan.
    # Lazily checkpoint so the first action computes it once and the other
    # two read the materialized table (signatures are id + 64 longs —
    # far smaller than the corpus text).  Same discipline as the md5 twin
    # suite's shared pair pipeline.
    sigs = minhash_signatures(
        df, text_col, num_hashes, shingle_n, id_col
    ).localCheckpoint(eager=False)
    banded = sigs.select(
        id_col,
        "minhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(
                            ",", F.transform(
                                F.slice("minhash", b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            )
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "minhash", "band.band_idx", "band.band_hash")
    banded = _cap_band_members(
        banded, id_col, ["band_idx", "band_hash"], max_bucket_size
    )

    # Pair generation joins on IDS ONLY — carrying the 64-component signature
    # arrays through the band join and the pair dedup would multiply the
    # shuffle width by ~2x64x8 bytes/row.  Signatures re-attach afterwards,
    # once per deduped pair.
    left = banded.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("doc_a")
    )
    right = banded.select(
        F.col("band_idx"), F.col("band_hash"), F.col(id_col).alias("doc_b")
    )
    pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sig_a = sigs.select(F.col(id_col).alias("doc_a"), F.col("minhash").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("doc_b"), F.col("minhash").alias("sig_b"))
    paired = pairs.join(sig_a, "doc_a").join(sig_b, "doc_b")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return paired.select("doc_a", "doc_b", est.alias("est_jaccard"))


def minhash_signatures_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Portable minhash: permutation ``i`` hashes a shingle as
    ``md5(i || ':' || shingle)`` and takes the MIN over the lowercase-hex
    STRING.  Lexicographic order on fixed-width hex equals numeric order on
    the 128-bit value, so the string min is a valid minhash.

    This exists for cross-engine reproducibility (md5 is everywhere; the
    DuckDB oracle runs the identical computation).  The md5 candidate and
    index operators run its Arrow twin
    :func:`minhash_signatures_md5_arrow`; this expression form is the
    twin's test reference.  The xxhash64-based :func:`minhash_signatures`
    is the production hot path — same plan shape, ~4x cheaper hash.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(shingle(F.col(text_col), MINHASH_SHINGLE_N)).alias("_sh"),
    )
    # SQL-text aggregates (r14 perf): identical trees (string-literal
    # permutation prefix, same concat_ws/md5 arguments), one parse each
    aggs = [
        F.expr(f"min(md5(concat_ws(':', '{i}', _sh))) AS _h{i}")
        for i in range(MINHASH_NUM_HASHES)
    ]
    sigs = sh.groupBy(id_col).agg(*aggs)
    arr = ", ".join(f"_h{i}" for i in range(MINHASH_NUM_HASHES))
    return sigs.selectExpr(
        f"`{id_col}`", f"array({arr}) AS minhash"
    )


def minhash_signatures_md5_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow (``mapInPandas``) twin of :func:`minhash_signatures_md5` —
    BIT-IDENTICAL signature arrays (pytest-pinned incl. NULL/blank/Unicode
    edges): same tokenizer twin discipline as the winnow kernel (Spark
    ``split(trim(lower(s)), '\\s+')`` = Python ``lower().strip(' ')`` +
    ASCII ``\\s`` split with kept empty tokens), same distinct word
    shingles with the whole-text fallback for short docs (NULL text falls
    back exactly like the expression path: one empty-string shingle),
    same lowercase-hex-string MIN per permutation.

    Exists because the expression path's floor is the shingle explode +
    8-way min aggregation (one shuffle of ~shingle-count rows, md5 via
    interpreted concat per gram-perm); here each document is one compiled
    pass and NOTHING shuffles — signatures leave the kernel final.  At
    fixture scale the downstream banded self-join dominates (measured: no
    wall-clock change), so this kernel is the LONG-document path: per-doc
    signature cost scales with shingle count, the join with doc count.
    It is the one signature kernel of :func:`minhash_candidates_md5` and
    :func:`corpus_dedup_index` (and so of every dedup-index write, append
    and cross-corpus probe).  md5 only, like every Arrow kernel (xxhash64
    has no guaranteed Python twin)."""
    import hashlib
    import re as _re

    from pyspark.sql import types as T

    ws = _re.compile(r"\s+", _re.ASCII)
    n = MINHASH_SHINGLE_N
    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("minhash", T.ArrayType(T.StringType())),
        ]
    )
    pre = df.select(F.col(id_col), F.col(text_col).alias("_txt"))
    prefixes = [f"{i}:".encode() for i in range(MINHASH_NUM_HASHES)]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, sigs = [], []
            for did, txt in zip(pdf[id_col], pdf["_txt"]):
                toks = ws.split(
                    ("" if txt is None else txt).lower().strip(" ")
                )
                k = len(toks) - n + 1
                if k > 0:
                    grams = set(
                        " ".join(toks[i : i + n]) for i in range(k)
                    )
                else:
                    grams = {" ".join(toks)}
                enc = [g.encode("utf-8") for g in grams]
                sig = [
                    min(hashlib.md5(p + e).hexdigest() for e in enc)
                    for p in prefixes
                ]
                ids.append(did)
                sigs.append(sig)
            yield pd.DataFrame({id_col: ids, "minhash": sigs})

    return pre.mapInPandas(gen, schema)


def minhash_candidates_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """MinHash+LSH candidate pairs on the portable md5 signatures — same
    banded equi-join shape as :func:`minhash_candidates` (no all-pairs,
    band buckets capped via :func:`_cap_band_members`), fully reproducible
    on any engine with md5.  The signatures come from the Arrow kernel
    :func:`minhash_signatures_md5_arrow`; the expression form
    :func:`minhash_signatures_md5` is its test reference (bit-identical,
    pytest-pinned).  Bands as the dedup index does
    (:func:`_band_signature_table`)."""
    # Three consumers (banding + both signature re-attachments): materialize
    # the signature table once instead of re-running the signature kernel
    # from the corpus scan for each (same as the xxhash64 path).
    sigs = minhash_signatures_md5_arrow(df, text_col, id_col).localCheckpoint(
        eager=False
    )
    banded = _band_signature_table(sigs, id_col, max_bucket_size)
    left = banded.select("band_idx", "band_hash", F.col(id_col).alias("doc_a"))
    right = banded.select("band_idx", "band_hash", F.col(id_col).alias("doc_b"))
    pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sig_a = sigs.select(F.col(id_col).alias("doc_a"), F.col("minhash").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("doc_b"), F.col("minhash").alias("sig_b"))
    paired = pairs.join(sig_a, "doc_a").join(sig_b, "doc_b")
    return paired.select("doc_a", "doc_b", _est_jaccard().alias("est_jaccard"))


def _est_jaccard() -> Column:
    """The fraction of equal components of the signature columns
    ``sig_a`` and ``sig_b``: a multiple of ``1 / MINHASH_NUM_HASHES``,
    so exact in a double."""
    return (
        F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda m: m)
        ).cast("double")
        / F.lit(float(MINHASH_NUM_HASHES))
    )


def _md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT (15 hex chars — the
    widest prefix that fits a signed 64-bit int on every engine)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _simhash_vote_aggs(bits: int) -> list[Column]:
    """The per-bit ±1 vote aggregates over the staged token hash ``_h``,
    rendered as SQL text (r14 perf): identical trees to the Column
    formulation (integer literals, same CASE/shiftright/& shape) at one
    py4j round-trip per bit instead of ~8."""
    return [
        F.expr(
            f"sum(CASE WHEN (shiftright(_h, {j}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS _v{j}"
        )
        for j in range(bits)
    ]


def _simhash_fp_sql(bits: int) -> str:
    """The fingerprint fold over the ``_v{j}`` vote columns — the same
    left-associated sum of CASE terms the Column loop built, as one SQL
    string (exact integer arithmetic either way)."""
    return " + ".join(
        f"CASE WHEN _v{j} > 0 THEN CAST({1 << j} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    ) + " AS simhash"


def simhash_md5_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Portable SimHash: per-token md5-derived 60-bit hash, per-bit ±1 votes
    summed over tokens (duplicates counted), fingerprint bit b set when the
    vote is strictly positive.  One explode + one groupBy(id) with ``bits``
    integer aggregates — a single shuffle, exactly reproducible in SQL.
    Production path is :func:`simhash` (xxhash64, 48 bits, no explode).

    The token hash is materialized as a projection column BEFORE the
    aggregation: embedding it in each of the ``bits`` aggregate inputs
    leaves md5+conv re-evaluated per aggregate (codegen CSE does not span
    hash-aggregate function inputs; measured ~18% on the cheaper xxhash
    variant, more here since md5 is costlier)."""
    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("_tok")
    ).select(id_col, _md5_long(F.col("_tok")).alias("_h"))
    votes = toks.groupBy(id_col).agg(*_simhash_vote_aggs(bits))
    return votes.selectExpr(f"`{id_col}`", _simhash_fp_sql(bits))


def simhash_md5_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    band_bits: int = 16,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Hamming-ball blocking on the portable md5 SimHash: docs sharing any
    ``band_bits``-wide band of the fingerprint pair up via an equi-join on
    the band value (same cost shape as :func:`simhash_candidates`, band
    buckets capped via :func:`_cap_band_members`)."""
    sh = simhash_md5_fingerprints(df, id_col, text_col, bits)
    return hamming_candidates(
        sh, id_col=id_col, fp_col="simhash", bits=bits,
        band_bits=band_bits, max_bucket_size=max_bucket_size,
    )


def simhash(text: Column, bits: int = 48) -> Column:
    """SimHash fingerprint (<=62 bits so the value fits a signed BIGINT).

    Per token: xxhash64; per bit b: +1 if bit set else -1, summed over
    tokens; fingerprint bit b is 1 when the sum is positive.

    The token hash is hoisted into its own ``transform`` so each token is
    xxhashed ONCE — a lambda body referencing the captured token expression
    would re-evaluate the hash per bit (``bits``× the work; HOF lambdas run
    interpreted with no subexpression elimination).  Prefer
    :func:`simhash_fingerprints` on DataFrames: explode + codegen'd integer
    aggregates beat interpreted array folds.
    """
    # one xxhash per token; lambda vars are plain variable reads afterwards
    hashes = F.transform(_tokens(text), lambda t: F.xxhash64(t))
    # bit positions are Python ints (shiftright requires literal shift widths)
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for b in range(bits)
                ]
            ),
            lambda a, c: a + c,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            F.array(*[F.lit(1 << b).cast("long") for b in range(bits)]),
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
) -> DataFrame:
    """Production SimHash over a DataFrame: explode tokens, xxhash each ONCE,
    sum per-bit ±1 votes with ``bits`` codegen'd integer aggregates behind a
    single doc_id shuffle — the whole-stage-codegen shape of
    :func:`simhash_md5_fingerprints`, identical votes to :func:`simhash`.

    ``xxhash64`` is materialized in the projection before the aggregation:
    referencing it inside each of the ``bits`` aggregate inputs re-evaluates
    the hash per aggregate (no CSE across hash-aggregate function inputs —
    measured 1.77 s -> 1.45 s at sf0.1, identical fingerprints)."""
    toks = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("_tok")
    ).select(id_col, F.xxhash64(F.col("_tok")).alias("_h"))
    votes = toks.groupBy(id_col).agg(*_simhash_vote_aggs(bits))
    return votes.selectExpr(f"`{id_col}`", _simhash_fp_sql(bits))


def _hamming_banded(
    fp_df: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int,
    band_bits: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Band a ``(id, fingerprint)`` relation into the capped
    ``(id, _fp, band_idx, band_val)`` blocking relation — the Hamming
    twin of :func:`_band_signature_table` (banding is a pure function of
    the fingerprint, which is what lets :func:`compact_phash_index`
    rebuild the index from stored rows without re-decoding any media).
    NULL fingerprints (quarantined decodes) drop out before banding."""
    n_bands = bits // band_bits
    banded = fp_df.filter(F.col(fp_col).isNotNull()).select(
        id_col,
        F.col(fp_col).alias("_fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col(fp_col), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "_fp", "band.band_idx", "band.band_val")
    return _cap_band_members(
        banded, id_col, ["band_idx", "band_val"], max_bucket_size
    )


def hamming_candidates(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    *,
    bits: int,
    band_bits: int,
    max_bucket_size: int | None = 10_000,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """Hamming-ball candidate blocking over an EXISTING fingerprint
    column (r13): items sharing any ``band_bits``-wide band of the
    ``bits``-bit fingerprint pair up via an equi-join on the band value,
    skew-capped per band bucket (:func:`_cap_band_members`) — never
    all-pairs.  The shared core of :func:`simhash_candidates` /
    :func:`simhash_md5_candidates`, factored out so NON-text
    fingerprints (perceptual image hashes,
    :func:`~ssis_to_dbt_spark.text.multimodal.image_phash`) block
    through the identical machinery.  NULL fingerprints (quarantined
    decodes) drop out before banding.  Returns
    ``(out_a, out_b, hamming_distance)``."""
    # Both sides of the band self-join reference this table; materialize
    # it once (id + fingerprint + band cols) instead of re-running the
    # fingerprint pipeline from the source scan for each side.
    banded = _hamming_banded(
        fp_df, id_col, fp_col, bits, band_bits, max_bucket_size
    ).localCheckpoint(eager=False)
    left = banded.select(
        "band_idx", "band_val",
        F.col(id_col).alias(out_a), F.col("_fp").alias("_fp_a"),
    )
    right = banded.select(
        "band_idx", "band_val",
        F.col(id_col).alias(out_b), F.col("_fp").alias("_fp_b"),
    )
    hamming = F.bit_count(F.col("_fp_a").bitwiseXOR(F.col("_fp_b")))
    return (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col(out_a) < F.col(out_b))
        .dropDuplicates([out_a, out_b])
        .select(out_a, out_b, hamming.alias("hamming_distance"))
    )


def phash_candidates(
    fp_df: DataFrame,
    id_col: str = "media_id",
    fp_col: str = "phash",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Perceptual-hash image near-dup candidates (r13, r12 VERDICT #5):
    Hamming-band blocking over
    :func:`~ssis_to_dbt_spark.text.multimodal.image_phash` output —
    rescaled/re-encoded copies of an image land at Hamming distance 0-2
    and share bands; filter ``hamming_distance <= t`` downstream for
    the match threshold.  Returns ``(media_a, media_b,
    hamming_distance)``.  100 TB: blocking touches only the
    1-row-per-image hash relation; per-band buckets are skew-capped."""
    return hamming_candidates(
        fp_df, id_col=id_col, fp_col=fp_col, bits=PHASH_BITS,
        band_bits=PHASH_BAND_BITS, max_bucket_size=max_bucket_size,
        out_a="media_a", out_b="media_b",
    )


# ---------------------------------------------------------------------------
# Persisted perceptual-hash dedup index (r14, r13 VERDICT #2): the image
# modality's mirror of the text corpus dedup index.  One BUCKETED table
# ``{prefix}_phash`` on the band join key (band_idx, band_val) holding
# (id, _fp, band_idx, band_val, _ib) — the 8-byte fingerprint rides on
# every band row, so there is no second signatures table to keep in
# lock-step (the text index needs one because minhash signatures are
# wide; re-banding here is a pure function of _fp).  Storage is UNCAPPED
# and the per-band skew cap applies at PROBE time instead — a window
# over the bucketed+sorted join key, which is exchange-free — so a
# pathological batch can never evict an image's fingerprint from the
# index the way a storage-side cap could.
# ---------------------------------------------------------------------------

# Stored bytes per band row (snappy parquet, one bucket), measured on
# written indexes of random fingerprints: 13.1 at 100,000 images
# (400,000 rows, 5,233,048 bytes), 12.6 at 1,000,000 images (50,407,303
# bytes).
_PHASH_ROW_BYTES = 13


def _write_phash_table(banded, fps, table: str, path: str):
    """Write ``banded`` as the bucketed index table, its bucket count
    sized by the row count of ``fps`` (its lazily checkpointed
    fingerprints, materialized here in one job and released after)."""
    n_rows = blocks.materialize(fps) * (PHASH_BITS // PHASH_BAND_BITS)
    write_bucketed(
        banded, table, path, ["band_idx", "band_val"],
        bucket_count(fps.sparkSession, n_rows * _PHASH_ROW_BYTES),
        sort_cols=["band_idx", "band_val"],
    )
    blocks.release(fps)


def write_phash_index(
    fp_df: DataFrame,
    table_prefix: str,
    path_prefix: str,
    id_col: str = "media_id",
    fp_col: str = "phash",
) -> str:
    """Persist an image-fingerprint dedup index as a bucketed table (the
    text twin is :func:`write_corpus_dedup_index`).  Against the bucketed
    layout a batch probe's band join reads matching buckets with zero
    corpus-side Exchange; only the batch side shuffles (or broadcasts).
    Rows carry the ``_ib`` ingest-batch tag (``-1`` for the seed) —
    the replay-idempotency contract of the text index, verbatim.
    Returns the table name.

    The bucket count is sized by counting the fingerprints
    (:func:`~ssis_to_dbt_spark.sources.writers.bucket_count`).  100 TB:
    the table is ``PHASH_BITS // PHASH_BAND_BITS`` rows x ~13 bytes per
    image — at 10^9 images that is ~52 GB of index in 512 buckets for
    petabytes of media, and probes touch only the batch's band buckets."""
    fps = fp_df.select(id_col, fp_col).localCheckpoint(eager=False)
    _write_phash_table(
        _hamming_banded(
            fps, id_col, fp_col, PHASH_BITS, PHASH_BAND_BITS, None
        ).select("*", F.lit(-1).cast("long").alias("_ib")),
        fps, f"{table_prefix}_phash", f"{path_prefix}_phash",
    )
    return f"{table_prefix}_phash"


def _heal_phash_compaction(spark, table_prefix: str) -> None:
    """Finish a :func:`compact_phash_index` swap a crash left half-done.
    Single-table swap, so the states are unambiguous without a marker
    (unlike the two-table text index, there is no lock-step problem):

    - live present + stage present -> crashed before the DROP (the stage
      may be partial): drop the stage; the live table was never touched
      and compaction re-runs later.
    - live MISSING + stage present -> crashed between DROP and RENAME
      (the stage is complete by construction — the swap only starts
      after the staged write fully returns): rename the stage in.
    """
    live = f"{table_prefix}_phash"
    stage = f"{table_prefix}_phash_cstage"
    if not spark.catalog.tableExists(stage):
        return
    if spark.catalog.tableExists(live):
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
        return
    spark.sql(f"ALTER TABLE {stage} RENAME TO {live}")


def read_phash_index(
    spark, table_prefix: str, with_batch_tag: bool = False
) -> DataFrame:
    """Load a persisted phash index (heals a crashed compaction swap
    first — same read-time contract as the text/BM25/IVF indexes).
    The ``_ib`` tag drops unless ``with_batch_tag=True``."""
    _heal_phash_compaction(spark, table_prefix)
    t = spark.table(f"{table_prefix}_phash")
    return t if with_batch_tag else t.drop("_ib")


def append_phash_index(
    batch_fp: DataFrame,
    table_prefix: str,
    id_col: str = "media_id",
    fp_col: str = "phash",
    batch_id: int | None = None,
    new_bands: DataFrame | None = None,
) -> None:
    """Append a batch's fingerprints to the stored index — linear in new
    images, never a rebuild; the rows are matched to the table's columns
    by name and keep its bucket spec (``writers.insert_into``).

    r10 replay-idempotency contract (mirrors
    :func:`append_corpus_dedup_index`): with a ``batch_id`` the append
    is SKIPPED when rows with that ``_ib`` tag already exist, so a
    replayed micro-batch never double-appends.  ``new_bands`` reuses an
    already-derived banded relation (the ingest arm derives it once for
    the probe)."""
    index = read_phash_index(
        batch_fp.sparkSession, table_prefix, with_batch_tag=True
    )
    tag_val = -1 if batch_id is None else int(batch_id)
    if batch_id is not None and index.filter(F.col("_ib") == tag_val).take(1):
        return
    banded = (
        new_bands
        if new_bands is not None
        else _hamming_banded(
            batch_fp, id_col, fp_col, PHASH_BITS, PHASH_BAND_BITS, None
        )
    )
    insert_into(
        banded.select("*", F.lit(tag_val).cast("long").alias("_ib")),
        f"{table_prefix}_phash",
    )


def phash_index_band_audit(
    spark,
    table_prefix: str,
    max_bucket_size: int = 10_000,
    tags_below: int | None = None,
) -> DataFrame:
    """Band buckets whose lifetime membership exceeds
    ``max_bucket_size`` — the signal that probe-time capping is
    discarding candidates (the cap keeps fan-out bounded but an
    over-cap bucket means matches inside it can be missed) and that a
    re-crawl/replay has accumulated duplicate rows worth compacting.
    Exchange-free: the groupBy key is the table's bucketing key.
    ``tags_below`` restricts to batches < N for replay-stable audits."""
    bands = spark.table(f"{table_prefix}_phash")
    if tags_below is not None:
        bands = bands.filter(F.col("_ib") < int(tags_below))
    return (
        bands.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > int(max_bucket_size))
        .orderBy(F.col("n_members").desc(), "band_idx", "band_val")
    )


def compact_phash_index(
    spark,
    table_prefix: str,
    path_prefix: str,
    id_col: str = "media_id",
    cleanup: bool = True,
    keep_tags_at_or_above: int | None = None,
) -> None:
    """Rebuild the index table FROM ITS STORED ROWS — never re-decoding
    media: dedupe per image keeping the NEWEST ``_ib`` fingerprint (a
    replayed append's rows are exact copies; a re-crawled id keeps its
    latest hash) and re-band.  Staged single-table swap under a fresh
    versioned path; a crash anywhere heals on the next read
    (:func:`_heal_phash_compaction`).  ``keep_tags_at_or_above``: rows
    tagged ``>= N`` pass through verbatim (the streaming handler's
    replay-stability contract, as in
    :func:`compact_corpus_dedup_index`).  Counting the deduped
    fingerprints re-sizes the bucket count (pass-through rows, one
    batch's, are not counted)."""
    table = f"{table_prefix}_phash"
    raw = read_phash_index(spark, table_prefix, with_batch_tag=True)
    pass_rows = None
    if keep_tags_at_or_above is not None:
        lim = int(keep_tags_at_or_above)
        pass_rows = raw.filter(F.col("_ib") >= lim)
        raw = raw.filter(F.col("_ib") < lim)
    # newest fingerprint per id from the stored band rows (any band row
    # carries the full _fp) — one id-keyed reduction, then re-band
    w = Window.partitionBy(id_col).orderBy(F.col("_ib").desc())
    fps = (
        raw.select(id_col, "_fp", "_ib")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=False)
    )
    banded = _hamming_banded(
        fps, id_col, "_fp", PHASH_BITS, PHASH_BAND_BITS, None
    ).join(fps.select(id_col, "_ib"), id_col)
    if pass_rows is not None:
        banded = banded.unionByName(pass_rows.select(*banded.columns))
    k = _next_compact_version(spark, path_prefix, ("phash",))
    stage = f"{table_prefix}_phash_cstage"
    _write_phash_table(
        banded, fps, stage, f"{path_prefix}_phash_compact_v{k}"
    )
    _swap_in(spark, stage, table, cleanup)


def phash_probe_index(
    spark,
    batch_fp: DataFrame,
    table_prefix: str,
    max_hamming: int = 2,
    id_col: str = "media_id",
    fp_col: str = "phash",
    max_bucket_size: int | None = 10_000,
    exclude_tag: int | None = None,
) -> DataFrame:
    """Probe a batch of fingerprints against the persisted index:
    ``(batch_id_col, index_id, hamming_distance)`` for every
    batch-vs-index pair within ``max_hamming``.  The per-band cap
    applies to BOTH sides here (probe-time capping — the index side's
    cap window partitions by the bucketed+sorted key, so it is
    exchange-free).  ``exclude_tag`` drops index rows tagged with the
    probing batch's own ``_ib`` — a replayed batch must not self-reject
    against rows its crashed first attempt appended."""
    idx = read_phash_index(spark, table_prefix, with_batch_tag=True)
    if exclude_tag is not None:
        idx = idx.filter(F.col("_ib") != int(exclude_tag))
    idx = _cap_band_members(
        idx.drop("_ib"), id_col, ["band_idx", "band_val"], max_bucket_size
    )
    probe = _hamming_banded(
        batch_fp, id_col, fp_col, PHASH_BITS, PHASH_BAND_BITS,
        max_bucket_size,
    )
    left = probe.select(
        "band_idx", "band_val",
        F.col(id_col).alias("batch_id_"), F.col("_fp").alias("_fp_b"),
    )
    right = idx.select(
        "band_idx", "band_val",
        F.col(id_col).alias("index_id"), F.col("_fp").alias("_fp_i"),
    )
    hamming = F.bit_count(F.col("_fp_b").bitwiseXOR(F.col("_fp_i")))
    return (
        left.join(right, ["band_idx", "band_val"])
        .select(
            F.col("batch_id_").alias(id_col),
            "index_id",
            hamming.alias("hamming_distance"),
        )
        .filter(F.col("hamming_distance") <= int(max_hamming))
        .dropDuplicates([id_col, "index_id"])
    )


def phash_keep_one(
    fp_df: DataFrame,
    id_col: str = "media_id",
    fp_col: str = "phash",
    max_hamming: int = 2,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Within-batch keep-one: cluster the batch's Hamming-``<=t`` pairs
    via min-label connected components and keep each cluster's canonical
    (minimum-id) member — the image twin of the text loop's
    within-batch :func:`prune_clusters` step.  Returns ``fp_df``
    filtered to survivors (NULL-fingerprint rows pass through: a
    quarantined decode is not a duplicate of anything)."""
    cand = hamming_candidates(
        fp_df, id_col=id_col, fp_col=fp_col, bits=PHASH_BITS,
        band_bits=PHASH_BAND_BITS, max_bucket_size=max_bucket_size,
        out_a="_a", out_b="_b",
    ).filter(F.col("hamming_distance") <= int(max_hamming))
    comp = connected_components(cand, "_a", "_b")
    losers = comp.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return fp_df.join(losers, id_col, "left_anti")


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    band_bits: int = 12,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dup candidates: docs sharing any ``band_bits``-wide band
    of the fingerprint (Hamming-ball blocking, equi-join on band value;
    band buckets capped via :func:`_cap_band_members`)."""
    sh = simhash_fingerprints(df, id_col, text_col, bits)
    return hamming_candidates(
        sh, id_col=id_col, fp_col="simhash", bits=bits,
        band_bits=band_bits, max_bucket_size=max_bucket_size,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    max_shingle_docs: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted-index join.

    explode(shingles) -> (shingle, doc); self-join on shingle counts the
    intersection per doc pair; |A| + |B| - inter gives the union.  The
    ``max_shingle_docs`` cap drops shingles present in more than that many
    docs (stopword-grams) — the standard guard that keeps a hot shingle from
    creating a quadratic bucket at scale.
    """
    sh = df.select(
        F.col(id_col), F.explode(shingle(F.col(text_col), shingle_n)).alias("sh")
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_docs is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_docs)
            .select("sh")
        )
        sh = sh.join(hot, "sh", "left_anti")
    a = sh.select(F.col("sh"), F.col(id_col).alias("doc_a"))
    b = sh.select(F.col("sh"), F.col(id_col).alias("doc_b"))
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("intersection").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("intersection")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    the MOSS algorithm): hash every ``k``-token gram, slide a window of
    ``w`` consecutive hashes, select each window's minimum (rightmost on
    ties — the 'robust winnowing' rule that minimizes fingerprint count),
    and emit the distinct selected ``(hash, position)`` pairs.

    Guarantees: any shared token run of length >= ``w + k - 1`` between two
    documents yields at least one shared fingerprint, while only ~``2/(w+1)``
    of all gram hashes are kept — the density/recall tradeoff that makes
    whole-corpus fingerprint joins tractable.

    Tokenization follows Spark ``split(trim(lower(s)), '\\s+')`` semantics
    (lowercased, space-only trim, ASCII ``\\s``, leading/trailing empty
    tokens preserved); gram hashes are 60-bit md5-prefix BIGINTs the DuckDB
    oracle reproduces exactly.  Kernel: one ``mapInPandas`` pass doing the
    window fold as w vectorized numpy passes per Arrow batch — map-only,
    no shuffle, no driver traffic.  Test reference: the expression form
    :func:`_winnow_fingerprints_expr` (bit-identical selected sets,
    pytest-pinned).  Returns (id, fp_hash, fp_pos) rows."""
    import hashlib
    import re as _re

    import numpy as np

    from pyspark.sql import types as T

    ws = _re.compile(r"\s+", _re.ASCII)
    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("fp_hash", T.LongType()),
            T.StructField("fp_pos", T.IntegerType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids_out: list = []
            hs_out: list = []
            ps_out: list = []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                toks = ws.split(txt.lower().strip(" "))
                if len(toks) < k:
                    continue
                n_g = len(toks) - k + 1
                if n_g < w:
                    continue
                hs = np.empty(n_g, dtype=np.int64)
                for i in range(n_g):
                    g = " ".join(toks[i : i + k])
                    hs[i] = int(
                        hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16
                    )
                m = n_g - w + 1
                acc_h = hs[:m].copy()
                acc_p = np.arange(1, m + 1, dtype=np.int64)
                for o in range(1, w):
                    x_h = hs[o : o + m]
                    keep = x_h <= acc_h  # rightmost on ties
                    acc_h = np.where(keep, x_h, acc_h)
                    acc_p = np.where(keep, np.arange(o + 1, o + m + 1), acc_p)
                seen = set(zip(acc_h.tolist(), acc_p.tolist()))
                for h, p in seen:
                    ids_out.append(did)
                    hs_out.append(h)
                    ps_out.append(p)
            if ids_out:
                yield pd.DataFrame(
                    {id_col: ids_out, "fp_hash": hs_out, "fp_pos": ps_out}
                )

    return df.select(id_col, text_col).mapInPandas(gen, schema)


def _winnow_fingerprints_expr(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Expression test reference for :func:`winnow_fingerprints`: one
    ``transform`` over window starts, each folding its ``w``-slice with a
    rightmost-min ``zip_with`` fold — O(n*w) interpreted HOF ops per doc,
    map-only, no shuffle.  Same 60-bit md5-prefix gram hashes and the same
    selected ``(hash, pos)`` sets as the Arrow kernel (pytest-pinned)."""
    toks = _tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = F.transform(
        grams,
        lambda g, i: F.struct(_md5_long(g).alias("h"), (i + 1).alias("p")),
    )
    # Materialize the hashed-gram array ONCE per row before the window scan:
    # a per-window slice over the raw expression would re-evaluate the whole
    # md5 array for every window (O(n^2) hashing — measured 100x slower).
    # The window minimum is instead built by folding w shifted copies of the
    # SAME materialized column with zip_with: windows[j] = min(pairs[j..j+w-1]),
    # rightmost on ties (<= keeps the later element), O(n*w) cheap struct ops.
    base = df.select(F.col(id_col), pairs.alias("_prs"))
    prs = F.col("_prs")
    n = F.size(prs)

    def keep_right(a, x):
        keep = x.getField("h") <= a.getField("h")
        return F.struct(
            F.when(keep, x.getField("h")).otherwise(a.getField("h")).alias("h"),
            F.when(keep, x.getField("p")).otherwise(a.getField("p")).alias("p"),
        )

    win = F.slice(prs, 1, n - F.lit(w - 1))
    for o in range(1, w):
        win = F.zip_with(win, F.slice(prs, 1 + o, n - F.lit(w - 1)), keep_right)
    selected = F.when(n >= w, F.array_distinct(win)).otherwise(
        F.array().cast("array<struct<h:bigint,p:int>>")
    )
    return base.select(F.col(id_col), F.explode(selected).alias("_fp")).select(
        id_col,
        F.col("_fp.h").alias("fp_hash"),
        F.col("_fp.p").alias("fp_pos"),
    )


def winnow_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_hash_docs: int | None = 1000,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowing fingerprints:
    inverted-index self-join on fp_hash, count distinct shared hashes per
    pair, keep pairs sharing >= ``min_shared``.  ``max_hash_docs`` drops
    hashes present in more than that many docs (boilerplate grams) — the
    same hot-bucket guard as :func:`ngram_jaccard_pairs`, keeping the join
    linear on duplicate-heavy corpora.  Pass ``fingerprints`` (a
    :func:`winnow_fingerprints` frame, e.g. persisted/checkpointed) to
    reuse an existing selection pass instead of re-scanning the corpus."""
    if fingerprints is None:
        fingerprints = winnow_fingerprints(df, id_col, text_col, k, w)
    fp = fingerprints.select(id_col, "fp_hash").distinct()
    if max_hash_docs is not None:
        hot = (
            fp.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_hash_docs)
            .select("fp_hash")
        )
        fp = fp.join(hot, "fp_hash", "left_anti")
    a = fp.select("fp_hash", F.col(id_col).alias("doc_a"))
    b = fp.select("fp_hash", F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_containment: float = 0.5,
    max_shingle_docs: int | None = 1000,
) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|.

    Jaccard misses the doc-inside-doc case (a page quoted verbatim inside a
    much larger page scores a tiny union-normalized similarity); containment
    normalizes by |A| alone, so a small doc fully embedded in a big one
    scores 1.0.  Same inverted-index shape as :func:`ngram_jaccard_pairs` —
    explode → shingle equi-join → per-pair count — but the pair is emitted
    directionally (contained_id, container_id), both directions when mutual.
    The ``max_shingle_docs`` hot-shingle cap bounds the worst bucket, so no
    join bucket goes quadratic at corpus scale.
    """
    sh = df.select(
        F.col(id_col), F.explode(shingle(F.col(text_col), shingle_n)).alias("sh")
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_docs is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_docs)
            .select("sh")
        )
        sh = sh.join(hot, "sh", "left_anti")
    a = sh.select(F.col("sh"), F.col(id_col).alias("contained_id"))
    b = sh.select(F.col("sh"), F.col(id_col).alias("container_id"))
    inter = (
        a.join(b, "sh")
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.select(
        F.col(id_col).alias("contained_id"), F.col("n_sh").alias("n_contained")
    )
    cont = F.col("intersection").cast("double") / F.col("n_contained").cast(
        "double"
    )
    return (
        inter.join(sa, "contained_id")
        .select("contained_id", "container_id", cont.alias("containment"))
        .filter(F.col("containment") >= min_containment)
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word ``shingle_n``-gram with an evaluation/benchmark set (the GPT-3 /
    PaLM-style n-gram-overlap contamination check a training pipeline must
    run before every data release).

    Returns one row per contaminated training document:
    (id, n_shared = number of distinct training-side shingles that also
    occur anywhere in the eval set).

    Scale shape: the eval set is tiny relative to 100 TB of training data,
    so its DISTINCT shingle set is broadcast (``broadcast_eval=True``) and
    the check is a map-side semi-join over the exploded training shingles —
    the training corpus itself never shuffles.  With a large eval side,
    disable the hint and the same plan runs as a shuffled equi-join on the
    shingle key (inverted-index shape, like every dedup join here).
    Documents shorter than ``shingle_n`` tokens fall back to a whole-text
    shingle (see :func:`shingle`), i.e. short docs are flagged only on an
    exact normalized-text match.
    """
    tr = train.select(
        F.col(id_col), F.explode(shingle(F.col(text_col), shingle_n)).alias("sh")
    )
    ev = eval_set.select(
        F.explode(shingle(F.col(text_col), shingle_n)).alias("sh")
    ).distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        tr.join(ev, "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def duplicate_spans(
    df: DataFrame,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-duplication detection (the ExactSubstr variant of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499, re-expressed for Spark): fingerprint every
    ``w``-token window of every document; a window whose fingerprint occurs
    ``>= min_count`` times anywhere in the corpus — other documents OR the
    same document — marks a duplicated span.  Any duplicated substring of
    length >= w tokens necessarily contains a duplicated window, so
    stride-1 windows give exact w-gram coverage.

    This is distinct from the pairwise doc-similarity family (minhash /
    jaccard / containment): it localizes WHICH spans are duplicated, the
    per-span removal signal an LLM curation pipeline applies.

    Returns one row per document that has at least one window (>= w
    tokens): ``(id_col, n_spans, n_dup_spans, first_dup_pos)`` with
    ``first_dup_pos`` the 0-based token index of the earliest duplicated
    window (NULL when the document has none).

    Scale shape: suffix arrays don't distribute; the rolling fingerprint
    table is the standard scalable formulation.  Window construction
    explodes POSITIONS from a generator over the materialized token array —
    the generate output carries ``_tk`` as a real attribute, so each window
    row is one codegen'd ``slice`` + ``concat_ws`` + ``md5`` with zero
    interpreted lambdas (a zip_with-over-w-shifted-slices chain benched 3x
    slower: w-1 interpreted passes allocating intermediate strings per
    window).  The array never crosses a shuffle: the fingerprint projection
    drops it inside the same stage.  Then ONE shuffle groups identical
    fingerprints to count occurrences (inverted-index shape, like the
    jaccard family) and a second groupBy on ``id_col`` folds the flags into
    per-document stats — both keyed aggregations, never all-pairs.
    Fingerprints are md5 of the window text (engine-portable, so the span
    table is oracle-checkable); swap xxhash64 for production-scale runs
    where the oracle twin is not needed.
    """
    positions = F.explode(
        F.when(
            F.size("_tk") >= w, F.sequence(F.lit(0), F.size("_tk") - w)
        ).otherwise(F.array().cast("array<int>"))
    )
    sp = (
        df.select(F.col(id_col), _tokens(F.col(text_col)).alias("_tk"))
        .select(id_col, "_tk", positions.alias("pos"))
        .select(
            id_col,
            "pos",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("_tk"), F.col("pos") + 1, w))
            ).alias("_h"),
        )
    )
    counts = sp.groupBy("_h").agg(F.count(F.lit(1)).alias("_n_occ"))
    dup = F.col("_n_occ") >= min_count
    return (
        sp.join(counts, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_dup_spans"),
            F.min(F.when(dup, F.col("pos"))).alias("first_dup_pos"),
        )
    )


def _star_contraction(edges: DataFrame, max_rounds: int = 60) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): each round connects
    every node's larger neighbors to its neighborhood minimum (large-star),
    then its smaller neighbors to the minimum of the downward neighborhood
    (small-star).  Converges to per-component stars (node -> component min)
    in O(log^2 n) rounds on ANY graph shape — including the long chains that
    defeat plain min-label propagation, whose round count is the graph
    diameter.  Per-round cost: two groupBy+join pairs on node ids, same
    shuffle shape as one min-label round.

    Input/output edges are (src, dst); output rows are star edges
    ``node -> component_min`` (roots carry no row — add them when deriving
    labels)."""
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_rounds):
        sym = cur.union(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("_md"))
        mins = mins.select("src", F.least("_md", "src").alias("m"))
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        oriented = (
            large.select(
                F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        smins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            oriented.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .union(smins.select(F.col("u").alias("src"), F.col("m").alias("dst")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # r14 perf (r13 VERDICT #6): ONE convergence job per round
        # instead of three — the round checkpoint is lazy (this first
        # consumer materializes it), and the two-sided multiset
        # difference collapses to one union-of-anti-joins probe (both
        # sides are DISTINCT edge sets, so anti-join equals exceptAll).
        converged = (
            out.join(cur, ["src", "dst"], "left_anti")
            .union(cur.join(out, ["src", "dst"], "left_anti"))
            .limit(1)
            .count()
            == 0
        )
        cur = out
        if converged:
            return cur
    raise RuntimeError(
        f"star contraction did not converge in {max_rounds} rounds"
    )


CC_COLLECT_MAX_EDGES = 200_000
CC_MIN_LABEL_ROUNDS = 8


def _driver_union_find(spark, rows, node_type: str) -> DataFrame:
    """Exact min-label connected components over a BOUNDED collected edge
    list (union-find with min-root canonicalization — the root of every
    tree is its member minimum by induction, so ``find(n)`` IS the
    component's minimum id).  Returns the ``(node, label)`` relation as a
    JVM LocalRelation.  Values are identical to the distributed
    propagation: both compute label = min id of the connected component,
    over exactly the nodes appearing in the edge list (self-loop-only
    nodes keep their own id)."""
    from ..local_rel import local_rows_df

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    labels = sorted((n, find(n)) for n in parent)
    return local_rows_df(
        spark, labels, f"node {node_type}, label {node_type}"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: ``(node, label)`` where
    ``label`` is the minimum id in the node's connected component — the
    step after candidate generation that picks one canonical document per
    duplicate cluster (keep ``node == label``, drop the rest).

    The measured edge count picks the engine:

    - at or under ``CC_COLLECT_MAX_EDGES`` (200k edges — a few MB of
      driver traffic) the edge list is collected once and labeled with
      exact driver-side min-root union-find (:func:`_driver_union_find`);
    - above it, :func:`_cc_min_label` runs ``CC_MIN_LABEL_ROUNDS`` rounds
      of distributed min-label propagation (shallow near-dup graphs
      converge in 2-5), and a graph still unconverged after them (deep
      chains) is handed to :func:`_cc_star_labels` — star contraction,
      O(log^2 n) rounds on any shape.

    All three give the identical relation (pytest-pinned against a
    union-find oracle on random graphs).  The fixpoint is iteration-order
    independent (min is idempotent/commutative), which is what makes the
    result reproducible by a SQL transitive-closure oracle.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # r14 perf — SIZE-AWARE small-graph engine (the prune_clusters /
    # curation-seam discipline: COUNT, then pick the engine the measured
    # size justifies).  Each distributed propagation round is a
    # multi-exchange job; on a shallow graph that is 3-5 sequential
    # shuffle jobs to label a pair-derived edge set that is usually
    # orders of magnitude smaller than the corpus.  Ids must be integral
    # or string for the literal relation; anything else (or a NULL id)
    # falls through to the distributed path.
    base = edges
    typ = dict(pairs.dtypes).get(id_a)
    if typ in ("bigint", "int", "smallint", "tinyint", "string"):
        # `base` reuses the materialized edge list below, so the
        # candidate pipeline is not re-run for the symmetrized union.
        base = edges.localCheckpoint(eager=False)
        if base.count() <= CC_COLLECT_MAX_EDGES:
            rows = [(r["src"], r["dst"]) for r in base.collect()]
            if all(a is not None and b is not None for a, b in rows):
                return _driver_union_find(pairs.sparkSession, rows, typ)
    try:
        return _cc_min_label(base, "src", "dst", CC_MIN_LABEL_ROUNDS)
    except _MinLabelNotConverged:
        # deep chains: min-label would need diameter rounds — hand the
        # edges to the O(log^2 n) star contraction instead
        return _cc_star_labels(base, "src", "dst")


class _MinLabelNotConverged(RuntimeError):
    """Raised by :func:`_cc_min_label` when its round budget runs out."""


def _cc_min_label(
    pairs: DataFrame, id_a: str, id_b: str, max_rounds: int
) -> DataFrame:
    """Distributed min-label propagation over the symmetrized edge list —
    each round every node takes ``min(own label, neighbors' labels)`` (one
    shuffle on node id per round) until a fixpoint, reached in
    graph-diameter rounds; raises :class:`_MinLabelNotConverged` after
    ``max_rounds`` rounds without one.  Lineage is truncated every round
    with ``localCheckpoint`` so the plan does not grow with iterations, and
    each round is exactly ONE Spark action: the did-any-label-decrease
    convergence signal is an ``observe()`` metric collected by the
    checkpoint job itself, not a separate old-vs-new comparison pass."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # Materialize the edge list ONCE: `pairs` is usually the tail of an
    # expensive candidate-generation pipeline (minhash/simhash banding over
    # the whole corpus), and every propagation round references it — without
    # this checkpoint each round's job would re-run that entire upstream.
    # The edge table is pair-derived (<< corpus), so this is cheap.  Lazy:
    # round 1's job materializes both checkpoints (r14 perf — two fewer
    # standalone jobs).
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for i in range(max_rounds):
        prop = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # ONE action per round: the convergence signal rides the same job
        # that materializes the round's labels (an observe() metric fires
        # on the eager localCheckpoint), instead of a second old-vs-new
        # join-count pass — at 100 TB each avoided action is a full pass
        # over the label table.
        obs = Observation(f"cc_round_{i}")
        labels = (
            labels.join(prop, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "_new_label"
                ),
                (F.col("nbr_label") < F.col("label")).alias("_dec"),
            )
            .observe(obs, F.count(F.when(F.col("_dec"), 1)).alias("n_changed"))
            .select("node", F.col("_new_label").alias("label"))
            .localCheckpoint()
        )
        if (obs.get["n_changed"] or 0) == 0:
            return labels
    raise _MinLabelNotConverged(
        f"min-label propagation did not converge in {max_rounds} rounds"
    )


def _cc_star_labels(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Connected-component labels from :func:`_star_contraction`.  Labels
    every node of the INPUT edge list: members map through the star edges,
    roots and nodes whose only edges are self-loops (the contraction drops
    those edges) fall back to their own id — found by the random-graph
    property test, where min-label kept a self-loop-only node the star
    path silently lost."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    stars = _star_contraction(edges)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    mapped = stars.select(
        F.col("src").alias("node"), F.col("dst").alias("label")
    ).distinct()
    return nodes.join(mapped, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


def corpus_dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CORPUS-level line dedup (the actual C4 rule — `dedup_lines` in
    ``analysis.py`` is the within-document variant): every non-blank line
    keeps exactly ONE occurrence across the whole corpus, at its first
    position in (doc_id, line_idx) order; all other occurrences are
    dropped.  Boilerplate (cookie banners, nav text) disappears corpus-wide
    in one pass.

    Plan shape: posexplode to (doc, idx, line) → one shuffle on the
    normalized-line hash with a row_number keeper → re-aggregate per doc
    (second shuffle, doc-grained).  State per hash bucket is one row; no
    all-pairs anything.  Returns one row per input document:
    ``(id, clean_md5, n_kept, n_dropped)`` — md5 of the reassembled kept
    text (NULL when every line was dropped), counts for audit."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_line"),
    ).filter(F.trim(F.col("_line")) != "")
    w = Window.partitionBy(F.md5(F.col("_line"))).orderBy(id_col, "_idx")
    tagged = lines.withColumn("_rn", F.row_number().over(w))
    kept = tagged.filter(F.col("_rn") == 1)
    reassembled = kept.groupBy(id_col).agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_idx", "_line"))
                    ),
                    lambda s: s.getField("_line"),
                ),
                "\n",
            )
        ).alias("clean_md5"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_lines"))
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            "clean_md5",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


PRUNE_BROADCAST_MAX_IDS = 20_000_000


def prune_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    length_col: str = "n_chars",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Near-dup PRUNING — the step after clustering: keep ONE representative
    per near-dup cluster (longest ``length_col`` wins, ties to the lowest
    id — the C4/RefinedWeb keep-longest policy) and pass singletons through
    as their own kept cluster of size 1.

    Returns one row per input document:
    ``(id_col, cluster_id, cluster_size, kept)`` with ``cluster_id`` the
    component's min id (own id for singletons).

    Scale shape (r9: SIZE-AWARE, the curation-seam discipline): the
    component table is pair-derived (candidate docs only — usually
    << corpus), and its size is COUNTED, not assumed: at or below
    ``PRUNE_BROADCAST_MAX_IDS`` (20M) it and everything built from it
    broadcast, the representative window runs over the small clustered
    subset only, and the corpus is decided map-side.  On a 30-50%-dup
    crawl — where the clustered set is corpus-scale and a pinned
    broadcast would exceed the ceiling — the joins fall back to plain
    shuffle joins on the id (both regimes value-identical,
    pytest-pinned).  Reference analogue: the dedup stage a migration of
    `dbt_project/models/staging/*.sql` dedup CTEs would need at corpus
    scale.
    """
    comp = connected_components(pairs, id_a, id_b)
    # shuffle_hash hint in the large regime so neither the static planner
    # nor AQE re-pins a broadcast the measured count just refuted
    bc = (
        F.broadcast
        if comp.count() <= PRUNE_BROADCAST_MAX_IDS
        else (lambda d: d.hint("shuffle_hash"))
    )
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    members = df.select(id_col, length_col).join(
        bc(comp), F.col(id_col) == F.col("node"), "inner"
    )
    w = Window.partitionBy("label").orderBy(
        F.desc(length_col), F.asc(id_col)
    )
    reps = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("label", F.col(id_col).alias("_rep_id"))
    )
    lab = df.select(id_col).join(
        bc(comp.withColumnRenamed("node", id_col)), id_col, "left"
    )
    return (
        lab.join(bc(sizes), "label", "left")
        .join(bc(reps), "label", "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            (F.col("label").isNull() | (F.col(id_col) == F.col("_rep_id")))
            .alias("kept"),
        )
    )


def corpus_dedup_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 10_000,
    checkpoint_sigs: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The corpus side of incremental ingestion dedup as a REUSABLE index:
    ``(signatures, capped band table)``.  Derive it once per corpus, persist
    with :func:`write_corpus_dedup_index`, and every subsequent batch joins
    against the stored tables — the corpus text is never re-scanned and
    never re-minhashed per batch.  Signatures come from the Arrow kernel
    :func:`minhash_signatures_md5_arrow` (test reference:
    :func:`minhash_signatures_md5`).

    ``checkpoint_sigs=True`` (r11) lazily localCheckpoints the signature
    frame BEFORE banding, so a caller that materializes both returned
    frames runs the minhash text pass ONCE — banding is a pure function
    of the signatures, and without the checkpoint seam the band frame's
    lineage re-runs the minhash on materialization (profiled: the crawl
    suite paid the pass twice per index build).  Values are unchanged;
    in-process sessions only (localCheckpoint)."""
    sigs = minhash_signatures_md5_arrow(df, text_col, id_col)
    if checkpoint_sigs:
        sigs = sigs.localCheckpoint(eager=False)
    return sigs, _band_signature_table(sigs, id_col, max_bucket_size)


def _band_signature_table(
    sigs: DataFrame,
    id_col: str,
    max_bucket_size: int | None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Band a ``(id, minhash)`` signature table into the capped
    ``(id, band_idx, band_hash)`` index relation — banding is a pure
    function of the SIGNATURES, which is what lets
    :func:`compact_corpus_dedup_index` rebuild the band table from the
    stored signatures without ever re-scanning corpus text.
    ``carry_cols`` pass through per-row metadata (the ``_ib`` batch tag
    during compaction) without a re-attach join."""
    rows = MINHASH_NUM_HASHES // MINHASH_BANDS
    carry = list(carry_cols or [])
    banded = sigs.select(
        id_col,
        *carry,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            "|", F.slice("minhash", b * rows + 1, rows)
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(id_col, *carry, "band.band_idx", "band.band_hash")
    return _cap_band_members(
        banded, id_col, ["band_idx", "band_hash"], max_bucket_size
    )


# Stored bytes per row of the corpus dedup index (snappy parquet, one
# bucket), measured on written indexes: a band row (id, band_idx, 32-hex
# band_hash, _ib) is 35.1 B over the sf0.01 documents (2,000 rows,
# 70,271 bytes) and 34.5 B over sf0.1 (20,000 rows, 690,189 bytes); a
# signature row per minhash value (MINHASH_NUM_HASHES string values a
# row) is 27.5 B over sf0.01 (500 rows, 110,000 bytes) and 13.4 B over
# sf0.1, whose near-duplicate families share values.  The larger figure
# is the one for distinct documents.
_BAND_ROW_BYTES = 35
_SIG_BYTES_PER_HASH = 27.5


def _write_dedup_tables(
    banded: DataFrame,
    sigs: DataFrame,
    n_docs: int,
    table_prefix: str,
    path_prefix: str,
    path_suffix: str,
    id_col: str,
) -> None:
    """Write ``{table_prefix}_{bands|sigs}`` at
    ``{path_prefix}_{bands|sigs}{path_suffix}``, each bucket count sized
    for ``n_docs`` documents (at most ``n_docs * MINHASH_BANDS`` band
    rows)."""
    spark = sigs.sparkSession
    for rows, sfx, keys, row_bytes in (
        (banded, "bands", ["band_idx", "band_hash"],
         MINHASH_BANDS * _BAND_ROW_BYTES),
        (sigs, "sigs", [id_col], MINHASH_NUM_HASHES * _SIG_BYTES_PER_HASH),
    ):
        write_bucketed(
            rows, f"{table_prefix}_{sfx}", f"{path_prefix}_{sfx}{path_suffix}",
            keys, bucket_count(spark, n_docs * row_bytes), sort_cols=keys,
        )


def write_corpus_dedup_index(
    corpus_df: DataFrame,
    table_prefix: str,
    path_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 10_000,
) -> tuple[str, str]:
    """Persist the corpus dedup index as BUCKETED tables (SURVEY §7 scale
    posture): ``{prefix}_bands`` bucketed+sorted on the band join key
    ``(band_idx, band_hash)`` and ``{prefix}_sigs`` bucketed on ``id_col``.

    Why bucketed: when a batch is small it broadcasts and bucketing is
    moot — but a BACKFILL batch (re-crawl, format migration) is too big to
    broadcast, and then the band join is a shuffle join.  Against the
    bucketed tables only the BATCH side shuffles; the corpus side — the
    100 TB side — reads matching buckets directly with zero Exchange and
    zero Sort (plan-pinned in ``test_skew_bucketing.py``).  Returns the
    two table names.

    Each table's bucket count is sized by counting the checkpointed
    signatures both writes read (:func:`_write_dedup_tables`).

    r10: both tables carry an ``_ib`` (ingest-batch id) column — ``-1``
    for the seed corpus, the micro-batch id for streaming appends.  The
    tag is what makes the streaming ingest loop REPLAY-IDEMPOTENT: a
    replayed batch's probe filters out rows tagged with its own id (so
    within-batch near-dups appended by the crashed attempt can't
    self-reject the batch) and its append is skipped per table when rows
    with its tag already exist.  :func:`read_corpus_dedup_index` drops
    the tag by default, so non-streaming consumers never see it."""
    sigs, banded = corpus_dedup_index(
        corpus_df, id_col, text_col, max_bucket_size, checkpoint_sigs=True
    )
    tag = F.lit(-1).cast("long").alias("_ib")
    _write_dedup_tables(
        banded.select("*", tag), sigs.select("*", tag),
        blocks.materialize(sigs), table_prefix, path_prefix, "", id_col,
    )
    blocks.release(sigs)
    return f"{table_prefix}_sigs", f"{table_prefix}_bands"


def read_corpus_dedup_index(
    spark, table_prefix: str, with_batch_tag: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Load a persisted corpus dedup index: ``(signatures, band table)``.
    The ``_ib`` batch tag (replay-idempotency metadata, see
    :func:`write_corpus_dedup_index`) is dropped unless
    ``with_batch_tag=True`` — only the streaming ingest handler needs
    it.

    r10 self-heal: a crash inside :func:`compact_corpus_dedup_index`'s
    swap (between ``DROP`` of a live table and the ``RENAME`` of its
    compacted stage) leaves the live name missing while the fully-written
    stage table exists — that rename is completed here on read, so the
    next batch (or :func:`~ssis_to_dbt_spark.streaming
    .resume_ingest_state`) recovers without operator action."""
    _heal_compaction_swap(spark, table_prefix)
    sigs = spark.table(f"{table_prefix}_sigs")
    bands = spark.table(f"{table_prefix}_bands")
    if not with_batch_tag:
        sigs = sigs.drop("_ib")
        bands = bands.drop("_ib")
    else:
        # pre-r10 index tables have no batch tag: synthesize _ib = -1 so
        # tag-dependent callers (the streaming handler's replayed-rows
        # filter) work unchanged instead of failing analysis
        if "_ib" not in sigs.columns:
            sigs = sigs.select("*", F.lit(-1).cast("long").alias("_ib"))
        if "_ib" not in bands.columns:
            bands = bands.select(
                "*", F.lit(-1).cast("long").alias("_ib")
            )
    return sigs, bands


def _heal_compaction_swap(spark, table_prefix: str) -> None:
    """Finish a compaction swap a crash left half-done, keeping the two
    index tables in LOCK-STEP (r10 ADVICE: a partial heal that swapped
    only one suffix would pair compacted bands with the old un-deduped
    sigs, silently inflating probe pair multiplicity).

    :func:`compact_corpus_dedup_index`'s sequence is fixed: write
    stage_bands, write stage_sigs, then swap bands (drop + rename), then
    swap sigs.  A stage table's CATALOG entry appears only after its data
    write completes (CTAS registers last; pinned by
    ``TestWriteBucketedRegistersLast``), so the stage-table existence
    pattern identifies the crash point:

    - ``stage_sigs`` exists (with or without ``stage_bands``): BOTH
      stages finished writing, so the compaction is committed-by-content
      — roll BOTH suffixes forward (drop the live table if present,
      rename the stage in; a suffix whose stage is already gone completed
      its swap before the crash).
    - only ``stage_bands`` exists: the crash hit during the
      ``stage_sigs`` write — no swap had begun, the live tables are the
      intact old index; do nothing (the orphan stage is overwritten by
      the next compaction run)."""
    if not spark.catalog.tableExists(f"{table_prefix}_compact_stage_sigs"):
        return
    for suffix in ("bands", "sigs"):
        live = f"{table_prefix}_{suffix}"
        stage = f"{table_prefix}_compact_stage_{suffix}"
        if spark.catalog.tableExists(stage):
            spark.sql(f"DROP TABLE IF EXISTS {live}")
            spark.sql(f"ALTER TABLE {stage} RENAME TO {live}")


def append_corpus_dedup_index(
    batch_df: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 10_000,
    batch_id: int | None = None,
    new_index: tuple[DataFrame, DataFrame] | None = None,
) -> None:
    """Index MAINTENANCE: after a deduped batch is accepted into the
    corpus, derive its bands + signatures and APPEND them to the stored
    bucketed tables — linear in NEW bytes, never a corpus rebuild.  The
    rows are matched to each table's columns by name and keep its bucket
    spec (``writers.insert_into``), so subsequent batch joins keep their
    zero-corpus-exchange plan.

    Note on the band cap: ``_cap_band_members`` caps per-band membership
    WITHIN the appended batch only — a band bucket can exceed the cap
    across appends.  That mirrors the incremental reality (old members are
    already on disk) and the cap still bounds each batch join's fan-out,
    because the probing side re-caps its own bands.  Operators should run
    :func:`corpus_dedup_index_band_audit` periodically (e.g. every N
    appends) and, when it reports over-cap buckets, run
    :func:`compact_corpus_dedup_index` — a signatures-only rebuild (no
    text re-scan) that dedupes re-appends and restores the global cap.

    r10 replay-idempotency: rows are tagged ``_ib = batch_id`` (``-1``
    when untagged).  With a ``batch_id``, each table's append is SKIPPED
    when rows with that tag already exist — so a streaming micro-batch
    replayed after a crash between the append and its checkpoint commit
    never double-appends, and a crash BETWEEN the two table appends
    heals on replay (the completed table skips, the missing one
    appends).  The guard is one tag-filtered existence probe per table;
    parquet footer min/max stats on ``_ib`` confine the scan to the
    newest files.  ``new_index`` reuses already-derived batch
    ``(sigs, bands)`` (the ingest loop derives them once for the probe)
    instead of re-minhashing ``batch_df``."""
    if new_index is not None:
        sigs, banded = new_index
    else:
        sigs, banded = corpus_dedup_index(
            batch_df, id_col, text_col, max_bucket_size
        )
    tag_val = -1 if batch_id is None else int(batch_id)
    tag = F.lit(tag_val).cast("long").alias("_ib")
    spark = sigs.sparkSession
    for rows, suffix in ((banded, "bands"), (sigs, "sigs")):
        table = spark.table(f"{table_prefix}_{suffix}")
        # pre-r10 index tables have no _ib column: no replay guard is
        # possible, and insert_into selects the legacy columns only
        if (
            batch_id is not None
            and "_ib" in table.columns
            and table.filter(F.col("_ib") == tag_val).take(1)
        ):
            continue
        insert_into(rows.select("*", tag), f"{table_prefix}_{suffix}")


def corpus_dedup_index_band_audit(
    spark,
    table_prefix: str,
    max_bucket_size: int = 10_000,
    tags_below: int | None = None,
) -> DataFrame:
    """Index-health audit for a persisted corpus dedup index: band buckets
    whose LIFETIME membership (across all appends) exceeds
    ``max_bucket_size`` — the per-append cap in
    :func:`append_corpus_dedup_index` bounds each batch's contribution but
    not the running total, so hot buckets erode the per-probe fan-out
    bound over the index's life.  Returns ``(band_idx, band_hash,
    n_members)`` for over-cap buckets, largest first; a non-empty result
    is the signal to compact (rebuild via :func:`write_corpus_dedup_index`).
    Cost: one aggregation over the bucketed band table — the table is
    bucketed on exactly this grouping key, so the groupBy is
    exchange-free.

    ``tags_below`` restricts the audit to rows with ``_ib`` strictly
    below it — the streaming handler audits at the start of batch N over
    only batches < N, so a replayed batch N (whose own crashed-attempt
    rows are tagged N) reaches the identical audit verdict the first
    attempt did."""
    bands = spark.table(f"{table_prefix}_bands")
    if tags_below is not None and "_ib" in bands.columns:
        bands = bands.filter(F.col("_ib") < int(tags_below))
    return (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > int(max_bucket_size))
        .orderBy(F.col("n_members").desc(), "band_idx", "band_hash")
    )


def compact_corpus_dedup_index(
    spark,
    table_prefix: str,
    path_prefix: str,
    id_col: str = "doc_id",
    max_bucket_size: int | None = 10_000,
    cleanup: bool = True,
    keep_tags_at_or_above: int | None = None,
) -> None:
    """Index COMPACTION — the action the
    :func:`corpus_dedup_index_band_audit` signal calls for when lifetime
    band membership outgrows the per-append cap: rebuild both index
    tables FROM THE STORED SIGNATURES, never re-reading corpus text.

    Banding is a pure function of the signatures
    (:func:`_band_signature_table`), so the rebuild is: dedupe the
    signature table on ``id_col`` keeping the NEWEST ``_ib`` batch tag
    (replayed-append duplicates are exact copies; a re-crawled id keeps
    its latest signature), re-band with the tag carried through, apply
    the cap GLOBALLY (restoring the per-probe fan-out bound the
    per-append cap lets erode), and rewrite both bucketed tables via a
    staging-table swap.  Cost: linear in the signature table (id +
    ``MINHASH_NUM_HASHES`` values — a small fraction of corpus bytes).
    Counting the deduped signatures re-sizes both bucket counts
    (pass-through rows, one batch's, are not counted).

    r10 re-runnability (r9 ADVICE, medium): each run stages under a
    FRESH versioned path ``{path_prefix}_{suffix}_compact_v{k}`` (k = 1 +
    the highest version on disk, listed via the Hadoop FileSystem API so
    HDFS/S3A state paths work) — a second compaction never overwrites
    the files the live tables point at, and a failed run leaves the live
    tables untouched.  After the swap the superseded data directories
    are DELETED (``cleanup=False`` defers that to the operator — e.g.
    while long-running readers still hold the old file listing).

    ``keep_tags_at_or_above``: rows with ``_ib >= N`` pass through BOTH
    tables verbatim (no dedupe, no re-cap).  The streaming handler
    compacts at the start of batch N with ``N``: on a replay (the
    crashed attempt already appended rows tagged N) the compacted core
    is then built from exactly the first attempt's input — batches
    < N — so the post-compaction index, and therefore the replayed
    probe's view, is bit-identical to the continuous run's."""
    # heals a crashed earlier swap; pre-r10 tables get _ib = -1
    raw, raw_bands = read_corpus_dedup_index(
        spark, table_prefix, with_batch_tag=True
    )
    pass_sigs = pass_bands = None
    if keep_tags_at_or_above is not None:
        lim = int(keep_tags_at_or_above)
        pass_sigs = raw.filter(F.col("_ib") >= lim)
        pass_bands = raw_bands.filter(F.col("_ib") >= lim)
        raw = raw.filter(F.col("_ib") < lim)
    w = Window.partitionBy(id_col).orderBy(F.col("_ib").desc())
    core = (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=False)
    )
    n_docs = blocks.materialize(core)
    sigs = core
    banded = _band_signature_table(
        core, id_col, max_bucket_size, carry_cols=["_ib"]
    )
    if pass_sigs is not None:
        sigs = core.unionByName(pass_sigs)
        banded = banded.unionByName(pass_bands.select(*banded.columns))
    k = _next_compact_version(spark, path_prefix, ("bands", "sigs"))
    stage = f"{table_prefix}_compact_stage"
    _write_dedup_tables(
        banded, sigs, n_docs, stage, path_prefix, f"_compact_v{k}", id_col
    )
    blocks.release(core)
    for suffix in ("bands", "sigs"):
        _swap_in(
            spark, f"{stage}_{suffix}", f"{table_prefix}_{suffix}", cleanup
        )


def cross_corpus_candidates(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 10_000,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
    broadcast_batch: bool = True,
    new_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental ingestion dedup: minhash-LSH candidate pairs BETWEEN a
    new batch and an existing corpus — never within either side.  This is
    the 100 TB shape for continuous crawling: the corpus side is banded
    once — pass ``corpus_index`` (from :func:`corpus_dedup_index` or the
    bucketed on-disk tables via :func:`read_corpus_dedup_index`) and the
    corpus text is never re-scanned or re-minhashed per batch; each
    incoming batch bands only itself, and since a batch is tiny relative
    to the corpus its band table broadcasts — the corpus-sided join is
    then map-side with zero corpus shuffle.

    ``broadcast_batch=False`` is the backfill path (a batch too big to
    broadcast): the band join runs as a shuffle join, and against the
    BUCKETED stored index only the batch side exchanges — the corpus side
    reads matching buckets directly (plan-pinned).

    Same portable md5 signature/banding as :func:`minhash_candidates_md5`
    (band buckets capped per side via :func:`_cap_band_members`), ids-only
    band join, signatures re-attached once per deduped pair.  Returns
    ``(new_id, corpus_id, est_jaccard)`` — directed, new side first.
    """
    if (corpus_df is None) == (corpus_index is None):
        raise ValueError("exactly one of corpus_df/corpus_index must be set")
    # A derived side's signatures feed both its banding and the signature
    # re-attachment; the Arrow kernel has no exchange Spark could reuse,
    # so checkpoint_sigs runs it once per side instead of twice.
    if new_index is not None:
        # caller already derived the batch's (sigs, bands) — e.g. the
        # ingest loop, which also appends them to the stored index:
        # per-doc derivations are corpus-independent, so reuse is exact
        sig_new, band_new = new_index
    else:
        sig_new, band_new = corpus_dedup_index(
            new_df, id_col, text_col, max_bucket_size, checkpoint_sigs=True
        )
    if corpus_index is not None:
        sig_corpus, band_corpus = corpus_index
    else:
        sig_corpus, band_corpus = corpus_dedup_index(
            corpus_df, id_col, text_col, max_bucket_size,
            checkpoint_sigs=True,
        )
    # Pin the batch side as the broadcast build side: a batch is tiny
    # relative to the corpus BY CONSTRUCTION, so the plan must not depend
    # on AQE runtime stats to keep the corpus band table shuffle-free.
    batch_bands = band_new.select(
        "band_idx", "band_hash", F.col(id_col).alias("new_id")
    )
    if broadcast_batch:
        batch_bands = F.broadcast(batch_bands)
    else:
        # the caller MEASURED the batch as too big to broadcast — hint
        # shuffle_hash so AQE can't re-pin the refuted broadcast (the
        # same discipline as the curation drop seams), and the bucketed
        # corpus side still joins exchange-free
        batch_bands = batch_bands.hint("shuffle_hash")
    pairs = (
        batch_bands.join(
            band_corpus.select(
                "band_idx", "band_hash", F.col(id_col).alias("corpus_id")
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    sa = sig_new.select(
        F.col(id_col).alias("new_id"), F.col("minhash").alias("sig_a")
    )
    sb = sig_corpus.select(
        F.col(id_col).alias("corpus_id"), F.col("minhash").alias("sig_b")
    )
    # pairs and (pairs x batch sigs) are both pair/batch-sized — broadcast
    # them so the corpus signature table is probed map-side, never shuffled;
    # on the backfill path both stay plain shuffle joins.
    if broadcast_batch:
        pair_sigs = F.broadcast(F.broadcast(pairs).join(sa, "new_id"))
    else:
        pair_sigs = pairs.join(sa, "new_id")
    return (
        pair_sigs
        .join(sb, "corpus_id")
        .select("new_id", "corpus_id", _est_jaccard().alias("est_jaccard"))
    )
