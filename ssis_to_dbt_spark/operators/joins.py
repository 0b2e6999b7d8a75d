"""Join operators beyond the lookup (SURVEY §2.4 J3, J5, J6).

- J3 MergeJoin component (/root/reference/src/parser/constants.py:28,
  README.md:132 maps "Merge Join -> JOIN"): declared as a sorted equi-join of
  two flows. Spark-first: a plain ``join`` — Catalyst chooses
  SortMergeJoin for two large inputs (exactly SSIS's merge join) and
  BroadcastHashJoin when one side is small; we don't hand-schedule it.
- J5 IN-subquery semi-join (SalesFactETL.dtsx:305) -> ``left_semi``.
- J6 dbt ``relationships`` FK test (core/schema.yml:72-88) -> ``left_anti``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ci_join(
    left: DataFrame, right: DataFrame, on: list[str], how: str
) -> DataFrame:
    """Equi-join with SQL Server default-collation semantics on STRING
    keys (case-insensitive; see :func:`~ssis_to_dbt_spark.operators
    .lookup.lookup` ``ci``).  Both sides fold to ``lower()`` for the
    probe; the output key restores the LEFT side's original case where a
    left row exists, else the right side's (full joins).  Semi/anti
    outputs carry only left columns, so their restore is the left stash
    alone.  The fold is a per-row expression — join strategy selection
    (broadcast/shuffle/SMJ) is untouched."""
    from .lookup import _ci_fold

    lf, lstash = _ci_fold(left, on)
    keep_right = how in ("full", "full_outer")
    rf, rstash = _ci_fold(right, on, keep_original=keep_right)
    for k, s in list(rstash.items()):  # avoid stash-name collision with left
        rf = rf.withColumnRenamed(s, f"__ci_r{s}")
        rstash[k] = f"__ci_r{s}"
    joined = lf.join(rf, on=on, how=how)
    for k in lstash:
        restored = (
            F.coalesce(F.col(lstash[k]), F.col(rstash[k]))
            if k in rstash
            else F.col(lstash[k])
        )
        joined = joined.withColumn(k, restored).drop(lstash[k])
        if k in rstash:
            joined = joined.drop(rstash[k])
    return joined


def merge_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | Column,
    how: str = "inner",
    ci: bool = False,
) -> DataFrame:
    """J3: MergeJoin (INNER/LEFT/FULL). Sortedness is Spark's concern —
    SortMergeJoin sorts shuffle partitions itself; pre-sorted bucketed tables
    skip the sort at scale.  ``ci=True``: case-insensitive string-key
    compare (SQL Server default collation), list-form ``on`` only."""
    if how not in ("inner", "left", "full", "left_outer", "full_outer"):
        raise ValueError(f"MergeJoin supports inner/left/full, got {how}")
    if ci:
        if not isinstance(on, list):
            raise ValueError("merge_join(ci=True) requires list-form keys")
        return _ci_join(left, right, on, how)
    return left.join(right, on=on, how=how)


def semi_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | Column,
    ci: bool = False,
) -> DataFrame:
    """J5: WHERE key IN (SELECT key FROM ...) -> left_semi join."""
    if ci:
        if not isinstance(on, list):
            raise ValueError("semi_join(ci=True) requires list-form keys")
        return _ci_join(left, right, on, "left_semi")
    return left.join(right, on=on, how="left_semi")


def anti_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | Column,
    ci: bool = False,
) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (left_anti)."""
    if ci:
        if not isinstance(on, list):
            raise ValueError("anti_join(ci=True) requires list-form keys")
        return _ci_join(left, right, on, "left_anti")
    return left.join(right, on=on, how="left_anti")


def fk_violations(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str | None = None,
    ci: bool = False,
) -> DataFrame:
    """J6: dbt relationships test — child rows whose FK has no parent row.
    ``ci=True``: a parent key differing only in case still satisfies the
    relationship (SQL Server default collation)."""
    pk = pk or fk
    parent_keys = parent.select(parent[pk].alias(fk)).distinct()
    return anti_join(child, parent_keys, on=[fk] if ci else fk, ci=ci)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    payload: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """As-of (backward) join: for every left row, attach the payload of the
    LATEST right row with ``right_ts <= left_ts`` for the same keys (left
    rows with no prior right row keep NULL payloads).

    Spark has no ASOF JOIN operator; the naive rewrite — a range join plus a
    per-left-row max — explodes into an O(n_left × n_right) cross product per
    key.  This is the scalable union+window form instead: tag both sides,
    union by name, and run ``last(payload, ignorenulls=True)`` over one
    window per key ordered by (ts, side) — right rows sort BEFORE left rows
    at equal timestamps, making the match inclusive.  Cost: ONE shuffle+sort
    of n_left + n_right rows on the join keys, no pair blowup at any skew.

    Right rows must be unique per (keys, right_ts) — equal-timestamp
    duplicates make every as-of semantics ambiguous; callers dedup first
    (e.g. keep the max-id row).  Raises on payload/key column collisions
    rather than silently shadowing.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out_payload = {p: f"{p}{suffix}" if p in left.columns else p for p in payload}
    ts_out = f"{right_ts}{suffix}" if right_ts in left.columns else right_ts
    clash = [c for c in out_payload.values() if c in left.columns]
    if clash:
        raise ValueError(f"asof payload columns collide with left: {clash}")

    # The whole right row's payload travels as ONE struct: per-column
    # last(ignorenulls) would skip back to an OLDER row for any payload field
    # that is NULL in the matched row, silently stitching fields from
    # different rows.  A struct is non-null whenever the right row exists, so
    # the match stays row-atomic; NULL payload fields survive as NULLs.
    l_tagged = left.withColumn("_asof_side", F.lit(1)).withColumn(
        "_asof_ts", F.col(left_ts)
    )
    r_tagged = right.select(
        *on,
        F.lit(0).alias("_asof_side"),
        F.col(right_ts).alias("_asof_ts"),
        F.struct(
            F.col(right_ts).alias(ts_out),
            *[F.col(p).alias(a) for p, a in out_payload.items()],
        ).alias("_asof_payload"),
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    w = (
        Window.partitionBy(*on)
        .orderBy("_asof_ts", "_asof_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn(
        "_asof_payload", F.last(F.col("_asof_payload"), ignorenulls=True).over(w)
    )
    return (
        filled.filter(F.col("_asof_side") == 1)
        .select(
            *left.columns,
            *[
                F.col(f"_asof_payload.{c}").alias(c)
                for c in [ts_out, *out_payload.values()]
            ],
        )
    )


def range_join(
    left: DataFrame,
    left_ts: str,
    right: DataFrame,
    start_col: str,
    end_col: str,
    on: list[str],
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Interval containment join: left rows paired with the right intervals
    satisfying ``start <= left_ts < end`` (half-open) on matching keys.

    Spark executes a raw inequality join as BroadcastNestedLoopJoin — every
    left row against every right interval, the classic range-join scale
    trap.  This bucketizes time instead: each right interval explodes into
    the coarse buckets it covers (~interval/bucket_seconds rows, pick
    ``bucket_seconds`` near the typical interval length), each left row
    computes its single bucket, and the join becomes a hash equi-join on
    (keys..., bucket) refined by the exact BETWEEN predicate.  A left row
    has exactly one bucket, so no dedup is needed no matter how many buckets
    an interval spans.
    """
    from pyspark.sql import functions as F

    b = F.lit(int(bucket_seconds)).cast("long")
    lb = left.withColumn(
        "_rj_bucket", F.floor(F.col(left_ts).cast("long") / b).cast("long")
    )
    rb = right.withColumn(
        "_rj_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col).cast("long") / b).cast("long"),
                F.floor(F.col(end_col).cast("long") / b).cast("long"),
            )
        ),
    )
    return (
        lb.join(rb, [*on, "_rj_bucket"])
        .filter(
            (F.col(left_ts) >= F.col(start_col))
            & (F.col(left_ts) < F.col(end_col))
        )
        .drop("_rj_bucket")
    )


def _bloom_positions(key: Column, m: int, k: int) -> list[Column]:
    """k bit positions in [0, m) from non-overlapping 8-hex-char slices of
    md5(key) — portable integer hashing (same values in any engine that has
    md5)."""
    from pyspark.sql import functions as F

    if not 1 <= k <= 4:
        raise ValueError("k must be in 1..4 (md5 yields four 32-bit slices)")
    h = F.md5(key.cast("string"))
    return [
        F.pmod(
            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long"), F.lit(m)
        )
        for i in range(k)
    ]


def bloom_build(dim: DataFrame, key_col: str, m: int = 4096, k: int = 3) -> DataFrame:
    """Build a Bloom filter over ``dim[key_col]`` as a 1-row DataFrame with a
    sorted array of set bit positions (column ``bloom_bits``).

    The array form (≤ m integers) is broadcast-friendly and mergeable —
    unioning two filters is ``array_union`` — and avoids opaque binary
    bitmaps so the filter itself is oracle-checkable.
    """
    from pyspark.sql import functions as F

    pos = dim.select(
        F.explode(F.array(*_bloom_positions(F.col(key_col), m, k))).alias("_p")
    )
    return pos.agg(F.sort_array(F.collect_set("_p")).alias("bloom_bits"))


def bloom_prefilter(
    fact: DataFrame,
    fact_key: str,
    bloom: DataFrame,
    m: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Pre-filter ``fact`` rows through a Bloom filter built by
    :func:`bloom_build` — keeps a row iff ALL k of its key's bit positions
    are set (no false negatives; false-positive rate ~(1-e^{-kn/m})^k).

    The 100 TB pattern this encodes: when the build side of a semi-join is
    small but the probe side is the full fact table, shipping a few-KB bit
    set to every task and filtering map-side is far cheaper than shuffling
    the fact table for an exact semi-join — the exact join then runs over
    the tiny surviving fraction.  Plan: the sorted position array is first
    densified into ceil(m/64) 64-bit words (ONE pass over the 1-row build
    side), then a 1-row broadcast crossJoin (the same shape as the tf-idf
    corpus-constant join) and a map-side O(1) word-index + bit-mask test per
    probe; the fact table never shuffles.  An ``array_contains`` conjunction
    would linear-scan the position array per fact row (m/2 compares per
    probe); the bitmap probe replaces that with two ``element_at`` lookups.
    """
    from pyspark.sql import functions as F

    n_words = (m + 63) // 64
    # 64 literal single-bit masks: element_at(masks, b+1) == 1 << b without
    # needing a column-valued shift (F.shiftleft takes only literal counts).
    masks = F.array(
        *[F.shiftleft(F.lit(1).cast("long"), i) for i in range(64)]
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda w: F.aggregate(
            F.filter(F.col("bloom_bits"), lambda p: F.floor(p / 64) == w),
            F.lit(0).cast("long"),
            lambda acc, p: acc.bitwiseOR(
                F.element_at(masks, (p % 64 + 1).cast("int"))
            ),
        ),
    )
    bloom_words = bloom.select(words.alias("_bloom_words"))
    cond = F.lit(True)
    for p in _bloom_positions(F.col(fact_key), m, k):
        word = F.element_at(
            F.col("_bloom_words"), (F.floor(p / 64) + 1).cast("int")
        )
        mask = F.element_at(masks, (p % 64 + 1).cast("int"))
        cond = cond & (word.bitwiseAND(mask) != 0)
    return fact.crossJoin(F.broadcast(bloom_words)).filter(cond).drop(
        "_bloom_words"
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_distance: int,
    min_distance: int = 0,
) -> DataFrame:
    """SSIS Fuzzy Grouping analog: near-match candidate pairs within a
    blocking key, refined by exact Levenshtein distance.

    The self-join is an equi-join on ``block_col`` (a caller-chosen coarse
    key: first token, soundex, prefix...), NEVER all-pairs — the same
    blocking discipline as the LSH dedup family, with edit distance as the
    refine step instead of cosine.  Levenshtein is deterministic and
    identically defined across engines, so the whole pair set is
    oracle-checkable.  ``min_distance=1`` excludes exact duplicates (those
    belong to exact dedup)."""
    from pyspark.sql import functions as F

    b = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col),
        F.col(text_col),
    )
    left = b.select(
        "_blk", F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")
    )
    right = b.select(
        "_blk", F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b")
    )
    dist = F.levenshtein("text_a", "text_b")
    return (
        left.join(right, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.cast("int").alias("distance"))
        .filter(
            (F.col("distance") >= min_distance)
            & (F.col("distance") <= max_distance)
        )
    )


# Row count at or below which sorted_neighborhood_pairs ranks with the
# single-partition row_number window (oracle-pinned, fine to ~10^8 rows);
# above it the distributed rank takes over.
SNB_WINDOW_RANK_MAX_ROWS = 10_000_000


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sort_key,
    window: int = 3,
    max_distance: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): order records
    by a caller-chosen key expression and pair each record with its next
    ``window`` neighbors — the record-linkage method that catches pairs
    equi-blocking misses when values differ in the BLOCK key itself (typos
    in the first token), at a guaranteed ``n * window`` candidate budget.

    Spark-first shape: ONE global ordering (range-partitioned sort — Spark's
    distributed sort, no single-node bottleneck) carried by ``row_number``
    over an empty-frame window, then an equi-join of rank against rank+1..w
    via a ``sequence`` explode — never all-pairs, never a cross join.  The
    rank window is the degenerate-skew-free dual of ``fuzzy_pairs``'s
    equi-block: budget is exact and data-independent.  Optional Levenshtein
    refine keeps only pairs within ``max_distance``.

    The measured row count picks the rank engine (the same
    measured-not-assumed seam discipline as ``drop_seam_anti_join``): at
    or below ``SNB_WINDOW_RANK_MAX_ROWS`` the oracle-pinned
    single-partition ``row_number`` window, above it
    :func:`~ssis_to_dbt_spark.operators.window.distributed_global_rank`
    (range-partitioned bucket-local ranking with model-sized offset
    collection — the 100 TB setting).  Both produce identical ranks
    (pytest-pinned), so the regime switch never changes the answer —
    only the plan.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    staged = df.select(
        F.col(id_col), F.col(text_col), sort_key.alias("_snk")
    )
    # one cheap count (column-pruned scan) decides the regime — like
    # every other r9/r10 seam, measured rather than assumed
    if staged.count() <= SNB_WINDOW_RANK_MAX_ROWS:
        ranked = staged.withColumn(
            "_rn",
            F.row_number().over(Window.orderBy("_snk", id_col)),
        )
    else:
        from .window import distributed_global_rank

        ranked = distributed_global_rank(staged, ["_snk", id_col], "_rn")
    left = ranked.select(
        F.col("_rn"),
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
    ).withColumn(
        "_nbr", F.explode(F.sequence(F.col("_rn") + 1, F.col("_rn") + window))
    )
    right = ranked.select(
        F.col("_rn").alias("_nbr"),
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
    )
    pairs = left.join(right, "_nbr").select(
        "id_a",
        "id_b",
        F.levenshtein("text_a", "text_b").cast("int").alias("distance"),
    )
    if max_distance is not None:
        pairs = pairs.filter(F.col("distance") <= max_distance)
    return pairs
