"""The end-to-end training-data curation chain as REUSABLE stage functions
plus an orchestrated :class:`~ssis_to_dbt_spark.pipeline.Pipeline` form.

Two consumers share these stages (so they cannot drift):

- ``catalog.q_curation_pipeline_docs`` — the ONE-PLAN composed form whose
  DuckDB oracle is the stage-composed SQL (the correctness surface);
- :func:`curation_models` / :func:`run_curation` — the production
  orchestration form: each stage is a :class:`Model` with ``table``
  materialization, so stage boundaries become parquet writes exactly as
  SCALE.md's 100 TB posture describes (a failed run resumes from the last
  materialized stage via ``run_with_retries``; every downstream stage
  re-reads columnar output instead of recomputing lineage).

The reference's own end-to-end unit is the whole-package orchestrator run
(``reference/src/agents/orchestrator.py:85-166``); this module is its
curation-chain analogue on Spark.

Stage semantics (drop seams are SIZE-AWARE as of r9 — broadcast
anti-join when the measured drop set is small, shuffled-hash above the
threshold; the DSIR-winner and mixture-threshold seams stay broadcast
because their smallness is structural — see SCALE.md):
Gopher gate -> minhash near-dup prune (keep-longest) -> decontaminate vs
the held-out eval split of the ORIGINAL corpus -> DSIR Gumbel-top-k select
-> temperature-flattened language mixture -> 512-token sequence packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import Model, Pipeline

DSIR_K = 120
SEQ_TOKENS = 512
DSIR_BUCKETS = 256

# Size-aware seam threshold: a drop-id set at or below this many rows
# broadcasts (id-only longs — ~8 B packed, a few hundred MB as a hash
# relation at the limit, safely inside Spark's 8 GB broadcast ceiling and
# ordinary driver headroom); above it the seam falls back to a shuffled
# anti-join.  A real web crawl near-dups 30-50% of the corpus, so the
# dedup drop set is CORPUS-scale there — a pinned broadcast would OOM.
# This is the reference lookup's Full-vs-Partial cache distinction
# (reference/src/parser/models.py:81, ssis_parser.py:390-391) applied to
# the curation seams.
SEAM_BROADCAST_MAX_IDS = 20_000_000


def drop_seam_anti_join(
    corpus: DataFrame,
    drop_ids: DataFrame,
    key: str = "doc_id",
    known_count: int | None = None,
) -> DataFrame:
    """Size-aware anti-join seam: COUNT the drop-id set (one cheap action
    on a pair-derived, id-only table — never corpus-scale to compute) and
    pick the join strategy from the measured size, not an assumption:

    - ``count <= SEAM_BROADCAST_MAX_IDS``: ``F.broadcast`` anti-join — the
      corpus is decided map-side, zero corpus exchange (the steady-state
      regime: drop sets are usually tiny);
    - above: shuffled hash anti-join (``shuffle_hash`` hint so neither
      the static planner nor AQE re-pins a broadcast that the measured
      count just proved oversized).

    Both regimes are value-identical (plan-pinned + equality-tested in
    ``TestSizeAwareSeams``).

    ``known_count`` (r14 perf): a caller applying SEVERAL seams against
    the SAME drop-id set (the ingest loop drops one rejected-id set from
    gated docs, sigs, and bands) counts once and passes the measurement
    in — one sizing action per batch instead of one per seam."""
    n = drop_ids.count() if known_count is None else int(known_count)
    if n <= SEAM_BROADCAST_MAX_IDS:
        return corpus.join(F.broadcast(drop_ids), key, "left_anti")
    return corpus.join(drop_ids.hint("shuffle_hash"), key, "left_anti")


def stage_gate(docs: DataFrame) -> DataFrame:
    """Gopher quality gate — map-only Arrow kernel; ``text``/``lang``/
    ``n_chars`` pass through the kernel so no corpus re-join exists."""
    from .text.analysis import gopher_signals_arrow

    return (
        gopher_signals_arrow(
            docs,
            extra_cols={
                "text": F.col("text"),
                "lang": F.col("lang"),
                "n_chars": F.col("n_chars"),
            },
        )
        .filter("gopher_pass")
        .select("doc_id", "text", "lang", "n_chars")
    )


def stage_prune(gated: DataFrame) -> DataFrame:
    """Minhash near-dup clustering + keep-longest representative choice:
    one row per gated doc ``(doc_id, cluster_id, cluster_size, kept)``."""
    from .text.dedup import minhash_candidates_md5, prune_clusters

    pairs = minhash_candidates_md5(gated)
    return prune_clusters(gated, pairs)


def stage_dedup(gated: DataFrame, pruned: DataFrame) -> DataFrame:
    """Drop non-representatives via the SIZE-AWARE anti-join seam: the
    not-kept id set is counted first — broadcast when small (the usual
    case: pair-derived ≪ corpus), shuffled anti-join when a
    duplicate-heavy crawl makes it corpus-scale (30-50% near-dup rates
    are normal for web crawls, where a pinned broadcast would exceed the
    broadcast ceiling)."""
    dropped = pruned.filter(~F.col("kept")).select("doc_id")
    return drop_seam_anti_join(gated, dropped, "doc_id")


def stage_contaminated(deduped: DataFrame, docs: DataFrame) -> DataFrame:
    """Training docs sharing any 5-token shingle with the eval split of
    the ORIGINAL corpus (benchmarks are external — contamination is
    checked against the full held-out set, not just its gated
    survivors).  Returns ``(doc_id, n_shared)`` for contaminated docs."""
    from .operators.sampling import hash_split
    from .text import decontaminate

    ev = hash_split(docs, "doc_id", test_pct=10).filter(
        F.col("split") == "test"
    )
    return decontaminate(deduped, ev, shingle_n=5)


def stage_clean(deduped: DataFrame, contaminated: DataFrame) -> DataFrame:
    """Drop contaminated docs — the same size-aware anti-join seam as
    :func:`stage_dedup` (contaminated sets are usually genuinely small,
    but a benchmark-heavy crawl slice can blow that assumption too)."""
    return drop_seam_anti_join(deduped, contaminated.select("doc_id"), "doc_id")


def stage_dsir_select(clean: DataFrame, k: int = DSIR_K) -> DataFrame:
    """DSIR importance resampling fit on the surviving corpus (arrow fit
    kernel + map-only arrow scorer, bit-identical to the fused
    formulation), Gumbel-top-k winner set joined back broadcast."""
    from .text.analysis import dsir_fit, dsir_score, dsir_select

    model = dsir_fit(clean, F.col("lang") == "en", buckets=DSIR_BUCKETS)
    scored = dsir_score(clean, model)
    sel = dsir_select(scored, k).select(
        "doc_id", "weight_units", "gumbel_units"
    )
    return clean.join(F.broadcast(sel), "doc_id")


def stage_mixture(selected: DataFrame) -> DataFrame:
    """Temperature-flattened (tau=2) language mixture over the selection —
    thresholds broadcast, corpus filtered map-side."""
    from .operators.sampling import temperature_mixture

    return temperature_mixture(selected, "lang", "doc_id")


def stage_pack(mixed: DataFrame) -> DataFrame:
    """Pack survivors into fixed 512-token training sequences — windows
    partition by hash bucket, no global sort.  r9: the stream count
    AUTO-SIZES from the survivors' token total (one scalar agg; default
    2^24-token streams), so the cumsum window never holds more than a
    bounded bucket in one task at any corpus size — the oracle derives
    the identical count from the identical integer arithmetic."""
    from .text import pack_sequences
    from .text.analysis import token_count

    dd = mixed.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    return pack_sequences(
        dd, "n_tok", seq_tokens=SEQ_TOKENS, key_col="doc_id",
        n_buckets=None,
    )


def curation_models(out_dir: str, dsir_k: int = DSIR_K) -> list[Model]:
    """The chain as a :class:`Pipeline` model DAG with ``table``
    materialization: each stage lands as parquet under ``out_dir`` and
    every downstream stage consumes the COLUMNAR stage output, not
    recomputed lineage — the production/resumable form of the one-plan
    catalog query (equivalence pytest-pinned)."""

    def t(name):
        return f"{out_dir}/{name}"

    return [
        Model(
            "gate",
            lambda f, v: stage_gate(f["documents"]),
            deps=[],
            materialization="table",
            path=t("gate"),
        ),
        Model(
            "pruned",
            lambda f, v: stage_prune(f["gate"]),
            deps=["gate"],
            materialization="table",
            path=t("pruned"),
        ),
        Model(
            "deduped",
            lambda f, v: stage_dedup(f["gate"], f["pruned"]),
            deps=["gate", "pruned"],
            materialization="table",
            path=t("deduped"),
        ),
        Model(
            "contaminated",
            lambda f, v: stage_contaminated(f["deduped"], f["documents"]),
            deps=["deduped"],
            materialization="table",
            path=t("contaminated"),
        ),
        Model(
            "clean",
            lambda f, v: stage_clean(f["deduped"], f["contaminated"]),
            deps=["deduped", "contaminated"],
            materialization="table",
            path=t("clean"),
        ),
        Model(
            "selected",
            lambda f, v: stage_dsir_select(f["clean"], v.get("dsir_k", dsir_k)),
            deps=["clean"],
            materialization="table",
            path=t("selected"),
        ),
        Model(
            "mixed",
            lambda f, v: stage_mixture(f["selected"]),
            deps=["selected"],
            materialization="table",
            path=t("mixed"),
        ),
        Model(
            "packed",
            lambda f, v: stage_pack(f["mixed"]),
            deps=["mixed"],
            materialization="table",
            path=t("packed"),
        ),
    ]


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    dsir_k: int = DSIR_K,
) -> dict[str, DataFrame]:
    """Run the orchestrated chain; returns {stage -> DataFrame} with table
    stages re-read from their parquet targets."""
    p = Pipeline(spark, vars={"dsir_k": dsir_k})
    for m in curation_models(out_dir, dsir_k):
        p.add(m)
    return p.run({"documents": docs})
