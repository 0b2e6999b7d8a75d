"""Streaming / windowed operators (SURVEY §2.12, operators ST1-ST4).

The reference is batch-only; its incremental machinery (watermark variables in
etl.SyncLog, ``WHERE ModifiedDate >= ?`` scans, processed-flag queues —
/root/reference/samples/ssis_packages/InventorySync.dtsx:34-65,118,269 and
CustomerDataLoad.dtsx:69-78) is the micro-batch analog of Structured
Streaming.  This module supplies both:

- the mandated window aggregations over ``events`` — tumbling / sliding
  (``F.window``) and session (``F.session_window``) — written so the SAME
  function works on a batch DataFrame (correctness-checkable against a SQL
  oracle) and on a ``readStream`` DataFrame (production path);
- watermark + exactly-once plumbing: ``with_watermark`` for late-data bounds,
  ``streaming_dedup`` (dropDuplicates within the watermark), and
  ``read_events_stream``/``write_stream`` wiring with checkpointed offsets —
  the checkpoint replaces the reference's etl.SyncLog high-water mark, and
  sink idempotence replaces its ProcessedFlag queue (ST3).

Scale notes: windowed aggregation shuffles on (window, keys) exactly once;
session windows keep per-key state bounded by the watermark delay.  No
``mapGroupsWithState`` is used — built-in operators keep state management in
Tungsten.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """ST1: late-data bound. On a batch DataFrame this is a no-op passthrough
    (batch has no late data), so window functions stay batch/stream agnostic."""
    if df.isStreaming:
        return df.withWatermark(ts_col, delay)
    return df


def tumbling_window(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str] | None = None,
    aggs: dict[str, Column] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """ST4: tumbling-window aggregate; output carries window_start/window_end.

    Windows align to the epoch (Spark's ``F.window`` origin), so a SQL oracle
    can reproduce bucket starts with ``floor(epoch(ts)/seconds)*seconds``.
    """
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    aggs = aggs or {"event_count": F.count(F.lit(1))}
    out = df.groupBy(F.window(ts_col, duration), *(keys or [])).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *(keys or []),
        *aggs.keys(),
    )


def sliding_window(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str] | None = None,
    aggs: dict[str, Column] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """ST4: sliding (hopping) window — each event lands in duration/slide
    overlapping windows."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    aggs = aggs or {"event_count": F.count(F.lit(1))}
    out = df.groupBy(F.window(ts_col, duration, slide), *(keys or [])).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *(keys or []),
        *aggs.keys(),
    )


def session_window(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: dict[str, Column] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """ST4: session windows — per-key activity bursts separated by >= ``gap``
    of silence.  ``session_end`` = last event + gap (Spark's semantics)."""
    if watermark:
        df = with_watermark(df, ts_col, watermark)
    aggs = aggs or {"event_count": F.count(F.lit(1))}
    out = df.groupBy(F.session_window(ts_col, gap), *keys).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *keys,
        *aggs.keys(),
    )


def streaming_dedup(
    df: DataFrame, keys: list[str], ts_col: str | None = None, delay: str = "1 hour"
) -> DataFrame:
    """ST3 (stateful dedup): dropDuplicates keyed on ``keys``; on a stream the
    watermark bounds the dedup state so it cannot grow without limit."""
    if ts_col is not None:
        df = with_watermark(df, ts_col, delay)
        return df.dropDuplicatesWithinWatermark(keys) if df.isStreaming else df.dropDuplicates(keys)
    return df.dropDuplicates(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    max_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event matches right events with
    the same keys whose timestamp lies in ``[left_ts - max_delay, left_ts]``
    (e.g. a purchase joined to the clicks that preceded it).

    Both sides get a ``max_delay`` watermark, and the time-bound join
    condition is what lets Spark EXPIRE join state: without it a
    stream-stream join buffers both streams forever.  State size is
    O(arrival rate x max_delay) per key.  On batch frames the same
    expression degrades to a plain range-condition join (oracle-checkable).
    """
    # alias both sides so the join works even when left and right are the
    # SAME frame (self-join on one stream) — unqualified refs would trip
    # Spark's ambiguous-self-join detection
    lw = with_watermark(left, left_ts, max_delay).alias("_ssj_l")
    rw = with_watermark(right, right_ts, max_delay).alias("_ssj_r")
    lcol = lambda c: F.col(f"_ssj_l.{c}")  # noqa: E731
    rcol = lambda c: F.col(f"_ssj_r.{c}")  # noqa: E731
    cond = None
    for k in on:
        c = lcol(k) == rcol(k)
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (rcol(right_ts) >= lcol(left_ts) - F.expr(f"INTERVAL {max_delay}"))
        & (rcol(right_ts) <= lcol(left_ts))
    )
    # output: all left columns as-is; right side drops the join keys
    # (identical to left's) and renames any other name collision to
    # _r_<name>, so the result never carries ambiguous duplicates (two
    # same-schema streams is the norm)
    left_names = set(left.columns)
    rcols = [
        rcol(c).alias(c if c not in left_names else f"_r_{c}")
        for c in right.columns
        if c not in set(on)
    ]
    return lw.join(rw, cond, how).select(
        *[lcol(c).alias(c) for c in left.columns], *rcols
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: every micro-batch joins against the static
    dimension frame — the streaming analog of the J1 broadcast Lookup (the
    dimension is pinned broadcast, so the stream side never shuffles).  The
    static plan re-evaluates per micro-batch; state-free, unlike a
    stream-stream join.  Works identically on batch frames (oracle path).
    """
    return stream.join(F.broadcast(dim), on, how)


def stateful_running_totals(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum) that persists across micro-batches in the state
    store — the escape hatch for operators the built-in windowed aggs can't
    express (lifetime-to-date counters, custom decay, cross-batch ML state).

    Emits one row per key per micro-batch with the updated lifetime totals
    (output mode ``update``).  State is a tiny (long, double) tuple per key:
    bounded by key cardinality, not event volume, so a 1000-executor
    deployment shards it by the groupBy hash with no growth over time.
    Arrow-batched (Pandas) — the state function sees whole key-batches,
    never row-at-a-time Python.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total]}
        )

    key_type = dict(zip(df.schema.names, df.schema))[key_col].dataType.simpleString()
    return df.groupBy(key_col).applyInPandasWithState(
        update,
        f"{key_col} {key_type}, n_events long, total_value double",
        "n long, total double",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def read_events_stream(spark, path: str, schema) -> DataFrame:
    """ST2: micro-batch source — the streaming analog of the reference's
    incremental predicate scan; checkpointed offsets replace etl.SyncLog."""
    return spark.readStream.schema(schema).parquet(path)


def write_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    mode: str = "append",
    trigger_available_now: bool = True,
):
    """ST3: exactly-once parquet sink. The checkpoint directory carries the
    committed offsets (no ProcessedFlag column needed); AvailableNow drains
    the backlog then stops — the reference's scheduled-batch cadence."""
    writer = (
        df.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_update(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Update-mode sink for stateful operators: the parquet sink only
    supports append, so updated rows land via ``foreachBatch`` — each
    micro-batch OVERWRITES its own ``batch_id=N`` subdirectory (partition
    discovery exposes ``batch_id`` as a column), and readers take the
    max-``batch_id`` row per key for current state.  foreachBatch alone is
    at-least-once — a batch replayed after a failure between write and
    checkpoint commit runs again — but the keyed overwrite makes the replay
    idempotent, restoring end-to-end exactly-once.  (The subdirectory is NOT
    ``_batch_id=N``: Hadoop path filters hide ``_``-prefixed dirs.)"""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    writer = (
        df.writeStream.foreachBatch(_write)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_apply_changes(
    changes: DataFrame,
    target_path: str,
    keys: list[str],
    seq_col: str,
    op_col: str = "change_type",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming CDC merge sink: each micro-batch of changelog rows is
    applied to the parquet target with :func:`operators.cdc.apply_changes`
    (last-seq-wins upsert/delete), written to a staging sibling, and
    atomically directory-swapped in — the streaming analog of Delta's
    ``APPLY CHANGES INTO`` with plain parquet as the table format.

    foreachBatch is at-least-once, but replaying a batch is idempotent:
    re-upserting the same payload and re-deleting an absent key both leave
    the target unchanged, so the swap restores end-to-end exactly-once.
    The batch is applied against the CURRENT target (read inside the batch
    function), so sequential micro-batches compose: batch N sees the state
    batch N-1 committed.

    LOCAL-FILESYSTEM sink: the two-rename swap uses driver-local
    ``os.rename``, so ``target_path`` must be a local path (an S3/HDFS
    target needs a rename-capable FileSystem layer or a table format
    with a commit protocol — that is what the Delta analog buys).  The
    two renames are not jointly atomic; a crash between them leaves no
    target directory, so ``_apply`` SELF-HEALS on entry: a leftover
    ``__cdc_old`` with no live target is renamed back before applying
    (the stale backup with a live target — crash before cleanup — is
    simply removed).
    """
    import os
    import shutil

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from .operators.cdc import apply_changes

        spark = batch_df.sparkSession
        staging = target_path.rstrip("/") + "__cdc_staging"
        backup = target_path.rstrip("/") + "__cdc_old"
        # self-heal a mid-swap crash from a previous run: target gone but
        # backup present -> restore the backup (the replayed batch then
        # re-applies onto the pre-swap state, which is idempotent)
        if os.path.isdir(backup):
            if not os.path.isdir(target_path):
                os.rename(backup, target_path)
            else:  # crash after both renames, before backup cleanup
                shutil.rmtree(backup)
        if os.path.isdir(staging):
            shutil.rmtree(staging)  # incomplete staging from a crash
        target = spark.read.parquet(target_path)
        # apply_changes unions the payload columns of the target schema
        merged = apply_changes(target, batch_df, keys, seq_col, op_col)
        merged.write.mode("overwrite").parquet(staging)
        os.rename(target_path, backup)
        os.rename(staging, target_path)
        shutil.rmtree(backup)
        spark.catalog.clearCache()

    writer = (
        changes.writeStream.foreachBatch(_apply)
        .outputMode("update")
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming ordered-funnel via ``applyInPandasWithState``: per-user
    step timestamps advance across micro-batches in the state store; each
    touched user emits its current ``(step_ts..., depth)`` row per batch
    (update mode) — the streaming twin of ``operators.funnel.funnel``.

    Semantics contract: within a batch, events apply in event-time order
    (each pandas group is sorted); across batches the fold matches the
    batch operator whenever a user's event times are non-decreasing across
    batch boundaries (the availableNow ordered-feed case the e2e test
    drives).  A late event that would have satisfied an EARLIER step is not
    retro-applied — the state store only moves forward; that divergence is
    inherent to single-pass streaming funnels and documented here rather
    than hidden.

    State per user: ``len(steps)`` microsecond longs (-1 = unset) — bounded
    by user cardinality, sharded by the groupBy hash, no growth over time.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not steps:
        raise ValueError("steps must be non-empty")
    k = len(steps)
    state_schema = ", ".join(f"t{i} long" for i in range(k))
    out_steps = ", ".join(f"step_{i + 1}_ts timestamp" for i in range(k))

    def update(key, pdfs, state):
        import pandas as pd

        cur = list(state.get) if state.exists else [-1] * k
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for ts, et in zip(pdf[ts_col], pdf[type_col]):
                us = ts.value // 1000  # pandas ns -> micros
                for i, s in enumerate(steps):
                    if cur[i] != -1 or et != s:
                        continue
                    if i == 0 or (cur[i - 1] != -1 and us > cur[i - 1]):
                        cur[i] = us
                    break  # the non-null prefix property makes the first
                    # index with cur[i] == -1 the only candidate
        depth = sum(1 for t in cur if t != -1)
        if depth == 0:
            # no step-1 event yet: keep NO state (matches the batch
            # operator, which omits such users) and emit nothing — also
            # stops never-converting users from growing the state store
            return
        state.update(tuple(cur))
        row = {user_col: [key[0]]}
        for i in range(k):
            row[f"step_{i + 1}_ts"] = [
                pd.Timestamp(cur[i], unit="us") if cur[i] != -1 else pd.NaT
            ]
        row["depth"] = [depth]
        yield pd.DataFrame(row)

    key_type = dict(zip(df.schema.names, df.schema))[user_col].dataType.simpleString()
    return df.filter(F.col(type_col).isin(list(steps))).groupBy(
        user_col
    ).applyInPandasWithState(
        update,
        f"{user_col} {key_type}, {out_steps}, depth int",
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _dsir_versions(spark, dsir_state_path: str) -> list[int]:
    from . import fs as _fs

    return sorted(
        int(d[1:])
        for d in _fs.list_dir(spark, dsir_state_path)
        if d.startswith("v") and d[1:].isdigit()
    )


def load_dsir_state(spark, dsir_state_path: str, below: int | None = None):
    """Load a persisted DSIR fit state written by
    :func:`write_stream_crawl_ingest`'s ``dsir_state_path`` option —
    versioned subdirs ``v{batch_id}`` plus a ``seed`` dir written once
    at deployment start.  Default: the highest version (falling back to
    the seed).  ``below=N`` loads the newest version STRICTLY below N,
    else the seed — the replay-idempotent base for micro-batch N: even
    when a crashed attempt already wrote ``v{N}``, the replay merges
    the batch delta into the same pre-batch base, never double-counting
    it (r9 ADVICE, high).  Returns ``None`` when neither a matching
    version nor a seed exists.

    r10: listing goes through the Hadoop FileSystem API (``fs.py``), so
    ``file://``, HDFS and S3A state paths all work."""
    from . import fs as _fs

    versions = _dsir_versions(spark, dsir_state_path)
    if below is not None:
        versions = [v for v in versions if v < int(below)]
    if versions:
        return spark.read.parquet(f"{dsir_state_path}/v{max(versions)}")
    if _fs.exists(spark, f"{dsir_state_path}/seed"):
        return spark.read.parquet(f"{dsir_state_path}/seed")
    return None


def resume_ingest_state(
    spark, table_prefix: str, dsir_state_path: str
):
    """Rebuild the full :class:`~ssis_to_dbt_spark.ingest.IngestState`
    after a restart: index from the persisted bucketed tables, DSIR
    state from its latest on-disk version — nothing from memory, so a
    killed streaming job resumes exactly (pytest-pinned: a restarted
    sink's batch results equal the continuous run's)."""
    from .ingest import IngestState
    from .text.dedup import read_corpus_dedup_index

    spark.catalog.refreshTable(f"{table_prefix}_bands")
    spark.catalog.refreshTable(f"{table_prefix}_sigs")
    sigs, bands = read_corpus_dedup_index(spark, table_prefix)
    st = load_dsir_state(spark, dsir_state_path)
    if st is None:
        raise ValueError(
            f"no persisted DSIR state under {dsir_state_path!r} — seed "
            "the loop with seed_ingest_state first"
        )
    # the handler re-derives its per-batch base from disk anyway (newest
    # version strictly below the batch id), so a latest version written
    # by a crashed-but-uncommitted batch cannot leak into the resumed
    # loop's computation — this frame is only the pre-loop placeholder
    return IngestState(sigs=sigs, bands=bands, dsir_state=st)


def write_stream_crawl_ingest(
    stream_df: DataFrame,
    state,
    out_dir: str,
    checkpoint: str,
    dup_threshold: float | None = None,
    table_prefix: str | None = None,
    dsir_state_path: str | None = None,
    dsir_state_keep_versions: int = 3,
    audit_every: int | None = None,
    audit_max_bucket_size: int = 10_000,
    compact_path_prefix: str | None = None,
    state_checkpoint_every: int = 8,
    dedup_within_batch: bool = False,
    band_bucket_cap: int | None = None,
):
    """r9: the continuous-crawl ingest loop as a ``foreachBatch`` sink —
    the streaming deployment of :func:`ssis_to_dbt_spark.ingest
    .ingest_batch` (value-identical to the batch form per micro-batch;
    pytest-pinned in ``test_streaming_e2e.py``).

    Each micro-batch: Gopher gate -> dedup vs the CURRENT index -> accept
    -> merged DSIR refit -> score -> pack; accepted/scored/packed rows
    land as ``batch_id=N`` subdirectory OVERWRITES under ``out_dir``
    (partition discovery exposes ``batch_id`` on read).  foreachBatch is
    at-least-once — a crash between the handler's side effects and the
    checkpoint commit replays the batch — so every side effect is made
    replay-idempotent below (``_ib`` index tags, strictly-below-N DSIR
    base, batch-keyed output overwrites) rather than assumed
    exactly-once.

    ``table_prefix`` selects the PERSISTED index deployment: the handler
    re-reads the bucketed index tables at each batch and appends accepted
    docs via ``append_corpus_dedup_index`` — the 100 TB shape (the corpus
    index lives on disk; only the DSIR state, ≤buckets rows, rides the
    in-memory loop state).  Without it the index evolves functionally in
    ``state`` — the small-deployment/test shape.

    ``dsir_state_path`` (r9) persists the merged DSIR state after each
    batch as a versioned ``v{batch_id}`` parquet (≤buckets rows) — with
    ``table_prefix`` this makes the loop fully RESTARTABLE: after a
    crash, :func:`resume_ingest_state` rebuilds the entire state from
    disk and the checkpoint skips completed batches (restart-equals-
    continuous pytest-pinned).

    r10 — the whole handler is REPLAY-IDEMPOTENT (foreachBatch is
    at-least-once; a crash between the handler's side effects and the
    checkpoint commit replays the batch):

    - the DSIR base for batch N is the newest persisted version
      STRICTLY below N (else the seed, written once under
      ``{dsir_state_path}/seed``) — never the in-memory latest, so a
      replayed batch merges its delta into the same pre-batch base
      instead of double-counting it;
    - accepted/scored/packed land as per-batch ``batch_id=N``
      subdirectory OVERWRITES (partition discovery exposes ``batch_id``
      on read) — a replay rewrites its own output, never appends twice;
    - index rows are tagged ``_ib = N``: the probe filters out rows
      tagged N (a crashed attempt's own appends can't self-reject the
      replay) and the append skips per table when tag-N rows exist.

    ``audit_every`` (r10) wires index hygiene into the loop: at the
    START of every ``audit_every``-th batch (and before its probe) the
    band audit runs over batches `< N`; when any bucket exceeds
    ``audit_max_bucket_size``, :func:`compact_corpus_dedup_index`
    rebuilds the index from stored signatures (staging at
    ``compact_path_prefix`` — required with ``audit_every``), passing
    tag-``>= N`` rows through verbatim so a replayed batch reaches the
    identical post-compaction index.

    ``state_checkpoint_every`` bounds the IN-MEMORY deployment's plan
    depth: without ``table_prefix`` the functional state unions one
    batch delta per batch, so every K batches the sigs/bands lineage is
    truncated with a lazy ``localCheckpoint`` (the on-disk deployment
    needs none — its state lives in the bucketed tables).

    Returns ``(query, state_box)``; ``state_box["state"]`` holds the
    latest :class:`~ssis_to_dbt_spark.ingest.IngestState` after the run.
    """
    from . import fs as _fs
    from .ingest import DUP_THRESHOLD, IngestState, ingest_batch

    thr = DUP_THRESHOLD if dup_threshold is None else float(dup_threshold)
    if audit_every is not None and compact_path_prefix is None:
        raise ValueError(
            "audit_every requires compact_path_prefix (the compaction "
            "staging location)"
        )
    box = {"state": state}
    if dsir_state_path is not None:
        # persist the seed ONCE (only when absent): the replay base for
        # batch 0 and the resume fallback.  On a restart the seed dir
        # already exists and the possibly-contaminated latest version is
        # left alone — the handler never reads it for a replayed batch.
        sess = stream_df.sparkSession
        if not _fs.exists(sess, f"{dsir_state_path}/seed"):
            state.dsir_state.write.mode("overwrite").parquet(
                f"{dsir_state_path}/seed"
            )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        st = box["state"]
        bid = int(batch_id)
        if table_prefix is not None:
            from .text.dedup import (
                compact_corpus_dedup_index,
                corpus_dedup_index_band_audit,
                read_corpus_dedup_index,
            )

            # each micro-batch runs on a CLONED session whose cached
            # table file listings do NOT see appends made by earlier
            # batches' clones — refresh before reading, or batch N would
            # probe an index missing batch N-1's acceptances (caught by
            # the e2e test; a silent under-dedup otherwise)
            spark.catalog.refreshTable(f"{table_prefix}_bands")
            spark.catalog.refreshTable(f"{table_prefix}_sigs")
            if (
                audit_every is not None
                and bid > 0
                and bid % int(audit_every) == 0
            ):
                over = corpus_dedup_index_band_audit(
                    spark, table_prefix, audit_max_bucket_size,
                    tags_below=bid,
                )
                if over.take(1):
                    compact_corpus_dedup_index(
                        spark, table_prefix, compact_path_prefix,
                        max_bucket_size=audit_max_bucket_size,
                        keep_tags_at_or_above=bid,
                    )
                    spark.catalog.refreshTable(f"{table_prefix}_bands")
                    spark.catalog.refreshTable(f"{table_prefix}_sigs")
            sigs, bands = read_corpus_dedup_index(
                spark, table_prefix, with_batch_tag=True
            )
            st = IngestState(
                sigs=sigs.filter(F.col("_ib") != bid).drop("_ib"),
                bands=bands.filter(F.col("_ib") != bid).drop("_ib"),
                dsir_state=st.dsir_state,
            )
        if dsir_state_path is not None:
            base = load_dsir_state(spark, dsir_state_path, below=bid)
            if base is None:
                raise ValueError(
                    f"no DSIR seed/version below batch {bid} under "
                    f"{dsir_state_path!r}"
                )
            st = IngestState(
                sigs=st.sigs, bands=st.bands, dsir_state=base
            )
        r = ingest_batch(
            batch_df, st, dup_threshold=thr,
            dedup_within_batch=dedup_within_batch,
            band_bucket_cap=band_bucket_cap,
        )
        if dsir_state_path is not None:
            r.state.dsir_state.write.mode("overwrite").parquet(
                f"{dsir_state_path}/v{bid}"
            )
            # retention: each version is tiny (≤buckets rows) but a
            # long-lived loop writes one per batch — keep the newest K,
            # clamped to >= 2 so the replay base (newest version below
            # the live batch) always survives retention
            keep = max(2, int(dsir_state_keep_versions))
            for v in _dsir_versions(spark, dsir_state_path)[:-keep]:
                _fs.delete(spark, f"{dsir_state_path}/v{v}")
        for name, df in (
            ("accepted", r.accepted),
            ("scored", r.scored),
            ("packed", r.packed),
        ):
            # batch-keyed overwrite (the write_stream_update pattern):
            # replay-idempotent, and the dir name is NOT _-prefixed
            # (Hadoop path filters hide _ dirs from readers)
            df.write.mode("overwrite").parquet(
                f"{out_dir}/{name}/batch_id={bid}"
            )
        if table_prefix is not None:
            from .text.dedup import append_corpus_dedup_index

            append_corpus_dedup_index(
                r.accepted.select("doc_id", "text"), table_prefix,
                batch_id=bid,
                new_index=(r.accepted_sigs, r.accepted_bands),
            )
            box["state"] = IngestState(
                sigs=st.sigs, bands=st.bands,
                dsir_state=r.state.dsir_state,
            )
        else:
            ns = r.state
            if (
                state_checkpoint_every
                and (bid + 1) % int(state_checkpoint_every) == 0
            ):
                # truncate the union lineage of the functional state —
                # lazy: materializes with the next probe's first action
                ns = IngestState(
                    sigs=ns.sigs.localCheckpoint(eager=False),
                    bands=ns.bands.localCheckpoint(eager=False),
                    dsir_state=ns.dsir_state,
                )
            box["state"] = ns

    query = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return query, box


def write_stream_ivf_probe(
    queries_stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint: str,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    index_id_col: str = "vec_id",
    index_vec_col: str = "embedding",
    trigger_available_now: bool = True,
):
    """Streaming ANN: probe query micro-batches against the PERSISTED IVF
    index (:func:`~ssis_to_dbt_spark.text.similarity.write_ivf_index`).

    Per micro-batch: open the index (the centroid fetch is a model-sized
    read — n_cells rows, like reading a watermark; the assignment frame
    stays lazy on the partitioned layout), run
    :func:`~ssis_to_dbt_spark.text.similarity.ivf_probe_batch` (the scan
    partition-prunes to the batch's probed cells), and OVERWRITE the
    batch's own ``batch_id=N`` subdirectory — the
    :func:`write_stream_update` keyed-overwrite discipline, so a replayed
    batch lands idempotently and the at-least-once ``foreachBatch``
    contract composes back to exactly-once results.

    The corpus is never re-assigned, re-clustered, or re-scanned beyond
    the probed partitions — per-batch corpus-side work is bounded by
    ``nprobe/n_cells`` of the index regardless of how long the stream
    runs, the same per-batch-boundedness contract as
    :func:`write_stream_crawl_ingest`'s index probe.

    ``index_id_col``/``index_vec_col`` name the PERSISTED index's columns
    (they may differ from the query stream's); an all-empty stream still
    creates ``out_dir`` with the result schema and zero rows, so a
    downstream ``spark.read.parquet(out_dir)`` never throws
    path-not-found (r11 ADVICE).  The sink-exists check goes through the
    Hadoop FS helpers (r12 ADVICE) — ``os.path.exists`` is always false
    for an ``hdfs://``/``s3a://`` sink, which would make every empty
    batch re-read the index and rewrite an empty partition."""
    from . import fs as _fs
    from .text.similarity import ivf_probe_batch, read_ivf_index

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            if _fs.exists(spark, out_dir):
                return
            # first-and-empty: still create the sink (result schema,
            # zero rows) by probing with the batch's own empty frame —
            # a later spark.read.parquet(out_dir) must not throw
            batch_df = batch_df.limit(0)
        idx = read_ivf_index(
            spark, index_path, id_col=index_id_col, vec_col=index_vec_col
        )
        res = ivf_probe_batch(
            idx,
            batch_df,
            k=k,
            nprobe=nprobe,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            id_col=index_id_col,
            vec_col=index_vec_col,
        )
        res.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    writer = (
        queries_stream.writeStream.foreachBatch(_probe)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_bm25_probe(
    queries_stream: DataFrame,
    table_prefix: str,
    out_dir: str,
    checkpoint: str,
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
    trigger_available_now: bool = True,
):
    """Streaming lexical search (r12): probe query micro-batches against
    the PERSISTED BM25 postings index
    (:func:`~ssis_to_dbt_spark.text.retrieval.write_bm25_index`) — the
    lexical twin of :func:`write_stream_ivf_probe`.

    The stream carries ``(query_id, term)`` rows.  Per micro-batch: the
    batch's query-term pairs collect to the driver (bounded — query
    batches are REQUESTS, model-sized, exactly like the IVF probe's
    routed query set; never corpus rows), the probe bucket-prunes the
    postings to the batch's terms via
    :func:`~ssis_to_dbt_spark.text.retrieval.bm25_index_probe`, and the
    result OVERWRITES the batch's own ``batch_id=N`` subdirectory — the
    keyed-overwrite discipline, so a replayed batch lands idempotently.

    Results are per-query, so the union over micro-batches equals the
    one-shot batch probe PROVIDED one query's terms never split across
    micro-batches — stage each query's terms in one source file (the
    natural shape: a query arrives whole).  r12 ADVICE: that
    precondition is now ENFORCED, not just documented — each batch
    records its query_ids in a ``_query_ids/batch_id=N`` sidecar
    (underscore-prefixed, so result reads skip it) and a batch that
    carries a query_id already claimed by a DIFFERENT batch raises
    before writing, instead of silently leaving two conflicting partial
    rankings for one query.  A REPLAYED batch (same batch_id) passes —
    the keyed overwrite keeps replays idempotent.  The sidecar read is
    bounded: one row per (query, batch) ever seen, request-scale.
    An all-empty stream still creates ``out_dir`` with the result
    schema (same contract as the IVF twin).  Corpus-side work per batch
    is the batch's terms' buckets only, regardless of stream lifetime."""
    from . import fs as _fs
    from .text.retrieval import bm25_index_probe, read_bm25_index

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rows = batch_df.select(query_id_col, term_col).collect()
        if not rows and _fs.exists(spark, out_dir):
            return
        queries: dict[str, list[str]] = {}
        for r in rows:
            queries.setdefault(str(r[query_id_col]), []).append(
                str(r[term_col])
            )
        seen_dir = f"{out_dir}/_query_ids"
        if queries and _fs.exists(spark, seen_dir):
            prior = {
                str(r["query_id"])
                for r in spark.read.parquet(seen_dir)
                .filter(F.col("batch_id") != int(batch_id))
                .select("query_id")
                .distinct()
                .collect()
            }
            split = sorted(set(queries) & prior)
            if split:
                raise ValueError(
                    "write_stream_bm25_probe: query ids "
                    f"{split} already probed in a prior micro-batch — "
                    "a query's terms must arrive in ONE batch (stage "
                    "each query's terms in one source file); a split "
                    "query would leave two conflicting partial "
                    "rankings"
                )
        idx = read_bm25_index(spark, table_prefix)
        # an empty queries dict yields the probe's typed empty frame —
        # first-and-empty batches create the sink with the result schema
        res = bm25_index_probe(
            idx, queries, top_k=top_k, k1=k1, b=b, id_col=id_col
        )
        res.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        if queries:
            from .local_rel import local_rows_df

            # JVM LocalRelation, one task (r14 perf) — no repartition
            # shuffle, no Python-slice spread for the sidecar id list
            local_rows_df(
                spark, [(q,) for q in sorted(queries)], "query_id string"
            ).write.mode("overwrite").parquet(
                f"{seen_dir}/batch_id={batch_id}"
            )

    writer = (
        queries_stream.writeStream.foreachBatch(_probe)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_media_ingest(
    media_stream: DataFrame,
    table_prefix: str,
    out_dir: str,
    checkpoint: str,
    max_hamming: int = 2,
    id_col: str = "media_id",
    fp_col: str = "phash",
    max_bucket_size: int | None = 10_000,
    audit_every: int | None = None,
    audit_max_bucket_size: int = 10_000,
    compact_path_prefix: str | None = None,
):
    """r14: the IMAGE dedup loop as a ``foreachBatch`` sink — the
    streaming deployment of :func:`ssis_to_dbt_spark.ingest
    .ingest_media_batch` against the persisted perceptual-hash index
    (value-identical to the batch form per micro-batch; pytest-pinned
    in ``test_streaming_e2e.py``).  The stream carries already-hashed
    ``(media_id, phash)`` fingerprints — hashing is the map-only stage
    of the media decode pipeline and composes upstream.

    Each micro-batch ``N``: optional band-audit/compaction hygiene ->
    within-batch keep-one -> probe vs the stored index -> reject
    matches -> append the acceptances tagged ``_ib = N``.
    foreachBatch is at-least-once, and every side effect follows the
    crawl sink's replay-idempotence contract:

    - the probe excludes index rows tagged ``N`` (a crashed first
      attempt's own appends can't self-reject the replay);
    - the append SKIPS when tag-``N`` rows already exist;
    - accepted/rejected land as per-batch ``batch_id=N`` subdirectory
      OVERWRITES (partition discovery exposes ``batch_id`` on read);
    - ``audit_every``-cadence compaction passes tag-``>= N`` rows
      through verbatim (``keep_tags_at_or_above``), so a replayed batch
      reaches the identical post-compaction index.

    100 TB: every stage touches the 8-byte/image fingerprint relation;
    the index side of the probe reads matching buckets of the bucketed
    table with zero exchange."""
    from . import blocks
    from .ingest import ingest_media_batch
    from .text.dedup import (
        append_phash_index,
        compact_phash_index,
        phash_index_band_audit,
    )

    if audit_every is not None and compact_path_prefix is None:
        raise ValueError(
            "audit_every requires compact_path_prefix (the compaction "
            "staging location)"
        )

    def handle(batch_fp: DataFrame, batch_id: int) -> None:
        # the checkpoints a micro-batch makes (keep-one, its banding, the
        # probe pairs) are consumed once its outputs and append are
        # written: release them, or a long-lived stream piles them up
        with blocks.released_on_exit():
            spark = batch_fp.sparkSession
            bid = int(batch_id)
            # cloned-session cache: see the crawl sink — without the refresh
            # batch N probes an index missing batch N-1's acceptances
            spark.catalog.refreshTable(f"{table_prefix}_phash")
            if (
                audit_every is not None
                and bid > 0
                and bid % int(audit_every) == 0
            ):
                over = phash_index_band_audit(
                    spark, table_prefix, audit_max_bucket_size,
                    tags_below=bid,
                )
                if over.take(1):
                    compact_phash_index(
                        spark, table_prefix, compact_path_prefix,
                        id_col=id_col, keep_tags_at_or_above=bid,
                    )
                    spark.catalog.refreshTable(f"{table_prefix}_phash")
            r = ingest_media_batch(
                spark, batch_fp, table_prefix, max_hamming=max_hamming,
                id_col=id_col, fp_col=fp_col, max_bucket_size=max_bucket_size,
                batch_id=bid, append=False,
            )
            for name, df in (("accepted", r.accepted),
                             ("rejected", r.rejected)):
                df.write.mode("overwrite").parquet(
                    f"{out_dir}/{name}/batch_id={bid}"
                )
            append_phash_index(
                r.accepted, table_prefix, id_col=id_col, fp_col=fp_col,
                batch_id=bid,
            )

    return (
        media_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
