"""Engine-owned lifecycle for what a catalog query leaves behind.

A catalog query can leave two kinds of session state behind it:
``localCheckpoint`` blocks pinned in storage memory (dedup signature passes,
IVF routing, crawl-loop state, CC label rounds) and scratch dirs made by
``catalog._rt_tmpdir`` (round-trip sinks, index files, stream checkpoints).
Both must outlive the builder, because the returned DataFrame is lazy and its
consumer evaluates it after the builder returns.  Neither may outlive the
next query, or a long-lived session piles them up.

:func:`query_scope` owns both.  ``catalog.ALL_QUERIES`` runs every entry in
one, so ``catalog.QUERIES`` and ``__spark_entry__.queries()`` do too.  No
call site registers its checkpoints:

- blocks: the scope reads the ids of ``getPersistentRDDs()`` at entry and at
  exit; the RDDs that appeared in between belong to the query.  A lazy
  ``localCheckpoint`` is persistent from the moment it is declared, so lazy
  and eager checkpoints are both caught.
- scratch dirs: :func:`own_dir` records a dir in the open scope.

Entering the next top-level scope unpersists (async) and deletes what earlier
scopes recorded.  Nested scopes (a suite building its parts) share the outer
one.  Anything made outside a scope, such as a direct library call or a
serving client's persisted index, is never touched.

Contract: a DataFrame returned by a catalog query is valid until the next
catalog query is built; consume it (collect or write) first.  With
``SPARK_GRAFT_KEEP_BLOCKS=1`` entering a scope releases nothing: blocks and
scratch dirs stay until the caller runs :func:`release_pending`.
:func:`release` unpersists one checkpoint a builder has fully consumed, and
:func:`released_on_exit` every RDD persisted while a block of work ran, such
as a streaming sink's micro-batch (both no-ops under the same switch).
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame

__all__ = [
    "checkpoint", "materialize", "release", "query_scope", "release_pending",
    "own_dir", "released_on_exit",
]


def _keep_blocks() -> bool:
    return os.environ.get("SPARK_GRAFT_KEEP_BLOCKS", "").strip().lower() in (
        "1",
        "true",
        "yes",
        "on",
    )


# (persistent RDD ids at entry, scratch dirs) of the open top-level scope
_open: tuple[set[int], list[str]] | None = None
# finished scopes' leftovers, released when the next scope is entered; the
# RDDs are JVM handles, so a release never hits a later context's reused id
_pending_rdds: list = []
_pending_dirs: list[str] = []


def _persistent_rdds():
    """The active context's ``{id: JavaRDD}`` map, or None without one."""
    sc = SparkContext._active_spark_context
    return None if sc is None else sc._jsc.getPersistentRDDs()


def _ids(rdds) -> set[int]:
    # "[3, 7]" from the JVM in one py4j call, not one per key
    text = rdds.keySet().toString().strip("[]") if rdds is not None else ""
    return {int(k) for k in text.split(",") if k.strip()}


def _since(before: set[int]) -> list:
    """The persistent RDDs whose ids are not in ``before``."""
    rdds = _persistent_rdds()
    return [rdds.get(i) for i in _ids(rdds) - before]


def _ckpt_jrdd(df: DataFrame):
    """The JVM RDD a localCheckpointed DataFrame pins, or None.

    ``Dataset.localCheckpoint`` (eager or lazy) returns a Dataset over a
    ``LogicalRDD`` wrapping the internal RDD it marked persistent; that RDD
    is exactly what ``unpersist`` must hit.  Any other plan shape yields
    None.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()
    except Exception:
        return None


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``; an open scope owns its blocks."""
    return df.localCheckpoint(eager=eager)


def materialize(df: DataFrame) -> int:
    """Materialize a lazily checkpointed frame and return its row count,
    in one Spark job (``df.count()`` plans an aggregate: two jobs under
    adaptive execution)."""
    return int(_ckpt_jrdd(df).count())


def release(df: DataFrame | None) -> None:
    """Immediately unpersist a checkpointed frame's blocks (async).

    For intermediates fully consumed inside a builder: the caller asserts
    nothing will evaluate ``df`` again.  No-op on None, non-checkpoint
    frames, and under ``SPARK_GRAFT_KEEP_BLOCKS=1``.
    """
    if df is None or _keep_blocks():
        return
    jrdd = _ckpt_jrdd(df)
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
        except Exception:
            pass


def own_dir(path: str) -> str:
    """Record scratch dir ``path`` in the open scope; returns ``path``."""
    if _open is not None:
        _open[1].append(path)
    return path


def release_pending() -> None:
    """Release every block and scratch dir left by finished query scopes."""
    global _pending_rdds, _pending_dirs
    rdds, dirs = _pending_rdds, _pending_dirs
    _pending_rdds, _pending_dirs = [], []
    for jrdd in rdds:
        try:
            jrdd.unpersist(False)
        except Exception:  # its context is gone
            pass
    for path in dirs:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def query_scope():
    """Own everything one top-level catalog query leaves behind.

    Entering a new top-level scope first releases what earlier scopes left
    (their results were consumed before this query is built).  Nested
    scopes share the outer one.
    """
    global _open
    if _open is not None:
        yield
        return
    if not _keep_blocks():
        release_pending()
    _open = (_ids(_persistent_rdds()), [])
    try:
        yield
    finally:
        before, dirs = _open
        _open = None
        _pending_rdds.extend(_since(before))
        _pending_dirs.extend(dirs)


@contextmanager
def released_on_exit():
    """Unpersist (async), on exit, every RDD persisted while the block ran.

    For a unit of work that writes all its results before it ends, such
    as a streaming sink's micro-batch.  The ids are the session's, not
    the thread's: an RDD another thread persists meanwhile is released
    too.  A no-op under ``SPARK_GRAFT_KEEP_BLOCKS=1``.
    """
    before = _ids(_persistent_rdds())
    try:
        yield
    finally:
        if not _keep_blocks():
            for jrdd in _since(before):
                jrdd.unpersist(False)
