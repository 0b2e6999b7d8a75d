"""Model-sized local tables as JVM LocalRelations (r14 perf).

``spark.createDataFrame(rows)`` parallelizes a local list over
default-parallelism PYTHON slices: every evaluation pays one Python-worker
round-trip per slice (~32 of them for a 3-row table on local[32]) plus
pickling.  For the bounded, model-sized tables the engine embeds in query
plans (query-term lists, arm tables, centroid rows, literal fixtures) the
same relation renders as a literal ``inline(array(named_struct(...)))``
over the one-row relation — pure JVM and ONE partition (so one task
wherever it is scanned or broadcast, whatever the default parallelism),
no Python workers, no shuffle, and the optimizer sees foldable literals.

Only for BOUNDED model-sized inputs (the same contract as a broadcast
watermark): the SQL text grows linearly with the rows embedded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _sql_str(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_val(v, typ: str) -> str:
    t = typ.strip().lower()
    if v is None:
        return f"CAST(NULL AS {typ})"
    if t in ("string", "varchar"):
        return _sql_str(str(v))
    if t in ("double", "float"):
        # repr() is the shortest round-trip decimal: re-parses to the
        # identical bits (pinned in tests/test_text.py)
        return f"CAST({float(v)!r} AS {typ})"
    if t in ("int", "integer", "bigint", "long", "smallint", "tinyint"):
        sql_t = "BIGINT" if t == "long" else typ
        return f"CAST({int(v)} AS {sql_t})"
    if t == "boolean":
        return "true" if v else "false"
    if t == "date":
        return f"DATE{_sql_str(str(v))}"
    if t == "timestamp":
        return f"TIMESTAMP{_sql_str(str(v))}"
    raise ValueError(f"unsupported local-relation type {typ!r}")


def local_rows_df(spark, rows, schema: str) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a JVM LocalRelation.

    ``schema`` is the DDL string ``"name type, name type, ..."`` (flat
    scalar columns only — the types :func:`_sql_val` knows).  Rows are
    tuples in schema order.  An empty ``rows`` yields the 0-row relation
    with the same schema."""
    cols = []
    for part in schema.split(","):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ))
    if not rows:
        nulls = ", ".join(
            f"CAST(NULL AS {'BIGINT' if t.strip().lower() == 'long' else t})"
            f" AS `{n}`"
            for n, t in cols
        )
        return spark.sql(f"SELECT {nulls} WHERE false")
    structs = ", ".join(
        "named_struct("
        + ", ".join(
            f"'{n}', {_sql_val(v, t)}"
            for (n, t), v in zip(cols, row)
        )
        + ")"
        for row in rows
    )
    return spark.sql(f"SELECT inline(array({structs}))")
