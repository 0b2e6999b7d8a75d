"""Query registry backing ``__spark_entry__.py`` (driver contract).

Each entry pairs a Spark query built from the engine's operators with an
ANSI-SQL oracle DuckDB runs on the same parquet tables.  Column names and
result types are aligned on both sides (the driver's compare sorts columns by
name and hashes values), so every computed column is explicitly aliased and
cast identically in the Spark code and the SQL.

Numeric-determinism ground rules (why the casts look the way they do):
- measures are cast to DECIMAL before aggregation — decimal sums are exact
  and order-independent, so Spark's parallel partial aggregation and DuckDB's
  sequential scan produce identical values (a raw SUM(double) would differ in
  final ulps between engines);
- double->decimal casts are safe (a binary double can never sit exactly on a
  decimal rounding midpoint), decimal->narrower-decimal casts are avoided;
- per-row double arithmetic (ratios, cosines) keeps the same expression tree
  on both sides, which makes IEEE results bit-identical.

Operator coverage tags reference SURVEY.md §2 (S/P/E/J/A/W/O/U/M/D/C/ST/F/V).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import blocks
from .local_rel import local_rows_df as _local_rows
from .expressions import (
    compile_ssis_expression,
    nullif_trim,
    surrogate_key,
)
from .operators import (
    ColumnSpec,
    LookupNoMatch,
    accepted_values_violations,
    between_violations,
    conditional_split_tagged,
    duplicate_keys,
    incremental_merge,
    lookup_chain,
    merge_join,
    merge_sorted,
    merge_upsert,
    not_null_violations,
    relationship_violations,
    scd2_rebuild,
    scd2_snapshot,
    semi_join,
    typed_project,
    watermark_filter,
)
from .operators.incremental import max_watermark
from .pipeline import Model, Pipeline
from .sources.readers import testdata
from .streaming import session_window, tumbling_window
from .text import (
    brute_force_topk,
    exact_duplicate_groups,
    knn_join,
    language_id,
    lsh_topk,
    lsh_topk_md5,
    minhash_candidates,
    minhash_candidates_md5,
    ngram_jaccard_pairs,
    quality_score,
    regex_token_count,
    simhash_candidates,
    simhash_md5_candidates,
    token_count,
)
from .text.analysis import document_fingerprint


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return testdata(spark, sf_dir)


_D182 = T.DecimalType(18, 2)
_D184 = T.DecimalType(18, 4)


# ---------------------------------------------------------------------------
# Output boundary: decimal → double re-rendering.
#
# CORRECTNESS_r03 reported hash_match=false for exactly the six queries whose
# OUTPUT columns were DECIMAL, while every double-output query hashed green.
# Root cause (reproduced locally): DuckDB's .df() converts DECIMAL to float64
# (pandas renders "283090148.4") while Spark's toPandas() keeps Decimal
# objects (renders "283090148.40"), so a value-hash built on the pandas
# rendering mismatches on any value with a trailing zero despite identical
# values.  Rule: keep internal arithmetic decimal (exact, aggregation-order-
# independent sums — see module docstring), then re-render ONCE at the output
# boundary as round(x, 6) doubles on BOTH engines.  Both convert the same
# exact decimal with IEEE round-to-nearest, so the doubles are bit-identical.
# ---------------------------------------------------------------------------


def _final_double(df: DataFrame, cols: list[str]) -> DataFrame:
    """Re-render exact decimal output columns as round(x, 6) doubles."""
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6).cast("double"))
    return df


def _oracle_double(sql: str, cols: list[str]) -> str:
    """Wrap an oracle so the given decimal columns become round(x,6) doubles."""
    repl = ", ".join(f"CAST(round({c}, 6) AS DOUBLE) AS {c}" for c in cols)
    return f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n) _q"


from .oracles import (  # noqa: F401 — re-exported oracle fragments
    SQL_CRAWL_INGEST,
    SQL_CRAWL_WB_DEDUP,
    SQL_CURATION_PIPELINE,
    SQL_DSIR,
    SQL_DSIR_APPLY,
    SQL_GOPHER_QUALITY,
    SQL_PACK_DOCS,
    SQL_PACK_NOSPLIT,
    SQL_TEMPERATURE_MIXTURE,
    _MINHASH_MD5_CTES,
    _NEARDUP_COMP_CTES,
    _PACK_NOSPLIT_TARGET,
    _PIPELINE_DSIR_K,
)

# ---------------------------------------------------------------------------
# 1. Staging projection (P1 P2 P6 P7 E5 M2 E14; stg_sales__transactions.sql)
# ---------------------------------------------------------------------------

def q_stg_sales_transactions(spark, sf_dir):
    li = _t(spark, sf_dir)["lineitem"].filter(F.col("l_returnflag") == "N")
    stg = typed_project(
        li,
        [
            ColumnSpec("l_orderkey", cast="bigint", alias="order_key"),
            ColumnSpec("l_linenumber", cast="int", alias="line_number"),
            ColumnSpec("l_partkey", cast="bigint", alias="product_key"),
            ColumnSpec("l_suppkey", cast="bigint", alias="supplier_key"),
            ColumnSpec("l_quantity", cast="int", alias="quantity"),
            ColumnSpec("l_extendedprice", cast=_D182, alias="gross_amount"),
            ColumnSpec(
                (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                cast=_D184,
                alias="net_amount",
            ),
            ColumnSpec(F.col("l_discount") * F.lit(100.0), cast=_D182, alias="discount_pct"),
            ColumnSpec(F.col("l_tax"), default=0.0, alias="tax_rate"),
            ColumnSpec(nullif_trim(F.col("l_linestatus")), alias="line_status"),
            ColumnSpec(F.to_date("l_shipdate"), alias="ship_date"),
        ],
    )
    return _final_double(stg, ["gross_amount", "net_amount", "discount_pct"])


SQL_STG_SALES = """
SELECT CAST(l_orderkey AS BIGINT) AS order_key,
       CAST(l_linenumber AS INTEGER) AS line_number,
       CAST(l_partkey AS BIGINT) AS product_key,
       CAST(l_suppkey AS BIGINT) AS supplier_key,
       CAST(l_quantity AS INTEGER) AS quantity,
       CAST(l_extendedprice AS DECIMAL(18,2)) AS gross_amount,
       CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS net_amount,
       CAST(l_discount * 100.0 AS DECIMAL(18,2)) AS discount_pct,
       COALESCE(l_tax, 0.0) AS tax_rate,
       NULLIF(TRIM(l_linestatus), '') AS line_status,
       CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem WHERE l_returnflag = 'N'
"""


# ---------------------------------------------------------------------------
# 2. Star join flagship (J1 J2 J3 E10 E12 P5; fct_sales.sql:44-105)
# ---------------------------------------------------------------------------

def q_fct_sales_star(spark, sf_dir):
    t = _t(spark, sf_dir)
    orders_dim = t["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_orderdate"
    )
    fact = merge_join(t["lineitem"], orders_dim, on=["l_orderkey"], how="inner")
    cust = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment", "c_acctbal"
    )
    part_dim = t["part"].select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    # J2: sequential CTE-style lookup chain — one Catalyst plan, N broadcast
    # hash joins, the fact side never shuffles
    fact = lookup_chain(
        fact,
        [
            dict(
                dim=cust,
                on=["o_custkey"],
                select={"c_mktsegment": "mkt_segment"},
                dim_filter=F.col("c_acctbal") > 0,
                no_match=LookupNoMatch.IGNORE,
            ),
            dict(dim=part_dim, on=["l_partkey"], select={"p_brand": "brand"}),
        ],
    )
    fact = fact.select(
        surrogate_key(F.col("l_orderkey"), F.col("l_linenumber")).alias("sales_key"),
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").cast("int").alias("line_number"),
        F.col("mkt_segment"),
        F.col("brand"),
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        ).cast("int").alias("date_key"),
        F.col("l_quantity").cast("int").alias("quantity"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .cast(_D184)
        .alias("net_amount"),
    )
    return _final_double(fact, ["net_amount"])


SQL_FCT_SALES = """
SELECT md5(concat_ws('-', coalesce(CAST(l.l_orderkey AS VARCHAR), ''),
                          coalesce(CAST(l.l_linenumber AS VARCHAR), ''))) AS sales_key,
       l.l_orderkey AS order_key,
       CAST(l.l_linenumber AS INTEGER) AS line_number,
       c.c_mktsegment AS mkt_segment,
       p.p_brand AS brand,
       CAST(year(o.o_orderdate) * 10000 + month(o.o_orderdate) * 100
            + day(o.o_orderdate) AS INTEGER) AS date_key,
       CAST(l.l_quantity AS INTEGER) AS quantity,
       CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)) AS net_amount
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c ON o.o_custkey = c.c_custkey
LEFT JOIN part p ON l.l_partkey = p.p_partkey
"""


# ---------------------------------------------------------------------------
# 3. Grouped aggregate + guarded measure (A1 A2 A3 E6; agg_daily_sales.sql)
# ---------------------------------------------------------------------------

def _daily_sales_agg(li):
    return li.groupBy(
        F.to_date("l_shipdate").alias("ship_date"),
        F.col("l_returnflag").alias("return_flag"),
    ).agg(
        F.sum(F.col("l_quantity").cast(_D182)).cast(_D182).alias("total_quantity"),
        F.sum(F.col("l_extendedprice").cast(_D182)).cast(_D182).alias("total_gross"),
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(_D184)
        ).cast(_D184).alias("total_net"),
        F.count(F.lit(1)).alias("line_count"),
    )


def _daily_sales_avg(agg):
    return agg.withColumn(
        "avg_net",
        F.when(
            F.col("line_count") > 0,
            F.col("total_net").cast("double") / F.col("line_count"),
        ).otherwise(F.lit(0.0)),
    )


def q_agg_daily_sales(spark, sf_dir):
    li = _t(spark, sf_dir)["lineitem"]
    agg = _daily_sales_avg(_daily_sales_agg(li))
    return _final_double(agg, ["total_quantity", "total_gross", "total_net"])


def q_incremental_rollup_sales(spark, sf_dir):
    """Incremental rollup maintenance (merge_aggregate): the fact table is
    split on l_orderkey parity — orthogonal to the group keys, so every
    (ship_date, return_flag) group exists on BOTH sides and the merge
    genuinely combines partial sums — then the two partial aggregates merge
    via SUM-of-SUMs.  Decimal sums make the merged rollup bit-identical to
    a full recompute, so the oracle IS the full agg_daily_sales SQL: the
    strongest possible equivalence proof for the maintenance path."""
    from .operators.aggregate import merge_aggregate

    li = _t(spark, sf_dir)["lineitem"]
    existing = _daily_sales_agg(li.filter(F.col("l_orderkey") % 2 == 0))
    delta = _daily_sales_agg(li.filter(F.col("l_orderkey") % 2 != 0))
    merged = merge_aggregate(
        existing,
        delta,
        ["ship_date", "return_flag"],
        sum_cols=["total_quantity", "total_gross", "total_net", "line_count"],
    )
    out = _daily_sales_avg(merged).select(
        "ship_date", "return_flag", "total_quantity", "total_gross",
        "total_net", "line_count", "avg_net",
    )
    return _final_double(out, ["total_quantity", "total_gross", "total_net"])


SQL_AGG_DAILY = """
WITH a AS (
  SELECT CAST(l_shipdate AS DATE) AS ship_date,
         l_returnflag AS return_flag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_quantity,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_gross,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total_net,
         COUNT(*) AS line_count
  FROM lineitem GROUP BY 1, 2)
SELECT *, CASE WHEN line_count > 0
               THEN CAST(total_net AS DOUBLE) / line_count ELSE 0.0 END AS avg_net
FROM a
"""


# ---------------------------------------------------------------------------
# 4. SCD2 version chains (W1 E11 E10 E13; dim_customer.sql:28-81)
# ---------------------------------------------------------------------------

def q_dim_customer_scd2(spark, sf_dir):
    o = _t(spark, sf_dir)["orders"]
    # One shuffle for the whole SCD build: partitioning on the natural key
    # alone satisfies the finer (key, date) clustering of the dedupe window,
    # so the dedupe AND the version-chain windows all reuse this exchange.
    o = o.repartition("o_custkey")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy("o_orderkey")
    history = (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderstatus", "o_orderpriority")
    )
    dim = scd2_rebuild(
        history, "o_custkey", "o_orderdate", ["o_orderstatus", "o_orderpriority"],
        key_alias="customer_key",
    )
    return dim.select(
        "o_custkey", "version_number", "valid_from", "valid_to", "is_current",
        "change_hash", "customer_key",
    )


SQL_DIM_SCD2 = """
WITH h AS (
  SELECT o_custkey, o_orderdate, o_orderstatus, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey) AS rn
  FROM orders),
hh AS (
  SELECT o_custkey, o_orderdate,
         sha256(concat(coalesce(CAST(o_orderstatus AS VARCHAR), ''),
                       coalesce(CAST(o_orderpriority AS VARCHAR), ''))) AS change_hash
  FROM h WHERE rn = 1),
d AS (
  SELECT *, lag(change_hash) OVER (PARTITION BY o_custkey ORDER BY o_orderdate)
            AS prev_hash
  FROM hh),
f AS (SELECT * FROM d WHERE prev_hash IS NULL OR change_hash <> prev_hash),
v AS (
  SELECT o_custkey, change_hash,
         CAST(row_number() OVER w AS INTEGER) AS version_number,
         CAST(o_orderdate AS DATE) AS valid_from,
         CAST(lead(o_orderdate) OVER w AS DATE) AS valid_to
  FROM f WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate))
SELECT o_custkey, version_number, valid_from, valid_to,
       (valid_to IS NULL) AS is_current, change_hash,
       md5(concat_ws('-', coalesce(CAST(o_custkey AS VARCHAR), ''),
                          coalesce(CAST(version_number AS VARCHAR), ''))) AS customer_key
FROM v
"""


# ---------------------------------------------------------------------------
# 5. SSIS expression compiler — strings (E1 E2 E3 E7 E8 F3)
# ---------------------------------------------------------------------------

def q_expr_strings_customer(spark, sf_dir):
    c = _t(spark, sf_dir)["customer"]
    cols = {"c_name": T.StringType(), "c_mktsegment": T.StringType()}

    def e(expr):
        return compile_ssis_expression(expr, columns=cols)

    return c.select(
        F.col("c_custkey"),
        e('[c_name] + "-" + [c_mktsegment]').alias("name_seg"),
        e('[c_acctbal] < 0 ? "DEBT" : "OK"').alias("acct_flag"),
        e('UPPER(LEFT([c_mktsegment], 3))').alias("seg3"),
        e('SUBSTRING([c_name], FINDSTRING([c_name], "#", 1) + 1, LEN([c_name]))').alias(
            "cust_num"
        ),
        e('(DT_WSTR,10)[c_name]').alias("short_name"),
        e('ISNULL(NULL(DT_WSTR), [c_mktsegment])').alias("seg_defaulted"),
    )


SQL_EXPR_STRINGS = """
SELECT c_custkey,
       c_name || '-' || c_mktsegment AS name_seg,
       CASE WHEN c_acctbal < 0 THEN 'DEBT' ELSE 'OK' END AS acct_flag,
       upper(substring(c_mktsegment, 1, 3)) AS seg3,
       substring(c_name, strpos(c_name, '#') + 1, length(c_name)) AS cust_num,
       substring(c_name, 1, 10) AS short_name,
       coalesce(NULL, c_mktsegment) AS seg_defaulted
FROM customer
"""


# ---------------------------------------------------------------------------
# 5b. SSIS expression compiler — dates (E9 F3 DATEADD/DATEDIFF/DATEPART)
# ---------------------------------------------------------------------------

def q_expr_dates_orders(spark, sf_dir):
    o = _t(spark, sf_dir)["orders"]
    pinned = "1999-01-01 00:00:00"

    def e(expr):
        return compile_ssis_expression(expr, now=pinned)

    return o.select(
        "o_orderkey",
        e("DATEADD(day, 3, [o_orderdate])").alias("plus3"),
        e("DATEADD(month, 2, [o_orderdate])").alias("plus2mo"),
        e('DATEDIFF("day", [o_orderdate], GETDATE())').cast("int").alias("days_to_ref"),
        e("DATEDIFF(month, [o_orderdate], GETDATE())").cast("int").alias("months_to_ref"),
        e("DATEPART(month, [o_orderdate])").cast("int").alias("month_num"),
        e("DATEPART(quarter, [o_orderdate])").cast("int").alias("quarter_num"),
        e("GETDATE()").alias("loaded_at"),
    )


SQL_EXPR_DATES = """
SELECT o_orderkey,
       o_orderdate + INTERVAL 3 DAY AS plus3,
       o_orderdate + INTERVAL 2 MONTH AS plus2mo,
       CAST(date_diff('day', o_orderdate, TIMESTAMP '1999-01-01') AS INTEGER) AS days_to_ref,
       CAST(date_diff('month', o_orderdate, TIMESTAMP '1999-01-01') AS INTEGER) AS months_to_ref,
       CAST(month(o_orderdate) AS INTEGER) AS month_num,
       CAST(quarter(o_orderdate) AS INTEGER) AS quarter_num,
       TIMESTAMP '1999-01-01' AS loaded_at
FROM orders
"""


# ---------------------------------------------------------------------------
# 6. Conditional split, single-pass tagged (M1 E4)
# ---------------------------------------------------------------------------

def q_conditional_split_sizes(spark, sf_dir):
    """M1 routing + M2 error-output semantics in one pass: every 7th part
    carries an unparseable planted value, whose try_cast failure routes the
    row to the error output with the failing column recorded."""
    from .operators import data_conversion_with_errors

    p = _t(spark, sf_dir)["part"]
    routed = conditional_split_tagged(
        p,
        [("small", F.col("p_size") <= 10), ("medium", F.col("p_size") <= 25)],
        default_name="large",
        route_col="size_class",
    )
    routed = routed.withColumn(
        "planted",
        F.when(F.col("p_partkey") % 7 == 0, F.col("p_name")).otherwise(
            F.col("p_size").cast("string")
        ),
    )
    routed = data_conversion_with_errors(routed, {"conv_size": ("planted", "INT")})
    return routed.select(
        "p_partkey", "p_size", "size_class", "conv_size", "conv_route",
        "conv_error_col",
    )


SQL_SPLIT_SIZES = """
SELECT p_partkey, p_size,
       CASE WHEN p_size <= 10 THEN 'small'
            WHEN p_size <= 25 THEN 'medium'
            ELSE 'large' END AS size_class,
       TRY_CAST(planted AS INTEGER) AS conv_size,
       CASE WHEN planted IS NOT NULL AND TRY_CAST(planted AS INTEGER) IS NULL
            THEN 'error' ELSE 'converted' END AS conv_route,
       CASE WHEN planted IS NOT NULL AND TRY_CAST(planted AS INTEGER) IS NULL
            THEN 'planted' ELSE NULL END AS conv_error_col
FROM (SELECT *, CASE WHEN p_partkey % 7 = 0 THEN p_name
                     ELSE CAST(p_size AS VARCHAR) END AS planted
      FROM part) _p
"""


# ---------------------------------------------------------------------------
# 7. TOP k ORDER BY DESC (O2 O3)
# ---------------------------------------------------------------------------

def q_top_events(spark, sf_dir):
    e = _t(spark, sf_dir)["events"]
    return e.orderBy(F.desc("ts"), F.col("event_id")).limit(10).select(
        "event_id", "ts", "event_type", "value"
    )


SQL_TOP_EVENTS = """
SELECT event_id, ts, event_type, value
FROM events ORDER BY ts DESC, event_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# 8. UnionAll + Merge(sorted) (U1 U2 O1)
# ---------------------------------------------------------------------------

def q_union_merge_segments(spark, sf_dir):
    c = _t(spark, sf_dir)["customer"]
    a = c.filter(F.col("c_mktsegment") == "BUILDING")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY")
    merged = merge_sorted(
        a.select("c_custkey", "c_name", "c_mktsegment"),
        b.select("c_custkey", "c_name", "c_mktsegment"),
        ["c_custkey"],
    )
    return merged


SQL_UNION_MERGE = """
SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'
"""


# ---------------------------------------------------------------------------
# 9. IN-subquery semi-join (J5)
# ---------------------------------------------------------------------------

def q_orders_semi_join(spark, sf_dir):
    t = _t(spark, sf_dir)
    recent = (
        t["lineitem"]
        .filter(F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return semi_join(t["orders"], recent, on=["o_orderkey"]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


SQL_SEMI = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     WHERE l_shipdate >= TIMESTAMP '1998-06-01')
"""


# ---------------------------------------------------------------------------
# 10. FK relationship violations via anti-join (J6 V4)
# ---------------------------------------------------------------------------

def q_fk_violations_current(spark, sf_dir):
    t = _t(spark, sf_dir)
    current_orders = t["orders"].filter(F.col("o_orderstatus") == "F")
    viol = relationship_violations(
        t["lineitem"], current_orders, fk="l_orderkey", pk="o_orderkey"
    )
    return viol.select("l_orderkey", "l_linenumber")


SQL_FK_VIOL = """
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE l_orderkey IS NOT NULL
  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
"""


# ---------------------------------------------------------------------------
# 11. Duplicate detection HAVING COUNT(*) > 1 (A7)
# ---------------------------------------------------------------------------

def q_duplicate_order_days(spark, sf_dir):
    o = _t(spark, sf_dir)["orders"]
    return duplicate_keys(o, ["o_custkey", "o_orderdate"])


SQL_DUP_DAYS = """
SELECT o_custkey, o_orderdate, COUNT(*) AS dup_count
FROM orders GROUP BY 1, 2 HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# 12. Watermark incremental scan (S8 A8 ST1 ST2)
# ---------------------------------------------------------------------------

def q_watermark_incremental_events(spark, sf_dir):
    e = _t(spark, sf_dir)["events"]
    target = e.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    wm = max_watermark(target, "ts")
    delta = watermark_filter(e, "ts", wm)
    return delta.select("event_id", "ts", "event_type")


SQL_WATERMARK = """
SELECT event_id, ts, event_type FROM events
WHERE ts > (SELECT max(ts) FROM events WHERE ts < TIMESTAMP '2024-01-15')
"""


# ---------------------------------------------------------------------------
# 13. Scalar aggregates / checksums / bounds (A4 A5 A6 A10 D7)
# ---------------------------------------------------------------------------

def q_validation_scalars(spark, sf_dir):
    o = _t(spark, sf_dir)["orders"]
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.sum(F.col("o_totalprice").cast(_D182)).cast(_D182).alias("sum_totalprice"),
        F.min(F.when(F.col("o_orderstatus") == "O", F.col("o_orderdate"))).alias(
            "min_open_date"
        ),
        F.max("o_orderkey").alias("max_orderkey"),
    ).withColumn(
        "avg_totalprice",
        F.col("sum_totalprice").cast("double") / F.col("n_orders"),
    )


SQL_VALIDATION_SCALARS = """
WITH a AS (
  SELECT COUNT(*) AS n_orders,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_totalprice,
         MIN(o_orderdate) FILTER (WHERE o_orderstatus = 'O') AS min_open_date,
         MAX(o_orderkey) AS max_orderkey
  FROM orders)
SELECT *, CAST(sum_totalprice AS DOUBLE) / n_orders AS avg_totalprice FROM a
"""


# ---------------------------------------------------------------------------
# 14. Incremental merge materialization (D3 ST1)
# ---------------------------------------------------------------------------

_ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


def q_incremental_merge_orders(spark, sf_dir):
    o = _t(spark, sf_dir)["orders"].select(*_ORDER_COLS)
    target = o.filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    ).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("0-STALE")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return incremental_merge(target, o, keys=["o_orderkey"], watermark_col="o_orderdate")


SQL_INCR_MERGE = """
WITH target AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         CASE WHEN o_orderkey % 7 = 0 THEN '0-STALE' ELSE o_orderpriority END
           AS o_orderpriority
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-06-01'),
delta AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderdate > (SELECT max(o_orderdate) FROM target)),
kept AS (
  SELECT * FROM target
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta))
SELECT * FROM kept UNION ALL SELECT * FROM delta
"""


# ---------------------------------------------------------------------------
# 15. Quality report — V1-V4 violation counts in one row
# ---------------------------------------------------------------------------

def q_quality_report(spark, sf_dir):
    t = _t(spark, sf_dir)
    o, li = t["orders"], t["lineitem"]
    a = not_null_violations(o, "o_custkey").agg(
        F.count(F.lit(1)).alias("null_custkey")
    )
    b = duplicate_keys(o, ["o_custkey", "o_orderdate"]).agg(
        F.count(F.lit(1)).alias("dup_cust_days")
    )
    c = relationship_violations(
        li, o.filter(F.col("o_orderstatus") == "F"), fk="l_orderkey", pk="o_orderkey"
    ).agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    d = accepted_values_violations(o, "o_orderstatus", ["O", "F"]).agg(
        F.count(F.lit(1)).alias("bad_status")
    )
    e = between_violations(li, "l_discount", 0.0, 0.05).agg(
        F.count(F.lit(1)).alias("high_discount")
    )
    return a.crossJoin(b).crossJoin(c).crossJoin(d).crossJoin(e)


SQL_QUALITY = """
SELECT
  (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS null_custkey,
  (SELECT COUNT(*) FROM (SELECT o_custkey, o_orderdate FROM orders
                         GROUP BY 1, 2 HAVING COUNT(*) > 1)) AS dup_cust_days,
  (SELECT COUNT(*) FROM lineitem
   WHERE l_orderkey IS NOT NULL
     AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                            WHERE o_orderstatus = 'F')) AS orphan_lineitems,
  (SELECT COUNT(*) FROM orders
   WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F')) AS bad_status,
  (SELECT COUNT(*) FROM lineitem
   WHERE l_discount IS NULL OR NOT (l_discount BETWEEN 0.0 AND 0.05)) AS high_discount
"""


# ---------------------------------------------------------------------------
# 16. Exact dedup groups on documents (extension: dedup)
# ---------------------------------------------------------------------------

def q_exact_dedup_docs(spark, sf_dir):
    docs = _t(spark, sf_dir)["documents"]
    return exact_duplicate_groups(docs)


SQL_EXACT_DEDUP = r"""
SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 17. Text analysis on documents (extension: token count / lang id / quality)
# ---------------------------------------------------------------------------

def q_text_analysis_docs(spark, sf_dir):
    # Arrow kernel twin of the full expression battery — bit-identical
    # values (pytest-pinned; the expr path stays the reference
    # implementation and q_text_analysis_docs_expr below preserves it):
    # the battery's floor was the interpreted sorted-char entropy scan +
    # per-token HOF folds (sf0.1 warm: 3.5s -> 1.6s)
    from .text.analysis import text_signals_arrow

    docs = _t(spark, sf_dir)["documents"]
    return text_signals_arrow(docs)


def q_text_analysis_docs_expr(spark, sf_dir):
    """Pure-expression formulation (the Arrow twin's reference semantics —
    kept registered so both engines stay oracle-checked)."""
    from .text import (
        digit_fraction,
        dup_token_fraction,
        max_token_run,
        mean_token_length,
        symbol_fraction,
        top_token_fraction,
    )

    docs = _t(spark, sf_dir)["documents"]
    txt = F.col("text")
    out = docs.select(
        "doc_id",
        token_count(txt).alias("n_tokens"),
        regex_token_count(txt).alias("n_bpe"),
        language_id(txt).alias("lang_pred"),
        quality_score(txt).alias("q_score"),
        document_fingerprint(txt).alias("fingerprint"),
        mean_token_length(txt).alias("mean_tok_len"),
        dup_token_fraction(txt).alias("dup_tok_frac"),
        top_token_fraction(txt).alias("top_tok_frac"),
        max_token_run(txt).cast("int").alias("max_run"),
        symbol_fraction(txt).alias("symbol_frac"),
        digit_fraction(txt).alias("digit_frac"),
        _char_entropy_struct(txt).alias("_ent"),
    )
    # separate stage: _ent is expensive and multiply-referenced, so Catalyst
    # keeps the projection staged and the fold runs ONCE per row
    keep = [c for c in out.columns if c != "_ent"]
    return out.select(
        *keep,
        F.col("_ent").getField("n_distinct").alias("ent_distinct"),
        F.col("_ent").getField("entropy_units").alias("entropy_units"),
    )


def _char_entropy_struct(txt):
    from .text.analysis import char_entropy

    return char_entropy(txt)


SQL_TEXT_ANALYSIS = r"""
WITH b AS (
  SELECT doc_id, text,
    regexp_split_to_array(trim(text), '\s+') AS t,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
    len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_bpe,
    len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|a)\b')) AS s_en,
    len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b')) AS s_de,
    len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est)\b')) AS s_fr,
    len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|y)\b')) AS s_es,
    length(text) AS n_chars,
    length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '\s', '', 'g')) AS n_nospace,
    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_sym,
    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_dig
  FROM documents),
runs AS (
  SELECT doc_id, MAX(runlen) AS max_run FROM (
    SELECT doc_id, tok, grp, COUNT(*) AS runlen FROM (
      SELECT doc_id, tok, i,
             i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
      FROM (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i
            FROM b WHERE n_tokens > 0))
    GROUP BY doc_id, tok, grp)
  GROUP BY doc_id)
SELECT b.doc_id,
  CAST(n_tokens AS INTEGER) AS n_tokens,
  CAST(n_bpe AS INTEGER) AS n_bpe,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       WHEN s_fr >= s_es THEN 'fr'
       ELSE 'es' END AS lang_pred,
  (least(n_chars / 1000.0, 1.0)
   + CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END
   + CASE WHEN n_tokens > 0
          THEN least(CAST(s_en AS DOUBLE) / n_tokens / 0.2, 1.0) ELSE 0.0 END) / 3.0
    AS q_score,
  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
  CASE WHEN n_tokens > 0 THEN CAST(n_nospace AS DOUBLE) / n_tokens
       ELSE 0.0 END AS mean_tok_len,
  CASE WHEN n_tokens > 0
       THEN CAST(n_tokens - len(list_distinct(t)) AS DOUBLE) / n_tokens
       ELSE 0.0 END AS dup_tok_frac,
  CASE WHEN n_tokens > 0
       THEN CAST(list_max(list_transform(list_distinct(t),
                          d -> len(list_filter(t, x -> x = d)))) AS DOUBLE)
            / n_tokens
       ELSE 0.0 END AS top_tok_frac,
  CAST(COALESCE(runs.max_run, 0) AS INTEGER) AS max_run,
  CASE WHEN n_chars > 0 THEN CAST(n_sym AS DOUBLE) / n_chars
       ELSE 0.0 END AS symbol_frac,
  CASE WHEN n_chars > 0 THEN CAST(n_dig AS DOUBLE) / n_chars
       ELSE 0.0 END AS digit_frac
FROM b LEFT JOIN runs ON runs.doc_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# 18. Exact n-gram Jaccard via inverted index (extension: dedup)
# ---------------------------------------------------------------------------

def q_ngram_jaccard_pairs_docs(spark, sf_dir):
    """Exact n-gram Jaccard pairs (>= 0.2) via the inverted index."""
    docs = _t(spark, sf_dir)["documents"]
    return ngram_jaccard_pairs(docs, min_jaccard=0.2).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


SQL_NGRAM_JACCARD = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
sh0 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' ')))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks),
sh AS (SELECT doc_id, unnest(shingles) AS sh FROM sh0),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
sh2 AS (SELECT * FROM sh
        WHERE sh NOT IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > 1000)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isz
  FROM sh2 a JOIN sh2 b USING (sh)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b,
       CAST(isz AS DOUBLE) / (sa.n_sh + sb.n_sh - isz) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(isz AS DOUBLE) / (sa.n_sh + sb.n_sh - isz) >= 0.2
"""


# ---------------------------------------------------------------------------
# 19/20. MinHash-LSH + SimHash candidates (rows-only: xxhash64 has no DuckDB
# counterpart, so the driver records the weaker rows-only check)
# ---------------------------------------------------------------------------

def q_minhash_pairs_docs(spark, sf_dir):
    docs = _t(spark, sf_dir)["documents"]
    return minhash_candidates(docs)


def q_simhash_pairs_docs(spark, sf_dir):
    docs = _t(spark, sf_dir)["documents"]
    return simhash_candidates(docs, band_bits=16).filter(
        F.col("hamming_distance") <= 12
    )


# ---------------------------------------------------------------------------
# 19b/20b. Portable md5 twins of the xxhash64 dedup ops — identical plan
# shapes (explode -> min-agg -> banded equi-join), but every hash is md5 so
# the DuckDB oracle reproduces the EXACT pair sets and signatures.  The
# xxhash64 entries above stay as the production/bench path (cheaper hash);
# these prove the algorithms correct end-to-end.
# ---------------------------------------------------------------------------

def q_split_leakage_docs(spark, sf_dir, pairs=None):
    """Train/test split leakage audit: near-duplicate candidate pairs (md5
    MinHash-LSH) that CROSS a deterministic hash split — the self-split
    counterpart of benchmark decontamination.  Arm 'pair' lists each leaky
    pair with its split sides; arm 'summary' counts candidates vs leaks.
    ``pairs`` lets a suite pass a pre-materialized candidate table so the
    signature pipeline runs once, not once per consumer."""
    from .operators.sampling import hash_split

    docs = _t(spark, sf_dir)["documents"]
    split = hash_split(docs, "doc_id", test_pct=10).select("doc_id", "split")
    if pairs is None:
        pairs = minhash_candidates_md5(docs)
    sa = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    # The pair side is band-capped and pair-derived (<< corpus) by
    # construction, so pin BOTH joins as broadcasts of the pair-sized side
    # rather than letting AQE infer it from runtime stats — the corpus-sized
    # split table must never shuffle at 100x scale.
    tagged = F.broadcast(F.broadcast(pairs).join(sa, "doc_a")).join(
        sb, "doc_b"
    )
    leaks = tagged.filter(F.col("split_a") != F.col("split_b"))
    p = leaks.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("split_a").cast("string").alias("split_a"),
        F.col("split_b").cast("string").alias("split_b"),
    )
    s = tagged.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum((F.col("split_a") != F.col("split_b")).cast("int")).alias("_l"),
    ).select(
        F.col("_n").cast("long").alias("doc_a"),
        F.coalesce(F.col("_l"), F.lit(0)).cast("long").alias("doc_b"),
    )
    return _suite_frame("split_leakage_docs", [("pair", p), ("summary", s)])


def q_minhash_pairs_md5(spark, sf_dir):
    """Suite (round 6): md5 MinHash-LSH candidate pairs + the split-leakage
    audit built on the same pair set."""
    docs = _t(spark, sf_dir)["documents"]
    # ONE md5 signature/banding pipeline feeds every consumer in the suite
    # (cand arm, leakage audit, prune/safe-split) — lazily checkpointed so
    # each arm reads the materialized pair table instead of re-running the
    # corpus-scan -> shingle -> signature -> band-join upstream.
    pairs0 = minhash_candidates_md5(docs).localCheckpoint(eager=False)
    cand = pairs0.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("est_jaccard").cast("double").alias("v1"),
    )
    lk = q_split_leakage_docs(spark, sf_dir, pairs=pairs0).select(
        "component",
        "doc_a",
        "doc_b",
        F.col("split_a").alias("s1"),
        F.col("split_b").alias("s2"),
    )
    # prune + leakage-safe split both derive from the SAME pruned frame:
    # connected_components localCheckpoints during build, so the second
    # component reuses the materialized component table instead of
    # re-running label propagation.
    pruned = q_neardup_prune_docs(spark, sf_dir, pairs=pairs0)
    pr = pruned.select(
        F.col("doc_id").alias("doc_a"),
        F.col("cluster_id").alias("doc_b"),
        F.col("cluster_size").cast("double").alias("v1"),
        F.col("kept").cast("string").alias("s1"),
    )
    ss = _cluster_split(pruned).select(
        F.col("doc_id").alias("doc_a"),
        F.col("cluster_id").alias("doc_b"),
        F.col("split").alias("s1"),
    )
    xd = q_cross_dedup_docs(spark, sf_dir).select(
        F.col("new_id").alias("doc_a"),
        F.col("corpus_id").alias("doc_b"),
        F.col("est_jaccard").alias("v1"),
    )
    return _suite_frame("minhash_pairs_md5", [
        ("cand", cand), ("leak_", lk), ("prune", pr), ("safe_split", ss),
        ("cross", xd),
    ])


SQL_MINHASH_MD5 = f"""
WITH {_MINHASH_MD5_CTES}
SELECT p.doc_a, p.doc_b,
       CAST(SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 8.0
         AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b AND sb.perm = sa.perm
GROUP BY p.doc_a, p.doc_b
"""


SQL_SPLIT_LEAKAGE = f"""
WITH {_MINHASH_MD5_CTES},
split AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '19'
              THEN 'test' ELSE 'train' END AS split
  FROM documents),
tagged AS (
  SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b
  FROM pairs p JOIN split a ON a.doc_id = p.doc_a
               JOIN split b ON b.doc_id = p.doc_b)
SELECT 'pair' AS component, CAST(doc_a AS BIGINT) AS doc_a,
       CAST(doc_b AS BIGINT) AS doc_b, split_a, split_b
FROM tagged WHERE split_a <> split_b
UNION ALL
SELECT 'summary', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END), 0)
            AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM tagged
"""


def q_simhash_pairs_md5(spark, sf_dir):
    docs = _t(spark, sf_dir)["documents"]
    return simhash_md5_candidates(docs, bits=32, band_bits=16)


SQL_SIMHASH_MD5 = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM toks),
votes AS (SELECT doc_id, j.range AS j,
                 SUM(CASE WHEN (h >> CAST(j.range AS INTEGER)) & 1 = 1
                          THEN 1 ELSE -1 END) AS v
          FROM h CROSS JOIN range(32) j GROUP BY doc_id, j.range),
fp AS (SELECT doc_id,
              CAST(SUM(CASE WHEN v > 0
                            THEN 1::BIGINT << CAST(j AS INTEGER)
                            ELSE 0 END) AS BIGINT) AS simhash
       FROM votes GROUP BY doc_id),
band AS (SELECT doc_id, simhash, b.range AS band_idx,
                (simhash >> CAST(b.range * 16 AS INTEGER)) & 65535 AS band_val
         FROM fp CROSS JOIN range(2) b)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming_distance
FROM band a JOIN band b USING (band_idx, band_val)
WHERE a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# 21. Brute-force cosine top-k over embeddings (extension: similarity)
# ---------------------------------------------------------------------------

def q_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir)["embeddings"]
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = brute_force_topk(emb, list(qvec), k=10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


SQL_TOPK_EMB = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CASE WHEN sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_inner_product(q.qv, q.qv)) > 0
              THEN list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_inner_product(q.qv, q.qv)))
              ELSE 0.0 END AS cosine
  FROM embeddings e, q)
SELECT vec_id, round(cosine, 6) AS cosine_r
FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# 22. LSH-bucketed approximate top-k (rows-only: xxhash64-derived planes)
# ---------------------------------------------------------------------------

def q_lsh_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir)["embeddings"]
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = lsh_topk(emb, list(qvec), k=10, num_planes=4)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


def q_lsh_topk_md5(spark, sf_dir):
    """Oracle-reproducible LSH top-k: md5-derived hyperplanes, so DuckDB
    computes the identical bucket ids and candidate set (fixture dim = 64)."""
    emb = _t(spark, sf_dir)["embeddings"]
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = lsh_topk_md5(emb, list(qvec), k=10, num_planes=4)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


SQL_LSH_TOPK_MD5 = r"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes AS (
  SELECT p.range AS p,
         list(CASE WHEN CAST('0x' || substr(md5(p.range || ',' || j.range), 1, 15)
                             AS BIGINT) & 1 = 1
                   THEN 1.0 ELSE -1.0 END ORDER BY j.range) AS pl
  FROM range(4) p CROSS JOIN range(64) j
  GROUP BY p.range),
bk AS (SELECT e.vec_id,
              CAST(SUM(CASE WHEN list_inner_product(e.v, planes.pl) > 0
                            THEN 1::BIGINT << CAST(planes.p AS INTEGER)
                            ELSE 0 END) AS BIGINT) AS bucket
       FROM e CROSS JOIN planes GROUP BY e.vec_id),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qb AS (SELECT bucket AS qbucket FROM bk WHERE vec_id = 0),
cand AS (SELECT e.vec_id, e.v
         FROM e JOIN bk USING (vec_id), qb
         WHERE bk.bucket = qb.qbucket),
scored AS (
  SELECT cand.vec_id,
         CASE WHEN sqrt(list_inner_product(cand.v, cand.v))
                   * sqrt(list_inner_product(q.qv, q.qv)) > 0
              THEN list_inner_product(cand.v, q.qv)
                   / (sqrt(list_inner_product(cand.v, cand.v))
                      * sqrt(list_inner_product(q.qv, q.qv)))
              ELSE 0.0 END AS cosine
  FROM cand, q)
SELECT vec_id, round(cosine, 6) AS cosine_r FROM scored
ORDER BY cosine DESC, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# 23. k-NN join: 3 queries x top-5 (extension: similarity)
# ---------------------------------------------------------------------------

def q_knn_join_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join(queries, emb, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine_r")
    )


SQL_KNN_JOIN = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         CASE WHEN sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_inner_product(q.qv, q.qv)) > 0
              THEN list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_inner_product(q.qv, q.qv)))
              ELSE 0.0 END AS cosine
  FROM embeddings e, q)
SELECT query_id, vec_id, round(cosine, 6) AS cosine_r
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, vec_id) <= 5
"""


# ---------------------------------------------------------------------------
# 24. Tumbling windows over events (ST4)
# ---------------------------------------------------------------------------

def q_events_tumbling_10min(spark, sf_dir):
    e = _t(spark, sf_dir)["events"]
    win = tumbling_window(
        e,
        "ts",
        "10 minutes",
        keys=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum(F.col("value").cast(_D184)).cast(_D184),
        },
    )
    return _final_double(win, ["sum_value"])


SQL_TUMBLING = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000)
         AS window_start,
       make_timestamp((CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) + 600) * 1000000)
         AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS sum_value
FROM events GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# 24b. Sliding (hopping) windows over events (ST4)
# ---------------------------------------------------------------------------

def q_events_sliding_30min(spark, sf_dir):
    from .streaming import sliding_window

    e = _t(spark, sf_dir)["events"]
    return sliding_window(
        e, "ts", "30 minutes", "10 minutes",
        keys=["event_type"],
        aggs={"n_events": F.count(F.lit(1))},
    )


SQL_SLIDING = """
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 - k * 600 AS start_epoch
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS k))
SELECT make_timestamp(start_epoch * 1000000) AS window_start,
       make_timestamp((start_epoch + 1800) * 1000000) AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM e GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# 25. Session windows over events (ST4)
# ---------------------------------------------------------------------------

def q_events_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir)["events"]
    return session_window(
        e, "ts", "30 minutes", keys=["user_id"],
        aggs={"n_events": F.count(F.lit(1))},
    )


SQL_SESSIONIZE = """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM e)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# 26. 3-model pipeline DAG in topo order (C1 C3 C4 C6 S6 S7 D4)
# ---------------------------------------------------------------------------

def q_pipeline_dag(spark, sf_dir):
    t = _t(spark, sf_dir)

    def stg_orders(frames, vars):
        return frames["orders"].filter(
            F.col("o_orderdate") >= F.lit(vars["cutoff"]).cast("timestamp")
        ).select("o_orderkey", "o_custkey", "o_orderpriority")

    def stg_lineitem(frames, vars):
        return frames["lineitem"].select(
            F.col("l_orderkey").alias("o_orderkey"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast(_D184)
            .alias("net_amount"),
        )

    def fct_priority_sales(frames, vars):
        joined = merge_join(
            frames["stg_lineitem"], frames["stg_orders"], on=["o_orderkey"], how="inner"
        )
        return joined.groupBy("o_orderpriority").agg(
            F.sum("net_amount").cast(_D184).alias("total_net"),
            F.count(F.lit(1)).alias("n_lines"),
        )

    pipe = Pipeline(spark, vars={"cutoff": "1998-01-01"})
    pipe.add(Model("stg_orders", stg_orders, deps=[]))
    pipe.add(Model("stg_lineitem", stg_lineitem, deps=[]))
    pipe.add(
        Model("fct_priority_sales", fct_priority_sales,
              deps=["stg_orders", "stg_lineitem"])
    )
    frames = pipe.run({"orders": t["orders"], "lineitem": t["lineitem"]})
    return _final_double(frames["fct_priority_sales"], ["total_net"])


SQL_PIPELINE_DAG = """
SELECT o.o_orderpriority,
       CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)))
            AS DECIMAL(18,4)) AS total_net,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 27. SCD2 MERGE upsert, join-based (J4 D6 E11)
# ---------------------------------------------------------------------------

def q_merge_upsert_customers(spark, sf_dir):
    c = _t(spark, sf_dir)["customer"].select("c_custkey", "c_mktsegment")
    target = scd2_snapshot(
        c.filter(F.col("c_custkey") % 3 != 0).withColumn(
            "eff_date", F.lit("1995-01-01").cast("date")
        ),
        natural_key="c_custkey",
        hash_cols=["c_mktsegment"],
        effective_date_col="eff_date",
    )
    source = c.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("WHOLESALE")).otherwise(
            F.col("c_mktsegment")
        ),
    ).withColumn("eff_date", F.lit("1996-06-01").cast("date"))
    return merge_upsert(
        target, source, natural_key="c_custkey", hash_cols=["c_mktsegment"],
        effective_date_col="eff_date",
    )


SQL_MERGE_UPSERT = """
WITH src AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'WHOLESALE' ELSE c_mktsegment END
           AS c_mktsegment,
         DATE '1996-06-01' AS eff_date
  FROM customer),
tgt AS (
  SELECT c_custkey, c_mktsegment, DATE '1995-01-01' AS eff_date
  FROM customer WHERE c_custkey % 3 <> 0),
src2 AS (
  SELECT c_custkey, c_mktsegment, eff_date,
         md5(coalesce(CAST(c_custkey AS VARCHAR), '')) AS c_custkey_key,
         sha256(coalesce(c_mktsegment, '')) AS change_hash,
         TRUE AS is_current, eff_date AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM src),
tgt2 AS (
  SELECT c_custkey, c_mktsegment, eff_date,
         md5(coalesce(CAST(c_custkey AS VARCHAR), '')) AS c_custkey_key,
         sha256(coalesce(c_mktsegment, '')) AS change_hash,
         TRUE AS is_current, eff_date AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM tgt),
unchanged AS (
  SELECT t.* FROM tgt2 t LEFT JOIN src2 s USING (c_custkey)
  WHERE s.c_custkey IS NULL OR t.change_hash = s.change_hash),
closed AS (
  SELECT t.c_custkey, t.c_mktsegment, t.eff_date, t.c_custkey_key, t.change_hash,
         FALSE AS is_current, t.valid_from, s.eff_date AS valid_to
  FROM tgt2 t JOIN src2 s USING (c_custkey)
  WHERE t.change_hash <> s.change_hash),
incoming AS (
  SELECT s.* FROM src2 s LEFT JOIN tgt2 t USING (c_custkey)
  WHERE t.c_custkey IS NULL OR s.change_hash <> t.change_hash)
SELECT * FROM unchanged
UNION ALL SELECT * FROM closed
UNION ALL SELECT * FROM incoming
"""


# ---------------------------------------------------------------------------
# 28. Script-task escape hatch via Arrow-batched pandas (F1)
# ---------------------------------------------------------------------------

def q_script_escape_hatch(spark, sf_dir):
    from .operators.script import script_map

    li = _t(spark, sf_dir)["lineitem"]

    def compute(batches):
        for pdf in batches:
            out = pdf[["l_orderkey", "l_linenumber"]].copy()
            out["net_amount"] = pdf["l_extendedprice"] * (1.0 - pdf["l_discount"])
            yield out

    return script_map(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"),
        compute,
        "l_orderkey bigint, l_linenumber int, net_amount double",
    )


SQL_SCRIPT_HATCH = """
SELECT l_orderkey, CAST(l_linenumber AS INTEGER) AS l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS net_amount
FROM lineitem
"""


# ---------------------------------------------------------------------------
# 29. Multimodal binary-column plumbing (extension; decode backend stubbed)
# ---------------------------------------------------------------------------

def q_multimodal_features(spark, sf_dir):
    from .text.multimodal import attach_metadata, decode_image_features

    docs = _t(spark, sf_dir)["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    media = attach_metadata(media, modality="image", fmt="fake")
    feats = decode_image_features(media, backend="fake")
    return feats.select(
        "media_id",
        F.size("features").cast("int").alias("n_features"),
        "n_bytes",
    )


SQL_MULTIMODAL = """
SELECT doc_id AS media_id,
       CAST(8 AS INTEGER) AS n_features,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


# ---------------------------------------------------------------------------
# 29b. REAL image decode (BMP backend): each document synthesizes a solid-
# color 24bpp BMP whose dimensions/color are pure doc_id arithmetic, the real
# decoder (text/multimodal.py decode_bmp) parses the actual pixel bytes back
# out over mapInPandas, and the oracle recomputes the arithmetic — a solid
# fill makes the channel means exact integers, so the value hash covers the
# full encode->Arrow->decode pipeline bit-for-bit.
# ---------------------------------------------------------------------------

def q_bmp_decode_stats(spark, sf_dir):
    from .text.multimodal import decode_bmp_stats, encode_bmp

    docs = _t(spark, sf_dir)["documents"].select(
        F.col("doc_id").alias("media_id")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["media_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        encode_bmp(
                            int(1 + i % 7),
                            int(1 + i % 5),
                            (int(i % 256), int(i * 7 % 256), int(i * 13 % 256)),
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(
        encode, schema="media_id long, content binary"
    )
    return decode_bmp_stats(media).select(
        "media_id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"
    )


SQL_BMP_STATS = """
SELECT doc_id AS media_id,
       CAST(1 + doc_id % 7 AS INTEGER) AS width,
       CAST(1 + doc_id % 5 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(doc_id % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
FROM documents
"""


def q_png_decode_stats(spark, sf_dir):
    """Real PNG decode, oracle-checked: every document synthesizes an
    x-gradient PNG (pixel (x,y) = base + x per channel, no 256 wraparound)
    whose scanline FILTER TYPE cycles through all five per doc_id, so the
    hash only matches if Sub/Up/Average/Paeth unfiltering is exact.  Means
    are closed-form (base + (w-1)/2), computable by the SQL oracle."""
    from .text.multimodal import decode_image_stats, encode_png

    docs = _t(spark, sf_dir)["documents"].select(
        F.col("doc_id").alias("media_id")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["media_id"]
            content = []
            for i in ids:
                w, h = int(1 + i % 7), int(1 + i % 5)
                br = int(i % 200)
                bg = int(i * 7 % 200)
                bb = int(i * 13 % 200)
                rows = [
                    [(br + x, bg + x, bb + x) for x in range(w)]
                    for _ in range(h)
                ]
                content.append(encode_png(rows, filter_type=int(i % 5)))
            yield pd.DataFrame({"media_id": ids, "content": content})

    media = docs.mapInPandas(encode, schema="media_id long, content binary")
    return decode_image_stats(media).select(
        "media_id", "format", "width", "height", "channels",
        "mean_r", "mean_g", "mean_b",
    )


SQL_PNG_STATS = """
SELECT doc_id AS media_id,
       'png' AS format,
       CAST(1 + doc_id % 7 AS INTEGER) AS width,
       CAST(1 + doc_id % 5 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(doc_id % 200 + (doc_id % 7) / 2.0 AS DOUBLE) AS mean_r,
       CAST((doc_id * 7) % 200 + (doc_id % 7) / 2.0 AS DOUBLE) AS mean_g,
       CAST((doc_id * 13) % 200 + (doc_id % 7) / 2.0 AS DOUBLE) AS mean_b
FROM documents
"""


def q_jpeg_decode_stats(spark, sf_dir):
    """r10: REAL baseline-JPEG decode through the media-scan stage —
    each document synthesizes a solid-color JPEG (doc_id-arithmetic
    dimensions; every 3rd doc grayscale, the rest 4:4:4 color) via the
    pure-Python T.81 encoder, and ``decode_image_stats`` parses the
    actual entropy-coded bytes back out over ``mapInPandas``.  The
    oracle verifies the STRUCTURAL output exactly — format, dimensions,
    channels — which is closed-form doc_id arithmetic; channel means go
    through the float DCT-quantization chain, whose sequential-float-sum
    rounding is not robustly SQL-expressible, so they are pinned by
    error-bound pytest (``TestJpegCodec``) instead."""
    from .text.jpeg import encode_jpeg
    from .text.multimodal import decode_image_stats

    docs = _t(spark, sf_dir)["documents"].select(
        F.col("doc_id").alias("media_id")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["media_id"]
            content = []
            for i in ids:
                w, h = int(9 + i % 9), int(9 + i % 6)
                rgb = (int(i % 200), int(i * 7 % 200), int(i * 13 % 200))
                rows = [[rgb] * w for _ in range(h)]
                content.append(
                    encode_jpeg(rows, quality=90, grayscale=(i % 3 == 0))
                )
            yield pd.DataFrame({"media_id": ids, "content": content})

    media = docs.mapInPandas(encode, schema="media_id long, content binary")
    return decode_image_stats(media).select(
        "media_id", "format", "width", "height", "channels"
    )


SQL_JPEG_STATS = """
SELECT doc_id AS media_id,
       'jpeg' AS format,
       CAST(9 + doc_id % 9 AS INTEGER) AS width,
       CAST(9 + doc_id % 6 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS INTEGER)
         AS channels
FROM documents
"""


# ---------------------------------------------------------------------------
# 30. Dataset profile (QA stats, one aggregation pass per column)
# ---------------------------------------------------------------------------

def q_dataset_profile(spark, sf_dir):
    from .operators.profile import dataset_profile

    o = _t(spark, sf_dir)["orders"]
    return dataset_profile(o, ["o_orderstatus", "o_custkey", "o_totalprice"])


SQL_DATASET_PROFILE = """
SELECT 'o_orderstatus' AS column, COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS n_null,
       COUNT(DISTINCT o_orderstatus) AS n_distinct,
       CAST(MIN(o_orderstatus) AS VARCHAR) AS min_value,
       CAST(MAX(o_orderstatus) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       COUNT(*) FILTER (WHERE o_custkey IS NULL),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*),
       COUNT(*) FILTER (WHERE o_totalprice IS NULL),
       COUNT(DISTINCT o_totalprice),
       CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
FROM orders
"""


# ---------------------------------------------------------------------------
# 31. Corpus curation — the full training-data story in one plan:
#     exact dedup -> language/quality/token filters -> curated manifest
# ---------------------------------------------------------------------------

def q_corpus_curation(spark, sf_dir):
    from .text import exact_dedup
    from .text.analysis import gopher_signals_arrow

    docs = _t(spark, sf_dir)["documents"]
    deduped = exact_dedup(docs)
    txt = F.col("text")
    # Arrow kernel twin (bit-identical to gopher_signals, pytest-pinned);
    # the extra_cols stay JVM-evaluated in its pre-projection
    enriched = gopher_signals_arrow(
        deduped,
        extra_cols={
            "lang_pred": language_id(txt),
            "q_score": quality_score(txt),
            "fingerprint": document_fingerprint(txt),
        },
    ).select(
        "doc_id",
        "n_tokens",
        "lang_pred",
        "q_score",
        "fingerprint",
        "dup_2gram_frac",
        "top_2gram_char_frac",
        "dup_5gram_char_frac",
        "gopher_pass",
    )
    return enriched.filter(
        (F.col("lang_pred") == "en")
        & (F.col("q_score") >= 0.45)
        & F.col("n_tokens").between(10, 1000)
    )


SQL_CORPUS_CURATION = r"""
WITH canon AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))),
b AS (
  SELECT d.doc_id, d.text,
    CASE WHEN trim(d.text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END AS n_tokens,
    len(regexp_extract_all(lower(d.text), '\b(the|and|of|to|is|a)\b')) AS s_en,
    len(regexp_extract_all(lower(d.text), '\b(der|die|und|das|ist|nicht)\b')) AS s_de,
    len(regexp_extract_all(lower(d.text), '\b(le|la|et|les|des|est)\b')) AS s_fr,
    len(regexp_extract_all(lower(d.text), '\b(el|los|las|es|una|y)\b')) AS s_es,
    length(d.text) AS n_chars,
    length(regexp_replace(d.text, '[^A-Za-z0-9 ]', '', 'g')) AS n_alpha
  FROM documents d JOIN canon USING (doc_id)),
scored AS (
  SELECT doc_id,
    CAST(n_tokens AS INTEGER) AS n_tokens,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         WHEN s_fr >= s_es THEN 'fr'
         ELSE 'es' END AS lang_pred,
    (least(n_chars / 1000.0, 1.0)
     + CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END
     + CASE WHEN n_tokens > 0
            THEN least(CAST(s_en AS DOUBLE) / n_tokens / 0.2, 1.0) ELSE 0.0 END) / 3.0
      AS q_score,
    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM b)
SELECT scored.*, gq.dup_2gram_frac, gq.top_2gram_char_frac,
       gq.dup_5gram_char_frac, gq.gopher_pass
FROM scored JOIN (__GOPHER__) gq USING (doc_id)
WHERE lang_pred = 'en' AND q_score >= 0.45 AND n_tokens BETWEEN 10 AND 1000
"""


# ---------------------------------------------------------------------------
# 31b. Gopher quality-filter rule set (extension: text quality; Rae et al.
# 2021 §A1.1).  Repetition signals (dup/top n-gram char fractions) are pure
# HOF expressions over the document scan — map-only, no shuffle; the oracle
# reproduces every double bit-for-bit from the same integer counts.
# ---------------------------------------------------------------------------

def q_gopher_quality_docs(spark, sf_dir):
    from .text.analysis import gopher_signals_arrow

    docs = _t(spark, sf_dir)["documents"]
    # Arrow kernel twin — bit-identical values (pytest-pinned), ~3x faster:
    # the expression battery's floor is interpreted HOF n-gram work
    return gopher_signals_arrow(docs).select(
        "doc_id",
        "dup_2gram_frac",
        "dup_3gram_frac",
        "top_2gram_char_frac",
        "top_3gram_char_frac",
        "top_4gram_char_frac",
        "dup_5gram_char_frac",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "alpha_word_frac",
        F.col("stop_hits").cast("int").alias("stop_hits"),
        "gopher_pass",
    )


# The curation suite joins the same signal battery (per-doc values are
# identical whether computed pre- or post-dedup, so the oracle reuses the
# all-documents battery and lets the join restrict it).
SQL_CORPUS_CURATION = SQL_CORPUS_CURATION.replace("__GOPHER__", SQL_GOPHER_QUALITY)


# ---------------------------------------------------------------------------
# 32. Deterministic content-hash train/test split (extension: sampling)
# ---------------------------------------------------------------------------

def q_hash_split_docs(spark, sf_dir):
    from .operators.sampling import hash_split

    docs = _t(spark, sf_dir)["documents"]
    return hash_split(docs, "doc_id", test_pct=10).select("doc_id", "split")


SQL_HASH_SPLIT = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '19'
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""


def q_kfold_docs(spark, sf_dir):
    from .operators.sampling import kfold_split

    docs = _t(spark, sf_dir)["documents"]
    return kfold_split(docs, "doc_id", k=5).select("doc_id", "fold")


SQL_KFOLD = """
SELECT doc_id,
       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
            % 5 AS INTEGER) AS fold
FROM documents
"""


# ---------------------------------------------------------------------------
# 33. Deterministic token-budget sampling (extension: sampling)
# ---------------------------------------------------------------------------

def q_token_budget_docs(spark, sf_dir):
    from .operators.sampling import token_budget_sample

    docs = _t(spark, sf_dir)["documents"]
    with_tokens = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return token_budget_sample(with_tokens, "n_tokens", budget=8000, key_col="doc_id")


SQL_TOKEN_BUDGET = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents),
c AS (
  SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
         SUM(n_tokens) OVER (
             PARTITION BY CAST('0x' || substr(h, 1, 15) AS BIGINT) % 16
             ORDER BY h ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, n_tokens FROM c WHERE cum <= 8000 / 16.0
"""


# ---------------------------------------------------------------------------
# 33c. Document chunking (context-window preparation for training pipelines)
# ---------------------------------------------------------------------------

def q_chunk_docs(spark, sf_dir):
    """Fixed-size overlapping token chunks (64 tokens, 8 overlap) — every
    chunk's full text is value-hashed, so the oracle verifies the exact
    slicing, ordering, and overlap semantics."""
    from .text import chunk_documents

    docs = _t(spark, sf_dir)["documents"]
    return chunk_documents(docs, chunk_tokens=64, overlap_tokens=8)


# stride = 64 - 8 = 56; a start is generated while it adds unseen tokens
SQL_CHUNK_DOCS = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents),
c AS (
  SELECT doc_id, t,
         1 + GREATEST(CAST(ceil((len(t) - 64) / CAST(56 AS DOUBLE)) AS INTEGER),
                      0) AS n_chunks
  FROM toks),
x AS (SELECT doc_id, t, CAST(unnest(range(n_chunks)) AS INTEGER) AS chunk_idx
      FROM c)
SELECT doc_id, chunk_idx,
       array_to_string(t[chunk_idx * 56 + 1 : chunk_idx * 56 + 64], ' ')
         AS chunk_text,
       CAST(len(t[chunk_idx * 56 + 1 : chunk_idx * 56 + 64]) AS INTEGER)
         AS chunk_len
FROM x
"""


# ---------------------------------------------------------------------------
# 34. ExecuteSQLTask: the same SQL text runs on Spark SQL and on the DuckDB
# oracle — pricing-summary (TPC-H Q1 shaped) over registered views
# ---------------------------------------------------------------------------

SQL_PRICING_SUMMARY = """
SELECT l_returnflag,
       l_linestatus,
       CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 6) AS DOUBLE) AS sum_qty,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 6) AS DOUBLE) AS sum_base_price,
       CAST(round(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 6)
            AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_sql_task_pricing(spark, sf_dir):
    from .operators.sql_task import execute_sql, register_views

    register_views(spark, {"lineitem": _t(spark, sf_dir)["lineitem"]})
    return execute_sql(spark, SQL_PRICING_SUMMARY, result_set="Full")


# ---------------------------------------------------------------------------
# 33b. Embedding-cosine near-dup pairs via md5-LSH blocking (extension:
# dedup over the embeddings table; production twin = lsh_bucket_candidates)
# ---------------------------------------------------------------------------

def q_embedding_neardup(spark, sf_dir):
    from .text import embedding_neardup_pairs_md5

    emb = _t(spark, sf_dir)["embeddings"]
    # 0.3 is tuned to the synthetic fixture (random-ish vectors, max pair
    # cosine ~0.49 — no planted near-dups); real corpora use 0.9+.
    out = embedding_neardup_pairs_md5(emb, min_cosine=0.3, num_planes=4, dims=64)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))


SQL_EMB_NEARDUP = r"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes AS (
  SELECT p.range AS p,
         list(CASE WHEN CAST('0x' || substr(md5(p.range || ',' || j.range), 1, 15)
                             AS BIGINT) & 1 = 1
                   THEN 1.0 ELSE -1.0 END ORDER BY j.range) AS pl
  FROM range(4) p CROSS JOIN range(64) j
  GROUP BY p.range),
bk AS (SELECT e.vec_id, e.v,
              CAST(SUM(CASE WHEN list_inner_product(e.v, planes.pl) > 0
                            THEN 1::BIGINT << CAST(planes.p AS INTEGER)
                            ELSE 0 END) AS BIGINT) AS bucket
       FROM e CROSS JOIN planes GROUP BY e.vec_id, e.v),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM bk a JOIN bk b USING (bucket)
  WHERE a.vec_id < b.vec_id),
scored AS (
  SELECT id_a, id_b,
         CASE WHEN sqrt(list_inner_product(va, va))
                   * sqrt(list_inner_product(vb, vb)) > 0
              THEN list_inner_product(va, vb)
                   / (sqrt(list_inner_product(va, va))
                      * sqrt(list_inner_product(vb, vb)))
              ELSE 0.0 END AS cosine
  FROM pairs)
SELECT id_a, id_b, round(cosine, 6) AS cosine_r
FROM scored WHERE cosine >= 0.3
"""


# ---------------------------------------------------------------------------
# 34. Window-function family (W: ranking / offsets / running / moving)
# ---------------------------------------------------------------------------

def q_window_customer_orders(spark, sf_dir):
    """Per-customer order timeline: row_number, running spend (decimal-exact),
    days since previous order (lag), trailing-3-order spend.  All four window
    expressions share one (partition, order) spec, so Catalyst collapses them
    into a single Window node behind one hash exchange on o_custkey."""
    from .operators.window import (
        moving_aggregate,
        offset_compare,
        ranked,
        running_aggregate,
    )

    orders = _t(spark, sf_dir)["orders"]
    df = orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("order_ts"),
        F.col("o_totalprice").cast(_D182).alias("total"),
    )
    part, order = ["o_custkey"], ["order_ts", "o_orderkey"]
    df = ranked(df, part, order, out_col="rn")
    df = running_aggregate(df, part, order, "total", out_col="running_spend")
    df = offset_compare(df, part, order, "order_ts", out_col="prev_ts")
    df = moving_aggregate(df, part, order, "total", 3, out_col="moving3_spend")
    df = df.select(
        "o_custkey",
        "o_orderkey",
        "rn",
        "running_spend",
        F.datediff(F.to_date("order_ts"), F.to_date("prev_ts"))
        .cast("int")
        .alias("gap_days"),
        "moving3_spend",
    )
    return _final_double(df, ["running_spend", "moving3_spend"])


SQL_WINDOW_ORDERS = """
SELECT o_custkey, o_orderkey,
  row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS rn,
  SUM(CAST(o_totalprice AS DECIMAL(18,2)))
    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spend,
  CAST(date_diff('day',
                 CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS DATE),
                 CAST(o_orderdate AS DATE)) AS INTEGER) AS gap_days,
  SUM(CAST(o_totalprice AS DECIMAL(18,2)))
    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving3_spend
FROM orders
"""


# ---------------------------------------------------------------------------
# 36. Write-path round-trips (S3 S4 S10 D1 D2 D5 D6)
#
# Each query drives a SINK operator end-to-end: transform -> write via the
# writer op -> read back -> return the frame.  The oracle is the same
# transform with no write, so a green hash proves the sink preserves every
# value, type, and row through the storage format — the driver-verifiable
# evidence the write ops otherwise can't have.  Reference sink semantics:
# SalesFactETL.dtsx:266-280 (fast-load append), CustomerDataLoad.dtsx:45-53
# (truncate+reload), SalesFactETL.dtsx:293-306 (DELETE range + INSERT),
# InventorySync.dtsx:266-269 (audit insert + flag update).
# ---------------------------------------------------------------------------


def _rt_tmpdir(name: str) -> str:
    """Fresh per-call scratch dir.  NOT cleaned up inside the query function:
    the returned DataFrame is lazy and the driver collects it after we
    return, so the files must outlive the call.  An open query scope owns
    the dir and deletes it when the next catalog query is built; outside
    one, the caller owns it."""
    import tempfile

    return blocks.own_dir(tempfile.mkdtemp(prefix=f"ssis_rt_{name}_"))


def q_roundtrip_append(spark, sf_dir):
    """S3: OLE DB fast-load append — two batch appends must equal the union."""
    from .sources import writers

    o = _t(spark, sf_dir)["orders"].select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("total"),
    )
    path = _rt_tmpdir("append")
    writers.append(o.filter(F.col("status") == "F"), path)
    writers.append(o.filter(F.col("status") != "F"), path)
    return spark.read.parquet(path)


SQL_RT_APPEND = """
SELECT o_orderkey AS order_key,
       o_orderstatus AS status,
       CAST(o_totalprice AS DOUBLE) AS total
FROM orders
"""


def q_roundtrip_overwrite(spark, sf_dir):
    """D1: TRUNCATE + reload — a stale load then a full overwrite; only the
    reload survives."""
    from .sources import writers

    c = _t(spark, sf_dir)["customer"].select(
        F.col("c_custkey").alias("customer_key"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("double").alias("acct_bal"),
    )
    path = _rt_tmpdir("overwrite")
    writers.overwrite(c.limit(7), path)  # stale previous load
    writers.overwrite(c, path)  # truncate + reload
    return spark.read.parquet(path)


SQL_RT_OVERWRITE = """
SELECT c_custkey AS customer_key,
       c_mktsegment AS segment,
       CAST(c_acctbal AS DOUBLE) AS acct_bal
FROM customer
"""


def q_roundtrip_partition_overwrite(spark, sf_dir):
    """D2: DELETE range + INSERT — dynamic partition overwrite replaces only
    the '1-URGENT' partition (totals bumped by 1.0); every other partition's
    files are untouched."""
    from .sources import writers

    o = _t(spark, sf_dir)["orders"].select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").cast("double").alias("total"),
        F.col("o_orderpriority").alias("priority"),
    )
    path = _rt_tmpdir("dpo")
    writers.partition_overwrite(o, path, ["priority"])
    revised = o.filter(F.col("priority") == "1-URGENT").withColumn(
        "total", F.col("total") + F.lit(1.0)
    )
    writers.partition_overwrite(revised, path, ["priority"])
    return spark.read.parquet(path)


SQL_RT_DPO = """
SELECT o_orderkey AS order_key,
       CAST(o_totalprice + (CASE WHEN o_orderpriority = '1-URGENT'
                                 THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS total,
       o_orderpriority AS priority
FROM orders
"""


def q_roundtrip_csv(spark, sf_dir):
    """S4: FlatFile CSV destination + source — header write, schema'd read;
    doubles survive via Java shortest-round-trip rendering."""
    from .sources import writers

    s = _t(spark, sf_dir)["supplier"].select(
        F.col("s_suppkey").cast("int").alias("supplier_key"),
        F.col("s_name").alias("supplier_name"),
        F.col("s_nationkey").cast("int").alias("nation_key"),
        F.col("s_acctbal").cast("double").alias("acct_bal"),
    )
    path = _rt_tmpdir("csv")
    writers.write_csv(s, path)
    return (
        spark.read.schema(
            "supplier_key int, supplier_name string, nation_key int, acct_bal double"
        )
        .option("header", "true")
        .csv(path)
    )


SQL_RT_CSV = """
SELECT CAST(s_suppkey AS INTEGER) AS supplier_key,
       s_name AS supplier_name,
       CAST(s_nationkey AS INTEGER) AS nation_key,
       CAST(s_acctbal AS DOUBLE) AS acct_bal
FROM supplier
"""


def q_roundtrip_json(spark, sf_dir):
    """S10: JSON export sink read back with an explicit schema."""
    from .sources import writers

    p = _t(spark, sf_dir)["part"].select(
        F.col("p_partkey").alias("part_key"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").cast("double").alias("retail_price"),
    )
    path = _rt_tmpdir("json")
    writers.write_json(p, path)
    return spark.read.schema(
        "part_key bigint, brand string, retail_price double"
    ).json(path)


SQL_RT_JSON = """
SELECT p_partkey AS part_key,
       p_brand AS brand,
       CAST(p_retailprice AS DOUBLE) AS retail_price
FROM part
"""


def q_roundtrip_orc(spark, sf_dir):
    """ORC sink/source round-trip — the second Spark-native columnar format
    (schema travels in the file; filter/column pushdown at the scan like
    parquet)."""
    from .sources import readers, writers

    s = _t(spark, sf_dir)["supplier"].select(
        F.col("s_suppkey").alias("supplier_key"),
        F.col("s_nationkey").alias("nation_key"),
        F.col("s_name").alias("supplier_name"),
        F.col("s_acctbal").cast("double").alias("acct_bal"),
    )
    path = _rt_tmpdir("orc")
    writers.write_orc(s, path)
    return readers.read_orc(spark, path)


SQL_RT_ORC = """
SELECT s_suppkey AS supplier_key,
       s_nationkey AS nation_key,
       s_name AS supplier_name,
       CAST(s_acctbal AS DOUBLE) AS acct_bal
FROM supplier
"""


def q_roundtrip_compact(spark, sf_dir):
    """Small-file compaction round-trip: orders written as 64 fragments,
    compacted to 4 files (coalesce — no shuffle), read back intact.  The
    oracle proves compaction is row-preserving; the file-count assertion
    lives in test_sources.py."""
    from .sources import writers

    o = _t(spark, sf_dir)["orders"].select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("total"),
    )
    path = _rt_tmpdir("compact")
    o.repartition(64).write.mode("overwrite").parquet(path)
    writers.compact(spark, path, target_partitions=4)
    return spark.read.parquet(path)


SQL_RT_COMPACT = """
SELECT o_orderkey AS order_key,
       o_orderstatus AS status,
       CAST(o_totalprice AS DOUBLE) AS total
FROM orders
"""


def q_roundtrip_evolve(spark, sf_dir):
    """Schema-evolution round-trip: an old batch written WITHOUT a column,
    a new batch appended WITH it, read back under mergeSchema — old rows
    surface the added column as NULL.  The append-only schema-widening
    contract every long-lived lakehouse table relies on."""
    base = _t(spark, sf_dir)["nation"].select(
        F.col("n_nationkey").alias("nation_key"),
        F.col("n_name").alias("nation_name"),
        F.col("n_regionkey").alias("region_key"),
    )
    path = _rt_tmpdir("evolve")
    # v1 of the table had no region_key
    base.filter(F.col("nation_key") < 12).drop("region_key").write.mode(
        "append"
    ).parquet(path)
    base.filter(F.col("nation_key") >= 12).write.mode("append").parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


SQL_RT_EVOLVE = """
SELECT n_nationkey AS nation_key,
       n_name AS nation_name,
       CASE WHEN n_nationkey >= 12 THEN n_regionkey END AS region_key
FROM nation
"""


def q_roundtrip_audit_update(spark, sf_dir):
    """D5 + D6: full load, UPDATE-flag post-process (negative balances ->
    'Y'), then a single-row audit INSERT — the InventorySync.dtsx:266-269
    epilogue as a verifiable round-trip."""
    from .sources import writers

    s = (
        _t(spark, sf_dir)["supplier"]
        .select(
            F.col("s_suppkey").cast("long").alias("supplier_key"),
            # s_nationkey is INT32 in the source parquet; widen to match the
            # audit row's INT64 — mixed-width files under one path make the
            # read-back schema depend on which file inference lands on
            F.col("s_nationkey").cast("long").alias("nation_key"),
            F.col("s_acctbal").cast("double").alias("acct_bal"),
        )
        .withColumn("processed", F.lit("N"))
    )
    path = _rt_tmpdir("audit")
    writers.overwrite(s, path)
    writers.update_flag(
        spark, path, "processed", lambda df: df["acct_bal"] < 0.0, "Y"
    )
    writers.audit_append(
        spark,
        path,
        {
            "supplier_key": -1,
            "nation_key": -1,
            "acct_bal": 0.0,
            "processed": "AUDIT",
        },
    )
    return spark.read.parquet(path)


def q_salted_agg_events(spark, sf_dir):
    """Skew machinery driven end-to-end: two-phase salted aggregation over
    the low-cardinality event_type key (phase 1 groups on key+salt, phase 2
    merges partials on the key alone) must equal a plain GROUP BY — decimal
    partials make the split exact regardless of how rows spread over salts."""
    from .operators import salted_aggregate

    e = _t(spark, sf_dir)["events"]
    out = salted_aggregate(
        e,
        ["event_type"],
        partial_aggs={
            "sum_value": F.sum(F.col("value").cast(_D184)).cast(_D184),
            "n_events": F.count(F.lit(1)),
        },
        merge_aggs={
            "sum_value": F.sum("sum_value").cast(_D184),
            "n_events": F.sum("n_events"),
        },
        salt_col="event_id",
    )
    return _final_double(out, ["sum_value"])


SQL_SALTED_AGG = """
SELECT event_type,
       CAST(round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)), 6)
            AS DOUBLE) AS sum_value,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_foreach_segments(spark, sf_dir):
    """C2: ForEachLoop container — the pipeline re-runs once per variable
    value (segment), each iteration var-binding its filter; the unioned
    iteration outputs must equal one segment-grouped aggregate."""
    from .operators import union_all
    from .pipeline import foreach_partition_values

    t = _t(spark, sf_dir)

    def seg_orders(frames, vars):
        cust = frames["customer"].filter(
            F.col("c_mktsegment") == F.lit(vars["segment"])
        )
        joined = frames["orders"].join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        return joined.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_D182)).cast(_D182).alias("total"),
        )

    pipe = Pipeline(spark, vars={"segment": ""})
    pipe.add(Model("seg_orders", seg_orders, deps=[]))
    segments = ["AUTOMOBILE", "BUILDING", "MACHINERY"]
    runs = foreach_partition_values(
        pipe, {"orders": t["orders"], "customer": t["customer"]},
        "segment", segments,
    )
    frames = [runs[s]["seg_orders"] for s in segments]
    out = frames[0]
    for f in frames[1:]:
        out = union_all(out, f)
    return _final_double(out, ["total"])


SQL_FOREACH = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2)), 6) AS DOUBLE) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
GROUP BY c.c_mktsegment
"""


def q_parallel_table_dag(spark, sf_dir):
    """C6 + D7 driven end-to-end: two INDEPENDENT table models materialize
    concurrently (parallel_tables=True submits both parquet writes from a
    thread pool; Spark's scheduler interleaves the jobs), after a D7
    preflight guard admits the inputs; a view model then joins the re-read
    tables.  Oracle = the same two aggregates joined."""
    from .operators.quality import preflight_guard

    t = _t(spark, sf_dir)
    preflight_guard(t["orders"], min_rows=1, name="orders_preflight")
    preflight_guard(t["customer"], min_rows=1, name="customer_preflight")
    base = _rt_tmpdir("pdag")

    def cust_orders(frames, vars):
        return frames["orders"].groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_D182)).cast(_D182).alias("spend"),
        )

    def cust_dim(frames, vars):
        return frames["customer"].select(
            "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double").alias("acctbal")
        )

    def cust_report(frames, vars):
        return frames["cust_dim"].join(
            frames["cust_orders"],
            F.col("c_custkey") == F.col("o_custkey"),
        ).select("c_custkey", "c_mktsegment", "acctbal", "n_orders", "spend")

    pipe = Pipeline(spark)
    pipe.add(Model("cust_orders", cust_orders, deps=[],
                   materialization="table", path=f"{base}/cust_orders"))
    pipe.add(Model("cust_dim", cust_dim, deps=[],
                   materialization="table", path=f"{base}/cust_dim"))
    pipe.add(Model("cust_report", cust_report, deps=["cust_orders", "cust_dim"]))
    frames = pipe.run(
        {"orders": t["orders"], "customer": t["customer"]},
        parallel_tables=True,
    )
    return _final_double(frames["cust_report"], ["spend"])


SQL_PARALLEL_DAG = """
SELECT c.c_custkey, c.c_mktsegment,
       CAST(c.c_acctbal AS DOUBLE) AS acctbal,
       o.n_orders,
       CAST(round(o.spend, 6) AS DOUBLE) AS spend
FROM customer c
JOIN (SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS spend
      FROM orders GROUP BY o_custkey) o
  ON c.c_custkey = o.o_custkey
"""


def q_validation_rollup(spark, sf_dir):
    """V1 + V3 + report rollup driven end-to-end: the distributed checks
    (row-count compare, PK integrity, checksum variance) run for real, roll
    up through ValidationReport, and the flattened (model, check, status,
    counts) table is value-checked — the counts come from the actual
    distributed aggregates, the statuses from the real tolerance logic."""
    from .operators import (
        ModelValidation,
        ValidationReport,
        checksum_compare,
        pk_integrity,
        row_count_compare,
    )

    t = _t(spark, sf_dir)
    o, li = t["orders"], t["lineitem"]
    rc = row_count_compare(o, o)
    cs = checksum_compare(o, o, ["o_totalprice"])
    pk = pk_integrity(li, ["l_orderkey", "l_linenumber"])
    rep = (
        ValidationReport()
        .add_model(ModelValidation("orders").add(rc).add(cs))
        .add_model(ModelValidation("lineitem").add(pk))
    )
    rows = [
        ("orders", "row_count", rc.status,
         rc.detail["legacy"], rc.detail["migrated"]),
        ("orders", "checksum", cs.status, None, None),
        ("lineitem", "pk_integrity", pk.status,
         pk.detail["null_keys"], pk.detail["dup_keys"]),
        ("__report__", "overall", rep.overall_status,
         rep.models_passed, rep.models_failed),
    ]
    return _local_rows(
        spark,
        rows, "model string, check_name string, status string, "
              "value_a bigint, value_b bigint",
    )


SQL_VALIDATION_ROLLUP = """
WITH pkc AS (
  SELECT (SELECT COUNT(*) FROM lineitem
          WHERE l_orderkey IS NULL OR l_linenumber IS NULL) AS nulls,
         (SELECT COUNT(*) FROM (
            SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber
            HAVING COUNT(*) > 1) _d) AS dups
)
SELECT 'orders' AS model, 'row_count' AS check_name, 'pass' AS status,
       (SELECT COUNT(*) FROM orders) AS value_a,
       (SELECT COUNT(*) FROM orders) AS value_b
UNION ALL
SELECT 'orders', 'checksum', 'pass', NULL, NULL
UNION ALL
SELECT 'lineitem', 'pk_integrity',
       CASE WHEN nulls = 0 AND dups = 0 THEN 'pass' ELSE 'fail' END,
       nulls, dups
FROM pkc
UNION ALL
SELECT '__report__', 'overall',
       CASE WHEN nulls = 0 AND dups = 0 THEN 'pass' ELSE 'fail' END,
       1 + CASE WHEN nulls = 0 AND dups = 0 THEN 1 ELSE 0 END,
       CASE WHEN nulls = 0 AND dups = 0 THEN 0 ELSE 1 END
FROM pkc
"""


def q_bucketed_join_orders(spark, sf_dir):
    """Bucketed co-located join driven end-to-end: both sides written with
    write_bucketed on the join key (16 buckets), read back through the table
    catalog, joined (zero-exchange on a cluster; plan shape pinned in
    test_skew_bucketing.py), and aggregated.  Oracle = the plain join+agg,
    proving bucketed storage changes the plan, never the values.  The
    result is materialized under the scratch dir so both tables can be
    dropped (metastore-leak contract, as ``image_phash_index``)."""
    import uuid

    from .sources.writers import write_bucketed

    t = _t(spark, sf_dir)
    sfx = uuid.uuid4().hex[:8]
    base = _rt_tmpdir("bucketed")
    orders, lines = f"bt_orders_{sfx}", f"bt_lineitem_{sfx}"
    try:
        write_bucketed(
            t["orders"].select("o_orderkey", "o_orderpriority"),
            orders, f"{base}/o", ["o_orderkey"], num_buckets=16,
        )
        write_bucketed(
            t["lineitem"].select(
                F.col("l_orderkey").alias("o_orderkey"),
                F.col("l_extendedprice").cast(_D182).alias("price"),
            ),
            lines, f"{base}/l", ["o_orderkey"], num_buckets=16,
        )
        joined = spark.table(lines).join(spark.table(orders), "o_orderkey")
        out = joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("price").cast(_D182).alias("total_price"),
        )
        _final_double(out, ["total_price"]).write.mode("overwrite").parquet(
            f"{base}/out"
        )
    finally:
        for name in (orders, lines):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    return spark.read.parquet(f"{base}/out")


SQL_BUCKETED_JOIN = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2)), 6) AS DOUBLE) AS total_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def q_bloom_orders(spark, sf_dir):
    """Bloom-prefiltered semi-join: a 4096-bit filter built from BUILDING-
    segment customer keys broadcasts to every orders task; the exact match
    count and false-positive count are measured against the true semi-join.
    No false negatives by construction (n_true = the exact semi-join count),
    and the fact table never shuffles — the 100 TB probe-side pattern."""
    from .operators.joins import bloom_build, bloom_prefilter

    t = _t(spark, sf_dir)
    dim = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    bloom = bloom_build(dim, "c_custkey", m=4096, k=3)
    orders = t["orders"].select("o_orderkey", "o_custkey")
    passed = bloom_prefilter(orders, "o_custkey", bloom, m=4096, k=3)
    truth = dim.select(F.col("c_custkey").alias("o_custkey")).withColumn(
        "_m", F.lit(1)
    )
    flagged = passed.join(F.broadcast(truth), "o_custkey", "left")
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_pass"),
        F.sum(F.when(F.col("_m") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_true"),
        F.sum(F.when(F.col("_m").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )


# Bit positions replicate _bloom_positions exactly: three non-overlapping
# 8-hex-char md5 slices mod 4096 (all values positive, so % == pmod).
SQL_BLOOM_ORDERS = """
WITH dim AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
pos AS (
  SELECT DISTINCT
         CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                             1 + 8 * i, 8) AS BIGINT) % 4096 AS p
  FROM dim, (SELECT unnest([0, 1, 2]) AS i) _i),
bm AS (SELECT list(p ORDER BY p) AS bits FROM pos),
probe AS (
  SELECT o_orderkey, o_custkey,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)
              AS BIGINT) % 4096 AS p0,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 9, 8)
              AS BIGINT) % 4096 AS p1,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 17, 8)
              AS BIGINT) % 4096 AS p2
  FROM orders),
passed AS (
  SELECT p.o_custkey
  FROM probe p, bm
  WHERE list_contains(bm.bits, p.p0) AND list_contains(bm.bits, p.p1)
        AND list_contains(bm.bits, p.p2))
SELECT COUNT(*) AS n_pass,
       CAST(SUM(CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM passed LEFT JOIN dim d ON d.c_custkey = passed.o_custkey
"""


def q_streaming_roundtrip(spark, sf_dir):
    """ST2 + ST3 driven end-to-end: stage events to a file source, run a real
    checkpointed availableNow micro-batch stream (watermarked tumbling window
    in append mode) into a parquet sink, and read the sink back.  Append mode
    emits exactly the windows whose end <= the final watermark (max event
    time, delay 0), which the oracle reproduces with a max(ts) bound — so the
    driver's value hash covers the streaming engine's actual output."""
    from .streaming import write_stream

    e = _t(spark, sf_dir)["events"].select("event_id", "ts", "event_type", "value")
    base = _rt_tmpdir("stream")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    e.write.parquet(src)
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, event_type string, value double"
    ).parquet(src)
    win = tumbling_window(
        stream,
        "ts",
        "10 minutes",
        keys=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum(F.col("value").cast(_D184)).cast(_D184),
        },
        watermark="0 seconds",
    )
    q = write_stream(win, sink, ckpt, mode="append")
    # availableNow terminates on its own; the timeout only bounds a hung
    # stream so one bad run can't stall the whole verification pass
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("streaming_roundtrip: stream did not drain in 600s")
    return _final_double(spark.read.parquet(sink), ["sum_value"])


SQL_STREAMING_RT = """
WITH agg AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000)
           AS window_start,
         make_timestamp((CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) + 600) * 1000000)
           AS window_end,
         event_type,
         COUNT(*) AS n_events,
         CAST(round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)), 6)
              AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2, 3
)
SELECT * FROM agg
WHERE window_end <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)
"""


SQL_RT_AUDIT = """
SELECT CAST(s_suppkey AS BIGINT) AS supplier_key,
       CAST(s_nationkey AS BIGINT) AS nation_key,
       CAST(s_acctbal AS DOUBLE) AS acct_bal,
       CASE WHEN s_acctbal < 0.0 THEN 'Y' ELSE 'N' END AS processed
FROM supplier
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE), 'AUDIT'
"""


def q_roundtrip_excel(spark, sf_dir):
    """S5 both directions: the nation dimension exported to a real ``.xlsx``
    (stdlib OOXML writer) and read back through the dependency-free Excel
    source under a declared schema — Excel's actual role in the reference
    (small dimension/report sheets, src/parser/constants.py:37-38)."""
    import os

    from .sources import readers, writers

    n = _t(spark, sf_dir)["nation"]
    rows = [
        [r["n_nationkey"], r["n_name"], r["n_regionkey"]]
        for r in n.collect()  # 25-row dimension: driver-side by design
    ]
    path = os.path.join(_rt_tmpdir("excel"), "nations.xlsx")
    writers.write_xlsx(["nation_key", "nation_name", "region_key"], rows, path)
    schema = T.StructType(
        [
            T.StructField("nation_key", T.IntegerType()),
            T.StructField("nation_name", T.StringType()),
            T.StructField("region_key", T.IntegerType()),
        ]
    )
    return readers.read_excel(spark, path, schema)


SQL_RT_EXCEL = """
SELECT CAST(n_nationkey AS INTEGER) AS nation_key,
       n_name AS nation_name,
       CAST(n_regionkey AS INTEGER) AS region_key
FROM nation
"""


def q_roundtrip_xls(spark, sf_dir):
    """S5 legacy path: the nation dimension exported to a real binary
    BIFF8 ``.xls`` (dependency-free MS-CFB + BIFF8 writer) and read back
    through the ``.xls`` Excel source under a declared schema — proves the
    legacy-workbook decode end-to-end against the same oracle as the
    ``.xlsx`` twin."""
    import os

    from .sources import readers
    from .sources.xls import write_xls

    n = _t(spark, sf_dir)["nation"]
    rows = [
        [r["n_nationkey"], r["n_name"], r["n_regionkey"]]
        for r in n.collect()  # 25-row dimension: driver-side by design
    ]
    path = os.path.join(_rt_tmpdir("xls"), "nations.xls")
    write_xls(["nation_key", "nation_name", "region_key"], rows, path)
    schema = T.StructType(
        [
            T.StructField("nation_key", T.IntegerType()),
            T.StructField("nation_name", T.StringType()),
            T.StructField("region_key", T.IntegerType()),
        ]
    )
    return readers.read_excel(spark, path, schema)


def q_rest_landing(spark, sf_dir):
    """S9: REST API source contract — an out-of-band job lands the API
    payload as JSON; ``read_rest_api`` reads the landed path under a declared
    schema (the reference flags the live-HTTP Script Task manual_review,
    src/parser/models.py:133-142)."""
    from .sources import readers, writers

    r = _t(spark, sf_dir)["region"].select(
        F.col("r_regionkey").cast("int").alias("region_key"),
        F.col("r_name").alias("region_name"),
    )
    path = _rt_tmpdir("rest")
    writers.write_json(r, path)
    schema = T.StructType(
        [
            T.StructField("region_key", T.IntegerType()),
            T.StructField("region_name", T.StringType()),
        ]
    )
    return readers.read_rest_api(spark, path, schema)


SQL_REST_LANDING = """
SELECT CAST(r_regionkey AS INTEGER) AS region_key,
       r_name AS region_name
FROM region
"""


def q_stratified_docs(spark, sf_dir):
    """Deterministic stratified sampling over documents: per-language keep
    fractions on the 4-hex-char md5 prefix (content-addressed — rerun-,
    partitioning- and engine-stable; the oracle reproduces the exact rows)."""
    from .operators.sampling import stratified_sample

    d = _t(spark, sf_dir)["documents"]
    samp = stratified_sample(
        d,
        strata_col="lang",
        fractions={"en": 0.5, "de": 0.25},
        key_col="doc_id",
        default_fraction=0.1,
    )
    return samp.select("doc_id", "lang", "source")


# hex4 thresholds: 0.5*65536=32768='8000', 0.25*65536=16384='4000',
# 0.1*65536=6553='1999' — same fixed-width lowercase hex compare as Spark
SQL_STRATIFIED = """
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE lang WHEN 'en' THEN '8000'
                WHEN 'de' THEN '4000'
                ELSE '1999' END
"""


def q_mixture_docs(spark, sf_dir):
    """Domain reweighting: resample the corpus to a target source mixture.
    All threshold arithmetic is integer/decimal (see mixture_sample), so the
    kept set is engine-exact and the oracle reproduces it row for row."""
    from .operators.sampling import mixture_sample

    d = _t(spark, sf_dir)["documents"]
    samp = mixture_sample(
        d, "lang", {"en": 4, "de": 2, "fr": 1}, key_col="doc_id"
    )
    return samp.select("doc_id", "lang")


# Same integer algebra as mixture_sample: W=7; T = min_g floor(n_g*7/w_g);
# admit_g = floor(65536*T*w_g / (7*n_g)); keep when int(hex4 prefix) < admit.
SQL_MIXTURE = """
WITH w(lang, wt) AS (VALUES ('en', 4), ('de', 2), ('fr', 1)),
n AS (SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY lang),
j AS (SELECT n.lang, CAST(n.n_g AS HUGEINT) AS n_g,
             CAST(w.wt AS HUGEINT) AS wt
      FROM n JOIN w USING (lang)),
t AS (SELECT MIN(n_g * 7 // wt) AS t_total FROM j),
adm AS (SELECT j.lang,
               CAST(65536 * t.t_total * j.wt // (7 * j.n_g) AS BIGINT) AS admit
        FROM j, t)
SELECT d.doc_id, d.lang
FROM documents d JOIN adm USING (lang)
WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT)
      < adm.admit
"""


def q_stateful_totals(spark, sf_dir):
    """ST+: the custom stateful operator (``applyInPandasWithState`` lifetime
    per-key totals) driven end-to-end — events staged to a file stream, state
    updated across micro-batches, update-mode foreachBatch sink (idempotent
    batch_id=N overwrite), final state read back.  Values are exact at any
    summation order: the measure is pre-quantized to integer ten-thousandths
    via DECIMAL(18,4)*10000 -> BIGINT (int sums are associative, so pandas'
    per-batch accumulation equals the oracle's single GROUP BY regardless of
    row order or batch boundaries)."""
    from .streaming import stateful_running_totals, write_stream_update

    e = _t(spark, sf_dir)["events"].select(
        "event_id",
        "ts",
        "event_type",
        (F.col("value").cast(_D184) * 10000).cast("long").alias("value_units"),
    )
    base = _rt_tmpdir("stateful")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    e.write.parquet(src)
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, event_type string, value_units bigint"
    ).parquet(src)
    totals = stateful_running_totals(stream, "event_type", "value_units")
    q = write_stream_update(totals, sink, ckpt)
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stateful_totals: stream did not drain in 600s")
    out = spark.read.parquet(sink)  # partition discovery exposes batch_id
    w = Window.partitionBy("event_type").orderBy(F.desc("batch_id"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            "n_events",
            F.col("total_value").cast("long").alias("total_units"),
        )
    )


SQL_STATEFUL_TOTALS = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
            AS BIGINT) AS total_units
FROM events
GROUP BY event_type
"""


def q_neardup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: minhash-LSH candidate pairs grouped into
    connected components, each labeled by its canonical (minimum) doc_id —
    the keep-one-per-cluster step a dedup pipeline runs after pair
    generation.  The iterative min-label propagation's fixpoint is
    order-independent, so a SQL transitive-closure oracle reproduces it
    exactly."""
    from .text.dedup import connected_components

    docs = _t(spark, sf_dir)["documents"]
    pairs = minhash_candidates_md5(docs)
    comp = connected_components(pairs, "doc_a", "doc_b")
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        "cluster_size",
    )


SQL_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_MD5_CTES},
{_NEARDUP_COMP_CTES}
SELECT c.doc_id, c.canonical_id, cs.cluster_size
FROM comp c
JOIN (SELECT canonical_id, COUNT(*) AS cluster_size
      FROM comp GROUP BY canonical_id) cs USING (canonical_id)
"""


def q_asof_attribution(spark, sf_dir):
    """As-of join: every click event attributed to the user's LATEST prior
    (or simultaneous) purchase — the classic event-attribution query Spark
    has no built-in operator for.  Purchases are first deduped per
    (user, ts) (max event_id wins) so the as-of match is well-defined; the
    union+window implementation costs one shuffle on user_id.  DuckDB's
    native ASOF LEFT JOIN is the oracle."""
    from .operators.joins import asof_join

    e = _t(spark, sf_dir)["events"]
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_id"),
            F.max_by("value", "event_id").alias("purchase_value"),
        )
    )
    return asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload=["purchase_id", "purchase_value"],
    )


SQL_ASOF_ATTRIBUTION = """
WITH p AS (
  SELECT user_id, ts, MAX(event_id) AS purchase_id,
         max_by(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS ts_asof, p.purchase_id, p.purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_range_join_sessions(spark, sf_dir):
    """Range (interval-containment) join: every error event attributed to
    the click-session of the same user that contains it.  Sessions come from
    the session_window operator (green-oracled family); the bucketized
    equi-join replaces the BroadcastNestedLoopJoin Spark would run for a raw
    inequality join."""
    from .operators.joins import range_join

    e = _t(spark, sf_dir)["events"]
    clicks = e.filter(F.col("event_type") == "click")
    sessions = session_window(
        clicks,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs={"n_clicks": F.count(F.lit(1))},
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return range_join(
        errors,
        "ts",
        sessions,
        "session_start",
        "session_end",
        on=["user_id"],
        bucket_seconds=1800,
    )


SQL_RANGE_JOIN = """
WITH cl AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
e2 AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM cl WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM e2),
sess AS (
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_clicks
  FROM s GROUP BY user_id, sid),
err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
SELECT err.event_id, err.user_id, err.ts,
       sess.session_start, sess.session_end, sess.n_clicks
FROM err JOIN sess
  ON err.user_id = sess.user_id
 AND err.ts >= sess.session_start AND err.ts < sess.session_end
"""


def q_events_rollup(spark, sf_dir):
    """Hypertable rollup: per-(day, hour), per-day, and grand-total event
    aggregates from ONE pass (Spark ROLLUP computes every grain inside the
    same single shuffle a plain GROUP BY costs)."""
    from .operators.aggregate import rollup_aggregate

    e = _t(spark, sf_dir)["events"].select(
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hr"),
        F.col("value").cast(_D184).alias("v"),
    )
    out = rollup_aggregate(
        e,
        ["day", "hr"],
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum("v").cast(_D184),
        },
    )
    return _final_double(out, ["sum_value"])


SQL_EVENTS_ROLLUP = _oracle_double(
    """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
         CAST(value AS DECIMAL(18,4)) AS v
  FROM events)
SELECT day, hr,
       CAST(GROUPING(day, hr) AS INTEGER) AS grouping_level,
       COUNT(*) AS n_events,
       CAST(SUM(v) AS DECIMAL(18,4)) AS sum_value
FROM e GROUP BY ROLLUP (day, hr)
""",
    ["sum_value"],
)


def q_kmv_shingles(spark, sf_dir):
    """KMV distinct-count sketch vs ground truth: estimate the number of
    distinct 3-gram shingles across the corpus from the 64 smallest md5
    values, next to the exact COUNT(DISTINCT) for accuracy inspection.
    Content-addressed, so the DuckDB oracle reproduces the estimate to the
    bit — an HLL sketch could never be checked this way."""
    from .operators.aggregate import kmv_distinct
    from .text.dedup import shingle

    docs = _t(spark, sf_dir)["documents"]
    sh = docs.select(F.explode(shingle(F.col("text"), 3)).alias("sh"))
    est = kmv_distinct(sh, "sh", k=64)
    exact = sh.agg(F.countDistinct("sh").alias("n_exact"))
    return est.crossJoin(exact)


SQL_KMV_SHINGLES = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
sh0 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' ')))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks),
sh AS (SELECT doc_id, unnest(shingles) AS sh FROM sh0),
h AS (SELECT DISTINCT md5(sh) AS h FROM sh),
kth AS (SELECT max(h) AS hk, COUNT(*) AS kmv_k
        FROM (SELECT h FROM h ORDER BY h LIMIT 64)),
ex AS (SELECT COUNT(DISTINCT sh) AS n_exact FROM sh)
SELECT kth.kmv_k,
       round(CASE WHEN kth.kmv_k < 64 THEN CAST(kth.kmv_k AS DOUBLE)
                  ELSE 63.0 / (CAST(CAST('0x' || substr(kth.hk, 1, 15) AS BIGINT)
                                    AS DOUBLE) / 1152921504606846976.0)
             END, 6) AS kmv_estimate,
       ex.n_exact
FROM kth, ex
"""


_CMS_PROBES = ["table", "spark", "key", "value", "row", "zzz_absent"]


def q_cms_tokens_docs(spark, sf_dir):
    """Count-min frequency sketch over corpus tokens (Cormode &
    Muthukrishnan 2005) vs exact counts, plus the merged-shard sketch
    (docs split by doc_id parity, sketches summed bucket-wise) whose
    estimates must equal the direct sketch exactly — the lossless-merge
    property that makes CMS the distributable frequency path.  md5
    bucketing keeps every bucket — and therefore every estimate — bit-
    reproducible by the DuckDB oracle."""
    from .operators.aggregate import cms_estimate, cms_merge, cms_sketch

    docs = _t(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    probes = _local_rows(
        spark,
        [(i, t) for i, t in enumerate(_CMS_PROBES)], "probe_idx int, tok string"
    )
    direct = cms_sketch(toks, "tok")
    shard_a = cms_sketch(toks.filter(F.col("doc_id") % 2 == 0), "tok")
    shard_b = cms_sketch(toks.filter(F.col("doc_id") % 2 != 0), "tok")
    merged = cms_merge(shard_a.unionByName(shard_b))
    est = cms_estimate(direct, probes, "tok")
    est_m = cms_estimate(merged, probes, "tok").withColumnRenamed(
        "cms_est", "cms_est_merged"
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_n"))
    return (
        probes.join(est, "tok")
        .join(est_m, "tok")
        .join(exact, "tok", "left")
        .select(
            "probe_idx",
            "tok",
            F.col("cms_est").cast("long").alias("cms_est"),
            F.col("cms_est_merged").cast("long").alias("cms_est_merged"),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_exact"),
        )
    )


SQL_CMS_TOKENS = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents),
probes(probe_idx, tok) AS (VALUES
  (0, 'table'), (1, 'spark'), (2, 'key'),
  (3, 'value'), (4, 'row'), (5, 'zzz_absent')),
entries AS (
  SELECT r.range AS cms_row, t.tok,
         CAST('0x' || substr(md5(r.range || ':' || t.tok), 1, 15) AS BIGINT)
           % 256 AS bucket
  FROM toks t CROSS JOIN range(3) r),
sketch AS (
  SELECT cms_row, bucket, COUNT(*) AS n
  FROM entries GROUP BY cms_row, bucket),
probe_entries AS (
  SELECT p.probe_idx, p.tok, r.range AS cms_row,
         CAST('0x' || substr(md5(r.range || ':' || p.tok), 1, 15) AS BIGINT)
           % 256 AS bucket
  FROM probes p CROSS JOIN range(3) r),
est AS (
  SELECT pe.probe_idx, pe.tok, MIN(COALESCE(s.n, 0)) AS cms_est
  FROM probe_entries pe LEFT JOIN sketch s USING (cms_row, bucket)
  GROUP BY pe.probe_idx, pe.tok),
ex AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok)
SELECT CAST(e.probe_idx AS INTEGER) AS probe_idx, e.tok,
       CAST(e.cms_est AS BIGINT) AS cms_est,
       CAST(e.cms_est AS BIGINT) AS cms_est_merged,
       CAST(COALESCE(ex.n, 0) AS BIGINT) AS n_exact
FROM est e LEFT JOIN ex ON ex.tok = e.tok
"""


# ---------------------------------------------------------------------------
# Cohort retention + interval merging (extension: product/event analytics).
# ---------------------------------------------------------------------------

def q_cohort_retention_events(spark, sf_dir):
    """Weekly cohort retention matrix over events (first-seen week x active
    week, whole-week index via day-diff integer division)."""
    from .operators.funnel import cohort_retention

    ev = _t(spark, sf_dir)["events"]
    return cohort_retention(ev, grain="week")


SQL_COHORT_RETENTION = """
WITH f AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
  FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS period FROM events)
SELECT CAST(cohort AS TIMESTAMP) AS cohort, CAST(period AS TIMESTAMP) AS period,
       CAST(datediff('day', cohort, period) // 7 AS INTEGER) AS period_idx,
       COUNT(*) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY cohort, period
"""


def q_merged_intervals_events(spark, sf_dir):
    """Per-user busy periods: each event opens a 10-minute interval; the
    gaps-and-islands window merge coalesces overlaps into maximal spans."""
    from .operators.window import merge_intervals

    ev = _t(spark, sf_dir)["events"]
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )
    return merge_intervals(iv, ["user_id"], "s", "e").select(
        "user_id", "island_start", "island_end",
        F.col("n_intervals").cast("long").alias("n_intervals"),
    )


SQL_MERGED_INTERVALS = """
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 10 MINUTE AS e FROM events),
x AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv),
y AS (SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk
      FROM x),
z AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island FROM y)
SELECT user_id, MIN(s) AS island_start, MAX(e) AS island_end,
       CAST(COUNT(*) AS BIGINT) AS n_intervals
FROM z GROUP BY user_id, island
"""


# ---------------------------------------------------------------------------
# Ordered funnel analysis (view → click → purchase, earliest-completion
# semantics).  Spark side: ONE shuffle (collect sorted per-user sequence +
# linear fold); the oracle is the k-pass MIN/join formulation — different
# plans, identical rows.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel_events(spark, sf_dir):
    from .operators.funnel import funnel, funnel_summary

    ev = _t(spark, sf_dir)["events"]
    per_user = funnel(ev, _FUNNEL_STEPS).localCheckpoint(eager=False)
    # per user: 'u12' = the first two step times and the depth reached,
    # 'u3' = the last step time of users who reached it; 's' = per step
    u12 = per_user.select(
        F.col("user_id").cast("long").alias("id_a"),
        F.col("step_1_ts").alias("t1"),
        F.col("step_2_ts").alias("t2"),
        F.col("depth").cast("long").alias("n1"),
    )
    u3 = per_user.filter(F.col("step_3_ts").isNotNull()).select(
        F.col("user_id").cast("long").alias("id_a"),
        F.col("step_3_ts").alias("t3"),
    )
    s = funnel_summary(ev, _FUNNEL_STEPS, per_user=per_user).select(
        F.col("step_idx").cast("long").alias("id_a"),
        F.col("step_name").cast("string").alias("s1"),
        F.col("n_users").cast("long").alias("n1"),
    )
    return _suite_frame("funnel_events", [("u12", u12), ("u3", u3), ("s", s)])


SQL_FUNNEL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS ts1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY e.user_id),
u AS (
  SELECT t1.user_id, ts1, ts2, ts3,
         1 + CASE WHEN ts2 IS NULL THEN 0 ELSE 1 END
           + CASE WHEN ts3 IS NULL THEN 0 ELSE 1 END AS depth
  FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
SELECT 'u12' AS component, CAST(user_id AS BIGINT) AS id_a,
       CAST(NULL AS VARCHAR) AS s1, ts1 AS t1, ts2 AS t2,
       CAST(NULL AS TIMESTAMP) AS t3, CAST(depth AS BIGINT) AS n1
FROM u
UNION ALL
SELECT 'u3', CAST(user_id AS BIGINT), NULL, NULL, NULL, ts3, NULL
FROM u WHERE ts3 IS NOT NULL
UNION ALL
SELECT 's', 1, 'view', NULL, NULL, NULL, (SELECT COUNT(*) FROM t1)
UNION ALL
SELECT 's', 2, 'click', NULL, NULL, NULL, (SELECT COUNT(*) FROM t2)
UNION ALL
SELECT 's', 3, 'purchase', NULL, NULL, NULL, (SELECT COUNT(*) FROM t3)
"""


# ---------------------------------------------------------------------------
# Corpus-level line dedup (the actual C4 rule: one occurrence of each line
# ACROSS the corpus, kept at its first (doc, idx) position).
# ---------------------------------------------------------------------------

def q_corpus_dedup_lines(spark, sf_dir):
    from .text.dedup import corpus_dedup_lines

    docs = _t(spark, sf_dir)["documents"]
    return corpus_dedup_lines(docs)


SQL_CORPUS_DEDUP_LINES = """
WITH l AS (
  SELECT doc_id, idx, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
           generate_subscripts(string_split(text, chr(10)), 1) AS idx
    FROM documents)
  WHERE trim(line) <> ''),
t AS (SELECT *, row_number() OVER (PARTITION BY md5(line)
                                   ORDER BY doc_id, idx) AS rn FROM l),
kept AS (
  SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY idx)) AS clean_md5,
         COUNT(*) AS n_kept
  FROM t WHERE rn = 1 GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
SELECT tot.doc_id, kept.clean_md5,
       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(tot.n_lines - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_dropped
FROM tot LEFT JOIN kept USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
# local-min k-gram selection).  Arm 'doc': per-doc fingerprint checksum
# (count/min/max/mod-sum — every selected hash participates); arm 'pair':
# the full candidate-pair join.  md5-derived hashes ⇒ oracle-exact.
# ---------------------------------------------------------------------------

def q_winnow_docs(spark, sf_dir):
    from .text import winnow_candidates, winnow_fingerprints

    docs = _t(spark, sf_dir)["documents"]
    # one selection pass feeds both arms: lazily checkpointed so the
    # checksum agg and the pair join don't each re-run the selection scan.
    fp = winnow_fingerprints(docs, k=4, w=4).localCheckpoint(
        eager=False
    )
    per_doc = fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.min("fp_hash").alias("h_min"),
        F.max("fp_hash").alias("h_max"),
        F.sum(F.col("fp_hash") % 1000003).alias("h_sum"),
    )
    d = per_doc.select(
        F.col("doc_id").cast("long").alias("id_a"),
        F.col("n_fps").cast("long").alias("id_b"),
        F.col("h_min").alias("n1"),
        F.col("h_max").alias("n2"),
        F.col("h_sum").cast("long").alias("n3"),
    )
    p = winnow_candidates(docs, k=4, w=4, min_shared=2, fingerprints=fp).select(
        F.col("doc_a").cast("long").alias("id_a"),
        F.col("doc_b").cast("long").alias("id_b"),
        F.col("n_shared").cast("long").alias("n1"),
    )
    return _suite_frame("winnow_docs", [("doc", d), ("pair", p)])


SQL_WINNOW_FPS = r"""
WITH b AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 4
         THEN list_transform(range(1, len(t) - 4 + 2),
                             i -> array_to_string(list_slice(t, i, i + 3), ' '))
         ELSE [] END AS grams
  FROM b),
p AS (
  SELECT doc_id,
    list_transform(range(1, len(grams) + 1),
      i -> struct_pack(h := CAST('0x' || substr(md5(grams[i]), 1, 15) AS BIGINT),
                       p := CAST(i AS INTEGER))) AS prs
  FROM g),
sel AS (
  SELECT doc_id,
    list_transform(range(1, len(prs) - 4 + 2),
      j -> list_reduce(list_slice(prs, j, j + 3),
                       (a, x) -> CASE WHEN x.h <= a.h THEN x ELSE a END)) AS fps
  FROM p WHERE len(prs) >= 4)
SELECT DISTINCT doc_id, u.h AS fp_hash, u.p AS fp_pos
FROM (SELECT doc_id, unnest(fps) AS u FROM sel)
"""


SQL_WINNOW = f"""
WITH fp AS ({SQL_WINNOW_FPS}),
d AS (
  SELECT doc_id, COUNT(*) AS n_fps, MIN(fp_hash) AS h_min,
         MAX(fp_hash) AS h_max, SUM(fp_hash % 1000003) AS h_sum
  FROM fp GROUP BY doc_id),
dh AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
cool AS (
  SELECT fp_hash FROM dh GROUP BY fp_hash HAVING COUNT(*) <= 1000),
dhc AS (SELECT dh.doc_id, dh.fp_hash FROM dh JOIN cool USING (fp_hash)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM dhc a JOIN dhc b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2)
SELECT 'doc' AS component, CAST(doc_id AS BIGINT) AS id_a,
       CAST(n_fps AS BIGINT) AS id_b, h_min AS n1, h_max AS n2,
       CAST(h_sum AS BIGINT) AS n3
FROM d
UNION ALL
SELECT 'pair', CAST(doc_a AS BIGINT), CAST(doc_b AS BIGINT),
       CAST(n_shared AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM pairs
"""


# ---------------------------------------------------------------------------
# BPE encoding (tokenizer APPLICATION, the counterpart of bpe_merges'
# training): vocabulary-level encode + per-doc token counts under a fixed
# literal merge table.  Every merge application is oracle-verified (the
# nested-replace SQL reproduces the rank-ordered passes bit-for-bit).
# ---------------------------------------------------------------------------

_BPE_ENC_MERGES = [
    ("t", "h"), ("th", "e"), ("s", "t"), ("st", "r"), ("e", "a"), ("r", "e"),
]


def q_bpe_encode_docs(spark, sf_dir):
    from .text.bpe import bpe_encode_vocab, bpe_token_counts

    docs = _t(spark, sf_dir)["documents"]
    w = bpe_encode_vocab(docs, _BPE_ENC_MERGES).select(
        F.col("word").alias("k"),
        F.col("n_toks").cast("long").alias("n1"),
        F.array_join("bpe_tokens", " ").alias("enc"),
    )
    d = bpe_token_counts(docs, _BPE_ENC_MERGES).select(
        F.col("doc_id").cast("string").alias("k"),
        F.col("n_bpe_tokens").cast("long").alias("n1"),
        F.col("n_words").cast("long").alias("n2"),
    )
    return _suite_frame("bpe_encode_docs", [("word", w), ("doc", d)])


def _bpe_enc_expr() -> str:
    s = ("'·' || array_to_string(list_transform(range(1, length(word) + 1), "
         "i -> substr(word, i, 1)), '··') || '·'")
    for a, b in _BPE_ENC_MERGES:
        s = f"replace({s}, '·{a}··{b}·', '·{a}{b}·')"
    return s


SQL_BPE_ENCODE = f"""
WITH w AS (
  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents),
w2 AS (SELECT word FROM w WHERE word <> ''),
enc AS (SELECT word, string_split(trim({_bpe_enc_expr()}, '·'), '··') AS toks
        FROM w2),
dw AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents),
d AS (
  SELECT doc_id, COUNT(*) AS n_words, SUM(len(toks)) AS n_bpe
  FROM (SELECT doc_id, word FROM dw WHERE word <> '') dw2
  JOIN enc USING (word) GROUP BY doc_id)
SELECT 'word' AS component, word AS k, CAST(len(toks) AS BIGINT) AS n1,
       CAST(NULL AS BIGINT) AS n2, array_to_string(toks, ' ') AS enc
FROM enc
UNION ALL
SELECT 'doc', CAST(doc_id AS VARCHAR), CAST(n_bpe AS BIGINT),
       CAST(n_words AS BIGINT), CAST(NULL AS VARCHAR)
FROM d
"""


# ---------------------------------------------------------------------------
# HyperLogLog register sketch (extension: mergeable sketches).  The oracle
# surface is the REGISTER TABLE (pure integer md5 math, bit-portable), not
# the float estimate — hll_estimate is pytest-verified against exact counts.
# ---------------------------------------------------------------------------

def q_hll_users_events(spark, sf_dir):
    """HLL registers over events: low-cardinality user_id (exercises the
    sparse/linear-counting regime), high-cardinality event_id (dense
    registers), and a merged-shard build over per-event-type user_id shards
    whose registers must equal the direct build bit-for-bit (register merge
    is a lossless bucket-wise MAX)."""
    from .operators import hll_merge, hll_registers

    ev = _t(spark, sf_dir)["events"]
    users = hll_registers(ev, "user_id", b=10).select("bucket", "rho_max")
    ids = hll_registers(ev, "event_id", b=10).select("bucket", "rho_max")
    shards = [
        hll_registers(ev.filter(F.col("event_type") == t), "user_id", b=10)
        for t in ("click", "view", "purchase", "scroll", "hover")
    ]
    other = hll_registers(
        ev.filter(~F.col("event_type").isin("click", "view", "purchase",
                                            "scroll", "hover")),
        "user_id", b=10,
    )
    merged = hll_merge(_union_all(shards + [other])).select(
        "bucket", "rho_max"
    )
    return _suite_frame("hll_users_events", [
        ("hll_users", users), ("hll_events", ids), ("hll_merged", merged),
    ])


def _hll_reg_sql(expr: str) -> str:
    return f"""
WITH h AS (SELECT md5(CAST({expr} AS VARCHAR)) AS h FROM events),
r AS (SELECT CAST('0x' || substr(h, 1, 4) AS BIGINT) % 1024 AS bucket,
             length(regexp_extract(substr(h, 5, 15), '^(0*)', 1)) AS z,
             substr(h, 5 + length(regexp_extract(substr(h, 5, 15), '^(0*)', 1)), 1) AS nib
      FROM h)
SELECT bucket,
       CAST(MAX(CASE WHEN z = 15 THEN 61 ELSE z * 4
                + CASE WHEN nib = '1' THEN 3 WHEN nib IN ('2', '3') THEN 2
                       WHEN nib IN ('4', '5', '6', '7') THEN 1 ELSE 0 END
                + 1 END) AS INTEGER) AS rho_max
FROM r GROUP BY bucket"""


# Merged-shard registers equal the direct build, so 'hll_merged' reuses the
# direct user_id SQL — the bit-equality IS the mergeability proof.
SQL_HLL_USERS_EVENTS = f"""
SELECT 'hll_users' AS component, bucket, rho_max FROM ({_hll_reg_sql("user_id")}) _u
UNION ALL
SELECT 'hll_events', bucket, rho_max FROM ({_hll_reg_sql("event_id")}) _e
UNION ALL
SELECT 'hll_merged', bucket, rho_max FROM ({_hll_reg_sql("user_id")}) _m
"""


def q_project_embeddings(spark, sf_dir):
    """JL sign random projection (64 -> 8 dims), exploded to scalar rows so
    every projected double is exactly verified against the oracle's
    identical in-order fold."""
    from .text.similarity import project_embeddings

    emb = _t(spark, sf_dir)["embeddings"]
    proj = project_embeddings(emb, out_dim=8, dims=64)
    return proj.select(
        "vec_id", F.posexplode("projected").alias("dim", "value")
    ).select("vec_id", F.col("dim").cast("int").alias("dim"), "value")


def _project_sql() -> str:
    from .text.similarity import _md5_sign

    planes = [[_md5_sign(p, j) for j in range(64)] for p in range(8)]
    m = (
        "["
        + ", ".join(
            "[" + ", ".join(f"{s:.1f}" for s in row) + "]" for row in planes
        )
        + "]"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m(planes) AS (SELECT {m})
SELECT e.vec_id, CAST(p.range AS INTEGER) AS dim,
       list_reduce(
         list_transform(range(1, 65),
                        i -> v[CAST(i AS INTEGER)]
                             * planes[CAST(p.range AS INTEGER) + 1][CAST(i AS INTEGER)]),
         (a, b) -> a + b) AS value
FROM e CROSS JOIN range(8) p CROSS JOIN m
"""


SQL_PROJECT_EMBEDDINGS = _project_sql()


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining: per sampled query vector (vec_id % 50 == 0),
    top-3 different-label non-near-dup neighbors by exact cosine."""
    from .text.similarity import hard_negatives

    emb = _t(spark, sf_dir)["embeddings"]
    out = hard_negatives(
        emb, k=3, dup_threshold=0.95,
        queries=emb.filter(F.col("vec_id") % 50 == 0),
    )
    return out.select(
        "q_id", "vec_id", F.round("cosine", 6).alias("cosine_r"), "rank"
    )


SQL_HARD_NEGATIVES = """
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, label AS q_label
  FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.q_id, e.vec_id,
         CASE WHEN sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_inner_product(q.qv, q.qv)) > 0
              THEN list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_inner_product(q.qv, q.qv)))
              ELSE 0.0 END AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> q.q_id AND e.label <> q.q_label),
ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored WHERE cosine < 0.95)
SELECT q_id, vec_id, round(cosine, 6) AS cosine_r, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
"""


def q_label_prototypes(spark, sf_dir):
    """Class prototypes + nearest-prototype assignment: decimal-summed
    per-label centroids (order-independent), then every vector classified
    against the literal rounded centroids — argmax cosine, smallest-label
    tie-break.  The centroid collect is model-sized (labels x dims), the
    same legitimacy class as the IVF centroid step."""
    from .text.similarity import label_centroids, prototype_assign_arrow

    emb = _t(spark, sf_dir)["embeddings"]
    # lazily checkpointed: the centroid agg feeds BOTH the 'centroid' arm
    # and the driver-side protos collect — without this it computed twice
    cent = label_centroids(emb).localCheckpoint(eager=False)
    c = cent.select(
        F.col("label").cast("long").alias("id_a"),
        F.col("dim").cast("int").alias("dim"),
        F.col("mean_r").alias("v1"),
        F.col("n").alias("n1"),
    )
    rows = cent.orderBy("label", "dim").collect()
    protos: dict[int, list[float]] = {}
    for r in rows:
        protos.setdefault(r["label"], []).append(float(r["mean_r"]))
    # Arrow kernel twin (bit-identical to prototype_assign, pytest-pinned):
    # the expression path evaluated len(protos) interpreted-HOF cosines/row
    a = prototype_assign_arrow(emb, protos).select(
        F.col("vec_id").cast("long").alias("id_a"),
        F.col("pred_label").cast("int").alias("dim"),
        F.round("cosine", 6).alias("v1"),
    )
    return _suite_frame("label_prototypes", [("centroid", c), ("assign", a)])


SQL_LABEL_PROTOTYPES = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
x AS (SELECT label, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS val
      FROM e),
cell AS (
  SELECT label, dim, SUM(CAST(val AS DECIMAL(38, 18))) AS s, COUNT(*) AS n
  FROM x GROUP BY label, dim),
c AS (SELECT label, dim, round(CAST(s AS DOUBLE) / n, 6) AS mean_r, n
      FROM cell),
cent AS (SELECT label AS c_label, list(mean_r ORDER BY dim) AS cv
         FROM c GROUP BY label),
scored AS (
  SELECT e.vec_id, cent.c_label,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product(cent.cv, cent.cv)) > 0
              THEN list_inner_product(e.v, cent.cv)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(cent.cv, cent.cv)))
              ELSE 0.0 END AS cosine
  FROM e CROSS JOIN cent),
best AS (
  SELECT vec_id, c_label, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, c_label) AS rn
  FROM scored)
SELECT 'centroid' AS component, CAST(label AS BIGINT) AS id_a,
       CAST(dim AS INTEGER) AS dim, mean_r AS v1, CAST(n AS BIGINT) AS n1
FROM c
UNION ALL
SELECT 'assign', CAST(vec_id AS BIGINT), CAST(c_label AS INTEGER),
       round(cosine, 6), CAST(NULL AS BIGINT)
FROM best WHERE rn = 1
"""


def q_ccnet_buckets_docs(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-bigram mean surprisal ratio,
    exact tertile cutoffs from ONE tiny percentile agg, map-side bucket
    compare (no global ntile sort — the 100 TB shape)."""
    from .operators.sampling import quantile_buckets
    from .text import bigram_surprisal

    docs = _t(spark, sf_dir)["documents"]
    s = bigram_surprisal(docs).filter(F.col("n_bigrams") > 0).select(
        "doc_id",
        "n_bigrams",
        "surprisal_units",
        (F.col("surprisal_units").cast("double") / F.col("n_bigrams")).alias(
            "ratio"
        ),
    )
    out = quantile_buckets(s, "ratio", n_buckets=3, bucket_col="ppl_bucket")
    return out.select(
        "doc_id",
        "n_bigrams",
        "surprisal_units",
        F.round("ratio", 6).alias("ratio_r"),
        "ppl_bucket",
    )


def q_quantize_embeddings(spark, sf_dir):
    """Int8 embedding quantization, exploded to scalar rows so every
    quantized value is exactly verified (fixture dim = 64)."""
    from .text.similarity import quantize_embeddings

    emb = _t(spark, sf_dir)["embeddings"]
    return quantize_embeddings(emb)


SQL_QUANTIZE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS scale
      FROM e),
x AS (SELECT vec_id, CAST(i.range AS INTEGER) AS dim,
             v[CAST(i.range AS INTEGER) + 1] AS xv, scale
      FROM m CROSS JOIN range(64) i)
SELECT vec_id, dim,
       CASE WHEN scale > 0 THEN CAST(round(xv / scale * 127) AS INTEGER)
            ELSE 0 END AS q,
       scale
FROM x
"""


def q_pivot_order_matrix(spark, sf_dir):
    """SSIS Pivot transform: order totals as a (priority x status) matrix —
    explicit pivot-value list keeps the schema static and skips the
    distinct-collection job."""
    from .operators.split import pivot_aggregate

    o = _t(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast(_D184).alias("v"),
    )
    piv = pivot_aggregate(
        o, ["priority"], "status", ["F", "O", "P"], F.sum("v").cast(_D184)
    )
    piv = piv.select(
        "priority",
        F.col("F").alias("total_f"),
        F.col("O").alias("total_o"),
        F.col("P").alias("total_p"),
    )
    return _final_double(piv, ["total_f", "total_o", "total_p"])


SQL_PIVOT_MATRIX = _oracle_double(
    """
SELECT o_orderpriority AS priority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                     THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
            AS DECIMAL(18,4)) AS total_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
            AS DECIMAL(18,4)) AS total_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
                     THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
            AS DECIMAL(18,4)) AS total_p
FROM orders GROUP BY o_orderpriority
""",
    ["total_f", "total_o", "total_p"],
)


def q_unpivot_order_matrix(spark, sf_dir):
    """SSIS Unpivot transform: the pivoted matrix melted back to long form
    (absent combinations drop) — proves pivot -> unpivot round-trips to the
    plain two-key aggregate."""
    from .operators.split import pivot_aggregate, unpivot

    o = _t(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast(_D184).alias("v"),
    )
    piv = pivot_aggregate(
        o, ["priority"], "status", ["F", "O", "P"], F.sum("v").cast(_D184)
    )
    long = unpivot(piv, ["priority"], ["F", "O", "P"], "status", "total")
    long = long.filter(F.col("total").isNotNull())
    return _final_double(long, ["total"])


SQL_UNPIVOT_MATRIX = _oracle_double(
    """
SELECT o_orderpriority AS priority,
       o_orderstatus AS status,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total
FROM orders GROUP BY o_orderpriority, o_orderstatus
""",
    ["total"],
)


def q_median_order_totals(spark, sf_dir):
    """Exact discrete median order total per priority — windowed median,
    scalable where Spark's exact percentile aggregate buffers whole groups."""
    from .operators.aggregate import grouped_median_disc

    o = _t(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("double").alias("total"),
    )
    return grouped_median_disc(o, ["priority"], "total", "median_total")


SQL_MEDIAN_TOTALS = """
WITH r AS (
  SELECT o_orderpriority AS priority,
         CAST(o_totalprice AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(o_totalprice AS DOUBLE)) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders)
SELECT priority, v AS median_total
FROM r WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
"""


def q_pii_redaction(spark, sf_dir):
    """PII scrub driven with KNOWN planted PII: a deterministic fake email +
    phone (built from doc_id) is appended to every document on BOTH engines,
    then redacted — so the oracle verifies actual replacements on every row,
    not a pass-through.  Also strips planted markup around the email."""
    from .text.analysis import redact_pii, strip_markup

    d = _t(spark, sf_dir)["documents"]
    planted = F.concat(
        F.col("text"),
        F.lit(" <b>contact</b>: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel: +1 (555) 000-"),
        F.col("doc_id").cast("string"),
        F.lit("9"),
    )
    return d.select(
        "doc_id",
        redact_pii(strip_markup(planted)).alias("clean_text"),
    )


SQL_PII_REDACTION = r"""
WITH planted AS (
  SELECT doc_id,
         text || ' <b>contact</b>: user' || CAST(doc_id AS VARCHAR)
              || '@example.com tel: +1 (555) 000-'
              || CAST(doc_id AS VARCHAR) || '9' AS t
  FROM documents),
stripped AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(t, '<[^>]+>', ' ', 'g'),
                             '\s+', ' ', 'g')) AS t
  FROM planted)
SELECT doc_id,
       regexp_replace(
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g'),
         '\+?[0-9][0-9()\-\s]{6,}[0-9]', '<PHONE>', 'g') AS clean_text
FROM stripped
"""


def q_fuzzy_part_names(spark, sf_dir):
    """SSIS Fuzzy Grouping: near-duplicate part names (edit distance 1-3)
    found by first-token blocking + exact Levenshtein refine — exact
    duplicates excluded (they are exact_dedup's job)."""
    from .operators.joins import fuzzy_pairs

    p = _t(spark, sf_dir)["part"].select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ")[0].alias("blk"),
    )
    return fuzzy_pairs(
        p, "p_partkey", "p_name", "blk", max_distance=3, min_distance=1
    )


# Shared with SQL_PAGERANK_PARTS — the PageRank oracle must walk the
# byte-identical pair set.
_FUZZY_PAIR_CTES = """p AS (
  SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk FROM part),
fpairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
         CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS distance
  FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3)"""

SQL_FUZZY_PARTS = f"""
WITH {_FUZZY_PAIR_CTES}
SELECT id_a, id_b, distance FROM fpairs
"""


def q_pagerank_parts(spark, sf_dir):
    """PageRank over the fuzzy part-name similarity graph (3 iterations,
    damping 0.85) — an ITERATIVE algorithm verified exactly: decimal-summed
    contributions make each iteration bit-reproducible, so the unrolled SQL
    oracle reproduces every rank to the bit."""
    from .operators.graph import pagerank
    from .operators.joins import fuzzy_pairs

    p = _t(spark, sf_dir)["part"].select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ")[0].alias("blk"),
    )
    pairs = fuzzy_pairs(
        p, "p_partkey", "p_name", "blk", max_distance=3, min_distance=1
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    pr = pagerank(edges, iterations=3, damping=0.85)
    return pr.select(
        F.col("node").alias("part_key"), F.round("rank", 6).alias("pagerank")
    )


def _pagerank_sql() -> str:
    iters = []
    prev = "r0"
    for i in range(1, 4):
        iters.append(f"""c{i} AS (
  SELECT e.dst AS node,
         CAST(SUM(CAST(r.rank / deg.d AS DECIMAL(28,18))) AS DOUBLE) AS s
  FROM edges e JOIN {prev} r ON r.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst),
r{i} AS (
  SELECT n.node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         + CAST(0.85 AS DOUBLE) * COALESCE(c{i}.s, CAST(0 AS DOUBLE)) AS rank
  FROM nodes n LEFT JOIN c{i} USING (node))""")
        prev = f"r{i}"
    steps = ",\n".join(iters)
    return f"""
WITH {_FUZZY_PAIR_CTES},
edges AS (SELECT id_a AS src, id_b AS dst FROM fpairs
          UNION ALL SELECT id_b, id_a FROM fpairs),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, CAST(1 AS DOUBLE) AS rank FROM nodes),
{steps}
SELECT node AS part_key, round(rank, 6) AS pagerank FROM r3
"""


SQL_PAGERANK_PARTS = _pagerank_sql()


# ---------------------------------------------------------------------------
# 47. Semi-structured JSON extraction (events.props payload)
# ---------------------------------------------------------------------------

def q_json_props_events(spark, sf_dir):
    """Typed JSON payload extraction: parse ``events.props`` with a declared
    schema (``from_json`` — JVM-side, codegen'd, no Python UDF) and aggregate
    the extracted measure per event type.  The reference parses payload
    columns with Script-component code (``src/parser/constants.py`` Script
    task surface); Spark makes it a typed projection the optimizer can prune.
    All outputs are ints, so the oracle is exact without re-rendering."""
    ev = _t(spark, sf_dir)["events"]
    parsed = ev.withColumn(
        "k", F.from_json(F.col("props"), "k INT").getField("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_even_k"),
    )


SQL_JSON_PROPS = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events) _p
GROUP BY event_type
"""


def q_zorder_events(spark, sf_dir):
    """Z-order layout stats over events on (user_id, event-second): Morton
    keys from exact-integer range scaling, folded into 256 curve-bucket
    rectangles (count + min/max of both dimensions) — the footer-stats
    metadata a two-dimensional pruning reader consults, proving the layout
    localizes user AND time ranges.  One scalar-bounds aggregate broadcast
    as one row, one hash aggregation on the bucket id; the curve key itself
    is codegen'd shift/mask arithmetic, oracle-checkable bit for bit."""
    from .operators.layout import zorder_stats

    ev = _t(spark, sf_dir)["events"].select(
        F.col("user_id").alias("x"),
        F.unix_timestamp(F.col("ts")).alias("y"),
    )
    st = zorder_stats(ev, "x", "y", bits=16, bucket_bits=8)
    return st.select(
        F.col("z_bucket").cast("long").alias("z_bucket"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("x_min").cast("long").alias("x_min"),
        F.col("x_max").cast("long").alias("x_max"),
        F.col("y_min").cast("long").alias("y_min"),
        F.col("y_max").cast("long").alias("y_max"),
    )


def _sql_morton(xs: str, ys: str, bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(((({xs}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({ys}) >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


SQL_ZORDER_EVENTS = f"""
WITH base AS (
  SELECT CAST(user_id AS BIGINT) AS x,
         epoch_us(ts) // 1000000 AS y
  FROM events),
b AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax,
             MIN(y) AS ymin, MAX(y) AS ymax FROM base),
scaled AS (
  SELECT x, y,
         CASE WHEN xmax > xmin
              THEN ((x - xmin) * 65535) // (xmax - xmin) ELSE 0 END AS sx,
         CASE WHEN ymax > ymin
              THEN ((y - ymin) * 65535) // (ymax - ymin) ELSE 0 END AS sy
  FROM base CROSS JOIN b),
z AS (SELECT x, y, CAST({_sql_morton("sx", "sy")} AS BIGINT) AS zv
      FROM scaled)
SELECT zv >> 24 AS z_bucket, COUNT(*) AS n_rows,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM z GROUP BY zv >> 24
"""


# ---------------------------------------------------------------------------
# 48. RANGE-frame rolling aggregate (trailing 7 calendar days per customer)
# ---------------------------------------------------------------------------

def q_rolling_revenue_7d(spark, sf_dir):
    """Value-based rolling window: per-customer trailing-7-day spend and
    order count.  ``day_idx`` (days since epoch) gives the numeric RANGE
    ordering, so calendar gaps shrink the window — a ROWS frame cannot
    express this.  Both window expressions share one (partition, order,
    frame) spec → a single Window node behind one o_custkey exchange.
    Decimal sum internally, one round(x,6)-double re-render at the edge."""
    from .operators.window import range_aggregate

    orders = _t(spark, sf_dir)["orders"]
    df = orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("day_idx"),
        F.col("o_totalprice").cast(_D182).alias("total"),
    )
    df = range_aggregate(
        df, ["o_custkey"], "day_idx", "total", preceding=6, out_col="spend_7d"
    )
    df = range_aggregate(
        df, ["o_custkey"], "day_idx", F.lit(1), preceding=6,
        out_col="n_7d", agg=F.count,
    )
    out = df.select("o_custkey", "o_orderkey", "day_idx", "n_7d", "spend_7d")
    return _final_double(out, ["spend_7d"])


SQL_ROLLING_7D = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS INTEGER) AS day_idx,
         CAST(o_totalprice AS DECIMAL(18,2)) AS total
  FROM orders)
SELECT o_custkey, o_orderkey, day_idx,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
       SUM(total) OVER w AS spend_7d
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY day_idx
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# 49. CDC snapshot diff (SSIS CDC Splitter semantics: I/U/D streams)
# ---------------------------------------------------------------------------

def q_cdc_orders_diff(spark, sf_dir):
    """CDC snapshot diff: 'yesterday' drops every 7th order and carries a
    stale status for every 5th; 'today' drops every 10th.  One full-outer
    sort-merge join on the key classifies each key as I/U/D; unchanged keys
    vanish.  Both snapshot transforms are pure column arithmetic, so the
    DuckDB oracle replays them exactly."""
    from .operators.cdc import snapshot_diff

    orders = _t(spark, sf_dir)["orders"]
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(_D182).alias("total"),
    )
    old = base.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    new = base.filter(F.col("o_orderkey") % 10 != 0)
    out = snapshot_diff(old, new, ["o_orderkey"], ["o_orderstatus", "total"])
    out = out.select(
        "o_orderkey",
        "change_type",
        "old_o_orderstatus",
        "new_o_orderstatus",
        "old_total",
        "new_total",
    )
    return _final_double(out, ["old_total", "new_total"])


SQL_CDC_DIFF = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS total
  FROM orders),
old AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         total
  FROM base WHERE o_orderkey % 7 <> 0),
new AS (SELECT * FROM base WHERE o_orderkey % 10 <> 0),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_orderkey IS NOT NULL AS in_old,
         n.o_orderkey IS NOT NULL AS in_new,
         o.o_orderstatus AS old_o_orderstatus,
         n.o_orderstatus AS new_o_orderstatus,
         o.total AS old_total, n.total AS new_total
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'I'
            WHEN NOT in_new THEN 'D'
            ELSE 'U' END AS change_type,
       old_o_orderstatus, new_o_orderstatus, old_total, new_total
FROM j
WHERE NOT in_old OR NOT in_new
   OR old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
   OR old_total IS DISTINCT FROM new_total
"""


def q_cdc_apply_orders(spark, sf_dir):
    """CDC APPLY (inverse of snapshot_diff; Delta 'APPLY CHANGES INTO'
    analog): a four-batch changelog — U(seq 1) on %5 keys, D(seq 2) on %7,
    I(seq 3) re-inserting the %10 keys missing from the snapshot, and a
    superseding U(seq 4) on %20 — collapses to its highest-seq change per
    key and is applied to the snapshot.  Keys divisible by 35 see U then D
    (delete wins); by 70 see U,D,I (re-insert wins); by 20 see I then U
    (the later update wins) — every last-wins path is exercised."""
    from .operators.cdc import apply_changes

    orders = _t(spark, sf_dir)["orders"]
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(_D182).alias("total"),
    )
    snap = base.filter(F.col("o_orderkey") % 10 != 0)

    def batch(mod, status, op, seq):
        df = base.filter(F.col("o_orderkey") % mod == 0)
        if status is not None:
            df = df.withColumn("o_orderstatus", F.lit(status))
        return df.withColumn("change_type", F.lit(op)).withColumn(
            "seq", F.lit(seq)
        )

    changes = (
        batch(5, "U1", "U", 1)
        .unionByName(batch(7, None, "D", 2))
        .unionByName(batch(10, "NEW", "I", 3))
        .unionByName(batch(20, "U2", "U", 4))
    )
    out = apply_changes(snap, changes, ["o_orderkey"], "seq", "change_type")
    return _final_double(
        out.select("o_orderkey", "o_orderstatus", "total"), ["total"]
    )


SQL_CDC_APPLY = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS total
  FROM orders),
snap AS (SELECT * FROM base WHERE o_orderkey % 10 <> 0),
changes AS (
  SELECT o_orderkey, 'U1' AS o_orderstatus, total, 'U' AS op, 1 AS seq
  FROM base WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, total, 'D', 2
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 'NEW', total, 'I', 3
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 'U2', total, 'U', 4
  FROM base WHERE o_orderkey % 20 = 0),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY seq DESC, op) AS rn
    FROM changes) _r
  WHERE rn = 1)
SELECT s.o_orderkey, s.o_orderstatus, s.total
FROM snap s
WHERE NOT EXISTS (SELECT 1 FROM last l WHERE l.o_orderkey = s.o_orderkey)
UNION ALL
SELECT o_orderkey, o_orderstatus, total FROM last WHERE op <> 'D'
"""


# ---------------------------------------------------------------------------
# 50. Shingle containment (doc-inside-doc near-dup, directional)
# ---------------------------------------------------------------------------

def q_containment_docs(spark, sf_dir):
    """Directional shingle containment: |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.5
    flags a document embedded inside a larger one — the near-dup case
    Jaccard's union-normalization suppresses.  Same inverted-index join
    shape (and hot-shingle cap) as ngram_jaccard_docs."""
    from .text.dedup import containment_pairs

    docs = _t(spark, sf_dir)["documents"]
    return containment_pairs(docs, min_containment=0.5)


SQL_CONTAINMENT = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
sh0 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' ')))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks),
sh AS (SELECT doc_id, unnest(shingles) AS sh FROM sh0),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
sh2 AS (SELECT * FROM sh
        WHERE sh NOT IN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > 1000)),
inter AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id, COUNT(*) AS isz
  FROM sh2 a JOIN sh2 b USING (sh)
  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
SELECT contained_id, container_id,
       CAST(isz AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = contained_id
WHERE CAST(isz AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) >= 0.5
"""


# ---------------------------------------------------------------------------
# 51. REAL audio decode (WAV backend) — same encode->Arrow->decode pattern
# as bmp_decode_stats: each document synthesizes a PCM16 mono WAV whose
# parameters are pure doc_id arithmetic, decode_wav parses the actual RIFF
# bytes back out over mapInPandas, and the oracle recomputes the arithmetic
# (constant amplitude -> integer-exact mean |amplitude|).
# ---------------------------------------------------------------------------

def q_wav_decode_stats(spark, sf_dir):
    from .text.multimodal import decode_wav_stats, encode_wav

    docs = _t(spark, sf_dir)["documents"].select(
        F.col("doc_id").alias("media_id")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["media_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        encode_wav(
                            int(8 + i % 16),
                            int(8000 + (i % 4) * 4000),
                            int(i * 37 % 20000),
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(encode, schema="media_id long, content binary")
    return decode_wav_stats(media).select(
        "media_id", "sample_rate", "channels", "n_samples",
        "mean_abs", "duration_ms",
    )


SQL_WAV_STATS = """
SELECT doc_id AS media_id,
       CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS channels,
       CAST(8 + doc_id % 16 AS INTEGER) AS n_samples,
       CAST(doc_id * 37 % 20000 AS DOUBLE) AS mean_abs,
       CAST(8 + doc_id % 16 AS DOUBLE) * 1000.0
         / (8000 + (doc_id % 4) * 4000) AS duration_ms
FROM documents
"""


# ---------------------------------------------------------------------------
# 52. TF-IDF top terms per document (corpus-level term weighting)
# ---------------------------------------------------------------------------

def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per doc.  ln() differs between JVM and libm in the
    last ulp on ~8% of inputs, so the score is quantized (round 6) BEFORE
    the ranking window — both engines rank the identical rounded doubles."""
    from .text.analysis import tf_idf_top_terms

    docs = _t(spark, sf_dir)["documents"]
    return tf_idf_top_terms(docs, top_k=3)


SQL_TFIDF = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df_t,
         round(CAST(tf AS DOUBLE)
               * ln(CAST(n_docs AS DOUBLE) / CAST(df_t AS DOUBLE)), 6)
           AS tfidf_r
  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df_t, tfidf_r, CAST(rn AS INTEGER) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_r DESC, term) AS rn
      FROM scored)
WHERE rn <= 3
"""


def q_ivf_topk(spark, sf_dir):
    """IVF ANN: coarse-quantize the corpus into 8 centroid cells (centroids =
    the 8 lowest-id embeddings — deterministic, model-free 'training'), route
    the query driver-side with the same IEEE fold, brute-force only the 2
    probed cells.  Complements LSH: cells adapt to the data distribution."""
    from .text.similarity import ivf_topk

    emb = _t(spark, sf_dir)["embeddings"]
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = ivf_topk(emb, list(qvec), k=10, n_cells=8, nprobe=2)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


SQL_IVF_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
scored AS (
  SELECT e.vec_id, e.v, cent.cid,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product(cent.c, cent.c)) > 0
              THEN list_inner_product(e.v, cent.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(cent.c, cent.c)))
              ELSE 0.0 END AS sim
  FROM e CROSS JOIN cent
),
assign AS (
  SELECT vec_id, v, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid) AS rn
        FROM scored)
  WHERE rn = 1
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qcells AS (SELECT cid FROM scored WHERE vec_id = 0 ORDER BY sim DESC, cid LIMIT 2),
cand AS (SELECT a.vec_id, a.v FROM assign a
         WHERE a.cid IN (SELECT cid FROM qcells)),
fin AS (
  SELECT cand.vec_id,
         CASE WHEN sqrt(list_inner_product(cand.v, cand.v))
                   * sqrt(list_inner_product(q.qv, q.qv)) > 0
              THEN list_inner_product(cand.v, q.qv)
                   / (sqrt(list_inner_product(cand.v, cand.v))
                      * sqrt(list_inner_product(q.qv, q.qv)))
              ELSE 0.0 END AS cosine
  FROM cand, q)
SELECT vec_id, round(cosine, 6) AS cosine_r
FROM fin ORDER BY cosine DESC, vec_id LIMIT 10
"""


def q_semdedup_embeddings(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): centroid-cell clustering + within-cell
    cosine pruning — a vector is a semantic duplicate when a lower-id
    cell-mate is >= tau cosine-similar.  The quadratic term is confined to a
    cell (one shuffle on cell); n_cells scales with the corpus the way
    production SemDeDup scales its k-means k."""
    from .text.similarity import semdedup

    emb = _t(spark, sf_dir)["embeddings"]
    out = semdedup(emb, n_cells=8, tau=0.3)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
        F.col("dup_of").cast("long").alias("dup_of"),
        F.col("max_cos_r").cast("double").alias("max_cos_r"),
    )


SQL_SEMDEDUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
scored AS (
  SELECT e.vec_id, e.v, cent.cid,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product(cent.c, cent.c)) > 0
              THEN list_inner_product(e.v, cent.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(cent.c, cent.c)))
              ELSE 0.0 END AS sim
  FROM e CROSS JOIN cent
),
assign AS (
  SELECT vec_id, v, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid) AS rn
        FROM scored)
  WHERE rn = 1
),
pairs AS (
  SELECT x.vec_id AS ida, y.vec_id AS idb,
         CASE WHEN sqrt(list_inner_product(x.v, x.v))
                   * sqrt(list_inner_product(y.v, y.v)) > 0
              THEN list_inner_product(x.v, y.v)
                   / (sqrt(list_inner_product(x.v, x.v))
                      * sqrt(list_inner_product(y.v, y.v)))
              ELSE 0.0 END AS cos
  FROM assign x JOIN assign y ON x.cid = y.cid AND x.vec_id < y.vec_id
),
dup AS (SELECT idb, MIN(ida) AS dup_of, round(MAX(cos), 6) AS max_cos_r
        FROM pairs WHERE cos >= 0.3 GROUP BY idb)
SELECT a.vec_id AS vec_id, CAST(a.cid AS INTEGER) AS cell,
       CAST(dup.dup_of AS BIGINT) AS dup_of,
       CAST(dup.max_cos_r AS DOUBLE) AS max_cos_r
FROM assign a LEFT JOIN dup ON dup.idb = a.vec_id
"""


# ---------------------------------------------------------------------------
# Driver-window suites.
#
# The driver records verdicts for at most 50 ``queries()`` entries, so
# same-family queries are packaged as one tagged suite each.  A suite is one
# row of ``_SUITES`` (with the registry below): a list of ``(tag, entry)``
# arms over registered entries.  Both sides are generated from that row —
# the Spark side unions the arms' frames by column name, the oracle side
# unions the arms' oracle SQL with DuckDB's ``UNION ALL BY NAME`` — so a
# suite's columns are the union of its arms' own columns (NULL where an arm
# lacks one) and its value hash sees every value the arms emit.  An arm's
# output ``component`` is its tag, or ``tag || component`` when the entry
# emits its own ``component`` column.  Entries made of tagged parts that
# share an intermediate (``funnel_events``, ``crawl_ingest_docs``, ...) build
# their Spark side with the same :func:`_suite_frame`.
# ---------------------------------------------------------------------------


def _suite_frame(suite: str, arms: list[tuple[str, DataFrame]]) -> DataFrame:
    """Tag each arm frame and union them by column name.

    Integer columns of different widths under one name are widened (both
    engines do this); any other type clash raises instead of being cast."""
    seen = {}
    out = None
    for tag, df in arms:
        for f in df.schema.fields:
            if f.name == "component":
                continue
            first_tag, t0 = seen.setdefault(f.name, (tag, f.dataType))
            t1 = f.dataType
            integral = isinstance(t0, T.IntegralType) and isinstance(
                t1, T.IntegralType
            )
            if t0.simpleString() != t1.simpleString() and not integral:
                raise TypeError(
                    f"suite {suite}: column {f.name!r} is "
                    f"{t0.simpleString()} in arm {first_tag!r} but "
                    f"{t1.simpleString()} in arm {tag!r}"
                )
        comp = F.lit(tag)
        if "component" in df.columns:
            comp = F.concat(comp, F.coalesce(F.col("component"), F.lit("")))
        df = df.select(
            comp.alias("component"),
            *[c for c in df.columns if c != "component"],
        )
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    return out


def _suite_sql(arms: list[tuple[str, str]]) -> str:
    """The DuckDB twin of :func:`_suite_frame` over the arms' oracle SQL.

    Each arm is unioned by name onto an empty ``component`` relation first,
    so one expression applies the tag rule whether or not the arm emits its
    own ``component``."""
    return "UNION ALL BY NAME".join(
        f"""
SELECT * REPLACE ('{tag}' || COALESCE(component, '') AS component)
FROM (SELECT CAST(NULL AS VARCHAR) AS component WHERE false
      UNION ALL BY NAME SELECT * FROM ({sql}) _a)
"""
        for tag, sql in arms
    )


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


_NULL_BIGINT = "CAST(NULL AS BIGINT)"
_NULL_INT = "CAST(NULL AS INTEGER)"
_NULL_DOUBLE = "CAST(NULL AS DOUBLE)"
_NULL_STR = "CAST(NULL AS VARCHAR)"
_NULL_TS = "CAST(NULL AS TIMESTAMP)"


def _nul(t: str):
    return F.lit(None).cast(t)


# --- quality_validation_report: quality_report (V1-V4 counts, unpivoted to
# long form) + validation_rollup (V1 V3 report rollup) --------------------

def q_iqr_outlier_docs(spark, sf_dir):
    """Per-language Tukey-fence length-outlier counts over documents — the
    distribution-drift QA check of a corpus pipeline (two-pass: tiny
    percentile agg + broadcast bounds, map-side test)."""
    from .operators.quality import iqr_outliers

    docs = _t(spark, sf_dir)["documents"]
    out = iqr_outliers(docs, "n_chars", ["lang"], k=1.5)
    return out.select(
        "lang",
        "n_rows",
        "n_outliers",
        F.round(F.col("p25"), 6).cast("double").alias("p25"),
        F.round(F.col("p75"), 6).cast("double").alias("p75"),
    )


SQL_IQR_OUTLIERS = """
WITH s AS (SELECT lang, quantile_cont(n_chars, 0.25) AS p25,
                  quantile_cont(n_chars, 0.75) AS p75
           FROM documents GROUP BY lang)
SELECT d.lang, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN d.n_chars < s.p25 - 1.5 * (s.p75 - s.p25)
                       OR d.n_chars > s.p75 + 1.5 * (s.p75 - s.p25)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(round(s.p25, 6) AS DOUBLE) AS p25,
       CAST(round(s.p75, 6) AS DOUBLE) AS p75
FROM documents d JOIN s USING (lang)
GROUP BY d.lang, s.p25, s.p75
"""


def q_mad_outlier_docs(spark, sf_dir):
    """Per-language MAD outlier counts over document lengths — the robust
    twin of `iqr_outlier_docs` (50% breakdown point; survives groups whose
    tail is the contamination)."""
    from .operators.quality import mad_outliers

    docs = _t(spark, sf_dir)["documents"]
    out = mad_outliers(docs, "n_chars", ["lang"], k=3.0)
    return out.select(
        "lang",
        "n_rows",
        "n_outliers",
        F.round(F.col("med"), 6).cast("double").alias("med"),
        F.round(F.col("mad"), 6).cast("double").alias("mad"),
    )


SQL_MAD_OUTLIERS = """
WITH m AS (SELECT lang, median(n_chars) AS med FROM documents GROUP BY lang),
md AS (
  SELECT d.lang, median(abs(d.n_chars - m.med)) AS mad
  FROM documents d JOIN m USING (lang) GROUP BY d.lang)
SELECT d.lang, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN abs(d.n_chars - m.med) > 3.0 * md.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(round(m.med, 6) AS DOUBLE) AS med,
       CAST(round(md.mad, 6) AS DOUBLE) AS mad
FROM documents d JOIN m USING (lang) JOIN md USING (lang)
GROUP BY d.lang, m.med, md.mad
"""


def q_cube_orders(spark, sf_dir):
    """Full-cube aggregation over (priority, status): all 4 grains in one
    shuffle, decimal-exact sums re-rendered as round-6 doubles at the
    output boundary."""
    from .operators import cube_aggregate

    o = _t(spark, sf_dir)["orders"]
    out = cube_aggregate(
        o,
        ["o_orderpriority", "o_orderstatus"],
        {
            "n_orders": F.count(F.lit(1)).cast("long"),
            "total": F.sum(F.col("o_totalprice").cast(_D182)).cast(_D182),
        },
    )
    return out.select(
        "o_orderpriority",
        "o_orderstatus",
        "grouping_level",
        "n_orders",
        F.round(F.col("total"), 6).cast("double").alias("total"),
    )


SQL_CUBE_ORDERS = """
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER)
         AS grouping_level,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18, 2))), 6) AS DOUBLE)
         AS total
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_quality_validation_report(spark, sf_dir):
    qr = q_quality_report(spark, sf_dir)
    q_rows = qr.select(
        F.expr(
            "stack(5, 'null_custkey', null_custkey, 'dup_cust_days', dup_cust_days, "
            "'orphan_lineitems', orphan_lineitems, 'bad_status', bad_status, "
            "'high_discount', high_discount) as (check_name, value_a)"
        )
    ).select(
        F.lit("quality_report").alias("model"),
        F.col("check_name").cast("string").alias("check_name"),
        F.lit("info").alias("status"),
        F.col("value_a").cast("long").alias("value_a"),
        _nul("long").alias("value_b"),
    )
    vr = q_validation_rollup(spark, sf_dir).select(
        F.col("model").cast("string"),
        F.col("check_name").cast("string"),
        F.col("status").cast("string"),
        F.col("value_a").cast("long"),
        F.col("value_b").cast("long"),
    )
    iq = q_iqr_outlier_docs(spark, sf_dir).select(
        F.lit("documents").alias("model"),
        F.concat(F.lit("iqr_nchars:"), F.col("lang")).alias("check_name"),
        F.lit("info").alias("status"),
        F.col("n_outliers").cast("long").alias("value_a"),
        F.col("n_rows").cast("long").alias("value_b"),
    )
    mad = q_mad_outlier_docs(spark, sf_dir).select(
        F.lit("documents").alias("model"),
        F.concat(F.lit("mad_nchars:"), F.col("lang")).alias("check_name"),
        F.lit("info").alias("status"),
        F.col("n_outliers").cast("long").alias("value_a"),
        F.col("n_rows").cast("long").alias("value_b"),
    )
    return _union_all([q_rows, vr, iq, mad])


SQL_QUALITY_VALIDATION = f"""
WITH q AS ({SQL_QUALITY})
SELECT 'quality_report' AS model, 'null_custkey' AS check_name, 'info' AS status,
       CAST(null_custkey AS BIGINT) AS value_a, {_NULL_BIGINT} AS value_b FROM q
UNION ALL SELECT 'quality_report', 'dup_cust_days', 'info',
       CAST(dup_cust_days AS BIGINT), {_NULL_BIGINT} FROM q
UNION ALL SELECT 'quality_report', 'orphan_lineitems', 'info',
       CAST(orphan_lineitems AS BIGINT), {_NULL_BIGINT} FROM q
UNION ALL SELECT 'quality_report', 'bad_status', 'info',
       CAST(bad_status AS BIGINT), {_NULL_BIGINT} FROM q
UNION ALL SELECT 'quality_report', 'high_discount', 'info',
       CAST(high_discount AS BIGINT), {_NULL_BIGINT} FROM q
UNION ALL
SELECT CAST(model AS VARCHAR), CAST(check_name AS VARCHAR), CAST(status AS VARCHAR),
       CAST(value_a AS BIGINT), CAST(value_b AS BIGINT)
FROM ({SQL_VALIDATION_ROLLUP}) _v
UNION ALL
SELECT 'documents', 'iqr_nchars:' || lang, 'info',
       CAST(n_outliers AS BIGINT), CAST(n_rows AS BIGINT)
FROM ({SQL_IQR_OUTLIERS}) _i
UNION ALL
SELECT 'documents', 'mad_nchars:' || lang, 'info',
       CAST(n_outliers AS BIGINT), CAST(n_rows AS BIGINT)
FROM ({SQL_MAD_OUTLIERS}) _m
"""


# --- ci_collation_customers: SQL Server default-collation (CI) joins -------

def q_ci_collation_customers(spark, sf_dir):
    """r11 (r10 VERDICT #3): case-insensitive collation string-key joins —
    SQL Server's default ``SQL_Latin1_General_CP1_CI_AS`` means the
    reference's lookups and staging joins match keys regardless of case
    (stg_crm__customers.sql:37-67, CustomerDataLoad.dtsx:122-129).  The
    fixture derives a MIXED-case segment key per customer (as-is / lower /
    Titlecase by c_custkey % 3) and joins it back to the original-case
    dimension: 'lookup' = the CI lookup's match output (case of the fact
    key preserved), 'cs_miss' = the migration delta a case-sensitive join
    silently drops, 'semi' = CI semi-join survivors (everyone)."""
    from .operators.joins import anti_join, semi_join
    from .operators.lookup import lookup

    cust = _t(spark, sf_dir)["customer"]
    mixed = (
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.lower(F.col("c_mktsegment")))
        .otherwise(
            F.concat(
                F.upper(F.substring("c_mktsegment", 1, 1)),
                F.lower(F.expr("substring(c_mktsegment, 2)")),
            )
        )
    )
    fact = cust.select("c_custkey", mixed.alias("segment"))
    dim = (
        cust.select(F.col("c_mktsegment").alias("segment"))
        .distinct()
        .withColumn("seg_code", F.substring("segment", 1, 3))
    )
    lk = lookup(
        fact, dim, on=["segment"], select={"seg_code": "seg_code"}, ci=True
    ).select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("segment").cast("string").alias("s1"),
        F.col("seg_code").cast("string").alias("s2"),
    )
    cs_miss = anti_join(fact, dim.select("segment"), on=["segment"]).select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("segment").cast("string").alias("s1"),
    )
    ci_semi = semi_join(
        fact, dim.select("segment"), on=["segment"], ci=True
    ).select(
        F.col("c_custkey").cast("long").alias("k"),
        F.col("segment").cast("string").alias("s1"),
    )
    return _suite_frame("ci_collation_customers", [
        ("lookup", lk), ("cs_miss", cs_miss), ("semi", ci_semi),
    ])


SQL_CI_COLLATION = """
WITH f AS (
  SELECT c_custkey,
         CASE CAST(c_custkey % 3 AS INTEGER)
           WHEN 0 THEN c_mktsegment
           WHEN 1 THEN lower(c_mktsegment)
           ELSE upper(substr(c_mktsegment, 1, 1))
                || lower(substr(c_mktsegment, 2))
         END AS segment
  FROM customer),
d AS (SELECT DISTINCT c_mktsegment AS dseg FROM customer)
SELECT 'lookup' AS component, CAST(f.c_custkey AS BIGINT) AS k,
       CAST(f.segment AS VARCHAR) AS s1,
       CAST(substr(d.dseg, 1, 3) AS VARCHAR) AS s2
FROM f JOIN d ON lower(f.segment) = lower(d.dseg)
UNION ALL
SELECT 'cs_miss', CAST(c_custkey AS BIGINT), CAST(segment AS VARCHAR),
       CAST(NULL AS VARCHAR)
FROM f WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.dseg = f.segment)
UNION ALL
SELECT 'semi', CAST(c_custkey AS BIGINT), CAST(segment AS VARCHAR),
       CAST(NULL AS VARCHAR)
FROM f WHERE EXISTS (SELECT 1 FROM d WHERE lower(d.dseg) = lower(f.segment))
"""


# --- ci_group_customers: CI collation beyond joins (r12, r11 VERDICT #4) ----

def q_ci_group_customers(spark, sf_dir):
    """r12 (r11 VERDICT #4): SQL Server default-collation semantics for
    GROUP BY / DISTINCT / duplicate detection / ORDER BY on string keys
    — the reference groups and sorts on string columns
    (dim_customer.sql, stg_crm__customers.sql), and a mixed-case
    migration otherwise produces MORE groups, HIGHER distinct counts,
    MISSED duplicates, and a DIFFERENT sort order than the source
    server.  Same mixed-case fixture as `ci_collation_customers`
    (as-is / lower / Titlecase by c_custkey % 3):

    - 'group': ci grouped_aggregate on segment — one group per folded
      key, MIN-case representative, count + exact decimal balance sum
    - 'distinct': ci distinct_values — folded cardinality
    - 'dup': ci duplicate_keys — case-variant keys COUNT as duplicates
    - 'sort_top': ci sort + limit 10 — the selected head depends on the
      folded order (CS order would pick only uppercase-segment rows)"""
    from .operators.aggregate import duplicate_keys, grouped_aggregate
    from .operators.setops import distinct_values, sort

    cust = _t(spark, sf_dir)["customer"]
    mixed = (
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.lower(F.col("c_mktsegment")))
        .otherwise(
            F.concat(
                F.upper(F.substring("c_mktsegment", 1, 1)),
                F.lower(F.expr("substring(c_mktsegment, 2)")),
            )
        )
    )
    f = cust.select(
        "c_custkey", mixed.alias("segment"), F.col("c_acctbal")
    )
    g = grouped_aggregate(
        f,
        ["segment"],
        {
            "n1": F.count(F.lit(1)),
            "v1": F.round(F.sum(F.col("c_acctbal").cast(_D182)), 2)
            .cast("double"),
        },
        ci=True,
    ).select(
        F.col("segment").cast("string").alias("s1"),
        F.col("n1").cast("long").alias("n1"),
        F.col("v1"),
    )
    d = distinct_values(f, ["segment"], ci=True).select(
        F.col("segment").cast("string").alias("s1"),
    )
    dup = duplicate_keys(f.select("segment"), ["segment"], ci=True).select(
        F.col("segment").cast("string").alias("s1"),
        F.col("dup_count").cast("long").alias("n1"),
    )
    st = (
        sort(f, ["segment", "c_custkey"], ci=True)
        .limit(10)
        .select(
            F.col("segment").cast("string").alias("s1"),
            F.col("c_custkey").cast("long").alias("n1"),
        )
    )
    return _suite_frame("ci_group_customers", [
        ("group", g), ("distinct", d), ("dup", dup), ("sort_top", st),
    ])


_SQL_CI_MIXED = """
  SELECT c_custkey,
         CASE CAST(c_custkey % 3 AS INTEGER)
           WHEN 0 THEN c_mktsegment
           WHEN 1 THEN lower(c_mktsegment)
           ELSE upper(substr(c_mktsegment, 1, 1))
                || lower(substr(c_mktsegment, 2))
         END AS segment,
         c_acctbal
  FROM customer
"""

SQL_CI_GROUP = f"""
WITH f AS ({_SQL_CI_MIXED})
SELECT 'group' AS component, CAST(MIN(segment) AS VARCHAR) AS s1,
       CAST(COUNT(*) AS BIGINT) AS n1,
       CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS v1
FROM f GROUP BY lower(segment)
UNION ALL
SELECT 'distinct', CAST(MIN(segment) AS VARCHAR), {_NULL_BIGINT},
       {_NULL_DOUBLE}
FROM f GROUP BY lower(segment)
UNION ALL
SELECT 'dup', CAST(MIN(segment) AS VARCHAR), CAST(COUNT(*) AS BIGINT),
       {_NULL_DOUBLE}
FROM f GROUP BY lower(segment) HAVING COUNT(*) > 1
UNION ALL
SELECT 'sort_top', CAST(segment AS VARCHAR), CAST(c_custkey AS BIGINT),
       {_NULL_DOUBLE}
FROM (SELECT segment, c_custkey FROM f
      ORDER BY lower(segment), segment, c_custkey LIMIT 10) _st
"""


# --- ci_filter_customers: CI collation on string-equality PREDICATES --------

def q_ci_filter_customers(spark, sf_dir):
    """r13 (r12 VERDICT #1): CI-collation string-equality FILTERS — the
    last collation surface after joins (r11) and grouping/sorting (r12).
    On a CI server ``WHERE Status = 'Success'`` matches ``'SUCCESS'``
    (InventorySync.dtsx:60-62,118), so a migrated package filtering on
    one case silently drops the rest.  Same mixed-case fixture as the
    other CI entries; four components drive BOTH fold paths:

    - 'where_eq' / 'where_in': embedded T-SQL through
      :func:`~ssis_to_dbt_spark.dtsx.rewrite_tsql` with ``ci=True`` —
      the literal fold rewrites to ``LOWER(col) = 'lowered'`` and runs
      via ``spark.sql`` (filters still reach the scan as pushable
      predicates over a deterministic projection).
    - 'expr_eq' / 'expr_ne': the SSIS expression compiler with
      ``ci=True`` — the ConditionalSplit/DerivedColumn predicate shape
      (``[segment] == "building"``), compiled to a folded Column.

    100 TB: every component is a map-only filter over one scan — the
    fold wraps the column in ``lower()`` which keeps the predicate a
    per-row expression (no shuffle, no UDF); a deployment can persist a
    folded generated column + bucketing if the CI filter is the hot
    access path."""
    from pyspark.sql import types as _T

    from .dtsx import rewrite_tsql
    from .expressions import compile_ssis_expression

    cust = _t(spark, sf_dir)["customer"]
    mixed = (
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.lower(F.col("c_mktsegment")))
        .otherwise(
            F.concat(
                F.upper(F.substring("c_mktsegment", 1, 1)),
                F.lower(F.expr("substring(c_mktsegment, 2)")),
            )
        )
    )
    f = cust.select("c_custkey", mixed.alias("segment"))
    f.createOrReplaceTempView("ci_filter_customers_src")

    def shaped(df, tag):
        return tag, df.select(
            F.col("c_custkey").cast("long").alias("k"),
            F.col("segment").cast("string").alias("s1"),
        )

    we = shaped(
        spark.sql(rewrite_tsql(
            "SELECT c_custkey, segment FROM src.C "
            "WHERE segment = 'building'",
            {"src.C": "ci_filter_customers_src"}, ci=True,
        )),
        "where_eq",
    )
    wi = shaped(
        spark.sql(rewrite_tsql(
            "SELECT c_custkey, segment FROM src.C "
            "WHERE segment IN ('Building', 'MACHINERY')",
            {"src.C": "ci_filter_customers_src"}, ci=True,
        )),
        "where_in",
    )
    wl = shaped(
        spark.sql(rewrite_tsql(
            "SELECT c_custkey, segment FROM src.C "
            "WHERE segment LIKE 'Build%'",
            {"src.C": "ci_filter_customers_src"}, ci=True,
        )),
        "where_like",
    )
    cols = {"segment": _T.StringType()}
    ee = shaped(
        f.filter(compile_ssis_expression(
            '[segment] == "BUILDING"', columns=cols, ci=True
        )),
        "expr_eq",
    )
    en = shaped(
        f.filter(compile_ssis_expression(
            '[segment] != "building"', columns=cols, ci=True
        )),
        "expr_ne",
    )
    return _suite_frame("ci_filter_customers", [we, wi, wl, ee, en])


SQL_CI_FILTER = """
WITH f AS (
  SELECT c_custkey,
         CASE CAST(c_custkey % 3 AS INTEGER)
           WHEN 0 THEN c_mktsegment
           WHEN 1 THEN lower(c_mktsegment)
           ELSE upper(substr(c_mktsegment, 1, 1))
                || lower(substr(c_mktsegment, 2))
         END AS segment
  FROM customer)
SELECT 'where_eq' AS component, CAST(c_custkey AS BIGINT) AS k,
       CAST(segment AS VARCHAR) AS s1
FROM f WHERE lower(segment) = 'building'
UNION ALL
SELECT 'where_in', CAST(c_custkey AS BIGINT), CAST(segment AS VARCHAR)
FROM f WHERE lower(segment) IN ('building', 'machinery')
UNION ALL
SELECT 'where_like', CAST(c_custkey AS BIGINT), CAST(segment AS VARCHAR)
FROM f WHERE lower(segment) LIKE 'build%'
UNION ALL
SELECT 'expr_eq', CAST(c_custkey AS BIGINT), CAST(segment AS VARCHAR)
FROM f WHERE lower(segment) = 'building'
UNION ALL
SELECT 'expr_ne', CAST(c_custkey AS BIGINT), CAST(segment AS VARCHAR)
FROM f WHERE lower(segment) <> 'building'
"""


# --- time_contract_events: the DT_DBTIME arithmetic contract, oracled -------

def q_time_contract_events(spark, sf_dir):
    """r11 (r10 VERDICT #5): the TIME (DT_DBTIME) value contract driven
    end-to-end on real data — each event's time-of-day renders to the
    canonical 'HH:MM:SS' string, parses back to exact µs-since-midnight,
    shifts by +90 s with midnight wrap, and diffs (signed) against noon.
    Every step is a built-in Column expression (schema.py helpers); the
    oracle recomputes all four from DuckDB's timestamp parts."""
    from .schema import (
        micros_to_time,
        time_add_seconds,
        time_diff_seconds,
        time_to_micros,
    )

    ev = _t(spark, sf_dir)["events"]
    t = F.date_format("ts", "HH:mm:ss")
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        t.alias("tod"),
        time_to_micros(t).alias("us"),
        time_add_seconds(t, 90).alias("plus90"),
        time_diff_seconds(t, F.lit("12:00:00")).alias("vs_noon_s"),
        micros_to_time(time_to_micros(t), scale=3).alias("tod_ms"),
    )


SQL_TIME_CONTRACT = """
WITH b AS (
  SELECT event_id,
         CAST(hour(ts) AS BIGINT) AS hh,
         CAST(minute(ts) AS BIGINT) AS mi,
         CAST(second(ts) AS BIGINT) AS ss
  FROM events),
m AS (
  SELECT event_id, hh, mi, ss,
         (hh * 3600 + mi * 60 + ss) * 1000000 AS us
  FROM b),
p AS (
  SELECT *,
         CAST(((us // 1000000 + 90) % 86400 + 86400) % 86400 AS BIGINT)
           AS p90s
  FROM m)
SELECT CAST(event_id AS BIGINT) AS event_id,
       lpad(CAST(hh AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(mi AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(ss AS VARCHAR), 2, '0') AS tod,
       CAST(us AS BIGINT) AS us,
       lpad(CAST(CAST(p90s // 3600 AS BIGINT) AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(CAST((p90s // 60) % 60 AS BIGINT) AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(CAST(p90s % 60 AS BIGINT) AS VARCHAR), 2, '0') AS plus90,
       CAST(us / 1000000.0 - 43200.0 AS DOUBLE) AS vs_noon_s,
       lpad(CAST(hh AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(mi AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(ss AS VARCHAR), 2, '0') || '.000' AS tod_ms
FROM p
"""


# --- bm25_search_docs: BM25 lexical top-k retrieval over the corpus ---------

_BM25_QUERIES = {
    "q_hash_join": ["hash", "join", "spark"],
    "q_scan_batch": ["vector", "scan", "slow", "batch"],
    "q_window_sort": ["window", "sort", "order"],
}


def q_bm25_search_docs(spark, sf_dir):
    """r11: BM25 top-10 per named query (Robertson k1=1.2, b=0.75,
    Lucene non-negative idf) over the documents corpus.  The literal
    query-term table broadcasts and prunes the token explode MAP-SIDE,
    so the only wide relation is |query-term hits|; per-term scores are
    round-6 micro-units (exact BIGINT sums); top-k is a per-query
    WindowGroupLimit.  The oracle mirrors the expression tree
    literal-for-literal (IEEE +,*,/ are engine-exact; only ln needs the
    quantization)."""
    from .text.retrieval import bm25_topk

    docs = _t(spark, sf_dir)["documents"]
    return bm25_topk(docs, _BM25_QUERIES, top_k=10)


_BM25_VALUES = ", ".join(
    f"('{q}', '{t}')"
    for q, terms in sorted(_BM25_QUERIES.items())
    for t in terms
)

SQL_BM25_SEARCH = rf"""
WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
dl AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
         END AS dl
  FROM documents),
sc AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks JOIN (SELECT DISTINCT term FROM q) USING (term)
  GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
per AS (
  SELECT doc_id, term,
         CAST(CAST(round(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5)
                    / (CAST(df_t AS DOUBLE) + 0.5))
           * (CAST(tf AS DOUBLE) * (1.2 + 1.0)
              / (CAST(tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * dl
                                 / (CAST(total_dl AS DOUBLE)
                                    / CAST(n_docs AS DOUBLE))))), 6)
           AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS u
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN sc),
pq AS (
  SELECT query_id, doc_id, COUNT(*) AS n_terms, SUM(u) AS score_units
  FROM per JOIN q USING (term)
  GROUP BY 1, 2)
SELECT query_id, doc_id, CAST(n_terms AS BIGINT) AS n_terms,
       CAST(score_units AS BIGINT) AS score_units, CAST(rn AS INTEGER) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score_units DESC, doc_id) AS rn
      FROM pq)
WHERE rn <= 10
"""


# --- bm25_index_probe: persisted BM25 postings index write/append/probe -----

def q_bm25_index_probe(spark, sf_dir):
    """r11: the persisted BM25 postings index driven end-to-end through
    DISK — write the base corpus (doc_id%7!=0) as term-bucketed postings
    + doclen + additive stats tables, APPEND the delta (doc_id%7==0),
    probe the same three queries as `bm25_search_docs`.  Because append
    extends postings per-doc, advances stats additively, and df_t
    derives from the postings at probe time, the two-step build is
    value-equal to indexing the union — so the oracle is the IN-MEMORY
    operator's SQL verbatim (SQL_BM25_SEARCH).  The probe's term
    IN-filter bucket-prunes the postings scan (SelectedBucketsCount,
    plan-pinned)."""
    import os as _os

    from .text.retrieval import (
        append_bm25_index,
        bm25_index_probe,
        write_bm25_index,
    )

    docs = _t(spark, sf_dir)["documents"]
    base = docs.filter(F.col("doc_id") % 7 != 0)
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    path = _rt_tmpdir("bm25_index")
    prefix = "bm25idx_" + _os.path.basename(path).rsplit("_", 1)[-1]
    try:
        write_bm25_index(base, prefix, f"{path}/t")
        idx = append_bm25_index(spark, prefix, delta)
        # materialize the probe under the run's tmpdir so the three
        # catalog tables can be dropped — without the drop every
        # bench/correctness invocation leaks a fresh
        # bm25idx_<suffix>_{postings,doclen,stats} triple into the
        # metastore (r11 ADVICE)
        bm25_index_probe(idx, _BM25_QUERIES, top_k=10).write.mode(
            "overwrite"
        ).parquet(f"{path}/probe_out")
    finally:
        for t in ("postings", "doclen", "stats", "stopterms"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    return spark.read.parquet(f"{path}/probe_out")


# --- ivf_index_probe: persisted IVF-ANN index write/append/batch-probe ------

def q_ivf_index_probe(spark, sf_dir):
    """r11: the persisted IVF index driven end-to-end through DISK —
    write the base corpus (vec_id%7!=0) partitioned by cell, APPEND the
    delta (vec_id%7==0) under the stored centroids, then batch-probe 10
    queries (vec_id%50==0) with nprobe=2, k=5.  Because append assigns
    under the SAME stored centroids, the two-step build is value-equal
    to assigning the union in one pass — which is exactly what the
    oracle computes.  The probe's cell IN-filter partition-prunes the
    on-disk layout (plan-pinned in test_plans.py)."""
    from .text.similarity import (
        append_ivf_index,
        ivf_probe_batch,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir)["embeddings"]
    base = emb.filter(F.col("vec_id") % 7 != 0)
    delta = emb.filter(F.col("vec_id") % 7 == 0)
    path = _rt_tmpdir("ivf_index")
    idx0 = write_ivf_index(base, path, n_cells=8)
    idx = append_ivf_index(spark, path, delta, index=idx0)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_probe_batch(idx, queries, k=5, nprobe=2).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cosine_r",
        "rn",
    )


SQL_IVF_INDEX_PROBE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
base AS (SELECT * FROM e WHERE vec_id % 7 <> 0),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 8)
),
sim_all AS (
  SELECT e.vec_id, e.v, cent.cid,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product(cent.c, cent.c)) > 0
              THEN list_inner_product(e.v, cent.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(cent.c, cent.c)))
              ELSE 0.0 END AS sim
  FROM e CROSS JOIN cent
),
assign AS (
  SELECT vec_id, v, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid) AS rn
        FROM sim_all)
  WHERE rn = 1
),
routed AS (
  SELECT vec_id AS query_id, v AS qv, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid) AS rn
        FROM sim_all WHERE vec_id % 50 = 0)
  WHERE rn <= 2
),
fin AS (
  SELECT r.query_id, a.vec_id,
         round(CASE WHEN sqrt(list_inner_product(a.v, a.v))
                         * sqrt(list_inner_product(r.qv, r.qv)) > 0
                    THEN list_inner_product(a.v, r.qv)
                         / (sqrt(list_inner_product(a.v, a.v))
                            * sqrt(list_inner_product(r.qv, r.qv)))
                    ELSE 0.0 END, 6) AS cosine_r
  FROM assign a JOIN routed r ON a.cid = r.cid
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cosine_r, CAST(rn AS INTEGER) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_r DESC, vec_id) AS rn
      FROM fin)
WHERE rn <= 5
"""


# --- ivf_recall_audit: recall@k per nprobe — the audit->recall->recluster
# loop's quality dial (r13, r12 VERDICT #7) ----------------------------------

def q_ivf_recall_audit(spark, sf_dir):
    """r13 (r12 VERDICT #7): :func:`ivf_recall_at_k` driven through a
    persisted full-corpus IVF index — for nprobe in (1, 2, 8) probe the
    vec_id%50==0 query sample at k=5 and count, per query, how many of
    the exact top-5 (nprobe = n_cells = 8, pruning off) the pruned probe
    recovered.  Exact integers; the oracle replays routing, pruned
    probes, and hit counts for all three nprobe arms from the same
    centroid construction.  The nprobe=8 arm doubles as the sanity
    bound: n_hits = k for every query."""
    from .text.similarity import ivf_recall_at_k, write_ivf_index

    emb = _t(spark, sf_dir)["embeddings"]
    path = _rt_tmpdir("ivf_recall")
    idx = write_ivf_index(emb, path, n_cells=8)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_recall_at_k(idx, queries, k=5, nprobes=(1, 2, 8)).select(
        F.col("nprobe").cast("int").alias("nprobe"),
        F.col("query_id").cast("long").alias("query_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("k").cast("int").alias("k"),
    )


SQL_IVF_RECALL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
sim_all AS (
  SELECT e.vec_id, e.v, cent.cid,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product(cent.c, cent.c)) > 0
              THEN list_inner_product(e.v, cent.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(cent.c, cent.c)))
              ELSE 0.0 END AS sim
  FROM e CROSS JOIN cent
),
assign AS (
  SELECT vec_id, v, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid) AS rn
        FROM sim_all)
  WHERE rn = 1
),
routed AS (
  SELECT vec_id AS query_id, v AS qv, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cid) AS crn
  FROM sim_all WHERE vec_id % 50 = 0
),
np AS (SELECT nprobe FROM (VALUES (1), (2), (8)) t(nprobe)),
probed AS (
  SELECT np.nprobe, r.query_id, a.vec_id,
         round(CASE WHEN sqrt(list_inner_product(a.v, a.v))
                         * sqrt(list_inner_product(r.qv, r.qv)) > 0
                    THEN list_inner_product(a.v, r.qv)
                         / (sqrt(list_inner_product(a.v, a.v))
                            * sqrt(list_inner_product(r.qv, r.qv)))
                    ELSE 0.0 END, 6) AS cosine_r
  FROM np
  JOIN routed r ON r.crn <= np.nprobe
  JOIN assign a ON a.cid = r.cid
),
topk AS (
  SELECT nprobe, query_id, vec_id
  FROM (SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                                     ORDER BY cosine_r DESC, vec_id) AS rn
        FROM probed)
  WHERE rn <= 5
),
hits AS (
  SELECT t.nprobe, t.query_id, COUNT(*) AS n_hits
  FROM topk t
  JOIN (SELECT query_id, vec_id FROM topk WHERE nprobe = 8) x
    ON t.query_id = x.query_id AND t.vec_id = x.vec_id
  GROUP BY 1, 2
)
SELECT CAST(np.nprobe AS INTEGER) AS nprobe,
       CAST(q.query_id AS BIGINT) AS query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(5 AS INTEGER) AS k
FROM np
CROSS JOIN (SELECT DISTINCT vec_id AS query_id FROM e
            WHERE vec_id % 50 = 0) q
LEFT JOIN hits h ON h.nprobe = np.nprobe AND h.query_id = q.query_id
"""


# --- shuffle_shards_docs: deterministic global shuffle into train shards ----

def q_shuffle_shards_docs(spark, sf_dir):
    """r11: the last pipeline step before training — every document gets
    a stable (shard, pos) from md5(seed|doc_id): pseudorandom order,
    reproducible from the seed alone, re-shufflable by changing the
    seed.  NO global sort: one exchange on the shard key + per-shard
    sort (each sort bounded at corpus/n_shards)."""
    from .operators.sampling import shuffle_shards

    docs = _t(spark, sf_dir)["documents"]
    return shuffle_shards(docs, "doc_id", n_shards=8, seed="r11").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard").cast("int").alias("shard"),
        F.col("pos").cast("int").alias("pos"),
    )


SQL_SHUFFLE_SHARDS = """
WITH h AS (
  SELECT doc_id, md5('r11|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents),
s AS (
  SELECT doc_id, hh,
         CAST(CAST('0x' || substr(hh, 1, 4) AS BIGINT) % 8 AS INTEGER)
           AS shard
  FROM h)
SELECT CAST(doc_id AS BIGINT) AS doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
            AS INTEGER) AS pos
FROM s
"""


# --- semantic_decontam_embeddings: cross-set 1-NN vs the eval split ---------

def q_semantic_decontam_embeddings(spark, sf_dir):
    """r11: semantic decontamination — for every training vector
    (vec_id%50!=0), its single nearest EVAL vector (vec_id%50==0) by
    cosine, flagged at threshold 0.5.  The embedding analog of the
    n-gram `decontam_docs` check: n-gram overlap misses paraphrases; a
    high-cosine eval neighbor catches them.  The eval side broadcasts
    (model-sized); the corpus side is map-only through the
    BroadcastNestedLoopJoin; k=1 rows per item cross the argmax
    exchange (WindowGroupLimit)."""
    from .text.similarity import nearest_reference

    emb = _t(spark, sf_dir)["embeddings"]
    train = emb.filter(F.col("vec_id") % 50 != 0)
    ev = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("ref_id"), "embedding"
    )
    return nearest_reference(train, ev, threshold=0.5).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("ref_id").cast("long").alias("ref_id"),
        "cosine_r",
        "contaminated",
    )


def q_semantic_decontam_ivf(spark, sf_dir):
    """r12 (r11 VERDICT #5): the CORPUS-SCALE decontamination path — the
    same train-vs-eval 1-NN as `semantic_decontam_embeddings`, but the
    EVAL set is persisted as an IVF index and the training corpus probes
    it through a cell-keyed shuffle join: NO broadcast of either side
    (nearest_reference's broadcast caps the eval set at model size; this
    path has no such cap).  nprobe = n_cells here, so the result is
    EXACTLY the broadcast path's — the oracle is SQL_SEMANTIC_DECONTAM
    verbatim.  At deployment nprobe < n_cells bounds per-item work at
    nprobe/n_cells of the eval set (the usual IVF recall trade); the
    assign scan partition-prunes to the probed cells (plan-pinned in
    test_plans)."""
    from .text.similarity import semantic_decontam_indexed, write_ivf_index

    emb = _t(spark, sf_dir)["embeddings"]
    train = emb.filter(F.col("vec_id") % 50 != 0)
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    base = _rt_tmpdir("sdivf")
    write_ivf_index(ev, f"{base}/index", n_cells=8)
    return semantic_decontam_indexed(
        train, f"{base}/index", threshold=0.5, nprobe=8
    ).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("ref_id").cast("long").alias("ref_id"),
        "cosine_r",
        "contaminated",
    )


SQL_SEMANTIC_DECONTAM = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
tr AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
ev AS (SELECT vec_id AS ref_id, v AS rv FROM e WHERE vec_id % 50 = 0),
sc AS (
  SELECT tr.vec_id, ev.ref_id,
         round(CASE WHEN sqrt(list_inner_product(tr.v, tr.v))
                         * sqrt(list_inner_product(ev.rv, ev.rv)) > 0
                    THEN list_inner_product(tr.v, ev.rv)
                         / (sqrt(list_inner_product(tr.v, tr.v))
                            * sqrt(list_inner_product(ev.rv, ev.rv)))
                    ELSE 0.0 END, 6) AS cosine_r
  FROM tr CROSS JOIN ev)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(ref_id AS BIGINT) AS ref_id,
       cosine_r, CAST(cosine_r >= 0.5 AS INTEGER) AS contaminated
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine_r DESC, ref_id) AS rn
      FROM sc)
WHERE rn = 1
"""


# --- streaming_ivf_probe: query micro-batches vs the persisted IVF index ----

def q_streaming_ivf_probe(spark, sf_dir):
    """r11: the STREAMING ANN path driven end-to-end — persist the IVF
    index over the full corpus, stage the query batch as files, run a
    real checkpointed availableNow stream through
    ``write_stream_ivf_probe`` (each micro-batch partition-prunes the
    index to its probed cells and lands under batch_id=N), and read the
    sink back.  Query results are per-query, so the union over
    micro-batches equals the one-shot batch probe — which is what the
    oracle computes (full-corpus centroids, nprobe=2, k=5)."""
    from .streaming import write_stream_ivf_probe
    from .text.similarity import write_ivf_index

    emb = _t(spark, sf_dir)["embeddings"]
    base = _rt_tmpdir("sivf")
    write_ivf_index(emb, f"{base}/index", n_cells=8)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    src = f"{base}/queries"
    # two staged files -> two micro-batches under maxFilesPerTrigger=1;
    # outputs are per-query, so batch membership cannot affect values
    queries.filter(F.col("query_id") % 100 == 0).repartition(1).write.mode(
        "append"
    ).parquet(src)
    queries.filter(F.col("query_id") % 100 != 0).repartition(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("query_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = write_stream_ivf_probe(
        stream, f"{base}/index", f"{base}/out", f"{base}/ckpt",
        k=5, nprobe=2,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("streaming_ivf_probe: stream did not drain in 600s")
    return spark.read.parquet(f"{base}/out").select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cosine_r",
        "rn",
    )


SQL_STREAMING_IVF = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
sim_all AS (
  SELECT e.vec_id, e.v, cent.cid,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product(cent.c, cent.c)) > 0
              THEN list_inner_product(e.v, cent.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(cent.c, cent.c)))
              ELSE 0.0 END AS sim
  FROM e CROSS JOIN cent
),
assign AS (
  SELECT vec_id, v, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid) AS rn
        FROM sim_all)
  WHERE rn = 1
),
routed AS (
  SELECT vec_id AS query_id, v AS qv, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid) AS rn
        FROM sim_all WHERE vec_id % 50 = 0)
  WHERE rn <= 2
),
fin AS (
  SELECT r.query_id, a.vec_id,
         round(CASE WHEN sqrt(list_inner_product(a.v, a.v))
                         * sqrt(list_inner_product(r.qv, r.qv)) > 0
                    THEN list_inner_product(a.v, r.qv)
                         / (sqrt(list_inner_product(a.v, a.v))
                            * sqrt(list_inner_product(r.qv, r.qv)))
                    ELSE 0.0 END, 6) AS cosine_r
  FROM assign a JOIN routed r ON a.cid = r.cid
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cosine_r, CAST(rn AS INTEGER) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_r DESC, vec_id) AS rn
      FROM fin)
WHERE rn <= 5
"""


# --- streaming_bm25_probe: query micro-batches vs the persisted postings ----

def q_streaming_bm25_probe(spark, sf_dir):
    """r12: the STREAMING lexical-search path driven end-to-end — persist
    the BM25 postings index over the full corpus, stage the three named
    queries as per-query files (a query's terms never split across
    micro-batches), run a real checkpointed availableNow stream through
    ``write_stream_bm25_probe`` (each micro-batch bucket-prunes the
    postings to its terms and lands under batch_id=N), read the sink
    back.  Results are per-query, so the union over micro-batches equals
    the one-shot probe — the oracle is the in-memory operator's SQL
    verbatim (SQL_BM25_SEARCH)."""
    import os as _os

    from .streaming import write_stream_bm25_probe
    from .text.retrieval import write_bm25_index

    docs = _t(spark, sf_dir)["documents"]
    base = _rt_tmpdir("sbm25")
    prefix = "bm25s_" + _os.path.basename(base).rsplit("_", 1)[-1]
    try:
        write_bm25_index(docs, prefix, f"{base}/t")
        src = f"{base}/queries"
        qdf = _query_terms_local(spark)
        for q in sorted(_BM25_QUERIES):
            qdf.filter(F.col("query_id") == q).repartition(1).write.mode(
                "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema("query_id string, term string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = write_stream_bm25_probe(
            stream, prefix, f"{base}/out", f"{base}/ckpt", top_k=10
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(
                "streaming_bm25_probe: stream did not drain in 600s"
            )
        out = spark.read.parquet(f"{base}/out").select(
            F.col("query_id").cast("string").alias("query_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("score_units").cast("long").alias("score_units"),
            F.col("rn").cast("int").alias("rn"),
        )
        out.write.mode("overwrite").parquet(f"{base}/result")
    finally:
        for t in ("postings", "doclen", "stats", "stopterms"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    return spark.read.parquet(f"{base}/result")


def _query_terms_local(spark):
    return _local_rows(
        spark,
        sorted(
            (q, t) for q, terms in _BM25_QUERIES.items() for t in terms
        ),
        "query_id string, term string",
    )


# --- hybrid_rrf_docs: reciprocal-rank fusion of lexical + vector search ------

def q_hybrid_rrf_docs(spark, sf_dir):
    """r12: HYBRID retrieval — reciprocal-rank fusion (Cormack et al.
    2009, k=60) of the BM25 lexical top-10 and the cosine-ANN top-10
    for the same three queries, under the shared doc_id = vec_id key
    space (each query pairs its term bag with a query embedding:
    vec_id 0/50/100 by sorted query name).  Rank-based fusion needs no
    score calibration between BM25 units and cosines; contributions are
    round-6 micro-units so rrf_units is an exact BIGINT.  Both input
    rankings are per-query top-k relations (model-sized), so the fuse
    itself never touches the corpus — at scale the inputs come from the
    persisted postings/IVF probes, which produce these exact shapes
    (pytest-pinned)."""
    from .text.retrieval import bm25_topk, rrf_fuse
    from .text.similarity import _as_double, cosine_similarity

    docs = _t(spark, sf_dir)["documents"]
    emb = _t(spark, sf_dir)["embeddings"]
    bm = bm25_topk(docs, _BM25_QUERIES, top_k=10).select(
        "query_id", "doc_id", "rn"
    )
    qv = emb.filter(F.col("vec_id").isin([0, 50, 100])).select(
        F.when(F.col("vec_id") == 0, F.lit("q_hash_join"))
        .when(F.col("vec_id") == 50, F.lit("q_scan_batch"))
        .otherwise(F.lit("q_window_sort"))
        .alias("query_id"),
        F.col("embedding").alias("_qv"),
    )
    cos = cosine_similarity(
        _as_double(F.col("embedding")), _as_double(F.col("_qv"))
    )
    scored = emb.crossJoin(F.broadcast(qv)).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.round(cos, 6).alias("c"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("doc_id")
    )
    ann = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "doc_id", "rn")
    )
    return rrf_fuse([bm, ann], k=60, top_k=10).select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_lists").cast("long").alias("n_lists"),
        F.col("rrf_units").cast("long").alias("rrf_units"),
        F.col("rn").cast("int").alias("rn"),
    )


SQL_HYBRID_RRF = f"""
WITH bm AS (SELECT query_id, doc_id, rn FROM ({SQL_BM25_SEARCH}) _b),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (
  SELECT CASE vec_id WHEN 0 THEN 'q_hash_join'
                     WHEN 50 THEN 'q_scan_batch'
                     ELSE 'q_window_sort' END AS query_id, v AS qvec
  FROM e WHERE vec_id IN (0, 50, 100)),
sc AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         round(CASE WHEN sqrt(list_inner_product(e.v, e.v))
                         * sqrt(list_inner_product(qv.qvec, qv.qvec)) > 0
                    THEN list_inner_product(e.v, qv.qvec)
                         / (sqrt(list_inner_product(e.v, e.v))
                            * sqrt(list_inner_product(qv.qvec, qv.qvec)))
                    ELSE 0.0 END, 6) AS c
  FROM e CROSS JOIN qv),
ann AS (
  SELECT query_id, doc_id, rn
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY c DESC, doc_id) AS rn
        FROM sc)
  WHERE rn <= 10),
u AS (
  SELECT query_id, doc_id,
         CAST(CAST(round(1.0 / (60 + rn), 6) AS DECIMAL(18,6)) * 1000000
              AS BIGINT) AS u
  FROM bm
  UNION ALL
  SELECT query_id, doc_id,
         CAST(CAST(round(1.0 / (60 + rn), 6) AS DECIMAL(18,6)) * 1000000
              AS BIGINT)
  FROM ann),
f AS (SELECT query_id, doc_id, COUNT(*) AS n_lists, SUM(u) AS rrf_units
      FROM u GROUP BY 1, 2)
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_lists AS BIGINT) AS n_lists,
       CAST(rrf_units AS BIGINT) AS rrf_units, CAST(rn AS INTEGER) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_units DESC, doc_id) AS rn
      FROM f)
WHERE rn <= 10
"""


SQL_HYBRID_RRF_INDEXED = f"""
WITH bm AS (SELECT query_id, doc_id, rn FROM ({SQL_BM25_SEARCH}) _b),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (
  SELECT CASE vec_id WHEN 0 THEN 'q_hash_join'
                     WHEN 50 THEN 'q_scan_batch'
                     ELSE 'q_window_sort' END AS query_id, v AS qvec
  FROM e WHERE vec_id IN (0, 50, 100)),
-- full arm: brute-force cosine top-10 (nprobe = n_cells: pruning off)
sc AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         round(CASE WHEN sqrt(list_inner_product(e.v, e.v))
                         * sqrt(list_inner_product(qv.qvec, qv.qvec)) > 0
                    THEN list_inner_product(e.v, qv.qvec)
                         / (sqrt(list_inner_product(e.v, e.v))
                            * sqrt(list_inner_product(qv.qvec, qv.qvec)))
                    ELSE 0.0 END, 6) AS c
  FROM e CROSS JOIN qv),
ann_full AS (
  SELECT query_id, doc_id, rn
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY c DESC, doc_id) AS rn
        FROM sc)
  WHERE rn <= 10),
-- pruned arm (r14): replay the stored-centroid routing at nprobe=2
-- (the SQL_IVF_RECALL routing CTEs — id-seeded centroids, corpus
-- argmax assignment, per-query 2 nearest cells, candidates from only
-- those cells)
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
sim_all AS (
  SELECT e.vec_id, e.v, cent.cid,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product(cent.c, cent.c)) > 0
              THEN list_inner_product(e.v, cent.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(cent.c, cent.c)))
              ELSE 0.0 END AS sim
  FROM e CROSS JOIN cent
),
assign AS (
  SELECT vec_id, v, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, cid) AS rn
        FROM sim_all)
  WHERE rn = 1
),
qsim AS (
  SELECT qv.query_id, qv.qvec, cent.cid,
         CASE WHEN sqrt(list_inner_product(qv.qvec, qv.qvec))
                   * sqrt(list_inner_product(cent.c, cent.c)) > 0
              THEN list_inner_product(qv.qvec, cent.c)
                   / (sqrt(list_inner_product(qv.qvec, qv.qvec))
                      * sqrt(list_inner_product(cent.c, cent.c)))
              ELSE 0.0 END AS sim
  FROM qv CROSS JOIN cent),
routed AS (
  SELECT query_id, qvec, cid,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, cid) AS crn
  FROM qsim),
sc_p AS (
  SELECT r.query_id, a.vec_id AS doc_id,
         round(CASE WHEN sqrt(list_inner_product(a.v, a.v))
                         * sqrt(list_inner_product(r.qvec, r.qvec)) > 0
                    THEN list_inner_product(a.v, r.qvec)
                         / (sqrt(list_inner_product(a.v, a.v))
                            * sqrt(list_inner_product(r.qvec, r.qvec)))
                    ELSE 0.0 END, 6) AS c
  FROM routed r JOIN assign a ON a.cid = r.cid
  WHERE r.crn <= 2),
ann_pruned AS (
  SELECT query_id, doc_id, rn
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY c DESC, doc_id) AS rn
        FROM sc_p)
  WHERE rn <= 10),
arms AS (
  SELECT 'full' AS arm, query_id, doc_id, rn FROM ann_full
  UNION ALL
  SELECT 'pruned', query_id, doc_id, rn FROM ann_pruned),
u AS (
  SELECT a.arm, b.query_id, b.doc_id,
         CAST(CAST(round(1.0 / (60 + b.rn), 6) AS DECIMAL(18,6)) * 1000000
              AS BIGINT) AS u
  FROM bm b CROSS JOIN (SELECT DISTINCT arm FROM arms) a
  UNION ALL
  SELECT arm, query_id, doc_id,
         CAST(CAST(round(1.0 / (60 + rn), 6) AS DECIMAL(18,6)) * 1000000
              AS BIGINT)
  FROM arms),
f AS (SELECT arm, query_id, doc_id, COUNT(*) AS n_lists, SUM(u) AS rrf_units
      FROM u GROUP BY 1, 2, 3)
SELECT arm, query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_lists AS BIGINT) AS n_lists,
       CAST(rrf_units AS BIGINT) AS rrf_units, CAST(rn AS INTEGER) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY arm, query_id
                                   ORDER BY rrf_units DESC, doc_id) AS rn
      FROM f)
WHERE rn <= 10
"""


# --- hybrid_rrf_indexed: the DEPLOYMENT shape of hybrid retrieval ------------

def q_hybrid_rrf_indexed(spark, sf_dir):
    """r13 (r12 VERDICT #4): hybrid retrieval through the PERSISTED
    indexes end-to-end — disk-built BM25 postings
    (:func:`write_bm25_index` -> :func:`bm25_index_probe`) fused via
    :func:`rrf_fuse` with disk-built IVF ANN (:func:`write_ivf_index`
    -> :func:`ivf_probe_batch`) — the shape a deployment actually runs
    (corpus indexed once, every query batch probes disk), now under an
    oracle verdict instead of only a pytest pin.  Two arms:

    - ``arm='full'`` (r13): the IVF probe at nprobe = n_cells — pruning
      off, so the oracle is the in-memory ``hybrid_rrf_docs`` SQL
      verbatim (equality pin with the non-indexed path).
    - ``arm='pruned'`` (r14, r13 VERDICT #4): nprobe=2 — the
      configuration a deployment actually serves.  Its oracle REPLAYS
      the pruned routing in SQL (the routing CTEs of
      ``SQL_IVF_RECALL``: queries route to their 2 nearest stored
      centroids, candidates come only from those cells), closing the
      last daylight between the verified shape and the deployed shape.

    100 TB: the fuse is pure post-retrieval algebra over per-query
    top-k relations; corpus-side work is the probes' — bucket-pruned
    postings buckets for the batch's terms, partition-pruned IVF cells
    for the batch's routed queries."""
    import os as _os

    from .text.retrieval import (
        bm25_index_probe,
        rrf_fuse,
        write_bm25_index,
    )
    from .text.similarity import ivf_probe_batch_arms, write_ivf_index

    docs = _t(spark, sf_dir)["documents"]
    emb = _t(spark, sf_dir)["embeddings"]
    path = _rt_tmpdir("hybrid_idx")
    prefix = "bm25h_" + _os.path.basename(path).rsplit("_", 1)[-1]
    try:
        bidx = write_bm25_index(docs, prefix, f"{path}/t")
        bm = bm25_index_probe(bidx, _BM25_QUERIES, top_k=10).select(
            "query_id", "doc_id", "rn"
        )
        iidx = write_ivf_index(emb, f"{path}/ivf", n_cells=8)
        qv = emb.filter(F.col("vec_id").isin([0, 50, 100])).select(
            F.when(F.col("vec_id") == 0, F.lit("q_hash_join"))
            .when(F.col("vec_id") == 50, F.lit("q_scan_batch"))
            .otherwise(F.lit("q_window_sort"))
            .alias("query_id"),
            "embedding",
        )
        bm = bm.localCheckpoint(eager=False)  # both arms fuse the same
        # lexical ranking; materialize it once
        # r14 perf: both prune levels from ONE probe — the fused
        # multi-arm form scans the index once (the full arm needs the
        # whole assignment anyway) and fans by cell rank; per-arm values
        # are ivf_probe_batch's exactly (oracles unchanged)
        ann_arms = ivf_probe_batch_arms(
            iidx, qv, k=10, nprobes=(2, 8)
        ).localCheckpoint(eager=False)
        arms = []
        for arm, nprobe in (("full", 8), ("pruned", 2)):
            ann = ann_arms.filter(F.col("nprobe") == nprobe).select(
                "query_id", F.col("vec_id").alias("doc_id"), "rn"
            )
            arms.append(
                rrf_fuse([bm, ann], k=60, top_k=10).select(
                    F.lit(arm).alias("arm"),
                    F.col("query_id").cast("string").alias("query_id"),
                    F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_lists").cast("long").alias("n_lists"),
                    F.col("rrf_units").cast("long").alias("rrf_units"),
                    F.col("rn").cast("int").alias("rn"),
                )
            )
        fused = _union_all(arms)
        # materialize before dropping the postings tables (r11 ADVICE
        # discipline — the returned frame must not reference them)
        fused.write.mode("overwrite").parquet(f"{path}/result")
    finally:
        for t in ("postings", "doclen", "stats", "stopterms"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    return spark.read.parquet(f"{path}/result")


# --- nb_classifier_docs: multinomial Naive Bayes fit + held-out scoring -----

def q_nb_classifier_docs(spark, sf_dir):
    """r11: multinomial Naive Bayes (Laplace alpha=1) fit on the
    doc_id%5!=0 training split predicting ``lang`` from whitespace
    tokens, applied to the held-out doc_id%5==0 split.  The model grid
    (labels x vocab, smoothed floor for unseen pairs) broadcasts at
    fixture scale; scores are exact integer micro-units; argmax ties
    break on ascending label.  The oracle replays fit + apply with the
    identical expression tree."""
    from .text.retrieval import nb_fit, nb_predict

    docs = _t(spark, sf_dir)["documents"]
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    model = nb_fit(train, label_col="lang")
    pred = nb_predict(model, test)
    return pred.join(test.select("doc_id", "lang"), "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "pred_label",
        "best_units",
        "n_vocab_toks",
        (F.col("pred_label") == F.col("lang")).cast("int").alias("correct"),
    )


SQL_NB_CLASSIFIER = r"""
WITH tr AS (
  SELECT lang AS label,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE doc_id % 5 <> 0),
ttok AS (SELECT label, unnest(t) AS term FROM tr),
counts AS (SELECT label, term, COUNT(*) AS cnt FROM ttok GROUP BY 1, 2),
class_tok AS (SELECT label, SUM(cnt) AS tok_c FROM counts GROUP BY 1),
vocab AS (SELECT DISTINCT term FROM counts),
v AS (SELECT COUNT(*) AS v_size FROM vocab),
grid AS (
  SELECT ct.label, vo.term,
         CAST(CAST(round(ln(
           CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE)
           / CAST(ct.tok_c + 1 * v_size AS DOUBLE)), 6)
           AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS ll_units
  FROM class_tok ct CROSS JOIN vocab vo
  LEFT JOIN counts c ON c.label = ct.label AND c.term = vo.term
  CROSS JOIN v),
nall AS (SELECT COUNT(*) AS n_all FROM documents WHERE doc_id % 5 <> 0),
priors AS (
  SELECT lang AS label,
         CAST(CAST(round(ln(
           CAST(COUNT(*) AS DOUBLE) / CAST(n_all AS DOUBLE)), 6)
           AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS prior_units
  FROM documents CROSS JOIN nall
  WHERE doc_id % 5 <> 0 GROUP BY lang, n_all),
te AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE doc_id % 5 = 0),
m AS (
  SELECT doc_id, term, COUNT(*) AS m
  FROM (SELECT doc_id, unnest(t) AS term FROM te) _e GROUP BY 1, 2),
contrib AS (
  SELECT doc_id, label, SUM(m * ll_units) AS tok_units,
         SUM(m) AS n_vocab_toks
  FROM m JOIN grid USING (term) GROUP BY 1, 2),
scores AS (
  SELECT te.doc_id, p.label,
         p.prior_units + COALESCE(c.tok_units, 0) AS score_units,
         COALESCE(c.n_vocab_toks, 0) AS n_vocab_toks
  FROM te CROSS JOIN priors p
  LEFT JOIN contrib c ON c.doc_id = te.doc_id AND c.label = p.label),
pred AS (
  SELECT doc_id, label AS pred_label, score_units AS best_units,
         n_vocab_toks
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_units DESC, label) AS rn
        FROM scores)
  WHERE rn = 1)
SELECT CAST(p.doc_id AS BIGINT) AS doc_id, p.pred_label,
       CAST(p.best_units AS BIGINT) AS best_units,
       CAST(p.n_vocab_toks AS BIGINT) AS n_vocab_toks,
       CAST(p.pred_label = te.lang AS INTEGER) AS correct
FROM pred p JOIN te ON te.doc_id = p.doc_id
"""


# --- benchmark decontamination: n-gram overlap vs the held-out eval split ---

def q_decontam_docs(spark, sf_dir):
    """Training docs sharing any 5-token shingle with the eval split (the
    hash_split 10% test set) — the n-gram-overlap contamination check run
    before a data release.  The eval shingle set broadcasts; the training
    side never shuffles (map-side semi-join + one count aggregation)."""
    from .operators.sampling import hash_split
    from .text import decontaminate

    docs = _t(spark, sf_dir)["documents"]
    split = hash_split(docs, "doc_id", test_pct=10)
    train = split.filter(F.col("split") == "train")
    ev = split.filter(F.col("split") == "test")
    return decontaminate(train, ev, shingle_n=5).select("doc_id", "n_shared")


SQL_DECONTAM = r"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '19'
              THEN 'test' ELSE 'train' END AS split,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
sh0 AS (
  SELECT doc_id, split,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(range(1, len(t) - 3),
                                 i -> array_to_string(t[i:i+4], ' ')))
              ELSE [array_to_string(t, ' ')] END AS shingles
  FROM s),
sh AS (SELECT doc_id, split, unnest(shingles) AS sh FROM sh0),
ev AS (SELECT DISTINCT sh FROM sh WHERE split = 'test')
SELECT t.doc_id, COUNT(*) AS n_shared
FROM sh t JOIN ev USING (sh)
WHERE t.split = 'train'
GROUP BY t.doc_id
"""


def q_kmv_merged_shingles(spark, sf_dir):
    """KMV mergeability proof: per-language sketches merged must reproduce
    the direct whole-corpus estimate of ``kmv_shingles`` BIT-EXACTLY (KMV
    union-merge is lossless), so its oracle is the direct sketch's SQL."""
    from .operators import kmv_merge_estimate, kmv_sketch_grouped
    from .text.dedup import shingle

    docs = _t(spark, sf_dir)["documents"]
    sh = docs.select(
        "lang", F.explode(shingle(F.col("text"), 3)).alias("sh")
    )
    sketches = kmv_sketch_grouped(sh, ["lang"], "sh", k=64)
    merged = kmv_merge_estimate(sketches, k=64)
    return merged.select(
        F.col("kmv_k").cast("long").alias("kmv_k"),
        F.col("kmv_estimate").cast("double").alias("kmv_estimate"),
    )


SQL_KMV_MERGED = f"SELECT kmv_k, kmv_estimate FROM ({SQL_KMV_SHINGLES}) _k"


def q_cms_merged_tokens_docs(spark, sf_dir):
    """The merged-shard count-min estimates of ``cms_tokens_docs`` alone
    (the merge is a lossless bucket-wise sum, so they equal the direct
    sketch's estimates)."""
    return q_cms_tokens_docs(spark, sf_dir).select(
        "probe_idx", "cms_est_merged"
    )


SQL_CMS_MERGED = (
    f"SELECT probe_idx, cms_est_merged FROM ({SQL_CMS_TOKENS}) _cm"
)


def q_gap_fill_events(spark, sf_dir):
    """Time-series regularization: rare events (value > 97) bucketed hourly
    leave most grid hours empty; gap_fill joins the sparse series onto each
    type's dense hourly grid and carries the last rendered sum forward
    (LOCF).  One span aggregate + key/bucket equi-join + one window shuffle
    on event_type — linear in grid size at any history length."""
    from .operators.window import gap_fill

    ev = _t(spark, sf_dir)["events"]
    obs = (
        ev.filter(F.col("value") > 97)
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(F.sum(F.col("value").cast(_D182)), 6)
            .cast("double")
            .alias("sum_value_ff"),
        )
    )
    out = gap_fill(
        obs, ["event_type"], "hour", ["sum_value_ff"], step="1 hour"
    )
    return out.select(
        "event_type",
        "hour",
        F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
        F.col("sum_value_ff").cast("double").alias("sum_value_ff"),
        F.col("is_gap").cast("int").alias("is_gap"),
    )


SQL_GAP_FILL = """
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_obs,
         CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 6) AS DOUBLE) AS sv
  FROM events WHERE value > 97 GROUP BY 1, 2),
spans AS (SELECT event_type, MIN(hour) AS t0, MAX(hour) AS t1
          FROM obs GROUP BY 1),
grid AS (SELECT event_type,
                unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour
         FROM spans),
j AS (SELECT g.event_type, g.hour, o.n_obs, o.sv
      FROM grid g LEFT JOIN obs o USING (event_type, hour))
SELECT event_type, hour, CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_obs,
       last_value(sv IGNORE NULLS)
         OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS sum_value_ff,
       CAST(n_obs IS NULL AS INTEGER) AS is_gap
FROM j
"""


def q_salted_join_events(spark, sf_dir):
    """Salted JOIN equivalence: the skew-safe fact-salt + dim-explode join
    (hot-key split path included) must equal a plain join + GROUP BY."""
    from .operators import salted_join, top_keys

    e = _t(spark, sf_dir)["events"].select("event_type", "value")
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn("w", F.length("event_type").cast("int"))
    )
    hot = top_keys(e, ["event_type"], n=2)
    joined = salted_join(
        e, dim, on=["event_type"], salt_col="value", salt_buckets=8,
        how="inner", hot_keys=hot,
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("value").cast(_D184) * F.col("w")).cast(_D184)
            ).cast(_D184).alias("wsum"),
        )
        .select(
            F.col("event_type").cast("string").alias("event_type"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round(F.col("wsum"), 6).cast("double").alias("sum_value"),
        )
    )


SQL_SALTED_JOIN = """
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(round(CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,4))
                                * d.w AS DECIMAL(18,4)))
                       AS DECIMAL(18,4)), 6) AS DOUBLE) AS sum_value
FROM events e
JOIN (SELECT event_type, CAST(length(event_type) AS INTEGER) AS w
      FROM (SELECT DISTINCT event_type FROM events)) d
  ON d.event_type = e.event_type
GROUP BY e.event_type
"""


def q_scd2_pit_orders(spark, sf_dir):
    """SCD2 point-in-time lookup: each order picks the customer-dim VERSION
    valid on its order date — the star schema's temporal join."""
    from .operators import scd2_point_in_time_join

    t = _t(spark, sf_dir)
    dim = q_dim_customer_scd2(spark, sf_dir).select(
        "o_custkey", "version_number", "valid_from", "valid_to"
    )
    orders = t["orders"].select("o_orderkey", "o_custkey", "o_orderdate")
    pit = scd2_point_in_time_join(orders, dim, on="o_custkey", ts_col="o_orderdate")
    return pit.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        F.col("version_number").cast("long").alias("version_number"),
    )


SQL_SCD2_PIT = f"""
SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o.o_custkey AS BIGINT) AS o_custkey,
       CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
       CAST(d.valid_from AS TIMESTAMP) AS valid_from,
       CAST(d.valid_to AS TIMESTAMP) AS valid_to,
       CAST(d.version_number AS BIGINT) AS version_number
FROM orders o
JOIN ({SQL_DIM_SCD2}) d
  ON d.o_custkey = o.o_custkey
 AND CAST(o.o_orderdate AS DATE) >= d.valid_from
 AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < d.valid_to)
"""


def q_funnel_chain_events(spark, sf_dir):
    """Funnel detection by joins: per user the earliest view -> first later
    click -> first later purchase chain, one conditional-min aggregation
    per stage, every shuffle on the same user_id key."""
    ev = _t(spark, sf_dir)["events"]
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("view_ts")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id", "view_ts")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id", "view_ts", "click_ts")
        .agg(F.min("ts").alias("purchase_ts"), F.count(F.lit(1)).alias("n_purch"))
    )
    return p.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("view_ts").cast("timestamp").alias("view_ts"),
        F.col("click_ts").cast("timestamp").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp").alias("purchase_ts"),
        F.col("n_purch").cast("long").alias("n_purch"),
    )


SQL_FUNNEL_CHAIN = """
WITH v AS (SELECT user_id, MIN(ts) AS view_ts FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, v.view_ts, MIN(e.ts) AS click_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY e.user_id, v.view_ts)
SELECT CAST(e.user_id AS BIGINT) AS user_id,
       CAST(c.view_ts AS TIMESTAMP) AS view_ts,
       CAST(c.click_ts AS TIMESTAMP) AS click_ts,
       CAST(MIN(e.ts) AS TIMESTAMP) AS purchase_ts,
       CAST(COUNT(*) AS BIGINT) AS n_purch
FROM events e JOIN c ON c.user_id = e.user_id
WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
GROUP BY e.user_id, c.view_ts, c.click_ts
"""


# --- orchestrator retry/diagnose loop (C5, engine-scope) --------------------

def q_retry_dag(spark, sf_dir):
    """C5: the execute→validate→diagnose→retry state machine driven
    end-to-end — a model fails transiently and succeeds on retry, a
    permanently-broken branch exhausts its budget and its dependents are
    skipped, while the healthy branch completes.  Data rows prove the final
    output; the meta rows pin every model's (status, attempts), so the
    driver hash covers the state machine itself, not just the happy path.
    Reference: src/agents/orchestrator.py:126-166 (phase loop),
    src/agents/context.py:128-134 (retry budget)."""
    from .pipeline import Model, Pipeline, run_with_retries

    t = _t(spark, sf_dir)
    state = {"failed_once": False}

    def seg_counts(frames, _vars):
        if not state["failed_once"]:
            state["failed_once"] = True
            raise RuntimeError("simulated transient source failure")
        return frames["customer"].groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_cust")
        )

    def top_seg(frames, vars_):
        return frames["seg_counts"].filter(F.col("n_cust") >= vars_["min_cust"])

    def always_bad(_frames, _vars):
        raise RuntimeError("permanent failure")

    def bad_child(frames, _vars):
        return frames["always_bad"]

    pipe = (
        Pipeline(spark, vars={"min_cust": 1})
        .add(Model("seg_counts", seg_counts))
        .add(Model("top_seg", top_seg, deps=["seg_counts"]))
        .add(Model("always_bad", always_bad))
        .add(Model("bad_child", bad_child, deps=["always_bad"]))
    )
    frames, report = run_with_retries(
        pipe, {"customer": t["customer"]}, max_retries=2
    )
    data = frames["top_seg"].select(
        F.lit("retry").alias("component"),
        F.col("c_mktsegment").cast("string").alias("segment"),
        F.col("n_cust").cast("long").alias("n1"),
    )
    meta = _local_rows(
        spark,
        [(f"{n}:{r.status}:{r.attempts}",) for n, r in sorted(report.runs.items())],
        "segment string",
    ).select(
        F.lit("retry_meta").alias("component"),
        F.col("segment").cast("string").alias("segment"),
        F.lit(None).cast("long").alias("n1"),
    )
    return data.unionByName(meta)


SQL_RETRY_DAG = """
SELECT 'retry' AS component, c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n1
FROM customer GROUP BY c_mktsegment HAVING COUNT(*) >= 1
UNION ALL
SELECT 'retry_meta', v, CAST(NULL AS BIGINT)
FROM (VALUES ('always_bad:failed:3'), ('bad_child:skipped:0'),
             ('seg_counts:success:2'), ('top_seg:success:1')) _m(v)
"""


# --- media decode family: resize, PNG/JPEG/WAV decode, perceptual hashes --

def q_resize_bmp_stats(spark, sf_dir):
    """Real image resize over Arrow batches: the bmp component's variable-
    size solid-color images (width 1+i%7, height 1+i%5) nearest-neighbor
    resize to a fixed 3x2, then re-decode.  Oracle-exact: a solid color is
    invariant under NN sampling, so the resized means equal the source
    colors, dims equal the target, and the re-encoded payload is the
    constant 54-byte header + 2 rows x 12-byte stride = 78 bytes."""
    from .text.multimodal import decode_bmp_stats, encode_bmp, resize_bmp_media

    docs = _t(spark, sf_dir)["documents"].select(
        F.col("doc_id").alias("media_id")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["media_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        encode_bmp(
                            int(1 + i % 7),
                            int(1 + i % 5),
                            (int(i % 256), int(i * 7 % 256), int(i * 13 % 256)),
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.mapInPandas(encode, schema="media_id long, content binary")
    resized = resize_bmp_media(media, 3, 2)
    # decode_bmp_stats reports n_bytes of ITS input — the resized payload —
    # so the whole pipeline stays one map-only chain, no join
    return decode_bmp_stats(resized).select(
        "media_id", "width", "height", "channels",
        "mean_r", "mean_g", "mean_b",
        F.col("n_bytes").alias("n_out_bytes"),
    )


SQL_RESIZE_BMP = """
SELECT doc_id AS media_id,
       CAST(3 AS INTEGER) AS width,
       CAST(2 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(doc_id % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b,
       CAST(78 AS BIGINT) AS n_out_bytes
FROM documents
"""


def _phash_fixture_media(spark, sf_dir):
    """The closed-form image fixture shared by the phash entries: one
    9x6 gray-gradient BMP per sampled doc (``doc_id % 30 == 0``), pixel
    ``(23*base + 41*x + 59*y + 100*tweak*[x=0]) % 256`` with
    ``base = id % 16`` — the formula alone derives the dHash, so the
    oracles replay it in pure SQL."""
    from .text.multimodal import encode_bmp_pixels

    docs = _t(spark, sf_dir)["documents"].filter(
        F.col("doc_id") % 30 == 0
    ).select(F.col("doc_id").alias("media_id"))

    def encode(batches):
        import pandas as pd

        def px(i, x, y):
            base = i % 16
            tweak = (i // 16) % 2
            v = (23 * base + 41 * x + 59 * y
                 + (100 * tweak if x == 0 else 0)) % 256
            return (v, v, v)

        for pdf in batches:
            ids = pdf["media_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        encode_bmp_pixels(
                            [
                                [px(int(i), x, y) for x in range(9)]
                                for y in range(6)
                            ]
                        )
                        for i in ids
                    ],
                }
            )

    return docs.mapInPandas(encode, schema="media_id long, content binary")


def q_image_phash_neardup(spark, sf_dir):
    """r13 (r12 VERDICT #5): perceptual-hash image near-dup — dHash over
    the pure-Python decoders, Hamming-banded candidate pairs through the
    SAME blocking machinery as the text SimHash path
    (``text/dedup.py:hamming_candidates``, skew-capped buckets).

    Fixture: one 9x6 gray-gradient BMP per sampled doc
    (``doc_id % 30 == 0``), pixel value
    ``(23*base + 41*x + 59*y + 100*tweak*[x=0]) % 256`` with
    ``base = id % 16`` (16 image classes -> same-base ids are clones or
    x=0-tweaked near-dups) — CLOSED-FORM pixels, so the oracle derives
    the 48-bit dHash, the 4x12-bit banding, and the pair set from the
    formula alone.  Components: 'phash' = per-image dHash value;
    'phash_pair' = banded candidates with exact Hamming distance;
    'phash_cluster' = Hamming <= 2 near-dup clusters.

    100 TB: hashing is map-only over the media scan; blocking touches
    only the hash relation with per-band caps — never all-pairs."""
    from .text.dedup import phash_candidates
    from .text.multimodal import image_phash

    media = _phash_fixture_media(spark, sf_dir)
    fp = image_phash(media, method="dhash")
    hashes = fp.select(
        F.lit("phash").alias("component"),
        F.col("media_id").cast("long").alias("id_a"),
        F.col("phash").cast("long").alias("n"),
    )
    cand = phash_candidates(fp)
    pairs = cand.select(
        F.lit("phash_pair").alias("component"),
        F.col("media_a").cast("long").alias("id_a"),
        F.col("media_b").cast("long").alias("id_b"),
        F.col("hamming_distance").cast("long").alias("n"),
    )
    # the keep-one step (r13): near-dup pairs at Hamming <= 2 cluster via
    # the SAME min-label connected components the text dedup runs; each
    # member labels with its cluster's canonical (minimum) media_id
    from .text.dedup import connected_components

    comp = connected_components(
        cand.filter(F.col("hamming_distance") <= 2), "media_a", "media_b"
    )
    csize = comp.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    clusters = comp.join(csize, "label").select(
        F.lit("phash_cluster").alias("component"),
        F.col("node").cast("long").alias("id_a"),
        F.col("label").cast("long").alias("id_b"),
        F.col("n").cast("long").alias("n"),
    )
    return hashes.unionByName(pairs, allowMissingColumns=True).unionByName(
        clusters
    )


def q_image_ahash_media(spark, sf_dir):
    """aHash over the ``image_phash_neardup`` fixture: the 8x6 NN grid of a
    9x6 source is columns 0-7 identically (floor(9x/8) = x for x < 8), so
    the mean-threshold hash is the same closed form the oracle replays."""
    from .text.multimodal import image_phash

    media = _phash_fixture_media(spark, sf_dir)
    return image_phash(media, method="ahash").select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("phash").cast("long").alias("ahash"),
    )


SQL_IMAGE_PHASH = """
WITH RECURSIVE ids AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 16 AS BIGINT) AS base,
         CAST((doc_id // 16) % 2 AS BIGINT) AS tweak
  FROM documents WHERE doc_id % 30 = 0),
g AS (
  SELECT i.media_id, t1.x, t2.y,
         (23 * i.base + 41 * t1.x + 59 * t2.y
          + CASE WHEN t1.x = 0 THEN 100 * i.tweak ELSE 0 END) % 256 AS gv
  FROM ids i, range(9) t1(x), range(6) t2(y)),
bits AS (
  SELECT a.media_id, a.y * 8 + a.x AS b,
         CASE WHEN a.gv > c.gv THEN 1 ELSE 0 END AS bit
  FROM g a JOIN g c ON a.media_id = c.media_id AND a.y = c.y
                   AND c.x = a.x + 1
  WHERE a.x < 8),
hashes AS (
  SELECT media_id,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(b AS INTEGER)))
              AS BIGINT) AS phash
  FROM bits GROUP BY media_id),
banded AS (
  SELECT media_id, phash, t.i AS band_idx,
         (phash >> CAST(12 * t.i AS INTEGER)) & 4095 AS band_val
  FROM hashes, range(4) t(i)),
pairs AS (
  SELECT DISTINCT l.media_id AS a, r.media_id AS b,
                  l.phash AS pa, r.phash AS pb
  FROM banded l
  JOIN banded r ON l.band_idx = r.band_idx AND l.band_val = r.band_val
               AND l.media_id < r.media_id),
dpairs AS (SELECT a, b FROM pairs WHERE bit_count(xor(pa, pb)) <= 2),
edges AS (SELECT a AS src, b AS dst FROM dpairs
          UNION ALL
          SELECT b AS src, a AS dst FROM dpairs),
cnodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS label FROM cnodes
  UNION
  SELECT e.dst AS node, r.label
  FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(label) AS canonical FROM reach GROUP BY node)
SELECT 'phash' AS component, CAST(media_id AS BIGINT) AS id_a,
       CAST(NULL AS BIGINT) AS id_b, phash AS n
FROM hashes
UNION ALL
SELECT 'ahash', CAST(h.media_id AS BIGINT), CAST(NULL AS BIGINT),
       CAST(SUM(CASE WHEN g.gv > m.mean_g THEN
                     (CAST(1 AS BIGINT) << CAST(g.y * 8 + g.x AS INTEGER))
                     ELSE 0 END) AS BIGINT)
FROM hashes h
JOIN g ON g.media_id = h.media_id AND g.x < 8
JOIN (SELECT media_id, SUM(gv) // 48 AS mean_g
      FROM g WHERE x < 8 GROUP BY media_id) m
  ON m.media_id = h.media_id
GROUP BY h.media_id
UNION ALL
SELECT 'phash_pair', CAST(a AS BIGINT), CAST(b AS BIGINT),
       CAST(bit_count(xor(pa, pb)) AS BIGINT)
FROM pairs
UNION ALL
SELECT 'phash_cluster', CAST(node AS BIGINT), CAST(canonical AS BIGINT),
       CAST(cs.n AS BIGINT)
FROM comp
JOIN (SELECT canonical AS c2, COUNT(*) AS n
      FROM comp GROUP BY canonical) cs ON comp.canonical = cs.c2
"""


def q_image_phash_index(spark, sf_dir):
    """r14 (r13 VERDICT #2): the persisted image-hash dedup index driven
    end-to-end through DISK — write the seed generation from batch 1
    (``media_id % 60 == 0``), then run batch 2 (``% 60 == 30``) through
    the media ingest arm: within-batch keep-one (Hamming<=2 connected
    components, canonical = min id), probe against the stored bucketed
    table (band equi-join, probe-time caps), reject index matches,
    append the accepted fingerprints.  Components: 'kept' = batch-2
    keep-one survivors with their dHash; 'probe' = batch-vs-index
    candidate pairs with exact Hamming distance; 'acc' = accepted
    (appended) images; 'post' = the index contents AFTER the append —
    the full write -> probe -> append -> read round-trip under one
    oracle.  Closed-form pixels (see :func:`_phash_fixture_media`) make
    every stage SQL-derivable.

    100 TB: every stage touches the 8-byte/image fingerprint relation;
    the index table is bucketed on the band join key so the corpus side
    of the probe never exchanges."""
    import os as _os

    from .ingest import ingest_media_batch
    from .text.dedup import read_phash_index, write_phash_index
    from .text.multimodal import image_phash

    media = _phash_fixture_media(spark, sf_dir)
    # hash once; both batches and all stages reuse the materialization
    fp = image_phash(media, method="dhash").localCheckpoint(eager=False)
    b1 = fp.filter(F.col("media_id") % 60 == 0)
    b2 = fp.filter(F.col("media_id") % 60 == 30)
    path = _rt_tmpdir("phash_index")
    prefix = "phidx_" + _os.path.basename(path).rsplit("_", 1)[-1]
    try:
        write_phash_index(b1, prefix, f"{path}/t")
        res = ingest_media_batch(spark, b2, prefix, batch_id=1)
        out = _suite_frame("image_phash_index", [
            ("kept", res.kept.select(
                F.col("media_id").cast("long").alias("id_a"),
                F.col("phash").cast("long").alias("n"),
            )),
            ("probe", res.probe_pairs.select(
                F.col("media_id").cast("long").alias("id_a"),
                F.col("index_id").cast("long").alias("id_b"),
                F.col("hamming_distance").cast("long").alias("n"),
            )),
            ("acc", res.accepted.select(
                F.col("media_id").cast("long").alias("id_a"),
                F.col("phash").cast("long").alias("n"),
            )),
            ("post", read_phash_index(spark, prefix)
             .select("media_id", "_fp").distinct()
             .select(
                F.col("media_id").cast("long").alias("id_a"),
                F.col("_fp").cast("long").alias("n"),
            )),
        ])
        # materialize under the run's tmpdir so the catalog table can be
        # dropped (metastore-leak contract, as the bm25/ivf entries)
        out.write.mode("overwrite").parquet(f"{path}/out")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_phash")
    return spark.read.parquet(f"{path}/out")


SQL_IMAGE_PHASH_INDEX = """
WITH RECURSIVE ids AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 16 AS BIGINT) AS base,
         CAST((doc_id // 16) % 2 AS BIGINT) AS tweak
  FROM documents WHERE doc_id % 30 = 0),
g AS (
  SELECT i.media_id, t1.x, t2.y,
         (23 * i.base + 41 * t1.x + 59 * t2.y
          + CASE WHEN t1.x = 0 THEN 100 * i.tweak ELSE 0 END) % 256 AS gv
  FROM ids i, range(9) t1(x), range(6) t2(y)),
bits AS (
  SELECT a.media_id, a.y * 8 + a.x AS b,
         CASE WHEN a.gv > c.gv THEN 1 ELSE 0 END AS bit
  FROM g a JOIN g c ON a.media_id = c.media_id AND a.y = c.y
                   AND c.x = a.x + 1
  WHERE a.x < 8),
hashes AS (
  SELECT media_id,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(b AS INTEGER)))
              AS BIGINT) AS phash
  FROM bits GROUP BY media_id),
b1 AS (SELECT * FROM hashes WHERE media_id % 60 = 0),
b2 AS (SELECT * FROM hashes WHERE media_id % 60 = 30),
banded2 AS (
  SELECT media_id, phash, t.i AS band_idx,
         (phash >> CAST(12 * t.i AS INTEGER)) & 4095 AS band_val
  FROM b2, range(4) t(i)),
pairs2 AS (
  SELECT DISTINCT l.media_id AS a, r.media_id AS b
  FROM banded2 l
  JOIN banded2 r ON l.band_idx = r.band_idx AND l.band_val = r.band_val
               AND l.media_id < r.media_id
  WHERE bit_count(xor(l.phash, r.phash)) <= 2),
edges AS (SELECT a AS src, b AS dst FROM pairs2
          UNION ALL SELECT b, a FROM pairs2),
reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(label) AS canonical FROM reach GROUP BY node),
kept AS (
  SELECT h.media_id, h.phash FROM b2 h
  WHERE NOT EXISTS (SELECT 1 FROM comp c
                    WHERE c.node = h.media_id
                      AND c.canonical <> h.media_id)),
banded1 AS (
  SELECT media_id, phash, t.i AS band_idx,
         (phash >> CAST(12 * t.i AS INTEGER)) & 4095 AS band_val
  FROM b1, range(4) t(i)),
bandedk AS (
  SELECT media_id, phash, t.i AS band_idx,
         (phash >> CAST(12 * t.i AS INTEGER)) & 4095 AS band_val
  FROM kept, range(4) t(i)),
probe AS (
  SELECT DISTINCT k.media_id AS batch_id, x.media_id AS index_id,
         bit_count(xor(k.phash, x.phash)) AS hd
  FROM bandedk k
  JOIN banded1 x ON k.band_idx = x.band_idx AND k.band_val = x.band_val
  WHERE bit_count(xor(k.phash, x.phash)) <= 2),
acc AS (
  SELECT k.media_id, k.phash FROM kept k
  WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.batch_id = k.media_id))
SELECT 'kept' AS component, CAST(media_id AS BIGINT) AS id_a,
       CAST(NULL AS BIGINT) AS id_b, phash AS n
FROM kept
UNION ALL
SELECT 'probe', CAST(batch_id AS BIGINT), CAST(index_id AS BIGINT),
       CAST(hd AS BIGINT)
FROM probe
UNION ALL
SELECT 'acc', CAST(media_id AS BIGINT), CAST(NULL AS BIGINT), phash
FROM acc
UNION ALL
SELECT 'post', CAST(media_id AS BIGINT), CAST(NULL AS BIGINT), phash
FROM (SELECT media_id, phash FROM b1
      UNION ALL SELECT media_id, phash FROM acc) _p
"""


# --- sampling family: weighted sampling + per-source caps -----------------

def q_weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted sampling without replacement (exact-arithmetic
    A-ES): language-mixing weights give 'en' docs 4 lottery tickets, 'zh' 3,
    'de' 2, others 1; the 60 best-ticket docs win.  Hex-string priorities
    (no ln/pow) make the SAMPLE itself bit-reproducible by the oracle."""
    from .operators.sampling import weighted_sample

    docs = _t(spark, sf_dir)["documents"]
    wt = (
        F.when(F.col("lang") == "en", 4)
        .when(F.col("lang") == "zh", 3)
        .when(F.col("lang") == "de", 2)
        .otherwise(1)
    )
    out = weighted_sample(
        docs.select("doc_id", "lang", wt.alias("wt")), "doc_id", "wt", k=60
    )
    return out.select("doc_id", "lang", "priority")


SQL_WEIGHTED_SAMPLE = """
WITH w AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 4 WHEN 'zh' THEN 3
                   WHEN 'de' THEN 2 ELSE 1 END AS wt
  FROM documents),
p AS (
  SELECT doc_id, lang,
         list_min(list_transform(generate_series(1, wt),
                                 i -> md5(doc_id || ':' || i))) AS priority
  FROM w)
SELECT doc_id, lang, priority FROM p
ORDER BY priority, doc_id LIMIT 60
"""


def q_source_cap_docs(spark, sf_dir):
    """Per-source document cap (the C4/Gopher per-domain cap): at most 15
    docs per source, chosen by content-hash order — deterministic, so the
    kept set itself is the oracle-checked value, not just its size.  One
    window shuffle on source; per-group state is a row counter.  The cap
    binds at every fixture scale (sources hold 25+ docs at sf0.01)."""
    from .operators.sampling import cap_per_group

    docs = _t(spark, sf_dir)["documents"].select("doc_id", "source")
    return cap_per_group(docs, ["source"], 15, "doc_id")


SQL_SOURCE_CAP = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents) _r
WHERE rn <= 15
"""


# --- bigram surprisal (perplexity-style corpus-LM quality score) ------------

def q_surprisal_docs(spark, sf_dir):
    """Exact-integer micro-unit sum is the hashed value; the convenience
    mean is dropped here because its final division can land on a rounding
    midpoint where engines' double rounding disagrees."""
    from .text import bigram_surprisal

    docs = _t(spark, sf_dir)["documents"]
    return bigram_surprisal(docs).select("doc_id", "n_bigrams", "surprisal_units")


SQL_SURPRISAL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents),
unic AS (
  SELECT tok, COUNT(*) AS c_uni
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
bg AS (
  SELECT doc_id, t[CAST(i AS INTEGER)] AS w1,
         t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1] AS bigram
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks) _x),
bgc AS (SELECT bigram, COUNT(*) AS c_bg FROM bg GROUP BY bigram),
sc AS (
  SELECT doc_id,
         CAST(CAST(round(-ln(CAST(c_bg AS DOUBLE) / CAST(c_uni AS DOUBLE)), 6)
                   AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS s_units
  FROM bg JOIN bgc USING (bigram) JOIN unic ON unic.tok = bg.w1)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(s_units) AS BIGINT) AS surprisal_units
FROM sc GROUP BY doc_id
"""


SQL_CCNET_BUCKETS = f"""
WITH s AS (
  SELECT doc_id, n_bigrams, surprisal_units,
         CAST(surprisal_units AS DOUBLE) / n_bigrams AS ratio
  FROM ({SQL_SURPRISAL}) _s WHERE n_bigrams > 0),
q AS (SELECT quantile_cont(ratio, [CAST(1.0 / 3.0 AS DOUBLE),
                                   CAST(2.0 / 3.0 AS DOUBLE)]) AS cuts
      FROM s)
SELECT doc_id, n_bigrams, surprisal_units, round(ratio, 6) AS ratio_r,
       CAST(CASE WHEN ratio <= cuts[1] THEN 1
                 WHEN ratio <= cuts[2] THEN 2
                 ELSE 3 END AS INTEGER) AS ppl_bucket
FROM s CROSS JOIN q
"""


# --- token ops: context-window sequence packing (the token-count-driven
# pipeline steps) ------------------------------------------------------------

def q_pack_docs(spark, sf_dir):
    """Concat-and-chop sequence packing: every document lands at a stable
    (seq_id, start_tok, end_tok) in 512-token training sequences; windows
    partition by hash bucket so no global sort exists (see pack_sequences)."""
    from .text import pack_sequences

    docs = _t(spark, sf_dir)["documents"]
    dd = docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    return pack_sequences(dd, "n_tok", seq_tokens=512, key_col="doc_id")


def q_pack_nosplit_docs(spark, sf_dir):
    """No-split (next-fit decreasing) packing: documents never chop
    across sequence boundaries — the SFT/instruction-data packing; see
    pack_sequences_nosplit.  r9: the bucket count AUTO-DERIVES from the
    corpus token total (ceil(total / target)), so the same entry packs
    with different stream counts at different scale factors — the oracle
    derives the identical count from the identical integer arithmetic,
    then replays the per-bucket fold exactly with a recursive CTE."""
    from .text.analysis import pack_sequences_nosplit

    docs = _t(spark, sf_dir)["documents"]
    dd = docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    return pack_sequences_nosplit(
        dd, "n_tok", seq_tokens=512, key_col="doc_id",
        target_bucket_tokens=_PACK_NOSPLIT_TARGET,
    )


def q_dedup_lines_docs(spark, sf_dir):
    """Within-document repeated-line removal (C4/Gopher curation rule).
    The fixture docs are single-line, so the query PLANTS a duplicate by
    construction — line1\\nline2\\nline1 from the document's own substrings
    — and the operator must keep exactly the first two lines, in order.
    Map-only expression fold; md5 of the deduped text keeps long strings
    out of the value hash without losing sensitivity."""
    from .text.analysis import dedup_lines

    docs = _t(spark, sf_dir)["documents"]
    line1 = F.substring("text", 1, 100)
    line2 = F.substring("text", 101, 100)
    lined = docs.select(
        "doc_id", F.concat_ws("\n", line1, line2, line1).alias("_t")
    )
    deduped = dedup_lines(F.col("_t"))
    return lined.select(
        "doc_id",
        F.size(F.split(F.col("_t"), "\n")).alias("n_lines"),
        F.size(F.split(deduped, "\n")).alias("n_kept"),
        F.md5(deduped).alias("dedup_md5"),
    )


SQL_DEDUP_LINES = """
WITH lined AS (
  SELECT doc_id,
         substr(text, 1, 100) || chr(10) || substr(text, 101, 100)
           || chr(10) || substr(text, 1, 100) AS t
  FROM documents),
arrs AS (SELECT doc_id, t, string_split(t, chr(10)) AS arr FROM lined),
flat AS (
  SELECT doc_id, CAST(r.range AS INTEGER) AS ord,
         arr[CAST(r.range AS INTEGER)] AS line
  FROM arrs CROSS JOIN range(1, 4) r
  WHERE r.range <= len(arr)),
firsts AS (
  SELECT doc_id, line, MIN(ord) AS first_ord
  FROM flat GROUP BY doc_id, line),
agg AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY first_ord) AS deduped,
         COUNT(*) AS n_kept
  FROM firsts GROUP BY doc_id)
SELECT a.doc_id, CAST(len(arrs.arr) AS INTEGER) AS n_lines,
       CAST(a.n_kept AS INTEGER) AS n_kept, md5(a.deduped) AS dedup_md5
FROM agg a JOIN arrs USING (doc_id)
"""


def q_dup_spans_docs(spark, sf_dir):
    """Exact substring-duplication detection (Lee et al. 2021 ExactSubstr):
    every 8-token window fingerprinted, a window occurring >= 2 times
    anywhere in the corpus marks a duplicated span; per-document span
    stats with the earliest duplicated position.  Inverted-index shape:
    one shuffle on the window fingerprint, one fold back onto doc_id."""
    from .text.dedup import duplicate_spans

    docs = _t(spark, sf_dir)["documents"]
    out = duplicate_spans(docs, w=8)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        F.col("first_dup_pos").cast("int").alias("first_dup_pos"),
    )


SQL_DUP_SPANS = r"""
WITH t AS (SELECT doc_id,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS tk
           FROM documents),
sp AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         md5(array_to_string(tk[i:i+7], ' ')) AS h
  FROM t, UNNEST(range(1, len(tk) - 6)) AS u(i)
  WHERE len(tk) >= 8),
c AS (SELECT h, COUNT(*) AS n_occ FROM sp GROUP BY h)
SELECT sp.doc_id AS doc_id, COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       CAST(MIN(CASE WHEN n_occ >= 2 THEN pos END) AS INTEGER)
         AS first_dup_pos
FROM sp JOIN c USING (h)
GROUP BY sp.doc_id
"""


def q_bpe_merges_docs(spark, sf_dir):
    """Distributed BPE merge discovery (Sennrich et al. 2016), 3 rounds over
    the corpus vocabulary-frequency table: the corpus is aggregated ONCE
    into (word, count); each round is an explode + weighted hash aggregate
    over the (small) vocabulary, a 1-row argmax collect (model-sized, like
    a watermark), and a map-only merge replace.  Deterministic tiebreak
    (count desc, pair asc); the learned merge table is bit-reproduced by a
    3-round unrolled SQL oracle."""
    from .text.bpe import bpe_train

    docs = _t(spark, sf_dir)["documents"]
    merges, _ = bpe_train(docs, rounds=3)
    return _local_rows(
        spark,
        merges, "round int, pair string, weight long"
    )


def _bpe_round_sql(prev_v: str, p: str, b: str, v: str) -> str:
    """One unrolled BPE round: weighted pair counts over {prev_v}, argmax
    with (count desc, pair asc) tiebreak, merge applied via replace."""
    return f"""
{p} AS (
  SELECT pr, SUM(n) AS c FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> t[CAST(i AS INTEGER)] || ' ' ||
                       t[CAST(i AS INTEGER) + 1])) AS pr, n
    FROM (SELECT regexp_split_to_array(trim(sym), ' ') AS t, n FROM {prev_v})
    WHERE len(t) >= 2)
  GROUP BY pr),
{b} AS (SELECT pr, c FROM {p} ORDER BY c DESC, pr LIMIT 1),
{v} AS (
  SELECT replace(sym,
                 ' ' || (SELECT pr FROM {b}) || ' ',
                 ' ' || (SELECT replace(pr, ' ', '~') FROM {b}) || ' ')
           AS sym, n
  FROM {prev_v})"""


SQL_BPE_MERGES = (
    r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents),
vocab AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w),
v0 AS (
  SELECT ' ' || array_to_string(
           list_transform(range(1, len(w) + 1),
                          i -> substr(w, CAST(i AS INTEGER), 1)), ' ')
       || ' ' AS sym, n
  FROM vocab),"""
    + _bpe_round_sql("v0", "p1", "b1", "v1")
    + ","
    + _bpe_round_sql("v1", "p2", "b2", "v2")
    + ","
    + _bpe_round_sql("v2", "p3", "b3", "v3")
    + """
SELECT 1 AS round, pr AS pair, CAST(c AS BIGINT) AS weight FROM b1
UNION ALL SELECT 2, pr, CAST(c AS BIGINT) FROM b2
UNION ALL SELECT 3, pr, CAST(c AS BIGINT) FROM b3
"""
)


def _merged_priority_histogram(spark, sf_dir):
    """Per-priority histogram sketches of order totals, merged — the scale
    path where per-group exact medians are too heavy; the merge is
    lossless, so the oracles histogram the union directly."""
    from .operators import histogram_merge, histogram_sketch_grouped

    o = _t(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("double").alias("total"),
    )
    sketches = histogram_sketch_grouped(o, ["priority"], "total", 10000.0)
    return histogram_merge(sketches)


def q_histogram_orders(spark, sf_dir):
    return _merged_priority_histogram(spark, sf_dir).select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("long").alias("n"),
    )


def q_hist_p50_orders(spark, sf_dir):
    """The p50 estimate of the merged histogram."""
    from .operators import histogram_quantile

    merged = _merged_priority_histogram(spark, sf_dir)
    return histogram_quantile(merged, 0.5, 10000.0).select(
        F.col("total_n").cast("long").alias("total_n"),
        F.col("quantile_estimate").cast("double").alias("quantile_estimate"),
    )


_SQL_ORDER_BINS = """
SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) / 10000.0) AS BIGINT) AS bin,
       COUNT(*) AS n
FROM orders GROUP BY 1
"""

SQL_HISTOGRAM_ORDERS = f"""
SELECT CAST(bin AS INTEGER) AS bin, CAST(n AS BIGINT) AS n
FROM ({_SQL_ORDER_BINS}) _h
"""

SQL_HIST_P50_ORDERS = f"""
WITH hb AS ({_SQL_ORDER_BINS}),
c AS (SELECT bin, SUM(n) OVER (ORDER BY bin
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM hb),
t AS (SELECT SUM(n) AS total_n FROM hb)
SELECT CAST(t.total_n AS BIGINT) AS total_n,
       CAST(MIN(c.bin) * 10000.0 AS DOUBLE) AS quantile_estimate
FROM c, t
WHERE c.cum >= CAST(ceil(0.5 * t.total_n) AS BIGINT)
GROUP BY t.total_n
"""


# --- part-name fuzzy matching: sorted-neighborhood candidate pairs --------

def q_sorted_neighborhood_parts(spark, sf_dir):
    """Sorted-neighborhood candidate pairs over part names (window 3,
    ordered by name with key tiebreak), Levenshtein-refined to <= 12."""
    from .operators.joins import sorted_neighborhood_pairs

    part = _t(spark, sf_dir)["part"]
    return sorted_neighborhood_pairs(
        part, "p_partkey", "p_name", F.col("p_name"), window=3,
        max_distance=12,
    )


SQL_SORTED_NEIGHBORHOOD = """
WITH r AS (
  SELECT p_partkey AS id, p_name AS t,
         row_number() OVER (ORDER BY p_name, p_partkey) AS rn
  FROM part)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.t, b.t) AS INTEGER) AS distance
FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
WHERE levenshtein(a.t, b.t) <= 12
"""


# ---------------------------------------------------------------------------
# dtsx binder end-to-end: the reference's own sample SSIS packages parsed
# from their actual .dtsx XML and EXECUTED by the engine on fixture-mapped
# inputs (ssis_to_dbt_spark.dtsx).  Ground truth: SalesFactETL.dtsx:79-306,
# CustomerDataLoad.dtsx:69-136, InventorySync.dtsx:104-258.  The oracles
# replicate each package's dataflow (source SQL + lookups + derived-column
# expressions) directly over the raw parquet tables.
# ---------------------------------------------------------------------------

_DTSX_DIR = "/root/reference/samples/ssis_packages"
_DTSX_START = "1995-01-01 00:00:00"
_DTSX_END = "1996-12-31 23:59:59"


def q_dtsx_sales_fact_etl(spark, sf_dir):
    """SalesFactETL.dtsx executed by the engine: OLE DB source SQL with
    ?-bound [StartDate,EndDate], three dimension lookups (Customer/Product
    IgnoreFailure, Date FailComponent), derived Gross/Discount/Net amounts
    compiled from the package's own SSIS expressions."""
    return _dtsx_sales_run(spark, sf_dir)[0]


def _dtsx_sales_run(spark, sf_dir):
    """Shared SalesFactETL execution: returns (fact output, post-DML
    agg.DailySales state).  r14 (r13 VERDICT #1): agg.DailySales binds
    with a two-row pre-state (one row INSIDE the @StartDate..@EndDate
    delete range, one outside), so the package's 'Update Aggregates'
    task (DELETE-range + INSERT..SELECT re-aggregate,
    SalesFactETL.dtsx:294-306) AUTO-BINDS and executes in-view — the
    post-state proves it ran: the in-range row is gone, the out-of-range
    row survives, and the re-aggregated fact rows are appended."""
    from datetime import datetime

    from .dtsx import run_package

    t = _t(spark, sf_dir)
    li, o = t["lineitem"], t["orders"]
    tx = li.join(
        o.select(
            F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_orderdate"
        ),
        "l_orderkey",
    ).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("SaleID"),
        F.col("o_custkey").cast("int").alias("CustomerID"),
        F.col("l_partkey").cast("int").alias("ProductID"),
        F.col("o_orderdate").cast("timestamp").alias("SaleDate"),
        F.col("l_quantity").cast("int").alias("Quantity"),
        F.col("l_extendedprice").cast(_D182).alias("UnitPrice"),
        (F.col("l_discount") * F.lit(100.0)).cast(T.DecimalType(5, 2)).alias(
            "DiscountPercent"
        ),
        F.col("l_suppkey").cast("int").alias("SalesRepID"),
        (F.col("l_suppkey") % 10).cast("int").alias("StoreID"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("IsVoided"),
    )
    dim_customer = t["customer"].select(
        (F.col("c_custkey") + 1000000).cast("int").alias("CustomerKey"),
        F.col("c_custkey").cast("int").alias("CustomerID"),
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("IsCurrent"),
    )
    dim_product = t["part"].select(
        (F.col("p_partkey") + 2000000).cast("int").alias("ProductKey"),
        F.col("p_partkey").cast("int").alias("ProductID"),
        F.col("p_size").cast("int").alias("CategoryID"),
        F.lit(1).alias("IsActive"),
    )
    dim_date = (
        o.select(F.col("o_orderdate").cast("timestamp").alias("FullDate"))
        .distinct()
        .select(
            (
                F.year("FullDate") * 10000
                + F.month("FullDate") * 100
                + F.dayofmonth("FullDate")
            ).cast("int").alias("DateKey"),
            "FullDate",
        )
    )
    agg_pre = spark.createDataFrame(
        [(11110101, 1, 1, 9, 9.0, 9, datetime(1995, 6, 15)),
         (11110102, 2, 2, 8, 8.0, 8, datetime(1999, 1, 1))],
        "DateKey int, ProductKey int, CustomerKey int, TotalQuantity long,"
        " TotalNetAmount double, TransactionCount long, SaleDate timestamp",
    )
    fact_pre = spark.createDataFrame(
        [],
        "SaleID long, CustomerKey int, ProductKey int, CategoryID int,"
        " DateKey int, SaleDate timestamp, Quantity int,"
        " GrossAmount decimal(18,2), DiscountAmount decimal(18,2),"
        " NetAmount decimal(18,2)",
    )
    frames, report = run_package(
        spark,
        f"{_DTSX_DIR}/SalesFactETL.dtsx",
        tables={
            "sales.Transactions": tx,
            "dim.Customer": dim_customer,
            "dim.Product": dim_product,
            "dim.Date": dim_date,
            "agg.DailySales": agg_pre,
            "fact.Sales": fact_pre,
        },
        variables={
            "User::StartDate": datetime.fromisoformat(_DTSX_START),
            "User::EndDate": datetime.fromisoformat(_DTSX_END),
        },
        param_bindings={"Sales Source": ["User::StartDate", "User::EndDate"]},
    )
    statuses = {b.name: b.status for b in report}
    if statuses.get("Update Aggregates") != "bound":
        raise RuntimeError(
            "SalesFactETL 'Update Aggregates' did not auto-bind: "
            f"{statuses.get('Update Aggregates')}"
        )
    agg_post = frames["Update Aggregates"].select(
        F.col("DateKey").cast("long").alias("date_key"),
        F.col("CustomerKey").cast("int").alias("customer_key"),
        F.col("ProductKey").cast("int").alias("product_key"),
        F.col("SaleDate").alias("sale_date"),
        F.col("TotalNetAmount").cast("double").alias("total_net"),
        F.col("TotalQuantity").cast("double").alias("total_qty"),
        F.col("TransactionCount").cast("double").alias("txn_count"),
    )
    out = frames["Load Sales Facts"].select(
        F.col("SaleID").alias("sale_id"),
        F.col("CustomerKey").alias("customer_key"),
        F.col("ProductKey").alias("product_key"),
        F.col("CategoryID").alias("category_id"),
        F.col("DateKey").alias("date_key"),
        F.col("SaleDate").alias("sale_date"),
        F.col("Quantity").alias("quantity"),
        F.col("GrossAmount").alias("gross_amount"),
        F.col("DiscountAmount").alias("discount_amount"),
        F.col("NetAmount").alias("net_amount"),
    )
    return (
        _final_double(out, ["gross_amount", "discount_amount", "net_amount"]),
        _final_double(agg_post, ["total_net"]),
    )


SQL_DTSX_SALES = f"""
WITH tx AS (
  SELECT l.l_orderkey * 10 + l.l_linenumber AS SaleID,
         CAST(o.o_custkey AS INTEGER) AS CustomerID,
         CAST(l.l_partkey AS INTEGER) AS ProductID,
         CAST(o.o_orderdate AS TIMESTAMP) AS SaleDate,
         CAST(l.l_quantity AS INTEGER) AS Quantity,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS UnitPrice,
         CAST(l.l_discount * 100.0 AS DECIMAL(5,2)) AS DiscountPercent,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS IsVoided
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
src AS (
  SELECT * FROM tx
  WHERE SaleDate BETWEEN TIMESTAMP '{_DTSX_START}' AND TIMESTAMP '{_DTSX_END}'
    AND IsVoided = 0
),
cust AS (
  SELECT CAST(c_custkey + 1000000 AS INTEGER) AS CustomerKey,
         CAST(c_custkey AS INTEGER) AS CustomerID
  FROM customer WHERE c_acctbal > 0
),
prod AS (
  SELECT CAST(p_partkey + 2000000 AS INTEGER) AS ProductKey,
         CAST(p_partkey AS INTEGER) AS ProductID,
         CAST(p_size AS INTEGER) AS CategoryID
  FROM part
),
dd AS (
  SELECT DISTINCT CAST(o_orderdate AS TIMESTAMP) AS FullDate,
         CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
              + day(o_orderdate) AS INTEGER) AS DateKey
  FROM orders
)
SELECT s.SaleID AS sale_id,
       cust.CustomerKey AS customer_key,
       prod.ProductKey AS product_key,
       prod.CategoryID AS category_id,
       dd.DateKey AS date_key,
       s.SaleDate AS sale_date,
       s.Quantity AS quantity,
       CAST(round(s.Quantity * s.UnitPrice, 6) AS DOUBLE) AS gross_amount,
       CAST(round(round((s.Quantity * s.UnitPrice)
                        * (s.DiscountPercent * 0.01), 2), 6) AS DOUBLE)
         AS discount_amount,
       CAST(round(round((s.Quantity * s.UnitPrice)
                        - ((s.Quantity * s.UnitPrice)
                           * (s.DiscountPercent * 0.01)), 2), 6) AS DOUBLE)
         AS net_amount
FROM src s
LEFT JOIN cust ON s.CustomerID = cust.CustomerID
LEFT JOIN prod ON s.ProductID = prod.ProductID
JOIN dd ON s.SaleDate = dd.FullDate
"""


def q_dtsx_customer_load(spark, sf_dir):
    """CustomerDataLoad.dtsx executed by the engine: ?-bound incremental
    source filter, FullName / EmailDomain derived columns (the package's
    SUBSTRING/FINDSTRING/LEN and NULL-propagating ``+`` expressions)."""
    return _dtsx_customer_run(spark, sf_dir)[0]


def _dtsx_customer_run(spark, sf_dir):
    """Shared CustomerDataLoad execution: returns (data-flow output,
    post-MERGE dim.Customer state, post-TRUNCATE staging state).

    r14 (r13 VERDICT #1): binding stg.Customer + dim.Customer flips the
    package's remaining two ExecuteSQL tasks from manual to bound —
    'Truncate Staging' (CustomerDataLoad.dtsx:51 -> in-view D1 truncate)
    and 'Merge to Dimension' (dtsx:166-181, the SCD MERGE with the
    HASHBYTES change-hash compare -> the join-based rewrite,
    operators/scd.py:merge_upsert's statement twin).  The dim pre-state
    is built to discriminate all four MERGE outcomes: even CustomerIDs
    exist in the dim ('OLD ' names, IsCurrent 0), of which %4==0 carry
    the CORRECT change hash (matched, hash equal -> untouched) and
    %4==2 carry 'stale' (matched, hash differs -> updated in place);
    loaded odd IDs are absent (inserted, hash NULL); unloaded even IDs
    pass through untouched."""
    from datetime import datetime

    from .dtsx import run_package

    cust = _t(spark, sf_dir)["customer"]
    crm = cust.select(
        F.col("c_custkey").cast("int").alias("CustomerID"),
        F.substring("c_name", 1, 8).alias("FirstName"),
        F.substring("c_name", 10, 9).alias("LastName"),
        F.concat(
            F.lower(F.regexp_replace("c_name", "[^A-Za-z0-9]", "")),
            F.lit("@"),
            F.lower(F.col("c_mktsegment")),
            F.lit(".example.com"),
        ).alias("Email"),
        F.concat(
            F.lit("555-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        ).alias("Phone"),
        F.date_add(F.lit("1993-01-01").cast("date"), (F.col("c_custkey") % 900).cast("int"))
        .cast("timestamp").alias("CreatedDate"),
        F.date_add(F.lit("1994-01-01").cast("date"), (F.col("c_custkey") % 1000).cast("int"))
        .cast("timestamp").alias("ModifiedDate"),
    )
    # staging pre-state: data-flow output schema + a poison row the bound
    # TRUNCATE must remove (its task frame is the post-truncate state)
    stg_pre = spark.createDataFrame(
        [(-1, "POISON", "P", "p@p", "0",
          datetime(1990, 1, 1), datetime(1990, 1, 1), "POISON P", "p")],
        "CustomerID int, FirstName string, LastName string, Email string,"
        " Phone string, CreatedDate timestamp, ModifiedDate timestamp,"
        " FullName string, EmailDomain string",
    )
    dim_pre = crm.filter(F.col("CustomerID") % 2 == 0).select(
        "CustomerID",
        "FirstName",
        "LastName",
        F.concat(F.lit("OLD "), F.col("FirstName")).alias("FullName"),
        "Email",
        "Phone",
        F.substring_index("Email", "@", -1).alias("EmailDomain"),
        "CreatedDate",
        "ModifiedDate",
        F.lit(0).cast("int").alias("IsCurrent"),
        F.when(
            F.col("CustomerID") % 4 == 0,
            F.sha2(F.concat("FirstName", "LastName", "Email"), 256),
        ).otherwise(F.lit("stale")).alias("CustomerHash"),
    )
    frames, report = run_package(
        spark,
        f"{_DTSX_DIR}/CustomerDataLoad.dtsx",
        tables={
            "crm.Customers": crm,
            "stg.Customer": stg_pre,
            "dim.Customer": dim_pre,
        },
        variables={"User::LoadDate": datetime(1994, 3, 1)},
        param_bindings={"OLE DB Source": ["User::LoadDate"]},
    )
    statuses = {b.name: b.status for b in report}
    for task in ("Truncate Staging", "Merge to Dimension"):
        if statuses.get(task) != "bound":
            raise RuntimeError(
                f"CustomerDataLoad {task!r} did not auto-bind: "
                f"{statuses.get(task)}"
            )
    loaded = frames["Load Customer Data"].select(
        F.col("CustomerID").alias("customer_id"),
        F.col("FullName").alias("full_name"),
        F.col("Email").alias("email"),
        F.col("EmailDomain").alias("email_domain"),
        F.col("Phone").alias("phone"),
        F.col("ModifiedDate").alias("modified_date"),
    )
    merge_post = frames["Merge to Dimension"].select(
        F.col("CustomerID").alias("customer_id"),
        F.col("FullName").alias("full_name"),
        F.col("EmailDomain").alias("email_domain"),
        F.col("CustomerHash").alias("customer_hash"),
        F.col("IsCurrent").cast("int").alias("is_current"),
    )
    return loaded, merge_post, frames["Truncate Staging"]


SQL_DTSX_CUSTOMER = """
WITH crm AS (
  SELECT CAST(c_custkey AS INTEGER) AS CustomerID,
         substring(c_name, 1, 8) AS FirstName,
         substring(c_name, 10, 9) AS LastName,
         lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) || '@'
           || lower(c_mktsegment) || '.example.com' AS Email,
         '555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS Phone,
         CAST(DATE '1994-01-01'
              + CAST(c_custkey % 1000 AS INTEGER) AS TIMESTAMP) AS ModifiedDate
  FROM customer
)
SELECT CustomerID AS customer_id,
       FirstName || ' ' || LastName AS full_name,
       Email AS email,
       substring(Email, strpos(Email, '@') + 1, length(Email)) AS email_domain,
       Phone AS phone,
       ModifiedDate AS modified_date
FROM crm
WHERE ModifiedDate >= TIMESTAMP '1994-03-01 00:00:00'
"""


def q_dtsx_inventory_sync(spark, sf_dir):
    """InventorySync.dtsx data flow executed by the engine: lookups with NO
    declared <inputs> (name-inferred join mapping), nested-ternary
    StockStatus, integer-division DaysOfSupply, decimal InventoryValue."""
    return _dtsx_inventory_run(spark, sf_dir)[0]


def _dtsx_inventory_run(spark, sf_dir):
    """Shared InventorySync execution: returns (data-flow output,
    post-UPDATE stg flag state).  r13 (r12 VERDICT #6): the SyncLog
    binds with the FULL audit schema, so the package's 'Update Sync
    Log' task (INSERT audit row + UPDATE ProcessedFlag,
    InventorySync.dtsx:266-269) AUTO-BINDS and executes in-view — the
    flag frame proves it ran (stg is built with ProcessedFlag =
    p_partkey % 2; only the bound UPDATE flips the zeros to 1)."""
    from .dtsx import run_package

    t = _t(spark, sf_dir)
    part, nation = t["part"], t["nation"]
    stg = part.select(
        F.concat(F.lit("SKU-"), F.col("p_partkey").cast("string")).alias("ProductSKU"),
        F.concat(F.lit("W"), (F.col("p_partkey") % 25).cast("string")).alias(
            "WarehouseCode"
        ),
        (F.col("p_size") * 10).cast("int").alias("QuantityOnHand"),
        (F.col("p_size") * 2).cast("int").alias("QuantityReserved"),
        ((F.col("p_partkey") % 25) - 2).cast("int").alias("QuantityAvailable"),
        F.date_add(
            F.lit("1997-01-01").cast("date"), (F.col("p_partkey") % 300).cast("int")
        ).alias("LastCountDate"),
        (F.col("p_partkey") % 40).cast("int").alias("ReorderPoint"),
        (F.col("p_size") * 20).cast("int").alias("MaxStockLevel"),
        F.col("p_retailprice").cast(_D184).alias("UnitCost"),
        (F.col("p_partkey") % 2).cast("int").alias("ProcessedFlag"),
    )
    dim_product = part.select(
        (F.col("p_partkey") + 2000000).cast("int").alias("ProductKey"),
        F.concat(F.lit("SKU-"), F.col("p_partkey").cast("string")).alias("SKU"),
        F.when(F.col("p_size") > 5, 1).otherwise(0).alias("IsActive"),
    )
    dim_wh = nation.select(
        (F.col("n_nationkey") + 500).cast("int").alias("WarehouseKey"),
        F.concat(F.lit("W"), F.col("n_nationkey").cast("string")).alias(
            "WarehouseCode"
        ),
    )
    synclog = t["orders"].select(
        F.max("o_orderdate").cast("timestamp").alias("LastSyncTime"),
        F.lit("Inventory").alias("SyncType"),
        F.lit("Success").alias("Status"),
        F.lit(0).cast("int").alias("RecordsProcessed"),
        F.max("o_orderdate").cast("timestamp").alias("CompletedAt"),
    )
    frames, report = run_package(
        spark,
        f"{_DTSX_DIR}/InventorySync.dtsx",
        tables={
            "stg.InventoryAPI": stg,
            "dim.Product": dim_product,
            "dim.Warehouse": dim_wh,
            "etl.SyncLog": synclog,
        },
    )
    statuses = {b.name: b.status for b in report}
    if statuses.get("Update Sync Log") != "bound":
        raise RuntimeError(
            "InventorySync 'Update Sync Log' did not auto-bind: "
            f"{statuses.get('Update Sync Log')}"
        )
    flag = spark.table("inventorysync__stg_inventoryapi").select(
        F.col("ProductSKU").alias("product_sku"),
        F.col("ProcessedFlag").cast("int").alias("processed_flag"),
    )
    out = frames["Load Inventory Updates"].select(
        F.col("ProductSKU").alias("product_sku"),
        F.col("ProductKey").alias("product_key"),
        F.col("WarehouseKey").alias("warehouse_key"),
        F.col("QuantityAvailable").alias("quantity_available"),
        F.col("StockStatus").alias("stock_status"),
        F.col("DaysOfSupply").alias("days_of_supply"),
        F.col("InventoryValue").alias("inventory_value"),
    )
    return _final_double(out, ["inventory_value"]), flag


SQL_DTSX_INVENTORY = """
WITH stg AS (
  SELECT 'SKU-' || CAST(p_partkey AS VARCHAR) AS ProductSKU,
         'W' || CAST(p_partkey % 25 AS VARCHAR) AS WarehouseCode,
         CAST(p_size * 10 AS INTEGER) AS QuantityOnHand,
         CAST((p_partkey % 25) - 2 AS INTEGER) AS QuantityAvailable,
         CAST(p_partkey % 40 AS INTEGER) AS ReorderPoint,
         CAST(p_retailprice AS DECIMAL(18,4)) AS UnitCost
  FROM part WHERE (p_partkey % 2) = 0
),
prod AS (
  SELECT CAST(p_partkey + 2000000 AS INTEGER) AS ProductKey,
         'SKU-' || CAST(p_partkey AS VARCHAR) AS SKU
  FROM part WHERE p_size > 5
),
wh AS (
  SELECT CAST(n_nationkey + 500 AS INTEGER) AS WarehouseKey,
         'W' || CAST(n_nationkey AS VARCHAR) AS WarehouseCode
  FROM nation
)
SELECT s.ProductSKU AS product_sku,
       prod.ProductKey AS product_key,
       wh.WarehouseKey AS warehouse_key,
       s.QuantityAvailable AS quantity_available,
       CASE WHEN s.QuantityAvailable <= 0 THEN 'Out of Stock'
            WHEN s.QuantityAvailable < s.ReorderPoint THEN 'Low Stock'
            ELSE 'In Stock' END AS stock_status,
       CASE WHEN s.ReorderPoint > 0
            THEN CAST(trunc((CAST(s.QuantityAvailable AS DOUBLE)
                             / s.ReorderPoint) * 30) AS INTEGER)
            ELSE 0 END AS days_of_supply,
       CAST(round(round(s.QuantityOnHand * s.UnitCost, 4), 6) AS DOUBLE)
         AS inventory_value
FROM stg s
LEFT JOIN prod ON s.ProductSKU = prod.SKU
LEFT JOIN wh ON s.WarehouseCode = wh.WarehouseCode
"""


def q_dtsx_order_routing(spark, sf_dir):
    """Branched-<paths> fixture package executed by the engine: the repo's
    own OrderRouting.dtsx wires an explicit <paths> fan-out (the three
    reference samples chain in document order, so this is the package that
    exercises real path routing end-to-end) — DataConversion with an error
    output (unparsable Amount strings routed to err.BadAmounts) feeding a
    ConditionalSplit with two expression outputs + default, each branch to
    its own OLE DB destination.  One row per input order tagged with the
    branch that received it."""
    import os

    from .dtsx import run_package

    t = _t(spark, sf_dir)
    o = t["orders"]
    feed = o.select(
        F.col("o_orderkey").cast("long").alias("OrderID"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("N/A"))
        .otherwise(F.col("o_totalprice").cast(_D182).cast("string"))
        .alias("Amount"),
        F.col("o_orderpriority").alias("Priority"),
    )
    pkg_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "fixtures",
        "OrderRouting.dtsx",
    )
    run_package(spark, pkg_path, tables={"sales.OrderFeed": feed})

    def pick(view, branch):
        return spark.table(view).select(
            F.col("OrderID").cast("long").alias("order_id"),
            F.lit(branch).alias("branch"),
            F.col("Priority").alias("priority"),
            F.col("AmountNum").cast("double").alias("amount_num"),
        )

    return _union_all(
        [
            pick("orderrouting__route_highvalue", "high_value"),
            pick("orderrouting__route_urgent", "urgent"),
            pick("orderrouting__route_standard", "standard"),
            pick("orderrouting__err_badamounts", "error"),
        ]
    )


SQL_DTSX_ROUTING = """
WITH feed AS (
  SELECT o_orderkey AS OrderID,
         CASE WHEN o_orderkey % 97 = 0 THEN 'N/A'
              ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
         END AS Amount,
         o_orderpriority AS Priority
  FROM orders),
conv AS (
  SELECT OrderID, Amount, Priority,
         TRY_CAST(Amount AS DECIMAL(18,2)) AS AmountNum
  FROM feed),
tagged AS (
  SELECT *, CASE WHEN Amount IS NOT NULL AND AmountNum IS NULL THEN 'error'
                 WHEN AmountNum > 150000 THEN 'high_value'
                 WHEN Priority = '1-URGENT' THEN 'urgent'
                 ELSE 'standard' END AS branch
  FROM conv)
SELECT CAST(OrderID AS BIGINT) AS order_id, branch,
       Priority AS priority,
       CASE WHEN branch = 'error' THEN NULL
            ELSE CAST(AmountNum AS DOUBLE) END AS amount_num
FROM tagged
"""


def q_dtsx_packages(spark, sf_dir):
    """Driver suite: all three reference sample packages parsed from their
    .dtsx XML and executed end-to-end, outputs normalized and unioned."""
    sales_out, agg_post = _dtsx_sales_run(spark, sf_dir)
    cdl_loaded, cdl_merge, cdl_trunc = _dtsx_customer_run(spark, sf_dir)
    sales = sales_out.select(
        F.lit("sales_fact").alias("component"),
        F.col("sale_id").cast("long").alias("id"),
        F.col("customer_key").cast("int").alias("key_a"),
        F.col("product_key").cast("int").alias("key_b"),
        _nul("string").alias("txt_a"),
        _nul("string").alias("txt_b"),
        F.col("sale_date").alias("ts"),
        F.col("gross_amount").cast("double").alias("num_a"),
        F.col("discount_amount").cast("double").alias("num_b"),
        F.col("net_amount").cast("double").alias("num_c"),
        F.col("date_key").cast("int").alias("num_i"),
    )
    cdl = cdl_loaded.select(
        F.lit("customer_load").alias("component"),
        F.col("customer_id").cast("long").alias("id"),
        _nul("int").alias("key_a"),
        _nul("int").alias("key_b"),
        F.col("full_name").alias("txt_a"),
        F.col("email_domain").alias("txt_b"),
        F.col("modified_date").alias("ts"),
        _nul("double").alias("num_a"),
        _nul("double").alias("num_b"),
        _nul("double").alias("num_c"),
        _nul("int").alias("num_i"),
    )
    inv_out, inv_flag = _dtsx_inventory_run(spark, sf_dir)
    inv = inv_out.select(
        F.lit("inventory_sync").alias("component"),
        _nul("long").alias("id"),
        F.col("product_key").cast("int").alias("key_a"),
        F.col("warehouse_key").cast("int").alias("key_b"),
        F.col("product_sku").alias("txt_a"),
        F.col("stock_status").alias("txt_b"),
        _nul("timestamp").alias("ts"),
        F.col("inventory_value").cast("double").alias("num_a"),
        _nul("double").alias("num_b"),
        _nul("double").alias("num_c"),
        F.col("days_of_supply").cast("int").alias("num_i"),
    )
    # r13 (r12 VERDICT #6): the auto-bound UPDATE-flag task's post-state
    # — every ProcessedFlag is 1 ONLY because the bound DML executed
    invf = inv_flag.select(
        F.lit("inv_flag").alias("component"),
        _nul("long").alias("id"),
        _nul("int").alias("key_a"),
        _nul("int").alias("key_b"),
        F.col("product_sku").alias("txt_a"),
        _nul("string").alias("txt_b"),
        _nul("timestamp").alias("ts"),
        _nul("double").alias("num_a"),
        _nul("double").alias("num_b"),
        _nul("double").alias("num_c"),
        F.col("processed_flag").cast("int").alias("num_i"),
    )
    # r14 (r13 VERDICT #1): post-states of the newly auto-bound DML tasks.
    # cdl_merge — the SCD MERGE's four outcomes are value-discriminated
    # (full_name OLD/new, customer_hash hex/'stale'/NULL, is_current 0/1);
    # cdl_trunc — the TRUNCATE task's post-state row count (0);
    # sales_agg — DELETE-range survivor + INSERT..SELECT re-aggregates.
    cdlm = cdl_merge.select(
        F.lit("cdl_merge").alias("component"),
        F.col("customer_id").cast("long").alias("id"),
        _nul("int").alias("key_a"),
        _nul("int").alias("key_b"),
        F.col("full_name").alias("txt_a"),
        F.col("customer_hash").alias("txt_b"),
        _nul("timestamp").alias("ts"),
        _nul("double").alias("num_a"),
        _nul("double").alias("num_b"),
        _nul("double").alias("num_c"),
        F.col("is_current").alias("num_i"),
    )
    cdlt = cdl_trunc.agg(F.count(F.lit(1)).cast("int").alias("n")).select(
        F.lit("cdl_trunc").alias("component"),
        _nul("long").alias("id"),
        _nul("int").alias("key_a"),
        _nul("int").alias("key_b"),
        _nul("string").alias("txt_a"),
        _nul("string").alias("txt_b"),
        _nul("timestamp").alias("ts"),
        _nul("double").alias("num_a"),
        _nul("double").alias("num_b"),
        _nul("double").alias("num_c"),
        F.col("n").alias("num_i"),
    )
    sagg = agg_post.select(
        F.lit("sales_agg").alias("component"),
        F.col("date_key").alias("id"),
        F.col("customer_key").alias("key_a"),
        F.col("product_key").alias("key_b"),
        _nul("string").alias("txt_a"),
        _nul("string").alias("txt_b"),
        F.col("sale_date").alias("ts"),
        F.col("total_net").alias("num_a"),
        F.col("total_qty").alias("num_b"),
        F.col("txn_count").alias("num_c"),
        _nul("int").alias("num_i"),
    )
    rt = q_dtsx_order_routing(spark, sf_dir).select(
        F.lit("order_routing").alias("component"),
        F.col("order_id").cast("long").alias("id"),
        _nul("int").alias("key_a"),
        _nul("int").alias("key_b"),
        F.col("branch").alias("txt_a"),
        F.col("priority").alias("txt_b"),
        _nul("timestamp").alias("ts"),
        F.col("amount_num").cast("double").alias("num_a"),
        _nul("double").alias("num_b"),
        _nul("double").alias("num_c"),
        _nul("int").alias("num_i"),
    )
    return _union_all([sales, cdl, inv, invf, rt, cdlm, cdlt, sagg])


SQL_DTSX_PACKAGES = f"""
SELECT 'sales_fact' AS component, CAST(sale_id AS BIGINT) AS id,
       CAST(customer_key AS INTEGER) AS key_a,
       CAST(product_key AS INTEGER) AS key_b,
       {_NULL_STR} AS txt_a, {_NULL_STR} AS txt_b, sale_date AS ts,
       gross_amount AS num_a, discount_amount AS num_b, net_amount AS num_c,
       CAST(date_key AS INTEGER) AS num_i
FROM ({SQL_DTSX_SALES}) _s
UNION ALL
SELECT 'customer_load', CAST(customer_id AS BIGINT), {_NULL_INT}, {_NULL_INT},
       full_name, email_domain, modified_date, {_NULL_DOUBLE}, {_NULL_DOUBLE},
       {_NULL_DOUBLE}, {_NULL_INT}
FROM ({SQL_DTSX_CUSTOMER}) _c
UNION ALL
SELECT 'inventory_sync', {_NULL_BIGINT}, CAST(product_key AS INTEGER),
       CAST(warehouse_key AS INTEGER), product_sku, stock_status, {_NULL_TS},
       inventory_value, {_NULL_DOUBLE}, {_NULL_DOUBLE},
       CAST(days_of_supply AS INTEGER)
FROM ({SQL_DTSX_INVENTORY}) _i
UNION ALL
SELECT 'inv_flag', {_NULL_BIGINT}, {_NULL_INT}, {_NULL_INT},
       'SKU-' || CAST(p_partkey AS VARCHAR), {_NULL_STR}, {_NULL_TS},
       {_NULL_DOUBLE}, {_NULL_DOUBLE}, {_NULL_DOUBLE}, 1
FROM part
UNION ALL
SELECT 'order_routing', CAST(order_id AS BIGINT), {_NULL_INT}, {_NULL_INT},
       branch, priority, {_NULL_TS}, amount_num, {_NULL_DOUBLE},
       {_NULL_DOUBLE}, {_NULL_INT}
FROM ({SQL_DTSX_ROUTING}) _r
UNION ALL
-- r14: post-MERGE dim.Customer (CustomerDataLoad.dtsx:166-181 replayed:
-- matched+hash-differs -> updated, matched+hash-equal -> untouched,
-- loaded-unmatched -> inserted, unloaded dim rows pass through)
SELECT 'cdl_merge', CAST(CustomerID AS BIGINT), {_NULL_INT}, {_NULL_INT},
       FullName, CustomerHash, {_NULL_TS}, {_NULL_DOUBLE}, {_NULL_DOUBLE},
       {_NULL_DOUBLE}, IsCurrent
FROM (
  WITH crm2 AS (
    SELECT CAST(c_custkey AS INTEGER) AS CustomerID,
           substring(c_name, 1, 8) AS FirstName,
           substring(c_name, 10, 9) AS LastName,
           lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) || '@'
             || lower(c_mktsegment) || '.example.com' AS Email,
           CAST(DATE '1994-01-01'
                + CAST(c_custkey % 1000 AS INTEGER) AS TIMESTAMP)
             AS ModifiedDate
    FROM customer
  ),
  loaded AS (
    SELECT CustomerID, FirstName, LastName,
           FirstName || ' ' || LastName AS FullName, Email
    FROM crm2 WHERE ModifiedDate >= TIMESTAMP '1994-03-01 00:00:00'
  ),
  dim_pre AS (
    SELECT CustomerID, 'OLD ' || FirstName AS FullName,
           CASE WHEN CustomerID % 4 = 0
                THEN sha256(FirstName || LastName || Email)
                ELSE 'stale' END AS CustomerHash,
           0 AS IsCurrent
    FROM crm2 WHERE CustomerID % 2 = 0
  )
  SELECT t.CustomerID,
         CASE WHEN s.CustomerID IS NOT NULL AND t.CustomerHash !=
                   sha256(concat(coalesce(CAST(s.FirstName AS VARCHAR), ''),
                                 coalesce(CAST(s.LastName AS VARCHAR), ''),
                                 coalesce(CAST(s.Email AS VARCHAR), '')))
              THEN s.FullName ELSE t.FullName END AS FullName,
         t.CustomerHash,
         CASE WHEN s.CustomerID IS NOT NULL AND t.CustomerHash !=
                   sha256(concat(coalesce(CAST(s.FirstName AS VARCHAR), ''),
                                 coalesce(CAST(s.LastName AS VARCHAR), ''),
                                 coalesce(CAST(s.Email AS VARCHAR), '')))
              THEN 1 ELSE t.IsCurrent END AS IsCurrent
  FROM dim_pre t LEFT JOIN loaded s ON t.CustomerID = s.CustomerID
  UNION ALL
  SELECT s.CustomerID, s.FullName, CAST(NULL AS VARCHAR), 1
  FROM loaded s
  WHERE NOT EXISTS (SELECT 1 FROM dim_pre t
                    WHERE t.CustomerID = s.CustomerID)
) _m
UNION ALL
-- r14: post-TRUNCATE staging state (CustomerDataLoad.dtsx:51) — the
-- bound task's frame is the truncated table: zero rows
SELECT 'cdl_trunc', {_NULL_BIGINT}, {_NULL_INT}, {_NULL_INT}, {_NULL_STR},
       {_NULL_STR}, {_NULL_TS}, {_NULL_DOUBLE}, {_NULL_DOUBLE},
       {_NULL_DOUBLE}, 0
UNION ALL
-- r14: post-DML agg.DailySales (SalesFactETL.dtsx:294-306): the in-range
-- pre-state row is DELETEd, the out-of-range row survives, and the
-- INSERT..SELECT re-aggregates the freshly loaded facts (every fact
-- DateKey passes the dim.Date range subquery — the source filter
-- already bounded SaleDate to the same range)
SELECT 'sales_agg', CAST(11110102 AS BIGINT), 2, 2, {_NULL_STR},
       {_NULL_STR}, TIMESTAMP '1999-01-01 00:00:00', 8.0, 8.0, 8.0,
       {_NULL_INT}
UNION ALL
SELECT 'sales_agg', CAST(date_key AS BIGINT),
       CAST(customer_key AS INTEGER), CAST(product_key AS INTEGER),
       {_NULL_STR}, {_NULL_STR}, {_NULL_TS},
       CAST(round(SUM(net_amount), 6) AS DOUBLE),
       CAST(SUM(quantity) AS DOUBLE), CAST(COUNT(*) AS DOUBLE),
       {_NULL_INT}
FROM ({SQL_DTSX_SALES}) _f
GROUP BY date_key, customer_key, product_key
"""


# ---------------------------------------------------------------------------
# Round 6 (cont.): k-means training, near-dup pruning, char entropy,
# temperature mixture.
# ---------------------------------------------------------------------------

def q_fps_seeds(spark, sf_dir):
    """Deterministic farthest-point (k-means++-style) seeding over the
    embeddings table: md5-anchored first seed, then argmax of the
    round-6-quantized minimum cosine distance with lowest-id ties — the
    exact seed SEQUENCE (ids and vectors) is reproduced by the unrolled
    SQL oracle."""
    from .text.similarity import farthest_point_seeds

    emb = _t(spark, sf_dir)["embeddings"]
    seeds = farthest_point_seeds(emb, k=4)
    return _local_rows(
        spark,
        [
            (i, int(sid), d, float(x))
            for i, sid, vec in seeds
            for d, x in enumerate(vec)
        ],
        "seed_idx int, vec_id long, dim int, val double",
    )


def _fps_cos(a: str, b: str) -> str:
    return (
        f"CASE WHEN sqrt(list_inner_product({a}, {a}))"
        f" * sqrt(list_inner_product({b}, {b})) > 0"
        f" THEN list_inner_product({a}, {b})"
        f" / (sqrt(list_inner_product({a}, {a}))"
        f" * sqrt(list_inner_product({b}, {b})))"
        f" ELSE 0.0 END"
    )


SQL_FPS_SEEDS = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
f0 AS (SELECT vec_id, v FROM e
       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
d1 AS (SELECT e.vec_id, e.v,
              round(1.0 - ({_fps_cos('e.v', 'f0.v')}), 6) AS d
       FROM e, f0),
f1 AS (SELECT vec_id, v FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
d2 AS (SELECT e.vec_id, e.v,
              round(1.0 - greatest({_fps_cos('e.v', 'f0.v')},
                                   {_fps_cos('e.v', 'f1.v')}), 6) AS d
       FROM e, f0, f1),
f2 AS (SELECT vec_id, v FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
d3 AS (SELECT e.vec_id, e.v,
              round(1.0 - greatest({_fps_cos('e.v', 'f0.v')},
                                   {_fps_cos('e.v', 'f1.v')},
                                   {_fps_cos('e.v', 'f2.v')}), 6) AS d
       FROM e, f0, f1, f2),
f3 AS (SELECT vec_id, v FROM d3 ORDER BY d DESC, vec_id LIMIT 1),
seeds AS (
  SELECT 0 AS seed_idx, vec_id, v FROM f0
  UNION ALL SELECT 1, vec_id, v FROM f1
  UNION ALL SELECT 2, vec_id, v FROM f2
  UNION ALL SELECT 3, vec_id, v FROM f3)
SELECT CAST(seed_idx AS INTEGER) AS seed_idx, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS dim,
       unnest(v) AS val
FROM seeds
"""


def q_kmeans_embeddings(spark, sf_dir):
    """k-means (Lloyd) TRAINED on the corpus — k=4, 2 rounds from the
    deterministic lowest-id init — then the final assignment with the
    trained centroids.  Per round the corpus never shuffles (assignment is
    map-only against literal centroids; means are one (cell, dim)-keyed
    decimal agg) and the only driver traffic is the k x dims rounded-mean
    table.  Because every mean is round(·,6)-quantized before becoming a
    literal, the unrolled SQL oracle replays the identical training
    trajectory bit-for-bit.  Output: 'centroid' rows (cell, dim, mean) +
    'assign' rows (vec_id, cell, cosine)."""
    from .text.similarity import ivf_assign, kmeans_fit

    emb = _t(spark, sf_dir)["embeddings"]
    cents = kmeans_fit(emb, k=4, rounds=2)
    assigned = ivf_assign(emb, cents, sim_col="_sim")
    cent_rows = _local_rows(
        spark,
        [(cid, dim, float(v)) for cid, vec in cents for dim, v in enumerate(vec)],
        "id_a long, dim int, v1 double",
    ).select(F.lit("centroid").alias("component"), "id_a", "dim", "v1")
    asg = assigned.select(
        F.lit("assign").alias("component"),
        F.col("vec_id").cast("long").alias("id_a"),
        F.col("cell").cast("int").alias("dim"),
        F.round(F.col("_sim"), 6).alias("v1"),
    )
    return cent_rows.unionByName(asg)


def _kmeans_sql_round(prev_cent: str, prev_centx: str, r: int) -> str:
    """One unrolled Lloyd round: assign against ``prev_cent``, decimal-mean
    per (cell, dim), coalesce empty cells from ``prev_centx``."""
    return f"""s{r} AS (SELECT e.vec_id, e.v, {prev_cent}.cid,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product({prev_cent}.c, {prev_cent}.c)) > 0
              THEN list_inner_product(e.v, {prev_cent}.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product({prev_cent}.c, {prev_cent}.c)))
              ELSE 0.0 END AS sim
       FROM e CROSS JOIN {prev_cent}),
a{r} AS (SELECT vec_id, v, cid, sim
       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid) AS rn
             FROM s{r}) WHERE rn = 1),
x{r} AS (SELECT cid, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS val
       FROM a{r}),
m{r} AS (SELECT cid, dim,
              round(CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE)
                    / COUNT(*), 6) AS m
       FROM x{r} GROUP BY cid, dim),
c{r}x AS (SELECT p.cid, p.dim, coalesce(m{r}.m, p.val) AS val
        FROM {prev_centx} p LEFT JOIN m{r}
          ON m{r}.cid = p.cid AND m{r}.dim = p.dim),
c{r} AS (SELECT cid, list(val ORDER BY dim) AS c FROM c{r}x GROUP BY cid)"""


SQL_KMEANS = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       FROM (SELECT * FROM e ORDER BY vec_id LIMIT 4)),
c0x AS (SELECT cid, generate_subscripts(c, 1) - 1 AS dim, unnest(c) AS val
        FROM c0),
{_kmeans_sql_round('c0', 'c0x', 1)},
{_kmeans_sql_round('c1', 'c1x', 2)},
s3 AS (SELECT e.vec_id, c2.cid,
         CASE WHEN sqrt(list_inner_product(e.v, e.v))
                   * sqrt(list_inner_product(c2.c, c2.c)) > 0
              THEN list_inner_product(e.v, c2.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(c2.c, c2.c)))
              ELSE 0.0 END AS sim
       FROM e CROSS JOIN c2),
a3 AS (SELECT vec_id, cid, sim
       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid) AS rn
             FROM s3) WHERE rn = 1)
SELECT 'centroid' AS component, CAST(cid AS BIGINT) AS id_a,
       CAST(dim AS INTEGER) AS dim, val AS v1
FROM c2x
UNION ALL
SELECT 'assign', CAST(vec_id AS BIGINT), CAST(cid AS INTEGER), round(sim, 6)
FROM a3
"""


def q_neardup_prune_docs(spark, sf_dir, pairs=None):
    """Near-dup PRUNING — the step after clustering: keep ONE representative
    per near-dup cluster (longest text wins, ties to the lowest doc_id —
    the C4/RefinedWeb keep-longest policy) and pass singletons through.
    Scale shape: the component table is pair-derived (candidate docs only,
    << corpus), so it and everything built from it broadcast, the
    representative window runs over the small clustered subset only, and
    the corpus itself is decided map-side — never re-shuffled and never
    window-scanned whole."""
    from .text.dedup import prune_clusters

    docs = _t(spark, sf_dir)["documents"]
    if pairs is None:
        pairs = minhash_candidates_md5(docs)
    return prune_clusters(docs, pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size"),
        F.col("kept"),
    )


SQL_NEARDUP_PRUNE = f"""
WITH RECURSIVE {_MINHASH_MD5_CTES},
{_NEARDUP_COMP_CTES},
sizes AS (SELECT canonical_id, COUNT(*) AS cluster_size
          FROM comp GROUP BY canonical_id),
reps AS (
  SELECT canonical_id, doc_id AS rep_id FROM (
    SELECT c.canonical_id, d.doc_id,
           row_number() OVER (PARTITION BY c.canonical_id
                              ORDER BY d.n_chars DESC, d.doc_id) AS rn
    FROM comp c JOIN documents d USING (doc_id)) WHERE rn = 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(c.canonical_id, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
       (c.doc_id IS NULL OR d.doc_id = r.rep_id) AS kept
FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id
LEFT JOIN sizes s ON s.canonical_id = c.canonical_id
LEFT JOIN reps r ON r.canonical_id = c.canonical_id
"""


def q_decay_events(spark, sf_dir):
    """Exact-integer time-decayed user activity (feature-store EWMA): per
    user, newest event full weight and each older event half, truncated at
    the 16 newest — score_units = sum v_units[j] << (15-j), every term an
    exact BIGINT.  One window shuffle with WindowGroupLimit pre-trim: hot
    users cannot blow up a partition."""
    from .operators.window import time_decay_score

    e = _t(spark, sf_dir)["events"]
    out = time_decay_score(
        e, ["user_id"], ["ts", "event_id"], "value", depth=16
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("score_units").cast("long").alias("score_units"),
        F.col("n_events"),
        F.col("last_ts").cast("timestamp").alias("last_ts"),
    )


SQL_DECAY_EVENTS = """
WITH r AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vu,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(vu * (CAST(1 AS BIGINT) << (16 - rn))) AS BIGINT)
         AS score_units,
       CAST(COUNT(*) AS INTEGER) AS n_events,
       MAX(CAST(ts AS TIMESTAMP)) AS last_ts
FROM r WHERE rn <= 16
GROUP BY user_id
"""


def q_cross_dedup_docs(spark, sf_dir):
    """Incremental ingestion dedup: candidate pairs between a NEW batch
    (doc_id % 5 = 0 — a fifth of the corpus standing in for today's crawl)
    and the existing corpus, never within either side.  At 100 TB the
    corpus band table persists bucketed and the batch side broadcasts —
    see cross_corpus_candidates."""
    from .text.dedup import cross_corpus_candidates

    docs = _t(spark, sf_dir)["documents"]
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return cross_corpus_candidates(new, corpus).select(
        F.col("new_id").cast("long").alias("new_id"),
        F.col("corpus_id").cast("long").alias("corpus_id"),
        F.col("est_jaccard").cast("double").alias("est_jaccard"),
    )


SQL_CROSS_DEDUP = f"""
WITH RECURSIVE {_MINHASH_MD5_CTES},
bn AS (SELECT doc_id, band_idx, band_hash FROM band WHERE doc_id % 5 = 0),
bc AS (SELECT doc_id, band_idx, band_hash FROM band WHERE doc_id % 5 <> 0),
cp AS (SELECT DISTINCT bn.doc_id AS new_id, bc.doc_id AS corpus_id
       FROM bn JOIN bc USING (band_idx, band_hash))
SELECT CAST(cp.new_id AS BIGINT) AS new_id,
       CAST(cp.corpus_id AS BIGINT) AS corpus_id,
       CAST(SUM(CASE WHEN s1.sig = s2.sig THEN 1 ELSE 0 END) AS DOUBLE) / 8
         AS est_jaccard
FROM cp
JOIN sig s1 ON s1.doc_id = cp.new_id
JOIN sig s2 ON s2.doc_id = cp.corpus_id AND s2.perm = s1.perm
GROUP BY cp.new_id, cp.corpus_id
"""


def q_mixed_lang_docs(spark, sf_dir):
    """Per-line language profile — the mixed-language / code-switch gate:
    modal line language (ties to marker order, like language_id), its line
    count, total non-empty lines, and distinct line languages.  Map-only
    and shuffle-free: the language set is a compile-time constant, so the
    per-language line counts fold inside one projection."""
    from .text.analysis import line_language_profile

    docs = _t(spark, sf_dir)["documents"]
    staged = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        line_language_profile(F.col("text")).alias("_p"),
    )
    return staged.select(
        "doc_id",
        F.col("_p").getField("n_lines").alias("n_lines"),
        F.col("_p").getField("major_lang").alias("major_lang"),
        F.col("_p").getField("major_n").alias("major_n"),
        F.col("_p").getField("n_langs").alias("n_langs"),
    )


SQL_MIXED_LANG = r"""
WITH l0 AS (
  SELECT doc_id, trim(l) AS line
  FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), chr(10))) AS l
        FROM documents)
  WHERE trim(l) <> ''),
sc AS (
  SELECT doc_id,
    len(regexp_extract_all(lower(line), '\b(the|and|of|to|is|a)\b')) AS s_en,
    len(regexp_extract_all(lower(line), '\b(der|die|und|das|ist|nicht)\b')) AS s_de,
    len(regexp_extract_all(lower(line), '\b(le|la|et|les|des|est)\b')) AS s_fr,
    len(regexp_extract_all(lower(line), '\b(el|los|las|es|una|y)\b')) AS s_es
  FROM l0),
ll AS (
  SELECT doc_id,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         WHEN s_fr >= s_es THEN 'fr'
         ELSE 'es' END AS lang
  FROM sc),
cnt AS (SELECT doc_id, lang, COUNT(*) AS c FROM ll GROUP BY doc_id, lang),
best AS (
  SELECT doc_id, lang, c FROM (
    SELECT doc_id, lang, c,
           row_number() OVER (
             PARTITION BY doc_id
             ORDER BY c DESC,
                      CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1
                                WHEN 'fr' THEN 2 WHEN 'es' THEN 3
                                ELSE 4 END) AS rn
    FROM cnt) WHERE rn = 1),
tot AS (SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_langs
        FROM cnt GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(t.n_lines, 0) AS INTEGER) AS n_lines,
       coalesce(b.lang, 'und') AS major_lang,
       CAST(coalesce(b.c, 0) AS INTEGER) AS major_n,
       CAST(coalesce(t.n_langs, 0) AS INTEGER) AS n_langs
FROM documents d
LEFT JOIN best b ON b.doc_id = d.doc_id
LEFT JOIN tot t ON t.doc_id = d.doc_id
"""


def _cluster_split(pruned):
    """Leakage-safe split columns from a prune_clusters frame: the split key
    is the CLUSTER id, so every member of a near-dup cluster lands in the
    same side by construction."""
    from .operators.sampling import hash_split

    return hash_split(pruned, "cluster_id", test_pct=10)


def q_cluster_split_docs(spark, sf_dir):
    """Leakage-safe train/test split — the PREVENTION twin of the
    `split_leakage_docs` audit: near-dup clusters (minhash-LSH pairs →
    connected components, singletons = their own cluster) are split by
    md5(cluster_id), so no candidate pair can ever cross the split.  Same
    256-bucket hash_split arithmetic as the per-doc split; only the key
    changes (doc_id → cluster_id).  Scale shape inherits prune_clusters:
    the component table broadcasts, the corpus never re-shuffles, and the
    split itself is a map-side hash compare."""
    from .text.dedup import prune_clusters

    docs = _t(spark, sf_dir)["documents"]
    pairs = minhash_candidates_md5(docs)
    pruned = prune_clusters(docs, pairs)
    return _cluster_split(pruned).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("split"),
    )


SQL_CLUSTER_SPLIT = f"""
WITH RECURSIVE {_MINHASH_MD5_CTES},
{_NEARDUP_COMP_CTES}
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(c.canonical_id, d.doc_id) AS BIGINT) AS cluster_id,
       CASE WHEN substr(md5(CAST(coalesce(c.canonical_id, d.doc_id)
                               AS VARCHAR)), 1, 2) < '19'
            THEN 'test' ELSE 'train' END AS split
FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


def q_char_entropy_docs(spark, sf_dir):
    """Per-doc Shannon character entropy in exact integer micro-units (the
    surprisal quantization discipline) — map-only, no shuffle."""
    from .text.analysis import char_entropy

    docs = _t(spark, sf_dir)["documents"]
    # staged: project the fold struct once, pull fields in a second select
    # (HOF lambdas get no CSE — three inline getFields would fold 3x per row)
    staged = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        char_entropy(F.col("text")).alias("_e"),
    )
    return staged.select(
        "doc_id",
        F.col("_e").getField("n_chars").alias("ent_chars"),
        F.col("_e").getField("n_distinct").alias("ent_distinct"),
        F.col("_e").getField("entropy_units").alias("entropy_units"),
    )


SQL_CHAR_ENTROPY = r"""
WITH ch AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS c
  FROM documents WHERE length(text) > 0),
cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
tot AS (SELECT doc_id, SUM(k) AS n, COUNT(*) AS n_distinct
        FROM cnt GROUP BY doc_id),
u AS (SELECT doc_id,
             SUM(k * CAST(CAST(round(ln(CAST(k AS DOUBLE)), 6)
                               AS DECIMAL(18,6)) * 1000000 AS BIGINT))
               AS sum_k_ln_k
      FROM cnt GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(t.n, 0) AS INTEGER) AS ent_chars,
       CAST(coalesce(t.n_distinct, 0) AS INTEGER) AS ent_distinct,
       CAST(coalesce(
         t.n * CAST(CAST(round(ln(CAST(t.n AS DOUBLE)), 6)
                         AS DECIMAL(18,6)) * 1000000 AS BIGINT)
         - u.sum_k_ln_k, 0) AS BIGINT) AS entropy_units
FROM documents d
LEFT JOIN tot t ON t.doc_id = d.doc_id
LEFT JOIN u ON u.doc_id = d.doc_id
"""


def q_temperature_mixture_docs(spark, sf_dir):
    """Temperature-flattened (tau=2) language mixture over documents — the
    multilingual rebalancing pass (en dominates the fixture ~2.7x over de,
    so the flattening genuinely reshapes the kept set); membership
    content-addressed, weights floor(sqrt(n_g)) integer-exact."""
    from .operators.sampling import temperature_mixture

    docs = _t(spark, sf_dir)["documents"]
    return temperature_mixture(docs, "lang", "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang").cast("string").alias("lang"),
    )


def q_dsir_docs(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    bucket model, target = the English slice, add-one smoothing, exact
    integer micro-unit log weights; `picked` marks the Gumbel-top-100
    resample (content-addressed Gumbel draw, fully deterministic)."""
    from .text.analysis import dsir_importance, dsir_select

    docs = _t(spark, sf_dir)["documents"]
    scored = dsir_importance(docs, F.col("lang") == "en", buckets=256)
    top = dsir_select(scored, 100).select("doc_id", F.lit(1).alias("_pick"))
    return scored.join(F.broadcast(top), "doc_id", "left").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_feats").cast("long").alias("n_feats"),
        F.col("weight_units").cast("long").alias("weight_units"),
        F.col("gumbel_units").cast("long").alias("gumbel_units"),
        (F.coalesce(F.col("_pick"), F.lit(0)) == 1).alias("picked"),
    )


def q_dsir_apply_docs(spark, sf_dir):
    """DSIR fit-then-apply: the bucket model is collected once (B-row
    driver traffic, kmeans_fit contract) and scoring is ENTIRELY map-only —
    a literal-array integer fold per document, zero exchanges (the
    100 TB crawl-scoring shape). Weights are bit-identical to the fused
    q_dsir_docs by construction."""
    from .text.analysis import dsir_fit, dsir_score

    docs = _t(spark, sf_dir)["documents"]
    model = dsir_fit(docs, F.col("lang") == "en", buckets=256)
    return dsir_score(docs, model).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_feats").cast("long").alias("n_feats"),
        F.col("weight_units").cast("long").alias("weight_units"),
        F.col("gumbel_units").cast("long").alias("gumbel_units"),
    )


def q_dsir_merge_docs(spark, sf_dir):
    """Incremental DSIR refit (the growing-reference-corpus path): fit the
    ≤B-row count STATE on two disjoint corpus halves, merge the states
    (sum-of-sums, `merge_aggregate` pattern — an O(buckets) delta
    aggregation, never a re-read of the full fit corpus), derive the
    model, and score.  Counts are exact integers, so the merged model is
    BIT-EQUAL to a full refit — which is why this query's oracle is the
    direct-fit SQL (the kmv_merged / cms_merged equivalence-proof
    discipline)."""
    from .text.analysis import (
        dsir_fit_state,
        dsir_merge_state,
        dsir_model_from_state,
        dsir_score,
    )

    docs = _t(spark, sf_dir)["documents"]
    tgt = F.col("lang") == "en"
    base = dsir_fit_state(docs.filter(F.col("doc_id") % 2 == 0), tgt, 256)
    delta = dsir_fit_state(docs.filter(F.col("doc_id") % 2 != 0), tgt, 256)
    model = dsir_model_from_state(dsir_merge_state(base, delta), 256)
    return dsir_score(docs, model).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_feats").cast("long").alias("n_feats"),
        F.col("weight_units").cast("long").alias("weight_units"),
        F.col("gumbel_units").cast("long").alias("gumbel_units"),
    )


# ---------------------------------------------------------------------------
# End-to-end composed curation pipeline: Gopher gate -> minhash dedup +
# cluster prune -> decontaminate vs the held-out eval split -> DSIR select
# -> temperature mixture -> sequence packing.  Every stage is verified alone
# elsewhere; THIS entry proves the seams (staged column contracts, null
# handling, dedup-before-select ordering) — the reference's own end-to-end
# unit is the whole-package run (reference/src/agents/orchestrator.py:85-166).
# ---------------------------------------------------------------------------


def q_curation_pipeline_docs(spark, sf_dir, checkpoint=True):
    """The full training-data curation chain as ONE composed plan.

    ``checkpoint=False`` keeps the whole chain as ONE lazy plan (no
    lineage truncation) — used by the plan-shape tests to pin the seam
    joins, which the eager checkpoints would otherwise hide from the
    final explain.

    Scale shape per seam (the 100 TB posture):
    - the Gopher gate is map-only (one ArrowEvalPython stage) and passes
      text/lang/n_chars through the kernel, so no corpus re-join exists;
    - dedup prune drops via the SIZE-AWARE anti-join seam (r9): the
      not-kept id set is counted — broadcast when small (the corpus is
      decided map-side), shuffled-hash when a dup-heavy crawl makes it
      corpus-scale;
    - decontamination drops via the same size-aware seam (eval shingles
      broadcast inside decontaminate);
    - DSIR select joins the k-row winner set broadcast;
    - temperature mixture filters map-side under broadcast thresholds;
    - packing windows partition by hash bucket (no global sort).
    The composed exchange count is the SUM of the stages' — no extra
    shuffle appears at any seam (see SCALE.md)."""
    # The stage implementations are SHARED with the orchestrated Pipeline
    # form (curation.py:curation_models — stage-boundary parquet
    # materialization, the resumable 100 TB deployment); this query fuses
    # them into one plan for the oracle, checkpointing the multi-consumer
    # intermediates (gate, prune, cont, clean) so the 7-branch tagged
    # union doesn't re-run pair generation / CC / shingle aggregations
    # per branch (measured ~40% of the composed cost at sf0.1).
    from .curation import (
        stage_clean,
        stage_contaminated,
        stage_dedup,
        stage_dsir_select,
        stage_gate,
        stage_mixture,
        stage_pack,
        stage_prune,
    )

    def ck(df):
        return df.localCheckpoint() if checkpoint else df

    docs = _t(spark, sf_dir)["documents"]
    c1 = ck(stage_gate(docs))
    pruned = ck(stage_prune(c1))
    c2 = stage_dedup(c1, pruned)
    cont = ck(stage_contaminated(c2, docs))
    c3 = ck(stage_clean(c2, cont))
    c4 = stage_dsir_select(c3, _PIPELINE_DSIR_K)
    c5 = stage_mixture(c4)
    packed = stage_pack(c5)

    def row(component, df_, **cols):
        return component, df_.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            *[c.alias(name) for name, c in cols.items()],
        )

    return _suite_frame(
        "curation_pipeline_docs",
        [
            row("gate", c1, v1=F.col("n_chars").cast("long"),
                s1=F.col("lang")),
            row("prune", pruned, v1=F.col("cluster_id").cast("long"),
                v2=F.col("cluster_size").cast("long"),
                s1=F.col("kept").cast("string")),
            row("contaminated", cont, v1=F.col("n_shared").cast("long")),
            row("clean", c3, s1=F.col("lang")),
            row("dsir_sel", c4, v1=F.col("weight_units").cast("long"),
                v2=F.col("gumbel_units").cast("long")),
            row("mixture", c5, s1=F.col("lang")),
            row("pack", packed, v1=F.col("seq_id").cast("long"),
                v2=F.col("start_tok").cast("long"),
                s1=F.col("end_tok").cast("string")),
        ]
    )


# ---------------------------------------------------------------------------
# r9. Continuous-crawl ingest loop (ingest.py): TWO chained batches against
# the same persistent state — batch 2 dedups against an index that already
# contains batch 1's accepted docs, and both batches re-score under a DSIR
# state that has absorbed every prior acceptance.
# ---------------------------------------------------------------------------

def _crawl_verdict_arms(r, tag: str) -> list:
    """The verdict arms of one ingest iteration in the crawl suites'
    tagged-union columns: the within-batch cluster verdicts (when the
    iteration ran with ``dedup_within_batch``), the rejections and the
    acceptances.  ``tag`` names each arm from its stage (``"{}1"`` ->
    ``reject1``)."""
    arms = []
    if r.batch_pruned is not None:
        arms.append((tag.format("pruned"), r.batch_pruned.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("v1"),
            F.col("cluster_size").cast("long").alias("v2"),
            F.col("kept").cast("string").alias("s1"),
        )))
    arms.append((tag.format("reject"), r.rejected.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_dups").cast("long").alias("v1"),
        F.col("max_matches").cast("long").alias("v2"),
    )))
    arms.append((tag.format("accept"), r.accepted.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang").alias("s1"),
    )))
    return arms


def q_crawl_ingest_docs(spark, sf_dir):
    """Two iterations of the continuous-crawl loop (gate -> dedup vs the
    persisted index -> index append -> merged DSIR refit -> pack) over a
    5-way doc_id split: seed corpus = doc_id%5 >= 2 (already curated —
    feeds the initial index + DSIR state), batch 1 = doc_id%5 == 0,
    batch 2 = doc_id%5 == 1.  Every stage of BOTH batches is tagged into
    one value-hashed union; the oracle replays the whole loop, computing
    per-doc signatures/bands/gram-counts once (they are corpus-
    independent) and re-aggregating the fit subsets the merged states
    represent — dsir_merge_state is count-exact, so 'merged refit' and
    'fit on the concatenated corpus' are the same integers."""
    from .ingest import ingest_batch, seed_ingest_state

    docs = _t(spark, sf_dir)["documents"]
    seed = docs.filter(F.col("doc_id") % 5 >= 2)
    b1 = docs.filter(F.col("doc_id") % 5 == 0)
    b2 = docs.filter(F.col("doc_id") % 5 == 1)
    st = seed_ingest_state(seed)
    # batch 1's gate survivors and index are derived ONCE and shared by
    # the base iteration AND the within-batch variant below
    from .curation import stage_gate
    from .text.dedup import corpus_dedup_index

    g1 = stage_gate(b1).localCheckpoint(eager=False)
    i1s, i1b = corpus_dedup_index(g1, checkpoint_sigs=True)
    i1 = (i1s, i1b)  # bands ride on the checkpointed sigs (r14)
    r1 = ingest_batch(b1, st, pre_gated=g1, pre_index=i1)
    r2 = ingest_batch(b2, r1.state)

    def rows(tag, r):
        gate = r.gated.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("v1"),
            F.col("lang").alias("s1"),
        )
        dsir = r.scored.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("weight_units").cast("long").alias("v1"),
            F.col("gumbel_units").cast("long").alias("v2"),
            F.col("n_feats").cast("string").alias("s1"),
        )
        pack = r.packed.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("seq_id").cast("long").alias("v1"),
            F.col("start_tok").cast("long").alias("v2"),
            F.col("end_tok").cast("string").alias("s1"),
        )
        return [
            (f"gate{tag}", gate),
            *_crawl_verdict_arms(r, "{}" + tag),
            (f"dsir{tag}", dsir),
            (f"pack{tag}", pack),
        ]

    # r11: within-batch dedup folded into the suite (r10 VERDICT #1) — a
    # third, independent iteration over batch 1 with dedup_within_batch
    # on; it consumes only pruned/reject/accept, so the iteration runs
    # DEDUP-ONLY (with_scoring=False skips the DSIR fit/merge/pack
    # stages — the eager state-merge checkpoint would otherwise pay a
    # full Arrow fit pass whose output nothing reads); gate and index
    # shared with the base iteration via pre_gated/pre_index
    # pre_probe=r1.rejected: rejection is per-doc over band rows derived
    # from the full gated batch, so the wb rejections are EXACTLY the
    # base run's filtered to kept representatives — one index probe
    # serves both policies (ingest_batch docstring, pytest-pinned)
    r_wb = ingest_batch(b1, st, dedup_within_batch=True,
                        pre_gated=g1, pre_index=i1, with_scoring=False,
                        pre_probe=r1.rejected)
    return _suite_frame(
        "crawl_ingest_docs",
        rows("1", r1) + rows("2", r2) + _crawl_verdict_arms(r_wb, "wb_{}"),
    )


def q_crawl_wb_dedup_docs(spark, sf_dir):
    """r10: one loop iteration with WITHIN-BATCH dedup on — near-dup
    clusters among the gated batch keep only the longest representative
    (computed from the batch's already-derived signatures at the loop's
    own threshold) before the index probe.  Tagged components: 'pruned'
    (per-gated-doc cluster verdicts), 'reject' (representatives that
    still match the seed index), 'accept' (representatives admitted).
    The oracle replays gate -> thresholded within-batch pairs (>=4 of 8
    signature agreements == est_jaccard >= 0.5, exact) -> transitive
    closure -> keep-longest -> probe, from the shared SQL fragments."""
    from .ingest import ingest_batch, seed_ingest_state

    docs = _t(spark, sf_dir)["documents"]
    seed = docs.filter(F.col("doc_id") % 5 >= 2)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    r = ingest_batch(batch, seed_ingest_state(seed),
                     dedup_within_batch=True, with_scoring=False)
    return _suite_frame("crawl_wb_dedup_docs", _crawl_verdict_arms(r, "{}"))


# The two hand-built suites' oracles, generated from their arms' SQL like
# the _SUITES rows (their Spark sides share intermediates across arms).
SQL_CRAWL_INGEST_SUITE = _suite_sql(
    [("", SQL_CRAWL_INGEST), ("wb_", SQL_CRAWL_WB_DEDUP)]
)

SQL_MINHASH_MD5_SUITE = _suite_sql([
    ("cand", f"""SELECT doc_a, doc_b, est_jaccard AS v1
                 FROM ({SQL_MINHASH_MD5}) _c"""),
    ("leak_", f"""SELECT component, doc_a, doc_b, split_a AS s1,
                         split_b AS s2
                  FROM ({SQL_SPLIT_LEAKAGE}) _l"""),
    ("prune", f"""SELECT doc_id AS doc_a, cluster_id AS doc_b,
                         CAST(cluster_size AS DOUBLE) AS v1,
                         CAST(kept AS VARCHAR) AS s1
                  FROM ({SQL_NEARDUP_PRUNE}) _p"""),
    ("safe_split", f"""SELECT doc_id AS doc_a, cluster_id AS doc_b,
                              split AS s1
                       FROM ({SQL_CLUSTER_SPLIT}) _s"""),
    ("cross", f"""SELECT new_id AS doc_a, corpus_id AS doc_b,
                         est_jaccard AS v1
                  FROM ({SQL_CROSS_DEDUP}) _x"""),
])

SQL_TEXT_ANALYSIS = f"""
SELECT ta.*, ce.ent_distinct, ce.entropy_units
FROM ({SQL_TEXT_ANALYSIS}) ta
JOIN ({SQL_CHAR_ENTROPY}) ce USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Registry.
#
# ALL_QUERIES holds every individual query (used by pytest, bench.py, and
# plan assertions).  QUERIES — the driver contract — is the 50-entry window
# built below from _DRIVER_WINDOW: individual queries plus the merged suites,
# sized so the driver's 50-entry verdict cap covers every operator.
# ---------------------------------------------------------------------------

ALL_QUERIES = {
    "stg_sales_transactions": q_stg_sales_transactions,
    "fct_sales_star": q_fct_sales_star,
    "agg_daily_sales": q_agg_daily_sales,
    "dim_customer_scd2": q_dim_customer_scd2,
    "expr_strings_customer": q_expr_strings_customer,
    "expr_dates_orders": q_expr_dates_orders,
    "conditional_split_sizes": q_conditional_split_sizes,
    "top_events": q_top_events,
    "union_merge_segments": q_union_merge_segments,
    "orders_semi_join": q_orders_semi_join,
    "fk_violations_current": q_fk_violations_current,
    "duplicate_order_days": q_duplicate_order_days,
    "watermark_incremental_events": q_watermark_incremental_events,
    "validation_scalars": q_validation_scalars,
    "incremental_merge_orders": q_incremental_merge_orders,
    "quality_report": q_quality_report,
    "exact_dedup_docs": q_exact_dedup_docs,
    "text_analysis_docs": q_text_analysis_docs,
    "minhash_pairs_docs": q_minhash_pairs_docs,
    "simhash_pairs_docs": q_simhash_pairs_docs,
    "minhash_pairs_md5": q_minhash_pairs_md5,
    "simhash_pairs_md5": q_simhash_pairs_md5,
    "topk_embeddings": q_topk_embeddings,
    "lsh_topk_embeddings": q_lsh_topk_embeddings,
    "lsh_topk_md5": q_lsh_topk_md5,
    "knn_join_embeddings": q_knn_join_embeddings,
    "events_tumbling_10min": q_events_tumbling_10min,
    "events_sliding_30min": q_events_sliding_30min,
    "events_sessionize": q_events_sessionize,
    "pipeline_dag": q_pipeline_dag,
    "merge_upsert_customers": q_merge_upsert_customers,
    "script_escape_hatch": q_script_escape_hatch,
    "multimodal_features": q_multimodal_features,
    "bmp_decode_stats": q_bmp_decode_stats,
    "png_decode_stats": q_png_decode_stats,
    "jpeg_decode_stats": q_jpeg_decode_stats,
    "dataset_profile": q_dataset_profile,
    "corpus_curation_enrich": q_corpus_curation,
    "curation_pipeline_docs": q_curation_pipeline_docs,
    "crawl_ingest_docs": q_crawl_ingest_docs,
    "crawl_wb_dedup_docs": q_crawl_wb_dedup_docs,
    "gopher_quality_docs": q_gopher_quality_docs,
    "hll_users_events": q_hll_users_events,
    "bpe_encode_docs": q_bpe_encode_docs,
    "winnow_docs": q_winnow_docs,
    "funnel_events": q_funnel_events,
    "cohort_retention_events": q_cohort_retention_events,
    "merged_intervals_events": q_merged_intervals_events,
    "split_leakage_docs": q_split_leakage_docs,
    "corpus_dedup_lines": q_corpus_dedup_lines,
    "hash_split_docs": q_hash_split_docs,
    "kfold_docs": q_kfold_docs,
    "project_embeddings": q_project_embeddings,
    "sorted_neighborhood_parts": q_sorted_neighborhood_parts,
    "token_budget_docs": q_token_budget_docs,
    "chunk_docs": q_chunk_docs,
    "surprisal_docs": q_surprisal_docs,
    "sql_task_pricing": q_sql_task_pricing,
    "embedding_neardup": q_embedding_neardup,
    "window_customer_orders": q_window_customer_orders,
    "roundtrip_append": q_roundtrip_append,
    "roundtrip_overwrite": q_roundtrip_overwrite,
    "roundtrip_partition_overwrite": q_roundtrip_partition_overwrite,
    "roundtrip_csv": q_roundtrip_csv,
    "roundtrip_json": q_roundtrip_json,
    "roundtrip_audit_update": q_roundtrip_audit_update,
    "streaming_roundtrip": q_streaming_roundtrip,
    "salted_agg_events": q_salted_agg_events,
    "foreach_segments": q_foreach_segments,
    "bucketed_join_orders": q_bucketed_join_orders,
    "validation_rollup": q_validation_rollup,
    "parallel_table_dag": q_parallel_table_dag,
    "roundtrip_excel": q_roundtrip_excel,
    "roundtrip_xls": q_roundtrip_xls,
    "roundtrip_orc": q_roundtrip_orc,
    "roundtrip_compact": q_roundtrip_compact,
    "roundtrip_evolve": q_roundtrip_evolve,
    "rest_landing": q_rest_landing,
    "stratified_docs": q_stratified_docs,
    "stateful_totals": q_stateful_totals,
    "ivf_topk_embeddings": q_ivf_topk,
    "neardup_clusters": q_neardup_clusters,
    "asof_attribution": q_asof_attribution,
    "range_join_sessions": q_range_join_sessions,
    "events_rollup": q_events_rollup,
    "kmv_shingles": q_kmv_shingles,
    "quantize_embeddings": q_quantize_embeddings,
    "pivot_order_matrix": q_pivot_order_matrix,
    "unpivot_order_matrix": q_unpivot_order_matrix,
    "median_order_totals": q_median_order_totals,
    "pii_redaction": q_pii_redaction,
    "fuzzy_part_names": q_fuzzy_part_names,
    "pagerank_parts": q_pagerank_parts,
    "json_props_events": q_json_props_events,
    "zorder_events": q_zorder_events,
    "rolling_revenue_7d": q_rolling_revenue_7d,
    "cdc_orders_diff": q_cdc_orders_diff,
    "cdc_apply_orders": q_cdc_apply_orders,
    "containment_docs": q_containment_docs,
    "wav_decode_stats": q_wav_decode_stats,
    "resize_bmp_stats": q_resize_bmp_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "mixture_docs": q_mixture_docs,
    "pack_docs": q_pack_docs,
    "pack_nosplit_docs": q_pack_nosplit_docs,
    "decontam_docs": q_decontam_docs,
    "bloom_orders": q_bloom_orders,
    "retry_dag": q_retry_dag,
    "iqr_outlier_docs": q_iqr_outlier_docs,
    "mad_outlier_docs": q_mad_outlier_docs,
    "cube_orders": q_cube_orders,
    "hard_negatives": q_hard_negatives,
    "label_prototypes": q_label_prototypes,
    "ccnet_buckets_docs": q_ccnet_buckets_docs,
    "semdedup_embeddings": q_semdedup_embeddings,
    "dedup_lines_docs": q_dedup_lines_docs,
    "dup_spans_docs": q_dup_spans_docs,
    "incremental_rollup_sales": q_incremental_rollup_sales,
    "cms_tokens_docs": q_cms_tokens_docs,
    "weighted_sample_docs": q_weighted_sample_docs,
    "source_cap_docs": q_source_cap_docs,
    "bpe_merges_docs": q_bpe_merges_docs,
    "gap_fill_events": q_gap_fill_events,
    "kmeans_embeddings": q_kmeans_embeddings,
    "neardup_prune_docs": q_neardup_prune_docs,
    "cluster_split_docs": q_cluster_split_docs,
    "mixed_lang_docs": q_mixed_lang_docs,
    "cross_dedup_docs": q_cross_dedup_docs,
    "decay_events": q_decay_events,
    "char_entropy_docs": q_char_entropy_docs,
    "temperature_mixture_docs": q_temperature_mixture_docs,
    "dsir_docs": q_dsir_docs,
    "dsir_apply_docs": q_dsir_apply_docs,
    "dsir_merge_docs": q_dsir_merge_docs,
    "quality_validation_report": q_quality_validation_report,
    "image_phash_neardup": q_image_phash_neardup,
    "image_ahash_media": q_image_ahash_media,
    "image_phash_index": q_image_phash_index,
    "dtsx_sales_fact_etl": q_dtsx_sales_fact_etl,
    "dtsx_customer_load": q_dtsx_customer_load,
    "dtsx_inventory_sync": q_dtsx_inventory_sync,
    "dtsx_packages": q_dtsx_packages,
    "dtsx_order_routing": q_dtsx_order_routing,
    "fps_seeds": q_fps_seeds,
    "text_analysis_docs_expr": q_text_analysis_docs_expr,
    "ci_collation_customers": q_ci_collation_customers,
    "ci_group_customers": q_ci_group_customers,
    "ci_filter_customers": q_ci_filter_customers,
    "ivf_recall_audit": q_ivf_recall_audit,
    "hybrid_rrf_indexed": q_hybrid_rrf_indexed,
    "time_contract_events": q_time_contract_events,
    "bm25_search_docs": q_bm25_search_docs,
    "nb_classifier_docs": q_nb_classifier_docs,
    "ivf_index_probe": q_ivf_index_probe,
    "bm25_index_probe": q_bm25_index_probe,
    "streaming_ivf_probe": q_streaming_ivf_probe,
    "streaming_bm25_probe": q_streaming_bm25_probe,
    "hybrid_rrf_docs": q_hybrid_rrf_docs,
    "semantic_decontam_embeddings": q_semantic_decontam_embeddings,
    "semantic_decontam_ivf": q_semantic_decontam_ivf,
    "shuffle_shards_docs": q_shuffle_shards_docs,
    "ngram_jaccard_pairs_docs": q_ngram_jaccard_pairs_docs,
    "kmv_merged_shingles": q_kmv_merged_shingles,
    "cms_merged_tokens_docs": q_cms_merged_tokens_docs,
    "salted_join_events": q_salted_join_events,
    "scd2_pit_orders": q_scd2_pit_orders,
    "funnel_chain_events": q_funnel_chain_events,
    "histogram_orders": q_histogram_orders,
    "hist_p50_orders": q_hist_p50_orders,
}

# The driver-window suites (see _suite_frame): suite -> (tag, entry) arms.
# A suite may be an arm of a later one (its own tags pass through).
_SUITES = {
    "agg_daily_rollup": [
        ("full", "agg_daily_sales"), ("incr", "incremental_rollup_sales"),
    ],
    "ngram_jaccard_docs": [
        ("jaccard", "ngram_jaccard_pairs_docs"), ("winnow_", "winnow_docs"),
    ],
    "containment_kmv_docs": [
        ("containment", "containment_docs"),
        ("kmv", "kmv_shingles"),
        ("kmv_merged", "kmv_merged_shingles"),
        ("decontam", "decontam_docs"),
        ("cms", "cms_tokens_docs"),
        ("cms_merged", "cms_merged_tokens_docs"),
        ("", "hll_users_events"),
    ],
    "ann_topk_suite": [
        ("brute_force", "topk_embeddings"),
        ("lsh_md5", "lsh_topk_md5"),
        ("ivf", "ivf_topk_embeddings"),
        ("quantize", "quantize_embeddings"),
        ("semdedup", "semdedup_embeddings"),
        ("hard_neg", "hard_negatives"),
        ("proto_", "label_prototypes"),
        ("project", "project_embeddings"),
        ("km_", "kmeans_embeddings"),
        ("fps", "fps_seeds"),
        ("knn", "knn_join_embeddings"),
        ("ivf_idx", "ivf_index_probe"),
        ("decontam", "semantic_decontam_embeddings"),
        ("sivf", "streaming_ivf_probe"),
        ("decontam_ivf", "semantic_decontam_ivf"),
        ("recall", "ivf_recall_audit"),
    ],
    "events_windows": [
        ("tumbling", "events_tumbling_10min"),
        ("sliding", "events_sliding_30min"),
        ("rollup", "events_rollup"),
        ("gap_fill", "gap_fill_events"),
        ("funnel_", "funnel_events"),
        ("cohort", "cohort_retention_events"),
        ("intervals", "merged_intervals_events"),
        ("decay", "decay_events"),
        ("time_contract", "time_contract_events"),
    ],
    "events_totals_suite": [
        ("salted", "salted_agg_events"),
        ("stateful", "stateful_totals"),
        ("salted_join", "salted_join_events"),
    ],
    "asof_range_joins": [
        ("asof", "asof_attribution"),
        ("range", "range_join_sessions"),
        ("scd2_pit", "scd2_pit_orders"),
        ("funnel", "funnel_chain_events"),
    ],
    "orchestration_dag": [
        ("foreach", "foreach_segments"),
        ("parallel", "parallel_table_dag"),
        ("", "retry_dag"),
    ],
    "join_strategies": [
        ("bucketed", "bucketed_join_orders"),
        ("bloom", "bloom_orders"),
        ("ci_", "ci_collation_customers"),
        ("cig_", "ci_group_customers"),
        ("cif_", "ci_filter_customers"),
    ],
    "multimodal_decode": [
        ("features", "multimodal_features"),
        ("bmp", "bmp_decode_stats"),
        ("wav", "wav_decode_stats"),
        ("resize", "resize_bmp_stats"),
        ("png", "png_decode_stats"),
        ("jpeg", "jpeg_decode_stats"),
        ("", "image_phash_neardup"),
    ],
    "sampling_splits": [
        ("hash_split", "hash_split_docs"),
        ("stratified", "stratified_docs"),
        ("mixture", "mixture_docs"),
        ("weighted", "weighted_sample_docs"),
        ("source_cap", "source_cap_docs"),
        ("kfold", "kfold_docs"),
        ("temperature", "temperature_mixture_docs"),
        ("dsir", "dsir_docs"),
        ("dsir_apply", "dsir_apply_docs"),
        ("dsir_merge", "dsir_merge_docs"),
        ("shards", "shuffle_shards_docs"),
    ],
    "token_ops_docs": [
        ("budget", "token_budget_docs"),
        ("chunk", "chunk_docs"),
        ("pack", "pack_docs"),
        ("pack_nosplit", "pack_nosplit_docs"),
        ("dedup_lines", "dedup_lines_docs"),
        ("bpe", "bpe_merges_docs"),
        ("dup_spans", "dup_spans_docs"),
        ("bpe_", "bpe_encode_docs"),
        ("corpus_dedup", "corpus_dedup_lines"),
    ],
    "pii_tfidf_docs": [
        ("pii", "pii_redaction"),
        ("tfidf", "tfidf_top_terms"),
        ("surprisal", "surprisal_docs"),
        ("ccnet", "ccnet_buckets_docs"),
        ("mixed_lang", "mixed_lang_docs"),
        ("bm25", "bm25_search_docs"),
        ("nb", "nb_classifier_docs"),
        ("bm25_idx", "bm25_index_probe"),
        ("bm25_stream", "streaming_bm25_probe"),
        ("rrf", "hybrid_rrf_docs"),
        ("rrf_idx", "hybrid_rrf_indexed"),
    ],
    "pivot_unpivot_orders": [
        ("pivot", "pivot_order_matrix"), ("unpivot", "unpivot_order_matrix"),
    ],
    "median_rolling_orders": [
        ("median", "median_order_totals"),
        ("rolling", "rolling_revenue_7d"),
        ("histogram", "histogram_orders"),
        ("hist_p50", "hist_p50_orders"),
    ],
    "pivot_median_orders": [
        ("", "pivot_unpivot_orders"),
        ("", "median_rolling_orders"),
        ("cube", "cube_orders"),
    ],
    "corpus_curation": [
        ("enrich", "corpus_curation_enrich"), ("", "curation_pipeline_docs"),
    ],
    "cdc_orders": [("diff", "cdc_orders_diff"), ("apply", "cdc_apply_orders")],
    "parts_fuzzy_pagerank": [
        ("fuzzy", "fuzzy_part_names"),
        ("pagerank", "pagerank_parts"),
        ("sorted_nbr", "sorted_neighborhood_parts"),
    ],
    "events_payload_layout": [
        ("json", "json_props_events"), ("zorder", "zorder_events"),
    ],
    "roundtrip_sinks": [
        ("append", "roundtrip_append"),
        ("overwrite", "roundtrip_overwrite"),
        ("dpo", "roundtrip_partition_overwrite"),
        ("audit", "roundtrip_audit_update"),
        ("csv", "roundtrip_csv"),
        ("json", "roundtrip_json"),
        ("orc", "roundtrip_orc"),
        ("compact", "roundtrip_compact"),
        ("evolve", "roundtrip_evolve"),
        ("excel", "roundtrip_excel"),
        ("excel_xls", "roundtrip_xls"),
        ("rest", "rest_landing"),
    ],
}


def _suite_query(name, arms):
    def q(spark, sf_dir):
        return _suite_frame(
            name, [(tag, ALL_QUERIES[e](spark, sf_dir)) for tag, e in arms]
        )

    return q


ALL_QUERIES.update(
    {name: _suite_query(name, arms) for name, arms in _SUITES.items()}
)

# Every entry runs in its own query scope (``query_scope()`` is a context
# decorator): its checkpoint blocks and scratch dirs are released when the
# next catalog query is built.
ALL_QUERIES = {
    name: blocks.query_scope()(fn) for name, fn in ALL_QUERIES.items()
}

ALL_ORACLES = {
    "stg_sales_transactions": _oracle_double(
        SQL_STG_SALES, ["gross_amount", "net_amount", "discount_pct"]
    ),
    "fct_sales_star": _oracle_double(SQL_FCT_SALES, ["net_amount"]),
    "agg_daily_sales": _oracle_double(
        SQL_AGG_DAILY, ["total_quantity", "total_gross", "total_net"]
    ),
    "dim_customer_scd2": SQL_DIM_SCD2,
    "expr_strings_customer": SQL_EXPR_STRINGS,
    "expr_dates_orders": SQL_EXPR_DATES,
    "conditional_split_sizes": SQL_SPLIT_SIZES,
    "top_events": SQL_TOP_EVENTS,
    "union_merge_segments": SQL_UNION_MERGE,
    "orders_semi_join": SQL_SEMI,
    "fk_violations_current": SQL_FK_VIOL,
    "duplicate_order_days": SQL_DUP_DAYS,
    "watermark_incremental_events": SQL_WATERMARK,
    "validation_scalars": SQL_VALIDATION_SCALARS,
    "incremental_merge_orders": SQL_INCR_MERGE,
    "quality_report": SQL_QUALITY,
    "exact_dedup_docs": SQL_EXACT_DEDUP,
    "text_analysis_docs": SQL_TEXT_ANALYSIS,
    "topk_embeddings": SQL_TOPK_EMB,
    "knn_join_embeddings": SQL_KNN_JOIN,
    "events_tumbling_10min": _oracle_double(SQL_TUMBLING, ["sum_value"]),
    "events_sliding_30min": SQL_SLIDING,
    "events_sessionize": SQL_SESSIONIZE,
    "pipeline_dag": _oracle_double(SQL_PIPELINE_DAG, ["total_net"]),
    "merge_upsert_customers": SQL_MERGE_UPSERT,
    "script_escape_hatch": SQL_SCRIPT_HATCH,
    "multimodal_features": SQL_MULTIMODAL,
    "bmp_decode_stats": SQL_BMP_STATS,
    "png_decode_stats": SQL_PNG_STATS,
    "jpeg_decode_stats": SQL_JPEG_STATS,
    "dataset_profile": SQL_DATASET_PROFILE,
    "corpus_curation_enrich": SQL_CORPUS_CURATION,
    "curation_pipeline_docs": SQL_CURATION_PIPELINE,
    "crawl_ingest_docs": SQL_CRAWL_INGEST_SUITE,
    "crawl_wb_dedup_docs": SQL_CRAWL_WB_DEDUP,
    "gopher_quality_docs": SQL_GOPHER_QUALITY,
    "hll_users_events": SQL_HLL_USERS_EVENTS,
    "bpe_encode_docs": SQL_BPE_ENCODE,
    "winnow_docs": SQL_WINNOW,
    "funnel_events": SQL_FUNNEL,
    "cohort_retention_events": SQL_COHORT_RETENTION,
    "merged_intervals_events": SQL_MERGED_INTERVALS,
    "split_leakage_docs": SQL_SPLIT_LEAKAGE,
    "corpus_dedup_lines": SQL_CORPUS_DEDUP_LINES,
    "hash_split_docs": SQL_HASH_SPLIT,
    "kfold_docs": SQL_KFOLD,
    "project_embeddings": SQL_PROJECT_EMBEDDINGS,
    "sorted_neighborhood_parts": SQL_SORTED_NEIGHBORHOOD,
    "token_budget_docs": SQL_TOKEN_BUDGET,
    "chunk_docs": SQL_CHUNK_DOCS,
    "surprisal_docs": SQL_SURPRISAL,
    "sql_task_pricing": SQL_PRICING_SUMMARY,
    "minhash_pairs_md5": SQL_MINHASH_MD5_SUITE,
    "simhash_pairs_md5": SQL_SIMHASH_MD5,
    "lsh_topk_md5": SQL_LSH_TOPK_MD5,
    "embedding_neardup": SQL_EMB_NEARDUP,
    "roundtrip_append": SQL_RT_APPEND,
    "roundtrip_overwrite": SQL_RT_OVERWRITE,
    "roundtrip_partition_overwrite": SQL_RT_DPO,
    "roundtrip_csv": SQL_RT_CSV,
    "roundtrip_json": SQL_RT_JSON,
    "roundtrip_audit_update": SQL_RT_AUDIT,
    "streaming_roundtrip": SQL_STREAMING_RT,
    "salted_agg_events": SQL_SALTED_AGG,
    "foreach_segments": SQL_FOREACH,
    "bucketed_join_orders": SQL_BUCKETED_JOIN,
    "validation_rollup": SQL_VALIDATION_ROLLUP,
    "parallel_table_dag": SQL_PARALLEL_DAG,
    "roundtrip_excel": SQL_RT_EXCEL,
    "roundtrip_xls": SQL_RT_EXCEL,
    "rest_landing": SQL_REST_LANDING,
    "stratified_docs": SQL_STRATIFIED,
    "stateful_totals": SQL_STATEFUL_TOTALS,
    "ivf_topk_embeddings": SQL_IVF_TOPK,
    "neardup_clusters": SQL_NEARDUP_CLUSTERS,
    "asof_attribution": SQL_ASOF_ATTRIBUTION,
    "range_join_sessions": SQL_RANGE_JOIN,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "kmv_shingles": SQL_KMV_SHINGLES,
    "quantize_embeddings": SQL_QUANTIZE,
    "pivot_order_matrix": SQL_PIVOT_MATRIX,
    "unpivot_order_matrix": SQL_UNPIVOT_MATRIX,
    "median_order_totals": SQL_MEDIAN_TOTALS,
    "pii_redaction": SQL_PII_REDACTION,
    "fuzzy_part_names": SQL_FUZZY_PARTS,
    "pagerank_parts": SQL_PAGERANK_PARTS,
    "json_props_events": SQL_JSON_PROPS,
    "zorder_events": SQL_ZORDER_EVENTS,
    "rolling_revenue_7d": _oracle_double(SQL_ROLLING_7D, ["spend_7d"]),
    "cdc_orders_diff": _oracle_double(
        SQL_CDC_DIFF, ["old_total", "new_total"]
    ),
    "cdc_apply_orders": _oracle_double(SQL_CDC_APPLY, ["total"]),
    "containment_docs": SQL_CONTAINMENT,
    "wav_decode_stats": SQL_WAV_STATS,
    "resize_bmp_stats": SQL_RESIZE_BMP,
    "tfidf_top_terms": SQL_TFIDF,
    "mixture_docs": SQL_MIXTURE,
    "pack_docs": SQL_PACK_DOCS,
    "pack_nosplit_docs": SQL_PACK_NOSPLIT,
    "decontam_docs": SQL_DECONTAM,
    "bloom_orders": SQL_BLOOM_ORDERS,
    "roundtrip_orc": SQL_RT_ORC,
    "retry_dag": SQL_RETRY_DAG,
    "iqr_outlier_docs": SQL_IQR_OUTLIERS,
    "mad_outlier_docs": SQL_MAD_OUTLIERS,
    "cube_orders": SQL_CUBE_ORDERS,
    "hard_negatives": SQL_HARD_NEGATIVES,
    "label_prototypes": SQL_LABEL_PROTOTYPES,
    "ccnet_buckets_docs": SQL_CCNET_BUCKETS,
    "semdedup_embeddings": SQL_SEMDEDUP,
    "dedup_lines_docs": SQL_DEDUP_LINES,
    "dup_spans_docs": SQL_DUP_SPANS,
    "incremental_rollup_sales": _oracle_double(
        SQL_AGG_DAILY, ["total_quantity", "total_gross", "total_net"]
    ),
    "cms_tokens_docs": SQL_CMS_TOKENS,
    "weighted_sample_docs": SQL_WEIGHTED_SAMPLE,
    "source_cap_docs": SQL_SOURCE_CAP,
    "bpe_merges_docs": SQL_BPE_MERGES,
    "gap_fill_events": SQL_GAP_FILL,
    "kmeans_embeddings": SQL_KMEANS,
    "neardup_prune_docs": SQL_NEARDUP_PRUNE,
    "cluster_split_docs": SQL_CLUSTER_SPLIT,
    "mixed_lang_docs": SQL_MIXED_LANG,
    "cross_dedup_docs": SQL_CROSS_DEDUP,
    "decay_events": SQL_DECAY_EVENTS,
    "char_entropy_docs": SQL_CHAR_ENTROPY,
    "temperature_mixture_docs": SQL_TEMPERATURE_MIXTURE,
    "dsir_docs": SQL_DSIR,
    "dsir_apply_docs": SQL_DSIR_APPLY,
    "dsir_merge_docs": SQL_DSIR_APPLY,
    "roundtrip_compact": SQL_RT_COMPACT,
    "roundtrip_evolve": SQL_RT_EVOLVE,
    "window_customer_orders": _oracle_double(
        SQL_WINDOW_ORDERS, ["running_spend", "moving3_spend"]
    ),
    # minhash_pairs_docs / simhash_pairs_docs / lsh_topk_embeddings:
    # xxhash64-based production paths — no DuckDB counterpart; driver records
    # rows-only checks.  Their md5 twins above carry the full value-hash
    # oracle for the same algorithms (same plan shape, portable hash).
    "quality_validation_report": SQL_QUALITY_VALIDATION,
    "image_phash_neardup": f"SELECT * FROM ({SQL_IMAGE_PHASH}) _p "
    "WHERE component <> 'ahash'",
    "image_ahash_media": f"SELECT id_a AS media_id, n AS ahash "
    f"FROM ({SQL_IMAGE_PHASH}) _p WHERE component = 'ahash'",
    "image_phash_index": SQL_IMAGE_PHASH_INDEX,
    "ci_collation_customers": SQL_CI_COLLATION,
    "ci_group_customers": SQL_CI_GROUP,
    "ci_filter_customers": SQL_CI_FILTER,
    "ivf_recall_audit": SQL_IVF_RECALL,
    "hybrid_rrf_indexed": SQL_HYBRID_RRF_INDEXED,
    "time_contract_events": SQL_TIME_CONTRACT,
    "bm25_search_docs": SQL_BM25_SEARCH,
    "nb_classifier_docs": SQL_NB_CLASSIFIER,
    "ivf_index_probe": SQL_IVF_INDEX_PROBE,
    "bm25_index_probe": SQL_BM25_SEARCH,
    "streaming_ivf_probe": SQL_STREAMING_IVF,
    "streaming_bm25_probe": SQL_BM25_SEARCH,
    "hybrid_rrf_docs": SQL_HYBRID_RRF,
    "semantic_decontam_embeddings": SQL_SEMANTIC_DECONTAM,
    "semantic_decontam_ivf": SQL_SEMANTIC_DECONTAM,
    "shuffle_shards_docs": SQL_SHUFFLE_SHARDS,
    "dtsx_sales_fact_etl": SQL_DTSX_SALES,
    "dtsx_customer_load": SQL_DTSX_CUSTOMER,
    "dtsx_inventory_sync": SQL_DTSX_INVENTORY,
    "dtsx_packages": SQL_DTSX_PACKAGES,
    "dtsx_order_routing": SQL_DTSX_ROUTING,
    "fps_seeds": SQL_FPS_SEEDS,
    "text_analysis_docs_expr": SQL_TEXT_ANALYSIS,
    "ngram_jaccard_pairs_docs": SQL_NGRAM_JACCARD,
    "kmv_merged_shingles": SQL_KMV_MERGED,
    "cms_merged_tokens_docs": SQL_CMS_MERGED,
    "salted_join_events": SQL_SALTED_JOIN,
    "scd2_pit_orders": SQL_SCD2_PIT,
    "funnel_chain_events": SQL_FUNNEL_CHAIN,
    "histogram_orders": SQL_HISTOGRAM_ORDERS,
    "hist_p50_orders": SQL_HIST_P50_ORDERS,
}
for _name, _arms in _SUITES.items():
    ALL_ORACLES[_name] = _suite_sql(
        [(tag, ALL_ORACLES[e]) for tag, e in _arms]
    )

# The 50 entries the driver verifies — every SURVEY §2 family and every
# LLM-pipeline operator has a value-hashed row inside the window.  The three
# xxhash64 rows-only entries are replaced by their fully-oracled md5 twins
# (the xxhash paths stay pytest-covered and on the bench HEADLINE).
_DRIVER_WINDOW = [
    "stg_sales_transactions",
    "fct_sales_star",
    "agg_daily_rollup",
    "dim_customer_scd2",
    "expr_strings_customer",
    "expr_dates_orders",
    "conditional_split_sizes",
    "top_events",
    "union_merge_segments",
    "orders_semi_join",
    "fk_violations_current",
    "duplicate_order_days",
    "watermark_incremental_events",
    "validation_scalars",
    "incremental_merge_orders",
    "quality_validation_report",
    "exact_dedup_docs",
    "text_analysis_docs",
    "ngram_jaccard_docs",
    "minhash_pairs_md5",
    "simhash_pairs_md5",
    "neardup_clusters",
    "containment_kmv_docs",
    "ann_topk_suite",
    "embedding_neardup",
    "events_windows",
    "events_sessionize",
    "streaming_roundtrip",
    "events_totals_suite",
    "asof_range_joins",
    "pipeline_dag",
    "merge_upsert_customers",
    "script_escape_hatch",
    "orchestration_dag",
    "join_strategies",
    "multimodal_decode",
    "dataset_profile",
    "corpus_curation",
    "crawl_ingest_docs",
    "sampling_splits",
    "token_ops_docs",
    "pii_tfidf_docs",
    "sql_task_pricing",
    "window_customer_orders",
    "pivot_median_orders",
    "dtsx_packages",
    "cdc_orders",
    "parts_fuzzy_pagerank",
    "events_payload_layout",
    "roundtrip_sinks",
]

assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)

QUERIES = {name: ALL_QUERIES[name] for name in _DRIVER_WINDOW}
ORACLES = {
    name: ALL_ORACLES[name] for name in _DRIVER_WINDOW if name in ALL_ORACLES
}
