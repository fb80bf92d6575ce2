"""Second core batch: the Catalyst built-ins SURVEY.md §2 puts in scope
beyond the reference's own usage (§2.4 "grouping sets/cube/rollup…",
§2.5 "rank/dense_rank/lag/lead", §2.7 intersect/except) plus richer
scalar/date/string coverage and relational sessionization."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.functions.numeric import dsum, exact_sum, sql_dsum
from march_mania_spark_lakehouse_spark.operators.core import rebalance_scan
from march_mania_spark_lakehouse_spark.plans.registry import query

# --------------------------------------------------------------------------
# W* extensions: rank / dense_rank / lag / lead / cumulative sum.
# --------------------------------------------------------------------------

_Q35_SQL = """
SELECT event_id, user_id, value,
       RANK()       OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       LAG(value)   OVER w AS prev_value,
       LEAD(value)  OVER w AS next_value,
       CAST(SUM(CAST(value AS DECIMAL(28,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("q35_rank_lag_lead", oracle=_Q35_SQL, tags=("window",))
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + offset + cumulative window functions in one pass (all
    share the same window spec → a single shuffle/sort)."""
    ev = catalog.load(spark, "events", sf_dir).select("event_id", "ts", "user_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        exact_sum("value", wcum).alias("running_value"),
    )


# --------------------------------------------------------------------------
# A* extensions: rollup / cube with GROUPING markers.
# --------------------------------------------------------------------------

_Q36_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       COUNT(*) AS n_rows,
       {sql_dsum("l_quantity", "sum_qty")}
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@query("q36_rollup_totals", oracle=_Q36_SQL, tags=("agg",))
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals with GROUPING() disambiguation."""
    # No rebalance (optimization round 14): the rollup's ×3 expansion is
    # still a cheap partial aggregate — the added full-fact exchange
    # cost more than the parallelism bought (driver 0.78 → 0.92 s in
    # round 13); q37's ×4 cube keeps its rebalance (it paid: 1.31×)
    li = catalog.load(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
    )


_Q37_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       COUNT(*) AS n_rows,
       {sql_dsum("l_extendedprice", "sum_price")}
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@query("q37_cube_totals", oracle=_Q37_SQL, tags=("agg",))
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all 2² grouping sets in one pass)."""
    # same single-task-scan story as q36 (×4 cube expansion)
    li = rebalance_scan(catalog.load(spark, "lineitem", sf_dir))
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice", "sum_price"),
    )


# --------------------------------------------------------------------------
# Pivot (oracle via portable conditional aggregation).
# --------------------------------------------------------------------------

_Q38_SQL = f"""
SELECT l_returnflag,
       {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", "qty_O")},
       {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", "qty_F")}
FROM lineitem
GROUP BY l_returnflag
"""


@query("q38_pivot_status", oracle=_Q38_SQL, tags=("agg",))
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on line status (fixed value list → no extra discovery job)."""
    li = catalog.load(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(exact_sum("l_quantity"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# --------------------------------------------------------------------------
# U* extensions: INTERSECT / EXCEPT.
# --------------------------------------------------------------------------

_Q39_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@query("q39_intersect", oracle=_Q39_SQL, tags=("setop",))
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers having both fulfilled and open orders."""
    o = catalog.load(spark, "orders", sf_dir)
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


_Q40_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@query("q40_except", oracle=_Q40_SQL, tags=("setop",))
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics — Spark's ``subtract``, not the bag-semantics
    ``exceptAll``): customers with fulfilled but no open orders."""
    o = catalog.load(spark, "orders", sf_dir)
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(op)


# --------------------------------------------------------------------------
# Multiple distinct aggregates (Catalyst expand) — §2.4 extension.
# --------------------------------------------------------------------------

_Q41_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
GROUP BY l_returnflag
"""


@query("q41_multi_distinct", oracle=_Q41_SQL, tags=("agg",))
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three distinct-aggregates in one group-by (Expand-based plan)."""
    li = catalog.load(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# E5 extension: from_json with declared schema (vs get_json_object).
# --------------------------------------------------------------------------

_Q42_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       event_type
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
"""


@query("q42_from_json_schema", oracle=_Q42_SQL, tags=("json",))
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with a declared struct schema + predicate on the parsed
    field (stays JVM-side; Catalyst prunes the struct)."""
    ev = catalog.load(spark, "events", sf_dir)
    parsed = ev.withColumn("js", F.from_json("props", "k INT"))
    return (
        parsed.withColumn("k", F.col("js.k"))
        .filter(F.col("k") >= 50)
        .select("event_id", "k", "event_type")
    )


# --------------------------------------------------------------------------
# Relational sessionization (gap-based) — lag + cumulative sum, no UDF.
# --------------------------------------------------------------------------

_Q43_SQL = """
WITH gaps AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '30 minutes'
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
),
sessions AS (
    SELECT user_id, ts, value,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
    FROM gaps
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


@query("q43_sessionize", oracle=_Q43_SQL, tags=("window", "events"))
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization expressed relationally (lag → new-session
    flag → running sum as session id → per-session agg). One shuffle on
    user_id serves all three window steps."""
    ev = catalog.load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (F.col("ts").cast("double") - prev_ts.cast("double") > 30 * 60)
    ).cast("int")
    sessions = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value", "session_value"),
    )


# --------------------------------------------------------------------------
# Time-range window frame (trailing 1 hour by event time).
# --------------------------------------------------------------------------

_Q44_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
            PARTITION BY user_id ORDER BY epoch(ts)
            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_1h_value
FROM events
"""


@query("q44_range_frame", oracle=_Q44_SQL, tags=("window", "events"))
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time seconds: trailing 1-hour sum per user
    (value-based frame, not row-based)."""
    ev = catalog.load(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        exact_sum("value", w).alias("trailing_1h_value"),
    )


# --------------------------------------------------------------------------
# Exact multi-percentile aggregation.
# --------------------------------------------------------------------------

_Q45_SQL = """
SELECT l_linestatus,
       CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS p25_qty,
       CAST(quantile_cont(l_quantity, 0.50) AS DOUBLE) AS p50_qty,
       CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS p75_qty,
       CAST(quantile_cont(l_extendedprice, 0.90) AS DOUBLE) AS p90_price
FROM lineitem
GROUP BY l_linestatus
"""


@query("q45_percentiles", oracle=_Q45_SQL, tags=("agg",))
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the reference's percentile_approx
    consensus A3, switched to exact for oracle parity). The three
    l_quantity percentiles come from ONE array-argument percentile
    aggregate (optimization round 14): three scalar calls each buffered
    and sorted the full 600k-value column independently — one buffer,
    one sort, identical interpolated values."""
    li = catalog.load(spark, "lineitem", sf_dir)
    agg = li.groupBy("l_linestatus").agg(
        F.percentile(
            "l_quantity", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
        ).alias("q_qty"),
        F.percentile("l_extendedprice", 0.90).alias("p90_price"),
    )
    return agg.select(
        "l_linestatus",
        F.col("q_qty")[0].alias("p25_qty"),
        F.col("q_qty")[1].alias("p50_qty"),
        F.col("q_qty")[2].alias("p75_qty"),
        "p90_price",
    )


# --------------------------------------------------------------------------
# String-function breadth (F3 family).
# --------------------------------------------------------------------------

_Q46_SQL = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       replace(p_type, 'PROMO', 'P') AS type_short,
       CAST(length(p_name) AS INTEGER) AS name_len,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
       substring(p_brand, 7, 2) AS brand_suffix,
       CASE WHEN p_name LIKE '%widget%' THEN 1 ELSE 0 END AS is_widget
FROM part
"""


@query("q46_string_functions", oracle=_Q46_SQL, tags=("scalar",))
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/replace/length/lpad/substring/LIKE in one projection."""
    p = catalog.load(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.replace(F.col("p_type"), F.lit("PROMO"), F.lit("P")).alias("type_short"),
        F.length("p_name").alias("name_len"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.substring("p_brand", 7, 2).alias("brand_suffix"),
        F.col("p_name").like("%widget%").cast("int").alias("is_widget"),
    )


# --------------------------------------------------------------------------
# Date-function breadth.
# --------------------------------------------------------------------------

_Q47_SQL = """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(isodow(o_orderdate) AS INTEGER) AS iso_weekday,
       CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER)
           AS days_since_epoch_start,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS order_quarter
FROM orders
"""


@query("q47_date_functions", oracle=_Q47_SQL, tags=("scalar",))
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc / ISO weekday / datediff / quarter extraction."""
    o = catalog.load(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("iso_weekday"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).alias("days_since_epoch_start"),
        F.quarter("o_orderdate").alias("order_quarter"),
    )
