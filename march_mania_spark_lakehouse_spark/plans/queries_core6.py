"""Classic TPC-H join shapes on the driver fixture: Q5 (local-supplier
volume — the canonical 6-table join with a cycle predicate) and Q10
(returned-item revenue top-k). These lock in the multi-join planning
behavior the relational core must keep at scale: small dimensions
broadcast, the fact table shuffles at most once per key change, and a
deterministic top-k cut survives any parallelism.

Reference parity: the reference's joins are all small-dim equi-joins
(SURVEY.md §2.3, src/features/basketball_features_plus.py:91-99); these
two queries are the same attach-dimensions idiom at its TPC-H-standard
hardest (cycle predicate through customer↔supplier nation equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.functions.numeric import dsum, exact_sum, sql_dsum
from march_mania_spark_lakehouse_spark.plans.registry import query

_Q123_SQL = f"""
SELECT n.n_name,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@query("q123_tpch_q5_local_volume", oracle=_Q123_SQL, tags=("join", "agg", "tpch"))
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the customer and the
    supplier share a nation (the cycle predicate that defeats naive join
    reordering). Supplier/nation/region broadcast; lineitem⋈orders⋈
    customer are the only shuffled joins, and the region/date filters
    reach their scans."""
    li = catalog.load(spark, "lineitem", sf_dir)
    o = catalog.load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    c = catalog.load(spark, "customer", sf_dir)
    s = catalog.load(spark, "supplier", sf_dir)
    n = catalog.load(spark, "nation", sf_dir)
    r = catalog.load(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q127_SQL = """
WITH versions AS (
    SELECT user_id, ts AS valid_from,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(28,6)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS DOUBLE) AS cum_value
    FROM events WHERE event_type = 'purchase'
),
dim AS (
    -- ties on valid_from keep the latest version (as-of determinism
    -- contract); separate CTE because windows cannot nest
    SELECT * FROM versions
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, valid_from
                               ORDER BY n_purchases DESC) = 1
),
clicks AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id,
       d.n_purchases AS asof_n_purchases,
       d.cum_value AS asof_cum_value
FROM clicks c
ASOF LEFT JOIN dim d ON c.user_id = d.user_id AND d.valid_from <= c.ts
"""


@query("q127_point_in_time_join", oracle=_Q127_SQL, tags=("join", "temporal"))
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time lookup: a versioned dimension (each
    purchase opens a new version carrying the user's running purchase
    count and decimal-exact cumulative spend) joined AS-OF each click's
    event time — the leakage-free feature-attach every training pipeline
    needs (a click must never see a later version). Built from the same
    union+window as-of machinery as q57 (one shuffle on the key, one
    ordered pass, no range explosion); versions tied on valid_from are
    pre-deduped to the latest, the determinism contract of as-of."""
    from pyspark.sql import Window

    from march_mania_spark_lakehouse_spark.operators import temporal

    ev = catalog.load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("n_purchases", F.row_number().over(w))
        .withColumn("cum_value", exact_sum("value", w))
        .select(
            "user_id", F.col("ts").alias("valid_from"), "n_purchases", "cum_value"
        )
    )
    w_tie = Window.partitionBy("user_id", "valid_from").orderBy(
        F.col("n_purchases").desc()
    )
    dim = (
        dim.withColumn("__rn", F.row_number().over(w_tie))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = temporal.asof_join(
        clicks,
        dim,
        on=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        value_cols=["n_purchases", "cum_value"],
        strict=False,
    )
    return out.select(
        "event_id", "user_id", "asof_n_purchases", "asof_cum_value"
    )


_Q126_SQL = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n,
     LATERAL (SELECT c_custkey, c_acctbal
              FROM customer c
              WHERE c.c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_custkey
              LIMIT 2) t
"""


@query("q126_lateral_topn", oracle=_Q126_SQL, tags=("join", "sql"))
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 customers per nation by
    account balance, deterministic tiebreak) — the SQL-standard form of
    per-group top-k; Catalyst decorrelates it to the same window/limit
    plan as q11's DataFrame formulation, so the lateral surface costs
    nothing extra at scale. Identical SQL runs on the oracle."""
    for t in ("nation", "customer"):
        catalog.load(spark, t, sf_dir).createOrReplaceTempView(f"__q126_{t}")
    return spark.sql(
        _Q126_SQL.replace("nation n", "__q126_nation n").replace(
            "customer c", "__q126_customer c"
        )
    )


_Q124_SQL = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@query("q124_tpch_q10_returns", oracle=_Q124_SQL, tags=("join", "agg", "tpch"))
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. The top-k cut is deterministic at any parallelism: revenue
    is an exact decimal sum and the (revenue desc, custkey) tiebreak is
    total — so the LIMIT boundary cannot flap between engines. Compiles
    to TakeOrderedAndProject (per-partition heaps, no global sort)."""
    li = catalog.load(spark, "lineitem", sf_dir).filter(
        F.col("l_returnflag") == "R"
    )
    o = catalog.load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-07-01")
    )
    c = catalog.load(spark, "customer", sf_dir)
    n = catalog.load(spark, "nation", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


# --------------------------------------------------------------------------
# q133 — TPC-H Q7 shape (volume shipping): revenue between every pair of
# distinct (supplier nation, customer nation) by ship year. Two separate
# nation lookups off one dimension — the classic double-role broadcast —
# with the fact table shuffling only on its join keys.
# --------------------------------------------------------------------------

_Q133_SQL = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "volume")},
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


@query("q133_tpch_q7_volume_shipping", oracle=_Q133_SQL, tags=("join", "agg", "tpch"))
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume by ship year. The
    nation dimension joins TWICE under different roles (supplier side,
    customer side) — both broadcast, so the only shuffles are the
    lineitem⋈orders⋈customer fact joins; the ship-date range filter
    reaches the lineitem scan."""
    li = catalog.load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = catalog.load(spark, "orders", sf_dir)
    s = catalog.load(spark, "supplier", sf_dir)
    c = catalog.load(spark, "customer", sf_dir)
    n1 = catalog.load(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = catalog.load(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q134 — TPC-H Q9 shape (product-type profit): profit by supplier nation
# and order year for parts matching a name pattern. (The fixture has no
# partsupp table, so profit omits the supplycost term — the join/agg
# topology is Q9's: fact ⋈ filtered part ⋈ supplier ⋈ nation ⋈ orders.)
# --------------------------------------------------------------------------

_Q134_SQL = f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "profit")},
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
"""


@query("q134_tpch_q9_product_profit", oracle=_Q134_SQL, tags=("join", "agg", "tpch"))
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation, per-year profit restricted to parts
    whose name matches a pattern. The LIKE-filtered part table shrinks
    before broadcasting (filter-then-broadcast is the planning win CBO
    stats enable at scale); supplier/nation broadcast; lineitem⋈orders
    is the one shuffled join."""
    li = catalog.load(spark, "lineitem", sf_dir)
    p = catalog.load(spark, "part", sf_dir).filter(F.col("p_name").like("%widget%"))
    s = catalog.load(spark, "supplier", sf_dir)
    n = catalog.load(spark, "nation", sf_dir)
    o = catalog.load(spark, "orders", sf_dir)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q135 — ranking-window completeness: ntile, percent_rank, cume_dist
# (the three SQL ranking functions the surface didn't already pin via
# q35/q60), all over one window — one sort, three functions.
# --------------------------------------------------------------------------

_Q135_SQL = """
SELECT o_orderkey,
       o_orderstatus,
       CAST(ntile(4) OVER w AS INT) AS price_quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       CAST(row_number() OVER w AS BIGINT) AS rn
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""


@query("q135_ranking_windows", oracle=_Q135_SQL, tags=("window",))
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist share one window spec, so Catalyst
    evaluates all four functions in a single Window operator over a
    single per-partition sort (deterministic total order via the
    orderkey tiebreak — at any parallelism, every rank is stable)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


# --------------------------------------------------------------------------
# q140 — TPC-H Q8 shape (national market share): one supplier nation's
# share of regional order revenue by order year. Share = conditional
# sum / total sum in a single aggregate pass — no second join against a
# totals table — and every dimension broadcasts.
# --------------------------------------------------------------------------

_Q140_SQL = f"""
WITH base AS (
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38, 10))
               AS volume,
           n1.n_name AS supp_nation
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    JOIN region r ON n2.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    WHERE r.r_name = 'ASIA'
)
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                           ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share,
       COUNT(*) AS n_items
FROM base
GROUP BY o_year
"""


@query("q140_tpch_q8_market_share", oracle=_Q140_SQL, tags=("join", "agg", "tpch"))
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's (NATION_7) share of ASIA-customer order revenue per
    year. The share is a conditional-sum / total-sum ratio inside ONE
    aggregate (no totals self-join); numerator and denominator are
    exact decimal sums so the ratio is order-independent, then a single
    IEEE divide+round matches the oracle bit-for-bit. All six
    dimension joins broadcast; lineitem⋈orders⋈customer shuffle once."""
    li = catalog.load(spark, "lineitem", sf_dir)
    o = catalog.load(spark, "orders", sf_dir)
    c = catalog.load(spark, "customer", sf_dir)
    s = catalog.load(spark, "supplier", sf_dir)
    n1 = catalog.load(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = catalog.load(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = catalog.load(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,10)"
    )
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(38,10)")
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(zero)).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# q141 — TPC-H Q18 shape (large-volume customers): orders whose total
# line quantity exceeds a threshold, joined back for customer detail.
# The HAVING subquery becomes a pre-aggregation that is TINY after its
# filter — the join back to orders/customer broadcasts it.
# --------------------------------------------------------------------------

_Q141_QTY = 120

_Q141_SQL = f"""
WITH big AS (
    SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS BIGINT)) > {_Q141_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
       CAST(b.total_qty AS BIGINT) AS total_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


@query("q141_tpch_q18_large_orders", oracle=_Q141_SQL, tags=("join", "agg", "tpch"))
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-filter-then-join-back. The
    post-HAVING order set is a tiny fraction of orders, so it drives
    the joins as the (broadcastable) build side — the fact table is
    reduced BEFORE any wide join, which is the entire point of the
    shape at 100 TB."""
    li = catalog.load(spark, "lineitem", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > _Q141_QTY)
    )
    o = catalog.load(spark, "orders", sf_dir)
    c = catalog.load(spark, "customer", sf_dir)
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


# --------------------------------------------------------------------------
# q142 — TPC-H Q22 shape (global-filter + anti-join): customers from
# selected "country codes" (key-mod cohorts here) with above-average
# balance and no URGENT orders (this fixture gives every customer at
# least one order, so Q22's "no orders at all" would be vacuously
# empty — the anti-join shape is identical). The global average is a
# scalar subquery — one number broadcast into the filter — and the
# negation is a left anti join, never a NOT IN scan.
# --------------------------------------------------------------------------

_Q142_SQL = """
WITH avg_bal AS (
    SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c.c_custkey % 7 AS INT) AS cohort,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(ROUND(c.c_acctbal, 2) AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS total_bal
FROM customer c, avg_bal
WHERE c.c_custkey % 7 IN (1, 3, 5)
  AND c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY 1
"""


@query("q142_tpch_q22_no_order_customers", oracle=_Q142_SQL, tags=("join", "agg", "tpch"))
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (the global average is
    ONE broadcast number, not a join) + left ANTI join against the
    urgent-order customer set, then a cohort aggregate with an exact
    decimal balance sum."""
    c = catalog.load(spark, "customer", sf_dir)
    o = (
        catalog.load(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).first()[0]
    )
    eligible = c.filter(
        (F.col("c_custkey") % 7).isin(1, 3, 5) & (F.col("c_acctbal") > F.lit(avg_bal))
    )
    no_orders = eligible.join(o, eligible.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.groupBy((F.col("c_custkey") % 7).cast("int").alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.round("c_acctbal", 2).cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_bal"),
        )
    )


# --------------------------------------------------------------------------
# q146 — TPC-H Q6 shape (forecast revenue change): the canonical
# predicate-pushdown benchmark — a pure scan-aggregate whose selective
# date/discount/quantity band must reach the parquet reader, scanning
# row groups, not rows.
# --------------------------------------------------------------------------

_Q146_SQL = f"""
SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")},
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q146_tpch_q6_forecast_revenue", oracle=_Q146_SQL, tags=("agg", "tpch"))
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: one filtered scan, one global aggregate, zero
    joins — every predicate pushes to the parquet scan (plan-asserted
    for this family in test_plans), so at 100 TB the reader skips row
    groups whose stats exclude the band."""
    li = catalog.load(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q147 — TPC-H Q15 shape (top supplier view): revenue per supplier for a
# quarter, then the supplier(s) achieving the MAX — the argmax-of-an-
# aggregate idiom: the "view" aggregates once, the max is a one-row
# broadcast back onto it, never a re-aggregation.
# --------------------------------------------------------------------------

_Q147_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           {sql_dsum("l_extendedprice * (1 - l_discount)", "total_revenue")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("q147_tpch_q15_top_supplier", oracle=_Q147_SQL, tags=("join", "agg", "tpch"))
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view → scalar max → equality join
    back. The revenue view computes ONCE (cached-by-plan reuse of the
    same subtree); the max is one row broadcast into the filter. Exact
    decimal revenue makes 'equals the max' deterministic — float sums
    would make the argmax flap with partitioning."""
    li = catalog.load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("__mx"))
    s = catalog.load(spark, "supplier", sf_dir)
    return (
        revenue.join(F.broadcast(best), F.col("total_revenue") == F.col("__mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# q148 — TPC-H Q17 shape (small-quantity-order revenue): lineitems of a
# brand whose quantity is below 20% of that part's average quantity.
# The correlated scalar subquery decorrelates to one per-part average
# joined back — per-part state, never per-row probing.
# --------------------------------------------------------------------------

_Q148_SQL = f"""
WITH avg_qty AS (
    SELECT l_partkey, AVG(CAST(l_quantity AS DOUBLE)) AS aq
    FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       {sql_dsum("l.l_extendedprice", "total_price")},
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN avg_qty a ON l.l_partkey = a.l_partkey
WHERE p.p_type = 'ECONOMY'
  AND CAST(l.l_quantity AS DOUBLE) < 0.5 * a.aq
GROUP BY p.p_brand
"""


@query("q148_tpch_q17_small_qty_orders", oracle=_Q148_SQL, tags=("join", "agg", "tpch"))
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: the correlated 'below this part's average'
    predicate as an explicit per-part aggregate joined back (exactly
    what Catalyst's decorrelation produces) — the aggregate is
    part-cardinality-sized, the fact table joins it once on the part
    key."""
    li = catalog.load(spark, "lineitem", sf_dir)
    p = catalog.load(spark, "part", sf_dir).filter(F.col("p_type") == "ECONOMY")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        F.avg(F.col("l_quantity").cast("double")).alias("aq")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity").cast("double") < 0.5 * F.col("aq"))
        .groupBy("p_brand")
        .agg(
            dsum(F.col("l_extendedprice"), "total_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q149 — TPC-H Q19 shape (discounted revenue, disjunctive predicates):
# an OR of three (brand, size-range, quantity-range) conjunct groups.
# What's under test is the planner: the disjunction must still produce
# a usable join (common conjuncts extracted, per-branch ranges pushed),
# not a cartesian with a residual filter.
# --------------------------------------------------------------------------

_Q149_SQL = f"""
SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 40)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
"""


@query("q149_tpch_q19_disjunctive", oracle=_Q149_SQL, tags=("join", "agg", "tpch"))
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: equi-join on partkey with a 3-branch disjunction
    of brand/size/quantity conjuncts on top — the join key is common to
    every branch, so the plan stays a hash join with the disjunction as
    a post-join filter whose part-side conjuncts (brand IN, size
    bounds) still prune the broadcast build side."""
    li = catalog.load(spark, "lineitem", sf_dir)
    p = catalog.load(spark, "part", sf_dir).filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q152 — TPC-H Q4 shape (order-priority checking): count orders per
# priority having ≥1 returned lineitem — EXISTS decorrelates to a left
# SEMI join (each order contributes once however many lineitems match),
# then a priority rollup.
# --------------------------------------------------------------------------

_Q152_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
"""


@query("q152_tpch_q4_priority_check", oracle=_Q152_SQL, tags=("join", "agg", "tpch"))
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left semi join — the probe emits each
    order at most once regardless of matching-lineitem count (no
    pre-distinct, no row explosion), then one small rollup."""
    o = catalog.load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = catalog.load(spark, "lineitem", sf_dir).filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --------------------------------------------------------------------------
# q153 — TPC-H Q16 shape (part–supplier relationship counting): distinct
# suppliers per (brand, type, size) for selected sizes, excluding one
# brand AND suppliers disqualified by a subquery (here: negative
# balance) — NOT IN compiles to a broadcast anti join, and the distinct
# count rides a two-level aggregate.
# --------------------------------------------------------------------------

_Q153_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 9, 16, 25)
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query("q153_tpch_q16_supplier_counts", oracle=_Q153_SQL, tags=("join", "agg", "tpch"))
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: the NOT-IN subquery becomes a broadcast LEFT
    ANTI join against the (tiny) disqualified-supplier set — never a
    per-row subquery probe — and COUNT(DISTINCT supplier) per part
    bucket expands to Spark's two-phase distinct aggregate."""
    li = catalog.load(spark, "lineitem", sf_dir)
    p = catalog.load(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 16, 25)
    )
    bad = catalog.load(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
