"""Round-6 lake-layer query batch: bin-pack compaction, null-count
data skipping, TIMESTAMP-AS-OF time travel on both lake formats, and
governed publishing (tags / write-audit-publish).

Every query is oracle-checked. The lake operations under test are all
semantically invisible (compaction, pruning, ref resolution change the
PLAN, never the answer), so each oracle is the plain relational
reconstruction over the source table — if the metadata machinery
drops, duplicates, or resurrects a single row, the value hash breaks.

Each fixture is a recipe published once through `plans.fixtures.published`,
so repeated runs (`bench.py`, the parity tests) reuse the published tables,
while a regenerated dataset or a code change publishes fresh.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.functions.numeric import dsum, sql_dsum
from march_mania_spark_lakehouse_spark.plans.fixtures import published
from march_mania_spark_lakehouse_spark.plans.registry import query


# --------------------------------------------------------------------------
# q188 — bin-pack compaction (iceberg.optimize): a drip of small files
# plus a merge-on-read DELETE, then OPTIMIZE packs the small tail and
# materializes the tombstones it touches. Compaction must be
# semantically invisible, so the oracle is the plain filtered
# aggregate over the logical rows.
# --------------------------------------------------------------------------

_Q188_SQL = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dsum("o_totalprice", "sum_price")}
FROM orders
WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 9 <> 0
GROUP BY o_orderstatus
"""


@published
def _orders_iceberg_optimized(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    orders = catalog.load(spark, "orders", sf_dir)
    iceberg.create(
        orders.filter(F.col("o_orderkey") % 3 == 0).repartition(6), table
    )
    iceberg.append(
        orders.filter(F.col("o_orderkey") % 3 == 1).repartition(6), table
    )
    iceberg.delete_where(spark, table, "o_orderkey % 9 = 0")
    iceberg.optimize(spark, table)  # 12 small files + tombstones → 1


@query("q188_iceberg_optimize_scan", oracle=_Q188_SQL, tags=("lake", "agg"))
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the post-OPTIMIZE snapshot: the small-file drip
    was bin-packed (files already at target size would carry as
    EXISTING entries untouched — compaction cost tracks the small
    TAIL, never the table, which is the shape that matters when a
    streaming sink drips thousands of files into a 100 TB table) and
    the rewritten rows carry the new sequence number, so older
    tombstones correctly no longer apply. Old snapshots stay
    time-travelable until expiry."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _orders_iceberg_optimized(spark, sf_dir)
    return (
        iceberg.read_iceberg(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# --------------------------------------------------------------------------
# q189 — null-count data skipping (iceberg.scan_null): the table is
# published in two appends split by the null flag, so the manifests'
# null_value_counts (spec field-id 110) let an IS NULL scan prune the
# null-free files from metadata alone. Pruning is invisible; the
# oracle filters the same derived column.
# --------------------------------------------------------------------------

_Q189_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
FROM orders
WHERE o_orderkey % 7 = 0
GROUP BY o_orderstatus
"""


@published
def _orders_iceberg_nullstats(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    orders = catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 != 0, F.col("o_orderkey") % 7
        ).alias("mod7"),  # null exactly when o_orderkey % 7 = 0
    )
    iceberg.create(
        orders.filter(F.col("o_orderkey") % 7 == 0).coalesce(1),
        table,
        stat_cols=("o_orderkey", "mod7"),
    )
    iceberg.append(
        orders.filter(F.col("o_orderkey") % 7 != 0).repartition(4),
        table,
        stat_cols=("o_orderkey", "mod7"),
    )


@query("q189_iceberg_null_pruned_scan", oracle=_Q189_SQL, tags=("lake", "agg"))
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL audit query planned from null_value_counts: the four
    null-free files are skipped without opening a footer — at 100 TB a
    sparse-null data-quality sweep plans a handful of files instead of
    scanning the table. The residual IS NULL predicate keeps the
    answer exact whatever the stats say."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _orders_iceberg_nullstats(spark, sf_dir)
    return (
        iceberg.scan_null(spark, table, "mod7", is_null=True)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


# --------------------------------------------------------------------------
# q190 — Delta TIMESTAMP AS OF: v0 and a later append, read back as of
# v0's commit timestamp. Timestamp resolution must pick exactly v0, so
# the oracle reconstructs v0's rows.
# --------------------------------------------------------------------------

_Q190_SQL = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dsum("o_totalprice", "sum_price")}
FROM orders
WHERE o_orderkey % 3 = 0
GROUP BY o_orderstatus
"""


@published
def _orders_delta_ts_table(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import delta_log

    orders = catalog.load(spark, "orders", sf_dir)
    delta_log.create(orders.filter(F.col("o_orderkey") % 3 == 0), table)
    time.sleep(0.05)  # distinct commit timestamps
    delta_log.append(orders.filter(F.col("o_orderkey") % 3 == 1), table)


def _v0_commit_ts(table: str) -> int:
    from march_mania_spark_lakehouse_spark.sources import delta_log

    for a in delta_log._read_actions(delta_log._commit_path(table, 0)):
        if "commitInfo" in a:
            return a["commitInfo"]["timestamp"]
    raise AssertionError("v0 has no commitInfo")


@query("q190_delta_timestamp_travel", oracle=_Q190_SQL, tags=("lake", "agg"))
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP-AS-OF read resolved by `delta_log.version_at_timestamp`
    (newest commit at or before the timestamp, from the log's bounded
    JSON tail): asking for v0's own commit time must return exactly v0
    — one version too far either way breaks the hash."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    table = _orders_delta_ts_table(spark, sf_dir)
    return (
        delta_log.read_delta(spark, table, as_of_ms=_v0_commit_ts(table))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# --------------------------------------------------------------------------
# q191 — Iceberg TIMESTAMP AS OF via the snapshot log (the q190 shape
# on the second lake format).
# --------------------------------------------------------------------------

_Q191_SQL = _Q190_SQL


@published
def _orders_iceberg_ts_table(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    orders = catalog.load(spark, "orders", sf_dir)
    iceberg.create(orders.filter(F.col("o_orderkey") % 3 == 0), table)
    time.sleep(0.05)
    iceberg.append(orders.filter(F.col("o_orderkey") % 3 == 1), table)


@query("q191_iceberg_timestamp_travel", oracle=_Q191_SQL, tags=("lake", "agg"))
def q191(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP-AS-OF resolved from the Iceberg snapshot log (newest
    snapshot-log entry at or before the timestamp — 'the table as the
    reader saw it then'); asking for the first snapshot's own commit
    time must plan exactly its manifest list."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _orders_iceberg_ts_table(spark, sf_dir)
    ts1 = iceberg.current_metadata(table)["snapshot-log"][0]["timestamp-ms"]
    return (
        iceberg.read_iceberg(spark, table, as_of_ms=ts1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# --------------------------------------------------------------------------
# q192 — write-audit-publish on the Iceberg layer: a good batch staged
# on a branch, audited, and fast-forwarded into main; then a BAD batch
# whose audit fails and must leave main untouched. The head aggregate
# must equal base+good — if the failed publish leaked a row or the
# good one was double-published, the hash breaks.
# --------------------------------------------------------------------------

_Q192_SQL = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dsum("o_totalprice", "sum_price")}
FROM orders
WHERE o_orderkey % 4 IN (0, 1)
GROUP BY o_orderstatus
"""


@published
def _orders_iceberg_wap_table(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    orders = catalog.load(spark, "orders", sf_dir)
    iceberg.create(orders.filter(F.col("o_orderkey") % 4 == 0), table)
    n_base = orders.filter(F.col("o_orderkey") % 4 == 0).count()
    iceberg.write_audit_publish(
        orders.filter(F.col("o_orderkey") % 4 == 1),
        table,
        lambda staged: staged.count() > n_base
        and staged.filter(F.col("o_orderkey").isNull()).count() == 0,
    )
    try:
        iceberg.write_audit_publish(
            orders.filter(F.col("o_orderkey") % 4 == 2),
            table,
            lambda staged: False,  # audit rejects: must not publish
        )
    except iceberg.IcebergAuditError:
        pass


@query("q192_iceberg_wap_publish", oracle=_Q192_SQL, tags=("lake", "agg"))
def q192(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the WAP-governed head: the audited batch is in,
    the rejected batch is not — its staged files are unreferenced
    debris main never pointed at (the isolation WAP exists for: bad
    data is auditable on the branch but unreachable from production
    reads)."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _orders_iceberg_wap_table(spark, sf_dir)
    return (
        iceberg.read_iceberg(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# --------------------------------------------------------------------------
# q193 — tag-pinned diff: a tag names the pre-append snapshot, and the
# per-status diff between the tag and main reproduces exactly what the
# append added (the q177 time-travel diff, now by NAME instead of id —
# the release-audit idiom: "what changed since v1.0?").
# --------------------------------------------------------------------------

_Q193_SQL = f"""
WITH tagged AS (
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_orderstatus
),
head AS (
    SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum("o_totalprice", "total_price")}
    FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY o_orderstatus
)
SELECT head.o_orderstatus,
       CAST(COALESCE(tagged.n, 0) AS BIGINT) AS n_tagged,
       CAST(head.n AS BIGINT) AS n_head,
       CAST(head.n - COALESCE(tagged.n, 0) AS BIGINT) AS n_added,
       head.total_price
FROM head LEFT JOIN tagged USING (o_orderstatus)
"""


@published
def _orders_iceberg_tagged_table(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    orders = catalog.load(spark, "orders", sf_dir)
    iceberg.create(orders.filter(F.col("o_orderkey") % 3 == 0), table)
    iceberg.create_tag(table, "v1.0")
    iceberg.append(orders.filter(F.col("o_orderkey") % 3 == 1), table)


@query("q193_iceberg_tag_diff", oracle=_Q193_SQL, tags=("lake", "agg"))
def q193(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status diff between the tag 'v1.0' and main, both resolved
    by ref name from table metadata. Tags also pin retention:
    `expire_snapshots` keeps tagged snapshots alive, so the release
    audit keeps working after history trimming."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _orders_iceberg_tagged_table(spark, sf_dir)
    tagged = (
        iceberg.read_iceberg(spark, table, ref="v1.0")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_tagged"))
    )
    head = (
        iceberg.read_iceberg(spark, table, ref="main")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_head"),
            dsum("o_totalprice", "total_price"),
        )
    )
    return head.join(tagged, "o_orderstatus", "left").select(
        "o_orderstatus",
        F.coalesce(F.col("n_tagged"), F.lit(0).cast("long")).alias("n_tagged"),
        "n_head",
        (F.col("n_head") - F.coalesce(F.col("n_tagged"), F.lit(0))).alias(
            "n_added"
        ),
        "total_price",
    )


# --------------------------------------------------------------------------
# q195 — partition evolution: events published day(ts)-partitioned,
# the spec evolved to hour(ts), a second generation appended hourly —
# then one time-range aggregate spanning BOTH generations, each pruned
# under the spec it was written with. Evolution is metadata-only and
# semantically invisible, so the oracle is the plain time-filtered
# aggregate over all the rows.
# --------------------------------------------------------------------------

_Q195_SQL = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum("value", "sum_value")}
FROM events
WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
  AND ts <= TIMESTAMP '2024-01-04 23:59:59'
  AND event_id % 2 = 0
GROUP BY event_type
"""


@published
def _events_iceberg_evolved_table(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    events = catalog.load(spark, "events", sf_dir)
    iceberg.create(
        events.filter(F.col("event_id") % 4 == 0), table,
        partition_by=["day(ts)"],
    )
    iceberg.evolve_partition_spec(table, ["hour(ts)"])
    iceberg.append(events.filter(F.col("event_id") % 4 == 2), table)


@query("q195_iceberg_partition_evolution", oracle=_Q195_SQL, tags=("lake", "agg"))
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range aggregate across a partition-evolved table
    (`iceberg.evolve_partition_spec`): the day-generation manifests
    prune by day ordinals, the hour-generation by hour ordinals — each
    under its own recorded spec_id — and no byte of history was
    rewritten to change the layout. At 100 TB this is the feature that
    lets a table's partitioning track its growth (day → hour) for the
    cost of one metadata commit."""
    import datetime

    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _events_iceberg_evolved_table(spark, sf_dir)
    scanned = iceberg.scan_range(
        spark, table, "ts",
        datetime.datetime(2024, 1, 3, 0, 0, 0),
        datetime.datetime(2024, 1, 4, 23, 59, 59),
    )
    return scanned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


# --------------------------------------------------------------------------
# q196 — partition inspection (iceberg.inspect_partitions): the
# per-day record rollup of the day(ts)-partitioned events table,
# computed FROM MANIFESTS ALONE (no data file opened). Manifest
# record_count totals must equal the real per-day row counts, so the
# oracle recomputes them from the raw rows — a lie anywhere in the
# write path's counting breaks the hash.
# --------------------------------------------------------------------------

_Q196_SQL = """
SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT)
           AS ts_day,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events
WHERE event_id % 4 IN (0, 2)
GROUP BY 1
"""


@query("q196_iceberg_partition_inspection", oracle=_Q196_SQL, tags=("lake", "agg"))
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition record counts from `inspect_partitions` — the
    small-file/skew dashboard every table-maintenance loop watches. At
    100 TB this aggregates manifest entries (KBs of metadata), not the
    table; the oracle proves the metadata actually tells the truth
    about the data."""
    from march_mania_spark_lakehouse_spark.plans.queries_lake import (
        _events_iceberg_day_table,
    )
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _events_iceberg_day_table(spark, sf_dir)
    parts = iceberg.inspect_partitions(spark, table)
    return parts.select(
        F.get_json_object(F.col("partition"), "$.ts_day").cast("int").alias(
            "ts_day"
        ),
        "record_count",
    ).groupBy("ts_day").agg(F.sum("record_count").alias("n_rows"))


# --------------------------------------------------------------------------
# q197 — DESCRIBE HISTORY audit (delta_log.describe_history): the
# commit ledger of the q185 CDC table. History content is fully
# determined by the fixture's publish sequence, so the oracle is a
# VALUES literal — if an operation is mislabeled, misordered, or a
# commit goes missing, the hash breaks.
# --------------------------------------------------------------------------

_Q197_SQL = """
SELECT * FROM (VALUES
    (CAST(0 AS BIGINT), 'CREATE TABLE AS SELECT'),
    (CAST(1 AS BIGINT), 'WRITE'),
    (CAST(2 AS BIGINT), 'DELETE')
) AS t(version, operation)
"""


@query("q197_delta_history_audit", oracle=_Q197_SQL, tags=("lake",))
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit ledger (version, operation) — read from commitInfo
    actions in the bounded JSON log tail, cost independent of table
    size. The governed-lakehouse audit primitive: who wrote what,
    when, in which order."""
    from march_mania_spark_lakehouse_spark.plans.queries_lake import (
        _orders_delta_cdc_table,
    )
    from march_mania_spark_lakehouse_spark.sources import delta_log

    table = _orders_delta_cdc_table(spark, sf_dir)
    return delta_log.describe_history(spark, table).select(
        "version", "operation"
    )


# --------------------------------------------------------------------------
# q198 — Delta null-count data skipping (delta_log.scan_null): the
# q189 shape on the Delta layer, planned from add-action stats
# nullCount instead of Iceberg manifests.
# --------------------------------------------------------------------------

_Q198_SQL = _Q189_SQL


@published
def _orders_delta_nullstats(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import delta_log

    orders = catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 != 0, F.col("o_orderkey") % 7
        ).alias("mod7"),
    )
    delta_log.create(
        orders.filter(F.col("o_orderkey") % 7 == 0).coalesce(1),
        table,
        stat_cols=["o_orderkey", "mod7"],
    )
    delta_log.append(
        orders.filter(F.col("o_orderkey") % 7 != 0).repartition(4),
        table,
        stat_cols=["o_orderkey", "mod7"],
    )


@query("q198_delta_null_pruned_scan", oracle=_Q198_SQL, tags=("lake", "agg"))
def q198(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL audit over the Delta table, pruning null-free files from
    the log's nullCount stats — the second lake format's answer to the
    same 100 TB sparse-null sweep; the residual predicate keeps it
    exact whatever the stats say."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    table = _orders_delta_nullstats(spark, sf_dir)
    return (
        delta_log.scan_null(spark, table, "mod7", is_null=True)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


# --------------------------------------------------------------------------
# q202 — portable KMV NDV sketch (the value-oracled twin of the Puffin
# statistics path, sources/puffin.py + iceberg.write_statistics).
#
# The production NDV sketch hashes with murmur3-x64-128/seed 9001 (the
# DataSketches item convention — not reproducible in SQL), so its
# accuracy is bound-tested in tests/test_puffin.py. This query runs the
# SAME bottom-k estimator over the portable affine hash family
# h = (a·key + b) mod p (a bijection on [0, p) for key < p, p prime),
# which ANY engine reproduces exactly: the k smallest distinct hashes,
# the k-th value, and the estimator (k-1)·p // h_k are all integers —
# a full value oracle for the KMV math itself.
#
# Scale shape: one column projection → map-side-partial distinct →
# TakeOrdered(k) per column; nothing wider than k rows ever reaches a
# single point. Saturation is handled engine-identically: below k
# distinct values the sketch IS the exact count (n < k ⇒ estimate = n).
# --------------------------------------------------------------------------

_KMV_A = 2654435761
_KMV_B = 104729
_KMV_P = 1_000_000_007
_KMV_K = 200


def _kmv_sql_block(table: str, col: str) -> str:
    return f"""
SELECT '{col}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_retained,
       CAST(MAX(h) AS BIGINT) AS kth_hash,
       CAST(
         CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
              ELSE ({_KMV_K} - 1) * CAST({_KMV_P} AS BIGINT) // MAX(h)
         END AS BIGINT) AS ndv_est
FROM (
  SELECT h FROM (
    SELECT DISTINCT ({col} * {_KMV_A} + {_KMV_B}) % {_KMV_P} AS h
    FROM {table}
  ) ORDER BY h LIMIT {_KMV_K}
)"""


_Q202_SQL = (
    _kmv_sql_block("orders", "o_custkey")
    + "\nUNION ALL\n"
    + _kmv_sql_block("lineitem", "l_partkey")
    + "\nUNION ALL\n"
    + _kmv_sql_block("lineitem", "l_suppkey")
)


@query("q202_ndv_kmv_portable", oracle=_Q202_SQL, tags=("sketch", "lake"))
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) NDV sketch state + estimate per key column, over
    the portable affine hash — the value-verifiable form of the Puffin
    ``apache-datasketches-theta-v1`` NDV statistics the Iceberg layer
    writes (iceberg.write_statistics). Columns: the retained count, the
    k-th smallest hash (= theta), and the integer estimator."""

    def one(table: str, col: str) -> DataFrame:
        df = catalog.load(spark, table, sf_dir)
        h = ((F.col(col) * _KMV_A + _KMV_B) % _KMV_P).alias("h")
        top = df.select(h).distinct().orderBy("h").limit(_KMV_K)
        n, kth = F.count(F.lit(1)), F.max("h")
        return top.agg(
            F.lit(col).alias("column_name"),
            n.cast("long").alias("n_retained"),
            kth.cast("long").alias("kth_hash"),
            F.when(n < _KMV_K, n)
            .otherwise(F.expr(f"({_KMV_K} - 1) * CAST({_KMV_P} AS BIGINT) div max(h)"))
            .cast("long")
            .alias("ndv_est"),
        )

    return (
        one("orders", "o_custkey")
        .unionByName(one("lineitem", "l_partkey"))
        .unionByName(one("lineitem", "l_suppkey"))
    )


# --------------------------------------------------------------------------
# q203 — schema evolution read-through: a table whose history spans a
# column RENAME (old files physically carry the old name) and a column
# DROP, aggregated under the CURRENT schema. Rename and drop are
# semantically invisible to the data (a rename is just an alias; a
# drop only hides), so the oracle is the plain aggregate over the
# source fixture — if per-generation name resolution fails, the
# renamed column reads as NULL for one generation and the group-by
# hash breaks.
# --------------------------------------------------------------------------

_Q203_SQL = f"""
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       {sql_dsum("o_totalprice", "sum_price")}
FROM orders
GROUP BY o_orderstatus
"""


@published
def _orders_iceberg_evolved(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    orders = catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )
    # gen A under the original schema
    iceberg.create(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        table,
        stat_cols=["o_orderkey"],
    )
    # metadata-only surgery: rename + drop, zero files rewritten
    iceberg.rename_column(table, "o_orderstatus", "status")
    iceberg.drop_column(table, "o_orderpriority")
    # gen B written under the CURRENT schema (new name, no dropped col)
    iceberg.append(
        orders.filter(F.col("o_orderkey") % 3 != 0)
        .withColumnRenamed("o_orderstatus", "status")
        .drop("o_orderpriority"),
        table,
        stat_cols=["o_orderkey"],
    )


@query("q203_schema_evolution_read", oracle=_Q203_SQL, tags=("lake", "agg"))
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate an Iceberg table across a rename + drop boundary:
    generation-A files physically store ``o_orderstatus`` (and the
    dropped ``o_orderpriority`` bytes), generation-B files store
    ``status`` — the reader's per-generation name resolution
    (`iceberg._read_renamed_groups`, spec name mapping) must stitch
    them into one logical column or the hash breaks."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _orders_iceberg_evolved(spark, sf_dir)
    return (
        iceberg.read_iceberg(spark, table)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# --------------------------------------------------------------------------
# q204 — the Delta-side twin of q203: column mapping (protocol
# `delta.columnMapping.mode = name`) carries a RENAME + DROP across two
# write generations; the aggregate under current logical names must be
# indistinguishable from no evolution at all.
# --------------------------------------------------------------------------

_Q204_SQL = _Q203_SQL  # the evolution is semantically invisible


@published
def _orders_delta_mapped(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import delta_log

    orders = catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )
    delta_log.create(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        table,
        stat_cols=["o_orderkey"],
    )
    delta_log.rename_column(table, "o_orderstatus", "status")
    delta_log.drop_column(table, "o_orderpriority")
    delta_log.append(
        orders.filter(F.col("o_orderkey") % 3 != 0)
        .withColumnRenamed("o_orderstatus", "status")
        .drop("o_orderpriority"),
        table,
        stat_cols=["o_orderkey"],
    )


@query("q204_delta_column_mapping_read", oracle=_Q204_SQL, tags=("lake", "agg"))
def q204(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate a Delta table across a column-mapping rename + drop:
    all generations scan under ONE physical schema (physical names are
    pinned per field), one alias pass restores the logical view — the
    cheapest possible schema-evolution read path, and the oracle hash
    breaks if any file resolves wrong."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    table = _orders_delta_mapped(spark, sf_dir)
    return (
        delta_log.read_delta(spark, table)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# --------------------------------------------------------------------------
# q206/q207 — merge-on-read UPDATE on both lake formats: every 7th
# order gets its price scaled and its status rewritten, via position
# tombstones + appended images (Iceberg) / deletion vectors + appended
# images (Delta) — O(matched) bytes, zero copy-on-write. UPDATE is
# semantically a row function, so the oracle is CASE WHEN over the
# source fixture; a row lost, duplicated, or updated twice breaks the
# hash.
# --------------------------------------------------------------------------

_UPDATE_SQL = f"""
WITH updated AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS status,
         CASE WHEN o_orderkey % 7 = 0
              THEN o_totalprice * CAST(1.5 AS DOUBLE)
              ELSE o_totalprice END AS price,
         o_orderkey
  FROM orders
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       {sql_dsum("price", "sum_price")}
FROM updated
GROUP BY status
"""


def _update_orders(mod, spark: SparkSession, sf_dir: str, table: str) -> None:
    """The q206/q207 recipe on either lake module (`iceberg` or
    `delta_log`): every 7th order re-statused and re-priced."""
    orders = catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    mod.create(orders, table, stat_cols=["o_orderkey"])
    mod.update_where(
        spark,
        table,
        "o_orderkey % 7 = 0",
        {
            "o_orderstatus": F.lit("U"),
            "o_totalprice": F.col("o_totalprice") * F.lit(1.5),
        },
    )


@published
def _orders_updated_iceberg(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    _update_orders(iceberg, spark, sf_dir, table)


@published
def _orders_updated_delta(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import delta_log

    _update_orders(delta_log, spark, sf_dir, table)


def _updated_agg(spark: SparkSession, df: DataFrame) -> DataFrame:
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@query("q206_iceberg_update_where", oracle=_UPDATE_SQL, tags=("lake", "agg"))
def q206(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE (Iceberg): position-delete + append images;
    the post-update aggregate must equal the row-function oracle."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _orders_updated_iceberg(spark, sf_dir)
    return _updated_agg(spark, iceberg.read_iceberg(spark, table))


@query("q207_delta_update_where", oracle=_UPDATE_SQL, tags=("lake", "agg"))
def q207(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE (Delta): deletion vectors + append images —
    same row-function oracle as q206, so the two formats' UPDATE paths
    are pinned to identical semantics."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    table = _orders_updated_delta(spark, sf_dir)
    return _updated_agg(spark, delta_log.read_delta(spark, table))


# --------------------------------------------------------------------------
# q208 — type widening (spec type promotion): generation A written with
# int keys / float prices, the columns widened to long / double, then
# generation B appended wide. The aggregate must see gen-A values
# upcast EXACTLY (int→long and float→double are value-preserving), so
# the oracle reproduces the narrow-then-widen chain with CAST(...AS
# REAL) for the float generation. A single mis-typed read (e.g. 4-byte
# payload decoded as long) would shift sums and break the hash.
# --------------------------------------------------------------------------

_Q208_SQL = """
WITH widened AS (
  SELECT o_orderstatus,
         o_orderkey,
         CASE WHEN o_orderkey % 3 = 0
              THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
              ELSE o_totalprice END AS price
  FROM orders
)
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(FLOOR(price * 32) AS BIGINT)) AS BIGINT) AS sum_price32
FROM widened
GROUP BY o_orderstatus
"""


@published
def _orders_iceberg_widened(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    orders = catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    gen_a = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_orderstatus",
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
    )
    iceberg.create(gen_a, table, stat_cols=["o_orderkey"])
    iceberg.widen_column(table, "o_orderkey", "long")
    iceberg.widen_column(table, "o_totalprice", "double")
    iceberg.append(
        orders.filter(F.col("o_orderkey") % 3 != 0),
        table,
        stat_cols=["o_orderkey"],
    )


@query("q208_iceberg_type_widening", oracle=_Q208_SQL, tags=("lake", "agg"))
def q208(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate across a type-promotion boundary: int→long and
    float→double generations under one widened schema (zero files
    rewritten; old manifest bounds decode by payload width)."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    table = _orders_iceberg_widened(spark, sf_dir)
    return (
        iceberg.read_iceberg(spark, table)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            # float-promoted values at 1e5 magnitude are multiples of
            # 2^-5, so a decimal cast hits exact rounding TIES (Spark
            # HALF_UP vs DuckDB HALF_EVEN diverge). floor(x*32) is the
            # tie-free exact form: *32 is a power-of-two scale (exact
            # in IEEE), floor has no ties, and the int64 sum is exact.
            F.sum(F.floor(F.col("o_totalprice") * 32).cast("long"))
            .cast("long")
            .alias("sum_price32"),
        )
    )


# --------------------------------------------------------------------------
# q210 — statistics-driven join: two Iceberg tables joined through
# `iceberg.stats_join`, which picks the broadcast side from MANIFEST
# row counts (table statistics, not Spark's scan-size guesses) — with
# Puffin NDV sketches attached so `estimate_join_rows` has its CBO
# inputs. The planning layer must be semantically invisible: the
# oracle is the plain SQL join + aggregate.
# --------------------------------------------------------------------------

_Q210_SQL = f"""
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o.o_orderkey) AS BIGINT) AS sum_key,
       {sql_dsum("o.o_totalprice", "sum_price")}
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@published
def _stats_join_tables(spark: SparkSession, sf_dir: str, root: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import iceberg

    ot = os.path.join(root, "orders_ice")
    ct = os.path.join(root, "cust_ice")
    orders = catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = catalog.load(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    iceberg.create(orders, ot, stat_cols=["o_custkey"])
    iceberg.create(cust, ct, stat_cols=["o_custkey"])
    iceberg.write_statistics(spark, ot, ["o_custkey"], k=256)
    iceberg.write_statistics(spark, ct, ["o_custkey"], k=256)


@query("q210_stats_driven_join", oracle=_Q210_SQL, tags=("lake", "join", "agg"))
def q210(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two Iceberg tables via the stats-driven planner (manifest
    row counts choose the broadcast side — the customer dim — with
    Spark's own size heuristic irrelevant); Puffin NDVs accompany the
    tables for cardinality estimation (accuracy pinned in
    tests/test_puffin.py). Values must equal the plain relational join."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    root = _stats_join_tables(spark, sf_dir)
    ot, ct = os.path.join(root, "orders_ice"), os.path.join(root, "cust_ice")
    joined = iceberg.stats_join(spark, ot, ct, on="o_custkey")
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("o_orderkey").cast("long").alias("sum_key"),
        dsum("o_totalprice", "sum_price"),
    )


# --------------------------------------------------------------------------
# q212 — the partitioned-composition stack in one oracled query:
# partitioned Delta table → RENAME (a data column AND the partition
# column) → SHALLOW CLONE → DV DELETE on the clone → scan. The clone's
# add actions reference the source's files by absolute path, so
# partition values must restore from the log (not hive dirs) under the
# column mapping; the delete writes the clone's own DV sidecars over
# shared files. One wrong partition value, resurrected row, or leaked
# delete breaks the hash.
# --------------------------------------------------------------------------

_Q212_SQL = f"""
SELECT CAST(o_orderkey % 5 AS VARCHAR) AS bucket5,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum("o_totalprice", "total_price")}
FROM orders
WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 4
GROUP BY 1, 2
"""


@published
def _partitioned_clone_table(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Partitioned source (bucket-of-5 hive layout) → rename
    o_totalprice→price and mod5→bucket5 → shallow clone → DELETE
    partition '4' on the CLONE only."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    src, clone = os.path.join(root, "src"), os.path.join(root, "clone")
    orders = catalog.load(spark, "orders", sf_dir).filter(
        F.col("o_orderkey") % 3 == 0
    ).withColumn("mod5", (F.col("o_orderkey") % 5).cast("string"))
    delta_log.create(
        orders, src, partition_by=["mod5"], stat_cols=["o_orderkey"]
    )
    delta_log.rename_column(src, "o_totalprice", "price")
    delta_log.rename_column(src, "mod5", "bucket5")
    delta_log.shallow_clone(src, clone)
    delta_log.delete_where(spark, clone, "bucket5 = '4'")


@query("q212_delta_partitioned_clone", oracle=_Q212_SQL, tags=("lake", "agg"))
def q212(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan of a shallow clone of a PARTITIONED, column-mapped Delta
    source with a post-clone DV delete (`delta_log.shallow_clone` —
    absolute-path adds + partitionValues-driven partition restoration +
    re-addressed "p" DV descriptors). O(metadata) clone at any table
    size; the delete costs O(matched) bitmap bytes written executor-
    side. Values must equal the plain relational reconstruction."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    clone = os.path.join(_partitioned_clone_table(spark, sf_dir), "clone")
    return delta_log.read_delta(spark, clone).groupBy(
        "bucket5", "o_orderstatus"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum("price", "total_price"),
    )


# --------------------------------------------------------------------------
# q213 — standard Delta CDF of an UPDATE: `update_where` lands as a
# DV-delete commit + append commit tagged with one updateId, and
# `table_changes_cdf` reads the pair back as update_preimage /
# update_postimage rows. The oracle is the relational before/after
# reconstruction over the source fixture: preimages are EXACTLY the
# matched rows with their original values, postimages the same rows
# through the assignment expressions — a row mislabeled, dropped,
# duplicated, or paired with the wrong version breaks the hash.
# --------------------------------------------------------------------------

_Q213_SQL = f"""
WITH matched AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
),
cdf AS (
  SELECT 'update_preimage' AS change_type, o_orderkey,
         o_totalprice AS price
  FROM matched
  UNION ALL
  SELECT 'update_postimage' AS change_type, o_orderkey,
         o_totalprice * CAST(1.5 AS DOUBLE) AS price
  FROM matched
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       {sql_dsum("price", "sum_price")}
FROM cdf
GROUP BY change_type
"""


@published
def _cdf_updated_table(spark: SparkSession, sf_dir: str, table: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import delta_log

    orders = catalog.load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    delta_log.create(orders, table, stat_cols=["o_orderkey"])
    delta_log.update_where(
        spark,
        table,
        "o_orderkey % 7 = 0",
        {
            "o_orderstatus": F.lit("U"),
            "o_totalprice": F.col("o_totalprice") * F.lit(1.5),
        },
    )


@query("q213_delta_cdf_update_pairs", oracle=_Q213_SQL, tags=("lake", "agg"))
def q213(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard CDF read of an UPDATE history (`table_changes_cdf`):
    the DV-delete + append pair reads back as update_preimage /
    update_postimage rows stamped with the pair's final version. The
    aggregate by change type must equal the relational before/after
    reconstruction of the same assignment over the source fixture."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    table = _cdf_updated_table(spark, sf_dir)
    return (
        delta_log.table_changes_cdf(spark, table, 0)
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            dsum("o_totalprice", "sum_price"),
        )
    )
