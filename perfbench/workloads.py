"""The benchmark's workloads: what one pass runs, and how its output is checked.

A pass is a list of operations run one at a time by one client. Query
operations build a named plan (``QuerySpec.fn``) and force it with the
noop sink; the checking pass collects the result instead and compares it
with the query's DuckDB oracle. Lake operations run one table through a
row-level write cycle per format and check the final scan and the change
feed against the state DuckDB computes from the same ``orders`` rows.

The seed permutes the operation order inside each pass and picks the key
residues the lake predicates touch; the program sees only the resulting
DataFrames and predicates.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import duckdb
import pandas as pd

QUERY_OPS = {
    "olap": (
        "q01_pricing_summary",
        "q02_star_join_revenue",
        "q36_rollup_totals",
        "q111_yoy_growth",
    ),
    "udf": (
        "q174_jpeg_roundtrip",
        "q31_decayed_fold",
    ),
}
LAKE_FORMATS = ("iceberg", "delta")
LAKE_STEPS = (
    "create",
    "append",
    "merge",
    "delete_where",
    "update_where",
    "optimize",
    "scan",
    "changelog",
)
WORKLOADS = (*QUERY_OPS, "lake_rw")


class CheckFailed(AssertionError):
    pass


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    lake_dir: str
    tracer: object
    duck: duckdb.DuckDBPyConnection


def open_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from march_mania_spark_lakehouse_spark.catalog import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# ---------------------------------------------------------------- checks
# The normalize-and-compare rule of the repository's oracle parity tests:
# columns sorted by name, rows order-insensitive, values exactly equal.


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[ns]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame, name: str) -> None:
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        raise CheckFailed(f"{name}: columns {list(a.columns)} != {list(b.columns)}")
    if len(a) != len(b):
        raise CheckFailed(f"{name}: row count {len(a)} != {len(b)}")
    for c in a.columns:
        sa, sb = a[c], b[c]
        if str(sa.dtype).startswith("float") or str(sb.dtype).startswith("float"):
            sa, sb = sa.astype("float64"), sb.astype("float64")
        elif str(sa.dtype) != str(sb.dtype):
            sa, sb = sa.astype(str), sb.astype(str)
        if (~((sa == sb) | (sa.isna() & sb.isna()))).any():
            raise CheckFailed(f"{name}: column {c} differs from the oracle")


# ---------------------------------------------------------------- queries


class QueryOp:
    def __init__(self, spec):
        self.spec = spec
        self.name = spec.name

    def run(self, ctx: Ctx, check: bool) -> None:
        with ctx.tracer.span("plans.build"):
            df = self.spec.fn(ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("operators.exec"):
            if check:
                got = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        if check:
            sql = self.spec.oracle.replace("__SF_DIR__", ctx.sf_dir)
            compare(got, ctx.duck.sql(sql).df(), self.name)


# ---------------------------------------------------------------- lake


@dataclass(frozen=True)
class LakePlan:
    """Key residues of one seed's lake cycle over ``orders``.

    create takes ``key % 4 == create``, append ``key % 4 == append``. The
    merge raises the price of created rows with ``key % 7 == touch`` by 2,
    inserts the ``key % 4 == insert`` rows with ``key % 7 == touch`` and
    deletes the appended rows with ``key % 7 == drop``. delete_where removes
    ``key % 5 == delete``; update_where raises ``key % 9 == update`` by 1."""

    create: int
    append: int
    insert: int
    touch: int
    drop: int
    delete: int
    update: int

    @classmethod
    def from_seed(cls, seed: int) -> "LakePlan":
        rng = random.Random(seed)
        create, append, insert, _ = rng.sample(range(4), 4)
        touch, drop = rng.sample(range(7), 2)
        return cls(create, append, insert, touch, drop, rng.randrange(5), rng.randrange(9))

    def merged_sql(self) -> str:
        """The table's rows right after the merge, with their prices."""
        return f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 4 = {self.create} AND o_orderkey % 7 = {self.touch}
                    THEN o_totalprice + 2.0 ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey % 4 = {self.create}
           OR (o_orderkey % 4 = {self.append} AND o_orderkey % 7 <> {self.drop})
           OR (o_orderkey % 4 = {self.insert} AND o_orderkey % 7 = {self.touch})"""

    def expected(self, duck) -> tuple[pd.DataFrame, dict[str, int]]:
        """(final scan aggregate, change-feed counts from the post-merge
        snapshot to the head)."""
        from march_mania_spark_lakehouse_spark.functions.numeric import sql_dsum

        merged = self.merged_sql()
        final = duck.sql(f"""
            SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   {sql_dsum("o_totalprice", "sum_price")}
            FROM (SELECT * REPLACE (
                    CASE WHEN o_orderkey % 9 = {self.update}
                         THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice)
                  FROM ({merged}) WHERE o_orderkey % 5 <> {self.delete})
            GROUP BY o_orderstatus""").df()
        n_del, n_upd = duck.sql(f"""
            SELECT COUNT(*) FILTER (WHERE o_orderkey % 5 = {self.delete}),
                   COUNT(*) FILTER (WHERE o_orderkey % 5 <> {self.delete}
                                    AND o_orderkey % 9 = {self.update})
            FROM ({merged})""").fetchone()
        feed = {"delete": n_del, "update_preimage": n_upd, "update_postimage": n_upd}
        return final, {k: v for k, v in feed.items() if v}


def footprint(path: str) -> tuple[int, int]:
    """(bytes, files) under a table directory."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


class LakeCycle:
    """One table of one format through ``LAKE_STEPS``. Each step is an
    operation; the caller times and counts them through ``steps``."""

    def __init__(self, fmt: str, plan: LakePlan, expected):
        self.fmt = fmt
        self.plan = plan
        self.expected = expected

    def steps(self, ctx: Ctx, table: str):
        """Yield (step name, thunk) in order; a thunk raises on a wrong result."""
        from pyspark.sql import functions as F

        from march_mania_spark_lakehouse_spark import catalog
        from march_mania_spark_lakehouse_spark.functions.numeric import dsum
        from march_mania_spark_lakehouse_spark.sources import delta_log, iceberg

        spark, p = ctx.spark, self.plan
        mod = iceberg if self.fmt == "iceberg" else delta_log
        read = iceberg.read_iceberg if self.fmt == "iceberg" else delta_log.read_delta
        orders = catalog.load(spark, "orders", ctx.sf_dir)
        key = F.col("o_orderkey")
        state = {}

        def create():
            rows = orders.filter(key % 4 == p.create)
            if self.fmt == "iceberg":
                iceberg.create(rows, table, format_version=3)
            else:
                delta_log.create(rows, table, row_tracking=True)

        def append():
            mod.append(orders.filter(key % 4 == p.append), table)

        def merge():
            changes = orders.filter(
                ((key % 4 == p.create) & (key % 7 == p.touch))
                | ((key % 4 == p.insert) & (key % 7 == p.touch))
                | ((key % 4 == p.append) & (key % 7 == p.drop))
            ).select(
                "o_orderkey", "o_custkey", "o_orderstatus",
                F.when(key % 4 == p.create, F.col("o_totalprice") + 2.0)
                .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
                "o_orderdate", "o_orderpriority",
                ((key % 4 == p.append) & (key % 7 == p.drop)).alias("_deleted"),
            )
            state["merged"] = mod.merge(changes, table, ["o_orderkey"], delete_col="_deleted")

        def delete_where():
            mod.delete_where(spark, table, f"o_orderkey % 5 = {p.delete}")

        def update_where():
            mod.update_where(
                spark, table, f"o_orderkey % 9 = {p.update}",
                {"o_totalprice": "o_totalprice + 1.0"},
            )

        def optimize():
            mod.optimize(spark, table)

        def scan():
            got = (
                read(spark, table)
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows"), dsum("o_totalprice", "sum_price"))
                .toPandas()
            )
            compare(got, self.expected[0], f"{self.fmt}.scan")

        def changelog():
            rows = (
                mod.snapshot_diff_changelog(spark, table, state["merged"])
                .groupBy("_change_type")
                .count()
                .collect()
            )
            got = {r["_change_type"]: r["count"] for r in rows}
            if got != self.expected[1]:
                raise CheckFailed(f"{self.fmt}.changelog: {got} != {self.expected[1]}")

        yield from zip(
            LAKE_STEPS,
            (create, append, merge, delete_where, update_where, optimize, scan, changelog),
        )
