"""Physical-plan shape assertions: the 100 TB posture, checked.

These lock in the plan properties that matter at scale — dimension joins
broadcast (the fact side never shuffles), filters reach the parquet scan
(PushedFilters), projections prune the read schema, and the hot path
stays inside whole-stage codegen. A regression here is a performance
bug even when results stay correct.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.plans import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_star_join_broadcasts_all_dimensions(spark, sf_dir):
    """q02 joins lineitem→orders→customer→nation: every dimension side
    must broadcast so the fact table is never shuffled for the join."""
    plan = _plan(all_queries()["q02_star_join_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """A filter on a scanned column must appear in PushedFilters, not
    only as a post-scan Filter node."""
    df = catalog.load(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 100)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_orderkey)" in plan or "LessThan(o_orderkey,100)" in plan


def test_projection_prunes_read_schema(spark, sf_dir):
    """Selecting 2 of 16 lineitem columns must shrink ReadSchema to
    exactly those columns — reading all columns for a 2-column
    projection is wrong at any scale."""
    df = catalog.load(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_agg_is_partial_then_final(spark, sf_dir):
    """groupBy aggregates must map-side combine (partial_ functions
    before the exchange) — at 100 TB the shuffle carries one partial row
    per (partition, key), not every input row."""
    plan = _plan(all_queries()["q01_pricing_summary"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_scalar_pipeline_stays_in_codegen(spark, sf_dir):
    """Pure-expression queries (scalar string/date functions) must be a
    single WholeStageCodegen span over the scan — no Python, no exchange."""
    for name in ("q46_string_functions", "q47_date_functions"):
        plan = _plan(all_queries()[name].fn(spark, sf_dir))
        assert "* Project" in plan, name  # '*' = inside WholeStageCodegen
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_text_operators_need_no_python_workers(spark, sf_dir):
    """The text-analysis surface (E4) is all JVM built-ins: no
    Python-eval nodes may appear in its plans."""
    for name in ("q21_text_stats", "q22_lang_id", "q23_quality_score",
                 "q24_fingerprint", "q53_bpe_token_stats"):
        plan = _plan(all_queries()[name].fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_portable_sketch_and_hash_queries_stay_jvm(spark, sf_dir):
    """The portable hash families (SimHash, CMS, HLL, MinHash) are pure
    int64 column arithmetic — their plans must contain no Python-eval
    nodes and at most ONE shuffle (the final bounded aggregate)."""
    for name in ("q132_simhash_portable", "q137_cms_portable",
                 "q138_hll_portable", "q125_minhash_portable"):
        plan = _plan(all_queries()[name].fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert plan.count("Exchange hashpartitioning") <= 1, name


def test_similarity_broadcasts_query_side(spark, sf_dir):
    """Cosine top-k must broadcast the (small) query set; the candidate
    corpus — the 100 TB side — must not be exchanged for the join."""
    plan = _plan(all_queries()["q25_cosine_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column of a partitioned parquet layout
    must prune at planning time (PartitionFilters), not scan-and-filter —
    the property that makes date-partitioned 100 TB tables queryable."""
    from march_mania_spark_lakehouse_spark.sources import writers

    orders = catalog.load(spark, "orders", sf_dir).withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    writers.write_parquet(orders, path, partition_by=["o_year"])

    df = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    plan = _plan(df)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "o_year" in pf
    # The scan must report fewer files than the full table holds.
    full = spark.read.parquet(path)
    assert df.count() < full.count()
    assert df.count() == full.filter(F.col("o_year") == 1995).count()


def test_session_window_boundary_matches_oracle_semantics(spark):
    """Boundary pin: Spark's session_window MERGES an event arriving at
    exactly last_ts + gap (new session only when the gap is strictly
    exceeded) — the q63 oracle's strict > flag must agree. An event 1s
    past the gap must split."""
    import duckdb
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0), 7),
        (1, datetime(2024, 1, 1, 10, 30, 0), 8),    # exactly 1800s → merge
        (1, datetime(2024, 1, 1, 11, 0, 1), 9),     # 1801s → split
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    spark_sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").count().count()
    )
    assert spark_sessions == 2  # [10:00, 10:30] and [11:00:01]

    con = duckdb.connect()
    con.register("ev", ev.toPandas())
    oracle_sessions = con.sql(
        """
        SELECT COUNT(DISTINCT session_id) FROM (
          SELECT SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER w > INTERVAL 1800 SECOND
                          OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
        """
    ).fetchone()[0]
    assert oracle_sessions == 2


def test_repetition_signals_is_map_only(spark, sf_dir):
    """q88's claim: every signal is an array expression, so the only
    Exchange in the plan is the scan rebalance — no aggregate or join
    shuffle, no row multiplication."""
    plan = _plan(all_queries()["q88_repetition_signals"].fn(spark, sf_dir))
    # the only exchange is the rebalance round-robin: no key shuffle
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert "HashAggregate" not in plan
    assert "Generate" not in plan  # no explode
    assert "Join" not in plan


def test_corpus_shuffle_rank_has_no_single_partition_sort(spark, sf_dir):
    """q90's global rank must come from bucket-parallel windows; the only
    SinglePartition exchange allowed is the 256-row bucket-offset
    cumulative, which sits under a BroadcastExchange."""
    plan = _plan(all_queries()["q90_corpus_shuffle"].fn(spark, sf_dir))
    assert "hashpartitioning(__bkt" in plan
    # the full-data window is keyed, not global: a SinglePartition window
    # may appear only on the tiny bucket-count branch (broadcast side)
    assert "BroadcastExchange" in plan


def test_bitmap_distinct_is_partial_then_final(spark, sf_dir):
    """q94: both aggregation levels (per-bucket bitmap build, per-group
    popcount sum) must map-side combine."""
    plan = _plan(all_queries()["q94_bitmap_distinct"].fn(spark, sf_dir))
    assert "partial_bitmap_construct_agg" in plan
    assert "partial_sum" in plan


def test_quantize_encode_is_shuffle_free(spark, sf_dir):
    """q99's encode stage (scales already collected) must be map-only:
    literal scale array + transform lambda, zero Exchange."""
    from march_mania_spark_lakehouse_spark.operators import quantize

    emb = catalog.load(spark, "embeddings", sf_dir)
    scales = quantize.dim_scales(emb, "embedding")
    plan = _plan(emb.select("vec_id", quantize.quantize_int8("embedding", scales)))
    assert "Exchange" not in plan


def test_no_query_uses_cartesian_or_row_python(spark, sf_dir):
    """Global plan lint over EVERY registered query: no CartesianProduct
    (an O(n·m) join that went unbroadcast) and no BatchEvalPython (a
    row-at-a-time Python UDF — Python must always cross via Arrow:
    ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas)."""
    skip_prefixes = ("q33", "q34", "q52")  # MLlib model fits (slow, no SQL plan lint value)
    for name, spec in sorted(all_queries().items()):
        if name.startswith(skip_prefixes):
            continue
        plan = _plan(spec.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} has a cartesian join"
        assert "BatchEvalPython" not in plan, f"{name} has a row-wise Python UDF"


def test_tpch_q5_filters_reach_every_scan(spark, sf_dir):
    """q123: the region equality and the order-date range must be pushed
    into their parquet scans, and no SortMergeJoin appears at a scale
    where every dimension fits a broadcast."""
    plan = _plan(all_queries()["q123_tpch_q5_local_volume"].fn(spark, sf_dir))
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q10_topk_is_heap_not_global_sort(spark, sf_dir):
    """q124: LIMIT over ORDER BY must compile to TakeOrderedAndProject
    (per-partition heaps + driver merge), never a global Sort, and the
    returnflag filter must reach the lineitem scan."""
    plan = _plan(all_queries()["q124_tpch_q10_returns"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_tpch_batch_plan_shapes(spark, sf_dir):
    """Pin the plan properties the new TPC-H shapes claim: Q6 pushes
    its whole predicate band into the scan with no join; Q18 broadcasts
    the post-HAVING set; Q19's disjunction stays a hash join (no
    cartesian); Q7 uses broadcast joins only."""
    q = all_queries()
    plan6 = _plan(q["q146_tpch_q6_forecast_revenue"].fn(spark, sf_dir))
    assert "Join" not in plan6
    assert "l_shipdate" in plan6.split("PushedFilters", 1)[1][:400]

    plan18 = _plan(q["q141_tpch_q18_large_orders"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan18 and "CartesianProduct" not in plan18

    plan19 = _plan(q["q149_tpch_q19_disjunctive"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan19
    assert "CartesianProduct" not in plan19 and "BroadcastNestedLoopJoin" not in plan19

    plan7 = _plan(q["q133_tpch_q7_volume_shipping"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan7  # all dims broadcast at this scale


def test_tpch_completion_plan_shapes(spark, sf_dir):
    """Pin the plan properties of the completion batch (q154-q160).
    Q2's min-join-back and Q20's nested semi-joins must stay broadcast
    hash joins; Q11's one-row grand total may cross as a broadcast
    nested loop but never a cartesian; Q12's shipdate band must reach
    the lineitem scan; Q13 must keep its outer join (empty groups
    survive); Q21 runs as per-order aggregates plus an order-keyed
    semi join (round 14), so the pair-table self-joins must stay
    gone."""
    q = all_queries()

    plan2 = _plan(q["q154_tpch_q2_min_cost_supplier"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan2
    assert "SortMergeJoin" not in plan2 and "CartesianProduct" not in plan2

    # q155's grand total re-aggregates the per-part decimal sums; both
    # branches carry the identical scan→join→partial-agg exchange,
    # which executes once via exchange reuse (round 14 dropped the
    # round-13 localCheckpoint pin — the blocking job cost more than
    # the saved pass). The dim joins broadcast; the 1-row total crosses
    # as a broadcast nested loop, never a cartesian.
    plan11 = _plan(q["q155_tpch_q11_important_parts"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan11  # dim joins visible again
    assert "BroadcastNestedLoopJoin" in plan11  # 1-row total broadcasts
    assert "CartesianProduct" not in plan11

    plan12 = _plan(q["q156_tpch_q12_late_lines_by_flag"].fn(spark, sf_dir))
    pushed = plan12.split("PushedFilters", 1)[1][:300]
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in pushed
    assert "LessThan(l_shipdate,1999-01-01" in pushed

    plan13 = _plan(q["q157_tpch_q13_order_count_distribution"].fn(spark, sf_dir))
    assert "Outer" in plan13  # the ON-clause filter must not degrade to inner

    plan20 = _plan(q["q159_tpch_q20_excess_suppliers"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan20
    assert "SortMergeJoin" not in plan20 and "CartesianProduct" not in plan20

    plan21 = _plan(q["q160_tpch_q21_sole_late_supplier"].fn(spark, sf_dir))
    # round 14: EXISTS/NOT EXISTS run as per-order aggregates, so the
    # only join machinery left is the order-keyed semi join and the
    # supplier broadcast — the pair-table self-joins are gone
    assert "LeftSemi" in plan21
    assert "CartesianProduct" not in plan21
    assert "BroadcastNestedLoopJoin" not in plan21


def test_q155_reads_lineitem_once(spark, sf_dir):
    """q155's per-part and grand-total branches share one fact pass: in
    the final adaptive plan lineitem is scanned once and the total's
    branch reads the per-part partial-aggregate exchange as a
    ReusedExchange (AQE's runtime stage reuse; the initial plan still
    shows the subtree twice)."""
    df = all_queries()["q155_tpch_q11_important_parts"].fn(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert final.count("lineitem.parquet") == 1, final
    assert "ReusedExchange" in final, final


def test_metadata_files_table_reads_manifests_on_executors(
    spark, tmp_path
):
    """iceberg.metadata_table('files') must scan manifest avro via a
    distributed MapInPandas stage (one task per manifest group), never
    a driver loop materialized into a local relation."""
    from march_mania_spark_lakehouse_spark.sources import iceberg

    t = str(tmp_path / "meta_tbl")
    iceberg.create(
        spark.range(40).select(
            "id", (F.col("id") % 4).alias("k")
        ).repartitionByRange(4, "id"),
        t,
    )
    iceberg.append(spark.range(40, 60).select("id", (F.col("id") % 4).alias("k")), t)
    files = iceberg.metadata_table(spark, t, "files")
    plan = _plan(files)
    assert "MapInPandas" in plan
    assert files.count() >= 2


def test_refresh_minmax_rescan_is_broadcast_semi_join(spark):
    """The dirty-group rescan must reach `current` through a BROADCAST
    semi join on the dirty keys — the table side never shuffles for
    the membership probe."""
    from march_mania_spark_lakehouse_spark.operators import ivm

    base = ivm.agg_state(
        spark.createDataFrame(
            [("a", 1.0), ("b", 2.0)], "k string, v double"
        ),
        ["k"], "v",
    )
    feed = spark.createDataFrame(
        [("a", 1.0, "delete")], "k string, v double, _change_type string"
    )
    current = spark.createDataFrame([("a", 5.0)], "k string, v double")
    plan = _plan(ivm.refresh_minmax(base, feed, ["k"], "v", current))
    assert "LeftSemi, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftSemi" in plan
    )


def test_fuzzy_endpoint_union_runs_blocked_join_once(spark, sf_dir):
    """q109 (optimization r13): emitting both pair endpoints must NOT
    duplicate the blocked levenshtein join — the plan carries exactly
    one join doing the verify, plus a Generate (explode) above it."""
    plan = _plan(all_queries()["q109_fuzzy_name_match"].fn(spark, sf_dir))
    assert plan.count("levenshtein") <= 2, plan  # 1 join node + its detail
    assert "Generate" in plan and "explode" in plan


def test_q01_filter_pushdown_no_rebalance(spark, sf_dir):
    """q01 (optimization r14): the round-13 fact-side rebalance was
    reverted — the driver bench showed the full-fact round-robin
    exchange costing more than the one-core partial aggregate it
    parallelized (1.45 → 1.83 s). PushedFilters must carry l_shipdate,
    the scan schema stays pruned, and no round-robin exchange remains
    (heavier probes q37/q49 keep theirs)."""
    plan = _plan(all_queries()["q01_pricing_summary"].fn(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan
    assert "RoundRobinPartitioning" not in plan
    assert "l_comment" not in plan  # projection pruning intact


def test_q01_sums_long_backed_unscaled_values(spark, sf_dir):
    """q01's exact sums run through `functions/numeric`'s long-backed
    kernel: every SUM adds `decimal(38,0)` millionths whose fast branch
    is `rint` through a long, and the per-row `decimal(28,6)` cast (a
    BigDecimal per row) appears only in the CASE fallback. A revert to
    `F.sum(x.cast("decimal(28,6)"))` fails here."""
    df = all_queries()["q01_pricing_summary"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    sums = re.findall(r"sum\((\w+)", plan)
    assert sums and set(sums) == {"CASE"}, sums
    kernels = re.findall(r"sum\(CASE WHEN (.*?) THEN (.*?) ELSE (.*?) END\)", plan)
    assert len(kernels) == len(sums) == 6
    for cond, fast, fallback in kernels:
        assert "rint(" in cond and "decimal" not in cond
        assert fast.startswith("cast(cast(rint(") and fast.endswith(
            "as bigint) as decimal(38,0))"
        ), fast
        assert "as decimal(28,6)" in fallback
        assert fallback.endswith("as decimal(38,0))"), fallback
    assert plan.count("as decimal(28,6)") == len(kernels)
