"""Mergeable-sketch aggregation and file-level statistics — the
operators that make 100 TB counting/pruning cheap.

The reference has no sketch surface (its only approximation is
`percentile_approx`, `src/features/massey.py:68`); these extend §2.4 the
way q20–q29 extend dedup, with the three mergeable summaries a lakehouse
actually runs:

- **HLL (DataSketches)** — approximate COUNT DISTINCT whose state is a
  mergeable sketch: partial sketches per partition/day/source union into
  exact-same-answer totals without re-scanning (``hll_sketch_agg`` /
  ``hll_union_agg`` are Spark 3.5+ built-ins, JVM-side).
- **Roaring-bitmap buckets** — EXACT distinct counting with mergeable
  state for dense integer keys (``bitmap_construct_agg``): each group
  carries ≤32k-bit bitmaps instead of a key set, and cross-group merge
  is bitwise OR.
- **Count-min sketch** — frequency estimates for point lookups over a
  stream-sized domain (``df.stat.countMinSketch``, the Spark built-in
  sketch aggregate).

Plus the manifest pattern: per-file min/max/count stats gathered in one
scan (``input_file_name``), and driver-free pruning of a predicate range
against that manifest — the core of Delta/Iceberg data skipping,
expressed relationally.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hll_distinct_rollup(
    df: DataFrame,
    group_col: str,
    key_col: str,
    lg_k: int = 12,
    total_label: str = "ALL",
) -> DataFrame:
    """Per-group approximate distinct + grand total from ONE pass of
    sketch state: build one HLL sketch per group (``hll_sketch_agg``),
    estimate each, then union the *sketches* (``hll_union_agg``) for the
    total — the total never re-reads data, which is the entire point of
    mergeable state at 100 TB (daily sketches roll into monthly ones).

    Output: (group_col string, approx_distinct long); the grand-total row
    carries ``total_label``.
    """
    sketches = df.groupBy(group_col).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("__sk")
    )
    per_group = sketches.select(
        F.col(group_col).cast("string").alias(group_col),
        F.hll_sketch_estimate("__sk").alias("approx_distinct"),
    )
    total = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("approx_distinct")
    ).select(F.lit(total_label).alias(group_col), "approx_distinct")
    return per_group.unionByName(total)


def bitmap_exact_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    out_col: str = "n_distinct",
) -> DataFrame:
    """EXACT distinct count of a dense integer key via roaring-style
    bitmap buckets: key → (bucket, bit position); one bitmap per
    (group, bucket) via ``bitmap_construct_agg``; distinct = Σ popcount.

    vs ``countDistinct``: the shuffle carries fixed-width bitmaps
    (≤ 4 KiB per bucket) instead of one row per distinct key, and the
    per-group state is mergeable (bitwise OR) — so re-aggregating
    finer-grained results to coarser groups needs no re-scan. Exact, so
    oracle-checkable against ``COUNT(DISTINCT ...)``.
    """
    group_cols = list(group_cols)
    per_bucket = (
        df.select(
            *group_cols,
            F.bitmap_bucket_number(key_col).alias("__bkt"),
            F.bitmap_bit_position(key_col).alias("__pos"),
        )
        .groupBy(*group_cols, "__bkt")
        .agg(F.bitmap_construct_agg("__pos").alias("__bm"))
    )
    return per_bucket.groupBy(*group_cols).agg(
        F.sum(F.bitmap_count("__bm")).alias(out_col)
    )


def cms_frequency_estimates(
    df: DataFrame,
    key_col: str,
    candidates: Sequence[int],
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Count-min-sketch point-frequency estimates for ``candidates``.

    The sketch is built distributed (one pass, mergeable per-partition
    state inside the ``count_min_sketch`` aggregate); lookups happen
    driver-side against the collected O(eps⁻¹·log δ⁻¹) blob — the
    classic shape for "how often did these K things occur in the
    stream" without a key-shuffle. Guarantees: est ≥ true, and
    est ≤ true + eps·N with probability ≥ confidence. Deterministic for
    a fixed seed.

    Output: (key long, est_count long).
    """
    blob = bytes(
        df.agg(
            F.count_min_sketch(
                key_col, F.lit(eps), F.lit(confidence), F.lit(seed)
            )
        ).first()[0]
    )
    spark = df.sparkSession
    sk = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(blob)
    rows = [(int(c), int(sk.estimateCount(c))) for c in candidates]
    from march_mania_spark_lakehouse_spark.sources.local_rows import local_df

    # candidate-panel-sized result: a JVM LocalRelation, no Python
    # worker per action (sources/local_rows.py)
    return local_df(spark, rows, "key long, est_count long")


def cms_portable_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Count-min sketch matrix from a portable affine hash family —
    h_d(k) = ((2d+3)·k + 101d+29) mod p mod width — pure int64
    arithmetic any engine reproduces, so unlike
    :func:`cms_frequency_estimates` (Spark's murmur-based JVM sketch,
    error-bound-tested) the CONSTRUCTION itself is value-verifiable
    against a SQL oracle: the output is the full (depth, bucket, cnt)
    state, the mergeable thing a 100 TB stream keeps per partition and
    unions. A point estimate is min over depths of its bucket's count
    (est ≥ true; ≤ true + N·e/width w.h.p. by the standard CMS bound).

    One explode (depth copies, map-side) + one hash aggregate on
    (depth, bucket) — a depth×width-bounded result whatever the input
    size. Output: (depth int, bucket int, cnt bigint)."""
    p = 1_000_000_007
    depths = F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("depth")
    keyed = df.select(F.col(key_col).cast("long").alias("__k")).select("__k", depths)
    bucket = (
        ((F.col("__k") * (F.col("depth") * 2 + 3) + F.col("depth") * 101 + 29) % p)
        % width
    )
    return (
        keyed.withColumn("bucket", bucket.cast("int"))
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hll_portable_registers(
    df: DataFrame,
    key_col: str,
    m: int = 64,
) -> DataFrame:
    """HyperLogLog register state from the portable affine hash —
    bucket = h mod m, rho = leading-zero rank of h div m within its
    24-bit window (h < 2^30, so v = h div m < 2^24 and
    rho = 24 - floor(log2 v), 25 when v = 0; exact in IEEE doubles for
    integer v < 2^53 in any engine). Complements q61/q93's Spark HLL++
    (binary blob, error-bound-tested): the MERGEABLE state — registers,
    unioned by per-register max across partitions/streams — is itself
    value-verifiable. Distinct-count estimate = the standard harmonic
    mean over these registers.

    One map-side projection + one m-bounded aggregate.
    Output: (bucket int, register int)."""
    p = 1_000_000_007
    h = (F.col(key_col).cast("long") * 2654435761 + 104729) % p
    v = (h / F.lit(m)).cast("long")  # h div m
    rho = F.when(v == 0, F.lit(25)).otherwise(
        F.lit(24) - F.floor(F.log2(v)).cast("int")
    )
    return (
        df.select((h % m).cast("int").alias("bucket"), rho.alias("register"))
        .groupBy("bucket")
        .agg(F.max("register").cast("int").alias("register"))
    )


def file_stats_manifest(
    df: DataFrame, stat_cols: Sequence[str]
) -> DataFrame:
    """Per-file min/max/count manifest from ONE scan: the data-skipping
    index pattern (Delta/Iceberg file statistics, Parquet footer
    min/max) materialized relationally via ``input_file_name``.

    Output: (file, n_rows, min_<c>, max_<c> per stat col); ``file`` is
    the basename, stable across mount points. At 100 TB this table is
    #files rows — the manifest is what a planner scans, not the data.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        df.withColumn(
            "file", F.regexp_extract(F.input_file_name(), "([^/]+)$", 1)
        )
        .groupBy("file")
        .agg(*aggs)
    )


def prune_files(
    manifest: DataFrame, col: str, lo, hi
) -> DataFrame:
    """Files whose [min, max] range overlaps [lo, hi] — the candidate
    scan set for a range predicate. Sound by construction: a file with
    ``max < lo`` or ``min > hi`` cannot contain a matching row, so the
    returned set is a superset of files holding matches."""
    return manifest.filter(
        (F.col(f"max_{col}") >= F.lit(lo)) & (F.col(f"min_{col}") <= F.lit(hi))
    ).select("file")


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Z-order (Morton) interleave of ``len(cols)`` non-negative integer
    columns, ``bits`` bits each — the multi-dimensional clustering key a
    lakehouse writer sorts by so that range predicates on ANY of the
    dimensions map to contiguous-ish file ranges (data skipping works on
    every dimension instead of only the first sort column).

    Pure bit arithmetic (shift/or), JVM-side. Use with
    ``repartitionByRange(zorder_key(...))`` + ``sortWithinPartitions``.
    """
    out = F.lit(0).cast("long")
    n = len(cols)
    for j, c in enumerate(cols):
        cc = (F.col(c) if isinstance(c, str) else c).cast("long")
        for b in range(bits):
            bit = F.shiftright(cc, b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * n + j))
    return out


# --------------------------------------------------------------------------
# Fixed-width histogram sketch: the mergeable quantile summary (the
# fourth sketch next to HLL / bitmap / CMS). Bin counts are integers, so
# the state merges by addition (union + re-sum) with NO approximation
# drift, and the quantile estimate from the merged state is bit-identical
# to single-pass — unlike rank-error sketches (KLL/t-digest), whose merge
# order changes the answer. Error is bounded by the bin width, a
# deterministic function of the declared [lo, hi) range and bin count.
# --------------------------------------------------------------------------


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """(group..., bin, n): fixed-width bin counts of ``value_col`` over
    the declared range; out-of-range values clamp to the edge bins so
    counts are never lost. One map-side-combined aggregate; shuffle
    rows ≤ groups × bins regardless of input size."""
    width = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("long")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))
    return (
        df.groupBy(*group_cols, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def quantiles_from_histogram(
    hist: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[float],
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """(group..., q, est): interpolated quantile estimates from bin
    counts. For each q, the first bin whose cumulative count reaches
    q·N is selected and the position inside it linearly interpolated —
    pure integer cumulative sums + one IEEE division, so any engine
    computes the identical double. |est − exact quantile| ≤ bin width
    by construction (plus range clamping at the edges)."""
    width = (hi - lo) / bins
    w = Window.partitionBy(*group_cols).orderBy("bin")
    wall = Window.partitionBy(*group_cols)
    rows = (
        hist.withColumn("cum", F.sum("n").over(w))
        .withColumn("total", F.sum("n").over(wall))
        .withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
        .withColumn("target", F.col("q") * F.col("total"))
        .filter(
            (F.col("cum") >= F.col("target"))
            & ((F.col("cum") - F.col("n")) < F.col("target"))
        )
    )
    est = F.lit(lo) + F.lit(width) * (
        F.col("bin")
        + (F.col("target") - (F.col("cum") - F.col("n"))) / F.col("n")
    )
    return rows.select(*group_cols, "q", est.alias("est"))
