"""Round-4 extension batch — all DuckDB-oracled:

- q161/q162: corpus-dedup round 2 — cross-document segment dedup (the
  C4/RefinedWeb duplicate-line rule adapted to single-line fixture
  documents) and SemDeDup semantic dedup, completing the dedup ladder:
  exact (q20) → n-gram Jaccard (q27) → MinHash/LSH (q28/q125) →
  SimHash (q29/q132) → CC groups (q83) → embedding near-dup (q51) →
  end-to-end pipeline (q101) → segment removal → semantic pruning.
- q163: mergeable fixed-width histogram-quantile sketch (fourth sketch
  family next to HLL/bitmap/CMS).
- q164–q167: graph analytics — fixed-point PageRank, degree-oriented
  triangle counting, multi-source BFS, end-to-end entity resolution.
- q168/q169: per-label embedding centroids (array-valued aggregation in
  long form) and ntile revenue-decile lift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.functions.numeric import davg, dsum
from march_mania_spark_lakehouse_spark.operators import dedup, similarity
from march_mania_spark_lakehouse_spark.plans.registry import query

# --------------------------------------------------------------------------
# q161 — cross-document segment dedup. Any 5-word segment present in >2
# distinct documents is removed everywhere except its first occurrence
# (smallest (doc_id, seg_idx)); documents are reassembled in order.
# --------------------------------------------------------------------------

_Q161_SQL = """
WITH words AS (
    SELECT doc_id, u.s.w AS word, u.s.i AS idx
    FROM (SELECT doc_id,
                 list_transform(string_split(text, ' '),
                                (w, i) -> {'w': w, 'i': i}) AS lst
          FROM documents) t,
         UNNEST(t.lst) AS u(s)
),
segs AS (
    SELECT doc_id, CAST((idx - 1) // 5 AS BIGINT) AS seg_idx,
           string_agg(word, ' ' ORDER BY idx) AS seg
    FROM words GROUP BY 1, 2
),
keyed AS (SELECT *, doc_id * 1000000 + seg_idx AS key FROM segs),
hot AS (
    SELECT seg, MIN(key) AS min_key
    FROM keyed GROUP BY seg HAVING COUNT(DISTINCT doc_id) > 2
),
kept AS (
    SELECT k.doc_id, k.seg_idx, k.seg
    FROM keyed k LEFT JOIN hot h ON k.seg = h.seg
    WHERE h.min_key IS NULL OR k.key = h.min_key
)
SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text
FROM kept GROUP BY doc_id
"""


@query("q161_segment_dedup", oracle=_Q161_SQL, tags=("dedup", "text"))
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document duplicate-segment removal over the
    documents table: drop every 5-word segment that occurs in more than
    2 distinct documents, keeping only its canonical first occurrence,
    and reassemble the surviving text per document. Segmentation is
    array-op local (no shuffle); the hot-segment set broadcasts."""
    docs = catalog.load(spark, "documents", sf_dir)
    return dedup.segment_dedup(docs, "doc_id", "text", k=5, max_docs=2)


# --------------------------------------------------------------------------
# q162 — SemDeDup semantic dedup. Axis-aligned sign cells (first 4
# coordinates), cosine ≥ 0.35 within a cell → drop the higher id.
# --------------------------------------------------------------------------

_Q162_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
c AS (
    SELECT vec_id, emb,
           (CASE WHEN emb[1] >= 0 THEN 1 ELSE 0 END) * 8 +
           (CASE WHEN emb[2] >= 0 THEN 1 ELSE 0 END) * 4 +
           (CASE WHEN emb[3] >= 0 THEN 1 ELSE 0 END) * 2 +
           (CASE WHEN emb[4] >= 0 THEN 1 ELSE 0 END) AS cell
    FROM e
)
SELECT x.vec_id, x.cell
FROM c x
WHERE NOT EXISTS (
    SELECT 1 FROM c y
    WHERE y.cell = x.cell AND y.vec_id < x.vec_id
      AND ROUND(list_dot_product(x.emb, y.emb) /
                (sqrt(list_dot_product(x.emb, x.emb)) *
                 sqrt(list_dot_product(y.emb, y.emb))), 6) >= 0.35
)
"""


@query("q162_semantic_dedup", oracle=_Q162_SQL, tags=("dedup", "similarity"))
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with a deterministic axis-sign
    coarse quantizer: within each of 16 sign cells, drop any vector
    whose cosine to a lower-id cell-mate reaches 0.35; survivors carry
    their cell id. Pair cost is Σ cell², the drop set anti-joins back as
    a broadcast, and the keep-lowest-id rule makes the result unique —
    so the whole operator hash-matches a serial SQL oracle."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    return similarity.semantic_dedup(
        emb, "vec_id", "embedding", sign_dims=4, threshold=0.35
    )


# --------------------------------------------------------------------------
# q163 — mergeable histogram-quantile sketch over l_extendedprice by
# return flag. Fixed [0, 150000) range, 256 bins (width 585.9375 —
# exactly representable, so binning is bit-identical in any engine).
# --------------------------------------------------------------------------

_Q163_LO, _Q163_HI, _Q163_BINS = 0.0, 150000.0, 256
_Q163_QS = (0.5, 0.95, 0.99)

_Q163_SQL = """
WITH h AS (
    SELECT l_returnflag,
           LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 0.0) / 585.9375) AS BIGINT),
                          0), 255) AS bin,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2
),
c AS (
    SELECT h.*,
           CAST(SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin) AS BIGINT) AS cum,
           CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
    FROM h
),
-- q must be DOUBLE: a bare 0.95 literal is DECIMAL in DuckDB, which
-- would run the whole interpolation in decimal arithmetic and drift
-- from Spark's IEEE chain in the last bits.
x AS (SELECT c.*, t.q
      FROM c, UNNEST([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
                      CAST(0.99 AS DOUBLE)]) AS t(q))
SELECT l_returnflag, q,
       0.0 + 585.9375 * (bin + (q * total - (cum - n)) / n) AS est
FROM x
WHERE cum >= q * total AND (cum - n) < q * total
"""


@query("q163_histogram_quantiles", oracle=_Q163_SQL, tags=("sketch", "agg"))
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a mergeable fixed-width histogram sketch (the
    fourth sketch family next to HLL/bitmap/CMS): bin counts are plain
    integers, so partial histograms merge by addition with zero drift —
    at 100 TB the shuffle carries ≤ groups×256 rows however large the
    scan, daily sketches roll up into monthly ones without re-scanning,
    and the interpolated estimate is within one bin width of exact
    (error-bound unit-tested)."""
    from march_mania_spark_lakehouse_spark.operators import sketch

    li = catalog.load(spark, "lineitem", sf_dir)
    h = sketch.histogram_sketch(
        li, "l_extendedprice", ["l_returnflag"], _Q163_LO, _Q163_HI, _Q163_BINS
    )
    return sketch.quantiles_from_histogram(
        h, ["l_returnflag"], _Q163_QS, _Q163_LO, _Q163_HI, _Q163_BINS
    )


# --------------------------------------------------------------------------
# q164 — fixed-iteration PageRank over the customer↔supplier trade graph,
# in 1e-15 fixed-point integer arithmetic (see operators/graph.pagerank:
# iterated float reductions cannot be made bit-stable across engines —
# decimal-cast partial sums fix the order but the decimal↔double casts
# themselves round differently per engine — so ranks are BIGINT units
# and every division is integer DIV). Forward edges: customer → supplier
# for every traded pair; reverse edges: supplier → customer only where
# the pair's total quantity exceeds 300, so suppliers without a heavy
# pair are dangling and the dangling-mass redistribution is exercised.
# The oracle unrolls the same 5 synchronous steps as chained CTEs.
# --------------------------------------------------------------------------

_Q164_ITERS = 5
_Q164_SUPP_OFFSET = 1_000_000
_Q164_REV_MIN_QTY = 300
_Q164_UNIT = 1_000_000_000_000_000


def _q164_oracle() -> str:
    u = _Q164_UNIT
    head = f"""
WITH fwd AS (
    SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + {_Q164_SUPP_OFFSET} AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
rev AS (
    SELECT l.l_suppkey + {_Q164_SUPP_OFFSET} AS src, o.o_custkey AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(28,6))) > {_Q164_REV_MIN_QTY}
),
edges AS (SELECT * FROM fwd UNION ALL SELECT * FROM rev),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY src),
cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
pr0 AS (SELECT node, CAST({u} // (SELECT n FROM cnt) AS BIGINT) AS rank_fp
        FROM nodes)"""
    steps = []
    for i in range(_Q164_ITERS):
        steps.append(f""",
pr{i + 1} AS (
    SELECT nn.node,
           CAST((15 * {u}) // (100 * (SELECT n FROM cnt))
                + (85 * COALESCE(c.contrib, 0)) // 100
                + (85 * d.mass) // (100 * (SELECT n FROM cnt)) AS BIGINT) AS rank_fp
    FROM nodes nn
    LEFT JOIN (SELECT e.dst AS node,
                      CAST(SUM(p.rank_fp // deg.d) AS BIGINT) AS contrib
               FROM pr{i} p
               JOIN deg ON p.node = deg.node
               JOIN edges e ON p.node = e.src
               GROUP BY e.dst) c ON nn.node = c.node
    CROSS JOIN (SELECT COALESCE(CAST(SUM(p.rank_fp) AS BIGINT), 0) AS mass
                FROM pr{i} p LEFT JOIN deg ON p.node = deg.node
                WHERE deg.node IS NULL) d
)""")
    tail = (
        f"\nSELECT node, rank_fp,"
        f" rank_fp / CAST({u} AS DOUBLE) AS rank FROM pr{_Q164_ITERS}"
    )
    return head + "".join(steps) + tail


_Q164_SQL = _q164_oracle()


@query("q164_pagerank_trade_graph", oracle=_Q164_SQL, tags=("graph", "agg"))
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.py:pagerank) over the
    directed customer↔supplier trade graph, dangling mass redistributed
    uniformly, computed in 1e-15 fixed-point BIGINT units so the 5-step
    rank vector is identical at any parallelism AND in any engine — an
    iterative numeric fixpoint, normally a rows-only check, carrying a
    full value oracle."""
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark.operators import graph

    o = catalog.load(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = catalog.load(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    pairs = o.join(li, o.o_orderkey == li.l_orderkey)
    # fwd (distinct cust→supp) and rev (supp→cust where Σqty clears the
    # bar) both reduce to ONE (cust, supp) aggregate — the previous
    # fwd-distinct ∪ rev-groupBy put two copies of the orders⋈lineitem
    # join into the plan (optimization round 13, guide §2.3/§2.4): one
    # grouped pass now emits the fwd edge always and the rev edge
    # conditionally, identical row multiset.
    g = pairs.groupBy(
        F.col("o_custkey").alias("c"),
        (F.col("l_suppkey") + _Q164_SUPP_OFFSET).alias("s"),
    ).agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("q"))
    emit = F.array_compact(
        F.array(
            F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
            F.when(
                F.col("q") > _Q164_REV_MIN_QTY,
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            ),
        )
    )
    edges = g.select(F.explode(emit).alias("e")).select("e.src", "e.dst")
    return graph.pagerank(edges, damping_pct=85, iters=_Q164_ITERS)


# --------------------------------------------------------------------------
# q165 — per-part triangle counts over the co-order graph (two parts
# joined when they co-occur in at least 2 distinct orders — the
# repeat-co-occurrence cut keeps the graph sparse where a single shared
# order would make it near-complete). Exact integers; degree
# orientation bounds the wedge join on skewed graphs.
# --------------------------------------------------------------------------

_Q165_SQL = """
WITH pair AS (
    SELECT l1.l_partkey AS a, l2.l_partkey AS b
    FROM lineitem l1
    JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
                    AND l1.l_partkey <> l2.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT l1.l_orderkey) >= 2
),
deg AS (SELECT a AS node, COUNT(*) AS deg FROM pair GROUP BY a),
oriented AS (
    SELECT p.a, p.b
    FROM pair p
    JOIN deg d1 ON p.a = d1.node
    JOIN deg d2 ON p.b = d2.node
    WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND p.a < p.b)
),
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM oriented e1
    JOIN oriented e2 ON e1.b = e2.a
    WHERE EXISTS (SELECT 1 FROM oriented e3
                  WHERE e3.a = e1.a AND e3.b = e2.b)
),
t AS (SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
SELECT d.node, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS triangles
FROM deg d
LEFT JOIN (SELECT node, COUNT(*) AS cnt FROM t GROUP BY node) c
       ON d.node = c.node
"""


@query("q165_triangle_count", oracle=_Q165_SQL, tags=("graph", "join"))
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.py:triangle_count) over
    the part co-order graph, edges gated on >= 2 shared orders (without
    the repeat cut the fixture graph is near-complete and the triangle
    set itself is O(n^3) — a density knob every production triangle
    count needs). Degree orientation enumerates each triangle once and
    bounds wedge fan-out by oriented out-degree (the arboricity bound
    that survives skew). Integer-exact, so the three-way self-join
    family carries a full value oracle."""
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark.operators import graph

    # Dedupe (order, part) BEFORE the self-join (optimization round 14,
    # guide §2.3): lineitem repeats a part within an order, so deduping
    # first shrinks the join quadratically per order AND turns the
    # count-distinct aggregate (two shuffles via the distinct-agg
    # rewrite) into a plain map-side-combinable count — each surviving
    # (a, b, order) triple appears exactly once. Row-identical output
    # (verified exceptAll both ways = 0); measured 3.4 → 1.4-2.1 s at
    # sf0.1 for the pair generation alone.
    li = (
        catalog.load(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        li.join(l2, (li.l_orderkey == l2.o2) & (li.l_partkey != l2.p2))
        .groupBy(F.col("l_partkey").alias("src"), F.col("p2").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("src", "dst")
    )
    return graph.triangle_count(pairs)


# --------------------------------------------------------------------------
# q166 — multi-source BFS reach: hop distance from a deterministic seed
# set of customers (c_custkey % 97 == 0) through the undirected trade
# graph, within 4 hops. Integer min-propagation; the oracle unrolls the
# same 4 relaxation levels (each level node-bounded — never a path
# table).
# --------------------------------------------------------------------------

_Q166_HOPS = 4
_Q166_SUPP_OFFSET = 1_000_000


def _q166_oracle() -> str:
    head = f"""
WITH pairs AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + {_Q166_SUPP_OFFSET} AS s
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (SELECT c AS src, s AS dst FROM pairs
          UNION ALL SELECT s AS src, c AS dst FROM pairs),
d0 AS (SELECT DISTINCT c_custkey AS node, 0 AS dist
       FROM customer WHERE c_custkey % 97 = 0)"""
    steps = []
    for h in range(_Q166_HOPS):
        steps.append(f""",
d{h + 1} AS (
    SELECT node, CAST(MIN(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM d{h}
        UNION ALL
        SELECT e.dst AS node, p.dist + 1 AS dist
        FROM d{h} p JOIN edges e ON p.node = e.src
    ) u GROUP BY node
)""")
    return head + "".join(steps) + f"\nSELECT node, dist FROM d{_Q166_HOPS}"


_Q166_SQL = _q166_oracle()


@query("q166_bfs_trade_reach", oracle=_Q166_SQL, tags=("graph", "agg"))
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/graph.py:bfs_distances): minimum hop
    count from the seed customers to every node reachable within 4 hops
    of the undirected customer↔supplier trade graph. Integer distances
    make the iterative relaxation value-oracle-checkable; each level
    shuffles a node-bounded frontier, never a path table."""
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark.operators import graph

    o = catalog.load(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = catalog.load(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _Q166_SUPP_OFFSET).alias("s"),
        )
        .distinct()
    )
    # both directions from one traversal of the distinct-pairs join —
    # the two-branch union duplicated it in the plan (guide §2.4)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    seeds = (
        catalog.load(spark, "customer", sf_dir)
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("node"))
    )
    return graph.bfs_distances(edges, seeds, max_hops=_Q166_HOPS)


# --------------------------------------------------------------------------
# q167 — end-to-end entity resolution (MDM-style): blocked fuzzy match →
# connected components → survivorship. Composes q109's pair generator
# with q83's clustering; the canonical record per entity is the
# min-custkey member (exactly the CC label), its name is propagated to
# every member, and the entity size rides along for review queues.
# --------------------------------------------------------------------------

_Q167_SQL = """
WITH RECURSIVE
pairs AS (
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
    FROM customer a
    JOIN customer b
      ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
),
sym AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach(node, lbl) AS (
    SELECT c_custkey, c_custkey FROM customer
    UNION
    SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
),
ent AS (SELECT node AS c_custkey, MIN(lbl) AS entity_id FROM reach GROUP BY node),
sizes AS (SELECT entity_id, COUNT(*) AS entity_size FROM ent GROUP BY entity_id)
SELECT e.c_custkey, e.entity_id, c2.c_name AS canonical_name, s.entity_size
FROM ent e
JOIN customer c2 ON e.entity_id = c2.c_custkey
JOIN sizes s ON e.entity_id = s.entity_id
"""


@query("q167_entity_resolution", oracle=_Q167_SQL, tags=("dedup", "graph", "similarity"))
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over customer records: levenshtein-≤1 pairs
    from prefix blocks (no cartesian), transitive closure via the
    star-contraction CC, survivorship by min-key canonical whose name
    broadcasts back onto every member. Every stage is block- or
    key-local — the full-records table is never self-joined — and the
    output is integer/string exact, so the whole MDM pipeline carries a
    value oracle (recursive-CTE reachability as the independent
    derivation, the q83 pattern)."""
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark.operators import fuzzy
    from march_mania_spark_lakehouse_spark.operators.graph import connected_components

    cust = catalog.load(spark, "customer", sf_dir).select("c_custkey", "c_name")
    pairs = fuzzy.blocked_levenshtein_pairs(
        cust, "c_custkey", "c_name",
        block=F.substring(F.col("c_name"), 1, 16), max_dist=1,
    )
    # materialize the blocked-pair table ONCE before the iterative CC:
    # without this, round 1 of every CC materialization re-runs the
    # block join + levenshtein verify through the cache-miss path
    # (measured 8.2 s → 6.7 s steady-state at sf0.1)
    pairs = pairs.localCheckpoint(eager=True)
    # shorten_hops=0: duplicate families are dense near-cliques (every
    # member is ≤2 hops from the min), so the path-halving label→label
    # join buys nothing here — measured 5.0 s → 3.6 s for the CC stage
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        shorten_hops=0,
    )
    ent = (
        cust.join(comp, cust.c_custkey == comp.node, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("component"), F.col("c_custkey")).alias("entity_id"),
        )
    )
    sizes = ent.groupBy("entity_id").agg(F.count(F.lit(1)).alias("entity_size"))
    canon = cust.select(
        F.col("c_custkey").alias("entity_id"), F.col("c_name").alias("canonical_name")
    )
    return (
        ent.join(F.broadcast(canon), on="entity_id")
        .join(F.broadcast(sizes), on="entity_id")
        .select("c_custkey", "entity_id", "canonical_name", "entity_size")
    )


# --------------------------------------------------------------------------
# q168 — per-label embedding centroids in long (label, dim, centroid)
# form: the array-valued aggregate done relationally. posexplode →
# per-(label, dim) exact-decimal mean; output long format so the oracle
# compares scalars (array columns stringify differently per engine).
# --------------------------------------------------------------------------

_Q168_SQL = """
WITH e AS (
    SELECT label, u.s.v AS v, u.s.i AS i
    FROM (SELECT label,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                (x, i) -> {'v': x, 'i': i}) AS lst
          FROM embeddings) t,
         UNNEST(t.lst) AS u(s)
)
SELECT label, CAST(i - 1 AS INT) AS dim,
       CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(v) AS centroid
FROM e GROUP BY label, i
"""


@query("q168_label_centroids", oracle=_Q168_SQL, tags=("similarity", "agg"))
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, computed relationally: posexplode
    the vector once, one map-side-combined aggregate per (label, dim) —
    shuffle rows ≤ labels × dims however large the corpus, which is how
    class centroids (prototype vectors for classification, coarse cells
    for IVF, drift baselines) are built at 100 TB. Exact-decimal sums
    make the parallel mean hash-equal the serial oracle."""
    from pyspark.sql import functions as F

    emb = catalog.load(spark, "embeddings", sf_dir)
    ex = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "v")
    ).select("label", "dim", F.col("v").cast("double").alias("v"))
    return ex.groupBy("label", "dim").agg(davg("v", "centroid"))


# --------------------------------------------------------------------------
# q169 — decile lift: rank customers into revenue deciles with ntile
# (total order via revenue desc, custkey asc tiebreak), then per-decile
# share metrics.
# --------------------------------------------------------------------------

_Q169_SQL = """
WITH rev AS (
    SELECT c.c_custkey,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
),
d AS (
    SELECT rev.*,
           NTILE(10) OVER (ORDER BY revenue DESC, c_custkey) AS decile
    FROM rev
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS customers,
       CAST(SUM(CAST(revenue AS DECIMAL(28,6))) AS DOUBLE) AS decile_revenue,
       CAST(SUM(n_orders) AS BIGINT) AS decile_orders
FROM d GROUP BY decile
"""


@query("q169_revenue_decile_lift", oracle=_Q169_SQL, tags=("window", "agg"))
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue deciles via ntile over a TOTAL order (revenue
    desc + key tiebreak — without the tiebreak, equal-revenue customers
    make decile assignment partition-dependent; ranking-window basics
    incl. ntile are q60's — this is the decile-LIFT rollup shape), then
    per-decile roll-up. The single ordered window is over customer-sized data, not
    the fact table; at 100 TB the same cut comes from the histogram
    sketch (q163) instead of a global sort — both forms ship."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    c = catalog.load(spark, "customer", sf_dir).select("c_custkey")
    o = catalog.load(spark, "orders", sf_dir)
    rev = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            dsum("o_totalprice", "revenue"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    d = rev.withColumn("decile", F.ntile(10).over(w))
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("customers"),
        dsum("revenue", "decile_revenue"),
        F.sum("n_orders").alias("decile_orders"),
    )


# --------------------------------------------------------------------------
# q170/q171 — the remaining merge_asof directions (q57 is backward):
# forward (first purchase after each click) and nearest (closer of the
# two, ties backward).
# --------------------------------------------------------------------------

_Q170_SQL = """
SELECT a.event_id, a.user_id, a.value AS click_value, b.value AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'click') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id AND b.ts > a.ts
"""


@query("q170_asof_forward", oracle=_Q170_SQL, tags=("join", "temporal"))
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/temporal.py:asof_join
    direction='forward'): each click is matched to the user's first
    strictly-later purchase — one key shuffle + one ordered window pass,
    same cost shape as backward."""
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark.operators import temporal

    ev = catalog.load(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = temporal.asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"], strict=True, direction="forward",
    )
    return out.select(
        "event_id", "user_id",
        F.col("value").alias("click_value"),
        F.col("asof_value"),
    )


_Q171_SQL = """
WITH a AS (SELECT * FROM events WHERE event_type = 'click'),
b AS (SELECT * FROM events WHERE event_type = 'purchase'),
cand AS (
    SELECT a.event_id, a.user_id, a.value AS click_value, a.ts,
           (SELECT MAX(b.ts) FROM b
            WHERE b.user_id = a.user_id AND b.ts < a.ts) AS bts,
           (SELECT MIN(b.ts) FROM b
            WHERE b.user_id = a.user_id AND b.ts > a.ts) AS fts
    FROM a
),
pick AS (
    SELECT *,
           CASE WHEN bts IS NOT NULL
                 AND (fts IS NULL OR (ts - bts) <= (fts - ts))
                THEN bts ELSE fts END AS mts
    FROM cand
)
SELECT p.event_id, p.user_id, p.click_value, b.value AS asof_value
FROM pick p
LEFT JOIN b ON p.user_id = b.user_id AND p.mts = b.ts
"""


@query("q171_asof_nearest", oracle=_Q171_SQL, tags=("join", "temporal"))
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (direction='nearest'): each click matches its
    closest purchase in either time direction, equal distances going
    backward (the pandas rule). Two window passes over ONE key shuffle —
    the exchange is reused, only the sort repeats. The oracle derives
    the same answer independently from correlated min/max subqueries."""
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark.operators import temporal

    ev = catalog.load(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = temporal.asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"], strict=True, direction="nearest",
    )
    return out.select(
        "event_id", "user_id",
        F.col("value").alias("click_value"),
        F.col("asof_value"),
    )


# --------------------------------------------------------------------------
# q172 — robust outliers via median absolute deviation (nested exact
# medians). Both engines interpolate even-count medians as the midpoint
# of the middle pair, so med and mad are bit-identical (q06 precedent),
# and the 3·1.4826·mad cut is IEEE arithmetic on identical doubles.
# --------------------------------------------------------------------------

_Q172_K = 3 * 1.4826  # ~3 sigma for normal data via the MAD consistency constant

_Q172_SQL = f"""
WITH med AS (
    SELECT l_returnflag, CAST(median(l_extendedprice) AS DOUBLE) AS med
    FROM lineitem GROUP BY l_returnflag
),
dev AS (
    SELECT l.l_returnflag, m.med, ABS(l.l_extendedprice - m.med) AS d
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
),
mad AS (
    SELECT l_returnflag, med, CAST(median(d) AS DOUBLE) AS mad
    FROM dev GROUP BY l_returnflag, med
)
SELECT d.l_returnflag, mad.med, mad.mad,
       CAST(SUM(CASE WHEN d.d > {_Q172_K!r} * mad.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       COUNT(*) AS n_rows
FROM dev d JOIN mad ON d.l_returnflag = mad.l_returnflag
GROUP BY d.l_returnflag, mad.med, mad.mad
"""


@query("q172_mad_outliers", oracle=_Q172_SQL, tags=("agg", "quality"))
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median absolute deviation
    with the 1.4826 normal-consistency constant — immune to the very
    outliers it hunts, unlike q113's mean/stddev z-score. Two exact-
    median aggregates + one conditional count; the group stats (med,
    mad) broadcast back onto the scan, so the fact table never shuffles
    twice on the same key."""
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark.operators.core import rebalance_scan

    # three passes over lineitem (median, MAD, outlier count) all
    # inherit the single-file scan's one task without a shuffle
    # boundary; identity at scale (optimization round 13, guide §2.5)
    li = rebalance_scan(
        catalog.load(spark, "lineitem", sf_dir).select(
            "l_returnflag", "l_extendedprice"
        )
    )
    med = li.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "d", F.abs(F.col("l_extendedprice") - F.col("med"))
    )
    mad = dev.groupBy("l_returnflag", "med").agg(F.median("d").alias("mad"))
    return (
        dev.select("l_returnflag", "d")
        .join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag", "med", "mad")
        .agg(
            F.sum(
                F.when(F.col("d") > F.lit(_Q172_K) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# q173 — per-group OLS trendline from fixed-point sufficient statistics.
# The regr_* builtins are float-order-dependent inside; and even exact
# DECIMAL sums fail here because sxy carries ~18 significant digits and
# the decimal→double cast rounds differently per engine (the q164
# lesson). So every statistic is an INTEGER: x = epoch days, y scaled
# to 1e-4 units (the fixture's price×discount arithmetic is exact at 4
# decimals), Σ all in int64 — and int64→double conversion is the same
# correctly-rounded hardware op in every engine, after which the closed
# form is IEEE arithmetic on identical inputs.
# --------------------------------------------------------------------------

_Q173_SQL = """
WITH pts AS (
    SELECT l_returnflag,
           datediff('day', TIMESTAMP '1995-01-01', l_shipdate) AS x,
           CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) AS yu
    FROM lineitem
),
s AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(yu AS HUGEINT)) AS DOUBLE) AS syu,
           CAST(SUM(CAST(x AS HUGEINT) * yu) AS DOUBLE) AS sxyu
    FROM pts GROUP BY l_returnflag
)
SELECT l_returnflag,
       (n * sxyu - sx * syu) / (n * sxx - sx * sx) / 10000.0 AS slope,
       (syu / 10000.0 - (n * sxyu - sx * syu) / (n * sxx - sx * sx) / 10000.0 * sx) / n
           AS intercept,
       CAST(n AS BIGINT) AS n_points
FROM s
"""


@query("q173_group_trend_ols", oracle=_Q173_SQL, tags=("agg", "ml"))
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares revenue trend (slope per day + intercept)
    from sufficient statistics in ONE aggregation pass — all-integer
    sums (x = epoch days, y in 1e-4 fixed-point units), then the closed
    form in IEEE doubles. Integer stats are the only cross-engine-exact
    formulation: regr_slope/regr_intercept are float-order-dependent,
    and even decimal sums lose an ulp in the per-engine decimal→double
    cast at this magnitude. The sufficient-statistics form is also the
    mergeable one (daily stats roll up into monthly trends without
    re-scanning)."""
    from pyspark.sql import functions as F

    li = catalog.load(spark, "lineitem", sf_dir)
    pts = li.select(
        "l_returnflag",
        F.datediff(F.col("l_shipdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("x"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0)
        .cast("long")
        .alias("yu"),
    )
    # Sums run in decimal(38,0): x*yu is ~2e12 per row, so a plain long
    # sum silently wraps past ~4.6e6 rows per group in non-ANSI Spark —
    # at 100 TB every group crosses that. Exact decimal partial sums stay
    # mergeable (the sufficient-statistics roll-up claim). Cross-engine
    # bit-parity holds while totals stay under 2^63 (both engines then do
    # the one correctly-rounded int→double hardware op — true at every
    # oracle-compare scale); past 2^63 the statistics stay exact and only
    # the final double conversion can differ by 1 ulp.
    def _dsum(c):
        return F.sum(c.cast("decimal(38,0)")).cast("double")

    s = pts.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("x") * F.col("x")).alias("sxx"),
        _dsum(F.col("yu")).alias("syu"),
        _dsum(F.col("x") * F.col("yu")).alias("sxyu"),
    )
    slope = (
        (F.col("n") * F.col("sxyu") - F.col("sx") * F.col("syu"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        / F.lit(10000.0)
    )
    return s.select(
        "l_returnflag",
        slope.alias("slope"),
        ((F.col("syu") / F.lit(10000.0) - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
        F.col("n").cast("long").alias("n_points"),
    )


# --------------------------------------------------------------------------
# q174 — REAL JPEG decode under an exact SQL oracle (the q136 pattern,
# upgraded from BMP to a compressed codec). Each document gets a
# deterministic (w, h, grey level v) from its id; workers ENCODE a real
# baseline JPEG (operators/jpeg.py — from-scratch T.81: DCT, Annex-K
# tables, Huffman entropy coding) and DECODE it back. Solid greys make
# a lossy codec value-oracle-able: chroma planes are exactly 128 (zero
# DC), and the luma DC quantization error is < 0.5 of a grey level, so
# the round trip is BIT-EXACT for every v in [0, 255] (pinned by test).
# The decoded dims and the decoded pixel value hash-match the closed
# form; a smooth-texture PSNR >= 30 dB sanity check runs on a 2% doc
# sample inside the worker and fails loudly.
# --------------------------------------------------------------------------

_Q174_SQL = """
SELECT doc_id,
       CAST(8 + doc_id % 16 AS INT) AS width,
       CAST(8 + (doc_id * 7) % 16 AS INT) AS height,
       CAST(doc_id % 256 AS INT) AS grey
FROM documents
"""


@query("q174_jpeg_roundtrip", oracle=_Q174_SQL, tags=("multimodal",))
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→decode real baseline JPEGs in Arrow-batched Python workers
    and surface (decoded width, decoded height, decoded grey level) —
    hashed against the closed-form id arithmetic. Map-only at any scale;
    entropy coding is the irreducibly sequential per-symbol loop. The
    round trip takes ~0.4 ms per doc at fixture sizes on a 4-CPU x86 host
    (~1.1 ms before the codec's vectorized decode tail and table-driven
    Huffman reads)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from march_mania_spark_lakehouse_spark.operators import jpeg
    from march_mania_spark_lakehouse_spark.operators.text import rebalance_scan

    def _roundtrip(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            ws, hs, gs = [], [], []
            for doc_id in pdf["doc_id"]:
                w = int(8 + doc_id % 16)
                h = int(8 + (doc_id * 7) % 16)
                v = int(doc_id % 256)
                px = np.full((h, w, 3), v, dtype=np.uint8)
                decoded = jpeg.decode(jpeg.encode(px, quality=85))
                if decoded.shape != (h, w, 3) or not (decoded == v).all():
                    raise ValueError(f"JPEG solid roundtrip broke for doc {doc_id}")
                if doc_id % 50 == 0:  # smooth-texture fidelity spot check
                    yy, xx = np.mgrid[0:24, 0:24]
                    tx = (128 + 90 * np.sin(yy / 7.0) * np.cos(xx / 9.0)).astype(
                        np.uint8
                    )
                    tdec = jpeg.decode(jpeg.encode(np.stack([tx] * 3, -1), 85))
                    mse = ((tdec.astype(float) - tx[..., None]) ** 2).mean()
                    if 10 * np.log10(255.0**2 / max(mse, 1e-9)) < 30.0:
                        raise ValueError(f"JPEG fidelity below 30 dB for {doc_id}")
                hs.append(decoded.shape[0])
                ws.append(decoded.shape[1])
                gs.append(int(decoded[0, 0, 0]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "width": ws, "height": hs, "grey": gs}
            )

    docs = catalog.load(spark, "documents", sf_dir).select("doc_id")
    return rebalance_scan(docs).mapInPandas(
        _roundtrip, schema="doc_id long, width int, height int, grey int"
    )


# --------------------------------------------------------------------------
# q175 — REAL PNG decode under an exact SQL oracle. PNG is lossless
# (stdlib zlib DEFLATE + spec filters — operators/png.py), so unlike
# q174 the worker asserts FULL bit-equality on TEXTURED content, not
# just solid colors; the oracle hash-checks dims plus the top-left
# pixel of the deterministic per-doc pattern.
# --------------------------------------------------------------------------

_Q175_SQL = """
SELECT doc_id,
       CAST(8 + doc_id % 16 AS INT) AS width,
       CAST(8 + (doc_id * 7) % 16 AS INT) AS height,
       CAST(doc_id % 256 AS INT) AS px00
FROM documents
"""


@query("q175_png_roundtrip", oracle=_Q175_SQL, tags=("multimodal",))
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→decode real PNGs in Arrow-batched Python workers: each doc
    gets a deterministic textured RGB pattern; the worker requires the
    decoded array to be BIT-IDENTICAL to the source (lossless codec, so
    any deviation is a bug, not noise) and surfaces (width, height,
    pixel[0,0].r) against the closed-form id arithmetic. Map-only at any
    scale; DEFLATE runs in C (stdlib zlib)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from march_mania_spark_lakehouse_spark.operators import png
    from march_mania_spark_lakehouse_spark.operators.text import rebalance_scan

    def _roundtrip(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            ws, hs, ps = [], [], []
            for doc_id in pdf["doc_id"]:
                w = int(8 + doc_id % 16)
                h = int(8 + (doc_id * 7) % 16)
                yy, xx = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (xx * 11 + int(doc_id)) % 256,
                        (yy * 5 + int(doc_id) * 3) % 256,
                        (xx + yy * 7) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                decoded = png.decode(png.encode(px))
                if decoded.shape != px.shape or not np.array_equal(decoded, px):
                    raise ValueError(f"PNG roundtrip not lossless for doc {doc_id}")
                hs.append(h)
                ws.append(w)
                ps.append(int(decoded[0, 0, 0]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "width": ws, "height": hs, "px00": ps}
            )

    docs = catalog.load(spark, "documents", sf_dir).select("doc_id")
    return rebalance_scan(docs).mapInPandas(
        _roundtrip, schema="doc_id long, width int, height int, px00 int"
    )


# --------------------------------------------------------------------------
# q176 — real audio DSP under an exact SQL oracle: synthesize a sine at
# a doc-derived frequency, round-trip it through the REAL PCM WAV codec
# (16-bit quantization included), then find the dominant FFT bin. The
# frequency is placed exactly on a bin center (f = bin · rate/N), so the
# rfft argmax is deterministic despite the lossy 16-bit quantization —
# which is what makes a DSP pipeline value-oracle-able:
# bin = 64 + (doc_id % 32) · 16.
# --------------------------------------------------------------------------

_Q176_SQL = """
SELECT doc_id,
       CAST(64 + (doc_id % 32) * 16 AS INT) AS peak_bin,
       CAST(2048 AS INT) AS n_samples
FROM documents
"""


@query("q176_audio_peak_bin", oracle=_Q176_SQL, tags=("multimodal",))
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction with real DSP: per-doc sine → 16-bit PCM
    WAV encode → decode → rfft dominant bin (`multimodal.
    spectral_peak_bin`), hash-matched against the closed-form bin
    arithmetic. Map-only; FFT and PCM codec run in C (numpy/stdlib)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from march_mania_spark_lakehouse_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        spectral_peak_bin,
    )
    from march_mania_spark_lakehouse_spark.operators.text import rebalance_scan

    rate, n = 16000, 2048

    def _pipeline(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        t = np.arange(n) / rate
        for pdf in batches:
            bins = []
            for doc_id in pdf["doc_id"]:
                target = 64 + int(doc_id) % 32 * 16
                f = target * rate / n  # exactly on a bin center
                wav = encode_wav(0.5 * np.sin(2 * np.pi * f * t), rate)
                _ch, _r, samples = decode_wav(wav)
                bins.append(spectral_peak_bin(samples))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "peak_bin": bins,
                 "n_samples": [n] * len(bins)}
            )

    docs = catalog.load(spark, "documents", sf_dir).select("doc_id")
    return rebalance_scan(docs).mapInPandas(
        _pipeline, schema="doc_id long, peak_bin int, n_samples int"
    )


# --------------------------------------------------------------------------
# q179 — MP4 container metadata under an exact SQL oracle: per doc, a
# structurally valid ISO-BMFF file is built with doc-derived dims/
# duration/track-count, then `extract_media_metadata` parses the box
# tree back (operators/mp4.py — pure struct; frame decode stays
# honestly stubbed since it genuinely needs codec libraries). This is
# the pre-codec filter step of a video curation pipeline: resolution /
# duration gates cost metadata bytes, not decode time.
# --------------------------------------------------------------------------

_Q179_SQL = """
SELECT doc_id,
       CAST(320 + (doc_id % 8) * 160 AS INT) AS width,
       CAST(240 + (doc_id % 8) * 120 AS INT) AS height,
       CAST(1000 + (doc_id % 60) * 1000 AS BIGINT) AS duration_ms,
       CAST(1 + doc_id % 3 AS INT) AS n_tracks
FROM documents
"""


@query("q179_mp4_metadata", oracle=_Q179_SQL, tags=("multimodal",))
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build per-doc MP4 containers and recover (width, height,
    duration_ms, n_tracks) through the ISO-BMFF parser, hash-matched
    against the closed-form id arithmetic. Map-only at any scale."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from march_mania_spark_lakehouse_spark.operators import mp4
    from march_mania_spark_lakehouse_spark.operators.multimodal import (
        extract_media_metadata,
    )
    from march_mania_spark_lakehouse_spark.operators.text import rebalance_scan

    def _build(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                payloads.append(
                    mp4.build_minimal_mp4(
                        width=320 + d % 8 * 160,
                        height=240 + d % 8 * 120,
                        duration_ms=1000 + d % 60 * 1000,
                        n_tracks=1 + d % 3,
                        payload=str(d).encode() * 4,
                    )
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    docs = catalog.load(spark, "documents", sf_dir).select("doc_id")
    media = rebalance_scan(docs).mapInPandas(
        _build, schema="media_id long, payload binary"
    )
    return extract_media_metadata(media).select(
        F.col("media_id").alias("doc_id"), "width", "height",
        "duration_ms", "n_tracks",
    )


# --------------------------------------------------------------------------
# q187 — the lossy-codec family under one exact SQL oracle, extending
# the q176 trick: a sine placed exactly on an FFT bin center keeps its
# dominant bin through G.711 µ-law (~38 dB SNR), A-law (~38 dB) and IMA
# ADPCM (~24 dB) compression, so the closed-form bin arithmetic remains
# a value oracle for three genuinely lossy round trips through the
# from-scratch RIFF codec (`operators/audio.py`).
# --------------------------------------------------------------------------

# doc_id % 17 subset: ADPCM's adaptive quantizer is genuinely
# sample-sequential (a ~2k-step Python loop per doc), so the oracled
# sample keeps the bench entry at sub-second scale while still
# round-tripping hundreds of documents; cost is embarrassingly
# parallel per doc either way.
_Q187_SQL = """
SELECT doc_id,
       CAST(64 + (doc_id % 32) * 16 AS INT) AS peak_ulaw,
       CAST(64 + (doc_id % 32) * 16 AS INT) AS peak_alaw,
       CAST(64 + (doc_id % 32) * 16 AS INT) AS peak_adpcm
FROM documents
WHERE doc_id % 17 = 0
"""


@query("q187_audio_codec_family", oracle=_Q187_SQL, tags=("multimodal",))
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sine → encode/decode through µ-law, A-law and IMA ADPCM
    (`audio.encode_wav`/`decode_wav`) → rfft dominant bin per codec,
    all hash-matched against the closed-form bin. Map-only Arrow
    batches; companding tables and ADPCM expansion run in numpy."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from march_mania_spark_lakehouse_spark.operators import audio
    from march_mania_spark_lakehouse_spark.operators.multimodal import (
        spectral_peak_bin,
    )
    from march_mania_spark_lakehouse_spark.operators.text import rebalance_scan

    rate, n = 16000, 2048

    def _pipeline(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        t = np.arange(n) / rate
        for pdf in batches:
            cols = {"ulaw": [], "alaw": [], "adpcm": []}
            for doc_id in pdf["doc_id"]:
                target = 64 + int(doc_id) % 32 * 16
                f = target * rate / n  # exactly on a bin center
                sig = 0.5 * np.sin(2 * np.pi * f * t)
                for fmt, key in (("ulaw", "ulaw"), ("alaw", "alaw"),
                                 ("ima_adpcm", "adpcm")):
                    wav = audio.encode_wav(sig, rate, 1, fmt)
                    _ch, _r, samples = audio.decode_wav(wav)
                    cols[key].append(spectral_peak_bin(samples))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "peak_ulaw": cols["ulaw"],
                 "peak_alaw": cols["alaw"], "peak_adpcm": cols["adpcm"]}
            )

    docs = (
        catalog.load(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % 17 == 0)
        .select("doc_id")
    )
    return rebalance_scan(docs).mapInPandas(
        _pipeline,
        schema="doc_id long, peak_ulaw int, peak_alaw int, peak_adpcm int",
    )


# --------------------------------------------------------------------------
# q205 — PII redaction (training-data hygiene). The fixture corpus
# carries no real PII, so the query SYNTHESIZES a deterministic
# contact blurb per customer (email + NANP phone + IPv4, all derived
# from c_custkey) and then scrubs it with the production rules
# (operators/text.py PII_RULES) — nonzero hits by construction, and
# the oracle rebuilds the same blurb and the same scrub in SQL, so a
# single divergent replacement or count breaks the hash. Map-only
# codegen regex; patterns stay in the Java-regex ∩ RE2 subset.
# DuckDB dialect notes: regexp_replace needs the 'g' flag (Spark is
# global by default); ints must be CAST before ||.
# --------------------------------------------------------------------------

_Q205_SQL = r"""
WITH blurbs AS (
  SELECT c_custkey AS doc_id,
         'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
           || '@example.com or 555-'
           || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
           || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
           || ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.'
           || CAST(c_custkey % 100 AS VARCHAR) || ' segment '
           || c_mktsegment AS text
  FROM customer
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text,
         '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text,
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip
FROM blurbs
"""


@query("q205_pii_redaction", oracle=_Q205_SQL, tags=("text",))
def q205(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 literals to typed
    placeholders and report per-document hit counts — the map-only
    hygiene pass a corpus runs first at 100 TB (pure codegen regex,
    no shuffle, no Python)."""
    from march_mania_spark_lakehouse_spark.operators import text as T

    cust = catalog.load(spark, "customer", sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    blurb = F.concat(
        F.lit("reach "), F.col("c_name"), F.lit(" at user"),
        s(F.col("c_custkey")), F.lit("@example.com or 555-"),
        F.lpad(s(F.col("c_custkey") % 1000), 3, "0"), F.lit("-"),
        F.lpad(s(F.col("c_custkey") % 10000), 4, "0"),
        F.lit(" ip 10.0."), s(F.col("c_custkey") % 256), F.lit("."),
        s(F.col("c_custkey") % 100), F.lit(" segment "),
        F.col("c_mktsegment"),
    )
    base = cust.select(
        F.col("c_custkey").alias("doc_id"), blurb.alias("text")
    )
    return base.select(
        "doc_id",
        T.redact_pii("text").alias("redacted"),
        *T.pii_counts("text"),
    )


# --------------------------------------------------------------------------
# q211 — semantic decontamination: the embedding-space member of the
# decontamination family (q87 n-gram overlap, q117 exact substring).
# Eval set = every 37th vector; a corpus row is contaminated when its
# rounded cosine against ANY eval vector reaches the threshold. The
# uniform random fixture makes hits sparse but nonzero at τ=0.35, so
# both branches (drop + survive) carry weight in the hash. Eval
# broadcasts; the corpus never shuffles.
# --------------------------------------------------------------------------

_Q211_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
ev AS (SELECT * FROM e WHERE vec_id % 37 = 0),
corpus AS (SELECT * FROM e WHERE vec_id % 37 <> 0),
scored AS (
    SELECT c.vec_id,
           MAX(ROUND(
               list_dot_product(c.emb, v.emb)
               / (sqrt(list_dot_product(c.emb, c.emb))
                  * sqrt(list_dot_product(v.emb, v.emb))),
               4
           )) AS max_eval_cosine
    FROM corpus c, ev v
    GROUP BY c.vec_id
)
SELECT vec_id, max_eval_cosine FROM scored WHERE max_eval_cosine >= 0.35
"""


@query(
    "q211_semantic_decontamination",
    oracle=_Q211_SQL,
    tags=("dedup", "similarity", "text"),
)
def q211(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination report: corpus vectors semantically too close to
    the (broadcast) eval set — `similarity.semantic_decontaminate`
    with keep=False; the keep=True survivor path is the same plan with
    the filter flipped (pinned equivalent by construction)."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    ev = emb.filter(F.col("vec_id") % 37 == 0)
    corpus = emb.filter(F.col("vec_id") % 37 != 0)
    return similarity.semantic_decontaminate(
        corpus, ev, threshold=0.35, keep=False
    )
