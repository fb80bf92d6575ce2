"""Connected components over an edge list — the clustering step that
turns near-duplicate *pairs* (MinHash/SimHash/embedding candidates,
`operators/dedup.py`, `operators/similarity.py`) into duplicate *groups*
with one canonical survivor per group.

Algorithm: alternating min-label propagation with path shortening — the
relational form of the "large-star / small-star" map-reduce connected
components (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14). Each iteration is one shuffle (groupBy min) + one
join; label paths halve every round, so convergence is
O(log(diameter)) iterations, not O(diameter). All state is
(node, label) pairs — never materializes a component's member list on
one executor, so the largest component can exceed executor memory.

Determinism: labels are min node ids, so the fixpoint is unique
regardless of partitioning or iteration interleaving.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.session import ITER_STATE_ENV

#: Small-graph fast path (optimization round 14, guide §2.2/§2.6): when
#: the materialized iteration state is at most this many rows, the
#: per-round shuffles are KB-to-MB-sized and the loop's cost is pure
#: scheduling — 32-way exchanges of near-empty partitions plus AQE's
#: per-exchange re-planning (measured at sf0.1: q83's whole fixpoint is
#: ~1 CPU-second of real work inside ~15 CPU-seconds of task overhead).
#: Below the threshold the loop runs with shuffle partitions derived
#: from the measured row count (~1M rows ≈ 16-32 MB per partition);
#: above it the session conf is left untouched, so cluster-scale graphs
#: keep AQE coalescing/skew handling and full parallelism. The
#: threshold is data-derived, not host-derived: the same gate picks the
#: same path on any cluster.
_SMALL_GRAPH_ROWS = 2_000_000
_ROWS_PER_PARTITION = 1_000_000


def _loop_conf(n_rows: int, disable_aqe: bool) -> dict[str, str] | None:
    """Scoped conf for an iteration loop whose per-round state is
    ``n_rows`` rows, or None (leave the session conf alone) above the
    small-graph threshold. ``disable_aqe`` additionally skips AQE's
    per-exchange re-optimization inside the loop — right when every
    per-round relation is tiny and join strategies cannot change
    (label/rank/frontier propagation), wrong when mid-size joins still
    want runtime broadcast planning (triangle orientation)."""
    if n_rows > _SMALL_GRAPH_ROWS:
        return None
    k = max(1, -(-n_rows // _ROWS_PER_PARTITION))
    conf = {"spark.sql.shuffle.partitions": str(k)}
    if disable_aqe:
        conf["spark.sql.adaptive.enabled"] = "false"
    return conf


@contextlib.contextmanager
def _scoped_conf(spark, conf: dict[str, str] | None):
    """Set runtime SQL confs for the duration of a loop, restoring the
    caller's values on exit (including on error). A no-op when ``conf``
    is None, so the at-scale path never touches the session."""
    if not conf:
        yield
        return
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)

#: Iteration-state materialization modes (lineage truncation between
#: driver-loop rounds — iterative plans otherwise double in analyzer
#: size every round):
#:
#: - ``local``    `localCheckpoint()`: blocks in executor storage
#:   memory. Fastest, but in local mode ONE JVM is driver + all 32
#:   executors, so every round's blocks pile into one heap — that is
#:   what pushed the 100× PageRank probe to a 24 GB heap.
#: - ``disk``     `localCheckpoint(storageLevel=DISK_ONLY)`: same single
#:   computation and lineage truncation, blocks on local disk — caps
#:   memory residency with no checkpoint dir and no recompute.
#: - ``reliable`` `checkpoint()`: writes to the SparkContext checkpoint
#:   dir (HDFS/object store on a cluster) — survives executor loss,
#:   the fault-tolerant form for long cluster jobs (costs one extra
#:   computation per checkpoint, Spark's documented reliable-checkpoint
#:   behavior).
_STATE_MODES = ("local", "disk", "reliable")


def _resolve_state_mode(df: DataFrame, state: str | None) -> str:
    """``state=None`` auto-selects: the env override if set, else
    ``reliable`` when the session has a checkpoint dir (a cluster job
    opts in with one `sc.setCheckpointDir` line, no operator plumbing),
    else ``local``."""
    if state is None:
        state = os.environ.get(ITER_STATE_ENV)
    if state is None:
        sc = df.sparkSession.sparkContext
        state = (
            "reliable" if sc._jsc.sc().getCheckpointDir().isDefined() else "local"
        )
    if state not in _STATE_MODES:
        raise ValueError(f"state must be one of {_STATE_MODES}, got {state!r}")
    return state


def _materialize(df: DataFrame, state: str, eager: bool = True) -> DataFrame:
    """Truncate lineage between iteration rounds per ``state`` (see
    `_STATE_MODES`).

    ``eager=False`` truncates the LOGICAL plan immediately (the analyzer
    sees a LogicalRDD either way) but defers the job: the RDD is marked
    persist+truncate and computes with the NEXT action that consumes it.
    Deferral is only safe when the consuming plan scans the RDD ONCE:
    a lazily-persisted RDD referenced by several scans materializes
    under whichever query stages reach it first, and independent AQE
    stages run CONCURRENTLY — each racing task recomputes the full
    upstream chain before the first finisher populates the block store
    (measured in optimization round 14: the round-13 lazy checkpoints
    cost q83 +1.4 s / q165 +1.0 s / q166 +2.3 s of duplicated work at
    32 cores while looking flat at 8, where the stages serialize).
    Iteration state here is always multiply-consumed (the propagation
    join, the candidate union, the shortening hop, the convergence
    agg), so the loops below checkpoint EAGERLY: compute once, then
    every consumer reads the persisted blocks. ``reliable`` stays eager
    regardless: deferred reliable checkpoints change the
    fault-tolerance story mid-loop."""
    if state == "reliable":
        return df.checkpoint(eager=True)
    if state == "disk":
        from pyspark.storagelevel import StorageLevel

        return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=eager)


def _both_directions(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) rows carrying each input edge in both directions, in ONE
    pass: `edges ∪ edges.swap` puts two copies of the (possibly
    expensive) edge-producing subtree into the physical plan — the
    union-branch duplication of guide §2.4 — where an explode of a
    2-element struct array emits the identical row multiset from a
    single traversal."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    shorten_hops: int = 1,
    check_every: int = 2,
    state: str | None = None,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    ``edges`` is undirected input (each pair listed once is enough);
    node ids must be numeric (the convergence witness sums labels).
    Iterates star-contraction rounds until the label assignment stops
    changing (checked with one count per round — driver-side loop with
    a bounded number of Spark jobs, reference pattern `jobs/07:89-99`).

    ``shorten_hops`` chains that many label→label pointer jumps per
    round: more hops divide the distance-to-minimum faster (fewer
    rounds) at one extra (node,label) self-join per hop per round.
    The default is 1; on the small-graph fast path (see `_loop_conf`)
    the operator raises it to 3 — there the extra joins are sub-ms and
    the saved rounds are saved barriers. The value never changes the
    fixpoint, only how many rounds reach it.

    ``check_every``: run the convergence aggregate (one driver-side job
    per check) only every k rounds instead of every round. Worst case
    runs check_every-1 extra propagation rounds past the fixpoint —
    data-wise no-ops, since min-propagation is idempotent — in exchange
    for 1/k of the convergence jobs; the fixpoint reached is identical.

    ``state`` picks the iteration-state materialization mode (see
    `_STATE_MODES`; None = auto)."""
    # Partition the (big) edge table by the per-round join key ONCE:
    # every propagation round joins `sym.b == labels.node`, and without
    # an established partitioning Spark re-shuffles the full edge list
    # every round — the per-node label state is the side that should
    # move (guide §2.4: operations keyed the same way share one
    # exchange). The explicit repartition lands BEFORE the distinct,
    # which a hash partitioning on `b` already satisfies (subset of the
    # (a,b) clustering), so setup still costs one shuffle; the cached
    # partitioning then serves every round.
    sym = (
        _both_directions(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .repartition("b")
        .distinct()
        .cache()
    )
    # One cheap job builds the cache and measures the graph: the count
    # feeds the small-graph gate (see `_loop_conf`) and every later job
    # reads the cached edge list instead of re-deriving it.
    n_sym = sym.count()
    loop_conf = _loop_conf(n_sym, disable_aqe=True)
    if loop_conf is not None:
        # Small graph: rounds are barrier-bound, per-round joins are
        # trivial, so chain MORE pointer jumps per round — distance to
        # the minimum divides faster, fewer rounds (measured at sf0.1:
        # 10 rounds → 6, each extra hop a sub-ms join). At scale every
        # hop is a real node-sized self-join per round, so the caller's
        # knob stands untouched there. The fixpoint is identical either
        # way (min-propagation is idempotent and order-insensitive).
        shorten_hops = max(shorten_hops, 3)
    state = _resolve_state_mode(edges, state)
    with _scoped_conf(edges.sparkSession, loop_conf):
        # initial label: min(self, neighbors)
        labels = (
            sym.groupBy("a")
            .agg(F.min("b").alias("lbl"))
            .select(
                F.col("a").alias("node"),
                F.least(F.col("a"), F.col("lbl")).alias("lbl"),
            )
        )
        # Checkpoint (not cache): iterative plans double in size every
        # round if lineage is kept — the analyzer, not the data, OOMs.
        # Lineage truncation per round keeps plan size constant;
        # `_materialize` picks memory-resident vs disk-backed.
        #
        # Eager-vs-lazy per round (optimization round 14): each round's
        # labels feed FOUR scans of the next round's plan (the
        # propagation join, the candidate union, the shortening hop's
        # two sides), so a checkpoint left lazy INTO the next round
        # lets those concurrent stages race to recompute the round
        # (see `_materialize`; the round-13 all-lazy variant cost q83
        # 2.8→8.3 s on the driver bench). A round whose convergence agg
        # runs IMMEDIATELY is the one safe deferral: the agg is a
        # single synchronous consumer, so it materializes the blocks
        # with no competitor — one job per check round instead of a
        # checkpoint job plus an agg job. Non-check rounds stay eager.
        labels = _materialize(labels, state, eager=False)
        # Convergence witness: min-propagation only ever DECREASES
        # labels, so Σ lbl strictly decreases until the fixpoint — one
        # cheap agg over the checkpointed labels replaces a join-based
        # changed-rows check (and doubles as the init materializer).
        prev_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]
        check_every = max(1, check_every)
        for it in range(max_iter):
            # propagate: candidate label for each node = min over
            # neighbors' labels and its own; plus path-shortening hop
            # (label's label).
            via_edges = (
                sym.join(labels, sym.b == labels.node)
                .select(F.col("a").alias("node"), F.col("lbl"))
            )
            candidates = labels.select("node", "lbl").union(via_edges)
            hop = labels.select("node", "lbl")
            for _ in range(max(0, shorten_hops)):
                nxt = labels.select(
                    F.col("node").alias("__n"), F.col("lbl").alias("__l")
                )
                hop = hop.join(nxt, hop["lbl"] == nxt["__n"]).select(
                    hop["node"].alias("node"), nxt["__l"].alias("lbl")
                )
                candidates = candidates.union(hop)
            check_now = (it + 1) % check_every == 0 or (it + 1) == max_iter
            new_labels = _materialize(
                candidates.groupBy("node").agg(F.min("lbl").alias("lbl")),
                state,
                eager=not check_now,
            )
            labels = new_labels
            if check_now:
                new_sum = new_labels.agg(
                    F.sum(F.col("lbl").cast("decimal(38,0)"))
                ).first()[0]
                if new_sum == prev_sum:
                    break
                prev_sum = new_sum
    sym.unpersist()
    return labels.select("node", F.col("lbl").alias("component"))


def canonical_per_component(components: DataFrame) -> DataFrame:
    """Collapse to one row per component: the canonical survivor (min
    node) plus the component's size — the keep-list a dedup pipeline
    joins back against."""
    return components.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("canonical"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    iters: int = 5,
    checkpoint_every: int = 2,
    state: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list in **1e-15
    fixed-point integer arithmetic**: (node, rank_fp, rank) after
    ``iters`` synchronous power-iteration steps, dangling (out-degree-0)
    mass redistributed uniformly each step —

        rank'(v) = (1−d)/n + d·Σ_{u→v} rank(u)/deg(u) + d·D/n

    with every division an integer ``DIV`` (truncation; all quantities
    positive). Why fixed point: an iterated float reduction cannot be
    made bit-stable across engines — exact-DECIMAL partial sums fix the
    reduction order, but the decimal↔double casts themselves round
    differently per engine (observed: 1-ulp disagreements at scale 18,
    and grid-tie flips at any post-cast ROUND) and the error compounds
    per iteration. Integer units have no rounding modes at all: any
    engine — Spark at any parallelism, a serial SQL oracle — produces
    the identical BIGINT rank vector, so an iterative numeric fixpoint
    becomes value-oracle-checkable. Truncation loses < n·iters units of
    total mass (units of 1e-15; invariant-tested), far below float
    PageRank's own reduction-order noise. ``damping_pct`` keeps the
    damping factor rational (85 → d = 0.85) so d·x is exact integer
    ``(85·x) DIV 100``; overflow-safe since total mass ≤ 1e15 keeps
    every intermediate < 8.6e16 « 2^63.

    Scale posture: state is one (node, rank) pair per node; each step is
    one join with the edge list + one keyed aggregate (map-side
    combined) + a one-row broadcast for the dangling mass — the same
    shuffle budget per step as one large groupBy. Checkpointing every
    ``checkpoint_every`` steps keeps lineage/analyzer cost constant in
    the iteration count (the `connected_components` pattern); per-step
    cost is edges-linear with no all-pairs term. ``state`` picks the
    iteration-state mode (see `_STATE_MODES`; None = auto) — the
    memory-resident default otherwise accumulates every step's blocks
    in one heap in local mode, which is what pushed the 100× probe past
    8 GB (one JVM = driver + all executors' blocks; `disk` caps it).
    """
    unit = 1_000_000_000_000_000  # 1e15 rank units
    d_num, d_den = int(damping_pct), 100
    state = _resolve_state_mode(edges, state)
    # materialize the edge list once — it feeds every iteration, and an
    # upstream join pipeline would otherwise re-execute per step. All
    # checkpoints are EAGER: e is scanned twice by nodes' union and once
    # per step, ranks twice per step — multiply-consumed RDDs must be
    # materialized before their consumers run or concurrent AQE stages
    # recompute them redundantly (see `_materialize`; round-13's lazy
    # variant read 6.9 s at 32 cores vs 4.6 s eager on the driver bench).
    e = _materialize(
        # partitioned by the per-step join key so each power-iteration
        # step shuffles only the node-sized rank state, never the edge
        # list (guide §2.4); deg's groupBy below reuses the same
        # partitioning shuffle-free
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .repartition("e_src"),
        state,
        eager=True,
    )
    # e is persisted, so measuring the graph for the small-graph gate
    # (see `_loop_conf`) is one cheap cache-scan job; everything
    # node-sized — including the nodes distinct — then runs under the
    # derived partitioning
    loop_conf = _loop_conf(e.count(), disable_aqe=True)
    with _scoped_conf(edges.sparkSession, loop_conf):
        nodes = _materialize(
            e.select(F.col("e_src").alias("node"))
            .unionByName(e.select(F.col("e_dst").alias("node")))
            .distinct(),
            state,
            eager=True,
        )
        n = nodes.count()  # scalar boundary (reference §2.12 pattern)
        # deg feeds BOTH the e2 build and the dangling anti-join;
        # materialize the node-sized aggregate once instead of scanning
        # the persisted edge list twice (guide §2.4/§5)
        deg = _materialize(
            e.groupBy(F.col("e_src").alias("node")).agg(
                F.count(F.lit(1)).alias("d")
            ),
            state,
            eager=True,
        )
        # Attach the out-degree to each EDGE once, and precompute the
        # dangling node set once (optimization round 13, guide §2.4):
        # the previous loop joined ranks⋈deg per step TWICE (once under
        # contrib, once under dangling), re-running a node-sized join
        # 2·iters times. Both deg computations reuse e's e_src
        # partitioning shuffle-free; per step the only remaining joins
        # are ranks⋈e2 (co-partitioned on the same key) and the
        # node-sized rank update.
        e2 = _materialize(
            e.join(deg.withColumnRenamed("node", "e_src"), "e_src"),
            state,
            eager=True,
        )
        dang = _materialize(
            nodes.join(deg, "node", "left_anti"), state, eager=True
        )
        teleport = ((d_den - d_num) * unit) // (d_den * n)  # exact int
        ranks = nodes.withColumn("rank_fp", F.lit(unit // n).cast("long"))
        for i in range(iters):
            contrib = (
                ranks.join(e2, F.col("node") == F.col("e_src"))
                .groupBy(F.col("e_dst").alias("node"))
                .agg(F.sum(F.expr("rank_fp DIV d")).alias("contrib"))
            )
            dangling = ranks.join(dang, "node", "leftsemi").agg(
                F.coalesce(F.sum("rank_fp"), F.lit(0)).cast("long").alias("mass")
            )
            ranks = (
                nodes.join(contrib, on="node", how="left")
                .join(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit(teleport).cast("long")
                        + F.expr(f"({d_num} * coalesce(contrib, 0L)) DIV {d_den}")
                        + F.expr(f"({d_num} * mass) DIV ({d_den} * {n}L)")
                    ).alias("rank_fp"),
                )
            )
            if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
                # eager: ranks feed the contrib join AND the
                # dangling-mass aggregate of every following step — two
                # concurrent consumers per step (see `_materialize`)
                ranks = _materialize(ranks, state, eager=True)
        out = ranks.select(
            "node",
            "rank_fp",
            (F.col("rank_fp") / F.lit(float(unit))).alias("rank"),
        )
        if loop_conf is not None:
            # pin the tail steps too: the caller's action plans OUTSIDE
            # this conf scope, so without the pin the last (un-
            # checkpointed) steps would re-plan at session partitioning
            out = _materialize(out, state, eager=True)
    return out


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    state: str | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph: (node,
    triangles). Exact integers — deterministic in any engine.

    Algorithm: degree orientation (Latapy 2008; the MapReduce-standard
    trick) — orient every undirected edge from the endpoint with
    smaller (degree, id) to the larger, so each triangle is enumerated
    exactly once as a→b→c with a→c, and the wedge join fans out from
    each node at most O(arboricity) ways instead of O(max degree):
    a hub of degree d contributes min(d, √m)-bounded oriented
    out-degree, which is what keeps the wedge table from exploding on
    skewed graphs at scale. Two self-joins on the oriented edge list +
    one union-regroup; no state beyond (edge) and (node, count) pairs.
    """
    state = _resolve_state_mode(edges, state)
    und = _materialize(  # feeds deg + orientation; don't recompute
        _both_directions(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        state,
        eager=True,
    )
    # und is persisted, so the small-graph gate's count is one cheap
    # job. AQE stays ON here even on the small path: the orientation
    # and wedge joins are mid-sized and want runtime broadcast planning
    # (measured: disabling AQE costs ~1.3 s at sf0.1 — SMJ everywhere).
    loop_conf = _loop_conf(und.count(), disable_aqe=False)
    with _scoped_conf(edges.sparkSession, loop_conf):
        # deg is referenced three times (both sides of the orientation
        # join + the final all-nodes left join) — materialize the
        # node-sized aggregate once instead of re-aggregating the edge
        # list per branch (optimization round 13, guide §2.4/§5)
        deg = _materialize(
            und.groupBy(F.col("a").alias("node")).agg(
                F.count(F.lit(1)).alias("deg")
            ),
            state,
            eager=True,
        )
        keyed = (
            und.join(
                deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"),
                "a",
            )
            .join(
                deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"),
                "b",
            )
        )
        # orient: smaller (deg, id) → larger (deg, id); total order ⇒
        # acyclic
        oriented = _materialize(  # three self-join branches below
            keyed.filter(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
            ).select("a", "b"),
            state,
            eager=True,
        )
        e1 = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = oriented.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = oriented.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = (
            e1.join(e2, on="y")
            .join(e3, on=["x", "z"], how="leftsemi")
            .select("x", "y", "z")
        )
        # one traversal of the wedge join, not three: the x/y/z union
        # put three copies of the e1⋈e2⋈e3 subtree into the plan
        # (guide §2.4)
        per_node = (
            tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("triangles"))
        )
        out = deg.select("node").join(per_node, "node", "left").select(
            "node",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        )
        if loop_conf is not None:
            # the wedge join must execute under the scoped partitioning;
            # the caller's action plans outside it (see pagerank)
            out = _materialize(out, state, eager=True)
    return out


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 4,
    checkpoint_every: int = 2,
    state: str | None = None,
) -> DataFrame:
    """Multi-source BFS over a directed edge list: (node, dist) = the
    minimum hop count from any seed, for every node reachable within
    ``max_hops``. Synchronous Bellman-Ford relaxation on integer
    distances — exact, so deterministic in any engine at any
    parallelism, and a level-unrolled SQL oracle can value-check it.

    Each level is one join + one MIN aggregate over a node-bounded
    frontier table (never a path table — path enumeration explodes
    combinatorially; min-per-node stays ≤ |V| rows per level). The
    fixed-``max_hops`` form is the value-checkable one; run-to-fixpoint
    is the `connected_components` driver-loop pattern if needed.
    """
    state = _resolve_state_mode(edges, state)
    e = _materialize(  # reused every level; don't re-run its lineage
        # partitioned by the per-level join key: each relaxation level
        # then shuffles only the frontier, never the edges (guide §2.4)
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .repartition("e_src"),
        state,
        eager=True,
    )
    # e is persisted; the small-graph gate's count is one cheap job
    loop_conf = _loop_conf(e.count(), disable_aqe=True)
    with _scoped_conf(edges.sparkSession, loop_conf):
        dist = seeds.select(F.col(seed_col).alias("node")).distinct().withColumn(
            "dist", F.lit(0).cast("int")
        )
        for h in range(max_hops):
            step = (
                dist.join(e, dist.node == e.e_src)
                .select(
                    F.col("e_dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"),
                )
            )
            dist = (
                dist.unionByName(step)
                .groupBy("node")
                .agg(F.min("dist").cast("int").alias("dist"))
            )
            if (h + 1) % checkpoint_every == 0 and (h + 1) < max_hops:
                # eager: dist feeds both the next level's relaxation
                # join and the union head — two concurrent consumers
                # (see `_materialize`; the round-13 lazy variant read
                # 5.2 s at 32 cores vs 3.0 s eager on the driver bench)
                dist = _materialize(dist, state, eager=True)
        if loop_conf is not None:
            # pin the tail levels under the scoped partitioning (the
            # caller's action plans outside it — see pagerank)
            dist = _materialize(dist, state, eager=True)
    return dist
