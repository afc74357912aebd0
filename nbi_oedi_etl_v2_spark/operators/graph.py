"""Iterative graph algorithms as DataFrame loops: fixed-point
PageRank. Complements ``curation.connected_components`` (min-label +
pointer jumping) as the engine's iterative-computation surface.

Determinism design: ranks are INTEGER fixed-point (×``SCALE``) and
every per-step operation is integer floor arithmetic (`div`), so an
iteration is a pure function of the previous one — bit-identical
across engines, partitionings, and AQE re-plans. Double-based
PageRank sums contributions in partition order and cannot be
hash-compared across engines; integer fixed-point gives up ~1e-12
relative precision per step for exact reproducibility (and
``SCALE=10¹²`` keeps ~7 significant digits even on a 10⁵-node graph).

Scale shape per iteration: one equi-join (ranks→edges on src), one
hash aggregate (contributions by dst), one left join back to the node
set — all keyed shuffles, nothing driver-side. PageRank runs as one
lazy plan; the other loops here run an action per round and end each
round with ``_iterate.checkpoint``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._iterate import checkpoint

SCALE = 10**12
DAMPING_PCT = 85

_LOG = logging.getLogger(__name__)

# Sizing model for node-state broadcasts (kcore survivors, labelprop
# labels, SSSP distances): ~48 bytes per entry covers the UnsafeRow +
# LongToUnsafeRowMap overhead of a (long, long) relation with slack; a
# broadcast may take ~10% of the driver heap (it is built driver-side
# first, then shipped — the driver is the bottleneck, and executors on
# any sane cluster have at least driver-sized memory). Row count is
# additionally capped far under BroadcastExchange's 512M-row /
# 8 GB hard limits.
_BC_ENTRY_BYTES = 48
_BC_MEM_FRACTION = 0.10
_BC_ROW_HARD_CAP = 100_000_000

_MEM_UNITS = {
    "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40,
    "kb": 1 << 10, "mb": 1 << 20, "gb": 1 << 30, "tb": 1 << 40,
    "b": 1,
}


def _parse_mem_bytes(s: str) -> int:
    """Parse a JVM-style memory string ('8g', '512m', '100G'). A bare
    number follows Spark's spark.driver.memory convention (MiB); any
    OTHER suffix raises (ADVICE r9: '8gib' silently parsed as 8 MiB
    and drastically undersized the broadcast limit — the caller
    catches ValueError and falls back to the 1g default instead)."""
    s = s.strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, unit = s[:i], s[i:]
    if not num:
        raise ValueError(f"unparseable memory string: {s!r}")
    if unit and unit not in _MEM_UNITS:
        raise ValueError(f"unknown memory unit suffix: {s!r}")
    return int(num) * (_MEM_UNITS[unit] if unit else 1 << 20)


def node_broadcast_limit(spark: SparkSession) -> int:
    """Maximum node-state row count safe to broadcast, sized from
    ``spark.driver.memory`` (VERDICT r8 item 1: the old constant
    5M cutoff was measured-right at sf10 and measured-wrong at sf30 —
    a 6M-node graph silently degraded kcore/SSSP defaults to
    rounds×full-edge shuffles; a memory-derived limit broadcasts
    whenever the state actually fits instead of whenever it is small
    in absolute terms)."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    try:
        mem_bytes = _parse_mem_bytes(mem)
    except ValueError:
        mem_bytes = 1 << 30
    return min(
        int(mem_bytes * _BC_MEM_FRACTION / _BC_ENTRY_BYTES),
        _BC_ROW_HARD_CAP,
    )


def _should_broadcast(spark: SparkSession, n_rows: int, op: str) -> bool:
    """Whether ``n_rows`` rows of node state fit the memory-aware
    broadcast limit. The accounting is a LOG, not a result column (join
    strategy never changes results, so the oracle schema must not
    move): a broadcast is logged at INFO, and the fallback to shuffled
    joins — the silently-degrading case the sf30 soak caught — is a
    WARNING with the numbers."""
    limit = node_broadcast_limit(spark)
    use = n_rows <= limit
    if use:
        _LOG.info(
            "%s: broadcasting node state (%d rows <= memory-aware "
            "limit %d from spark.driver.memory)", op, n_rows, limit
        )
    else:
        _LOG.warning(
            "%s: node state (%d rows) exceeds the memory-aware "
            "broadcast limit (%d rows from spark.driver.memory); "
            "falling back to SHUFFLED node joins — every round now "
            "exchanges the full edge table. Raise spark.driver.memory "
            "for the state to be broadcast.", op, n_rows, limit
        )
    return use


def pagerank_fixed(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Synchronous power-iteration PageRank with integer fixed-point
    ranks: R⁰(v) = SCALE div N, and

        Rⁱ⁺¹(v) = base + Σ_{u→v} (DAMPING_PCT · (Rⁱ(u) div deg(u))) div 100
        base    = ((100 − DAMPING_PCT) · (SCALE div N)) div 100

    Dangling nodes (no out-edges) keep only the teleport term — their
    mass is dropped, the simplest standard convention. Returns
    (node, rank_fp) with rank_fp the final fixed-point rank.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col("src").alias("src"), F.col("dst").alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("_n"))
    # scale div N and the teleport base are scalars — computed once,
    # broadcast into the node table (never collected to Python)
    init = (
        nodes.join(F.broadcast(n_nodes))
        .select(
            "node",
            F.expr(f"CAST({SCALE} AS BIGINT) div _n").alias("r"),
            F.expr(
                f"(CAST({100 - DAMPING_PCT} AS BIGINT)"
                f" * (CAST({SCALE} AS BIGINT) div _n)) div 100"
            ).alias("base"),
        )
    )
    # lazy on purpose: one final action, and AQE reuses the replayed
    # static subtree's exchanges (eager checkpoints measured 2× worse;
    # SCALE.md, "Iterative operators")
    ranks = init
    ed = e.join(deg, "src")  # (src, dst, deg) — static across rounds
    for _ in range(iterations):
        contrib = (
            ed.join(ranks.select(F.col("node").alias("src"), "r"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.expr(f"(CAST({DAMPING_PCT} AS BIGINT) * (r div deg)) div 100")
                ).alias("_c")
            )
        )
        ranks = (
            init.select("node", "base")
            .join(contrib, "node", "left_outer")
            .select(
                "node",
                (F.col("base") + F.coalesce(F.col("_c"), F.lit(0))).alias("r"),
                "base",
            )
        )
    return ranks.select("node", F.col("r").alias("rank_fp"))


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Directed distinct co-occurrence edges: (a, b) when items a ≠ b
    appear in the same order. Pair generation is IN-ROW over each
    order's ``collect_set`` (fan-out bounded by items-per-order², a
    catalog constant, never corpus-quadratic); distinct pairs
    collapse repeat co-purchases.

    r10 shape (was: ``distinct`` → self-join on the order key →
    ``distinct``, i.e. one pair-table exchange + a join exchange per
    side + the final distinct): ``collect_set`` already dedups items
    within an order with map-side partial aggregation, and the a×b
    expansion happens inside the row, so the whole construction is
    ONE order-keyed exchange + the final (src, dst) distinct — the
    basket-operator idiom (basket.frequent_pairs), measured faster at
    sf0.1 for every graph-family consumer. The emitted edge SET is
    identical: both formulations produce exactly {(a, b): a ≠ b,
    same-order co-occurrence}, deduped.
    """
    sets = lineitem.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.collect_set("l_partkey").alias("items")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                "items",
                lambda x: F.filter(
                    F.transform(
                        "items",
                        lambda y: F.struct(
                            x.alias("src"), y.alias("dst")
                        ),
                    ),
                    lambda s: s["src"] != s["dst"],
                ),
            )
        )
    ).alias("e")
    return (
        sets.select(pair)
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )


def pagerank_oracle_sql(iterations: int = 5) -> str:
    """DuckDB mirror of ``pagerank_fixed`` over the lineitem
    co-purchase graph — the iteration unrolled as a generated CTE
    chain with the same integer floor arithmetic."""
    head = f"""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    consts AS (
      SELECT CAST({SCALE} AS BIGINT) // count(*) AS r0,
             (CAST({100 - DAMPING_PCT} AS BIGINT)
              * (CAST({SCALE} AS BIGINT) // count(*))) // 100 AS base
      FROM nodes
    ),
    r0 AS (SELECT node, (SELECT r0 FROM consts) AS r FROM nodes)"""
    steps = []
    for i in range(iterations):
        steps.append(f""",
    r{i + 1} AS (
      SELECT n.node,
             (SELECT base FROM consts) + COALESCE(c.s, 0) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               sum((CAST({DAMPING_PCT} AS BIGINT) * (r.r // d.deg)) // 100) AS s
        FROM edges e JOIN r{i} r ON e.src = r.node JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) c ON n.node = c.node
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r{iterations}
    """
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    symmetric directed edges (both (a,b) and (b,a) present).

    Uses degree orientation — every undirected edge is directed from
    its lower-(degree, id) endpoint, so each triangle is enumerated
    exactly once at its lowest-degree vertex and the wedge join
    materializes Σ min-deg² rows instead of Σ deg² (the difference
    between tractable and not on power-law graphs: a celebrity node
    of degree 10⁶ contributes no wedges because its edges all point
    INTO it). Three equi-joins, no cartesian; the orientation is an
    optimization only — the result is identical to naive a<b<c
    enumeration, which is what the oracle runs.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    with_deg = (
        edges.join(deg, "src")
        .withColumnRenamed("deg", "deg_src")
        .join(deg.withColumnRenamed("src", "dst").withColumnRenamed("deg", "deg_dst"), "dst")
    )
    oriented = with_deg.where(
        (F.col("deg_src") < F.col("deg_dst"))
        | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst", "deg_dst")
    o1 = oriented.select(
        F.col("src").alias("x"),
        F.col("dst").alias("y"),
        F.col("deg_dst").alias("dy"),
    )
    o2 = oriented.select(
        F.col("src").alias("x"),
        F.col("dst").alias("z"),
        F.col("deg_dst").alias("dz"),
    )
    wedges = o1.join(o2, "x").where(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closer = oriented.select(
        F.col("src").alias("y"), F.col("dst").alias("z")
    )
    tris = wedges.join(closer, ["y", "z"]).select("x", "y", "z")
    nodes = tris.select(
        F.explode(F.array("x", "y", "z")).alias("node")
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 6,
) -> DataFrame:
    """Multi-source BFS shortest-hop distances: (node, dist) for every
    node reachable from ``sources`` (a one-column ``node`` DataFrame,
    dist 0) within ``max_depth`` hops — distances are exact hop counts
    (min over all paths) because a node joins the result the FIRST
    round it is reached and is excluded (left-anti) ever after.

    Scale shape per round: one equi-join frontier→edges on src, one
    distinct, one left-anti join against the accumulated result — all
    keyed shuffles; the frontier is the only growing driver of cost
    and it never exceeds the reachable set. Each frontier is
    checkpointed, and the loop stops at the first one whose checkpoint
    observed no row. The edge table is persisted for the loop and
    dropped before returning: the result depends only on checkpointed
    frontiers.
    """
    dist = sources.select(F.col("node").cast("long").alias("node")).distinct()
    dist = dist.withColumn("dist", F.lit(0).cast("int"))
    frontier = dist.select("node")
    # not pre-partitioned by dst: a frontier touches a fraction of the
    # graph per round (SCALE.md, "Iterative operators")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).persist()
    try:
        for depth in range(1, max_depth + 1):
            nxt, m = checkpoint(
                frontier.join(e, frontier["node"] == e["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(dist.select("node"), "node", "left_anti")
                .withColumn("dist", F.lit(depth).cast("int"))
            )
            if not m["n"]:
                break
            dist = dist.unionByName(nxt)
            frontier = nxt.select("node")
    finally:
        e.unpersist()
    return dist


def weighted_sssp(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
    early_exit: bool = True,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths by synchronous Bellman-Ford
    relaxation: ``dist₀(source) = 0``; each round
    ``distₜ₊₁(v) = min(distₜ(v), min over in-edges (u,v,w) of
    distₜ(u) + w)``. After R rounds the result is the exact minimum
    weight over paths of ≤ R edges — the hop-bounded contract that
    makes a fixed-round run deterministic and oracle-matchable (the
    same reason bfs_levels bounds depth and label_propagation fixes
    rounds). ``edges`` carries (src, dst, w); weights are LONG and
    must be non-negative — integral weights keep every distance an
    exact integer sum, so cross-engine hash matching never meets
    float summation order. ``sources`` is a one-column ``node``
    DataFrame. Returns (node, dist) for nodes REACHED within R hops.

    Unlike hop-BFS, a node cannot be frozen the first time it is
    reached (a later path with more hops may be lighter), so each
    round re-relaxes the full reached set: one keyed equi-join
    (edges ⋈ dist on src) + one min-aggregate per round — the same
    keyed-shuffle profile as a PageRank round, which is what
    distributes at 100 TB.

    The reached set is node-sized state like kcore's survivors: it is
    broadcast into the relax join whenever its size, observed by the
    previous round's checkpoint, fits :func:`node_broadcast_limit`,
    which makes the join map-side over the persisted edges. The
    decision is per round, as the reached set grows. Join strategy
    never changes results.

    ``early_exit`` stops when a round changes nothing — a fixed point
    of the relaxation, so the remaining rounds are provably no-ops
    (bit-identical to running all of them). The min-aggregate itself
    counts the changed nodes: it carries each node's previous distance
    beside the new one.
    """
    # not pre-partitioned by dst: the reached set covers a fraction of
    # the graph per round (SCALE.md, "Iterative operators")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("w").cast("long").alias("w"),
    ).persist()
    try:
        spark = edges.sparkSession
        dist, m = checkpoint(
            sources.select(F.col("node").cast("long").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
        )
        for _ in range(rounds):
            d_b = (
                F.broadcast(dist)
                if _should_broadcast(spark, m["n"], "weighted_sssp")
                else dist
            )
            relaxed = e.join(d_b, e["src"] == d_b["node"]).select(
                F.col("dst").alias("node"),
                (d_b["dist"] + F.col("w")).alias("dist"),
            )
            # a node changed when it is new or its distance improved
            new, m = checkpoint(
                dist.withColumn("_old", F.col("dist"))
                .unionByName(relaxed, allowMissingColumns=True)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"), F.max("_old").alias("_old"))
                .select(
                    "node",
                    "dist",
                    (F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
                    .cast("int")
                    .alias("_chg"),
                ),
                F.sum("_chg").alias("chg"),
            )
            dist = new.drop("_chg")
            if early_exit and not m.get("chg"):
                break
        return dist
    finally:
        e.unpersist()


def weighted_sssp_oracle_sql(rounds: int = 4) -> str:
    """DuckDB mirror of ``weighted_sssp`` over the lineitem
    co-purchase graph with the deterministic derived weight
    ``1 + (src + dst) % 7``, sourced at the minimum part key — the
    relaxation rounds unrolled (early exit is result-invariant, so
    the fixed-round twin matches either way)."""
    head = """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
             1 + (a.l_partkey + b.l_partkey) % 7 AS w
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    d0 AS (
      SELECT (SELECT MIN(l_partkey) FROM lineitem) AS node, 0 AS dist
    )"""
    steps = []
    for i in range(rounds):
        steps.append(f""",
    d{i + 1} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM edges e JOIN d{i} d ON d.node = e.src
      ) GROUP BY node
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, CAST(dist AS BIGINT) AS dist
    FROM d{rounds} ORDER BY node
    """
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 5,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the deterministic synchronous variant): every node
    starts as its own label; each round every node adopts the most
    frequent label among its in-neighbors, ties broken by the SMALLEST
    label, isolated/unreached nodes keep their current label. The
    argmax-with-min-tie rule makes the whole fixed-round computation
    deterministic — hash-matchable by an engine replaying the same
    rounds, where the textbook random-order variant would not be.

    The loop stops as soon as NO label changed in a round: the
    synchronous update is a pure function of the previous labels, so
    a round that changes nothing proves a fixed point and every
    further round is a no-op — the result is bit-identical to running
    all ``rounds``, which is why the early exit holds even under the
    fixed-round oracle. The changed count is observed by the round's
    checkpoint job.

    The (node, lbl) side is broadcast into each round's join when the
    node count, observed by the initial checkpoint, fits the
    memory-aware :func:`node_broadcast_limit`: graphs routinely carry
    a modest node set under a huge edge set, and the broadcast makes
    the per-round join map-side over the persisted edges. The shuffled
    fallback is WARNING-logged. Join strategy never changes results.

    Scale shape per round: one keyed equi-join (edges ⋈ labels on
    src), one (dst, label) hash aggregate, one single-agg argmax via
    max(struct) — all shuffles keyed by node id, same profile as a
    PageRank round. Labels are checkpointed per round (flat plan
    depth in rounds) and the edge table is persisted for the loop's
    duration, dropped before returning.
    """
    cache = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).persist()
    repart = None
    try:
        labels, m = checkpoint(
            cache.select(F.col("src").alias("node"))
            .union(cache.select("dst"))
            .distinct()
            .withColumn("lbl", F.col("node"))
        )
        use_bc = _should_broadcast(edges.sparkSession, m["n"], "label_propagation")
        e = cache
        if use_bc:
            # hash(dst) serves both per-round aggregates, so the rounds
            # run exchange-free over this copy (SCALE.md, "Iterative
            # operators"); count() fills it from the first cache
            repart = cache.repartition("dst").persist()
            repart.count()
            cache.unpersist()
            e = repart
        for _ in range(rounds):
            lab_side = F.broadcast(labels) if use_bc else labels
            neigh = (
                e.join(lab_side, e["src"] == lab_side["node"])
                .groupBy(F.col("dst").alias("node"), "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            # (count DESC, label ASC) argmax as ONE hash aggregate: max
            # of (c, -lbl) picks the highest count, then the smallest
            # label (two further fusions were rejected, SCALE.md)
            best = neigh.groupBy("node").agg(
                (-F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("n")))[
                    "n"
                ]).alias("new_lbl")
            )
            upd = labels.join(best, "node", "left").select(
                "node",
                F.coalesce("new_lbl", "lbl").alias("lbl"),
                (~F.coalesce("new_lbl", "lbl").eqNullSafe(F.col("lbl")))
                .cast("int")
                .alias("_chg"),
            )
            labels, m = checkpoint(upd, F.sum("_chg").alias("chg"))
            labels = labels.drop("_chg")
            if not m.get("chg"):
                break
        return labels.select("node", F.col("lbl").alias("community"))
    finally:
        cache.unpersist()
        if repart is not None:
            repart.unpersist()


def label_propagation_oracle_sql(rounds: int = 5) -> str:
    """DuckDB mirror of ``label_propagation`` over the lineitem
    co-purchase graph — the synchronous rounds unrolled, with the
    identical (count DESC, label ASC) argmax tie-break."""
    head = """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    l0 AS (SELECT node, node AS lbl FROM nodes)"""
    steps = []
    for i in range(rounds):
        steps.append(f""",
    n{i + 1} AS (
      SELECT e.dst AS node, l.lbl, COUNT(*) AS c
      FROM edges e JOIN l{i} l ON l.node = e.src
      GROUP BY e.dst, l.lbl
    ),
    b{i + 1} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl ASC) AS rn
        FROM n{i + 1}
      ) WHERE rn = 1
    ),
    l{i + 1} AS (
      SELECT p.node, COALESCE(b.lbl, p.lbl) AS lbl
      FROM l{i} p LEFT JOIN b{i + 1} b ON b.node = p.node
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, lbl AS community FROM l{rounds} ORDER BY node
    """
    )


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition (fixed k): iteratively peel nodes of
    degree < k until the survivor set is stable — the densest-region
    extractor behind spam-cluster mining, community seeding and graph
    sparsification. Input edges must be SYMMETRIC (both directions
    present, as ``copurchase_edges`` emits) so out-degree equals
    undirected degree.

    The only per-round state is the NODE-sized survivor set (a
    checkpointed edge table OOMed at sf10, SCALE.md). The edge table
    is persisted ONCE; each round counts degrees over
    ``edges ⋉ survivors ⋉ survivors`` (two semi-joins + one hash agg),
    and survivors_{t+1} = {degree ≥ k} is checkpointed. Because
    survivors shrink monotonically, filtering the ORIGINAL edges
    against the CURRENT survivor set is identical to iterated edge
    deletion — bit-for-bit, with zero edge-table materializations.

    The survivor set is broadcast into the semi-joins when its size,
    observed by the previous round's checkpoint, fits the memory-aware
    :func:`node_broadcast_limit`, making every round map-only over the
    persisted edges; the shuffled fallback is WARNING-logged. The
    decision is re-taken per round, so a peel that starts too big to
    broadcast flips to map-only joins once the survivors shrink under
    the limit. Join strategy never changes results.

    Early exit is result-invariant: survivors(round) is monotone
    non-increasing and bounded, so the first round that removes no
    node proves the fixed point — a fixed-round oracle unrolled PAST
    convergence matches bit-for-bit. ``max_rounds`` bounds the
    pathological one-layer-per-round worst case (a path graph).

    Returns (node, degree) for the k-core members with their
    within-core degree.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).persist()
    try:
        spark = edges.sparkSession
        surv = None  # None = "all nodes" (round 1 filters nothing)
        prev_nodes = -1
        converged = False
        for _ in range(max_rounds):
            if surv is None:
                alive = e
            else:
                s_b = (
                    F.broadcast(surv)
                    if _should_broadcast(spark, prev_nodes, "kcore")
                    else surv
                )
                alive = e.join(
                    s_b, e["src"] == s_b["node"], "left_semi"
                ).join(s_b, F.col("dst") == s_b["node"], "left_semi")
            deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
            # the state carries each survivor's degree: at the fixed
            # point it is the answer, so no final edge pass runs
            pre = deg.where(F.col("degree") >= k).select(
                F.col("src").alias("node"), "degree"
            )
            surv, m = checkpoint(pre)
            n_keep = m["n"]
            if n_keep == prev_nodes:
                # survivors(t) ⊆ survivors(t−1), so equal counts mean
                # the equal set, and its degrees are the within-core ones
                converged = True
                break
            prev_nodes = n_keep
        if converged:
            return surv
        # max_rounds exhausted without a fixed point: one final pass
        # recounts degrees against the LAST survivor set, eagerly
        # checkpointed (node-sized) while the edge cache is still
        # alive so downstream actions never re-derive the edges.
        s_nodes = surv.select("node")
        s_b = (
            F.broadcast(s_nodes)
            if _should_broadcast(spark, prev_nodes, "kcore")
            else s_nodes
        )
        final = e.join(s_b, e["src"] == s_b["node"], "left_semi").join(
            s_b, F.col("dst") == s_b["node"], "left_semi"
        )
        return (
            final.groupBy("src")
            .agg(F.count(F.lit(1)).alias("degree"))
            .select(F.col("src").alias("node"), "degree")
            .localCheckpoint()
        )
    finally:
        e.unpersist()


def kcore_oracle_sql(k: int, rounds: int = 8) -> str:
    """DuckDB mirror of :func:`kcore` over the lineitem co-purchase
    graph — the peel unrolled ``rounds`` times (early exit is
    result-invariant, so unrolling past convergence matches the
    early-exiting engine bit-for-bit). Every CTE is MATERIALIZED:
    each level references its predecessor three times (n twice, e
    once), and DuckDB's default inlining would re-evaluate the chain
    3^rounds times."""
    head = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    )"""
    steps = []
    for i in range(rounds):
        steps.append(f""",
    n{i + 1} AS MATERIALIZED (
      SELECT src AS node FROM e{i} GROUP BY src HAVING COUNT(*) >= {k}
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i} e
      JOIN n{i + 1} a ON e.src = a.node
      JOIN n{i + 1} b ON e.dst = b.node
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT src AS node, COUNT(*) AS degree
    FROM e{rounds} GROUP BY src ORDER BY node
    """
    )
