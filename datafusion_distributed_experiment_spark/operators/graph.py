"""Graph algorithms over relationally-derived edge lists.

Connected components live in :mod:`.dedup` (where they serve dedup
clustering); this module holds the rank-propagation family. The pattern for
iterative graph algorithms on Spark: derive the edge list with ordinary
(optimizable, shuffle-planned) joins, aggregate it down to the true graph
size, then iterate with small keyed joins — the per-round dataflow the
reference would express as repeated distributed stages
(``src/plan/assign_stages.rs``), here left to Catalyst per round.

All rank arithmetic is integer parts-per-billion with a PINNED operation
order (``((r * 85) DIV 100) * w DIV W``), so three engines' worth of
floating point never enters and the DuckDB oracle (the same three
iterations unrolled as CTEs) matches bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PPB = 1_000_000_000
DAMP_NUM, DAMP_DEN = 85, 100  # 0.85 damping, kept rational
PAGERANK_ITERS = 3
# Triangle counting: undirected graph = collapsed trade edges; an edge
# survives iff its weight exceeds TRIANGLE_W_PCT% of the mean edge weight
# (the cross-multiplied integer form 100*n*w > PCT*total never divides, so
# both engines agree exactly, and no global sort/percentile is ever needed
# to pick the threshold). 50% prunes the noise floor while never emptying
# a near-uniform graph (a 150% cut did exactly that at sf0.1, where the
# co-trade weights concentrate around the mean). Orientation key =
# deg*BASE + node_id — requires node ids < ORIENT_KEY_BASE (nation keys
# here; rescale BASE for bigger id spaces).
TRIANGLE_W_PCT = 50
ORIENT_KEY_BASE = 1_000_000


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted nation->nation trade edges: one edge per (customer nation,
    supplier nation) pair, weighted by lineitem count between them.

    This is the expensive part at 100 TB and it is pure relational dataflow:
    the lineitem-orders join is the one big shuffle; customer joins on the
    shuffled keys; the supplier dimension broadcasts. Everything after the
    groupBy is at most |nations|^2 rows."""
    line = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", F.col("c_nationkey").alias("src")
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", F.col("s_nationkey").alias("dst")
    )
    return (
        line.join(orders, line["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )


def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade network, :data:`PAGERANK_ITERS`
    fixed iterations, exact integer ppb arithmetic.

    Per iteration: ``r'(v) = (0.15e9 DIV N) + Σ_{u->v} ((r(u)*85) DIV 100)
    * w(u,v) DIV W(u)`` with W(u) the out-weight of u; nodes with no
    out-edges simply leak (the standard dangling simplification, applied
    identically in the oracle). Overflow headroom: r ≤ 1e9, so the product
    before the final DIV is ≤ 8.5e8 * w — promote to decimal(38,0) past
    w ~ 1e10 edge weight.

    Scale shape: after :func:`_trade_edges` collapses the fact tables, each
    iteration is a join of an |V|-row rank table with an |E|-row edge table
    — tiny here, and at web scale exactly the keyed-join round a
    Pregel-style engine would run; lineage stays 3 rounds deep so no
    checkpoint is needed (contrast ``dedup.connected_components``, whose
    round count is data-dependent)."""
    edges = _trade_edges(spark, sf_dir).localCheckpoint()  # reused every round
    nodes = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("v")
    )
    return pagerank_frame(nodes, edges).orderBy("v")


def pagerank_frame(
    nodes: DataFrame, edges: DataFrame, iters: int = PAGERANK_ITERS
) -> DataFrame:
    """Frame-level rank loop: ``nodes(v)`` x ``edges(src, dst, w)`` ->
    ``(v, rank_ppb)`` after ``iters`` damped iterations. Exact integer ppb
    arithmetic (see :func:`pagerank_nations`); the property suite drives
    this against a pure-Python replica on arbitrary graphs."""
    n = nodes.count()
    if n == 0:
        # empty graph: an empty result, not ZeroDivisionError from the
        # PPB // n base-rank below (the lpa/bfs/triangle kernels all
        # handle the empty graph cleanly; review fix, round 11)
        return nodes.select("v", F.lit(0).cast("long").alias("rank_ppb"))
    # "out_w", not "W": Spark resolves case-insensitively, so w/W would be
    # an ambiguous pair.
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    # Checkpointed BEFORE the guard below so the guard job and the rank
    # iterations share one materialization — without this, callers passing
    # an unpersisted edge chain (the property suite; any external user of
    # the frame API) re-execute the full edge derivation once extra just to
    # read the guard's one scalar. Also spares each iteration the
    # edges->outw join re-run.
    wedges = (
        edges.join(outw, "src")
        .select("src", "dst", "w", "out_w")
        # non-eager: the guard aggregate below is the first full-scan
        # consumer and materializes the join in the same job (round 14)
        .localCheckpoint(eager=False)
    )
    # Guard the documented int64 headroom instead of trusting it: the
    # per-edge product ((r*85) DIV 100) * w is bounded by PPB * max(w)
    # (each rank <= the total 1e9 mass), so max(w) must stay under
    # int64_max / PPB (~9.2e9) or the contribution silently wraps. ONE
    # (max, min) aggregate over the already-collapsed |E|-row edge table —
    # KB-scale model state, not a data collect.
    head_w = wedges.agg(F.max("w").alias("mx"), F.min("w").alias("mn")).collect()[0]
    max_w = int(head_w["mx"] or 0)
    if max_w > (2**63 - 1) // PPB:
        from ..errors import PlanningError

        raise PlanningError(
            f"pagerank edge weight {max_w} exceeds the int64 ppb headroom "
            f"({(2**63 - 1) // PPB}); rescale edge weights (e.g. divide by a "
            "constant) or switch the rank arithmetic to decimal(38,0)"
        )
    # Non-positive weights guarded LOUDLY (round-14 graph/edge hardening):
    # a node whose out-weight sums to 0 makes `w DIV out_w` divide by zero
    # — NULL on Spark (silently vanishing contributions) but a hard error
    # on the DuckDB oracle's unrolled twin, the worst cross-engine shape;
    # negative weights break the rank-mass invariant the ppb arithmetic
    # assumes. The declared query's weights are COUNT(*) >= 1 by
    # construction; this guards the public frame API.
    if head_w["mn"] is not None and int(head_w["mn"]) <= 0:
        from ..errors import PlanningError

        raise PlanningError(
            f"pagerank edge weights must be positive (observed "
            f"{int(head_w['mn'])}): a zero out-weight divides by zero — "
            "NULL on Spark, an error on the SQL oracle — and negative "
            "weights break the rank-mass invariant; filter or rescale the "
            "edge weights first"
        )

    base = (DAMP_DEN - DAMP_NUM) * PPB // DAMP_DEN // n  # (0.15e9) DIV N
    ranks = nodes.select("v", F.lit(PPB // n).cast("long").alias("r"))
    for _ in range(iters):
        inflow = (
            wedges.join(ranks, wedges["src"] == ranks["v"])
            .select(
                F.col("dst"),
                F.expr(f"((r * {DAMP_NUM}) DIV {DAMP_DEN}) * w DIV out_w").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(inflow, nodes["v"] == inflow["dst"], "left")
            .select(
                "v",
                (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
        )
    return ranks.select("v", F.col("r").alias("rank_ppb"))


def check_threshold_headroom(n_pairs: int, max_w: int) -> None:
    """Raise PlanningError when the division-free mean-weight test
    ``100 * n_pairs * w > TRIANGLE_W_PCT * total_w`` could exceed int64 on
    its left side (w is bounded by max_w). Pure so the trip condition is
    unit-testable without a pathological graph (the
    pagerank/bm25/dsir/cms guard pattern)."""
    i64 = 2**63 - 1
    if n_pairs > 0 and max_w > i64 // (100 * n_pairs):
        from ..errors import PlanningError

        raise PlanningError(
            f"trade-graph weight threshold would exceed int64 headroom at "
            f"n_pairs={n_pairs}, max_w={max_w}; rescale edge weights (e.g. "
            "divide by a constant) before pruning"
        )


def check_orientation_key_headroom(max_node_id: int, min_node_id: int = 0) -> None:
    """Raise PlanningError when a node id would collide in the degree-
    ordered orientation key ``deg * ORIENT_KEY_BASE + id`` (ids must stay
    in ``[0, ORIENT_KEY_BASE)``; e.g. deg-2/id-5 and deg-1/id-1000005
    both key to 2000005 — and a NEGATIVE id reaches down into the next
    lower degree band the same way (deg-2/id--5 keys like deg-1/id-999995)
    — silently dropping triangles in either direction). Pure so the trip
    condition is unit-testable without a million-node graph (the
    check_threshold_headroom pattern)."""
    if max_node_id >= ORIENT_KEY_BASE or min_node_id < 0:
        from ..errors import PlanningError

        raise PlanningError(
            f"triangle orientation key collides at node ids outside "
            f"[0, ORIENT_KEY_BASE={ORIENT_KEY_BASE}) (observed min "
            f"{min_node_id}, max {max_node_id}); rescale ORIENT_KEY_BASE "
            "above the id space (key headroom: deg * BASE + id must fit "
            "int64) or densify node ids to non-negative before counting"
        )


def _undirected_collapse(e: DataFrame) -> DataFrame:
    """least/greatest collapse of directed ``(src, dst, w)`` edges to one
    weighted undirected row per pair — ONE statement of the
    canonicalization :func:`_kept_undirected` and
    :func:`lpa_communities_t3` must apply identically (the oracles'
    ``LEAST/GREATEST ... GROUP BY`` twin rides on it matching exactly)."""
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "w",
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )


def _kept_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (u, v) edges above :data:`TRIANGLE_W_PCT`% of the mean
    weight — the collapsed, noise-pruned trade graph shared by the
    triangle/traversal family. Checkpointed once (<= |V|^2 rows)."""
    # non-eager: the guard/threshold aggregate below is the first full-scan
    # consumer and materializes the collapse in the same job (round 14)
    und = _undirected_collapse(_trade_edges(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    # collapsed graph; reused by the guard/threshold aggregate + the filter
    # ONE aggregate over the checkpointed |pairs|-row graph serves both the
    # overflow guard and the pruning threshold (KB-scale model state, not a
    # data collect); the collected scalars filter as folded literals — the
    # previous shape re-ran a second (count, sum) aggregate inside a
    # crossJoin for values the driver already held (review fix, round 11)
    head = und.agg(
        F.count("*").alias("n"),
        F.sum("w").alias("tw"),
        F.max("w").alias("mw"),
    ).collect()[0]
    if head["mw"] is not None:
        check_threshold_headroom(head["n"], head["mw"])
    n_pairs, total_w = int(head["n"]), int(head["tw"] or 0)
    return und.filter(
        100 * n_pairs * F.col("w") > TRIANGLE_W_PCT * total_w
    ).select("u", "v")


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count over the undirected nation trade graph
    (edges above :data:`TRIANGLE_W_PCT`% of mean weight), output
    ``(node, n_triangles)``.

    Scale design — degree-ordered orientation (Suri & Vassilvitskii,
    WWW'11, "Counting Triangles and the Curse of the Last Reducer"): every
    undirected edge is oriented from its lower ``(degree, id)`` endpoint to
    the higher, which bounds every vertex's oriented out-degree by
    O(sqrt(|E|)). The wedge self-join (the quadratic step of naive triangle
    counting) then fans out at most |E|^1.5 candidate wedges TOTAL and no
    single vertex — however much a hub in the original graph — produces a
    "last reducer" partition: a degree-D hub's wedges are generated at its
    (low-degree, therefore low-fanout) neighbors. Each candidate wedge is
    closed with one hash join back to the oriented edge list, counting each
    triangle exactly once (its minimum-key vertex owns it). The collapsed
    graph is checkpointed once (<= |V|^2 rows, KB-scale here) so the fact
    joins never re-run for the three edge consumers."""
    return triangle_frame(_kept_undirected(spark, sf_dir)).orderBy("node")


def triangle_frame(kept: DataFrame) -> DataFrame:
    """Frame-level degree-ordered triangle kernel: unique undirected
    ``kept(u, v)`` (u != v, one row per pair) -> ``(node, n_triangles)``
    — see :func:`triangle_count`. Exposed separately so the counting
    semantics (orientation, each triangle owned once, isolated-in-graph
    nodes reporting 0) are testable on constructed graphs against a
    brute-force replica.

    The ``deg * ORIENT_KEY_BASE + id`` orientation key requires node ids
    below :data:`ORIENT_KEY_BASE`; the precondition is GUARDED (one
    KB-scale aggregate over the collapsed graph) because a violation does
    not crash — colliding keys break the total order, edges orient
    arbitrarily, and the strict wedge join silently drops triangles."""
    # self-loop rows dropped defensively (a u==u row would inflate u's
    # degree and seed degenerate wedges; the declared query's
    # _undirected_collapse already excludes them — the frame API now
    # enforces the same contract; round-14). Duplicate (u, v) rows remain
    # a documented precondition: deduping here would cost a shuffle on
    # the declared path for a condition _undirected_collapse's groupBy
    # already guarantees.
    kept = kept.filter(F.col("u") != F.col("v"))
    head = kept.agg(
        F.greatest(F.max("u"), F.max("v")).alias("mx"),
        F.least(F.min("u"), F.min("v")).alias("mn"),
    ).collect()[0]
    if head["mx"] is not None:
        check_orientation_key_headroom(int(head["mx"]), int(head["mn"]))
    deg = (
        kept.select(F.col("u").alias("node"))
        .unionAll(kept.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    keyed = (
        kept.join(
            deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
        )
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            (F.col("du") * ORIENT_KEY_BASE + F.col("u")).alias("ku"),
            (F.col("dv") * ORIENT_KEY_BASE + F.col("v")).alias("kv"),
        )
    )
    orient = (
        keyed.select(
            F.when(F.col("ku") < F.col("kv"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(F.col("ku") < F.col("kv"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
            F.greatest("ku", "kv").alias("kdst"),
        )
        # three consumers: both wedge sides + the closing-edge probe
        .localCheckpoint()
    )
    o1, o2, o3 = orient.alias("o1"), orient.alias("o2"), orient.alias("o3")
    tri = (
        o1.join(
            o2,
            (F.col("o1.src") == F.col("o2.src"))
            & (F.col("o1.kdst") < F.col("o2.kdst")),
        )
        .join(
            o3,
            (F.col("o3.src") == F.col("o1.dst"))
            & (F.col("o3.dst") == F.col("o2.dst")),
        )
        .select(
            F.col("o1.src").alias("a"),
            F.col("o1.dst").alias("b"),
            F.col("o2.dst").alias("c"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    nodes = (
        kept.select(F.col("u").alias("node"))
        .unionAll(kept.select(F.col("v").alias("node")))
        .distinct()
    )
    return nodes.join(per_node, "node", "left").select(
        F.col("node").cast("long").alias("node"),
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pagerank_nations": pagerank_nations,
        "triangle_count": triangle_count,
        "lpa_communities_t3": lpa_communities_t3,
        "bfs_hops_t3": bfs_hops_t3,
    }


LPA_ITERS = 3


def lpa_communities_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, "Near linear time algorithm to detect community structures
    in large-scale networks" — public paper), :data:`LPA_ITERS` fixed
    rounds over the undirected weighted trade graph. Per round every node
    adopts the label with the greatest incident edge weight among its
    neighbors (ties -> smallest label; isolated nodes keep their own).
    Output ``(v, community)``.

    Fixed synchronous rounds make the otherwise order-dependent algorithm
    bit-deterministic, which is what lets the DuckDB oracle replay it as
    unrolled CTEs — the pagerank_nations pattern. Scale shape: after the
    fact tables collapse to the |E|-row edge list (checkpointed, reused
    every round), each round is one labels-edges join + one (node, label)
    aggregate + one per-node top-1 window — per-task window state is one
    node's distinct neighbor labels, and round cost is independent of fact
    volume."""
    und = _undirected_collapse(_trade_edges(spark, sf_dir))
    nodes = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("v")
    )
    return lpa_frame(nodes, und).orderBy("v")


def lpa_frame(nodes: DataFrame, und: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """Frame-level LPA kernel: ``nodes(v)`` x undirected ``und(u, v, w)``
    -> ``(v, community)`` after ``iters`` synchronous rounds — see
    :func:`lpa_communities_t3`. Exposed separately so community semantics
    (weighted majority, min-label ties, isolated nodes) are testable on
    constructed graphs."""
    from pyspark.sql import Window as W

    # self-loops dropped defensively (round-14 graph/edge hardening): a
    # self-edge is not a neighbor relation — left in, it would double-vote
    # a node's own label through both union branches. The declared queries
    # already canonicalize via _undirected_collapse; the public frame API
    # now enforces the same contract instead of assuming it.
    und = und.filter(F.col("u") != F.col("v"))
    bi = und.select(
        F.col("u").alias("a"), F.col("v").alias("b"), "w"
    ).unionAll(und.select(F.col("v").alias("a"), F.col("u").alias("b"), "w"))
    # reused every round; non-eager: round 1's single consumer stage
    # materializes it (round 14)
    bi = bi.localCheckpoint(eager=False)
    labels = nodes.select("v", F.col("v").alias("lab"))
    for _ in range(iters):
        scored = (
            bi.join(labels.select(F.col("v").alias("b"), "lab"), "b")
            .groupBy(F.col("a").alias("v"), "lab")
            .agg(F.sum("w").alias("s"))
        )
        top = (
            scored.withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("v").orderBy(F.col("s").desc(), F.col("lab"))
                ),
            )
            .filter(F.col("rk") == 1)
            .select("v", F.col("lab").alias("new_lab"))
        )
        labels = (
            nodes.join(labels, "v")
            .join(top, "v", "left")
            .select("v", F.coalesce("new_lab", "lab").alias("lab"))
        )
    return labels.select(
        F.col("v").cast("long").alias("v"), F.col("lab").cast("long").alias("community")
    )


BFS_ITERS = 3
BFS_INF = 99  # unreached-within-BFS_ITERS sentinel (< int bounds, > any hop)
BFS_SOURCE_REGION = 0


def bfs_hops_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: hop distance from the region-:data:`BFS_SOURCE_REGION`
    nations to every node of the pruned trade graph, :data:`BFS_ITERS`
    synchronous min-plus rounds (nodes not reached within the round budget
    report :data:`BFS_INF`). Output ``(v, hops)``.

    The frontier-relaxation form every Pregel-style engine runs: per round
    ``dist'(v) = min(dist(v), min over neighbors u of dist(u) + 1)`` — one
    labels-edges join + one min-aggregate per round over the checkpointed
    |E|-row bidirected edge list, round cost independent of fact volume
    (the same shape as :func:`lpa_frame` with min-plus in place of
    weighted-majority). Fixed rounds keep it bit-deterministic and make the
    DuckDB oracle an unrolled-CTE replay."""
    kept = _kept_undirected(spark, sf_dir)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    seeds = nation.select(
        F.col("n_nationkey").alias("v"),
        F.when(F.col("n_regionkey") == BFS_SOURCE_REGION, F.lit(0))
        .otherwise(F.lit(BFS_INF))
        .cast("long")
        .alias("d"),
    )
    return bfs_frame(seeds, kept).orderBy("v")


def bfs_frame(seeds: DataFrame, und: DataFrame, iters: int = BFS_ITERS) -> DataFrame:
    """Frame-level min-plus BFS kernel: ``seeds(v, d)`` (0 for sources,
    :data:`BFS_INF` otherwise) x undirected ``und(u, v)`` -> ``(v, hops)``
    after ``iters`` synchronous rounds — see :func:`bfs_hops_t3`. Exposed
    separately so the relaxation semantics (multi-source min, round budget,
    unreached sentinel) are testable on constructed graphs."""
    # self-loop rows dropped defensively (a self-edge relaxes d(v) to
    # d(v)+1 — a no-op under min, but the frame API enforces the
    # _undirected_collapse contract rather than assuming it; round-14)
    und = und.filter(F.col("u") != F.col("v"))
    bi = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
        # reused every round; non-eager: round 1's single consumer stage
        # materializes it (round 14)
    ).localCheckpoint(eager=False)
    dist = seeds
    for _ in range(iters):
        relaxed = (
            bi.join(dist.select(F.col("v").alias("b"), "d"), "b")
            .groupBy(F.col("a").alias("v"))
            .agg(F.min(F.col("d") + 1).alias("nd"))
        )
        dist = (
            dist.join(relaxed, "v", "left")
            .select(
                "v",
                F.least(F.col("d"), F.coalesce("nd", F.lit(BFS_INF)))
                .cast("long")
                .alias("d"),
            )
        )
    return dist.select(
        F.col("v").cast("long").alias("v"), F.col("d").alias("hops")
    )


def _lpa_round(prev: str, i: int) -> str:
    return f"""
            s{i} AS (
                SELECT e.a AS v, p.lab, SUM(e.w) AS s
                FROM biedges e JOIN {prev} p ON p.v = e.b
                GROUP BY e.a, p.lab
            ), t{i} AS (
                SELECT v, lab FROM (
                    SELECT v, lab,
                           ROW_NUMBER() OVER (PARTITION BY v ORDER BY s DESC, lab) AS rk
                    FROM s{i}
                ) WHERE rk = 1
            ), l{i + 1} AS (
                SELECT n.v, COALESCE(t.lab, p.lab) AS lab
                FROM nodes n
                JOIN {prev} p ON p.v = n.v
                LEFT JOIN t{i} t ON t.v = n.v
            )"""


_DUCK_KEPT = f"""pairs AS (
                SELECT LEAST(c.c_nationkey, s.s_nationkey) AS u,
                       GREATEST(c.c_nationkey, s.s_nationkey) AS v,
                       CAST(COUNT(*) AS BIGINT) AS w
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                WHERE c.c_nationkey <> s.s_nationkey
                GROUP BY 1, 2
            ), stats AS (
                SELECT COUNT(*) AS n_pairs, SUM(w) AS total_w FROM pairs
            ), kept AS (
                SELECT u, v FROM pairs, stats
                WHERE 100 * n_pairs * w > {TRIANGLE_W_PCT} * total_w
            )"""


def _bfs_round(i: int) -> str:
    return f"""
            b{i} AS (
                SELECT e.a AS v, MIN(p.d + 1) AS nd
                FROM biedges e JOIN d{i} p ON p.v = e.b
                GROUP BY e.a
            ), d{i + 1} AS (
                SELECT p.v, LEAST(p.d, COALESCE(b.nd, {BFS_INF})) AS d
                FROM d{i} p LEFT JOIN b{i} b ON b.v = p.v
            )"""


def _t3_oracles() -> dict[str, str]:
    bfs_rounds = ",".join(_bfs_round(i) for i in range(BFS_ITERS))
    bfs_sql = f"""
            WITH {_DUCK_KEPT}, biedges AS (
                SELECT u AS a, v AS b FROM kept
                UNION ALL
                SELECT v AS a, u AS b FROM kept
            ), d0 AS (
                SELECT n_nationkey AS v,
                       CASE WHEN n_regionkey = {BFS_SOURCE_REGION}
                            THEN 0 ELSE {BFS_INF} END AS d
                FROM nation
            ),{bfs_rounds}
            SELECT CAST(v AS BIGINT) AS v, CAST(d AS BIGINT) AS hops
            FROM d{BFS_ITERS} ORDER BY v"""
    lpa_rounds = ",".join(_lpa_round(f"l{i}", i) for i in range(LPA_ITERS))
    lpa_sql = f"""
            WITH pairs AS (
                SELECT LEAST(c.c_nationkey, s.s_nationkey) AS u,
                       GREATEST(c.c_nationkey, s.s_nationkey) AS v,
                       CAST(COUNT(*) AS BIGINT) AS w
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                WHERE c.c_nationkey <> s.s_nationkey
                GROUP BY 1, 2
            ), biedges AS (
                SELECT u AS a, v AS b, w FROM pairs
                UNION ALL
                SELECT v AS a, u AS b, w FROM pairs
            ), nodes AS (
                SELECT n_nationkey AS v FROM nation
            ), l0 AS (
                SELECT v, v AS lab FROM nodes
            ),{lpa_rounds}
            SELECT CAST(v AS BIGINT) AS v, CAST(lab AS BIGINT) AS community
            FROM l{LPA_ITERS} ORDER BY v"""
    return {
        "bfs_hops_t3": bfs_sql,
        "lpa_communities_t3": lpa_sql,
        "triangle_count": f"""
            WITH {_DUCK_KEPT}, deg AS (
                SELECT node, COUNT(*) AS deg
                FROM (SELECT u AS node FROM kept UNION ALL SELECT v FROM kept)
                GROUP BY node
            ), keyed AS (
                SELECT u, v,
                       du.deg * {ORIENT_KEY_BASE} + u AS ku,
                       dv.deg * {ORIENT_KEY_BASE} + v AS kv
                FROM kept
                JOIN deg du ON du.node = u
                JOIN deg dv ON dv.node = v
            ), orient AS (
                SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
                       CASE WHEN ku < kv THEN v ELSE u END AS dst,
                       GREATEST(ku, kv) AS kdst
                FROM keyed
            ), tri AS (
                SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
                FROM orient o1
                JOIN orient o2 ON o1.src = o2.src AND o1.kdst < o2.kdst
                JOIN orient o3 ON o3.src = o1.dst AND o3.dst = o2.dst
            ), pn AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
                FROM (SELECT a AS node FROM tri
                      UNION ALL SELECT b FROM tri
                      UNION ALL SELECT c FROM tri)
                GROUP BY node
            ), nodes AS (
                SELECT u AS node FROM kept UNION SELECT v AS node FROM kept
            )
            SELECT CAST(n.node AS BIGINT) AS node,
                   CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles
            FROM nodes n LEFT JOIN pn ON pn.node = n.node
            ORDER BY node
        """,
    }


def _iter_sql(prev: str, this: str) -> str:
    return f"""
            {this} AS (
                SELECT n.v,
                       CAST({{base}} + COALESCE(SUM(((p.r * {DAMP_NUM}) // {DAMP_DEN}) * e.w // e.out_w), 0) AS BIGINT) AS r
                FROM nodes n
                LEFT JOIN (wedges e JOIN {prev} p ON e.src = p.v) ON e.dst = n.v
                GROUP BY n.v)"""


def oracles() -> dict[str, str]:
    chain = ",".join(_iter_sql(f"r{i}", f"r{i + 1}") for i in range(PAGERANK_ITERS))
    sql = f"""
            WITH pairs AS (
                SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                       CAST(COUNT(*) AS BIGINT) AS w
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                GROUP BY 1, 2),
            nodes AS (SELECT n_nationkey AS v FROM nation),
            outw AS (SELECT src, SUM(w) AS out_w FROM pairs GROUP BY src),
            wedges AS (SELECT p.src, p.dst, p.w, o.out_w FROM pairs p JOIN outw o ON p.src = o.src),
            nn AS (SELECT COUNT(*) AS n FROM nodes),
            r0 AS (SELECT v, CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),{chain}
            SELECT v, r AS rank_ppb FROM r{PAGERANK_ITERS} ORDER BY v"""
    # the per-iteration damping base needs N; spell it as a scalar subquery
    sql = sql.replace("{base}", "(150000000 // (SELECT n FROM nn))")
    return {"pagerank_nations": sql, **_t3_oracles()}
