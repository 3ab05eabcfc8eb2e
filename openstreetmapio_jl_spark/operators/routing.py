"""Road-network routing: intersection contraction + bounded-round SSSP.

The reference decodes every way into its ref/coordinate sequence
(``src/load_pbf.jl:885-966``) — the raw material of OSM's canonical analytic,
routing — but ships no graph layer. This module builds it Spark-first:

1. :func:`contract_road_graph` CONTRACTS degree-2 chains away — the first
   preprocessing step of every production router. The hop count that bounds
   iterative shortest-path rounds is the INTERSECTION diameter, not the raw
   vertex count: on the test fixture contraction turns ~1,200 ref hops into
   an 8-round graph, and on a planet extract it is the difference between
   thousands of synchronous rounds and tens.
2. :func:`sssp_distances` runs single-source shortest paths as synchronous
   Bellman-Ford rounds of (equi-join + min-groupBy) — the same bounded-round
   discipline as ``operators/graph.py``'s connected components, with a
   ``localCheckpoint`` per round cutting lineage and a fail-loud cap.
3. :func:`network_distances` seeds the same relaxation from a vertex SET —
   distance to the nearest seed (accessibility/isochrone analytics); the
   round bound only shrinks vs single-source.

Scale shape: contraction is explode / window / groupBy keyed by way id (one
shuffle family) plus one degree groupBy keyed by ref; each SSSP round is one
equi-join of the |V|-row distance table against the contracted edge list
keyed by vertex id + one min-groupBy on the same key (co-partitioned, AQE
folds them). Every per-round reduction is a set-min — order-insensitive, so
the fixpoint is deterministic and engine-independent. Planet-scale
point-to-point routing needs hierarchical preprocessing (contraction
hierarchies / hub labels) LAYERED ON this chain contraction; the bounded
``max_rounds`` contract keeps that cost model explicit instead of silently
spinning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geo
from .graph import CheckpointHandle


def contract_road_graph(
    ways: DataFrame,
    nodes: DataFrame,
) -> DataFrame:
    """→ undirected weighted edge list ``(src, dst, w_m)`` of the contracted
    road graph: vertices are way ENDPOINTS and JUNCTIONS (refs occurring
    >= 2 times across all exploded way positions — shared BETWEEN ways or
    repeated WITHIN a self-intersecting way); every degree-2 chain between
    two vertices collapses to one edge whose weight is the summed haversine
    length of its segments.

    Normalization: ``src < dst`` (both directions collapse), parallel edges
    (two ways joining the same vertex pair, or the two arcs of a closed ring)
    keep the MINIMUM weight — the only one shortest paths can use. Self-loops
    (a closed way with no internal intersection) are dropped. Refs missing
    from ``nodes`` are skipped and the surviving refs connect in sequence
    order (the same skip-missing contract as ``way_lengths_m``).

    All builtin column math: posexplode, one degree groupBy on ref, per-way
    windows (running vertex count = chain-segment id), one groupBy per chain
    segment, one lead window pairing consecutive vertices. No Python, no
    driver action.
    """
    e = ways.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("pos", "ref")
    )
    # TOTAL occurrence count, not distinct-way count: a ref repeated WITHIN
    # one way (self-intersecting / lollipop way) is a junction too — counting
    # ways would contract straight through the loop, inflating the a-b edge
    # by the loop length and dropping the loop's interior from the graph
    deg = e.groupBy("ref").agg(F.count("*").alias("n_occ"))
    pts = e.join(
        nodes.select(F.col("id").alias("ref"), "lat", "lon"), "ref"
    ).join(deg, "ref")
    wall = Window.partitionBy("way_id")
    wsec = Window.partitionBy("way_id").orderBy("pos")
    m = pts.select(
        "way_id",
        "pos",
        "ref",
        geo.haversine_m_col(
            F.col("lat"),
            F.col("lon"),
            F.lead("lat").over(wsec),
            F.lead("lon").over(wsec),
        ).alias("seg_m"),
        (
            (F.col("pos") == F.min("pos").over(wall))
            | (F.col("pos") == F.max("pos").over(wall))
            | (F.col("n_occ") >= 2)
        ).alias("is_v"),
    )
    # running INCLUSIVE vertex count: the rows of chain segment g run from
    # vertex g's row through the row before vertex g+1's row, so summing
    # seg_m per (way_id, grp) yields exactly the chain length between the
    # two vertices (the last row's seg_m is NULL and sum() skips it)
    seg = (
        m.withColumn("grp", F.sum(F.col("is_v").cast("int")).over(wsec))
        .groupBy("way_id", "grp")
        .agg(F.min_by("ref", "pos").alias("vref"), F.sum("seg_m").alias("w_m"))
    )
    wg = Window.partitionBy("way_id").orderBy("grp")
    ed = seg.select(
        "vref", F.lead("vref").over(wg).alias("nxt"), "w_m"
    ).filter(F.col("nxt").isNotNull() & (F.col("nxt") != F.col("vref")))
    return (
        ed.groupBy(
            F.least("vref", "nxt").alias("src"),
            F.greatest("vref", "nxt").alias("dst"),
        )
        .agg(F.min("w_m").alias("w_m"))
    )


def _already_materialized(df: DataFrame) -> bool:
    """True when the frame IS a scan of a checkpointed-or-persisted RDD — a
    caller-side ``localCheckpoint`` (or cache) we must not copy a second
    time. A bare ``LogicalRDD`` root is NOT enough: frames built from
    arbitrary RDD lineage also root there, and skipping their checkpoint
    would reintroduce the per-round double-recompute the checkpoint
    prevents."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        rdd = plan.rdd()
        lvl = rdd.getStorageLevel()
        return bool(rdd.isCheckpointed() or lvl.useMemory() or lvl.useDisk())
    except Exception:
        return False


def _bidirectional(edges: DataFrame, handles: list | None) -> DataFrame:
    # checkpoint the EDGE LIST, not the doubled union: Catalyst computes each
    # branch of a union independently (no common-subplan reuse), so unioning
    # the raw plan would run the whole contraction pipeline twice — and
    # checkpointing the union would store the edge data twice. One
    # materialized copy; the per-round join scans it twice, which is cheap.
    # A caller that already checkpointed (to share the materialized edges
    # with its own seed build) is not copied again.
    if not _already_materialized(edges):
        edges = edges.localCheckpoint(eager=True)
        if handles is not None:
            handles.append(CheckpointHandle(edges))
    return edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), "w_m"
    ).unionByName(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"), "w_m")
    )


def _relax_to_fixpoint(
    bidir: DataFrame, dist: DataFrame, max_rounds: int, handles: list | None
) -> DataFrame:
    """Synchronous Bellman-Ford rounds over ``bidir`` (u, v, w_m) from the
    seed table ``dist`` (node, dist_m) until the per-vertex min table stops
    changing; raises past ``max_rounds`` (see the public wrappers' contract).
    """
    dist = dist.localCheckpoint(eager=True)
    if handles is not None:
        handles.append(CheckpointHandle(dist))

    def _fingerprint(df: DataFrame):
        # order-independent (count, sum-of-row-hashes) — a single map-side-
        # combined agg job, NO shuffle join. Sound because a converged round
        # recomputes the identical min over the identical set, so every
        # (node, dist_m) is bit-equal round-over-round at the fixpoint;
        # while any distance still improves, its row hash changes (modulo a
        # 2^-64 xxhash64 collision). A join-based check would shuffle the
        # full |V| distance table once more per round just to test it.
        row = df.agg(
            F.count("*").alias("n"),
            # decimal(38,0) accumulator: long-sum overflows under ANSI mode
            # (|xxhash64| < 1e19, so 38 digits hold any realistic |V|)
            F.sum(F.xxhash64("node", "dist_m").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row.n, row.h

    fp = _fingerprint(dist)
    for _ in range(max_rounds):
        relax = (
            dist.join(bidir, dist["node"] == bidir["u"])
            .select(F.col("v").alias("node"), (F.col("dist_m") + F.col("w_m")).alias("dist_m"))
        )
        nd = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("dist_m").alias("dist_m"))
            .localCheckpoint(eager=True)
        )
        if handles is not None:
            handles.append(CheckpointHandle(nd))
        nfp = _fingerprint(nd)
        if nfp == fp:
            return nd
        dist, fp = nd, nfp
    raise ValueError(
        f"distances still improving after max_rounds={max_rounds} "
        "— the graph's shortest-path hop diameter exceeds the bound; contract "
        "the graph (contract_road_graph) or raise max_rounds"
    )


def sssp_distances(
    edges: DataFrame,
    *,
    source: int | None = None,
    max_rounds: int = 64,
    handles: list | None = None,
) -> DataFrame:
    """→ ``(node, dist_m)``: shortest-path distance from ``source`` to every
    REACHABLE vertex of the undirected weighted graph ``edges`` (columns
    ``src, dst, w_m``; weights must be non-negative). ``source=None`` picks
    the minimum vertex id appearing in ``edges`` — deterministic and
    computable without a driver action. Unreachable vertices are absent.

    Synchronous Bellman-Ford: each round relaxes EVERY known distance across
    every incident edge and takes the per-vertex min of (old, relaxed) — a
    pure set-min, so the per-round table (and the fixpoint) is deterministic
    regardless of partitioning or join order. Converges in (shortest-path
    hop diameter) rounds; raises ``ValueError`` if ``max_rounds`` is reached
    while distances are still improving (fail-loud, never a silently-partial
    result — run :func:`contract_road_graph` first precisely to keep this
    bound small).

    Storage contract matches ``connected_components``: per-round distance
    tables are ``localCheckpoint``-pinned; pass ``handles`` to release them
    after the result is consumed.
    """
    bidir = _bidirectional(edges, handles)
    if source is None:
        dist = bidir.agg(F.min("u").alias("node")).select(
            "node", F.lit(0.0).alias("dist_m")
        )
    else:
        dist = (
            bidir.filter(F.col("u") == F.lit(source))
            .limit(1)
            .select(F.col("u").alias("node"), F.lit(0.0).alias("dist_m"))
        )
        # an absent source yields an empty frame -> empty result, not a wrong 0
    return _relax_to_fixpoint(bidir, dist, max_rounds, handles)


def network_distances(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    handles: list | None = None,
) -> DataFrame:
    """→ ``(node, dist_m)``: network distance from every reachable vertex to
    its NEAREST seed — multi-source shortest paths, the "distance to the
    nearest X over the road network" analytic (isochrone/accessibility
    queries run this with X = hospitals, transit stops, arterial roads).

    ``seeds`` carries a ``node`` column and optionally a ``dist_m`` starting
    cost (defaults to 0.0; duplicates keep the min). Seeds absent from the
    graph's vertex set are kept at their starting cost but relax nothing —
    callers who want graph-members-only should semi-join first. Same
    synchronous relaxation, determinism, fail-loud round cap (64, the
    ``sssp_distances`` default), and
    checkpoint ``handles`` contract as :func:`sssp_distances`; the round
    bound is the max hop count from any vertex to its nearest seed, which
    multi-source seeding only ever SHRINKS vs the single-source diameter.
    """
    bidir = _bidirectional(edges, handles)
    cost = (
        F.col("dist_m").cast("double")
        if "dist_m" in seeds.columns
        else F.lit(0.0)
    )
    dist = (
        seeds.select(F.col("node"), cost.alias("dist_m"))
        .groupBy("node")
        .agg(F.min("dist_m").alias("dist_m"))
    )
    return _relax_to_fixpoint(bidir, dist, 64, handles)


PAGERANK_DAMPING = 0.85  # the classic random-surfer damping factor
# An eager localCheckpoint cut every 4 rounds (and always after the last)
# instead of every round: each un-cut round adds only one join+agg layer, so
# a depth-4 plan stays cheap to optimize while HALVING the measured wall time
# vs per-round cuts (each eager cut is a blocking Spark job; sf0.1: 2.9 s/pass
# → 1.6 s/pass).
PAGERANK_CHECKPOINT_EVERY = 4


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 12,
    handles: list | None = None,
) -> DataFrame:
    """→ ``(node, rank)``: PageRank over the undirected graph's TOPOLOGY
    (edge weights ignored — the classic random-surfer centrality; each
    undirected edge contributes both directions, so every vertex has
    out-degree ≥ 1 and the dangling-mass correction is unnecessary by
    construction). The eigenvector-style iterative pillar next to
    :func:`sssp_distances` (path metric) and the connected-components stack:
    road-network PageRank ranks junction importance — high-rank vertices are
    the arterials/interchanges traffic models weight first.

    FIXED iteration count, not a convergence test: the power iteration is
    damping-contractive, so ``iterations`` bounds the error at
    ``PAGERANK_DAMPING^iterations`` (0.85^12 ≈ 0.14 of the initial residual —
    callers wanting tighter results raise it); a fixed count also makes the
    computation exactly mirrorable by a fixed-round SQL oracle. The
    out-degree is attached to the edge list ONCE up front (``(src, dst,
    deg_src)``), so each round is exactly one equi-join + one sum-groupBy
    — not the textbook two joins (ranks⋈deg, then ⋈edges); the vertex
    count is collected once for the teleport constant (a scalar, the
    documented driver-side exception). Ranks sum to 1 every round (no
    dangling mass).

    ``PAGERANK_CHECKPOINT_EVERY`` bounds lineage depth (see its comment);
    the re-computation window on executor loss is that many rounds."""
    bidir = _bidirectional(edges, handles)
    deg = bidir.groupBy("u").agg(F.count("*").alias("deg"))
    # (src, dst, deg_src) — one widened edge list instead of a per-round
    # deg join; column names are disjoint from the rank frame's so the
    # rank⋈adj join resolves by name even on the adj-derived first round
    adj = (
        bidir.join(deg, "u")
        .select(F.col("u").alias("src"), F.col("v").alias("dst"), "deg")
        .localCheckpoint(eager=True)
    )
    if handles is not None:
        handles.append(CheckpointHandle(adj))
    vertices = adj.select(F.col("src").alias("node")).distinct()
    n_v = vertices.count()
    if n_v == 0:
        return vertices.select("node", F.lit(0.0).alias("rank"))
    teleport = (1.0 - PAGERANK_DAMPING) / n_v
    ranks = vertices.select("node", F.lit(1.0 / n_v).alias("rank"))
    for i in range(iterations):
        contrib = ranks.join(adj, F.col("node") == F.col("src")).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("deg")).alias("share"),
        )
        ranks = contrib.groupBy("node").agg(
            (F.lit(teleport) + F.lit(PAGERANK_DAMPING) * F.sum("share")).alias(
                "rank"
            )
        )
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 or i == iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
            if handles is not None:
                handles.append(CheckpointHandle(ranks))
    return ranks
