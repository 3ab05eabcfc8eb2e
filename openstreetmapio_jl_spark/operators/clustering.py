"""Grid-density spatial clustering of geocoded pages (cell-binned DBSCAN).

The spatial-clustering pillar next to containment (point-in-polygon),
proximity (kNN), and rasterization (tiler): "where are the dense regions of
geo-mentioning pages?" answered WITHOUT any pairwise point comparison —
at 10^12 documents an exact DBSCAN's eps-ball neighbor search is a
self-join no cluster can pay, so this is the classic grid relaxation
(Gunawan's cell-based DBSCAN family): bin points into an eps-sized lat/lon
grid, call a cell CORE when it holds ≥ ``min_pts`` points, and merge
8-adjacent core cells into clusters via connected components.

Scale shape (everything after binning is core-cells-sized, never
points-sized):

1. binning = ONE map-side-combined groupBy on the integer cell key — the
   only pass over the points;
2. adjacency = each core cell explodes into its 8 neighbor keys and
   equi-joins back against the core-cell set (≤ 8 edges per core cell, a
   key join, never a distance cross-join);
3. cluster labels: the core-cell graph is microscopic next to the points,
   so under a bounded probe (``limit(threshold+1).collect()``) labels come
   from a driver-side union-find in one job; past the threshold the
   existing :func:`operators.graph.connected_components` runs distributed
   (min-label propagation or two-phase large-star/small-star for
   adversarial chain-shaped clusters) — identical labels either way;
4. per-cluster stats re-aggregate the per-cell partial sums — the points
   are never touched again.

Determinism across engines (the registry/oracle framing): the cell index is
``floor(coord / eps)`` — one IEEE division + floor on identical doubles,
bit-equal in any engine; per-cell coordinate sums are kept as exact BIGINT
(coordinates scaled by 1e7 and rounded once — fixture/web geo-URIs carry ≤7
decimals, RFC 5870), so sums are order-independent integer addition and the
centroid is one double division + round at the very end.

Deliberate deviation from textbook DBSCAN, documented: clustering is at CELL
granularity — no per-point eps-ball test, no border-point reassignment;
points in non-core cells are noise. Deterministic by construction (no seed,
no iteration order); cluster id = MIN cell key in the component.

The reference has no clustering surface; its closest analog is the manual
"dense region" bbox filters its callbacks hard-code
(``/root/reference/src/load_pbf.jl`` tag/область filtering) — this derives
the regions from the data instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions.exact import exact_double
from openstreetmapio_jl_spark.operators.graph import connected_components

GRID_OFF = 1 << 21  # shifts floor indexes non-negative (|ix| ≤ 180/eps)
GRID_SPAN = 1 << 22  # row stride of the composite key; key < 2^44 — bigint-safe

# the 8-neighborhood as a literal array of (dx, dy) key deltas
_NEIGHBOR_DELTAS = [
    dx * GRID_SPAN + dy for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
]


def cell_key_col(lat, lon, eps_deg: float):
    """Composite BIGINT cell key for an eps-degree grid: one IEEE division +
    floor per axis (engine-portable on equal doubles), offset non-negative,
    packed as ``(ix+OFF)*SPAN + (iy+OFF)``."""
    ix = F.floor(lon / F.lit(float(eps_deg))).cast("long")
    iy = F.floor(lat / F.lit(float(eps_deg))).cast("long")
    return (ix + GRID_OFF) * GRID_SPAN + (iy + GRID_OFF)


def _check_eps(eps_deg: float) -> None:
    if not 1e-4 <= eps_deg <= 90.0:
        raise ValueError(f"eps_deg must be in [1e-4, 90], got {eps_deg}")


def grid_core_cells(
    points: DataFrame,
    *,
    eps_deg: float = 1.0,
    min_pts: int = 3,
) -> DataFrame:
    """→ ``(cell, n_pts, sum_lat7, sum_lon7)`` for CORE cells only (≥
    ``min_pts`` points). The one points-sized pass: a map-side-combined
    groupBy on the integer key; coordinate sums are exact BIGINT at 1e7
    scaling so they are order-independent and cross-engine bit-equal.
    NULL/out-of-range coordinates are dropped (not a location)."""
    _check_eps(eps_deg)
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    lat, lon = F.col("lat"), F.col("lon")
    pts = points.filter(
        lat.isNotNull()
        & lon.isNotNull()
        & lat.between(-90.0, 90.0)
        & lon.between(-180.0, 180.0)
    )
    return (
        pts.select(
            cell_key_col(lat, lon, eps_deg).alias("cell"),
            F.round(lat * 1e7, 0).cast("long").alias("lat7"),
            F.round(lon * 1e7, 0).cast("long").alias("lon7"),
        )
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_pts"),
            F.sum("lat7").alias("sum_lat7"),
            F.sum("lon7").alias("sum_lon7"),
        )
        .filter(F.col("n_pts") >= min_pts)
    )


LOCAL_CC_THRESHOLD = 200_000  # core cells; ~1.6 MB of longs on the driver


def _local_labels(spark, keys) -> DataFrame:
    """Driver-side labeling of a BOUNDED core-cell graph: neighbor edges via
    vectorized sorted-membership lookups (9 searchsorted passes, no Python
    per-cell loop), then union-find with min-root convention so every find
    lands on the component MINIMUM — identical labels to the distributed
    path by construction (pinned by test)."""
    import numpy as np

    arr = np.sort(np.asarray(keys, dtype=np.int64))
    parent = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for d in _NEIGHBOR_DELTAS:
        cand = arr + d
        pos = np.searchsorted(arr, cand)
        pos[pos == len(arr)] = 0
        hit = arr[pos] == cand
        for a, b in zip(arr[hit].tolist(), cand[hit].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:  # min root wins -> labels are component minima
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
    rows = [(int(k), find(int(k))) for k in arr.tolist()]
    return spark.createDataFrame(rows, "cell long, cluster long")


def core_cell_labels(
    core: DataFrame,
    *,
    algorithm: str = "auto",
    local_threshold: int = LOCAL_CC_THRESHOLD,
) -> DataFrame:
    """→ ``(cell, cluster)``: every core cell labeled with the MIN cell key
    reachable through 8-adjacency.

    ``algorithm="auto"`` (default): the core-cell graph is orders of
    magnitude smaller than the points by construction (that is the point of
    binning — planet-wide 0.75° land cells top out around 10^5), so the
    keys are fetched with ONE bounded ``limit(threshold+1).collect()`` —
    never an unbounded collect: if ≤ ``local_threshold`` rows come back the
    limit did not truncate (the rows ARE the complete key set) and the
    labels are computed driver-side with union-find over vectorized
    neighbor lookups, replacing 10+ blocking iterative rounds with one job
    (the broadcast-join-style bounded hybrid). If the probe overflows —
    finer grids at web scale — the collected rows are discarded and it
    falls back to the distributed path untouched.

    ``algorithm="propagation"|"two-phase"``: force the distributed
    :func:`operators.graph.connected_components` (adjacency = 8-delta
    explode + self-equi-join, ≤8 edges per core cell; isolated cells come
    back as their own singleton clusters). All paths return identical
    labels (pinned by test)."""
    if algorithm == "auto":
        probe = core.select("cell").limit(local_threshold + 1).collect()
        if len(probe) <= local_threshold:
            return _local_labels(core.sparkSession, [r.cell for r in probe])
        algorithm = "two-phase"
    cells = core.select("cell")
    edges = (
        cells.select(
            F.col("cell").alias("cell_a"),
            F.explode(F.array([F.lit(d) for d in _NEIGHBOR_DELTAS])).alias("d"),
        )
        .select("cell_a", (F.col("cell_a") + F.col("d")).alias("cell_b"))
        .join(cells.select(F.col("cell").alias("cell_b")), "cell_b")
    )
    labeled = connected_components(
        edges, src="cell_a", dst="cell_b", algorithm=algorithm
    ).select(F.col("id").alias("cell"), F.col("component").alias("cluster"))
    singletons = cells.join(labeled.select("cell"), "cell", "left_anti").select(
        "cell", F.col("cell").alias("cluster")
    )
    return labeled.unionByName(singletons)


def grid_clusters(
    points: DataFrame,
    *,
    eps_deg: float = 1.0,
    min_pts: int = 3,
    algorithm: str = "auto",
) -> DataFrame:
    """→ one row per cluster: ``(cluster_id, n_cells, n_points, avg_lat,
    avg_lon)`` — dense regions of the input points, cluster id = min member
    cell key. Centroids divide the exact BIGINT partial sums once at the end
    (``round(sum/1e7/n, 6)`` — the only float ops after binning), so output
    is deterministic under any partitioning and any engine."""
    core = grid_core_cells(
        points, eps_deg=eps_deg, min_pts=min_pts
    )
    labels = core_cell_labels(core, algorithm=algorithm)
    return (
        core.join(labels, "cell")
        .groupBy(F.col("cluster").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n_pts").alias("n_points"),
            F.sum("sum_lat7").alias("slat7"),
            F.sum("sum_lon7").alias("slon7"),
        )
        .select(
            "cluster_id",
            F.col("n_cells").cast("int").alias("n_cells"),
            F.col("n_points").cast("long").alias("n_points"),
            exact_double(
                F.col("slat7").cast("double") / 1e7 / F.col("n_points"), 6
            ).alias("avg_lat"),
            exact_double(
                F.col("slon7").cast("double") / 1e7 / F.col("n_points"), 6
            ).alias("avg_lon"),
        )
    )


def cluster_points(
    points: DataFrame,
    *,
    eps_deg: float = 1.0,
    min_pts: int = 3,
) -> DataFrame:
    """→ the input rows + a ``cluster`` column (min cell key of the dense
    region, NULL = noise: the point's cell is not core). The per-point cost
    is the cell-key expression + one key join against the (core-cells-sized)
    label table — the points are scanned once."""
    core = grid_core_cells(
        points, eps_deg=eps_deg, min_pts=min_pts
    )
    labels = core_cell_labels(core)
    keyed = points.withColumn(
        "cell", cell_key_col(F.col("lat"), F.col("lon"), eps_deg)
    )
    return keyed.join(labels, "cell", "left").drop("cell")
