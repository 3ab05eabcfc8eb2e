"""XYZ raster↔vector tiler.

Vector→raster: points binned into z/x/y tiles, counts aggregated per tile (sparse
representation — only occupied tiles carry rows, so shuffle volume stays
proportional to them).

Raster→vector: tiles back to bbox rings compatible with the PIP join's
polygon format.

Pyramid rollup: child→parent tile aggregation is pure integer arithmetic
(x>>1, y>>1), a map-side-combinable groupBy per level — the classic tile-pyramid
build, shuffle volume halves every level.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions import geo
from openstreetmapio_jl_spark.functions.cells import (
    mercator_unit_cols,
    tile_xy_cols,
    xyz_cols,
)
from openstreetmapio_jl_spark.functions.geo import M2_PER_DEG2

# Web-Mercator ground resolution at z0 for a 256px tile: 2*pi*R_earth / 256.
WEBMERC_M_PER_PX_Z0 = 156543.03392804097


def tile_tolerance_m2(z: int, *, px_tol: float = 1.0, ref_lat: float = 0.0) -> float:
    """Zoom-derived simplification tolerance (m²) for :func:`simplify_lines`:
    the area of a ``px_tol``-sided SQUARE of rendered pixels at zoom ``z``
    (equivalently a triangle of base ``2·px_tol`` and height ``px_tol``) —
    vertices whose neighbor triangle fits inside roughly a pixel cell move
    the line by less than a pixel and are invisible at that zoom. ``ref_lat``
    scales the Web-Mercator ground resolution (cos shrink toward the
    poles)."""
    m_per_px = WEBMERC_M_PER_PX_Z0 * math.cos(math.radians(ref_lat)) / (1 << z)
    return (px_tol * m_per_px) ** 2


def tile_counts(points: DataFrame, z: int, *, lat_col="lat", lon_col="lon") -> DataFrame:
    """Tile-level aggregation (no pixels): (z, x, y, n)."""
    x, y = xyz_cols(F.col(lat_col), F.col(lon_col), z)
    return (
        points.select(F.lit(z).alias("z"), x.alias("x"), y.alias("y"))
        .groupBy("z", "x", "y")
        .count()
        .withColumnRenamed("count", "n")
    )


def pyramid_rollup(tile_df: DataFrame, from_z: int, to_z: int) -> DataFrame:
    """Aggregate tile counts up the pyramid: returns UNION of all levels
    [to_z, from_z]. Each step is a map-side-combinable groupBy on (x>>1, y>>1)."""
    assert to_z <= from_z
    levels = [tile_df]
    cur = tile_df
    for z in range(from_z, to_z, -1):
        cur = (
            cur.select(
                F.lit(z - 1).alias("z"),
                (F.col("x") / 2).cast("long").alias("x"),
                (F.col("y") / 2).cast("long").alias("y"),
                "n",
            )
            .groupBy("z", "x", "y")
            .agg(F.sum("n").alias("n"))
        )
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def vectorize_tiles(tile_df: DataFrame) -> DataFrame:
    """Raster→vector: each (z,x,y) becomes a closed bbox ring in the polygon
    format consumed by the PIP join (edges + bbox columns)."""
    n = F.pow(F.lit(2.0), F.col("z"))
    west = F.col("x") / n * 360.0 - 180.0
    east = (F.col("x") + 1) / n * 360.0 - 180.0
    north = F.degrees(F.atan(F.sinh(F.lit(math.pi) * (1 - 2 * F.col("y") / n))))
    south = F.degrees(F.atan(F.sinh(F.lit(math.pi) * (1 - 2 * (F.col("y") + 1) / n))))
    ring = F.array(
        F.struct(south.alias("lat"), west.alias("lon")),
        F.struct(south.alias("lat"), east.alias("lon")),
        F.struct(north.alias("lat"), east.alias("lon")),
        F.struct(north.alias("lat"), west.alias("lon")),
        F.struct(south.alias("lat"), west.alias("lon")),
    )
    return tile_df.withColumn("ring", ring)


def simplify_lines(
    df: DataFrame,
    *,
    tolerance_m2: float,
    ref_lat: float,
    lats_col: str = "lats",
    lons_col: str = "lons",
) -> DataFrame:
    """Single-pass effective-area line simplification (the Visvalingam–Whyatt
    criterion applied once, not iterated): an interior vertex survives iff the
    triangle it forms with its two ORIGINAL neighbors has area ≥
    ``tolerance_m2``; endpoints always survive. The zoom-driven generalization
    step of a vector-tile pipeline — pair with :func:`tile_tolerance_m2` so
    vertices invisible at the target zoom drop before tile encoding. One pass
    (vs iterating to a fixpoint) keeps the operator a pure per-row array
    expression: whole-stage codegen, zero shuffle, zero Python — at planet
    scale it composes with the way-assembly join without adding a stage.

    Adds ``s_lats``/``s_lons`` (the simplified polyline), ``n_pts`` and
    ``n_kept``. Rows with < 3 vertices pass through unchanged.

    DETERMINISM ACROSS ENGINES: the keep/drop comparison is a discrete
    decision, so it must not involve per-row libm calls (JVM ``cos`` and a SQL
    oracle's libm can differ in the last ulp). The triangle area is therefore
    computed in degree² space — multiplies and subtracts of parquet-exact
    doubles, bit-identical in any IEEE-754 engine — and compared against a
    threshold constant derived ONCE in Python from ``tolerance_m2`` via the
    equal-area scaling at ``ref_lat`` (the same small-extent approximation as
    :func:`functions.geo.polygon_area_m2_col`, with the bbox-center latitude
    frozen to a constant; a planet-scale caller bands ways by latitude and
    calls once per band)."""
    # |cross|/2 * M2_PER_DEG2 * cos(ref_lat) >= tol  ⇔  |cross| >= tol_cross
    tol_cross = 2.0 * tolerance_m2 / (M2_PER_DEG2 * math.cos(math.radians(ref_lat)))
    la, lo = F.col(lats_col), F.col(lons_col)
    n = F.size(la)

    def _cross(i):
        return (
            (F.element_at(lo, i) - F.element_at(lo, i - 1))
            * (F.element_at(la, i + 1) - F.element_at(la, i - 1))
            - (F.element_at(lo, i + 1) - F.element_at(lo, i - 1))
            * (F.element_at(la, i) - F.element_at(la, i - 1))
        )

    keep = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == 1) | (i == n) | (F.abs(_cross(i)) >= F.lit(tol_cross)),
    )
    # sequence(1, 0) would DESCEND (Spark defaults the step to -1): guard
    # empty arrays before the sequence is ever built
    keep = F.when(n >= 1, keep).otherwise(F.lit(None).cast("array<int>"))
    return (
        df.withColumn("_keep", keep)
        .withColumn("n_pts", n)
        .withColumn(
            "s_lats",
            F.when(n >= 3, F.transform("_keep", lambda i: F.element_at(la, i))).otherwise(la),
        )
        .withColumn(
            "s_lons",
            F.when(n >= 3, F.transform("_keep", lambda i: F.element_at(lo, i))).otherwise(lo),
        )
        .withColumn("n_kept", F.size("s_lats"))
        .drop("_keep")
    )


def simplify_rings(
    df: DataFrame,
    *,
    tolerance_m2: float,
    ref_lat: float,
    lats_col: str = "lats",
    lons_col: str = "lons",
    min_ring_pts: int = 4,
) -> DataFrame:
    """Closed-ring variant of :func:`simplify_lines` for polygon
    generalization: the input arrays carry the CLOSED vertex sequence (first
    == last); the shared keep/drop expression runs unchanged — the duplicated
    anchor vertex occupies both endpoint slots, so closure is preserved by
    construction and every other vertex is interior. Rings where fewer than
    ``min_ring_pts`` vertices survive (3 distinct + closure by default) fall
    back to their ORIGINAL vertex sequence — a ring below that floor is
    degenerate for both rendering and point-in-polygon, and dropping
    geometry silently is worse than under-simplifying it. Same execution
    shape as the line variant: one array expression, codegen, zero shuffle,
    zero Python. The anchor is wherever the way happened to start — the
    standard single-anchor simplification quirk; decisions elsewhere are
    anchor-independent because original neighbors are used."""
    out = simplify_lines(
        df,
        tolerance_m2=tolerance_m2,
        ref_lat=ref_lat,
        lats_col=lats_col,
        lons_col=lons_col,
    )
    degenerate = F.col("n_kept") < min_ring_pts
    return (
        out.withColumn(
            "s_lats", F.when(degenerate, F.col(lats_col)).otherwise(F.col("s_lats"))
        )
        .withColumn(
            "s_lons", F.when(degenerate, F.col(lons_col)).otherwise(F.col("s_lons"))
        )
        .withColumn("n_kept", F.size("s_lats"))
    )


CLIP_EPS = 1e-9  # shared keep guard: Spark filter + oracle SQL embed this value
_CLIP_RESERVED = ("seg", "x", "y", "seg_m", "clip_frac", "_seg")
_CLIP_PARAM_COLS = ("t0", "t1", "in_ax", "in_ay", "in_bx", "in_by")
_ENCODE_COLS = ("qax", "qay", "qbx", "qby")
ENCODE_EXTENT = 4096  # shared MVT grid extent: encoder default + oracle SQL


def clip_lines_to_tiles(
    df: DataFrame,
    z: int,
    *,
    lats_col: str = "lats",
    lons_col: str = "lons",
    eps: float = CLIP_EPS,
    keep_params: bool = False,
) -> DataFrame:
    """Clip polylines to XYZ tile boundaries — the tile-cut step between
    generalization (:func:`simplify_lines`) and per-tile encoding/analytics.
    Each consecutive-vertex segment is exploded into the tiles its bbox spans
    (tile-index ranges in Web-Mercator tile units — usually 1-2 per axis) and
    clipped against each tile's unit square with the Liang–Barsky parametric
    test: pure +,-,*,/ and comparisons, whole-stage codegen, no Python, no
    shuffle. Output: one row per (input row, segment, tile) with ``seg``,
    ``x``, ``y``, ``seg_m`` (full geodesic segment length) and ``clip_frac``
    (the parametric in-tile fraction, > ``eps``); in-tile length is
    ``seg_m * clip_frac`` — the parametric fraction of the geodesic length,
    the standard planar approximation for tile-local analytics (segments are
    short relative to tile extent at rendering zooms).

    ANTIMERIDIAN: a segment whose endpoints sit more than half the world
    apart in tile-u (|u2-u1| > n/2) crosses lon ±180 the short way; the
    smaller endpoint is shifted by +n, the clip runs in the shifted frame,
    and emitted columns wrap back via ``% n`` — without this the x-explode
    would fan a 2 km border road into every tile column on the row and
    smear its length world-wide. Axis-parallel segments use ±1e18 sentinels
    instead of dividing by zero — safe because a zero-extent axis's
    candidate tiles all contain the segment on that axis by construction.
    Zero-length segments (consecutive duplicate vertices — common OSM
    editing artifacts) are excluded: they carry no length and would inflate
    per-tile segment counts. Rows with < 2 vertices contribute nothing.
    Input columns named like the outputs (seg, x, y, seg_m, clip_frac) are
    rejected up front — renaming them silently would corrupt downstream
    references. With ``keep_params=True`` the output additionally carries
    the clip parameters ``t0``/``t1`` and the unit-square in-tile endpoint
    coordinates ``in_ax``/``in_ay``/``in_bx``/``in_by`` (shifted-frame u/m
    minus the tile index, each in [0, 1]) for downstream encoding
    (:func:`encode_tile_lines`)."""
    reserved = _CLIP_RESERVED + (_CLIP_PARAM_COLS if keep_params else ())
    clash = [c for c in df.columns if c in reserved]
    if clash:
        raise ValueError(
            f"clip_lines_to_tiles: input columns {clash} collide with "
            f"reserved output names {reserved}; rename them first"
        )
    n = float(1 << z)
    nint = 1 << z
    nmax2 = 2 * nint - 1  # shifted-frame x indices live in [0, 2n)
    nmax = nint - 1
    la, lo = F.col(lats_col), F.col(lons_col)
    segs = (
        df.filter(F.size(la) >= 2)
        .select(
            "*", F.explode(F.sequence(F.lit(1), F.size(la) - 1)).alias("_seg")
        )
        .select(
            "*",
            F.element_at(la, F.col("_seg")).alias("_lat1"),
            F.element_at(lo, F.col("_seg")).alias("_lon1"),
            F.element_at(la, F.col("_seg") + 1).alias("_lat2"),
            F.element_at(lo, F.col("_seg") + 1).alias("_lon2"),
        )
        .drop(lats_col, lons_col)
    )
    u1r, m1 = mercator_unit_cols(F.col("_lat1"), F.col("_lon1"), z)
    u2r, m2 = mercator_unit_cols(F.col("_lat2"), F.col("_lon2"), z)
    # antimeridian: shift the smaller u endpoint up a world when the raw gap
    # exceeds half the row — the segment then clips in a continuous frame
    u1 = F.when(u2r - u1r > F.lit(n / 2.0), u1r + F.lit(n)).otherwise(u1r)
    u2 = F.when(u1r - u2r > F.lit(n / 2.0), u2r + F.lit(n)).otherwise(u2r)
    segs = segs.select(
        "*",
        u1.alias("_u1"),
        u2.alias("_u2"),
        m1.alias("_m1"),
        m2.alias("_m2"),
        geo.haversine_m_col(
            F.col("_lat1"), F.col("_lon1"), F.col("_lat2"), F.col("_lon2")
        ).alias("seg_m"),  # once per SEGMENT — before the tile explodes copy it
    )

    def _lo_tile(a, b, hi):
        return F.greatest(
            F.least(F.floor(F.least(a, b)).cast("long"), F.lit(hi)), F.lit(0)
        )

    def _hi_tile(a, b, hi):
        return F.greatest(
            F.least(F.floor(F.greatest(a, b)).cast("long"), F.lit(hi)), F.lit(0)
        )

    segs = segs.select(
        "*",
        F.explode(
            F.sequence(
                _lo_tile(F.col("_u1"), F.col("_u2"), nmax2),
                _hi_tile(F.col("_u1"), F.col("_u2"), nmax2),
            )
        ).alias("_xi"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                _lo_tile(F.col("_m1"), F.col("_m2"), nmax),
                _hi_tile(F.col("_m1"), F.col("_m2"), nmax),
            )
        ).alias("y"),
    )
    du = F.col("_u2") - F.col("_u1")
    dm = F.col("_m2") - F.col("_m1")
    x0 = F.col("_xi").cast("double")
    y0 = F.col("y").cast("double")
    big = 1e18
    txa = (x0 - F.col("_u1")) / du
    txb = (x0 + F.lit(1.0) - F.col("_u1")) / du
    txmin = F.when(du == 0, F.lit(-big)).otherwise(F.least(txa, txb))
    txmax = F.when(du == 0, F.lit(big)).otherwise(F.greatest(txa, txb))
    tya = (y0 - F.col("_m1")) / dm
    tyb = (y0 + F.lit(1.0) - F.col("_m1")) / dm
    tymin = F.when(dm == 0, F.lit(-big)).otherwise(F.least(tya, tyb))
    tymax = F.when(dm == 0, F.lit(big)).otherwise(F.greatest(tya, tyb))
    t0 = F.greatest(F.lit(0.0), txmin, tymin)
    t1 = F.least(F.lit(1.0), txmax, tymax)
    extra = []
    if keep_params:
        extra = [
            t0.alias("t0"),
            t1.alias("t1"),
            (F.col("_u1") + t0 * du - x0).alias("in_ax"),
            (F.col("_m1") + t0 * dm - y0).alias("in_ay"),
            (F.col("_u1") + t1 * du - x0).alias("in_bx"),
            (F.col("_m1") + t1 * dm - y0).alias("in_by"),
        ]
    return (
        segs.select("*", (t1 - t0).alias("clip_frac"), *extra)
        .filter(
            (F.col("clip_frac") > eps)
            & ((du != 0) | (dm != 0))  # drop zero-length editing artifacts
        )
        .select("*", (F.col("_xi") % F.lit(nint)).alias("x"))
        .drop("_xi", "_u1", "_u2", "_m1", "_m2", "_lat1", "_lon1", "_lat2", "_lon2")
        .withColumnRenamed("_seg", "seg")
    )


def encode_tile_lines(clipped: DataFrame, *, extent: int = ENCODE_EXTENT) -> DataFrame:
    """Quantize clipped in-tile segment endpoints to integer tile-local
    coordinates — the final encoding step of the tiler pipeline (assemble →
    simplify → clip → ENCODE), the Mapbox-Vector-Tile-style grid snap.
    Input is :func:`clip_lines_to_tiles` output with ``keep_params=True``;
    adds ``qax``/``qay``/``qbx``/``qby`` in [0, extent-1] (floor of the
    unit-square coordinate times extent, clamped — an endpoint at exactly
    the far tile edge lands on the last cell). Pure arithmetic + floor:
    codegen, no Python, no shuffle."""
    missing = [c for c in _CLIP_PARAM_COLS[2:] if c not in clipped.columns]
    if missing:
        raise ValueError(
            f"encode_tile_lines: missing {missing} "
            "(pass keep_params=True to clip_lines_to_tiles)"
        )
    clash = [c for c in clipped.columns if c in _ENCODE_COLS]
    if clash:
        raise ValueError(
            f"encode_tile_lines: input columns {clash} collide with "
            f"reserved output names {_ENCODE_COLS}; rename them first"
        )

    def _q(c: str):
        return F.greatest(
            F.least(
                F.floor(F.col(c) * F.lit(float(extent))).cast("long"),
                F.lit(extent - 1),
            ),
            F.lit(0),
        )

    return clipped.select(
        "*",
        _q("in_ax").alias("qax"),
        _q("in_ay").alias("qay"),
        _q("in_bx").alias("qbx"),
        _q("in_by").alias("qby"),
    )


def tile_center_cols(tile, z: int):
    """(center_lat, center_lon) of a packed XYZ tile key — the inverse
    Web-Mercator transform at the tile midpoint (the standard rasterization
    center-point convention). ``sinh`` is expanded to ``(e^t - e^-t)/2``
    EXPLICITLY so the DuckDB oracle (which has no sinh) can run the
    byte-identical expression."""
    n = float(1 << z)
    x, y = (c.cast("double") for c in tile_xy_cols(tile, z))
    clon = (x + 0.5) / n * 360.0 - 180.0
    tcol = F.lit(math.pi) * (1.0 - 2.0 * (y + 0.5) / n)
    clat = F.degrees(F.atan((F.exp(tcol) - F.exp(-tcol)) / 2.0))
    return clat, clon


def zonal_stats(
    polygons: DataFrame,
    tile_counts: DataFrame,
    *,
    zoom: int,
    id_col: str = "id",
) -> DataFrame:
    """Zonal statistics — the raster→vector inverse of :func:`tile_counts`:
    per polygon, aggregate a tile raster over the tiles whose CENTER falls
    inside the polygon (the standard center-point rasterization rule).

    Shape at scale: the polygon explodes into its bbox tile cover (the PIP
    join's cover primitive — bounded by bbox area, never all tiles), covers
    equi-join the raster on the tile key (only OBSERVED raster tiles carry
    rows — empty ocean tiles cost nothing), and the center test is the
    certified codegen ray cast. One explode, one key join, one groupBy.

    ``polygons``: (id, edges, min_lat, max_lat, min_lon, max_lon) — the
    prepared polygon dimension. ``tile_counts``: (tile, n) at ``zoom``.
    Returns (id, n_tiles, total) for polygons containing ≥1 observed tile
    center."""
    from openstreetmapio_jl_spark.operators.spatial_join import tile_cover_bbox

    cover = polygons.select(
        F.col(id_col).alias("polygon_id"),
        "edges",
        F.explode(
            tile_cover_bbox(
                F.col("min_lat"),
                F.col("max_lat"),
                F.col("min_lon"),
                F.col("max_lon"),
                zoom,
            )
        ).alias("tile"),
    )
    joined = cover.join(tile_counts, "tile")
    clat, clon = tile_center_cols(F.col("tile"), zoom)
    inside = geo.pip_crossings_col(clat, clon, F.col("edges"))
    return (
        joined.filter(inside)
        .groupBy("polygon_id")
        .agg(
            F.count("*").cast("int").alias("n_tiles"),
            F.sum("n").cast("long").alias("total"),
        )
    )
