"""Geodesy + polygon geometry: haversine, bbox, ray-cast point-in-polygon.

The reference's only distance operator is the Overpass ``around:radius`` query it
delegates to the server (``/root/reference/src/load_overpass.jl:55-60``); the radius→
bbox trig in its tests (``test/test_load_overpass.jl:54-62``) is the pattern for
:func:`radius_bbox`. PIP/polygon semantics are new engine surface (the reference
stores multipolygon members raw; SURVEY.md §7 "hard parts").

Each function has a NumPy form (kernels/tests) and a Column form (JVM, no Python).
Column forms built on array higher-order functions (``aggregate``,
``transform``) are ``CodegenFallback``: Spark interprets them per row, and the
operator that holds one runs outside whole-stage codegen.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_008.8


# ---------------------------------------------------------------------------
# distance
# ---------------------------------------------------------------------------

def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0, 1)))


def haversine_m_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    rlat1, rlon1, rlat2, rlon2 = (F.radians(c) for c in (lat1, lon1, lat2, lon2))
    h = F.pow(F.sin((rlat2 - rlat1) / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(
        F.sin((rlon2 - rlon1) / 2), 2
    )
    return F.lit(2 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def haversine_m_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Identical formula as ANSI SQL (DuckDB oracle twin)."""
    return (
        f"2 * {EARTH_RADIUS_M} * asin(sqrt(least("
        f"pow(sin((radians({lat2}) - radians({lat1}))/2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin((radians({lon2}) - radians({lon1}))/2), 2), 1.0)))"
    )


def polyline_length_m_col(lats: Column, lons: Column) -> Column:
    """Geodesic polyline length (meters): consecutive vertices connected by
    haversine segments, folded left-to-right in array order. Pure array
    expression (interpreted HOFs) — no window, no Python. Arrays with < 2
    vertices report 0.0 (the guard also keeps ``sequence(1, 0)`` from being
    built — Spark defaults the step to -1, so that range would DESCEND)."""
    seg = F.transform(
        F.sequence(F.lit(1), F.size(lats) - 1),
        lambda i: haversine_m_col(
            F.element_at(lats, i),
            F.element_at(lons, i),
            F.element_at(lats, i + 1),
            F.element_at(lons, i + 1),
        ),
    )
    total = F.aggregate(seg, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(F.size(lats) >= 2, total).otherwise(F.lit(0.0))


def radius_bbox(lat: float, lon: float, radius_m: float) -> tuple[float, float, float, float]:
    """(bottom, left, top, right) bbox covering a radius around a point — the
    reference-test trig (``test/test_load_overpass.jl:54-62``)."""
    dlat = math.degrees(radius_m / EARTH_RADIUS_M)
    dlon = math.degrees(radius_m / (EARTH_RADIUS_M * math.cos(math.radians(lat))))
    return lat - dlat, lon - dlon, lat + dlat, lon + dlon


# ---------------------------------------------------------------------------
# point-in-polygon (ray casting, even-odd rule; lon=x, lat=y)
# ---------------------------------------------------------------------------

def point_in_ring(lat: float, lon: float, ring: np.ndarray) -> bool:
    """Scalar reference implementation: ring is (n,2) array of (lat, lon), closed or
    open (closure implied). Even-odd crossing rule; boundary behavior follows the
    standard half-open convention."""
    y, x = lat, lon
    ys = ring[:, 0]
    xs = ring[:, 1]
    n = len(ring)
    inside = False
    j = n - 1
    for i in range(n):
        yi, xi = ys[i], xs[i]
        yj, xj = ys[j], xs[j]
        if (yi > y) != (yj > y) and x < (xj - xi) * (y - yi) / (yj - yi) + xi:
            inside = not inside
        j = i
    return inside


def points_in_ring(lats: np.ndarray, lons: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized over points (one polygon): the kernel used by pandas-UDF PIP."""
    y = np.asarray(lats, dtype=np.float64)[:, None]
    x = np.asarray(lons, dtype=np.float64)[:, None]
    yi = ring[None, :, 0]
    xi = ring[None, :, 1]
    yj = np.roll(ring[:, 0], 1)[None, :]
    xj = np.roll(ring[:, 1], 1)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        crosses = ((yi > y) != (yj > y)) & (
            x < (xj - xi) * (y - yi) / (yj - yi) + xi
        )
    return (crosses.sum(axis=1) % 2).astype(bool)


def pip_crossings_col(lat: Column, lon: Column, edges: Column) -> Column:
    """Pure-Catalyst ray cast: ``edges`` is ARRAY<STRUCT<y1,x1,y2,x2>> (lat=y,
    lon=x). Returns BOOLEAN inside. No Python in the join hot path, but no
    generated code either: ``aggregate`` is ``CodegenFallback``, so the
    expression is interpreted per row and the operator that holds it drops
    out of whole-stage codegen.

    Measured alternatives (36.5M candidate pairs, sf4 fixture, local[8]) — this
    HOF: ~20 s; a division-free reformulation: ~25 s (interpreted cost tracks
    expression-node count, not the division); a broadcast-polygon +
    NumPy-vectorized mapInPandas kernel: ~100 s (Arrow transfer of every pair
    plus a Python loop over tiny per-polygon groups dominates). The JVM-side
    HOF is the fastest formulation available without custom codegen."""
    crossing = lambda e: (  # noqa: E731
        ((e["y1"] > lat) != (e["y2"] > lat))
        & (
            lon
            < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"]
        )
    )
    count = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc + F.when(crossing(e), F.lit(1)).otherwise(F.lit(0)),
    )
    return count % 2 == 1


def ring_to_edges_col(ring: Column) -> Column:
    """ARRAY<STRUCT<lat,lon>> ring → ARRAY<STRUCT<y1,x1,y2,x2>> edge list
    (implicit closure: last→first edge included via modular indexing)."""
    n = F.size(ring)
    idx = F.sequence(F.lit(0), n - 1)
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(ring, i + 1)["lat"].alias("y1"),
            F.element_at(ring, i + 1)["lon"].alias("x1"),
            F.element_at(ring, (i + 1) % n + 1)["lat"].alias("y2"),
            F.element_at(ring, (i + 1) % n + 1)["lon"].alias("x2"),
        ),
    )


def lon_bounds_cols(lon_intervals: Column) -> tuple[Column, Column]:
    """(min_lon, max_lon) over an ARRAY<STRUCT<mn,mx>> of per-ring lon
    intervals, under the WRAP CONVENTION: a bbox that straddles the
    antimeridian is stored with ``min_lon > max_lon`` (min = west bound on the
    positive side, max = east bound on the negative side) — the single
    convention the tile cover and the candidate lon-filter both key off, so
    they can never disagree.

    Wrap detection respects the engine's PLANAR ray-cast semantics: a single
    ring's lon extent is always the connected interval [min, max] (its edges
    interpolate raw lon), so one ring can never wrap — only a SET of disjoint
    rings (a far-pair multipolygon hugging the antimeridian from both sides)
    has a gap the complement cover may exploit. Rings whose whole interval is
    negative are shifted +360; if the shifted union span is strictly tighter
    than the plain union span (> 180°), the bbox is stored wrapped. A genuinely
    wide single ring (vertices at ±100, interior crossing lon 0) keeps its
    plain bbox — the old raw-span>180° heuristic covered its complement and
    silently lost interior hits."""
    mins = F.transform(lon_intervals, lambda iv: iv["mn"])
    maxs = F.transform(lon_intervals, lambda iv: iv["mx"])
    amin, amax = F.array_min(mins), F.array_max(maxs)
    shift = lambda iv, f: F.when(iv["mx"] < 0, iv[f] + 360.0).otherwise(iv[f])  # noqa: E731
    smin = F.array_min(F.transform(lon_intervals, lambda iv: shift(iv, "mn")))
    smax = F.array_max(F.transform(lon_intervals, lambda iv: shift(iv, "mx")))
    wrap = ((amax - amin) > F.lit(180.0)) & ((smax - smin) < (amax - amin))
    west = F.when(smin > 180.0, smin - 360.0).otherwise(smin)
    east = F.when(smax > 180.0, smax - 360.0).otherwise(smax)
    return (
        F.when(wrap, west).otherwise(amin),
        F.when(wrap, east).otherwise(amax),
    )


def ring_lon_interval_col(ring: Column) -> Column:
    """STRUCT<mn,mx> — a ring's planar lon extent (input to
    :func:`lon_bounds_cols`)."""
    lons = F.transform(ring, lambda p: p["lon"])
    return F.struct(
        F.array_min(lons).alias("mn"), F.array_max(lons).alias("mx")
    )


def lon_in_bbox_col(lon: Column, min_lon: Column, max_lon: Column) -> Column:
    """Wrap-aware bbox lon test (twin of :func:`lon_bounds_cols`): plain
    between for ``min <= max``, the two-arc OR for wrapped bboxes."""
    return F.when(min_lon <= max_lon, lon.between(min_lon, max_lon)).otherwise(
        (lon >= min_lon) | (lon <= max_lon)
    )


def bbox_cols_of_ring(ring: Column) -> list[Column]:
    """min/max lat/lon of a ring — polygon bbox for cell-cover computation.
    Plain min <= max always: a SINGLE planar ring can never wrap (its edges
    interpolate raw lon, so its extent is the connected [min, max] interval);
    the wrapped convention only arises for multi-ring sets
    (:func:`lon_bounds_cols`, used by multipolygon assembly)."""
    lats = F.transform(ring, lambda p: p["lat"])
    lons = F.transform(ring, lambda p: p["lon"])
    return [
        F.array_min(lats).alias("min_lat"),
        F.array_max(lats).alias("max_lat"),
        F.array_min(lons).alias("min_lon"),
        F.array_max(lons).alias("max_lon"),
    ]


# m² per planar degree² at the equator: (R·π/180)²
M2_PER_DEG2 = (EARTH_RADIUS_M * math.pi / 180.0) ** 2


def polygon_area_m2_col(
    edges: Column, min_lat: Column, max_lat: Column, min_lon: Column
) -> Column:
    """Polygon area (m²) from a closed edge array — shoelace over vertices
    SHIFTED to the bbox corner (raw lon·lat products lose ~11 digits to
    cancellation; shifted terms are O(extent²) so float64 keeps them exact),
    scaled by cos(mean_lat): the standard small-polygon equal-area
    approximation. Winding-direction independent (absolute value). Pure
    column math (an interpreted ``aggregate``) — no Python."""
    shoelace2 = F.aggregate(
        edges,
        F.lit(0.0),
        lambda a, e: a
        + (
            (e["x1"] - min_lon) * (e["y2"] - min_lat)
            - (e["x2"] - min_lon) * (e["y1"] - min_lat)
        ),
    )
    return (
        F.abs(shoelace2)
        / 2.0
        * F.lit(M2_PER_DEG2)
        * F.cos(F.radians((min_lat + max_lat) / 2.0))
    )


def bearing_deg_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Initial great-circle bearing (degrees in (-180, 180], atan2
    convention) from point 1 to point 2 — the standard spherical forward
    azimuth. Pure column math; callers fold to undirected [0, 180) with
    ``((b % 180) + 180) % 180`` when segment direction is meaningless
    (street orientation)."""
    dl = F.radians(lon2) - F.radians(lon1)
    p1, p2 = F.radians(lat1), F.radians(lat2)
    return F.degrees(
        F.atan2(
            F.sin(dl) * F.cos(p2),
            F.cos(p1) * F.sin(p2) - F.sin(p1) * F.cos(p2) * F.cos(dl),
        )
    )


def bearing_deg_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Identical formula as ANSI SQL (DuckDB oracle twin)."""
    return (
        f"degrees(atan2("
        f"sin(radians({lon2}) - radians({lon1})) * cos(radians({lat2})), "
        f"cos(radians({lat1})) * sin(radians({lat2})) "
        f"- sin(radians({lat1})) * cos(radians({lat2})) "
        f"* cos(radians({lon2}) - radians({lon1}))))"
    )


def polygon_centroid_cols(
    edges: Column, min_lat: Column, min_lon: Column
) -> tuple[Column, Column]:
    """Polygon centroid (lat, lon) from a closed edge array — the standard
    planar shoelace centroid (Σ(v_i+v_{i+1})·cross_i / 3·Σcross_i) over
    vertices SHIFTED to the bbox corner (the :func:`polygon_area_m2_col`
    precision discipline: raw lon·lat products lose ~11 digits to
    cancellation), shifted back at the end. Winding-direction independent
    (the signed area cancels out of the ratio). Degenerate polygons
    (zero signed area) yield NULL. Pure column math (interpreted
    ``aggregate`` HOFs) — no Python."""
    cross = lambda e: (  # noqa: E731 — local expression builder
        (e["x1"] - min_lon) * (e["y2"] - min_lat)
        - (e["x2"] - min_lon) * (e["y1"] - min_lat)
    )
    a2 = F.aggregate(edges, F.lit(0.0), lambda a, e: a + cross(e))
    sx = F.aggregate(
        edges,
        F.lit(0.0),
        lambda a, e: a + ((e["x1"] - min_lon) + (e["x2"] - min_lon)) * cross(e),
    )
    sy = F.aggregate(
        edges,
        F.lit(0.0),
        lambda a, e: a + ((e["y1"] - min_lat) + (e["y2"] - min_lat)) * cross(e),
    )
    guard = lambda c: F.when(a2 != 0.0, c)  # noqa: E731
    return (
        guard(min_lat + sy / (3.0 * a2)),
        guard(min_lon + sx / (3.0 * a2)),
    )


def polygon_perimeter_m_col(edges: Column) -> Column:
    """Geodesic ring perimeter (meters): haversine per edge, folded in array
    order — the closed-ring sibling of :func:`polyline_length_m_col`."""
    return F.aggregate(
        edges,
        F.lit(0.0),
        lambda a, e: a + haversine_m_col(e["y1"], e["x1"], e["y2"], e["x2"]),
    )
