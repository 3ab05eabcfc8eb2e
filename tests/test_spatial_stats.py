"""Getis-Ord Gi* hotspot scores (operators/spatial_stats.py).

Independent per-tile Python replica of the same formula over hand-built
rasters; neighborhood-counting exactness, degeneracy NULLs, and the
no-antimeridian-wrap convention.
"""

from __future__ import annotations

import math

from openstreetmapio_jl_spark.operators import spatial_stats as S


def _key(x, y, z=6):
    return z * (1 << 58) + x * (1 << 29) + y


def _tiles(spark, rows, z=6):
    return spark.createDataFrame(
        [(_key(x, y, z), n) for x, y, n in rows], "tile long, n long"
    )


def _replica(rows):
    """Per-tile Gi* computed independently (dict-based, no Spark)."""
    counts = {(x, y): n for x, y, n in rows}
    nt = len(counts)
    sx = sum(counts.values())
    sxx = sum(v * v for v in counts.values())
    xbar = sx / nt
    s2 = sxx / nt - xbar * xbar
    out = {}
    for (x, y), n in counts.items():
        neigh = [
            counts[(x + dx, y + dy)]
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (x + dx, y + dy) in counts
        ]
        w = len(neigh)
        ws = sum(neigh)
        if nt > 1 and s2 > 0 and (nt * w - w * w) > 0:
            z = (ws - xbar * w) / (
                math.sqrt(s2) * math.sqrt((nt * w - w * w) / (nt - 1.0))
            )
            out[(x, y)] = (n, w, ws, round(z, 6))
        else:
            out[(x, y)] = (n, w, ws, None)
    return out


def _run(spark, rows):
    got = {}
    for r in S.gi_star(_tiles(spark, rows)).collect():
        x = (r.tile >> 29) & ((1 << 29) - 1)
        y = r.tile & ((1 << 29) - 1)
        got[(x, y)] = (
            r.n,
            r.w,
            r.neigh_sum,
            None if r.gi_z is None else float(r.gi_z),
        )
    return got


def test_matches_independent_replica(spark):
    # a hot 2x2 block, a lukewarm neighbor, and far-away cold singles
    rows = [
        (10, 10, 50),
        (10, 11, 40),
        (11, 10, 45),
        (11, 11, 60),
        (12, 10, 5),
        (30, 30, 1),
        (40, 5, 2),
        (45, 45, 1),
    ]
    got, want = _run(spark, rows), _replica(rows)
    assert set(got) == set(want)
    for k in want:
        gn, gw, gws, gz = got[k]
        wn, ww, wws, wz = want[k]
        assert (gn, gw, gws) == (wn, ww, wws), k
        assert gz == wz or abs(gz - wz) < 1e-6, (k, gz, wz)
    # the hot block's interior tiles must score higher than the cold singles
    assert got[(10, 10)][3] > got[(30, 30)][3]


def test_neighborhood_includes_self_and_counts_only_observed(spark):
    rows = [(10, 10, 3), (10, 11, 4), (20, 20, 5)]
    got = _run(spark, rows)
    assert got[(10, 10)][1] == 2 and got[(10, 10)][2] == 7  # self + (10,11)
    assert got[(20, 20)][1] == 1 and got[(20, 20)][2] == 5  # self only


def test_no_antimeridian_wrap(spark):
    # x=0 and x=2^z-1 are geographic neighbors but NOT tile-space neighbors
    z = 6
    rows = [(0, 10, 5), ((1 << z) - 1, 10, 7)]
    got = _run(spark, rows)
    assert got[(0, 10)][1] == 1 and got[((1 << z) - 1, 10)][1] == 1


def test_degenerate_cases_null(spark):
    # zero variance (all equal counts) -> NULL z everywhere
    rows = [(10, 10, 3), (20, 20, 3), (30, 30, 3)]
    assert all(v[3] is None for v in _run(spark, rows).values())
    # single tile -> n_tiles == 1 -> NULL
    assert _run(spark, [(10, 10, 7)])[(10, 10)][3] is None
    # whole universe in one neighborhood (w == n) -> NULL
    rows = [(10, 10, 1), (10, 11, 9)]
    assert all(v[3] is None for v in _run(spark, rows).values())


def test_jvm_only_plan(spark):
    plan = (
        S.gi_star(_tiles(spark, [(10, 10, 3), (10, 11, 4)]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


# ---------------------------------------------------------------------------
# IDW interpolation (operators/knn.py) — Shepard weighting over the kNN path
# ---------------------------------------------------------------------------
from decimal import Decimal

from openstreetmapio_jl_spark.operators import knn as K


def _pts_df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _idw_replica(nn_rows, values, power=2, eps=1.0, dp=6):
    """Python replica of the documented arithmetic: integer-meter quantize,
    scaled weights, per-term Decimal rounding, exact Decimal sums."""
    by_q = {}
    for r in nn_rows:
        dm = round(r.dist_m)  # python round = banker's; near-.5 not present
        d = float(dm) + eps
        w = 1e12 / (d ** power if power != 2 else d * d)
        v = values[r.neighbor_id]
        by_q.setdefault(r.query_id, []).append(
            (
                Decimal(str(round(w, dp))),
                Decimal(str(round(w * v, dp))),
            )
        )
    out = {}
    for q, terms in by_q.items():
        sw = sum(t[0] for t in terms)
        swv = sum(t[1] for t in terms)
        out[q] = (len(terms), round(float(swv) / float(sw), dp))
    return out


def test_idw_matches_replica(spark):
    queries = _pts_df(
        spark,
        [("q1", 50.0, 8.0), ("q2", 50.01, 8.02)],
        "query_id string, lat double, lon double",
    )
    corpus = _pts_df(
        spark,
        [
            (1, 50.001, 8.001, 100.0),
            (2, 50.005, 8.01, 200.0),
            (3, 50.02, 8.03, 50.0),
            (4, 52.0, 10.0, 999.0),  # far — never in top-3 of either query
        ],
        "id long, lat double, lon double, v double",
    )
    nn = K.knn_join(queries, corpus, 3, zoom=12, max_rounds=5).collect()
    want = _idw_replica(nn, {1: 100.0, 2: 200.0, 3: 50.0, 4: 999.0})
    got = {
        r.query_id: (r.n_neighbors, float(r.est))
        for r in K.idw_interpolate(
            queries, corpus, value_col="v"
        ).collect()
    }
    assert set(got) == set(want)
    for q in want:
        assert got[q][0] == want[q][0]
        assert abs(got[q][1] - want[q][1]) <= 1e-6, (q, got[q], want[q])


def test_idw_coincident_point_dominates(spark):
    # a corpus point exactly at the query: weight S/1 dwarfs everything ->
    # estimate pulled overwhelmingly to its value
    queries = _pts_df(
        spark, [("q", 50.0, 8.0)], "query_id string, lat double, lon double"
    )
    corpus = _pts_df(
        spark,
        [(1, 50.0, 8.0, 42.0), (2, 50.01, 8.01, 1000.0), (3, 50.02, 8.02, 1000.0)],
        "id long, lat double, lon double, v double",
    )
    out = K.idw_interpolate(queries, corpus, value_col="v").collect()
    assert len(out) == 1 and abs(float(out[0].est) - 42.0) < 0.01


def test_idw_validation(spark):
    import pytest as _pt

    df = _pts_df(
        spark, [("q", 50.0, 8.0)], "query_id string, lat double, lon double"
    )
    c = _pts_df(
        spark, [(1, 50.0, 8.0, 1.0)], "id long, lat double, lon double, v double"
    )
    with _pt.raises(ValueError, match="power"):
        K.idw_interpolate(df, c, value_col="v", power=0)
    with _pt.raises(ValueError, match="power"):
        K.idw_interpolate(df, c, value_col="v", power=2.5)
    with _pt.raises(ValueError, match="eps_m"):
        K.idw_interpolate(df, c, value_col="v", eps_m=0.0)


# ---------------------------------------------------------------------------
# bearing_deg_col (functions/geo.py) — spherical forward azimuth
# ---------------------------------------------------------------------------
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions import geo


def _bearings(spark, rows):
    df = spark.createDataFrame(
        rows, "lat1 double, lon1 double, lat2 double, lon2 double"
    )
    b = geo.bearing_deg_col(
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
    )
    folded = ((b % 180.0) + 180.0) % 180.0
    return [
        (r[0], r[1]) for r in df.select(b.alias("b"), folded.alias("f")).collect()
    ]


def test_bearing_cardinal_directions(spark):
    out = _bearings(
        spark,
        [
            (0.0, 0.0, 1.0, 0.0),   # due north
            (0.0, 0.0, 0.0, 1.0),   # due east (on the equator)
            (1.0, 0.0, 0.0, 0.0),   # due south
            (0.0, 1.0, 0.0, 0.0),   # due west
        ],
    )
    import pytest as _pt

    assert out[0][0] == _pt.approx(0.0, abs=1e-9)
    assert out[1][0] == _pt.approx(90.0, abs=1e-9)
    assert out[2][0] == _pt.approx(180.0, abs=1e-9)
    assert out[3][0] == _pt.approx(-90.0, abs=1e-9)
    # undirected fold: north/south -> 0, east/west -> 90
    assert out[0][1] == _pt.approx(0.0, abs=1e-9)
    assert out[2][1] == _pt.approx(0.0, abs=1e-9)
    assert out[1][1] == _pt.approx(90.0, abs=1e-9)
    assert out[3][1] == _pt.approx(90.0, abs=1e-9)


def test_bearing_fold_is_direction_independent(spark):
    # any segment and its reverse fold to the same undirected orientation
    import random

    rng = random.Random(42)
    segs = []
    for _ in range(20):
        lat, lon = rng.uniform(-60, 60), rng.uniform(-170, 170)
        # street-scale segments (≤ ~0.05°): the spherical azimuth is locally
        # constant, so segment and reverse fold to the same orientation —
        # the regime the street-bearing histogram operates in (long great
        # circles change azimuth along the path; that is geometry, not a bug)
        segs.append(
            (lat, lon, lat + rng.uniform(-0.05, 0.05), lon + rng.uniform(-0.05, 0.05))
        )
    fwd = _bearings(spark, segs)
    rev = _bearings(spark, [(c, d, a, b) for a, b, c, d in segs])
    for (_, ff), (_, fr) in zip(fwd, rev):
        diff = abs(ff - fr)
        assert min(diff, 180.0 - diff) < 0.1, (ff, fr)


# ---------------------------------------------------------------------------
# polygon centroid + perimeter (functions/geo.py)
# ---------------------------------------------------------------------------
def _edges_df(spark, rings):
    """rings: list of [(lat, lon), ...] open rings -> (id, edges, min_lat, min_lon)."""
    rows = []
    for i, ring in enumerate(rings):
        edges = []
        for j in range(len(ring)):
            y1, x1 = ring[j]
            y2, x2 = ring[(j + 1) % len(ring)]
            edges.append((y1, x1, y2, x2))
        rows.append(
            (i, edges, min(p[0] for p in ring), min(p[1] for p in ring))
        )
    return spark.createDataFrame(
        rows,
        "id long, edges array<struct<y1 double, x1 double, y2 double, x2 double>>,"
        " min_lat double, min_lon double",
    )


def test_centroid_of_square_and_winding_independence(spark):
    import pytest as _pt

    sq_ccw = [(10.0, 20.0), (10.0, 21.0), (11.0, 21.0), (11.0, 20.0)]
    sq_cw = list(reversed(sq_ccw))
    df = _edges_df(spark, [sq_ccw, sq_cw])
    clat, clon = geo.polygon_centroid_cols(
        F.col("edges"), F.col("min_lat"), F.col("min_lon")
    )
    out = {r.id: (r.la, r.lo) for r in df.select("id", clat.alias("la"), clon.alias("lo")).collect()}
    for i in (0, 1):
        assert out[i][0] == _pt.approx(10.5, abs=1e-9)
        assert out[i][1] == _pt.approx(20.5, abs=1e-9)


def test_centroid_degenerate_is_null(spark):
    line = [(10.0, 20.0), (11.0, 21.0)]  # zero-area "ring"
    df = _edges_df(spark, [line])
    clat, _ = geo.polygon_centroid_cols(
        F.col("edges"), F.col("min_lat"), F.col("min_lon")
    )
    assert df.select(clat.alias("c")).collect()[0].c is None


def test_centroid_weighted_not_vertex_mean(spark):
    # an L-shape: the area centroid differs from the vertex average — a
    # vertex-mean shortcut would fail this
    import pytest as _pt

    l_shape = [
        (0.0, 0.0), (0.0, 2.0), (1.0, 2.0), (1.0, 1.0), (2.0, 1.0), (2.0, 0.0)
    ]
    df = _edges_df(spark, [l_shape])
    clat, clon = geo.polygon_centroid_cols(
        F.col("edges"), F.col("min_lat"), F.col("min_lon")
    )
    r = df.select(clat.alias("la"), clon.alias("lo")).collect()[0]
    # exact planar centroid of this L (area 3): (5/6, 5/6) in (lat, lon)
    assert r.la == _pt.approx(5 / 6, abs=1e-9)
    assert r.lo == _pt.approx(5 / 6, abs=1e-9)
    vm = (sum(p[0] for p in l_shape) / 6, sum(p[1] for p in l_shape) / 6)
    assert abs(r.la - vm[0]) > 0.1 or abs(r.lo - vm[1]) > 0.1


def test_perimeter_matches_haversine_sum(spark):
    import pytest as _pt

    from openstreetmapio_jl_spark.functions.geo import haversine_m

    sq = [(10.0, 20.0), (10.0, 21.0), (11.0, 21.0), (11.0, 20.0)]
    df = _edges_df(spark, [sq])
    got = df.select(
        geo.polygon_perimeter_m_col(F.col("edges")).alias("p")
    ).collect()[0].p
    want = sum(
        float(haversine_m(*sq[j], *sq[(j + 1) % 4]))
        for j in range(4)
    )
    assert got == _pt.approx(want, rel=1e-12)
