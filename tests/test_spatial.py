"""Spatial-operator contracts the oracle differential can't express directly:

- salting is a pure plan transform: identical rows at nsalt=0 and nsalt=16
  (SURVEY.md §7 "Skewed-cell salting ... differential tests at two salt factors")
- the cell-cover candidate join loses nothing: PIP output == brute-force
  cross-join ray cast
- expanding-ring kNN is exact: output == brute-force top-k with (dist, id) ties
- kNN output is invariant to input partitioning (the determinism the N-vs-4N
  checksum equality in BASELINE.md relies on)
- vendored S2/hex cell UDFs match the NumPy kernels they wrap (batch plumbing)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions import cells, geo
from openstreetmapio_jl_spark.operators import knn, spatial_join as SJ
from openstreetmapio_jl_spark.sources.pbf_source import read_pbf


@pytest.fixture(scope="module")
def geom(spark, fixture_pbf):
    b = read_pbf(spark, fixture_pbf)
    rings = SJ.assemble_polygon_rings(b.ways, b.nodes)
    polys = SJ.polygons_with_edges(rings).persist()
    nodes = b.nodes.select("id", "lat", "lon").persist()
    polys.count(), nodes.count()
    return polys, nodes


@pytest.fixture(scope="module")
def points(spark):
    # deterministic point cloud spanning the fixture's extent + the hot town
    rng = np.random.default_rng(7)
    lat = np.round(rng.uniform(54.25, 54.28, 400), 7)
    lon = np.round(rng.uniform(9.97, 10.00, 400), 7)
    pdf = pd.DataFrame(
        {"url": [f"u{i}" for i in range(400)], "lat": lat, "lon": lon}
    )
    return spark.createDataFrame(pdf).persist()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_salting_is_pure_plan_transform(geom, points):
    polys, _ = geom
    plain = SJ.point_in_polygon_join(points, polys, zoom=13, nsalt=0)
    salted = SJ.point_in_polygon_join(points, polys, zoom=13, nsalt=16)
    assert _rows(plain, ["url", "polygon_id"]) == _rows(salted, ["url", "polygon_id"])


def test_pip_cell_cover_matches_bruteforce(geom, points):
    polys, _ = geom
    fast = SJ.point_in_polygon_join(points, polys, zoom=13, nsalt=4)
    brute = (
        points.crossJoin(polys.withColumnRenamed("id", "polygon_id"))
        .filter(
            F.col("lat").between(F.col("min_lat"), F.col("max_lat"))
            & F.col("lon").between(F.col("min_lon"), F.col("max_lon"))
        )
        .filter(geo.pip_crossings_col(F.col("lat"), F.col("lon"), F.col("edges")))
    )
    assert _rows(fast, ["url", "polygon_id"]) == _rows(brute, ["url", "polygon_id"])
    assert fast.count() > 0  # non-vacuous


def test_knn_matches_bruteforce(geom, points):
    _, nodes = geom
    queries = points.limit(25).select(F.col("url").alias("query_id"), "lat", "lon")
    fast = knn.knn_join(queries, nodes, k=3, zoom=12, max_rounds=3)
    w = Window.partitionBy("query_id").orderBy("dist_m", "neighbor_id")
    brute = (
        queries.crossJoin(
            nodes.select(
                F.col("id").alias("neighbor_id"),
                F.col("lat").alias("c_lat"),
                F.col("lon").alias("c_lon"),
            )
        )
        .withColumn(
            "dist_m",
            geo.haversine_m_col(
                F.col("lat"), F.col("lon"), F.col("c_lat"), F.col("c_lon")
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    assert _rows(fast, ["query_id", "neighbor_id", "rank"]) == _rows(
        brute, ["query_id", "neighbor_id", "rank"]
    )


def test_knn_invariant_to_input_partitioning(geom, points):
    _, nodes = geom
    queries = points.limit(25).select(F.col("url").alias("query_id"), "lat", "lon")
    a = knn.knn_join(queries.repartition(1), nodes.repartition(1), k=3, zoom=12)
    b = knn.knn_join(queries.repartition(13), nodes.repartition(5), k=3, zoom=12)
    cols = ["query_id", "neighbor_id", "rank"]
    assert _rows(a, cols) == _rows(b, cols)


def test_multipolygon_holes_even_odd(spark):
    """Outer square with an inner hole: points in the hole are OUTSIDE, points in
    the annulus are inside — even-odd over the concatenated rings."""
    sq = lambda lo, hi: [  # noqa: E731
        {"lat": lo, "lon": lo},
        {"lat": lo, "lon": hi},
        {"lat": hi, "lon": hi},
        {"lat": hi, "lon": lo},
        {"lat": lo, "lon": lo},
    ]
    ring_schema = "id long, ring array<struct<lat:double, lon:double>>"
    rings = spark.createDataFrame([(10, sq(0.0, 10.0)), (11, sq(4.0, 6.0))], ring_schema)
    rels = spark.createDataFrame(
        [
            (
                1,
                [
                    {"ref": 10, "type": "way", "role": "outer"},
                    {"ref": 11, "type": "way", "role": "inner"},
                ],
                {"type": "multipolygon"},
            )
        ],
        "id long, members array<struct<ref:long, type:string, role:string>>,"
        " tags map<string,string>",
    )
    mp = SJ.assemble_multipolygons(rels, rings)
    pts = spark.createDataFrame(
        [("annulus", 2.0, 2.0), ("hole", 5.0, 5.0), ("outside", 20.0, 20.0)],
        "url string, lat double, lon double",
    )
    hits = SJ.point_in_polygon_join(pts, mp, zoom=8)
    got = {(r.url, r.polygon_id) for r in hits.select("url", "polygon_id").collect()}
    assert got == {("annulus", 1)}


def test_cell_udfs_match_numpy_kernels(spark, points):
    pdf = points.toPandas()
    lat, lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
    out = points.select(
        "url",
        cells.s2_cell_udf(12)(F.col("lat"), F.col("lon")).alias("s2"),
        cells.hex_cell_udf(9)(F.col("lat"), F.col("lon")).alias("hex"),
    ).toPandas()
    merged = pdf.merge(out, on="url")
    exp_s2 = cells.s2_cell_id(
        merged["lat"].to_numpy(), merged["lon"].to_numpy(), level=12
    )
    exp_hex = cells.hex_cell(
        merged["lat"].to_numpy(), merged["lon"].to_numpy(), res=9
    )
    assert (merged["s2"].to_numpy() == exp_s2).all()
    assert (merged["hex"].to_numpy() == exp_hex).all()


def test_geohash_matches_canonical_values(spark):
    from openstreetmapio_jl_spark.functions import cells

    pts = spark.createDataFrame(
        [(57.64911, 10.40744), (48.669, -4.329), (0.0, 0.0), (90.0, 180.0)],
        "lat double, lon double",
    )
    got = [
        r.gh
        for r in pts.select(
            cells.geohash_col(F.col("lat"), F.col("lon"), 7).alias("gh")
        ).collect()
    ]
    # first two are the classic published geohash examples
    assert got[0] == "u4pruyd"
    assert got[1] == "gbsuv7z"
    assert got[2] == "s000000"
    assert len(got[3]) == 7  # pole/antimeridian clamps, no overflow


def test_quadkey_col_matches_numpy_and_prefix_property(spark):
    import numpy as np

    from openstreetmapio_jl_spark.functions import cells

    rng = np.random.default_rng(3)
    # clamp edges: the Mercator limit itself, just past it, the poles, and
    # the antimeridian from both sides
    edge_lats = [85.05112878, -85.05112878, 85.06, -85.06, 90.0, -90.0, 0.0]
    edge_lons = [-180.0, 180.0, 10.0]
    lats = np.concatenate(
        [np.round(rng.uniform(-80, 80, 50), 6), np.repeat(edge_lats, len(edge_lons))]
    )
    lons = np.concatenate(
        [np.round(rng.uniform(-179, 179, 50), 6), np.tile(edge_lons, len(edge_lats))]
    )
    df = spark.createDataFrame(
        [(float(a), float(o)) for a, o in zip(lats, lons)], "lat double, lon double"
    )
    lat, lon = F.col("lat"), F.col("lon")
    zooms = (0, 11, 13)
    cols = []
    for z in zooms:
        key = cells.xyz_tile_key_col(lat, lon, z)
        x, y = cells.tile_xy_cols(key, z)
        cols += [key.alias(f"k{z}"), x.alias(f"x{z}"), y.alias(f"y{z}")]
    rows = df.select(
        cells.quadkey_col(lat, lon, 11).alias("q11"),
        cells.quadkey_col(lat, lon, 9).alias("q9"),
        *cols,
    ).collect()
    x11, y11 = cells.xyz_tile(lats, lons, 11)
    want11 = cells.quadkey(x11, y11, 11)
    for r, w in zip(rows, want11):
        assert r.q11 == w
        assert r.q9 == r.q11[:9]  # the hierarchical prefix property
    for z in zooms:
        xs, ys = cells.xyz_tile(lats, lons, z)
        want = [(z << 58) + (int(x) << 29) + int(y) for x, y in zip(xs, ys)]
        assert [r[f"k{z}"] for r in rows] == want
        assert [(r[f"x{z}"], r[f"y{z}"]) for r in rows] == list(
            zip(xs.tolist(), ys.tolist())
        )


def test_tile_codec_has_one_home():
    """Only ``functions/cells.py`` knows the Web-Mercator tile math and the
    packed key layout. The DuckDB-oracle SQL emitters (``_sql*`` functions in
    ``plans/entry_queries.py``) are the independent reference and exempt."""
    import ast
    import re
    from pathlib import Path

    import openstreetmapio_jl_spark

    root = Path(openstreetmapio_jl_spark.__file__).parent
    banned = re.compile(r"1\s*<<\s*(58|29)\b|F\.tan\(|(?<!\w)_tile_(row_)?of(?!\w)")
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "functions/cells.py":
            continue
        lines = path.read_text().splitlines()
        if rel == "plans/entry_queries.py":
            for node in ast.parse(path.read_text()).body:
                if isinstance(node, ast.FunctionDef) and node.name.startswith("_sql"):
                    lines[node.lineno - 1 : node.end_lineno] = [""] * (
                        node.end_lineno - node.lineno + 1
                    )
        offenders += [
            f"{rel}:{i}: {line.strip()}"
            for i, line in enumerate(lines, 1)
            if banned.search(line)
        ]
    assert not offenders, "tile math outside functions/cells.py:\n" + "\n".join(offenders)
