"""Cell-keyed spatial joins: polygon assembly, tile cover, PIP join, salting.

This is the engine's centerpiece (BASELINE.json north_star): geocoded points (web
pages) are joined against OSM polygons via a **cell-keyed equi-join** (XYZ tile keys
— Catalyst-native, SQL-expressible) with an exact ray-cast **point-in-polygon
post-filter** evaluated as a higher-order-function expression (zero Python in the
join path). The ray cast is interpreted, not compiled: ``aggregate`` is a
``CodegenFallback`` expression, so the join that carries it runs outside
whole-stage codegen.

Scale design:
- polygons carry their edge arrays; the tile-cover explode keys each polygon into
  every tile its bbox touches — candidate pairs are bounded by tile granularity;
- small polygon sides broadcast under Spark's auto threshold; planet-scale
  sides shuffle on the tile key;
- hot cells (dense urban tiles) get explicit **salting** (``nsalt=`` of
  :func:`point_in_polygon_join`) — AQE skew-split can divide a skewed
  *partition* but not a single hot *key*; salting can (SURVEY.md §4).

The reference never joins (SURVEY.md §2 Table B); its member/refs resolution
semantics (``test/test_load_pbf.jl:698-725``) define the explode→join→reassemble
pattern used by :func:`assemble_polygon_rings`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions import geo
from openstreetmapio_jl_spark.functions.cells import (
    tile_key_col,
    tile_keys_col,
    xyz_cols,
    xyz_tile_key_col,
)


# ---------------------------------------------------------------------------
# polygon assembly
# ---------------------------------------------------------------------------

def assemble_polygon_rings(ways: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """Closed ways → (id, tags, ring ARRAY<STRUCT<lat,lon>>).

    Ways with embedded LocationsOnWays positions use them directly; otherwise the
    ring is materialized by ``posexplode(refs) → join(nodes) → ordered reassembly``
    — the engine's version of the reference's refs→nodes FK resolution
    (``test/test_load_pbf.jl:698-703``).
    """
    closed = ways.filter(
        (F.size("refs") >= 4)
        & (F.element_at("refs", 1) == F.element_at("refs", -1))
    )
    with_pos = closed.filter(F.col("positions").isNotNull()).select(
        "id", "tags", F.col("positions").alias("ring")
    )
    without = closed.filter(F.col("positions").isNull())
    if nodes is None:
        return with_pos
    node_pos = nodes.select(
        F.col("id").alias("ref"), F.col("lat").alias("n_lat"), F.col("lon").alias("n_lon")
    )
    exploded = without.select(
        "id", "tags", F.size("refs").alias("n_refs"), F.posexplode("refs").alias("seq", "ref")
    )
    resolved = exploded.join(node_pos, "ref", "inner")
    reassembled = (
        resolved.groupBy("id")
        .agg(
            F.first("tags").alias("tags"),
            F.array_sort(
                F.collect_list(F.struct("seq", F.col("n_lat"), F.col("n_lon")))
            ).alias("pts"),
            F.count("*").alias("n_resolved"),
            F.first("n_refs").alias("n_refs"),
        )
        # drop rings with unresolved refs (incomplete extract) — can't PIP safely
        .filter(F.col("n_resolved") == F.col("n_refs"))
        .select(
            "id",
            "tags",
            F.transform(
                "pts",
                lambda p: F.struct(p["n_lat"].alias("lat"), p["n_lon"].alias("lon")),
            ).alias("ring"),
        )
    )
    return with_pos.unionByName(reassembled)


def multipolygon_member_ways(relations: DataFrame, ways: DataFrame) -> DataFrame:
    """Semi-join prune: only the ways referenced as members (way-type,
    outer/inner/'' role) of type=multipolygon relations.

    Feed THIS into ring/line assembly when the goal is relation polygons:
    multipolygon member ways are a small fraction of all ways on a real planet
    file, and ring assembly is a posexplode + node join + per-way aggregation —
    pruning first keeps that work proportional to the relation set, not the way
    table. The member-ref side is relation-sized (tiny), so the semi-join
    broadcasts."""
    refs = (
        relations.filter(F.col("tags")["type"] == "multipolygon")
        .select(F.explode("members").alias("m"))
        .filter((F.col("m.type") == "way") & F.col("m.role").isin("outer", "inner", ""))
        .select(F.col("m.ref").alias("id"))
        .distinct()
    )
    return ways.join(F.broadcast(refs), "id", "left_semi")


def assemble_way_lines(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """OPEN ways → (id, refs, lats, lons): the ordered coordinate polyline plus the
    node-id sequence (stitching chains on node IDS, not coordinates — distinct
    nodes can share a position). Ways with embedded LocationsOnWays positions use
    them directly; others resolve refs→nodes exactly like
    :func:`assemble_polygon_rings`; partially-resolvable ways are dropped."""
    open_ways = ways.filter(
        ~((F.size("refs") >= 4) & (F.element_at("refs", 1) == F.element_at("refs", -1)))
    )
    with_pos = open_ways.filter(F.col("positions").isNotNull()).select(
        "id",
        "refs",
        F.transform("positions", lambda p: p["lat"]).alias("lats"),
        F.transform("positions", lambda p: p["lon"]).alias("lons"),
    )
    without = open_ways.filter(F.col("positions").isNull())
    node_pos = nodes.select(
        F.col("id").alias("ref"), F.col("lat").alias("n_lat"), F.col("lon").alias("n_lon")
    )
    exploded = without.select(
        "id", "refs", F.size("refs").alias("n_refs"), F.posexplode("refs").alias("seq", "ref")
    )
    resolved = (
        exploded.join(node_pos, "ref", "inner")
        .groupBy("id")
        .agg(
            F.first("refs").alias("refs"),
            F.array_sort(
                F.collect_list(F.struct("seq", F.col("n_lat"), F.col("n_lon")))
            ).alias("pts"),
            F.count("*").alias("n_resolved"),
            F.first("n_refs").alias("n_refs"),
        )
        .filter(F.col("n_resolved") == F.col("n_refs"))
        .select(
            "id",
            "refs",
            F.transform("pts", lambda p: p["n_lat"]).alias("lats"),
            F.transform("pts", lambda p: p["n_lon"]).alias("lons"),
        )
    )
    return with_pos.unionByName(resolved)


def way_lengths_m(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Geodesic length per way (meters): consecutive vertices connected by
    haversine segments, summed per way — the length analytic the reference's
    per-way refs/LocationsOnWays decode feeds (``src/load_pbf.jl:454-476``
    carries the coordinate sequence; it never aggregates it).

    Two resolution paths, mirroring :func:`assemble_way_lines`:

    - ways with embedded LocationsOnWays ``positions`` compute their length
      as pure array math over the embedded coordinates — **zero shuffle**;
    - otherwise refs resolve against ``nodes`` (one join + one groupBy on the
      way id, both on the same key so AQE coalesces them); refs missing from
      ``nodes`` are skipped and the surviving vertices are connected in ref
      order (skip-missing, the same semantics a SQL inner-join + lead() pair
      produces).

    Extra input columns (tags projections, classes) ride through unchanged —
    via ``first()`` on the groupBy path, untouched on the positions path.
    Output adds ``n_pts`` (resolved vertex count) and ``length_m``; ways with
    fewer than 2 resolved vertices report ``length_m = 0.0``. Everything is
    column math (the length fold is an interpreted HOF) — no Python, no window.
    """
    carry = [c for c in ways.columns if c not in ("refs", "positions")]
    extra = [c for c in carry if c != "id"]
    has_pos = "positions" in ways.columns

    if has_pos:
        with_pos = ways.filter(F.col("positions").isNotNull())
        lats = F.transform("positions", lambda p: p["lat"])
        lons = F.transform("positions", lambda p: p["lon"])
        embedded = with_pos.select(
            *carry,
            F.size("positions").alias("n_pts"),
            geo.polyline_length_m_col(lats, lons).alias("length_m"),
        )
        without = ways.filter(F.col("positions").isNull())
    else:
        embedded = None
        without = ways

    node_pos = nodes.select(
        F.col("id").alias("ref"), F.col("lat").alias("n_lat"), F.col("lon").alias("n_lon")
    )
    resolved = (
        without.select(*carry, F.posexplode("refs").alias("seq", "ref"))
        .join(node_pos, "ref", "inner")
        .groupBy("id")
        .agg(
            *[F.first(c).alias(c) for c in extra],
            F.array_sort(
                F.collect_list(F.struct("seq", F.col("n_lat"), F.col("n_lon")))
            ).alias("pts"),
        )
        .select(
            *carry,
            F.size("pts").alias("n_pts"),
            geo.polyline_length_m_col(
                F.transform("pts", lambda p: p["n_lat"]),
                F.transform("pts", lambda p: p["n_lon"]),
            ).alias("length_m"),
        )
    )
    return embedded.unionByName(resolved) if embedded is not None else resolved


_STITCH_SCHEMA = "rel_id long, lats array<double>, lons array<double>"


def _stitch_open_ways(pdf):
    """Per-relation chain stitcher (applyInPandas kernel, grouped by rel_id).

    Semantics (mirrored exactly by the DuckDB oracle's endpoint-degree test):
    the relation's open member ways are accepted iff EVERY endpoint node id
    occurs an EVEN number of times among their first/last refs — exactly when
    the ways decompose into closed chains (Hierholzer: in an all-even-degree
    multigraph a greedy walk can never strand away from its start, so the loop
    below always closes every chain and consumes every way). Degree 2 is the
    common case; degree 4 is two rings TOUCHING at a shared endpoint node —
    valid OSM multipolygon geometry. Different even-degree decompositions
    (two touching rings vs one figure-eight chain) produce the SAME edge
    multiset, and even-odd ray casting depends only on the edge union, so the
    walk's choice at a junction never changes PIP results. All-or-nothing per
    relation: a dangling end (degree 1) or any odd-degree junction (e.g. a
    3-way) drops ALL open-way rings of that relation, matching the
    conservative unresolved-refs policy above.

    A stitched ring is the PLAIN CONCATENATION of the oriented member polylines
    (junction points duplicated). That keeps ``n_edges == sum(len(refs))`` — the
    same count convention as closed member ways — and the duplicate points only
    produce zero-length edges, which can never satisfy the ray-cast crossing
    test ``(y1 > y) != (y2 > y)``. The final point is the start node itself, so
    first == last exactly like a closed way's refs.
    """
    import pandas as pd

    out_rel: list = []
    out_lats: list = []
    out_lons: list = []
    for rel_id, g in pdf.groupby("rel_id"):
        ways = [
            (list(refs), list(lats), list(lons))
            for refs, lats, lons in zip(g["refs"], g["lats"], g["lons"])
        ]
        deg: dict = {}
        for refs, _, _ in ways:
            deg[refs[0]] = deg.get(refs[0], 0) + 1
            deg[refs[-1]] = deg.get(refs[-1], 0) + 1
        if any(c % 2 != 0 for c in deg.values()):
            continue
        by_endpoint: dict = {}
        for idx, (refs, _, _) in enumerate(ways):
            by_endpoint.setdefault(refs[0], []).append(idx)
            by_endpoint.setdefault(refs[-1], []).append(idx)
        used = [False] * len(ways)
        rings: list = []
        ok = True
        for start in range(len(ways)):
            if used[start]:
                continue
            refs0, la0, lo0 = ways[start]
            used[start] = True
            chain_lats, chain_lons = list(la0), list(lo0)
            start_node, cur = refs0[0], refs0[-1]
            guard = 0
            while cur != start_node and guard <= len(ways):
                guard += 1
                nxt = next((j for j in by_endpoint.get(cur, []) if not used[j]), None)
                if nxt is None:
                    ok = False
                    break
                refs, la, lo = ways[nxt]
                used[nxt] = True
                if refs[0] != cur:  # orient the way to continue the chain
                    refs, la, lo = refs[::-1], la[::-1], lo[::-1]
                chain_lats += la
                chain_lons += lo
                cur = refs[-1]
            if not ok or cur != start_node:
                ok = False
                break
            rings.append((chain_lats, chain_lons))
        if not ok:
            continue
        for la, lo in rings:
            out_rel.append(rel_id)
            out_lats.append(la)
            out_lons.append(lo)
    # explicit dtypes: an empty default-constructed frame gets float64 columns,
    # which Arrow cannot convert to array<double> (object dtype holds the lists)
    return pd.DataFrame(
        {
            "rel_id": pd.Series(out_rel, dtype="int64"),
            "lats": pd.Series(out_lats, dtype="object"),
            "lons": pd.Series(out_lons, dtype="object"),
        }
    )


def assemble_multipolygons(
    relations: DataFrame, rings: DataFrame, way_lines: DataFrame | None = None
) -> DataFrame:
    """type=multipolygon relations → (id, tags, edges) where ``edges`` concatenates
    all member rings (outer + inner). Even-odd ray casting over the union of rings
    gives correct inside-with-holes semantics without explicit winding rules.

    Closed member ways join pre-assembled ``rings`` directly. When ``way_lines``
    (from :func:`assemble_way_lines`) is given, OPEN member ways are chained
    end-to-end on shared endpoint node ids into stitched rings — real planet
    multipolygons routinely split one outer ring across many open ways, and
    without stitching those polygons silently vanish from PIP. Stitching runs as
    an ``applyInPandas`` grouped by relation id: per-group work is bounded by a
    relation's member count (small), parallelism is across relations, and the
    shuffle key is ``rel_id`` — the same key the final edge aggregation needs, so
    the stitch adds no extra exchange. The reference stores members raw and
    defines no stitching semantics (``src/map_types.jl:149-155``); this is engine
    surface beyond parity.
    """
    mp = relations.filter(F.col("tags")["type"] == "multipolygon")
    members = mp.select(
        F.col("id").alias("rel_id"),
        F.col("tags").alias("rel_tags"),
        F.explode("members").alias("m"),
    ).filter(
        (F.col("m.type") == "way") & F.col("m.role").isin("outer", "inner", "")
    )
    joined = members.join(
        rings.select(F.col("id").alias("way_id"), "ring"),
        members["m.ref"] == F.col("way_id"),
        "inner",
    ).select("rel_id", "rel_tags", "ring")
    if way_lines is not None:
        open_members = members.join(
            way_lines.select(
                F.col("id").alias("way_id"), "refs", "lats", "lons"
            ),
            members["m.ref"] == F.col("way_id"),
            "inner",
        ).select("rel_id", "refs", "lats", "lons")
        stitched = open_members.groupBy("rel_id").applyInPandas(
            _stitch_open_ways, _STITCH_SCHEMA
        )
        rel_tags = mp.select(F.col("id").alias("rel_id"), F.col("tags").alias("rel_tags"))
        stitched_rings = stitched.join(rel_tags, "rel_id").select(
            "rel_id",
            "rel_tags",
            F.transform(
                F.arrays_zip("lats", "lons"),
                lambda p: F.struct(p["lats"].alias("lat"), p["lons"].alias("lon")),
            ).alias("ring"),
        )
        joined = joined.unionByName(stitched_rings)
    return (
        joined.withColumn("ring_edges", geo.ring_to_edges_col(F.col("ring")))
        .groupBy("rel_id")
        .agg(
            F.first("rel_tags").alias("tags"),
            F.flatten(F.collect_list("ring_edges")).alias("edges"),
            F.flatten(F.collect_list(F.transform("ring", lambda p: p["lat"]))).alias("_lats"),
            # PER-RING lon intervals, not flattened vertices: wrap detection
            # (geo.lon_bounds_cols) needs the gap structure between rings
            F.collect_list(geo.ring_lon_interval_col(F.col("ring"))).alias("_lon_ivs"),
        )
        .select(
            F.col("rel_id").alias("id"),
            "tags",
            "edges",
            F.array_min("_lats").alias("min_lat"),
            F.array_max("_lats").alias("max_lat"),
            # wrap convention: far-apart rings straddling the antimeridian get
            # min_lon > max_lon (see geo.lon_bounds_cols)
            geo.lon_bounds_cols(F.col("_lon_ivs"))[0].alias("min_lon"),
            geo.lon_bounds_cols(F.col("_lon_ivs"))[1].alias("max_lon"),
        )
    )


def polygons_with_edges(rings: DataFrame) -> DataFrame:
    """(id, tags, ring) → + edges array + bbox columns (join-ready polygon side)."""
    return rings.select(
        "id",
        "tags",
        geo.ring_to_edges_col(F.col("ring")).alias("edges"),
        *geo.bbox_cols_of_ring(F.col("ring")),
    )


# ---------------------------------------------------------------------------
# tile cover
# ---------------------------------------------------------------------------

def _shift_right(col: Column, d: Column) -> Column:
    """col >> d with a COLUMN shift amount (Spark's shiftright needs a literal).
    Exact for tile indexes: values < 2^29 and 2^d are both exactly representable
    as doubles."""
    return F.floor(col / F.pow(F.lit(2.0), d)).cast("long")


def _bbox_keys(
    x_lo: Column, x_hi: Column, y0: Column, y1: Column, crosses: Column,
    n: Column, z: int | Column,
) -> Column:
    """Keys of the tiles between west column ``x_lo``, east column ``x_hi`` and
    rows ``y0..y1`` on a grid ``n`` tiles wide. A wrapped bbox (``crosses``)
    takes the two x-arcs through the antimeridian; wrapped arcs that meet
    inside one tile column cover the full row."""
    zero = F.lit(0).cast("long")
    xs = (
        F.when(
            crosses & (x_lo > x_hi),
            F.concat(F.sequence(x_lo, n - 1), F.sequence(zero, x_hi)),
        )
        .when(crosses, F.sequence(zero, n - 1))
        .otherwise(F.sequence(x_lo, x_hi))
    )
    return tile_keys_col(xs, F.sequence(y0, y1), z)


def tile_cover_bbox(
    min_lat: Column, max_lat: Column, min_lon: Column, max_lon: Column, z: int
) -> Column:
    """ARRAY<BIGINT> of tile keys covering a bbox — pure Catalyst
    (sequence × sequence, flattened). Polygon-side explode key.

    Antimeridian: a WRAPPED bbox is signalled by ``min_lon > max_lon`` (the
    convention ``geo.lon_bounds_cols`` produces; min = west bound, max = east
    bound) and covered by TWO x-ranges instead of wrapping the whole world —
    without this, one such polygon explodes into every x at the zoom level
    (observed: 49k tiles at z13). A genuinely wide NON-wrapping polygon
    (plain bbox with lon span > 180°) keeps the single full x-range — the
    old raw-span heuristic covered its complement and silently lost interior
    hits."""
    x_lo, y0 = xyz_cols(max_lat, min_lon, z)  # north-west corner: smallest row
    x_hi, y1 = xyz_cols(min_lat, max_lon, z)
    return _bbox_keys(x_lo, x_hi, y0, y1, min_lon > max_lon, F.lit(1 << z), z)


# adaptive cover: a polygon spans at most this many tiles per axis at its level
ADAPTIVE_COVER_MAX_SIDE = 8


def adaptive_cover_cols(
    min_lat: Column, max_lat: Column, min_lon: Column, max_lon: Column, z: int
) -> tuple[Column, Column]:
    """(lvl, ARRAY<BIGINT> tile keys at lvl): per-polygon multi-resolution cover.

    A polygon whose bbox spans more than ``ADAPTIVE_COVER_MAX_SIDE`` tiles per
    axis at ``z`` is covered at the coarser level where its span fits — so the
    cover is bounded by ``ADAPTIVE_COVER_MAX_SIDE²`` keys per polygon
    REGARDLESS of polygon size. Without this, one continent-sized relation
    polygon (a country boundary, a sea) explodes into millions of z13 tiles
    and its cover dominates the whole join. Local
    polygons (the overwhelming majority) keep the full-resolution level — their
    candidate sets stay tight."""
    n = 1 << z
    x_lo, y0 = xyz_cols(max_lat, min_lon, z)
    x_hi, y1 = xyz_cols(min_lat, max_lon, z)
    # wrapped bbox convention (min_lon > max_lon): min = west bound (high x),
    # max = east bound (low x) — same convention as tile_cover_bbox
    crosses = min_lon > max_lon
    sx = F.when(crosses, F.lit(n) - x_lo + x_hi + 1).otherwise(x_hi - x_lo + 1)
    sy = y1 - y0 + 1
    span = F.greatest(sx, sy).cast("double")
    max_side = F.lit(float(ADAPTIVE_COVER_MAX_SIDE))
    d = (
        F.when(span <= max_side, F.lit(0.0))
        .otherwise(F.ceil(F.log2(span / max_side)))
        .cast("int")
    )
    d = F.least(d, F.lit(z))
    lvl = (F.lit(z) - d).cast("int")
    keys = _bbox_keys(
        _shift_right(x_lo, d), _shift_right(x_hi, d),
        _shift_right(y0, d), _shift_right(y1, d),
        crosses,
        _shift_right(F.lit(n).cast("long"), d),  # tiles per axis at lvl
        lvl,
    )
    return lvl, keys


# ---------------------------------------------------------------------------
# the PIP join
# ---------------------------------------------------------------------------

def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    *,
    zoom: int = 13,
    nsalt: int = 0,
    salt_id_col: str | None = None,
    adaptive_cover: bool = False,
) -> DataFrame:
    """points × polygons → rows where the point lies inside the polygon.

    ``points`` needs (lat, lon); ``polygons`` needs (id, edges, min_lat,
    max_lat, min_lon, max_lon) — from :func:`polygons_with_edges` or
    :func:`assemble_multipolygons`.

    Plan shape: polygon side exploded on tile cover (small ×cover_factor), point
    side keyed by its single tile → hash equi-join on ``tile`` (broadcast under
    Spark's auto threshold) → exact ray cast as an ``aggregate`` HOF, the
    condition of the ``polygon_id`` join that re-attaches the edges. That join
    runs outside whole-stage codegen (no ``*`` in ``explain("formatted")``
    after execution): the HOF is ``CodegenFallback`` and is interpreted per
    candidate pair. A point maps to exactly one tile and a polygon covers each tile
    once, so no post-dedup is needed. ``nsalt > 0`` splits hot tiles across ``nsalt`` sub-keys.

    Salt key: ``hash(salt_id_col)`` when given (the point's UNIQUE id, e.g.
    ``url``), else ``monotonically_increasing_id`` — never the coordinates. The
    common web-corpus skew is many pages citing the SAME landmark coordinate
    (boilerplate geo mentions); a coordinate-derived salt maps all of them to ONE
    bucket and the hot key survives salting, whereas an id-derived salt splits
    them regardless of coordinate duplication. (The salt only routes rows to
    partitions — it never affects which rows match — so any per-row value works.)

    ``adaptive_cover=True`` switches to the multi-resolution cover
    (:func:`adaptive_cover_cols`): polygons whose bbox exceeds
    ``ADAPTIVE_COVER_MAX_SIDE`` tiles per axis are covered at a coarser level
    (≤ ``ADAPTIVE_COVER_MAX_SIDE²`` keys each — continent-sized relation
    polygons stop exploding the cover), and each point emits one key per
    DISTINCT level actually present on the polygon side. The level set stays
    INSIDE the plan: the point side cross-joins a broadcast of
    ``distinct(_lvl)`` (a frame of at most ``zoom+1`` rows computed from the
    small polygon dimension at execution time), so plan construction runs
    zero Spark jobs — building the query never re-scans the polygon side, and
    a cached polygon dimension makes the level-discovery subjob read the
    cache. A point still meets each polygon in
    exactly one (level, tile) bucket, so no post-dedup is needed.

    The adaptive cover stays the caller's choice rather than replacing the
    static one, because always using it measured slower: a prototype that
    always used it cut the ``perfbench`` ``pip_hot`` workload (seed 201,
    ``--seconds 10``, 2 complete pairs) from 7.21k/6.75k/7.34k to
    5.24k/5.75k pages/s and raised its peak RSS by about 14%.
    """
    lat = F.col("lat")
    lon = F.col("lon")
    # NARROW polygon side through the tile shuffle: (polygon_id, bbox, tile).
    # Edge arrays never ride the tile-cover explode or the equi-join exchange —
    # shipping them per (tile × candidate point) materializes O(candidates ×
    # ring_size) doubles through the shuffle (observed 34 GB at sf0.1 before this
    # split). They are re-attached by polygon_id only for bbox-surviving pairs.
    poly_base = polygons.select(
        F.col("id").alias("polygon_id"),
        "min_lat",
        "max_lat",
        "min_lon",
        "max_lon",
    )
    if adaptive_cover:
        lvl, keys = adaptive_cover_cols(
            F.col("min_lat"), F.col("max_lat"), F.col("min_lon"), F.col("max_lon"),
            z=zoom,
        )
        with_lvl = poly_base.withColumn("_lvl", lvl)
        poly_narrow = with_lvl.withColumn("tile", F.explode(keys)).drop("_lvl")
        # distinct levels as a lazy broadcast frame (≤ zoom+1 rows), NOT a
        # collect during plan build: constructing the join must be action-free
        levels_df = with_lvl.select("_lvl").distinct()
        x13, y13 = xyz_cols(lat, lon, zoom)
        d = F.lit(zoom) - F.col("_lvl")
        pts = (
            points.crossJoin(F.broadcast(levels_df))
            .withColumn(
                "tile",
                tile_key_col(
                    _shift_right(x13, d), _shift_right(y13, d), F.col("_lvl")
                ),
            )
            .drop("_lvl")
        )
    else:
        poly_narrow = poly_base.withColumn(
            "tile",
            F.explode(
                tile_cover_bbox(
                    F.col("min_lat"), F.col("max_lat"), F.col("min_lon"), F.col("max_lon"), z=zoom
                )
            ),
        )
        pts = points.withColumn("tile", xyz_tile_key_col(lat, lon, zoom))

    if nsalt > 0:
        # point side: per-row salt (id-derived, NOT coordinate-derived — see
        # docstring); polygon side: explode the full salt range. The fallback
        # hashes ALL point columns rather than monotonically_increasing_id:
        # a nondeterministic salt re-drawn on task retry is a shuffle-key
        # hazard (rows dropped/duplicated after a fetch-failure recompute).
        salt_src = (
            F.hash(F.col(salt_id_col))
            if salt_id_col is not None
            else F.hash(*[F.col(c) for c in points.columns])
        )
        pts = pts.withColumn("_salt", F.pmod(salt_src, F.lit(nsalt)).cast("int"))
        poly_narrow = poly_narrow.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1)))
        )
        join_keys = ["tile", "_salt"]
    else:
        join_keys = ["tile"]

    cand = pts.join(poly_narrow, join_keys, "inner").filter(
        lat.between(F.col("min_lat"), F.col("max_lat"))
        # wrap-aware: a wrapped bbox (min_lon > max_lon) accepts the two arcs
        # beyond each bound — agrees with the cover's crosser convention
        & geo.lon_in_bbox_col(lon, F.col("min_lon"), F.col("max_lon"))
    )
    payload = polygons.select(
        F.col("id").alias("polygon_id"),
        "edges",
        *[c for c in polygons.columns if c not in ("id", "edges", "min_lat", "max_lat", "min_lon", "max_lon")],
    )
    hit = cand.join(payload, "polygon_id", "inner").filter(
        geo.pip_crossings_col(lat, lon, F.col("edges"))
    )
    drop = ["tile", "edges", "min_lat", "max_lat", "min_lon", "max_lon"]
    if nsalt > 0:
        drop.append("_salt")
    return hit.drop(*drop)


def bbox_intersection_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str = "left_id",
    right_id: str = "right_id",
    cell_deg: float = 1.0,
    suffix: tuple[str, str] = ("_l", "_r"),
) -> DataFrame:
    """Rectangle×rectangle intersection join — the 2-D interval-overlap
    sibling of :func:`point_in_polygon_join` (containment) and
    ``temporal.band_join`` (1-D bands): all (left, right) pairs whose
    [min_lat,max_lat]×[min_lon,max_lon] boxes overlap (closed edges —
    touching boxes match, mirroring the PIP bbox prefilter's BETWEEN).

    Scale shape (the classic PBSM/spatial-hash join, public literature):
    each box explodes into the ``cell_deg``-sized grid cells it covers
    (``sequence()`` per axis — candidate volume bounded by box size, never
    all-pairs), candidates equi-join per cell, the exact overlap predicate
    is four comparisons, and duplicate pair reports are eliminated WITHOUT
    a distinct by the REFERENCE-POINT rule: a surviving pair is emitted
    only by the single cell containing the intersection's min corner
    (``floor(max(min_lon_l, min_lon_r)/eps)`` etc.) — a codegen'd filter,
    zero extra shuffle, so the join output needs no dedup pass at any
    scale.

    Both inputs must be plain (non-antimeridian-wrapped) boxes:
    ``min_lon <= max_lon``; wrapped boxes raise downstream-visible garbage,
    so split them upstream (the PIP cover's wrap handling shows how).
    Columns: each side needs ``min_lat, max_lat, min_lon, max_lon`` plus
    its id; output carries both ids and both boxes with ``suffix``."""
    if cell_deg <= 0:
        raise ValueError(f"cell_deg must be > 0, got {cell_deg}")
    eps = float(cell_deg)
    sl, sr = suffix

    def keyed(df: DataFrame, idc: str, sfx: str) -> DataFrame:
        cx = F.explode(
            F.sequence(
                F.floor(F.col("min_lon") / eps).cast("long"),
                F.floor(F.col("max_lon") / eps).cast("long"),
            )
        ).alias("cx")
        d = df.select(
            F.col(idc),
            F.col("min_lat").alias(f"min_lat{sfx}"),
            F.col("max_lat").alias(f"max_lat{sfx}"),
            F.col("min_lon").alias(f"min_lon{sfx}"),
            F.col("max_lon").alias(f"max_lon{sfx}"),
            cx,
        )
        cy = F.explode(
            F.sequence(
                F.floor(F.col(f"min_lat{sfx}") / eps).cast("long"),
                F.floor(F.col(f"max_lat{sfx}") / eps).cast("long"),
            )
        ).alias("cy")
        return d.select("*", cy)

    lk = keyed(left, left_id, sl)
    rk = keyed(right, right_id, sr)
    cand = lk.join(rk, ["cx", "cy"])
    overlap = (
        (F.col(f"min_lat{sl}") <= F.col(f"max_lat{sr}"))
        & (F.col(f"min_lat{sr}") <= F.col(f"max_lat{sl}"))
        & (F.col(f"min_lon{sl}") <= F.col(f"max_lon{sr}"))
        & (F.col(f"min_lon{sr}") <= F.col(f"max_lon{sl}"))
    )
    ref_x = F.floor(
        F.greatest(F.col(f"min_lon{sl}"), F.col(f"min_lon{sr}")) / eps
    ).cast("long")
    ref_y = F.floor(
        F.greatest(F.col(f"min_lat{sl}"), F.col(f"min_lat{sr}")) / eps
    ).cast("long")
    return cand.filter(
        overlap & (F.col("cx") == ref_x) & (F.col("cy") == ref_y)
    ).drop("cx", "cy")
