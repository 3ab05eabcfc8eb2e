"""Deterministic (seed-fixed) synthetic fixtures.

Mirrors the shape of the reference's bundled test data (``/root/reference/test/data/``:
612 nodes / 29 ways / 3 relations, pinned golden elements per
``test/TestUtils.jl:19-44``) plus the Common-Crawl-style ``pages`` table from
``BASELINE.json`` input_hint. No external data; everything derives from ``seed``.

Pinned golden elements (same ids/values as the reference oracle so the test layer
matches SURVEY.md §5):

- node 1675598406 at (54.2619665, 9.9854149), tags addr:country=DE etc.
  (``test/test_load_xml.jl:23-33``)
- way 889648159 with exactly 56 refs, refs[22] == 1276389426 (0-based; the reference
  asserts refs[23] 1-indexed, ``test/test_load_xml.jl:39-41``), tags
  wetland=wet_meadow, natural=wetland
- relation 12475101 with type=route tags (``test/test_load_xml.jl:46-58``)
"""

from __future__ import annotations

import random
from xml.sax.saxutils import escape as xml_escape

import numpy as np
import pyarrow as pa

from openstreetmapio_jl_spark.functions import text as textfn
from openstreetmapio_jl_spark.pbf import writer

BBOX = {
    "bottom_lat": 54.26169,
    "left_lon": 9.98192,
    "top_lat": 54.26315,
    "right_lon": 9.98648,
}

KNOWN_NODE_ID = 1675598406
KNOWN_WAY_ID = 889648159
KNOWN_RELATION_ID = 12475101
TEST_POINT = (54.2619665, 9.9854149)

# dense "urban" hot-spot for skew tests (~10% of pages land in this one cell)
HOT_CENTER = (54.2625, 9.9840)

# scaled fixtures spread beyond the golden bbox over a realistic multi-degree
# region (Europe-sized) so cell keys are selective — real OSM polygons are local
# rings, not bbox-spanning scribbles. (bottom_lat, left_lon, top_lat, right_lon)
EXTENT = (40.0, -5.0, 60.0, 20.0)

# bump to invalidate materialized .fixtures trees when generation logic changes
GENERATOR_VERSION = "12"

_POI_TYPES = ["restaurant", "cafe", "bar", "school", "pharmacy", "bank", "fuel"]
_CUISINES = ["italian", "german", "indian", "thai", "greek"]
_USERS = ["mapper_a", "mapper_b", "straße_mapper", "anon"]
_LANGS = ["en", "de", "fr", "es"]


def _r7(x: float) -> float:
    return round(x, 7)


def _add_scaled_elements(
    rng, nodes, ways, n_nodes: int, n_ways: int, rand_info,
    split_groups=None, ring_pairs=None,
) -> None:
    """Locality-aware scale-up beyond the 612/29/3 golden core.

    Real OSM geometry is local: a polygon's vertices are metres apart, not spread
    over the whole map. Scaled ways therefore get their OWN ring nodes around a
    sampled center (closed rings 2/3, open polylines 1/3), spread over ``EXTENT``
    with ~0.5% stacked on ``HOT_CENTER`` (the deliberate skewed cell). Remaining
    node budget becomes standalone nodes (every 10th a tagged POI) so kNN corpora
    exist across the region.

    When ``split_groups`` (a list) is given, some closed rings are instead
    emitted as 2-3 OPEN ways sharing endpoint nodes (the middle segment written
    REVERSED so stitching must re-orient it) — the real-planet multipolygon
    shape where one outer ring spans many open member ways; the grouped way ids
    are appended to ``split_groups`` for relation construction.

    ``ring_pairs`` (a list) collects (outer_way_id, inner_way_id) pairs created
    as CONCENTRIC closed rings at one center — the realistic lake-with-island
    multipolygon whose bbox stays LOCAL. (Real multipolygons are local; a
    far-apart member pair makes a continent-sized bbox. The relation builder
    still emits a handful of those deliberately to exercise the adaptive
    multi-resolution cover.)"""
    import math

    next_nid = 2_000_000_000
    next_wid = 500_000_000
    b, l, t, r = EXTENT
    n_scaled_ways = n_ways - len(ways)
    for i in range(n_scaled_ways):
        # ~0.5% of scaled polygons stack on the hot cell — enough to make its
        # tile the skew key (together with ~10% of pages), while keeping
        # hits-per-point at urban-realistic depth (~5-15 containing polygons),
        # not a pathological all-pairs product
        if i % 200 == 199:
            clat = HOT_CENTER[0] + rng.uniform(-0.0004, 0.0004)
            clon = HOT_CENTER[1] + rng.uniform(-0.0004, 0.0004)
            radius = rng.uniform(0.00005, 0.0005)
        else:
            clat = rng.uniform(b, t)
            clon = rng.uniform(l, r)
            radius = 10 ** rng.uniform(-3.5, -1.5)  # ~30 m .. ~3 km
        closed = i % 3 != 2
        k = rng.randint(4, 10)
        angles = sorted(rng.uniform(0.0, 2.0 * math.pi) for _ in range(k))
        ring_ids, pts = [], []
        lon_stretch = 1.0 / max(0.2, math.cos(math.radians(clat)))
        for a in angles:
            rr = radius * rng.uniform(0.7, 1.3)
            lat = _r7(max(-89.9, min(89.9, clat + rr * math.sin(a))))
            lon = _r7(max(-179.9, min(179.9, clon + rr * math.cos(a) * lon_stretch)))
            next_nid += rng.randint(1, 50)
            nodes.append(
                {"id": next_nid, "lat": lat, "lon": lon, "tags": None, "info": rand_info(i)}
            )
            ring_ids.append(next_nid)
            pts.append((lat, lon))
        if closed and ring_pairs is not None and i % 10 == 8:
            # concentric outer+inner rings (lake with island): LOCAL bbox.
            # outer = the ring just built; inner = a smaller ring, same center
            next_wid += rng.randint(1, 99)
            outer_wid = next_wid
            outer = {
                "id": outer_wid,
                "refs": ring_ids + [ring_ids[0]],
                "tags": {"natural": "water", "name": f"Lake {i}"},
                "info": rand_info(i),
            }
            if i % 4 == 0:
                outer["positions"] = pts + [pts[0]]
            ways.append(outer)
            in_ids, in_pts = [], []
            for a in angles:
                rr = radius * 0.35 * rng.uniform(0.85, 1.0)
                lat = _r7(max(-89.9, min(89.9, clat + rr * math.sin(a))))
                lon = _r7(max(-179.9, min(179.9, clon + rr * math.cos(a) * lon_stretch)))
                next_nid += rng.randint(1, 50)
                nodes.append(
                    {"id": next_nid, "lat": lat, "lon": lon, "tags": None, "info": rand_info(i)}
                )
                in_ids.append(next_nid)
                in_pts.append((lat, lon))
            next_wid += rng.randint(1, 99)
            inner = {
                "id": next_wid,
                "refs": in_ids + [in_ids[0]],
                "tags": {"place": "island", "name": f"Island {i}"},
                "info": rand_info(i),
            }
            if i % 4 == 0:
                inner["positions"] = in_pts + [in_pts[0]]
            ways.append(inner)
            ring_pairs.append((outer_wid, next_wid))
            continue
        if closed and split_groups is not None and i % 10 == 4 and k >= 5:
            # ring split into open segments: [0..a], [a..b] REVERSED, [b..0]
            nseg = 3 if k >= 6 else 2
            bounds = (
                [0, k // 3, (2 * k) // 3, k] if nseg == 3 else [0, k // 2, k]
            )
            group = []
            for j in range(nseg):
                lo, hi = bounds[j], bounds[j + 1]
                seg_ids = ring_ids[lo : hi + 1] if hi < k else ring_ids[lo:] + [ring_ids[0]]
                seg_pts = pts[lo : hi + 1] if hi < k else pts[lo:] + [pts[0]]
                if j == 1:  # stitcher must re-orient this one
                    seg_ids, seg_pts = seg_ids[::-1], seg_pts[::-1]
                next_wid += rng.randint(1, 99)
                w = {
                    "id": next_wid,
                    "refs": seg_ids,
                    "tags": {"name": f"Area {i} segment {j}"},
                    "info": rand_info(i + j),
                }
                if i % 4 == 0:  # LocationsOnWays variant
                    w["positions"] = seg_pts
                ways.append(w)
                group.append(next_wid)
            # concentric closed inner ring so split-ring relations can carry a
            # LOCAL inner member (a far-away inner would make the relation's
            # bbox continent-sized, which is its own deliberate fixture case)
            in_ids, in_pts = [], []
            for a in angles:
                rr = radius * 0.35 * rng.uniform(0.85, 1.0)
                ilat = _r7(max(-89.9, min(89.9, clat + rr * math.sin(a))))
                ilon = _r7(max(-179.9, min(179.9, clon + rr * math.cos(a) * lon_stretch)))
                next_nid += rng.randint(1, 50)
                nodes.append(
                    {"id": next_nid, "lat": ilat, "lon": ilon, "tags": None, "info": rand_info(i)}
                )
                in_ids.append(next_nid)
                in_pts.append((ilat, ilon))
            next_wid += rng.randint(1, 99)
            inner_w = {
                "id": next_wid,
                "refs": in_ids + [in_ids[0]],
                "tags": {"place": "islet"},
                "info": rand_info(i),
            }
            if i % 4 == 0:
                inner_w["positions"] = in_pts + [in_pts[0]]
            ways.append(inner_w)
            split_groups.append((group, next_wid))
            continue
        refs = ring_ids + [ring_ids[0]] if closed else ring_ids
        if closed:
            tags = {
                "natural" if i % 2 else "landuse": ["water", "forest", "meadow"][i % 3],
                "name": f"Area {i}",
            }
        else:
            tags = {"highway": ["residential", "track", "service"][i % 3], "name": f"Road {i}"}
        next_wid += rng.randint(1, 99)
        w = {"id": next_wid, "refs": refs, "tags": tags, "info": rand_info(i)}
        if i % 4 == 0:  # LocationsOnWays variant
            pos = pts + [pts[0]] if closed else pts
            w["positions"] = pos
        ways.append(w)
    # standalone nodes: fill the remaining node budget across the region
    i = 0
    while len(nodes) < n_nodes:
        next_nid += rng.randint(1, 50)
        if rng.random() < 0.05:
            lat = _r7(HOT_CENTER[0] + rng.uniform(-0.0004, 0.0004))
            lon = _r7(HOT_CENTER[1] + rng.uniform(-0.0004, 0.0004))
        else:
            lat = _r7(rng.uniform(b, t))
            lon = _r7(rng.uniform(l, r))
        tags = None
        if i % 10 == 0:
            tags = {
                "amenity": _POI_TYPES[i % len(_POI_TYPES)],
                "name": f"Scaled POI {i}",
            }
        nodes.append({"id": next_nid, "lat": lat, "lon": lon, "tags": tags, "info": rand_info(i)})
        i += 1


# id bases for the adversarial stitcher shapes — far from every generated range
# (scaled nodes live near 2e9, scaled ways near 5e8, loop relations near
# KNOWN_RELATION_ID + n_relations)
_ADV_NODE_BASE = 3_500_000_000
_ADV_WAY_BASE = 700_000_000
_ADV_REL_BASE = 77_000_000_000


def _add_adversarial_relations(nodes, ways, relations, rand_info) -> None:
    """Three deliberate stitcher stress shapes (scaled fixtures only):

    1. **Antimeridian far-pair** (rel _ADV_REL_BASE): one multipolygon whose two
       outer rings hug the antimeridian from both sides, EACH split into two
       open member ways (so they never enter closed-way polygon queries and
       must be chain-stitched). Bbox wraps (min_lon > max_lon) through
       ``geo.lon_bounds_cols``; both the static ``tile_cover_bbox`` crosser arm
       and the adaptive cover must find points inside either ring.
    2. **Touching rings** (rel +1): two diamond rings sharing exactly ONE
       endpoint node (degree 4 at the shared node) — accepted by the
       even-degree rule; the old all-degree-2 rule silently dropped them.
    3. **3-way junction** (rel +2): a valid closed outer ring plus three open
       ways meeting at a degree-3 node — the open-way rings MUST be rejected
       (odd degree), the closed ring kept."""
    next_nid = [_ADV_NODE_BASE]

    def add_node(lat, lon):
        next_nid[0] += 1
        nodes.append(
            {"id": next_nid[0], "lat": _r7(lat), "lon": _r7(lon), "tags": None,
             "info": rand_info(next_nid[0] % 7)}
        )
        return next_nid[0]

    wid = [_ADV_WAY_BASE]

    def add_way(refs, tags):
        wid[0] += 1
        ways.append({"id": wid[0], "refs": refs, "tags": tags, "info": rand_info(wid[0] % 5)})
        return wid[0]

    # --- 1. antimeridian far-pair: rectangles lat -25..25, lon 177..179.9 and
    # -179.9..-177, each split into two open ways sharing corner endpoints
    def split_rect(lat0, lat1, lon0, lon1, name):
        c1 = add_node(lat0, lon0)
        c2 = add_node(lat0, lon1)
        c3 = add_node(lat1, lon1)
        c4 = add_node(lat1, lon0)
        w1 = add_way([c1, c2, c3], {"name": f"{name} east+north"})
        w2 = add_way([c3, c4, c1], {"name": f"{name} west+south"})
        return [w1, w2]

    am_ways = split_rect(-25.0, 25.0, 177.0, 179.9, "AM east")
    am_ways += split_rect(-25.0, 25.0, -179.9, -177.0, "AM west")
    relations.append(
        {
            "id": _ADV_REL_BASE,
            "members": [{"ref": w, "type": "way", "role": "outer"} for w in am_ways],
            "tags": {"type": "multipolygon", "natural": "strait",
                     "name": "Antimeridian far-pair"},
            "info": rand_info(1),
        }
    )

    # --- 2. touching rings: two diamonds sharing node S (endpoint degree 4)
    s = add_node(50.0, 8.0)
    a2, a3, a4 = add_node(50.6, 8.6), add_node(51.2, 8.0), add_node(50.6, 7.4)
    b2, b3, b4 = add_node(49.4, 8.6), add_node(48.8, 8.0), add_node(49.4, 7.4)
    touch_ways = [
        add_way([s, a2, a3], {"name": "touch A1"}),
        add_way([a3, a4, s], {"name": "touch A2"}),
        add_way([s, b2, b3], {"name": "touch B1"}),
        add_way([b3, b4, s], {"name": "touch B2"}),
    ]
    relations.append(
        {
            "id": _ADV_REL_BASE + 1,
            "members": [{"ref": w, "type": "way", "role": "outer"} for w in touch_ways],
            "tags": {"type": "multipolygon", "natural": "water",
                     "name": "Touching diamonds"},
            "info": rand_info(2),
        }
    )

    # --- 3. degree-3 junction: closed outer square + a Y of three open ways
    sq = [add_node(45.0, 12.0), add_node(45.0, 12.5), add_node(45.5, 12.5), add_node(45.5, 12.0)]
    closed_w = add_way(sq + [sq[0]], {"landuse": "basin", "name": "Junction outer"})
    x1, x2 = add_node(45.8, 12.0), add_node(45.9, 12.2)
    x3, x4 = add_node(45.8, 12.4), add_node(46.0, 12.2)
    y_ways = [
        add_way([x1, x2], {"name": "Y leg 1"}),
        add_way([x2, x3], {"name": "Y leg 2"}),
        add_way([x2, x4], {"name": "Y leg 3"}),
    ]
    relations.append(
        {
            "id": _ADV_REL_BASE + 2,
            "members": [{"ref": closed_w, "type": "way", "role": "outer"}]
            + [{"ref": w, "type": "way", "role": "outer"} for w in y_ways],
            "tags": {"type": "multipolygon", "landuse": "basin",
                     "name": "Rejecting Y junction"},
            "info": rand_info(3),
        }
    )


def make_osm(seed: int = 42, n_nodes: int = 612, n_ways: int = 29, n_relations: int = 3):
    """Returns (meta, nodes, ways, relations) as plain dicts (writer input format).

    The first 612 nodes / 29 ways / 3 relations are the golden core mirroring the
    reference's bundled fixture (tiny bbox, pinned golden elements — unchanged at
    every scale factor). Anything beyond that is generated locality-aware over
    ``EXTENT`` by :func:`_add_scaled_elements`."""
    rng = random.Random(seed)
    n_base_nodes = min(n_nodes, 612)
    n_base_ways = min(n_ways, 29)
    b, l, t, r = BBOX["bottom_lat"], BBOX["left_lon"], BBOX["top_lat"], BBOX["right_lon"]

    nodes: list[dict] = []

    def rand_pos(pad: float = 0.0):
        return (
            _r7(rng.uniform(b + pad, t - pad)),
            _r7(rng.uniform(l + pad, r - pad)),
        )

    def rand_info(i: int):
        if i % 3 == 0:
            return None
        return {
            "version": 1 + i % 5,
            "timestamp": 1_600_000_000 + (i % 1000) * 3600,
            "changeset": 900 + i % 50,
            "uid": 100 + i % 7,
            "user": _USERS[i % len(_USERS)],
            "visible": True,
        }

    # golden node
    nodes.append(
        {
            "id": KNOWN_NODE_ID,
            "lat": TEST_POINT[0],
            "lon": TEST_POINT[1],
            "tags": {
                "addr:country": "DE",
                "addr:city": "Bovenau",
                "addr:postcode": "24796",
                "addr:street": "Dorfstraße",
            },
            "info": {
                "version": 2,
                "timestamp": 1_600_000_000,
                "changeset": 999,
                "uid": 101,
                "user": "mapper_a",
                "visible": True,
            },
        }
    )

    next_id = 1_000_000_000
    for i in range(n_base_nodes - 1):
        next_id += rng.randint(1, 5000)
        lat, lon = rand_pos()
        tags = None
        k = i % 10
        if k == 0:
            tags = {
                "amenity": _POI_TYPES[i % len(_POI_TYPES)],
                "name": f"POI {i} & Co. <straße> \"quoted\" 'single'",
            }
            if _POI_TYPES[i % len(_POI_TYPES)] == "restaurant":
                tags["cuisine"] = _CUISINES[i % len(_CUISINES)]
        elif k == 1:
            tags = {"addr:country": "DE", "addr:street": f"Straße {i}"}
        nodes.append(
            {"id": next_id, "lat": lat, "lon": lon, "tags": tags, "info": rand_info(i)}
        )
    # the golden way's pinned ref target must exist
    nodes.append(
        {
            "id": 1276389426,
            "lat": _r7((b + t) / 2),
            "lon": _r7((l + r) / 2),
            "tags": None,
            "info": None,
        }
    )
    nodes.sort(key=lambda n: n["id"])
    node_ids = [n["id"] for n in nodes]

    ways: list[dict] = []
    # golden way: 56 refs with refs[22] == 1276389426
    golden_refs = [node_ids[(7 * j + 3) % len(node_ids)] for j in range(56)]
    golden_refs[22] = 1276389426
    ways.append(
        {
            "id": KNOWN_WAY_ID,
            "refs": golden_refs,
            "tags": {"wetland": "wet_meadow", "natural": "wetland"},
            "info": rand_info(1),
        }
    )
    way_id = 100_000_000
    id_to_pos = {n["id"]: (n["lat"], n["lon"]) for n in nodes}
    for i in range(n_base_ways - 1):
        way_id += rng.randint(1, 999)
        n_refs = rng.randint(3, 60)
        refs = [node_ids[rng.randrange(len(node_ids))] for _ in range(n_refs)]
        closed = i % 3 == 0
        if closed:
            refs[-1] = refs[0]  # polygon ring
        tags = {"highway": "residential", "name": f"Way {i}"} if i % 2 else {
            "natural": "water",
            "name": f"Lake {i}",
        }
        w = {"id": way_id, "refs": refs, "tags": tags, "info": rand_info(i)}
        if i % 4 == 0:  # LocationsOnWays variant (src/load_pbf.jl:925-940)
            w["positions"] = [id_to_pos[ref] for ref in refs]
        ways.append(w)
    split_groups: list[list[int]] = []
    ring_pairs: list[tuple[int, int]] = []
    if n_nodes > n_base_nodes or n_ways > n_base_ways:
        _add_scaled_elements(
            rng, nodes, ways, n_nodes, n_ways, rand_info, split_groups, ring_pairs
        )
        nodes.sort(key=lambda n: n["id"])
    ways.sort(key=lambda w: w["id"])
    way_ids = [w["id"] for w in ways]
    open_way_ids = [
        w["id"]
        for w in ways
        if not (len(w["refs"]) >= 4 and w["refs"][0] == w["refs"][-1])
        and not any(w["id"] in g for g, _inner in split_groups)
    ]

    relations: list[dict] = []
    relations.append(
        {
            "id": KNOWN_RELATION_ID,
            "members": [
                {"ref": way_ids[0], "type": "way", "role": ""},
                {"ref": way_ids[1 % len(way_ids)], "type": "way", "role": "forward"},
                {"ref": node_ids[0], "type": "node", "role": "stop"},
            ],
            "tags": {
                "type": "route",
                "route": "bus",
                "from": "Bovenau",
                "to": "Kiel",
            },
            "info": rand_info(2),
        }
    )
    # multipolygon with outer/inner roles (ring assembly + PIP tests)
    closed_ways = [w["id"] for w in ways if w["refs"][0] == w["refs"][-1]]
    if len(closed_ways) >= 2:
        relations.append(
            {
                "id": KNOWN_RELATION_ID + 7,
                "members": [
                    {"ref": closed_ways[0], "type": "way", "role": "outer"},
                    {"ref": closed_ways[1], "type": "way", "role": "inner"},
                ],
                "tags": {"type": "multipolygon", "natural": "water"},
                "info": None,
            }
        )
    mp_pool = [w["id"] for w in ways if w["refs"][0] == w["refs"][-1] and len(w["refs"]) >= 4]
    for i in range(max(0, n_relations - len(relations))):
        if i % 8 == 1 and split_groups:
            # split-ring multipolygon: the outer ring spans several OPEN member
            # ways (one reversed) — exercises chain stitching; the group's
            # CONCENTRIC closed inner ring rides along (local bbox)
            group, inner_wid = split_groups[(i // 8) % len(split_groups)]
            members = [{"ref": wid, "type": "way", "role": "outer"} for wid in group]
            members.append({"ref": inner_wid, "type": "way", "role": "inner"})
            relations.append(
                {
                    "id": KNOWN_RELATION_ID + 100 + i,
                    "members": members,
                    "tags": {"type": "multipolygon", "natural": "wetland"},
                    "info": rand_info(i),
                }
            )
            continue
        if i % 8 == 5 and open_way_ids and mp_pool:
            # broken multipolygon: one dangling open member way (degree-1
            # endpoints) next to a valid closed outer — the stitcher must keep
            # the closed ring and drop ALL open-way rings of this relation
            relations.append(
                {
                    "id": KNOWN_RELATION_ID + 100 + i,
                    "members": [
                        {"ref": mp_pool[i % len(mp_pool)], "type": "way", "role": "outer"},
                        {
                            "ref": open_way_ids[(i // 8) % len(open_way_ids)],
                            "type": "way",
                            "role": "outer",
                        },
                    ],
                    "tags": {"type": "multipolygon", "landuse": "basin"},
                    "info": rand_info(i),
                }
            )
            continue
        if i % 4 == 3 and (ring_pairs or len(mp_pool) >= 2):
            # scaled multipolygons: LOCAL concentric outer+inner ring pairs
            # (realistic lake-with-island bboxes); every 5th one instead pairs
            # two FAR-apart rings — the deliberate continent-sized-bbox case
            # that the adaptive multi-resolution cover must absorb
            if ring_pairs and not (i % 20 == 19 and len(mp_pool) >= 2):
                outer, inner = ring_pairs[(i // 4) % len(ring_pairs)]
            else:
                outer = mp_pool[i % len(mp_pool)]
                inner = mp_pool[(i * 7 + 1) % len(mp_pool)]
            relations.append(
                {
                    "id": KNOWN_RELATION_ID + 100 + i,
                    "members": [
                        {"ref": outer, "type": "way", "role": "outer"},
                        {"ref": inner, "type": "way", "role": "inner"},
                    ],
                    "tags": {"type": "multipolygon", "landuse": "forest"},
                    "info": rand_info(i),
                }
            )
            continue
        relations.append(
            {
                "id": KNOWN_RELATION_ID + 100 + i,
                "members": [
                    {"ref": way_ids[i % len(way_ids)], "type": "way", "role": "outer"},
                    # member referencing an external (absent) id — allowed
                    {"ref": 999_999_999_999 + i, "type": "relation", "role": ""},
                ],
                "tags": {"type": "boundary"},
                "info": rand_info(i),
            }
        )
    if n_relations > 3:  # scaled fixtures carry the adversarial stitcher shapes
        _add_adversarial_relations(nodes, ways, relations, rand_info)
        nodes.sort(key=lambda n: n["id"])
        ways.sort(key=lambda w: w["id"])
    relations.sort(key=lambda r: r["id"])

    meta = {
        "bbox": dict(BBOX),
        "required_features": ["OsmSchema-V0.6", "DenseNodes"],
        "optional_features": ["LocationsOnWays"],
        "writingprogram": "openstreetmapio_jl_spark-fixture-0.1",
        "source": "synthetic-seed-42",
        "osmosis_replication_timestamp": 1_700_000_000,
        "osmosis_replication_sequence_number": 4242,
        "osmosis_replication_base_url": "https://example.org/replication",
    }
    return meta, nodes, ways, relations


def make_nested_relations(depth: int):
    """Dedicated deep-nesting fixture: a relation chain ``rel_0 → rel_1 → … →
    rel_{depth-1} → way → nodes`` (each relation's sole member is the next
    relation; the last one references a 3-node way). ``resolve_members`` needs
    ``depth`` frontier rounds to close rel_0's transitive closure, so any
    ``max_depth < depth`` must truncate WITH the RuntimeWarning — the evidence
    that the closure bound fails loudly, not silently."""
    nodes = [
        {"id": 10 + i, "lat": _r7(54.26 + i * 1e-4), "lon": _r7(9.98 + i * 1e-4),
         "tags": None, "info": None}
        for i in range(3)
    ]
    way = {"id": 500, "refs": [10, 11, 12], "tags": {"highway": "path"}, "info": None}
    relations = []
    for i in range(depth):
        member = (
            {"ref": 1000 + i + 1, "type": "relation", "role": ""}
            if i < depth - 1
            else {"ref": 500, "type": "way", "role": "outer"}
        )
        relations.append(
            {"id": 1000 + i, "members": [member],
             "tags": {"type": "site", "name": f"nest level {i}"}, "info": None}
        )
    meta = {
        "bbox": dict(BBOX),
        "required_features": ["OsmSchema-V0.6", "DenseNodes"],
        "optional_features": [],
        "writingprogram": "openstreetmapio_jl_spark-fixture-0.1",
        "source": f"synthetic-nested-{depth}",
    }
    return meta, nodes, [way], relations


# ---------------------------------------------------------------------------
# XML twin (OSM 0.6 schema) — decode(pbf) == decode(xml) invariant target
# ---------------------------------------------------------------------------

def write_fixture_xml(path: str, meta: dict, nodes, ways, relations) -> None:
    """OSM XML equivalent of the PBF fixture. The XML read path drops Info
    (``/root/reference/src/load_xml.jl:215,230,245``), so version/user attrs written
    here are decoration the engine must ignore — preserved asymmetry."""

    def esc(s: str) -> str:
        return xml_escape(s, {'"': "&quot;", "'": "&#39;"})

    lines = ['<?xml version="1.0" encoding="UTF-8"?>']
    lines.append('<osm version="0.6" generator="openstreetmapio_jl_spark-fixture">')
    bb = meta["bbox"]
    lines.append(
        f'  <bounds minlat="{bb["bottom_lat"]}" minlon="{bb["left_lon"]}" '
        f'maxlat="{bb["top_lat"]}" maxlon="{bb["right_lon"]}"/>'
    )
    for n in nodes:
        attrs = f'id="{n["id"]}" lat="{n["lat"]:.7f}" lon="{n["lon"]:.7f}"'
        info = n.get("info")
        if info:
            attrs += f' version="{info["version"]}" user="{esc(info["user"])}"'
        if n.get("tags"):
            lines.append(f"  <node {attrs}>")
            for k, v in n["tags"].items():
                lines.append(f'    <tag k="{esc(k)}" v="{esc(v)}"/>')
            lines.append("  </node>")
        else:
            lines.append(f"  <node {attrs}/>")
    for w in ways:
        lines.append(f'  <way id="{w["id"]}">')
        for ref in w["refs"]:
            lines.append(f'    <nd ref="{ref}"/>')
        for k, v in (w.get("tags") or {}).items():
            lines.append(f'    <tag k="{esc(k)}" v="{esc(v)}"/>')
        lines.append("  </way>")
    for r in relations:
        lines.append(f'  <relation id="{r["id"]}">')
        for m in r["members"]:
            lines.append(
                f'    <member type="{m["type"]}" ref="{m["ref"]}" role="{esc(m["role"])}"/>'
            )
        for k, v in (r.get("tags") or {}).items():
            lines.append(f'    <tag k="{esc(k)}" v="{esc(v)}"/>')
        lines.append("  </relation>")
    lines.append("</osm>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def write_fixture_pbf(path: str, meta, nodes, ways, relations, **kw) -> None:
    writer.write_pbf(path, meta, nodes, ways, relations, **kw)


# ---------------------------------------------------------------------------
# pages table (Common-Crawl-style; BASELINE.json input_hint)
# ---------------------------------------------------------------------------

_PLACES = [
    "Bovenau", "Kiel", "Rendsburg", "Achterwehr", "Melsdorf",
    "Quarnbek", "Felde", "Ottendorf", "Schinkel", "Lindau",
]


def make_pages(
    n: int, seed: int = 42, hot_frac: float = 0.10, *, with_geo: bool = False
) -> pa.Table | tuple[pa.Table, pa.Table]:
    """n synthetic pages. Geocodes: ``hot_frac`` clustered on HOT_CENTER (the skewed
    urban cell), ~half of the rest inside BBOX, the remainder spread worldwide so
    PIP joins have hits and misses (FIXTURES.md §6).

    ``with_geo=True`` additionally returns a (url, lat, lon) table carrying the
    exact doubles a text parse yields (round-tripped through the ``%.7f`` string
    embedded in the page), for building engine-independent cell-truth tables."""
    rng = np.random.default_rng(seed)
    b, l, t, r = BBOX["bottom_lat"], BBOX["left_lon"], BBOX["top_lat"], BBOX["right_lon"]

    n_hot = int(n * hot_frac)
    n_in = int(n * 0.05)  # golden bbox
    n_ext = int(n * 0.50)  # the scaled-fixture EXTENT (real PIP/kNN hit region)
    n_out = n - n_hot - n_in - n_ext
    eb, el, et, er = EXTENT
    lat = np.concatenate(
        [
            HOT_CENTER[0] + rng.uniform(-0.0004, 0.0004, n_hot),
            rng.uniform(b, t, n_in),
            rng.uniform(eb, et, n_ext),
            rng.uniform(-85.0, 85.0, n_out),
        ]
    )
    lon = np.concatenate(
        [
            HOT_CENTER[1] + rng.uniform(-0.0004, 0.0004, n_hot),
            rng.uniform(l, r, n_in),
            rng.uniform(el, er, n_ext),
            rng.uniform(-180.0, 180.0, n_out),
        ]
    )
    lat = np.round(lat, 7)
    lon = np.round(lon, 7)
    order = rng.permutation(n)
    lat, lon = lat[order], lon[order]

    urls, htmls, texts, langs = [], [], [], []
    base_ts = np.datetime64("2025-06-01T00:00:00", "us")
    ts = base_ts + (np.arange(n) * 977_201).astype("timedelta64[us]")
    for i in range(n):
        place = _PLACES[i % len(_PLACES)]
        lang = _LANGS[i % len(_LANGS)]
        html = (
            f"<html><head><title>Page {i} — {place}</title>"
            f"<style>p {{color: red}}</style></head>"
            f"<body><h1>{place} travel notes &amp; tips</h1>"
            f"<p>Visit {place} at geo:{lat[i]:.7f},{lon[i]:.7f} for the views.</p>"
            f"<p>Entry {i % 100} of the {place} series.</p>"
            f"</body></html>"
        )
        urls.append(f"https://example.org/{place.lower()}/page-{i:08d}")
        htmls.append(html.encode("utf-8"))
        texts.append(textfn.extract_text(html))
        langs.append(lang)
    pages = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )
    if not with_geo:
        return pages
    # exact parse-back doubles: what any engine gets from casting the embedded
    # "%.7f" strings — NOT np.round's nearest-double, which can differ in the ulp
    parsed_lat = np.array([float(f"{v:.7f}") for v in lat])
    parsed_lon = np.array([float(f"{v:.7f}") for v in lon])
    geo = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "lat": pa.array(parsed_lat, pa.float64()),
            "lon": pa.array(parsed_lon, pa.float64()),
        }
    )
    return pages, geo


def _truth_cells(page_geo: pa.Table) -> pa.Table:
    """Engine-independent cell truth: S2 level-12 + hex res-9 ids computed with
    direct NumPy calls on the parse-back coordinates — the DuckDB oracle for the
    s2/hex cell-assignment queries reads this file (the vendored curve math is
    not SQL-expressible; what this checks is the distributed UDF path: batching,
    Arrow transfer, null handling, column wiring)."""
    from openstreetmapio_jl_spark.functions import cells as _cells

    lat = np.asarray(page_geo.column("lat"))
    lon = np.asarray(page_geo.column("lon"))
    return pa.table(
        {
            "url": page_geo.column("url"),
            "s2_cell": pa.array(_cells.s2_cell_id(lat, lon), pa.int64()),
            "hex_cell": pa.array(_cells.hex_cell(lat, lon, res=9), pa.int64()),
            "hex_cell_r7": pa.array(_cells.hex_cell(lat, lon, res=7), pa.int64()),
        }
    )


# sf → fixture sizing (documents/lineitem-style scaling per TESTDATA.md)
def sizes_for_sf(sf: float) -> dict[str, int]:
    return {
        "n_nodes": max(612, int(sf * 600_000)),
        "n_ways": max(29, int(sf * 30_000)),
        "n_relations": max(3, int(sf * 3_000)),
        "n_pages": max(500, int(sf * 500_000)),
    }


# ---------------------------------------------------------------------------
# materialized fixture trees (.fixtures/<sf>/...) — source-of-truth parquet for
# the DuckDB oracle + raw pbf/xml/pages inputs for the engine
# ---------------------------------------------------------------------------

def _truth_tables(nodes, ways, relations):
    """Source dicts → truth Arrow tables (what a correct decode must produce).
    ``info`` is intentionally NULL here — oracle queries never compare info (its
    correctness is covered by the golden pytest layer)."""
    from openstreetmapio_jl_spark.sources import xml_source

    nt = pa.Table.from_batches([xml_source.nodes_to_batch(nodes)])
    wt = pa.Table.from_batches([xml_source.ways_to_batch(ways)])
    rt = pa.Table.from_batches([xml_source.relations_to_batch(relations)])
    return nt, wt, rt


def _truth_polygons(nodes, ways) -> pa.Table:
    """Closed ways → polygon rows with edges + bbox, mirroring
    operators.spatial_join.polygons_with_edges semantics exactly."""
    id2pos = {n["id"]: (n["lat"], n["lon"]) for n in nodes}
    ids, edges_col, minlat, maxlat, minlon, maxlon = [], [], [], [], [], []
    for w in ways:
        refs = w["refs"]
        if len(refs) < 4 or refs[0] != refs[-1]:
            continue
        if any(r not in id2pos for r in refs):
            continue
        ring = [id2pos[r] for r in refs]
        n = len(ring)
        edges = [
            {
                "y1": ring[i][0],
                "x1": ring[i][1],
                "y2": ring[(i + 1) % n][0],
                "x2": ring[(i + 1) % n][1],
            }
            for i in range(n)
        ]
        ids.append(w["id"])
        edges_col.append(edges)
        lats = [p[0] for p in ring]
        lons = [p[1] for p in ring]
        minlat.append(min(lats))
        maxlat.append(max(lats))
        minlon.append(min(lons))
        maxlon.append(max(lons))
    edge_type = pa.list_(
        pa.struct(
            [
                pa.field("y1", pa.float64()),
                pa.field("x1", pa.float64()),
                pa.field("y2", pa.float64()),
                pa.field("x2", pa.float64()),
            ]
        )
    )
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "edges": pa.array(edges_col, edge_type),
            "min_lat": pa.array(minlat, pa.float64()),
            "max_lat": pa.array(maxlat, pa.float64()),
            "min_lon": pa.array(minlon, pa.float64()),
            "max_lon": pa.array(maxlon, pa.float64()),
        }
    )


def _truth_multipolygons(nodes, ways, relations) -> pa.Table:
    """type=multipolygon relations → PIP-ready polygon rows (id, edges, bbox),
    mirroring ``assemble_multipolygons`` semantics exactly — including the
    open-member-way stitching accept rule (every endpoint node id occurring an
    EVEN number of times among the relation's resolvable open ways: degree 2 is
    a plain chain junction, degree 4 two rings touching at a shared node; any
    odd degree — dangling end, 3-way junction — rejects ALL open-way rings).

    Edges are emitted PER WAY as consecutive-point segments: the engine's
    stitched-chain representation only adds zero-length junction/wrap edges on
    top of these, and zero-length edges can never satisfy the ray-cast crossing
    test (the crossing predicate is also symmetric under endpoint swap, so way
    orientation is irrelevant) — identical hit parity by construction."""
    id2pos = {n["id"]: (n["lat"], n["lon"]) for n in nodes}
    wby = {w["id"]: w for w in ways}
    ids, edges_col, minlat, maxlat, minlon, maxlon = [], [], [], [], [], []
    for rel in relations:
        tags = rel.get("tags") or {}
        if tags.get("type") != "multipolygon":
            continue
        closed_rings: list[list[tuple]] = []
        open_ways: list[tuple[list, list]] = []
        for m in rel["members"]:
            if m["type"] != "way" or m["role"] not in ("outer", "inner", ""):
                continue
            w = wby.get(m["ref"])
            if w is None:
                continue
            refs = w["refs"]
            if w.get("positions"):
                pts = [(p[0], p[1]) for p in w["positions"]]
            elif all(r in id2pos for r in refs):
                pts = [id2pos[r] for r in refs]
            else:
                continue
            if len(refs) >= 4 and refs[0] == refs[-1]:
                closed_rings.append(pts)
            else:
                open_ways.append((refs, pts))
        deg: dict = {}
        for refs, _ in open_ways:
            deg[refs[0]] = deg.get(refs[0], 0) + 1
            deg[refs[-1]] = deg.get(refs[-1], 0) + 1
        include_open = bool(open_ways) and all(c % 2 == 0 for c in deg.values())
        rings = closed_rings + ([pts for _, pts in open_ways] if include_open else [])
        if not rings:
            continue
        edges = []
        lats = []
        ivs = []  # per-ring lon intervals (wrap detection needs gap structure)
        for pts in rings:
            for i in range(len(pts) - 1):
                (y1, x1), (y2, x2) = pts[i], pts[i + 1]
                edges.append({"y1": y1, "x1": x1, "y2": y2, "x2": x2})
            lats.extend(p[0] for p in pts)
            ivs.append((min(p[1] for p in pts), max(p[1] for p in pts)))
        ids.append(rel["id"])
        edges_col.append(edges)
        minlat.append(min(lats))
        maxlat.append(max(lats))
        # wrapped-bbox convention, mirroring geo.lon_bounds_cols: rings whose
        # whole interval is negative shift +360; if the shifted union is
        # strictly tighter than a >180-degree plain union, store min_lon >
        # max_lon (antimeridian straddle). Granularity note: the engine
        # computes intervals per STITCHED CHAIN while this uses per-way
        # intervals — identical whenever each member way sits on one side of
        # lon 0 for every >180-degree-span relation (all fixtures hold this).
        amin, amax = min(iv[0] for iv in ivs), max(iv[1] for iv in ivs)
        smin = min(iv[0] + 360.0 if iv[1] < 0 else iv[0] for iv in ivs)
        smax = max(iv[1] + 360.0 if iv[1] < 0 else iv[1] for iv in ivs)
        if (amax - amin) > 180.0 and (smax - smin) < (amax - amin):
            minlon.append(smin - 360.0 if smin > 180.0 else smin)
            maxlon.append(smax - 360.0 if smax > 180.0 else smax)
        else:
            minlon.append(amin)
            maxlon.append(amax)
    edge_type = pa.list_(
        pa.struct(
            [
                pa.field("y1", pa.float64()),
                pa.field("x1", pa.float64()),
                pa.field("y2", pa.float64()),
                pa.field("x2", pa.float64()),
            ]
        )
    )
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "edges": pa.array(edges_col, edge_type),
            "min_lat": pa.array(minlat, pa.float64()),
            "max_lat": pa.array(maxlat, pa.float64()),
            "min_lon": pa.array(minlon, pa.float64()),
            "max_lon": pa.array(maxlon, pa.float64()),
        }
    )


def materialize_fixtures(sf: float, out_dir: str, *, seed: int = 42) -> dict[str, str]:
    """Idempotent: builds the full fixture tree for one scale factor (no Spark).

    Returns a path dict. Layout::

        <out_dir>/fixture.pbf, fixture.osm, pages.parquet,
        truth/{nodes,ways,relations,polygons}.parquet, _COMPLETE
    """
    import os

    import pyarrow.parquet as pq

    paths = {
        "pbf": f"{out_dir}/fixture.pbf",
        "osm": f"{out_dir}/fixture.osm",
        "pages": f"{out_dir}/pages.parquet",
        "truth_nodes": f"{out_dir}/truth/nodes.parquet",
        "truth_ways": f"{out_dir}/truth/ways.parquet",
        "truth_relations": f"{out_dir}/truth/relations.parquet",
        "truth_polygons": f"{out_dir}/truth/polygons.parquet",
        "truth_multipolygons": f"{out_dir}/truth/multipolygons.parquet",
        "truth_cells": f"{out_dir}/truth/cells.parquet",
    }
    marker = f"{out_dir}/_COMPLETE"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == GENERATOR_VERSION:
                return paths
    os.makedirs(f"{out_dir}/truth", exist_ok=True)
    sizes = sizes_for_sf(sf)
    meta, nodes, ways, rels = make_osm(
        seed=seed,
        n_nodes=sizes["n_nodes"],
        n_ways=sizes["n_ways"],
        n_relations=sizes["n_relations"],
    )
    write_fixture_pbf(paths["pbf"], meta, nodes, ways, rels, nodes_per_block=8000)
    write_fixture_xml(paths["osm"], meta, nodes, ways, rels)
    # small row groups: Spark assigns row groups to byte-range splits by midpoint,
    # so a single-row-group file is effectively ONE task no matter the cluster size
    pages, page_geo = make_pages(sizes["n_pages"], seed=seed, with_geo=True)
    pq.write_table(pages, paths["pages"], row_group_size=16384)
    pq.write_table(_truth_cells(page_geo), paths["truth_cells"], row_group_size=16384)
    nt, wt, rt = _truth_tables(nodes, ways, rels)
    pq.write_table(nt, paths["truth_nodes"], row_group_size=16384)
    pq.write_table(wt, paths["truth_ways"], row_group_size=16384)
    pq.write_table(rt, paths["truth_relations"], row_group_size=16384)
    pq.write_table(_truth_polygons(nodes, ways), paths["truth_polygons"], row_group_size=16384)
    pq.write_table(
        _truth_multipolygons(nodes, ways, rels),
        paths["truth_multipolygons"],
        row_group_size=16384,
    )
    with open(marker, "w") as f:
        f.write(GENERATOR_VERSION + "\n")
    return paths
