"""Round-2 regression tests: transform-during-decode, salt-key behavior,
open-way multipolygon stitching, persist discipline, hot-shingle guard,
short-document shingling, and lineage key validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.operators import dedup, knn, members
from openstreetmapio_jl_spark.operators import spatial_join as SJ
from openstreetmapio_jl_spark.operators.predicates import ElementTransform


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# ---------------------------------------------------------------------------
# ElementTransform: kernel form == Column form (the rebuild-callback contract)
# ---------------------------------------------------------------------------

def _canon_tagged(df):
    return sorted(
        (r.id, tuple(sorted((r.tags or {}).items())))
        for r in df.select("id", "tags").collect()
    )


def test_transform_kernel_matches_column(spark, fixture_pbf):
    from openstreetmapio_jl_spark.sources.pbf_source import read_pbf

    tf = ElementTransform(
        set_tags={"injected": "yes", "addr:country": "XX"},
        drop_tags=["addr:city"],
    )
    plain = read_pbf(spark, fixture_pbf)
    kernel = read_pbf(spark, fixture_pbf, node_transform=tf)
    expected = tf.apply_column(plain.nodes)
    assert _canon_tagged(kernel.nodes) == _canon_tagged(expected)
    # injection reaches EVERY node, including ones decoded with NULL tags
    n = kernel.nodes.count()
    assert kernel.nodes.filter(F.col("tags")["injected"] == "yes").count() == n
    # overwrite semantics: no node keeps the original DE value
    assert kernel.nodes.filter(F.col("tags")["addr:country"] == "DE").count() == 0
    assert kernel.nodes.filter(F.col("tags")["addr:city"].isNotNull()).count() == 0


def test_transform_single_pass_union_path(spark, fixture_pbf):
    from openstreetmapio_jl_spark.sources.pbf_source import read_pbf

    tf = ElementTransform(set_tags={"source": "transformed"})
    b = read_pbf(spark, fixture_pbf, way_transform=tf, single_pass=True)
    try:
        n = b.ways.count()
        assert b.ways.filter(F.col("tags")["source"] == "transformed").count() == n
        # other kinds untouched
        assert b.nodes.filter(F.col("tags")["source"].isNotNull()).count() == 0
    finally:
        b.union.unpersist()


def test_transform_drop_only_keeps_null_tags_null(spark):
    df = spark.createDataFrame(
        [(1, {"a": "1", "b": "2"}), (2, None)],
        "id long, tags map<string,string>",
    )
    tf = ElementTransform(drop_tags=["a"])
    rows = {r.id: r.tags for r in tf.apply_column(df).collect()}
    assert rows[1] == {"b": "2"}
    assert rows[2] is None


# ---------------------------------------------------------------------------
# salt key: duplicate coordinates must still spread across salt buckets
# ---------------------------------------------------------------------------

def test_salt_key_spreads_duplicate_coordinates(spark):
    # the web-corpus skew case: many pages citing ONE landmark coordinate
    pts = spark.createDataFrame(
        [(f"https://example.org/p{i}", 50.0, 8.0) for i in range(64)],
        "url string, lat double, lon double",
    )
    nsalt = 8
    n_by_url = (
        pts.select(F.pmod(F.hash("url"), F.lit(nsalt)).alias("s")).distinct().count()
    )
    n_by_coord = (
        pts.select(F.pmod(F.hash("lat", "lon"), F.lit(nsalt)).alias("s"))
        .distinct()
        .count()
    )
    assert n_by_coord == 1  # the old key: the hot key survives salting
    assert n_by_url >= nsalt - 2  # the fix: near-full bucket coverage


def test_salted_pip_join_result_unchanged_with_duplicate_coords(spark):
    ring = [(49.9, 7.9), (49.9, 8.1), (50.1, 8.1), (50.1, 7.9), (49.9, 7.9)]
    rings = spark.createDataFrame(
        [(1, {"landuse": "test"}, [{"lat": a, "lon": o} for a, o in ring])],
        "id long, tags map<string,string>, ring array<struct<lat:double,lon:double>>",
    )
    polys = SJ.polygons_with_edges(rings)
    pts = spark.createDataFrame(
        [(f"u{i}", 50.0, 8.0) for i in range(32)] + [("out", 20.0, 20.0)],
        "url string, lat double, lon double",
    )
    plain = SJ.point_in_polygon_join(pts, polys, zoom=10, nsalt=0)
    salted = SJ.point_in_polygon_join(
        pts, polys, zoom=10, nsalt=8, salt_id_col="url"
    )
    want = {(r.url, r.polygon_id) for r in plain.select("url", "polygon_id").collect()}
    got = {(r.url, r.polygon_id) for r in salted.select("url", "polygon_id").collect()}
    assert got == want
    assert len(want) == 32  # all duplicates inside, "out" excluded


# ---------------------------------------------------------------------------
# open-way multipolygon stitching
# ---------------------------------------------------------------------------

def _mk_ways(spark, rows):
    return spark.createDataFrame(
        rows,
        "id long, refs array<bigint>, tags map<string,string>, "
        "positions array<struct<lat:double,lon:double>>",
    )


def _mk_nodes(spark, coords):
    return spark.createDataFrame(
        [(nid, lat, lon) for nid, (lat, lon) in coords.items()],
        "id long, lat double, lon double",
    )


@pytest.fixture(scope="module")
def stitch_world(spark):
    # square ring through nodes 1-2-3-4 split into three open ways; way 102 is
    # written REVERSED so the stitcher must re-orient it
    coords = {
        1: (0.0, 0.0), 2: (0.0, 1.0), 3: (1.0, 1.0), 4: (1.0, 0.0),
        10: (5.0, 5.0), 11: (5.0, 6.0),
    }
    ways = _mk_ways(
        spark,
        [
            (101, [1, 2], {"name": "seg0"}, None),
            (102, [3, 2], {"name": "seg1-reversed"}, None),
            (103, [3, 4, 1], {"name": "seg2"}, None),
            (104, [10, 11], {"name": "dangling"}, None),
        ],
    )
    nodes = _mk_nodes(spark, coords)
    return nodes, ways


def _mk_rels(spark, rows):
    return spark.createDataFrame(
        rows,
        "id long, tags map<string,string>, "
        "members array<struct<ref:bigint,type:string,role:string>>",
    )


def test_stitching_chains_and_orients_open_ways(spark, stitch_world):
    nodes, ways = stitch_world
    rels = _mk_rels(
        spark,
        [(7, {"type": "multipolygon"}, [
            {"ref": 101, "type": "way", "role": "outer"},
            {"ref": 102, "type": "way", "role": "outer"},
            {"ref": 103, "type": "way", "role": "outer"},
        ])],
    )
    rings = SJ.assemble_polygon_rings(ways, nodes)
    lines = SJ.assemble_way_lines(ways, nodes)
    mp = SJ.assemble_multipolygons(rels, rings, lines).collect()
    assert len(mp) == 1
    r = mp[0]
    # concatenation convention: n_edges == sum(len(refs)) == 2 + 2 + 3
    assert len(r.edges) == 7
    assert (r.min_lat, r.max_lat, r.min_lon, r.max_lon) == (0.0, 1.0, 0.0, 1.0)
    # the stitched ring is a working polygon: PIP hits inside, misses outside
    pts = spark.createDataFrame(
        [("in", 0.5, 0.5), ("out", 3.0, 3.0)], "url string, lat double, lon double"
    )
    mp_df = SJ.assemble_multipolygons(rels, rings, lines)
    hits = SJ.point_in_polygon_join(pts, mp_df, zoom=6)
    assert {(h.url, h.polygon_id) for h in hits.select("url", "polygon_id").collect()} == {("in", 7)}


def test_stitching_drops_unclosable_relation_but_keeps_closed_rings(spark, stitch_world):
    nodes, ways = stitch_world
    closed_way = _mk_ways(
        spark, [(200, [1, 2, 3, 4, 1], {"name": "closed"}, None)]
    )
    all_ways = ways.unionByName(closed_way)
    rels = _mk_rels(
        spark,
        [(8, {"type": "multipolygon"}, [
            {"ref": 200, "type": "way", "role": "outer"},
            {"ref": 104, "type": "way", "role": "outer"},  # dangling: degree-1 ends
        ])],
    )
    rings = SJ.assemble_polygon_rings(all_ways, nodes)
    lines = SJ.assemble_way_lines(all_ways, nodes)
    mp = SJ.assemble_multipolygons(rels, rings, lines).collect()
    # closed member ring survives; ALL open-way rings of the relation drop
    assert len(mp) == 1
    assert len(mp[0].edges) == 5  # the closed way only


def test_stitching_rejects_three_way_junction(spark):
    # three ways meeting at node 1 (degree 3): unsupported, all-or-nothing drop
    coords = {1: (0.0, 0.0), 2: (0.0, 1.0), 3: (1.0, 0.0), 4: (1.0, 1.0)}
    ways = _mk_ways(
        spark,
        [
            (301, [1, 2], None, None),
            (302, [1, 3], None, None),
            (303, [1, 4], None, None),
        ],
    )
    nodes = _mk_nodes(spark, coords)
    rels = _mk_rels(
        spark,
        [(9, {"type": "multipolygon"}, [
            {"ref": 301, "type": "way", "role": "outer"},
            {"ref": 302, "type": "way", "role": "outer"},
            {"ref": 303, "type": "way", "role": "outer"},
        ])],
    )
    rings = SJ.assemble_polygon_rings(ways, nodes)
    lines = SJ.assemble_way_lines(ways, nodes)
    assert SJ.assemble_multipolygons(rels, rings, lines).count() == 0


def test_way_lines_use_positions_when_present(spark):
    ways = _mk_ways(
        spark,
        [(401, [91, 92], None, [{"lat": 2.0, "lon": 3.0}, {"lat": 4.0, "lon": 5.0}])],
    )
    nodes = _mk_nodes(spark, {})  # refs unresolvable — positions must win
    lines = SJ.assemble_way_lines(ways, nodes).collect()
    assert len(lines) == 1
    assert list(lines[0].lats) == [2.0, 4.0]
    assert list(lines[0].lons) == [3.0, 5.0]


# ---------------------------------------------------------------------------
# adaptive multi-resolution tile cover
# ---------------------------------------------------------------------------

def test_adaptive_cover_bounds_keys_and_matches_exact_join(spark):
    # one LOCAL polygon + one CONTINENT-spanning polygon (two far rings —
    # the shape whose z13 cover would explode into ~10^5 tiles)
    ring_a = [(10.0, 10.0), (10.0, 10.1), (10.1, 10.1), (10.1, 10.0), (10.0, 10.0)]
    ring_b = [(40.0, -5.0), (40.0, 20.0), (60.0, 20.0), (60.0, -5.0), (40.0, -5.0)]
    rings = spark.createDataFrame(
        [
            (1, None, [{"lat": a, "lon": o} for a, o in ring_a]),
            (2, None, [{"lat": a, "lon": o} for a, o in ring_b]),
        ],
        "id long, tags map<string,string>, ring array<struct<lat:double,lon:double>>",
    )
    polys = SJ.polygons_with_edges(rings)
    lvl, keys = SJ.adaptive_cover_cols(
        F.col("min_lat"), F.col("max_lat"), F.col("min_lon"), F.col("max_lon"), z=13
    )
    sizes = {
        r.id: (r.l, r.s)
        for r in polys.select("id", lvl.alias("l"), F.size(keys).alias("s")).collect()
    }
    assert sizes[1][0] == 13  # local polygon keeps full resolution
    assert sizes[2][0] < 13  # continental polygon coarsens
    assert all(s <= 81 for _, s in sizes.values())  # bounded cover everywhere

    pts = spark.createDataFrame(
        [("in_a", 10.05, 10.05), ("in_b", 50.0, 8.0), ("out", -30.0, -100.0)],
        "url string, lat double, lon double",
    )
    def hitset(**kw):
        df = SJ.point_in_polygon_join(pts, polys, zoom=13, **kw)
        return {(r.url, r.polygon_id) for r in df.select("url", "polygon_id").collect()}

    want = {("in_a", 1), ("in_b", 2)}
    assert hitset(adaptive_cover=True) == want
    # brute-force twin (bbox+raycast cross join) agrees
    brute = (
        pts.crossJoin(polys.withColumnRenamed("id", "polygon_id"))
        .filter(
            F.col("lat").between(F.col("min_lat"), F.col("max_lat"))
            & F.col("lon").between(F.col("min_lon"), F.col("max_lon"))
        )
        .filter(__import__("openstreetmapio_jl_spark.functions.geo", fromlist=["geo"]).pip_crossings_col(
            F.col("lat"), F.col("lon"), F.col("edges")))
    )
    assert {(r.url, r.polygon_id) for r in brute.select("url", "polygon_id").collect()} == want


def test_adaptive_cover_agrees_with_static_cover_at_its_level(spark):
    """The shifted-range adaptive cover must produce exactly the key set the
    static cover yields at the chosen coarse level — including the
    antimeridian-crosser branch (two x-bands, no wrap-the-world explosion)."""
    polys = spark.createDataFrame(
        [(1, 40.0, 60.0, -5.0, 20.0), (2, -10.0, 10.0, 179.0, -179.0)],
        "id long, min_lat double, max_lat double, min_lon double, max_lon double",
    )
    # crosser convention matches tile_cover_bbox: a WRAPPED bbox is stored as
    # min_lon > max_lon (min = west bound, max = east bound — the
    # geo.lon_bounds_cols convention)
    lvl, keys = SJ.adaptive_cover_cols(
        F.col("min_lat"), F.col("max_lat"), F.col("min_lon"), F.col("max_lon"), z=13
    )
    got = {
        r.id: (r.l, sorted(r.k))
        for r in polys.select("id", lvl.alias("l"), keys.alias("k")).collect()
    }
    for pid in (1, 2):
        level, adaptive_keys = got[pid]
        assert level < 13
        assert len(adaptive_keys) <= 81
        static = polys.filter(F.col("id") == pid).select(
            SJ.tile_cover_bbox(
                F.col("min_lat"), F.col("max_lat"), F.col("min_lon"), F.col("max_lon"),
                z=level,
            ).alias("k")
        ).collect()[0].k
        assert adaptive_keys == sorted(static)


# ---------------------------------------------------------------------------
# persist discipline in iterative operators
# ---------------------------------------------------------------------------

def test_knn_join_handles_release_all_storage(spark):
    base = _n_persisted(spark)
    queries = spark.createDataFrame(
        [(i, 50.0 + i * 0.001, 8.0) for i in range(6)],
        "query_id long, lat double, lon double",
    )
    corpus = spark.createDataFrame(
        [(100 + i, 50.0 + i * 0.3, 8.0 + i * 0.3) for i in range(10)],
        "id long, lat double, lon double",
    )
    handles: list = []
    out = knn.knn_join(queries, corpus, k=3, zoom=10, max_rounds=4, handles=handles)
    assert out.count() == 18
    # every persisted handle is surfaced: corpus + per-round survivor sets
    assert handles
    assert _n_persisted(spark) - base <= len(handles)
    for h in handles:
        h.unpersist(blocking=True)
    assert _n_persisted(spark) == base


def test_resolve_members_handles_and_truncation_warning(spark):
    # chain: rel 1 -> rel 2 -> rel 3 -> rel 4 -> node 99
    rels = _mk_rels(
        spark,
        [
            (1, None, [{"ref": 2, "type": "relation", "role": ""}]),
            (2, None, [{"ref": 3, "type": "relation", "role": ""}]),
            (3, None, [{"ref": 4, "type": "relation", "role": ""}]),
            (4, None, [{"ref": 99, "type": "node", "role": ""}]),
        ],
    )
    ways = _mk_ways(spark, [])
    handles: list = []
    full = members.resolve_members(rels, ways, max_depth=10, handles=handles)
    assert full.filter(
        (F.col("root_id") == 1) & (F.col("member_id") == 99)
    ).count() == 1
    assert handles
    # release storage by the specific RDD ids the handles pin (a global
    # persisted-count equality is racy: the ContextCleaner GCs earlier tests'
    # unreferenced checkpoints at arbitrary moments)
    pinned = {h.rdd_id for h in handles}
    jpersisted = spark.sparkContext._jsc.getPersistentRDDs()
    assert pinned <= {int(k) for k in jpersisted.keySet().toArray()}
    for h in handles:
        h.unpersist(blocking=True)
    jpersisted = spark.sparkContext._jsc.getPersistentRDDs()
    assert not (pinned & {int(k) for k in jpersisted.keySet().toArray()})

    with pytest.warns(RuntimeWarning, match="truncated at max_depth"):
        members.resolve_members(rels, ways, max_depth=1).count()


# ---------------------------------------------------------------------------
# dedup: hot-shingle guard + short-document behavior
# ---------------------------------------------------------------------------

def test_hot_shingle_guard_preserves_real_pairs(spark):
    boiler = " copyright example footer"
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the dog" + boiler),
            (2, "the quick brown fox jumps over the dog" + boiler),
            (3, "completely unrelated text about spark" + boiler),
            (4, "another different document on geometry" + boiler),
        ],
        "doc_id long, text string",
    )
    plain = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    guarded = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=3)
    want = {(r.id_a, r.id_b) for r in plain.select("id_a", "id_b").collect()}
    got = {(r.id_a, r.id_b) for r in guarded.select("id_a", "id_b").collect()}
    assert (1, 2) in got  # the real near-dup pair survives the guard
    assert got <= want | {(1, 2)}
    # the guard strips universal boilerplate shingles from the join input
    sh_all = docs.select(
        F.explode(F.array_distinct(dedup.char_shingles(F.col("text")))).alias("s")
    )
    universal = (
        sh_all.groupBy("s").count().filter(F.col("count") >= 4).count()
    )
    assert universal > 0  # the skew actually exists in this fixture


def test_short_docs_have_no_shingles_or_signatures(spark):
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "abcd"), (3, "abcde"), (4, "abcde")],
        "doc_id long, text string",
    )
    sh = docs.select(
        "doc_id", F.size(dedup.char_shingles(F.col("text"), 5)).alias("n")
    ).collect()
    assert {r.doc_id: r.n for r in sh} == {1: 0, 2: 0, 3: 1, 4: 1}
    buckets = dedup.minhash_lsh_buckets(docs)
    assert {(r.min_id, r.max_id) for r in buckets.select("min_id", "max_id").collect()} == {(3, 4)}


# ---------------------------------------------------------------------------
# lineage chunk-key validation
# ---------------------------------------------------------------------------

def test_lineage_rejects_path_breaking_chunk_keys(spark, tmp_path):
    from openstreetmapio_jl_spark.plans import lineage

    for bad in ("a/b", "k=v", "x*y", "", "a b"):
        with pytest.raises(ValueError, match="invalid chunk key"):
            lineage.run_resumable(
                spark,
                [bad],
                lambda k: spark.range(1),
                out_dir=str(tmp_path / "out"),
                lineage_dir=str(tmp_path / "lin"),
            )
    assert lineage.validate_chunk_key("blob_0001.k-2") == "blob_0001.k-2"


# ---------------------------------------------------------------------------
# temporal band join
# ---------------------------------------------------------------------------

def test_band_join_matches_bruteforce_at_boundaries(spark):
    from openstreetmapio_jl_spark.operators import temporal

    # gap 60s; pairs engineered to straddle bin boundaries and hit the exact
    # band edge (dt == gap kept, dt == gap+1 dropped)
    base = 1_700_000_000
    lrows = [(1, base), (2, base + 59), (3, base + 121), (4, base + 240)]
    rrows = [(10, base + 60), (11, base + 119), (12, base + 180), (13, base + 301)]
    l = spark.createDataFrame(
        [(i, __import__("datetime").datetime.utcfromtimestamp(t)) for i, t in lrows],
        "l_id long, l_ts timestamp",
    )
    r = spark.createDataFrame(
        [(i, __import__("datetime").datetime.utcfromtimestamp(t)) for i, t in rrows],
        "r_id long, r_ts timestamp",
    )
    got = {
        (x.l_id, x.r_id)
        for x in temporal.band_join(
            l, r, left_ts="l_ts", right_ts="r_ts", gap_s=60
        ).collect()
    }
    want = {
        (li, ri)
        for li, lt in lrows
        for ri, rt in rrows
        if abs(lt - rt) <= 60
    }
    assert got == want
    assert (1, 10) in want  # dt == gap exactly: kept
    assert (4, 13) not in want and abs(240 - 301) == 61  # gap+1: dropped
    # duplicates impossible: result size equals distinct pair count
    rows = temporal.band_join(
        l, r, left_ts="l_ts", right_ts="r_ts", gap_s=60
    ).count()
    assert rows == len(want)


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------

def test_ivf_pairs_unique_and_cos_exact(spark):
    """Each (query, neighbor) pair meets at most once through the inverted
    lists, and the re-ranked cosines equal the brute-force values."""
    import numpy as np

    from openstreetmapio_jl_spark.operators import similarity

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 6)
    ivf = similarity.ivf_cosine_topk(
        q, df, k=3, n_lists=4, nprobe=2, dim=8, seed=7
    ).collect()
    pairs = [(r.query_id, r.neighbor_id) for r in ivf]
    assert len(pairs) == len(set(pairs))  # no duplicate meetings
    assert {r.query_id for r in ivf} == set(range(6))
    brute = {
        (r.query_id, r.neighbor_id): r.cos
        for r in similarity.cosine_topk(q, df, k=40).collect()
    }
    for r in ivf:
        assert brute[(r.query_id, r.neighbor_id)] == r.cos
        assert 1 <= r.rank <= 3
