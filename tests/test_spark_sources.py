"""Spark-level source tests: parallel decode, cross-format differential, predicate
pushdown (the reference's callback-contract layer, ``test/test_load_pbf.jl:64-302``)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from openstreetmapio_jl_spark.fixtures import generator as G
from openstreetmapio_jl_spark.operators.predicates import ElementPredicate
from openstreetmapio_jl_spark.sources.pbf_source import read_pbf, read_pbf_kind
from openstreetmapio_jl_spark.sources.xml_source import read_osm


@pytest.fixture(scope="module")
def pbf_bundle(spark, fixture_pbf):
    return read_pbf(spark, fixture_pbf)


@pytest.fixture(scope="module")
def xml_bundle(spark, fixture_xml):
    return read_osm(spark, fixture_xml)


def test_counts_match_source(pbf_bundle, osm_data):
    _, nodes, ways, rels = osm_data
    assert pbf_bundle.nodes.count() == len(nodes)
    assert pbf_bundle.ways.count() == len(ways)
    assert pbf_bundle.relations.count() == len(rels)


def test_cross_format_equality(pbf_bundle, xml_bundle):
    """decode(pbf) == decode(xml) on id/lat/lon/tags/refs/members
    (``test/test_load_xml.jl:222-256``)."""
    pn = {r["id"]: r for r in pbf_bundle.nodes.collect()}
    xn = {r["id"]: r for r in xml_bundle.nodes.collect()}
    assert set(pn) == set(xn)
    for nid in pn:
        a, b = pn[nid], xn[nid]
        assert (a.lat, a.lon) == (b.lat, b.lon), nid
        assert a.tags == b.tags, nid
        assert b.info is None  # XML drops info (src/load_xml.jl:215)
    pw = {r["id"]: r for r in pbf_bundle.ways.collect()}
    xw = {r["id"]: r for r in xml_bundle.ways.collect()}
    assert set(pw) == set(xw)
    for wid in pw:
        assert pw[wid].refs == xw[wid].refs
        assert pw[wid].tags == xw[wid].tags
    pr = {r["id"]: r for r in pbf_bundle.relations.collect()}
    xr = {r["id"]: r for r in xml_bundle.relations.collect()}
    assert set(pr) == set(xr)
    for rid in pr:
        assert pr[rid].members == xr[rid].members
        assert pr[rid].tags == xr[rid].tags


def test_bbox_meta(pbf_bundle, xml_bundle):
    assert pbf_bundle.meta["bbox"] == pytest.approx(
        xml_bundle.meta["bbox"], abs=1e-6
    ) or pbf_bundle.meta["bbox"] == xml_bundle.meta["bbox"]


@pytest.mark.parametrize("layout", ["fixture", "no_bounds", "overpass_header"])
def test_xml_header_meta_equals_full_parse(spark, tmp_path, fixture_xml, layout):
    """``read_osm`` takes its meta from the header (an iterparse that stops at
    the first entity), not from a tree of the whole first file; it must equal
    the full parse's meta."""
    import re

    from openstreetmapio_jl_spark.sources.xml_source import parse_osm_xml

    text = open(fixture_xml, encoding="utf-8").read()
    if layout == "no_bounds":
        text = re.sub(r"\s*<bounds[^>]*/>", "", text)
    elif layout == "overpass_header":
        text = re.sub(
            r"(<osm [^>]*>)",
            r'\1<note>ODbL</note><meta osm_base="2024-01-01T00:00:00Z"/>',
            text,
        )
    path = tmp_path / f"{layout}.osm"
    path.write_text(text, encoding="utf-8")
    meta = read_osm(spark, str(path)).meta
    assert meta == parse_osm_xml(str(path))["meta"]
    assert ("bbox" in meta) == (layout != "no_bounds")
    if layout == "overpass_header":
        assert meta["meta"] == {"osm_base": "2024-01-01T00:00:00Z"}


def test_kernel_predicate_equals_catalyst_filter(spark, fixture_pbf, pbf_bundle):
    """Kernel pushdown and declarative filter produce identical row sets —
    the filter-correctness contract (``test/test_load_pbf.jl:100-119``)."""
    pred = ElementPredicate(tag_equals={"amenity": "restaurant"})
    pushed = read_pbf_kind(spark, fixture_pbf, "nodes", predicate=pred)
    declarative = pbf_bundle.nodes.filter(pred.column())
    got = sorted(r["id"] for r in pushed.collect())
    want = sorted(r["id"] for r in declarative.collect())
    assert got == want and len(got) > 0


def test_bbox_predicate(spark, fixture_pbf, pbf_bundle):
    bb = G.BBOX
    mid_lat = (bb["bottom_lat"] + bb["top_lat"]) / 2
    pred = ElementPredicate(bbox=(bb["bottom_lat"], bb["left_lon"], mid_lat, bb["right_lon"]))
    pushed = read_pbf_kind(spark, fixture_pbf, "nodes", predicate=pred)
    want = pbf_bundle.nodes.filter(
        F.col("lat").between(bb["bottom_lat"], mid_lat)
        & F.col("lon").between(bb["left_lon"], bb["right_lon"])
    )
    assert pushed.count() == want.count() > 0


def test_min_refs_predicate(spark, fixture_pbf, pbf_bundle):
    """size(refs) > 10 semantics (``test/test_load_pbf.jl:163-178``)."""
    pred = ElementPredicate(min_refs=10)
    pushed = read_pbf_kind(spark, fixture_pbf, "ways", predicate=pred)
    want = pbf_bundle.ways.filter(F.size("refs") > 10)
    assert pushed.count() == want.count() > 0


def test_has_tag_predicate(spark, fixture_pbf, pbf_bundle):
    pred = ElementPredicate(has_tags=["highway"])
    pushed = read_pbf_kind(spark, fixture_pbf, "ways", predicate=pred)
    want = pbf_bundle.ways.filter(F.col("tags")["highway"].isNotNull())
    assert pushed.count() == want.count() > 0


def test_tagless_nodes_null_map(pbf_bundle):
    """no tags ⇒ NULL map, not empty map (``src/load_pbf.jl:558-560``)."""
    n_null = pbf_bundle.nodes.filter(F.col("tags").isNull()).count()
    n_empty = pbf_bundle.nodes.filter(
        F.col("tags").isNotNull() & (F.size("tags") == 0)
    ).count()
    assert n_null > 0 and n_empty == 0


def test_group_by_poi_type(pbf_bundle):
    """The docs example: POI group-by-value count + top-k
    (``docs/src/examples.md:127-141``)."""
    top = (
        pbf_bundle.nodes.filter(F.col("tags")["amenity"].isNotNull())
        .groupBy(F.col("tags")["amenity"].alias("amenity"))
        .count()
        .orderBy(F.desc("count"), "amenity")
        .limit(10)
        .collect()
    )
    assert len(top) > 0
    assert top[0]["count"] >= top[-1]["count"]


def test_header_only_pbf_reads_empty(spark, tmp_path, osm_data):
    """A PBF with an OSMHeader and zero data blobs: empty index, empty union
    with the union schema, empty entity frames, meta still read."""
    from openstreetmapio_jl_spark import model
    from openstreetmapio_jl_spark.sources.pbf_source import blob_index_df, read_pbf_union

    meta = osm_data[0]
    path = str(tmp_path / "header_only.pbf")
    G.write_fixture_pbf(path, meta, [], [], [])
    index_df, index_meta = blob_index_df(spark, path)
    assert index_df.count() == 0 and index_meta["bbox"]
    union, _ = read_pbf_union(spark, path)
    union_schema = spark.createDataFrame([], model.UNION_DDL).schema
    assert union.schema.simpleString() == union_schema.simpleString()
    assert union.count() == 0
    for single_pass in (False, True):
        b = read_pbf(spark, path, single_pass=single_pass)
        assert [b.nodes.count(), b.ways.count(), b.relations.count()] == [0, 0, 0]
        assert b.meta == index_meta
        if b.union is not None:
            b.union.unpersist()


def test_three_scan_read_caches_nothing(spark, fixture_pbf):
    """The default three-scan ``read_pbf`` stays lazy: no entity frame's
    optimized plan reads an ``InMemoryRelation``, which the caller could never
    unpersist (``union`` is None on this path)."""
    b = read_pbf(spark, fixture_pbf)
    assert b.union is None
    for df in (b.nodes, b.ways, b.relations):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan, plan


def test_blob_seq_range_chunks_cover_every_blob_once(spark, tmp_path, osm_data):
    """``jobs/decode_job.py`` splits the index into contiguous blob_seq ranges;
    over the size-ordered index the ranges still cover every blob, and every
    element, exactly once."""
    from openstreetmapio_jl_spark.pbf import blocks
    from openstreetmapio_jl_spark.sources.pbf_source import blob_index_df, read_pbf_union

    meta, nodes, ways, rels = osm_data
    path = str(tmp_path / "chunks.pbf")
    G.write_fixture_pbf(path, meta, nodes, ways, rels, nodes_per_block=40)
    index_df, _ = blob_index_df(spark, path)
    max_seq = index_df.agg(F.max("blob_seq")).collect()[0][0]
    n_chunks = 5
    step = (max_seq + n_chunks) // n_chunks
    seqs, elems = [], []
    for i in range(n_chunks):
        part = index_df.filter(F.col("blob_seq").between(i * step, (i + 1) * step - 1))
        seqs += [r.blob_seq for r in part.collect()]
        union, _ = read_pbf_union(spark, path, index_df=part)
        elems += [(r.kind, r.id) for r in union.select("kind", "id").collect()]
    assert sorted(seqs) == [d.blob_seq for d in blocks.scan_blob_index(path)[1:]]
    assert len(elems) == len(set(elems)) == len(nodes) + len(ways) + len(rels)
