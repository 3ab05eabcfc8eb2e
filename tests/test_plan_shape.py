"""Automated physical-plan guards: the scale invariants PLANS.md documents,
pinned as tests so a refactor can't silently regress them.

- NO row-at-a-time Python (``BatchEvalPython``) in any headline plan — the
  BASELINE.json input_hint contract. Arrow-batched stages (MapInArrow /
  MapInPandas / FlatMapGroupsInPandas) are the only sanctioned Python.
- Filters reach the parquet scan (PushedFilters) on the relational queries.
- The flagship PIP join ships the polygon side NARROW through the tile
  exchange: no ``edges`` column may appear in an Exchange below the final
  edges re-attach join.
- A PBF decode, of one file or of several, is one Spark job of one stage: the
  blob index is a ``LocalTableScan`` under the decode's ``MapInArrow`` (no
  ``Exchange``), split into one size-balanced partition per core.
- The flagship PIP query: a small pages file is scanned by one task per core,
  building the join stays under a py4j round-trip budget, and the geo regex
  runs once per row (one ``Matcher.find`` in the generated code).
"""

from __future__ import annotations

import re

import pytest


def _plan(spark, df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    # plan-shape checks are scale-independent; the smallest fixture keeps the
    # decode/persist setup cheap
    return "/root/testdata/sf0.001"


HEADLINE_BATCH = [
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "doc_minhash_lsh",
    "doc_simhash",
    "doc_jaccard_via_lsh",       # round-4 sub-split piece mechanics
    "doc_repetition_signals",    # round-4 repetition quality signals
    "events_band_join_outer",    # round-4 left-outer band join
    "sim_cosine_topk",
    "pages_tile_counts",
    "pip_hits_per_polygon",
    "pip_hits_multi_mention",    # round-5 per-mention multiplicity
    "doc_chunk_dedup",           # round-5 CCNet chunk-level boilerplate dedup
    "doc_url_dedup",             # round-5 crawl URL canonicalization
    "doc_decontaminate",         # round-5 benchmark n-gram decontamination
    "er_customer_mentions",      # round-5 token-blocking entity resolution
    "knn_pages_to_poi",
    "tile_pyramid_z11",
    "osm_way_lengths",           # round-5 geodesic length per class
    "osm_polygon_areas",         # round-5 equal-area shoelace per class
    "osm_simplify_ways",         # round-5 effective-area generalization
    "osm_tile_road_density",     # round-5 Liang-Barsky tile clipping
    "osm_simplify_rings",        # round-5 closed-ring generalization (tail)
    "osm_tile_line_encoding",    # round-5 MVT grid-snap encoding (tail)
    "doc_bm25_terms",            # round-5 IR term weighting
    "doc_search_bm25",           # round-5 BM25 retrieval
    "doc_hll_distinct",          # round-5 HyperLogLog sketch
    "geo_grid_clusters",         # round-5 grid-density spatial clustering
    "geo_tile_hotspots",         # round-5 Getis-Ord Gi* hotspot statistics
    "doc_lang_rebalance",        # round-5 stratified corpus rebalancing
    "doc_len_hdr_quantiles",     # round-5 HDR quantile sketch
    "osm_bbox_overlaps",         # round-5 rect-rect bbox join (tail)
    "knn_idw_value",             # round-5 IDW interpolation (tail)
    "osm_page_density",          # round-5 density composition (tail)
    "doc_bloom_probe",           # round-5 Bloom membership filter (tail)
    "osm_street_bearings",       # round-5 orientation histogram (tail)
]


def test_no_row_python_in_headline_plans(spark, sf_dir):
    from openstreetmapio_jl_spark.plans import entry_queries as EQ

    reg = EQ.registry()
    for name in HEADLINE_BATCH:
        df = reg[name][0](spark, sf_dir)
        plan = _plan(spark, df)
        assert "BatchEvalPython" not in plan, f"row-at-a-time Python UDF in {name}"


def test_relational_filters_push_to_parquet_scan(spark, sf_dir):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _plan(spark, df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThan(l_quantity" in m.group(1)
    m2 = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m2 and "l_extendedprice" not in m2.group(1)  # column pruning holds


def test_pip_polygon_side_narrow_through_tile_exchange(spark, sf_dir):
    from openstreetmapio_jl_spark.plans import entry_queries as EQ

    df = EQ.q_pip_hits_per_polygon(spark, sf_dir)
    plan = _plan(spark, df)
    # every Exchange's output attribute list must exclude the edges array —
    # edges are re-attached by polygon_id only AFTER the bbox prefilter
    for m in re.finditer(r"\(\d+\) Exchange[^\n]*\n(?:[^\n]*\n){0,3}", plan):
        block = m.group(0)
        args = re.search(r"Arguments: [^\n]*", block)
        if args:
            assert "edges" not in args.group(0), (
                "edges array rides a shuffle exchange:\n" + block
            )


def test_bucketed_entity_tables_join_without_shuffle(spark, fixture_pbf):
    """The ingest-time shuffle pays off: bucketed way_refs ⋈ nodes on the node
    id plans with ZERO shuffle exchanges (co-located SortMergeJoin) — at planet
    scale this is the difference between shuffling ~70G refs per assembly run
    and never shuffling them again after ingest."""
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.sources.pbf_source import pbf_to_bucketed_tables

    meta = pbf_to_bucketed_tables(
        spark, fixture_pbf, n_buckets=4, table_prefix="t_bkt"
    )
    assert meta.get("bbox")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        refs = spark.table("t_bkt_way_refs")
        nodes = spark.table("t_bkt_nodes").select(
            F.col("id").alias("ref"), "lat", "lon"
        )
        joined = refs.join(nodes, "ref", "inner")
        plan = _plan(spark, joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # and the join is CORRECT: every ref resolves on the fixture
        n_refs = refs.count()
        assert joined.count() == n_refs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ---------------------------------------------------------------------------
# PBF decode, one file or many: one stage, one size-balanced Python task per core
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def many_blob_pbf(tmp_path_factory, osm_data):
    """The fixture split into 17 data blobs of uneven size (16 node blobs and
    one larger ways+relations blob), more blobs than cores."""
    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    path = str(tmp_path_factory.mktemp("pbf") / "many.pbf")
    G.write_fixture_pbf(path, meta, nodes, ways, rels, nodes_per_block=40)
    return path


@pytest.fixture(scope="module")
def three_file_pbfs(tmp_path_factory, osm_data):
    """The fixture's nodes split over three files (ways and relations in the
    first), 19 data blobs in all — a multi-file corpus like sink output."""
    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    d = tmp_path_factory.mktemp("pbf3")
    third = len(nodes) // 3
    paths = []
    for i in range(3):
        p = str(d / f"part{i}.pbf")
        chunk = nodes[i * third : (i + 1) * third] if i < 2 else nodes[2 * third :]
        G.write_fixture_pbf(
            p, meta, chunk, ways if i == 0 else [], rels if i == 0 else [],
            nodes_per_block=40,
        )
        paths.append(p)
    return paths


def test_single_file_decode_plan_is_local_scan_with_balanced_partitions(
    spark, many_blob_pbf, three_file_pbfs
):
    """The index is a JVM local relation under the decode's MapInArrow: no
    Exchange, no Python index stage. Its partitions are one per core, each
    blob in exactly one of them, and balanced by compressed size. A
    multi-file input gets the same index over all its files' blobs."""
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.pbf import blocks
    from openstreetmapio_jl_spark.sources import pbf_source as PS

    # spark_partition_id above an opaque MapInArrow: the optimizer cannot fold
    # it into the local relation (where it would evaluate to 0 on the driver)
    def _same(batches):
        yield from batches

    for paths in (many_blob_pbf, three_file_pbfs):
        union, _ = PS.read_pbf_union(spark, paths)
        plan = _plan(spark, union)
        assert re.search(r"MapInArrow \(\d+\)\n\+- LocalTableScan \(\d+\)", plan), plan
        assert "Exchange" not in plan, plan

        files = [paths] if isinstance(paths, str) else paths
        sizes = {
            (d.path, d.blob_seq): d.data_size
            for p in files
            for d in blocks.scan_blob_index(p)[1:]
        }
        n_parts = min(len(sizes), spark.sparkContext.defaultParallelism)
        index_df, _ = PS.blob_index_df(spark, paths)
        assert index_df.rdd.getNumPartitions() == n_parts
        rows = (
            index_df.mapInArrow(_same, index_df.schema)
            .select(F.spark_partition_id().alias("part"), "path", "blob_seq", "data_size")
            .collect()
        )
        assert sorted((r.path, r.blob_seq) for r in rows) == sorted(sizes)
        assert all(r.data_size == sizes[(r.path, r.blob_seq)] for r in rows)
        loads: dict[int, int] = {}
        for r in rows:
            loads[r.part] = loads.get(r.part, 0) + r.data_size
        assert sorted(loads) == list(range(n_parts))
        bound = sum(sizes.values()) / n_parts + max(sizes.values())
        assert max(loads.values()) <= bound, (paths, loads, bound)


def test_size_balanced_order_bound():
    """Every contiguous slice of the reordered rows sums to at most the mean
    slice load plus the largest item, and keeps its rows in input order."""
    import random

    from openstreetmapio_jl_spark.sources.pbf_source import _size_balanced_order

    rnd = random.Random(7)
    for _ in range(2000):
        n = rnd.randint(1, 40)
        p = rnd.randint(1, n)
        top = rnd.choice([3, 1000, 10**6])
        sizes = [rnd.randint(1, top) for _ in range(n)]
        order = _size_balanced_order(sizes, p)
        assert sorted(order) == list(range(n))
        for i in range(p):
            part = order[i * n // p : (i + 1) * n // p]
            assert part == sorted(part)
            assert sum(sizes[j] for j in part) <= sum(sizes) / p + max(sizes)
    assert _size_balanced_order([], 0) == []


def test_single_file_decode_write_is_one_spark_job(
    spark, many_blob_pbf, three_file_pbfs, tmp_path
):
    """Decode → parquet of one file, or of several, is ONE Spark job, whole or
    restricted to a blob_seq range as ``jobs/decode_job.py`` chunks it — the
    Exchange-free chunk query ``lineage.run_resumable`` counts on."""
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.sources import pbf_source as PS

    sc = spark.sparkContext
    for n, paths in enumerate((many_blob_pbf, three_file_pbfs)):
        index_df, _ = PS.blob_index_df(spark, paths)
        chunk = index_df.filter(F.col("blob_seq").between(1, 5))
        for i, kw in enumerate(({}, {"index_df": chunk})):
            group = f"pbf-decode-write-{n}-{i}"
            sc.setJobGroup(group, "decode write")
            try:
                union, _ = PS.read_pbf_union(spark, paths, **kw)
                union.write.mode("overwrite").parquet(str(tmp_path / f"union{n}-{i}"))
                jobs = list(sc.statusTracker().getJobIdsForGroup(group))
            finally:
                sc.setJobGroup("pbf-decode-post", "")
            assert len(jobs) == 1, (paths, kw, jobs)


# ---------------------------------------------------------------------------
# flagship PIP query: probe-side parallelism, build cost, one regex per row
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def pages_1mb(tmp_path_factory):
    """One ~1 MB parquet file of 8,000 geocodable pages in 8 row groups."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    n = 8_000
    lat = rng.uniform(-60.0, 60.0, n)
    lon = rng.uniform(-170.0, 170.0, n)
    noise = rng.integers(0, 2**63, (n, 6), dtype=np.int64)
    urls = [f"https://ex.org/p{i}" for i in range(n)]
    text = [
        f"geo:{a:.5f},{b:.5f} " + "".join(f"{v:016x}" for v in row)
        for a, b, row in zip(lat, lon, noise)
    ]
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    pq.write_table(pa.table({"url": urls, "text": text}), path, row_group_size=1_000)
    return path


def test_small_pages_file_is_scanned_on_every_core(spark, pages_1mb):
    """A file below Spark's default ``openCostInBytes`` (4 MB) was one scan
    task, so geocode, join and ray cast ran on one core; the session default
    of 64 KB splits it into one task per core."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.operators.geocode import pages_with_cells

    row_groups = pq.ParquetFile(pages_1mb).metadata.num_row_groups
    assert row_groups >= 8 and 0.8e6 < os.path.getsize(pages_1mb) < 1.5e6
    pts = pages_with_cells(spark.read.parquet(pages_1mb)).select(
        "url", F.spark_partition_id().alias("pid")
    )
    rows = pts.collect()
    assert len({r.pid for r in rows}) == min(
        row_groups, spark.sparkContext.defaultParallelism
    )
    assert sorted(r.url for r in rows) == sorted(f"https://ex.org/p{i}" for i in range(8_000))


def test_pip_query_build_round_trip_budget(spark, pages_1mb):
    """Building the flagship join is bounded in py4j round trips. With
    Spark's default ``spark.python.sql.dataFrameDebugging.enabled=true``
    every Column operator adds a session lookup, a JVM class lookup, a conf
    read and an origin set/clear: the same build took 2,499 round trips
    with it on and 976 with the session default off; the budget is ~20%
    above the latter."""
    import gc

    import py4j.clientserver as cs

    from openstreetmapio_jl_spark.operators.geocode import pages_with_cells
    from openstreetmapio_jl_spark.operators.spatial_join import point_in_polygon_join

    pages = spark.read.parquet(pages_1mb)
    polys = spark.createDataFrame(
        [(1, [(0.0, 0.0, 1.0, 1.0)], 0.0, 1.0, 0.0, 1.0)],
        "id long, edges array<struct<y1:double,x1:double,y2:double,x2:double>>, "
        "min_lat double, max_lat double, min_lon double, max_lon double",
    )
    send = cs.ClientServerConnection.send_command
    calls = [0]

    def counted(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    gc.collect()
    gc.disable()  # a collection mid-build would add py4j detach commands
    cs.ClientServerConnection.send_command = counted
    try:
        joined = point_in_polygon_join(
            pages_with_cells(pages), polys, nsalt=16, salt_id_col="url"
        )
    finally:
        cs.ClientServerConnection.send_command = send
        gc.enable()
    assert "polygon_id" in joined.columns
    assert calls[0] <= 1_170, calls[0]


@pytest.mark.parametrize("fn", ["extract_geocodes", "extract_geocodes_multi"])
def test_geocode_regex_runs_once_per_row(spark, fn):
    """The geo regex is evaluated once per row: the generated code holds one
    ``Matcher.find``. An aliased ``regexp_extract`` filtered on its output
    had the regex inlined into every range predicate (6 calls)."""
    from openstreetmapio_jl_spark.operators import geocode

    pages = spark.createDataFrame([("u", "geo:1.0,2.0")], "url string, text string")
    df = getattr(geocode, fn)(pages)
    code = str(df._jdf.queryExecution().debug().codegenToSeq().mkString("\n"))
    assert code.count(".find(") == 1


def test_geocode_rows_on_crafted_pages(spark):
    from openstreetmapio_jl_spark.operators import geocode

    pages = spark.createDataFrame(
        [
            ("none", "no mention at all"),
            ("bare", "geo: here, but geo:x,y has no numbers"),
            ("null", None),
            ("first_out", "geo:95.0,10.0 then geo:10.5,20.25"),
            ("two", "geo:10.5,20.25 and geo:-33.1,151.2"),
        ],
        "url string, text string",
    )

    def rows(df):
        assert df.columns == ["url", "text", "lat", "lon"]
        return sorted((r.url, r.lat, r.lon) for r in df.collect())

    # first mention only; an out-of-range first mention drops the page
    assert rows(geocode.extract_geocodes(pages)) == [("two", 10.5, 20.25)]
    assert rows(geocode.extract_geocodes_multi(pages)) == [
        ("first_out", 10.5, 20.25),
        ("two", -33.1, 151.2),
        ("two", 10.5, 20.25),
    ]
