"""Registry window integrity: the driver certifies only the FIRST 50
registry entries, so their membership is part of the correctness contract —
a careless dict reorder would silently rotate certified entries out. This
frozen list forces every rotation to be deliberate (update the list in the
same commit as the rotation, with the justification comment the registry
requires)."""

from __future__ import annotations

from openstreetmapio_jl_spark.plans.entry_queries import registry

WINDOW_50 = [
'doc_lang_rebalance',
'join_revenue_by_nation',
'setop_nations',
'doc_bm25_terms',
'events_tumbling_5min',
'events_json_extract',
'events_sessionize',
'events_band_join_outer',
'events_rollup',
'doc_len_hdr_quantiles',
'doc_search_bm25',
'doc_minhash_lsh',
'doc_ngram_jaccard',
'osm_road_pagerank',
'doc_incremental_dedup',
'doc_dup_clusters',
'doc_simhash_neardup',
'doc_repetition_signals',
'doc_chunk_dedup',
'doc_url_dedup',
'doc_decontaminate',
'er_customer_mentions',
'doc_hll_distinct',
'doc_langid',
'osm_counts',
'geo_tile_hotspots',
'osm_polygon_areas',
'osm_way_lengths',
'osm_road_sssp',
'osm_ref_integrity',
'osm_member_closure',
'osm_multipolygon_assembly',
'osm_xml_differential',
'overpass_url_build',
'osm_tile_road_density',
'geo_grid_clusters',
'pip_hits_per_polygon',
'pip_hits_multipolygon',
'pip_hits_multi_mention',
'knn_pages_to_poi',
'tile_pyramid_z11',
'pages_text_invariant',
's2_cells_pages',
'hex_cells_pages_r7',
'osm_simplify_ways',
'sim_ivf_topk',
'emb_lsh_neardup',
'doc_winnow_fps',
'events_asof',
'mm_media_stats'
]


def test_window_membership_is_frozen():
    names = list(registry())
    assert len(names) >= 50
    assert names[:50] == WINDOW_50


def test_every_entry_has_spark_and_oracle():
    import __spark_entry__ as E

    r = registry()
    qs, osql = E.queries(), E.oracle_sql()
    assert set(qs) == set(r) == set(osql)
    for name, (fn, sql) in r.items():
        assert callable(fn), name
        assert isinstance(sql, str) and "select" in sql.lower(), name


def test_spark_entry_imports_from_its_own_checkout(tmp_path, monkeypatch):
    """``__spark_entry__`` puts its own directory first on ``sys.path``, so a
    copy of the repo imports its own package, not another checkout's."""
    import importlib.util
    import os
    import sys

    src = os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")
    copy = tmp_path / "__spark_entry__.py"
    copy.write_text(open(src).read())
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location("_spark_entry_copy", copy)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert sys.path[0] == str(tmp_path)
