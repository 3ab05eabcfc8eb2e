"""Census of the package's public options, with ``ast`` only (no Spark).

An option is a defaulted parameter (positional or keyword-only) of a public
module-level function under ``openstreetmapio_jl_spark/``. Two ratchets:

- ``OPTIONS`` pins every option by function. A change that adds or removes
  one updates ``OPTIONS`` here and gives its reason in CHANGES.md.
- No option is dead: an option that no caller sets to a value other than its
  default is either deleted or listed in ``UNSET_BY_DESIGN`` with its reason.

Callers are the package, ``jobs/``, ``tools/``, ``perfbench/``, ``tests/``,
``bench.py`` and ``__spark_entry__.py``. A call is matched by the called
name and resolved by keyword and by position.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "openstreetmapio_jl_spark"
CALLERS = [PKG, ROOT / "jobs", ROOT / "tools", ROOT / "perfbench", ROOT / "tests"]
CALLER_FILES = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# function (module path below the package) -> its options, in signature order
OPTIONS = {
    "session.get_spark": "app_name master shuffle_partitions extra_conf",
    "fixtures.generator.make_osm": "seed n_nodes n_ways n_relations",
    "fixtures.generator.make_pages": "seed hot_frac with_geo",
    "fixtures.generator.materialize_fixtures": "seed",
    "functions.cells.hex_cell": "res",
    "functions.cells.hex_cell_udf": "res",
    "functions.text.chunk_documents": "n_tokens overlap",
    "operators.clustering.grid_core_cells": "eps_deg min_pts",
    "operators.clustering.core_cell_labels": "algorithm local_threshold",
    "operators.clustering.grid_clusters": "eps_deg min_pts algorithm",
    "operators.clustering.cluster_points": "eps_deg min_pts",
    "operators.dedup.char_shingles": "n",
    "operators.dedup.minhash_band_memberships": "id_col",
    "operators.dedup.jaccard_via_lsh": "id_col threshold max_bucket_df",
    "operators.dedup.simhash_neardup_pairs": "max_bucket_df",
    "operators.dedup.ngram_jaccard_pairs": "threshold max_shingle_df",
    "operators.dedup.build_dedup_index": "table_prefix n_buckets id_col",
    "operators.dedup.extend_dedup_index": "table_prefix n_buckets id_col batch_key",
    "operators.dedup.incremental_candidate_pairs": "table_prefix id_col max_bucket_df",
    "operators.dedup.incremental_dedup_pairs": (
        "table_prefix id_col threshold max_bucket_df in_pushdown_limit"
    ),
    "operators.dedup.incremental_cluster_losers": "handles",
    "operators.dedup.duplicate_clusters": "threshold max_bucket_df handles",
    "operators.dedup.chunk_dedup": "id_col words_per_chunk emit_text",
    "operators.dedup.chunk_clean": "words_per_chunk",
    "operators.dedup.contamination_stats": "ngram_words",
    "operators.er.resolve_entities": "mention_id entity_id max_block_df min_jaccard",
    "operators.geocode.pages_with_cells": "zoom",
    "operators.graph.connected_components": "src dst max_iter handles algorithm",
    "operators.ir.ranked_terms": "top_k scoring round_dp",
    "operators.ir.search_bm25": "top_n round_dp",
    "operators.ir.build_term_index": "n_buckets",
    "operators.ir.search_bm25_indexed": "round_dp",
    "operators.knn.knn_join": "zoom max_rounds handles",
    "operators.knn.idw_interpolate": "power eps_m max_rounds handles",
    "operators.members.resolve_members": "max_depth handles",
    "operators.routing.sssp_distances": "source max_rounds handles",
    "operators.routing.network_distances": "handles",
    "operators.routing.pagerank": "iterations handles",
    "operators.sampling.rebalance": "key_col",
    "operators.similarity.hyperplanes": "seed",
    "operators.similarity.ivf_cosine_topk": "n_lists dim",
    "operators.similarity.embedding_near_duplicates": "threshold max_bucket_df",
    "operators.sketches.hll_registers": "group_cols p",
    "operators.sketches.hll_merge": "group_cols",
    "operators.sketches.hll_estimate": "group_cols p",
    "operators.sketches.hll_distinct": "group_cols",
    "operators.sketches.hdr_buckets": "group_cols k",
    "operators.sketches.hdr_merge": "group_cols",
    "operators.sketches.hdr_quantiles": "group_cols k",
    "operators.sketches.hdr_quantile_sketch": "group_cols",
    "operators.sketches.bloom_build": "group_cols m k",
    "operators.sketches.bloom_merge": "group_cols",
    "operators.sketches.bloom_probe": "m k",
    "operators.spatial_join.assemble_polygon_rings": "nodes",
    "operators.spatial_join.assemble_multipolygons": "way_lines",
    "operators.spatial_join.point_in_polygon_join": (
        "zoom nsalt salt_id_col adaptive_cover"
    ),
    "operators.spatial_join.bbox_intersection_join": "left_id right_id cell_deg",
    "operators.temporal.band_join": "keys how left_id validate_left_id",
    "operators.temporal.asof_join": "tolerance_s",
    "operators.tiler.tile_tolerance_m2": "ref_lat",
    "operators.tiler.simplify_rings": "min_ring_pts",
    "operators.tiler.clip_lines_to_tiles": "keep_params",
    "operators.tiler.encode_tile_lines": "extent",
    "pbf.blocks.frame_blob": "compress",
    "pbf.decode.decode_primitive_block": "want stats",
    "pbf.proto.packed_varints": "zigzag",
    "pbf.proto.decode_packed": "zigzag",
    "pbf.writer.encode_primitive_block": "nodes ways relations dense with_info",
    "pbf.writer.write_pbf": "nodes_per_block dense with_info compress",
    "plans.lineage.run_resumable": "run_id compact_every",
    "sinks.pbf_sink.write_pbf_sharded": "shards meta",
    "sinks.pbf_sink.write_bundle_pbf": "shards",
    "sinks.xml_sink.write_xml_sharded": "shards meta",
    "sinks.xml_sink.write_bundle_xml": "shards",
    "sources.overpass_source.build_query": "timeout",
    "sources.overpass_source.fetch_overpass": "timeout endpoints fetcher",
    "sources.pbf_source.read_pbf_union": (
        "node_predicate way_predicate relation_predicate node_transform "
        "way_transform relation_transform index_df"
    ),
    "sources.pbf_source.read_pbf_kind": "predicate transform index_df",
    "sources.pbf_source.read_pbf": (
        "node_predicate way_predicate relation_predicate node_transform "
        "way_transform relation_transform single_pass"
    ),
    "sources.pbf_source.pbf_to_bucketed_tables": "n_buckets table_prefix",
    "streaming.pipelines.read_events_stream": "max_files_per_trigger",
    "streaming.pipelines.pip_enrich_stream": "zoom",
    "streaming.pipelines.novel_pages_stream": (
        "index_memberships probe_sigs persist_handles"
    ),
    "streaming.pipelines.reject_seen_urls_stream": "m k",
}

# Options that no caller sets, kept on purpose.
_READ_PBF_CALLBACKS = "node_predicate way_predicate relation_predicate relation_transform"
UNSET_BY_DESIGN = {
    # the paper's callback pushdown; pbf_to_parquet forwards **read_kw to them
    "sources.pbf_source.read_pbf": _READ_PBF_CALLBACKS,
    # the fixture layouts; tests and perfbench pass them via write_fixture_pbf(**kw)
    "pbf.writer.write_pbf": "nodes_per_block dense with_info compress",
    # forwarded by write_bundle
    "sinks.pbf_sink.write_pbf_sharded": "shards meta",
    "sinks.xml_sink.write_xml_sharded": "shards meta",
    # deployment settings of a live endpoint
    "sources.overpass_source.fetch_overpass": "timeout endpoints",
    # storage handles the caller unpersists
    "operators.dedup.duplicate_clusters": "handles",
    "operators.knn.idw_interpolate": "handles",
    "operators.routing.network_distances": "handles",
    "operators.routing.pagerank": "handles",
    # the mergeable-sketch family keeps one signature
    "operators.sketches.hll_merge": "group_cols",
    "operators.sketches.hdr_merge": "group_cols",
    "operators.sketches.bloom_build": "group_cols",
    "operators.sketches.bloom_merge": "group_cols",
    # must match the p / k / (m, k) the sketch was built with
    "operators.sketches.hll_estimate": "p",
    "operators.sketches.hdr_quantiles": "k",
    "streaming.pipelines.reject_seen_urls_stream": "m k",
    # a safety check, off on the certified path
    "operators.temporal.band_join": "validate_left_id",
    # the fixture seed
    "fixtures.generator.materialize_fixtures": "seed",
}


def _files(paths):
    for p in paths:
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _census():
    """{qualified name: [(option, default source)]} and {name: [params]}."""
    options, params = {}, {}
    for path in _files([PKG]):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            opts = [
                (arg.arg, ast.unparse(d))
                for arg, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)
            ] + [
                (arg.arg, ast.unparse(d))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            if opts:
                options[f"{mod}.{node.name}"] = opts
            params.setdefault(node.name, []).append([arg.arg for arg in pos])
    return options, params


def _passed_values(params):
    """{function name: {param: set of passed value sources}}."""
    passed: dict[str, dict[str, set]] = {}
    for path in _files(CALLERS + CALLER_FILES):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in params:
                continue
            got = passed.setdefault(name, {})
            for pos in params[name]:
                for p, arg in zip(pos, node.args):
                    if isinstance(arg, ast.Starred):
                        break
                    got.setdefault(p, set()).add(ast.unparse(arg))
            for kw in node.keywords:
                if kw.arg is not None:
                    got.setdefault(kw.arg, set()).add(ast.unparse(kw.value))
    return passed


def test_option_count_and_snapshot():
    options, _ = _census()
    got = {name: " ".join(o for o, _ in opts) for name, opts in options.items()}
    changed = sorted(
        name
        for name in set(got) | set(OPTIONS)
        if got.get(name) != OPTIONS.get(name)
    )
    assert not changed, f"options changed in: {changed}"
    assert sum(len(opts) for opts in options.values()) == 183


def test_every_unset_option_is_kept_on_purpose():
    options, params = _census()
    passed = _passed_values(params)
    unset = {}
    for qual, opts in options.items():
        name = qual.rsplit(".", 1)[1]
        for opt, default in opts:
            if passed.get(name, {}).get(opt, set()) <= {default}:
                unset.setdefault(qual, []).append(opt)
    unset = {qual: " ".join(opts) for qual, opts in unset.items()}
    wrong = {
        qual: (unset.get(qual), UNSET_BY_DESIGN.get(qual))
        for qual in set(unset) | set(UNSET_BY_DESIGN)
        if unset.get(qual) != UNSET_BY_DESIGN.get(qual)
    }
    assert not wrong, f"unset options (found, listed): {wrong}"
