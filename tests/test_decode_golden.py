"""Golden-value E2E over the deterministic fixture — the core oracle layer
(mirrors ``/root/reference/test/test_load_pbf.jl:23-61``,
``test/test_load_xml.jl:22-58``) — plus crafted malformed PrimitiveBlocks that
pin the kernel's malformed-input and reference-asymmetry semantics. Pure Python
(no Spark) for fast iteration."""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pytest

from openstreetmapio_jl_spark import model
from openstreetmapio_jl_spark.fixtures import generator as G
from openstreetmapio_jl_spark.pbf import blocks, decode, proto

_SCHEMAS = {
    "nodes": model.NODES_ARROW,
    "ways": model.WAYS_ARROW,
    "relations": model.RELATIONS_ARROW,
}

# (dense, with_info) write layouts; only dense nodes honour with_info=False
_LAYOUTS = [(True, True), (True, False), (False, True), (False, False)]


def _decode_file(path: str):
    idx = blocks.scan_blob_index(path)
    header = blocks.decompress_blob(
        blocks.read_blob_payload(idx[0].path, idx[0].data_offset, idx[0].data_size)
    )
    meta = decode.decode_header_block(header)
    batches = {kind: [] for kind in _SCHEMAS}
    for d in idx[1:]:
        payload = blocks.decompress_blob(
            blocks.read_blob_payload(d.path, d.data_offset, d.data_size)
        )
        out = decode.decode_primitive_block(payload)
        for kind, parts in out.items():
            batches[kind].append(decode.parts_to_batch(parts, _SCHEMAS[kind], d.blob_seq))
    return (meta,) + tuple(
        pa.Table.from_batches(batches[kind]).to_pandas().set_index("id") for kind in _SCHEMAS
    )


@pytest.fixture(scope="module")
def decoded(tmp_path_factory, osm_data):
    """Every (dense, with_info) layout → (meta, nodes_df, ways_df, rels_df). Each
    golden test asserts on every layout in turn, so it keeps one test id."""
    meta, nodes, ways, rels = osm_data
    out = {}
    for dense, with_info in _LAYOUTS:
        path = str(tmp_path_factory.mktemp("layout") / "fixture.pbf")
        G.write_fixture_pbf(
            path, meta, nodes, ways, rels,
            nodes_per_block=200, dense=dense, with_info=with_info,
        )
        out[dense, with_info] = _decode_file(path)
    return out


def _node_info_written(layout) -> bool:
    dense, with_info = layout
    return with_info or not dense


def test_counts(decoded, osm_data):
    _, nodes, ways, rels = osm_data
    for _, nodes_df, ways_df, rels_df in decoded.values():
        assert len(nodes_df) == len(nodes)
        assert len(ways_df) == len(ways)
        assert len(rels_df) == len(rels)


def test_golden_node(decoded):
    for layout, (_, nodes_df, _, _) in decoded.items():
        g = nodes_df.loc[G.KNOWN_NODE_ID]
        assert (g["lat"], g["lon"]) == G.TEST_POINT
        tags = dict(g["tags"])
        assert tags["addr:country"] == "DE"
        if _node_info_written(layout):
            assert g["info"]["user"] == "mapper_a"
            assert g["info"]["visible"] is True
        else:
            assert g["info"] is None


def test_golden_way(decoded):
    for _, _, ways_df, _ in decoded.values():
        g = ways_df.loc[G.KNOWN_WAY_ID]
        assert len(g["refs"]) == 56
        assert g["refs"][22] == 1276389426  # reference asserts refs[23] 1-indexed
        tags = dict(g["tags"])
        assert tags["wetland"] == "wet_meadow"
        assert tags["natural"] == "wetland"


def test_golden_relation(decoded):
    for _, _, _, rels_df in decoded.values():
        g = rels_df.loc[G.KNOWN_RELATION_ID]
        tags = dict(g["tags"])
        assert tags["type"] == "route"
        assert {"route", "from", "to"} <= set(tags)
        # equal-length parallel arrays invariant (test/test_load_xml.jl:51-52)
        assert all(set(m) == {"ref", "type", "role"} for m in g["members"])


def test_meta(decoded, osm_data):
    src_meta = osm_data[0]
    for meta, _, _, _ in decoded.values():
        assert meta["bbox"] == src_meta["bbox"]
        assert meta["required_features"] == src_meta["required_features"]
        assert meta["writingprogram"] == src_meta["writingprogram"]
        assert meta["osmosis_replication_sequence_number"] == 4242


def test_every_element_roundtrips(decoded, osm_data):
    """Full-corpus equality: every node/way/relation decodes to exactly what was
    written (coordinates bit-equal after 7-digit rounding)."""
    _, nodes, ways, rels = osm_data
    for layout, (_, nodes_df, ways_df, rels_df) in decoded.items():
        for n in nodes:
            row = nodes_df.loc[n["id"]]
            assert row["lat"] == n["lat"] and row["lon"] == n["lon"], layout
            src_tags = n.get("tags")
            if src_tags is None:
                assert row["tags"] is None, layout
            else:
                assert dict(row["tags"]) == src_tags, layout
        for w in ways:
            row = ways_df.loc[w["id"]]
            assert list(row["refs"]) == w["refs"], layout
            if w.get("positions"):
                got = [(p["lat"], p["lon"]) for p in row["positions"]]
                assert got == [(round(a, 7), round(b, 7)) for a, b in w["positions"]]
        for r in rels:
            row = rels_df.loc[r["id"]]
            got = [(m["ref"], m["type"], m["role"]) for m in row["members"]]
            want = [(m["ref"], m["type"], m["role"]) for m in r["members"]]
            assert got == want, layout


def test_info_sentinel_rules(decoded, osm_data):
    """Elements written without info must decode to NULL info; with info, fields
    round-trip (visible=False default asymmetry is writer-side avoided)."""
    _, nodes, _, _ = osm_data
    for layout, (_, nodes_df, _, _) in decoded.items():
        for n in nodes[:50]:
            row = nodes_df.loc[n["id"]]
            if n.get("info") is None or not _node_info_written(layout):
                assert row["info"] is None or row["info"].get("version") is None
            else:
                assert row["info"]["uid"] == n["info"]["uid"], layout
                assert row["info"]["user"] == n["info"]["user"], layout


def test_ref_integrity(decoded):
    """Every way.refs id exists in nodes (fixture-complete,
    ``test/test_load_pbf.jl:698-703``)."""
    for _, nodes_df, ways_df, _ in decoded.values():
        node_ids = set(nodes_df.index)
        for refs in ways_df["refs"]:
            assert set(refs) <= node_ids


def test_coordinate_rounding_banker():
    """np.round half-even matches Julia round(digits=7) (SURVEY.md §7)."""
    raw = np.array([15, 25], dtype=np.int64)  # 1.5e-7, 2.5e-7 pre-round at digit 7
    out = decode.scale_coords(raw, 0, 100)
    # 1.5e-6 and 2.5e-6 degrees exactly representable-ish; just assert stability
    assert out[0] == np.round(1.5e-6, 7) and out[1] == np.round(2.5e-6, 7)


# ---------------------------------------------------------------------------
# crafted malformed blocks: the kernel's malformed-input and asymmetry rules
# ---------------------------------------------------------------------------

_ST = ["", "a", "b", "c", "d", "user"]
_INFO_FIELDS = {"version": 1, "timestamp": 2, "changeset": 3, "uid": 4, "user_sid": 5,
                "visible": 6}


def _info(**fields) -> bytes:
    return b"".join(proto.field_varint(_INFO_FIELDS[k], v) for k, v in fields.items())


def _dense(ids, kv=None, info=None, lats=None) -> bytes:
    lats = lats if lats is not None else [0] * len(ids)
    msg = proto.packed_varints(1, proto.delta_encode(ids), zigzag=True)
    if info is not None:
        msg += proto.field_bytes(5, info)
    msg += proto.packed_varints(8, proto.delta_encode(lats), zigzag=True)
    msg += proto.packed_varints(9, [0] * len(ids), zigzag=True)
    if kv is not None:
        msg += proto.packed_varints(10, kv)
    return proto.field_bytes(2, msg)


def _tagged(keys, vals, info) -> bytes:
    msg = proto.packed_varints(2, keys) if keys else b""
    msg += proto.packed_varints(3, vals) if vals else b""
    return msg + (proto.field_bytes(4, info) if info is not None else b"")


def _node(nid, lat=0, lon=0, keys=(), vals=(), info=None) -> bytes:
    msg = proto.field_varint(1, proto.zigzag_encode(nid)) + _tagged(keys, vals, info)
    msg += proto.field_varint(8, proto.zigzag_encode(lat))
    msg += proto.field_varint(9, proto.zigzag_encode(lon))
    return proto.field_bytes(1, msg)


def _way(wid, refs, keys=(), vals=(), info=None, lats=None, lons=None) -> bytes:
    msg = proto.field_varint(1, wid) + _tagged(keys, vals, info)
    msg += proto.packed_varints(8, proto.delta_encode(refs), zigzag=True)
    if lats is not None:
        msg += proto.packed_varints(9, proto.delta_encode(lats), zigzag=True)
        msg += proto.packed_varints(10, proto.delta_encode(lons), zigzag=True)
    return proto.field_bytes(3, msg)


def _rel(rid, roles, memids, types, keys=(), vals=(), info=None) -> bytes:
    msg = proto.field_varint(1, rid) + _tagged(keys, vals, info)
    msg += proto.packed_varints(8, roles)
    msg += proto.packed_varints(9, proto.delta_encode(memids), zigzag=True)
    msg += proto.packed_varints(10, types)
    return proto.field_bytes(4, msg)


def _decode_block(*groups: bytes):
    """PrimitiveBlock(_ST, groups) → ({kind: rows}, BlockStats)."""
    st = b"".join(proto.field_string(1, s) for s in _ST)
    payload = proto.field_bytes(1, st) + b"".join(proto.field_bytes(2, g) for g in groups)
    stats = decode.BlockStats()
    out = decode.decode_primitive_block(payload, stats=stats)
    rows = {
        kind: decode.parts_to_batch(parts, _SCHEMAS[kind], 1).to_pylist()
        for kind, parts in out.items()
    }
    return rows, stats


def _col(rows, field):
    return [r[field] for r in rows]


def test_dense_keys_vals_missing_trailing_sentinel_skips_tags():
    rows, stats = _decode_block(_dense([1, 2], kv=[1, 2, 0, 3, 4]))
    assert _col(rows["nodes"], "tags") == [None, None]
    assert stats.warnings == ["dense keys_vals missing trailing sentinel; skipping tags"]


def test_dense_keys_vals_stateful_walk():
    # a 0 sid in value position is a value (""), not a sentinel
    rows, stats = _decode_block(_dense([1, 2], kv=[1, 0, 0, 3, 4, 0]))
    assert _col(rows["nodes"], "tags") == [[("a", "")], [("c", "d")]]
    assert stats.warnings == []
    # truncated stream: the last pair lost its value, so the walk reads the
    # trailing sentinel as that value
    rows, stats = _decode_block(_dense([1, 2], kv=[1, 2, 0, 3, 0]))
    assert _col(rows["nodes"], "tags") == [[("a", "b")], [("c", "")]]
    assert stats.warnings == []


def test_tag_sids_out_of_range_and_extra_sentinels_skipped():
    rows, stats = _decode_block(
        _dense([1, 2], kv=[1, 99, 0, 3, 4, 0]),
        _way(5, [1, 2], keys=[1, 2], vals=[3, 77]),
        _rel(7, [1], [1], [0], keys=[88], vals=[1]),
    )
    assert _col(rows["nodes"], "tags") == [None, [("c", "d")]]
    assert _col(rows["ways"], "tags") == [[("a", "c")]]
    assert _col(rows["relations"], "tags") == [None]
    assert stats.warnings == [
        "dense node tag with invalid string/node index skipped",
        "way tag with invalid string index skipped",
        "relation tag with invalid string index skipped",
    ]
    # more sentinels than nodes: tags past the last node are dropped
    rows, stats = _decode_block(_dense([1], kv=[1, 2, 0, 3, 4, 0]))
    assert _col(rows["nodes"], "tags") == [[("a", "b")]]
    assert stats.warnings == ["dense node tag with invalid string/node index skipped"]


def test_regular_nodes_range_filtered_dense_nodes_not():
    rows, stats = _decode_block(
        _node(1, lat=950_000_000),
        _node(2, lon=10),
        _node(3, lon=1_900_000_000),
        _dense([4], lats=[950_000_000]),
    )
    assert [(r["id"], r["lat"], r["lon"]) for r in rows["nodes"]] == [
        (2, 0.0, 1e-06), (4, 95.0, 0.0),
    ]
    assert stats.nodes == 2
    assert stats.warnings == ["node with invalid coordinates skipped"] * 2


def test_unequal_keys_and_vals_drop_the_element():
    rows, stats = _decode_block(
        _node(1, keys=[1, 2], vals=[3]),
        _node(2, keys=[1], vals=[2]),
        _way(5, [1, 2], keys=[1]),
        _way(6, [3], keys=[1], vals=[4]),
        _rel(7, [1], [1], [0], keys=[1, 2], vals=[3]),
        _rel(8, [1], [1], [0]),
    )
    assert [(r["id"], r["tags"]) for r in rows["nodes"]] == [(2, [("a", "b")])]
    assert [(r["id"], r["refs"], r["tags"]) for r in rows["ways"]] == [(6, [3], [("a", "d")])]
    assert _col(rows["relations"], "id") == [8]
    assert (stats.nodes, stats.ways, stats.relations) == (1, 1, 1)
    assert stats.warnings == [
        "node with inconsistent tag keys/values skipped",
        "way with inconsistent tag keys/values skipped",
        "relation with inconsistent tag keys/values skipped",
    ]


def test_relation_members_zip_default_type_and_role():
    rows, stats = _decode_block(
        _rel(7, [1, 2], [10, 20, 30], [1]),
        _rel(8, [1, 99], [10, 20], [2, 7]),
        _rel(9, [], [], []),
    )
    assert _col(rows["relations"], "members") == [
        [{"ref": 10, "type": "way", "role": "a"}],
        [{"ref": 10, "type": "relation", "role": "a"}, {"ref": 20, "type": "node", "role": ""}],
        [],
    ]
    assert stats.warnings == [
        "relation with mismatched member arrays; zipping to min length",
        "unknown relation member type defaulted to 'node'",
        "invalid relation role string index; using empty string",
    ]


def test_way_positions_only_when_lengths_match():
    rows, stats = _decode_block(
        _way(5, [1, 2], lats=[100, 200], lons=[300, 400]),
        _way(6, [1, 2, 3], lats=[100], lons=[300]),
        _way(7, [4]),
        _way(8, [5], lats=[500], lons=[600]),
    )
    assert _col(rows["ways"], "positions") == [
        [{"lat": 1e-05, "lon": 3e-05}, {"lat": 2e-05, "lon": 4e-05}],
        None,
        None,
        [{"lat": 5e-05, "lon": 6e-05}],
    ]
    assert stats.warnings == []


def test_sparse_info_null_rules():
    no_info = {"version": None, "timestamp": None, "changeset": None, "uid": None,
               "user": None}
    rows, stats = _decode_block(
        # version -1 arrives as a 10-byte two's-complement varint
        _node(1, info=_info(version=(1 << 64) - 1, timestamp=0, changeset=0, uid=0,
                            user_sid=0)),
        _node(2, info=_info(version=3, timestamp=5, changeset=6, uid=7, user_sid=6,
                            visible=1)),
        _node(3, info=_info(user_sid=99)),
        _node(4, info=b""),
        _node(5),
        _way(5, [1], info=_info(version=1, user_sid=1)),
        _rel(6, [], [], [], info=_info(visible=1)),
    )
    assert _col(rows["nodes"], "info") == [
        {**no_info, "visible": False},
        {"version": 3, "timestamp": datetime.datetime(1970, 1, 1, 0, 0, 5),
         "changeset": 6, "uid": 7, "user": "user", "visible": True},
        {**no_info, "visible": False},
        {**no_info, "visible": False},
        None,
    ]
    # user_sid is 1-based: sid 1 is string-table entry 0 ("")
    assert _col(rows["ways"], "info") == [
        {**no_info, "version": 1, "user": "", "visible": False}
    ]
    assert _col(rows["relations"], "info") == [{**no_info, "visible": True}]
    assert stats.warnings == []


def test_dense_info_shorter_than_ids_nulls_the_tail():
    # node 2 carries the "unset" values: version -1 and 0 for the delta-coded
    # rest; unlike sparse Info, a dense timestamp 0 is NOT null
    di = (
        proto.packed_varints(1, [2, -1])
        + proto.packed_varints(2, [10, -10], zigzag=True)
        + proto.packed_varints(3, [11, -11], zigzag=True)
        + proto.packed_varints(4, [12, -12], zigzag=True)
        + proto.packed_varints(5, [6, -6], zigzag=True)
        + proto.packed_varints(6, [1, 0])
    )
    rows, stats = _decode_block(_dense([1, 2, 3], info=di))
    assert _col(rows["nodes"], "info") == [
        {"version": 2, "timestamp": datetime.datetime(1970, 1, 1, 0, 0, 10),
         "changeset": 11, "uid": 12, "user": "user", "visible": True},
        {"version": None, "timestamp": datetime.datetime(1970, 1, 1),
         "changeset": None, "uid": None, "user": None, "visible": False},
        None,
    ]
    assert stats.warnings == []


def test_duplicate_tag_keys_last_wins():
    rows, stats = _decode_block(
        _dense([1], kv=[1, 2, 1, 3, 0]), _way(5, [1], keys=[1, 1], vals=[2, 3])
    )
    assert _col(rows["nodes"], "tags") == [[("a", "c")]]
    assert _col(rows["ways"], "tags") == [[("a", "c")]]
    assert stats.warnings == []


def test_corrupt_group_skipped_other_groups_kept():
    rows, stats = _decode_block(_dense([1]), b"\x0a\xff\x01", _way(5, [1, 2]))
    assert _col(rows["nodes"], "id") == [1]
    assert _col(rows["ways"], "refs") == [[1, 2]]
    assert stats.corrupt_groups == 1
    assert stats.warnings == [
        "corrupt primitive group skipped: length-delimited field 1 overruns buffer "
        "(3+255 > 3)"
    ]
