"""Canonical schemas for the engine's DataFrames.

Maps the reference's data model (``/root/reference/src/map_types.jl:19-193``) to
Spark/Arrow types per SURVEY.md §1.3:

- ``OpenStreetMap`` container → three DataFrames (nodes/ways/relations) + 1-row meta.
- ``Position`` → top-level ``lat``/``lon`` DOUBLE columns (prunable/pushdown-friendly).
- ``tags`` → ``MAP<STRING,STRING>``, NULL when the element has no tags (the reference
  distinguishes no-tags ⇒ ``nothing``, ``src/load_pbf.jl:558-560``).
- ``Info`` → all-nullable struct; whole struct NULL when the proto Info is absent
  (``src/load_pbf.jl:436-440``).
- ``Relation`` parallel arrays → zipped ``members ARRAY<STRUCT<ref,type,role>>``
  (equal-length invariant, ``/root/reference/test/test_load_xml.jl:51-52``).
"""

from __future__ import annotations

import pyarrow as pa

INFO_ARROW = pa.struct(
    [
        pa.field("version", pa.int32()),
        pa.field("timestamp", pa.timestamp("us")),
        pa.field("changeset", pa.int64()),
        pa.field("uid", pa.int32()),
        pa.field("user", pa.string()),
        pa.field("visible", pa.bool_()),
    ]
)

TAGS_ARROW = pa.map_(pa.string(), pa.string())

NODES_ARROW = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("lat", pa.float64()),
        pa.field("lon", pa.float64()),
        pa.field("tags", TAGS_ARROW),
        pa.field("info", INFO_ARROW),
        pa.field("blob_seq", pa.int64()),
    ]
)

POSITION_ARROW = pa.struct([pa.field("lat", pa.float64()), pa.field("lon", pa.float64())])

WAYS_ARROW = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("refs", pa.list_(pa.int64())),
        pa.field("tags", TAGS_ARROW),
        pa.field("info", INFO_ARROW),
        pa.field("positions", pa.list_(POSITION_ARROW)),
        pa.field("blob_seq", pa.int64()),
    ]
)

MEMBER_ARROW = pa.struct(
    [
        pa.field("ref", pa.int64()),
        pa.field("type", pa.string()),
        pa.field("role", pa.string()),
    ]
)

RELATIONS_ARROW = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("members", pa.list_(MEMBER_ARROW)),
        pa.field("tags", TAGS_ARROW),
        pa.field("info", INFO_ARROW),
        pa.field("blob_seq", pa.int64()),
    ]
)

INFO_DDL = (
    "struct<version:int,timestamp:timestamp,changeset:bigint,uid:int,"
    "user:string,visible:boolean>"
)
NODES_DDL = (
    f"id bigint, lat double, lon double, tags map<string,string>, "
    f"info {INFO_DDL}, blob_seq bigint"
)
WAYS_DDL = (
    f"id bigint, refs array<bigint>, tags map<string,string>, info {INFO_DDL}, "
    f"positions array<struct<lat:double,lon:double>>, blob_seq bigint"
)
RELATIONS_DDL = (
    f"id bigint, members array<struct<ref:bigint,type:string,role:string>>, "
    f"tags map<string,string>, info {INFO_DDL}, blob_seq bigint"
)

# kind-tagged union of the three entity schemas — the single-pass decode emits
# this from ONE mapInArrow scan (each blob read + decompressed + proto-walked
# once); absent columns are all-null (null buffers — near-zero Arrow cost)
UNION_ARROW = pa.schema(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("id", pa.int64(), nullable=False),
        pa.field("lat", pa.float64()),
        pa.field("lon", pa.float64()),
        pa.field("refs", pa.list_(pa.int64())),
        pa.field("positions", pa.list_(POSITION_ARROW)),
        pa.field("members", pa.list_(MEMBER_ARROW)),
        pa.field("tags", TAGS_ARROW),
        pa.field("info", INFO_ARROW),
        pa.field("blob_seq", pa.int64()),
    ]
)
UNION_DDL = (
    f"kind string, id bigint, lat double, lon double, refs array<bigint>, "
    f"positions array<struct<lat:double,lon:double>>, "
    f"members array<struct<ref:bigint,type:string,role:string>>, "
    f"tags map<string,string>, info {INFO_DDL}, blob_seq bigint"
)

# per-kind column order within the union (for post-split projection)
UNION_KIND_COLUMNS = {
    "nodes": ["id", "lat", "lon", "tags", "info", "blob_seq"],
    "ways": ["id", "refs", "tags", "info", "positions", "blob_seq"],
    "relations": ["id", "members", "tags", "info", "blob_seq"],
}

BLOB_INDEX_ARROW = pa.schema(
    [
        pa.field("path", pa.string()),
        pa.field("blob_seq", pa.int64()),
        pa.field("blob_type", pa.string()),
        pa.field("data_offset", pa.int64()),
        pa.field("data_size", pa.int64()),
    ]
)
BLOB_INDEX_DDL = (
    "path string, blob_seq bigint, blob_type string, data_offset bigint, data_size bigint"
)

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

META_KEYS = (
    "bbox",
    "required_features",
    "optional_features",
    "source",
    "writingprogram",
    "osmosis_replication_timestamp",
    "osmosis_replication_sequence_number",
    "osmosis_replication_base_url",
)
