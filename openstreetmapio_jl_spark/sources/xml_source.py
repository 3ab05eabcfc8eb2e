"""OSM XML source (``read_osm`` analog, ``/root/reference/src/load_xml.jl:41-58``).

Semantics preserved:
- the XML path drops ALL Info — ``info`` is always NULL even when version/user
  attributes are present (``src/load_xml.jl:215,230,245``);
- lat/lon parsed as plain floats, NOT rounded (asymmetry vs the PBF path);
- tags: no-tags ⇒ NULL map; tag values entity-decoded (``src/load_xml.jl:295``) —
  ``xml.etree`` decodes standard entities during parse, covering the reference's
  6-entity set applied on top of its non-decoding XML library;
- ``bounds`` → meta bbox; unknown elements → meta dict (``src/load_xml.jl:96-169``);
- element-level error isolation: a malformed element is skipped, the file survives
  (``src/load_xml.jl:100-121``).

Spark-first: one ``mapInArrow`` task per file (OSM XML files don't split safely);
parallelism comes from many files. For a single huge XML, convert to PBF first —
the reference has the same single-thread limitation.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from openstreetmapio_jl_spark import model


def parse_osm_xml(path: str) -> dict:
    """One file → {'nodes': [...], 'ways': [...], 'relations': [...], 'meta': {...}}
    of plain python dicts (shared row-assembly format with the fixture writer)."""
    tree = ET.parse(path)
    root = tree.getroot()
    if root.tag != "osm":
        found = root.find(".//osm")
        if found is None:
            return {"nodes": [], "ways": [], "relations": [], "meta": {}}
        root = found
    nodes, ways, relations = [], [], []
    meta: dict = {}
    for el in root:
        try:
            if el.tag == "node":
                tags = _tags_of(el)
                nodes.append(
                    {
                        "id": int(el.get("id")),
                        "lat": float(el.get("lat")),
                        "lon": float(el.get("lon")),
                        "tags": tags,
                    }
                )
            elif el.tag == "way":
                refs = [int(nd.get("ref")) for nd in el if nd.tag == "nd"]
                ways.append({"id": int(el.get("id")), "refs": refs, "tags": _tags_of(el)})
            elif el.tag == "relation":
                members = [
                    {"ref": int(m.get("ref")), "type": m.get("type"), "role": m.get("role")}
                    for m in el
                    if m.tag == "member"
                ]
                relations.append(
                    {"id": int(el.get("id")), "members": members, "tags": _tags_of(el)}
                )
            else:
                _add_meta(meta, el)
        except (TypeError, ValueError):
            continue  # element-level isolation (src/load_xml.jl:100-121)
    return {"nodes": nodes, "ways": ways, "relations": relations, "meta": meta}


def _header_meta(path: str) -> dict:
    """The ``meta`` of :func:`parse_osm_xml`, read from the file's header only:
    the top-level elements before the first node, way or relation (``bounds``,
    and e.g. Overpass's ``note``/``meta``). The scan stops there, so it costs
    the header's bytes, not a tree of the whole file. A non-entity element
    placed after the first entity is not in this meta."""
    meta: dict = {}
    osm_depth = None
    depth = 0
    with open(path, "rb") as f:
        for event, el in ET.iterparse(f, events=("start", "end")):
            if event == "start":
                depth += 1
                if osm_depth is None:
                    if el.tag == "osm":
                        osm_depth = depth
                elif depth == osm_depth + 1 and el.tag in ("node", "way", "relation"):
                    break
                continue
            depth -= 1
            if osm_depth is None:
                continue
            if depth == osm_depth:  # a child of <osm> is complete
                try:
                    _add_meta(meta, el)
                except (TypeError, ValueError):
                    pass  # element-level isolation, as in parse_osm_xml
            elif depth < osm_depth:  # </osm>
                break
    return meta


def _add_meta(meta: dict, el) -> None:
    if el.tag == "bounds":
        meta["bbox"] = {
            "bottom_lat": float(el.get("minlat")),
            "left_lon": float(el.get("minlon")),
            "top_lat": float(el.get("maxlat")),
            "right_lon": float(el.get("maxlon")),
        }
    else:
        meta[el.tag] = _unknown_element(el)


def _tags_of(el) -> dict | None:
    tags = None
    for child in el:
        if child.tag == "tag":
            if tags is None:
                tags = {}
            tags[child.get("k")] = child.get("v")
    return tags


def _unknown_element(el) -> dict:
    out = dict(el.attrib)
    for child in el:
        out[child.tag] = _unknown_element(child)
    return out


# ---------------------------------------------------------------------------
# dict rows → Arrow (shared with tests; info always NULL on this path)
# ---------------------------------------------------------------------------

def nodes_to_batch(nodes: list[dict]) -> pa.RecordBatch:
    n = len(nodes)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.array([x["id"] for x in nodes], dtype=np.int64)),
            pa.array(np.array([x["lat"] for x in nodes], dtype=np.float64)),
            pa.array(np.array([x["lon"] for x in nodes], dtype=np.float64)),
            pa.array([x.get("tags") for x in nodes], type=model.TAGS_ARROW),
            pa.nulls(n, type=model.INFO_ARROW),
            pa.array(np.zeros(n, dtype=np.int64)),
        ],
        schema=model.NODES_ARROW,
    )


def ways_to_batch(ways: list[dict]) -> pa.RecordBatch:
    n = len(ways)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.array([x["id"] for x in ways], dtype=np.int64)),
            pa.array([x["refs"] for x in ways], type=pa.list_(pa.int64())),
            pa.array([x.get("tags") for x in ways], type=model.TAGS_ARROW),
            pa.nulls(n, type=model.INFO_ARROW),
            pa.nulls(n, type=pa.list_(model.POSITION_ARROW)),
            pa.array(np.zeros(n, dtype=np.int64)),
        ],
        schema=model.WAYS_ARROW,
    )


def relations_to_batch(relations: list[dict]) -> pa.RecordBatch:
    n = len(relations)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.array([x["id"] for x in relations], dtype=np.int64)),
            pa.array(
                [
                    [(m["ref"], m["type"], m["role"]) for m in x["members"]]
                    for x in relations
                ],
                type=pa.list_(model.MEMBER_ARROW),
            ),
            pa.array([x.get("tags") for x in relations], type=model.TAGS_ARROW),
            pa.nulls(n, type=model.INFO_ARROW),
            pa.array(np.zeros(n, dtype=np.int64)),
        ],
        schema=model.RELATIONS_ARROW,
    )


_TO_BATCH = {"nodes": nodes_to_batch, "ways": ways_to_batch, "relations": relations_to_batch}


def read_osm(
    spark: SparkSession, paths: str | list[str]
) -> "OSMBundle":  # noqa: F821 - forward ref to pbf_source.OSMBundle
    """Distributed XML read: one task per file."""
    from openstreetmapio_jl_spark.sources.pbf_source import OSMBundle

    if isinstance(paths, str):
        paths = [paths]
    path_df = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        len(paths)
    )

    def kernel_for(kind: str, ddl: str):
        def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                for p in batch.column("path").to_pylist():
                    parsed = parse_osm_xml(p)
                    rows = parsed[kind]
                    if rows:
                        yield _TO_BATCH[kind](rows)

        return kernel

    nodes = path_df.mapInArrow(kernel_for("nodes", model.NODES_DDL), model.NODES_DDL)
    ways = path_df.mapInArrow(kernel_for("ways", model.WAYS_DDL), model.WAYS_DDL)
    relations = path_df.mapInArrow(
        kernel_for("relations", model.RELATIONS_DDL), model.RELATIONS_DDL
    )
    meta = _header_meta(paths[0]) if paths else {}
    return OSMBundle(nodes=nodes, ways=ways, relations=relations, meta=meta)
