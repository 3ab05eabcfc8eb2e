"""Distributed sharded OSM XML sink.

Mirror of :mod:`~openstreetmapio_jl_spark.sinks.pbf_sink` for the ``.osm`` XML
format the reference's ``load_osm`` reads (``/root/reference/src/load_xml.jl``):
entity DataFrames → ``{kind}-NNNNN.osm`` shard files, each a complete
standalone OSM XML document (header + ``<bounds>`` + elements), encoded
executor-side per partition. It shares the PBF sink's one shard writer
(:mod:`~openstreetmapio_jl_spark.sinks.shards`: range-sharded + sorted by
``id``, streaming batch encode, temp-file + ``os.replace`` task-retry
idempotence, shard-count-sized manifest back to the driver) and supplies only
the document header, the per-batch element lines and the closing tag.

Format notes (matching the engine's own XML reader and the reference's):

- coordinates print at 7 decimal places — exact for anything that came through
  PBF (granularity 100 ⇒ 1e-7°), and the OSM XML convention;
- ``info`` becomes ``version``/``user`` attributes when present, but the XML
  READ path drops Info entirely (``src/load_xml.jl:215,230,245`` — preserved
  asymmetry), so a write→read round trip returns NULL info by design;
- attribute escaping matches ``xml.sax.saxutils`` with quote/apostrophe
  entities plus ``&#10;``/``&#9;``/``&#13;`` for literal whitespace (attribute
  values are whitespace-normalized on re-read unless char-ref'd); remaining C0
  control chars are stripped (unrepresentable in XML 1.0 — PBF is the lossless
  path for those).
"""

from __future__ import annotations

import re as _re
from typing import TYPE_CHECKING
from xml.sax.saxutils import escape as xml_escape

from openstreetmapio_jl_spark.sinks.shards import ShardFormat, write_bundle, write_sharded

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# C0 controls other than \t\n\r are unrepresentable in XML 1.0 (even as char
# refs) — strip them; the PBF sink is the lossless path for such payloads
_C0_RE = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")

_ESC_ENTITIES = {
    '"': "&quot;",
    "'": "&#39;",
    # literal whitespace in attribute values is NORMALIZED to spaces by any
    # conforming XML parser on re-read; character references are exempt from
    # that normalization, so \n/\t/\r only round-trip as &#10;/&#9;/&#13;
    "\n": "&#10;",
    "\t": "&#9;",
    "\r": "&#13;",
}


def _esc(s: str) -> str:
    return xml_escape(_C0_RE.sub("", s), _ESC_ENTITIES)


def _tag_lines(el: dict, indent: str) -> list[str]:
    return [
        f'{indent}<tag k="{_esc(k)}" v="{_esc(v)}"/>'
        for k, v in (el.get("tags") or {}).items()
    ]


def _info_attrs(el: dict) -> str:
    info = el.get("info")
    if not info:
        return ""
    out = ""
    if info.get("version") is not None:
        out += f' version="{info["version"]}"'
    if info.get("user") is not None:
        out += f' user="{_esc(info["user"])}"'
    return out


def _element_lines(el: dict, kind: str) -> list[str]:
    if kind == "nodes":
        attrs = (
            f'id="{el["id"]}" lat="{el["lat"]:.7f}" lon="{el["lon"]:.7f}"'
            + _info_attrs(el)
        )
        tags = _tag_lines(el, "    ")
        if tags:
            return [f"  <node {attrs}>", *tags, "  </node>"]
        return [f"  <node {attrs}/>"]
    if kind == "ways":
        return [
            f'  <way id="{el["id"]}"{_info_attrs(el)}>',
            *(f'    <nd ref="{r}"/>' for r in el["refs"] or []),
            *_tag_lines(el, "    "),
            "  </way>",
        ]
    return [
        f'  <relation id="{el["id"]}"{_info_attrs(el)}>',
        *(
            f'    <member type="{m["type"]}" ref="{m["ref"]}" role="{_esc(m["role"])}"/>'
            for m in el.get("members") or []
        ),
        *_tag_lines(el, "    "),
        "  </relation>",
    ]


def _header(meta: dict) -> bytes:
    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<osm version="0.6" generator="openstreetmapio_jl_spark sharded sink">',
    ]
    bb = meta.get("bbox")
    if bb:
        lines.append(
            f'  <bounds minlat="{bb["bottom_lat"]}" minlon="{bb["left_lon"]}" '
            f'maxlat="{bb["top_lat"]}" maxlon="{bb["right_lon"]}"/>'
        )
    return ("\n".join(lines) + "\n").encode("utf-8")


def _encode(elements: list[dict], kind: str) -> tuple[bytes, int]:
    text = "\n".join(line for el in elements for line in _element_lines(el, kind))
    return (text + "\n").encode("utf-8"), 0


XML = ShardFormat(ext=".osm", header=_header, encode=_encode, footer=b"</osm>\n")


def write_xml_sharded(
    df: "DataFrame",
    kind: str,
    out_dir: str,
    *,
    shards: int | None = None,
    meta: dict | None = None,
) -> list[dict]:
    """Write one entity kind as ``{out_dir}/{kind}-NNNNN.osm`` shards."""
    return write_sharded(df, kind, out_dir, XML, shards=shards, meta=meta)


def write_bundle_xml(bundle, out_dir: str, *, shards: int | None = None) -> list[dict]:
    """Write an ``OSMBundle`` as a sharded ``.osm`` directory plus a
    ``_manifest.json``; reads back via
    :func:`~openstreetmapio_jl_spark.sources.xml_source.read_osm` (one parse
    task per shard)."""
    return write_bundle(bundle, out_dir, write_xml_sharded, shards=shards)
