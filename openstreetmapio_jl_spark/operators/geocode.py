"""Geocode extraction from web-page text + the pages→cells assignment stage.

Pages (``url, warc_ts, html, text, lang`` — BASELINE.json input_hint) carry
deterministic geo mentions (``geo:<lat>,<lon>`` URIs, the public RFC 5870 scheme).
Extraction is a JVM-side ``regexp_extract_all`` — no Python in this stage at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions.cells import xyz_tile_key_col

GEO_RE = r"geo:(-?[0-9]+\.[0-9]+),(-?[0-9]+\.[0-9]+)"


def _geocoded(pages: DataFrame, mentions: Column) -> DataFrame:
    """One row per element of ``mentions`` (an array of ``geo:<lat>,<lon>``
    strings) with its (lat, lon); out-of-range coordinates drop.

    Both the mentions and each mention's parsed ``[lat, lon]`` come out of a
    Generate, and the range filter, which reads a generator's output, cannot
    be pushed below it: the regex inside ``mentions`` and the split + cast of
    a mention run once per row. With plain aliases the optimizer inlines them
    into every range predicate (6 ``Matcher.find`` calls per row in the
    generated code for a ``regexp_extract`` alias; 5 ``split`` calls for the
    ``lat``/``lon`` projection)."""
    # each "_m" is "geo:<lat>,<lon>": one split, no second regex pass
    lat_lon = F.split(F.substring(F.col("_m"), 5, 2_147_483_647), ",").cast("array<double>")
    return (
        pages.filter(F.col("text").contains("geo:"))
        .withColumn("_m", F.explode(mentions))
        .withColumn("_p", F.explode(F.array(lat_lon)))
        .withColumns({"lat": F.element_at("_p", 1), "lon": F.element_at("_p", 2)})
        .drop("_m", "_p")
        .filter(F.col("lat").between(-90.0, 90.0) & F.col("lon").between(-180.0, 180.0))
    )


def _mentions() -> Column:
    return F.regexp_extract_all(F.col("text"), F.lit(GEO_RE), F.lit(0))


def extract_geocodes(pages: DataFrame) -> DataFrame:
    """pages → + (lat, lon) for rows with a geo mention in ``text`` (others
    dropped).
    FIRST mention per page; :func:`extract_geocodes_multi` keeps one row per
    mention when multi-place multiplicity is wanted. A page whose first
    mention is out of range drops, even if a later mention is valid.

    Hot-path shape: a cheap ``contains('geo:')`` substring prefilter gates the
    regex (on a real web corpus most pages carry no geo mention at all), and the
    regex runs ONCE per surviving row (see :func:`_geocoded`) — at 10^12
    documents the regex is the dominant cost of this stage."""
    return _geocoded(pages, F.slice(_mentions(), 1, 1))


def extract_geocodes_multi(pages: DataFrame) -> DataFrame:
    """pages → one row PER geo mention: a page citing several places yields
    one (lat, lon) row for each, so downstream containment joins hit EVERY
    polygon any mention falls in — the multiplicity the reference's per-element
    callback preserves (``/root/reference/src/load_pbf.jl:596-605`` keeps every
    matching element rather than the first). Pages with no valid mention drop,
    exactly like :func:`extract_geocodes`.

    Same hot-path shape as the single-mention form: the cheap ``contains``
    prefilter gates the regex, ``regexp_extract_all`` runs ONCE per surviving
    row, and the explode is bounded by mention count (a handful per page), not
    text length. Rows are otherwise identical to :func:`extract_geocodes`
    output (original page columns + lat, lon) — dedup of repeated identical
    mentions within one page is deliberately NOT applied (multiplicity is the
    contract; wrap with ``.distinct()`` when one-hit-per-place is wanted)."""
    return _geocoded(pages, _mentions())


def pages_with_cells(pages: DataFrame, *, zoom: int = 13) -> DataFrame:
    """geocoded pages + tile key (the cell-assignment stage of the north-star
    pipeline). S2/hex assignment available via functions.cells UDFs when a
    non-rectangular grid is wanted."""
    geocoded = extract_geocodes(pages)
    return geocoded.withColumn(
        "tile", xyz_tile_key_col(F.col("lat"), F.col("lon"), zoom)
    )
