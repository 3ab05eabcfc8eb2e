"""Overpass API source (``fetch_overpass`` analog,
``/root/reference/src/load_overpass.jl:21-117``).

Parity pieces:
- the three bounds forms: bbox string ``"b,l,t,r"`` (``load_overpass.jl:21-27``),
  ``around:radius,lat,lon`` (``:49-52``), raw bounds string (``:81-117``);
- the OverpassQL template ``[out:xml][timeout:t]; (node(b); way(b);
  relation(b);); out body; >; out skel qt;`` — the ``>;`` recursion fetches all
  members of matched elements, which our engine ALSO implements natively as
  explode→join member resolution (operators/spatial_join.py);
- percent-encoding via :func:`functions.text.url_encode` (A23,
  ``src/utils.jl:7-24``);
- 2-endpoint failover, last error rethrown (``:95-113``);
- response XML → the exact same parse path as local files (``:106-107`` routes
  into ``parse_osm`` — here :mod:`sources.xml_source`).

The network call itself is injectable (``fetcher``) so the sandbox tests run
fully offline; the default uses stdlib ``urllib`` — the only network boundary in
the package, driver-side only, mirroring the reference (SURVEY.md §3.3).

Beyond parity, :func:`radius_query` implements the ``around`` semantics
NATIVELY (cell-prefilter + exact haversine) — the reference delegates its only
distance operator to the server."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions import geo
from openstreetmapio_jl_spark.functions.text import url_encode

OVERPASS_ENDPOINTS = [
    "https://overpass-api.de/api/interpreter",
    "https://lz4.overpass-api.de/api/interpreter",
]


def bbox_bounds(bottom_lat: float, left_lon: float, top_lat: float, right_lon: float) -> str:
    return f"{bottom_lat},{left_lon},{top_lat},{right_lon}"


def around_bounds(lat: float, lon: float, radius_m: float) -> str:
    return f"around:{radius_m},{lat},{lon}"


def build_query(bounds: str, *, timeout: int = 25) -> str:
    """The reference's OverpassQL template (``load_overpass.jl:82-92``).

    Whitespace mirrors the Julia triple-quoted string's runtime value: its lines
    are tab-indented and the closing-delimiter line is space-indented, so Julia's
    dedent (longest common whitespace prefix) removes nothing and the tabs reach
    the server. Functional equivalence is what Overpass needs (OverpassQL ignores
    leading whitespace); the indentation is reproduced anyway so the encoded
    request byte-matches the reference's for the template body."""
    return (
        f"\t[out:xml][timeout:{timeout}];\n"
        "\t(\n"
        f"\t\tnode({bounds});\n"
        f"\t\tway({bounds});\n"
        f"\t\trelation({bounds});\n"
        "\t);\n"
        "\tout body;\n"
        "\t>;\n"
        "\tout skel qt;\n"
    )


def _default_fetcher(url: str, timeout: int) -> bytes:
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout + 5) as resp:
        return resp.read()


def fetch_overpass(
    spark: SparkSession,
    bounds: str,
    *,
    timeout: int = 25,
    endpoints: list[str] | None = None,
    fetcher: Callable[[str, int], bytes] | None = None,
):
    """bounds string → OSM bundle (nodes/ways/relations DataFrames via the XML
    path). Tries each endpoint in order; rethrows the last error if all fail."""
    import tempfile

    from openstreetmapio_jl_spark.sources import xml_source

    fetcher = fetcher or _default_fetcher
    query = build_query(bounds, timeout=timeout)
    last_error: Exception = RuntimeError("All Overpass API endpoints failed")
    for endpoint in endpoints or OVERPASS_ENDPOINTS:
        url = f"{endpoint}?data={url_encode(query)}"
        try:
            body = fetcher(url, timeout)
            with tempfile.NamedTemporaryFile(
                suffix=".osm", delete=False, mode="wb"
            ) as f:
                f.write(body)
                path = f.name
            return xml_source.read_osm(spark, path)
        except Exception as e:  # noqa: BLE001 — failover semantics per reference
            last_error = e
            continue
    raise last_error


def radius_query(
    points: DataFrame,
    lat: float,
    lon: float,
    radius_m: float,
) -> DataFrame:
    """Native ``around:radius,lat,lon``: cheap bbox prefilter (sargable — prunes
    on min/max parquet stats) + exact haversine. Adds ``dist_m``."""
    b, l, t, r = geo.radius_bbox(lat, lon, radius_m)
    pre = points.filter(
        F.col("lat").between(b, t) & F.col("lon").between(l, r)
    )
    dist = geo.haversine_m_col(F.lit(lat), F.lit(lon), F.col("lat"), F.col("lon"))
    return pre.withColumn("dist_m", dist).filter(F.col("dist_m") <= radius_m)
