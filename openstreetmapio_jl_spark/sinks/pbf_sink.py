"""Distributed sharded OSM PBF sink.

Closes the source↔sink loop: the engine reads PBF (``sources/pbf_source.py``,
one driver-built blob index for one file or many) but could otherwise only
*write* PBF from driver-side dict lists (``pbf/writer.py:write_pbf``, used for
fixtures). This sink writes the decoded entity DataFrames back out as a
directory of shard ``.osm.pbf`` files, one per Spark partition, encoded
entirely executor-side — no ``collect()``, no driver bottleneck. The reference
has no write path at all (SURVEY.md §2 Table B "Scans/sources": in-memory dicts
only), so this is new engine surface; the wire format matches what the
reference reads
(``/root/reference/generate/proto/{fileformat,osmformat}.proto``).

The sharding, temp-file commit and manifest live in
:mod:`~openstreetmapio_jl_spark.sinks.shards`; this module supplies the PBF
header blob and the per-batch ``OSMData`` blob encoding.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from openstreetmapio_jl_spark.pbf import blocks, writer
from openstreetmapio_jl_spark.sinks.shards import ShardFormat, write_bundle, write_sharded

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

ELEMENTS_PER_BLOCK = 8000
DENSE = True
COMPRESS = True


def _header(meta: dict) -> bytes:
    return blocks.frame_blob(
        "OSMHeader", writer.encode_header_block(meta), compress=COMPRESS
    )


def _encode(elements: list[dict], kind: str) -> tuple[bytes, int]:
    frames = [
        blocks.frame_blob(
            "OSMData",
            writer.encode_primitive_block(
                dense=DENSE,
                with_info=True,
                **{kind: elements[i : i + ELEMENTS_PER_BLOCK]},
            ),
            compress=COMPRESS,
        )
        for i in range(0, len(elements), ELEMENTS_PER_BLOCK)
    ]
    return b"".join(frames), len(frames)


PBF = ShardFormat(ext=".osm.pbf", header=_header, encode=_encode)


def write_pbf_sharded(
    df: "DataFrame",
    kind: str,
    out_dir: str,
    *,
    shards: int | None = None,
    meta: dict | None = None,
) -> list[dict]:
    """Write one entity kind as ``{out_dir}/{kind}-NNNNN.osm.pbf`` shards.

    Returns the manifest rows (one per non-empty shard). ``shards`` defaults to
    the session's default parallelism."""
    if "info" in df.columns:
        # _epoch_seconds stamps tzinfo=UTC onto the naive datetimes Arrow hands
        # the kernel — only correct when the session zone IS UTC (a non-UTC
        # zone shifts exported info.timestamps falling in DST gaps); fail loud
        # rather than export silently-shifted metadata
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"PBF export of info.timestamp requires "
                f"spark.sql.session.timeZone=UTC (session has {tz!r})"
            )
    return write_sharded(df, kind, out_dir, PBF, shards=shards, meta=meta)


def write_bundle_pbf(bundle, out_dir: str, *, shards: int | None = None) -> list[dict]:
    """Write an :class:`~openstreetmapio_jl_spark.sources.pbf_source.OSMBundle`
    as a sharded PBF directory plus a ``_manifest.json``.

    The shard files read back through the same driver-built blob index as a
    single file (``blob_index_df``: one size-balanced decode task per core),
    so a written corpus re-ingests without any driver-side serialization."""
    return write_bundle(bundle, out_dir, write_pbf_sharded, shards=shards)
