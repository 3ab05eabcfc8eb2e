"""The one shard writer behind both OSM sinks (``pbf_sink``, ``xml_sink``).

Scale shape (100 TB): each kind is range-partitioned by ``id`` (OSM files are
id-sorted per kind by convention; range shards also give each shard a tight
``[min_id, max_id]`` span for the manifest) and sorted within partitions —
both stay in Tungsten. The per-partition Arrow→encode→write kernel streams
batches, so executor memory holds one shard's elements at a time. Shard files
are written to a temp name and ``os.replace``d into place, so a retried task
overwrites its own partial output idempotently (the local-FS stand-in for an
object-store task-commit protocol; on HDFS/S3 you would swap the ``open`` for
a committer-backed stream). The manifest (one row per shard: path, kind, rows,
bytes, blob count, id span) returns to the driver — shard-count-sized, tiny.

A format supplies only a :class:`ShardFormat`: its file suffix, header,
per-batch element encoding and footer.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass
from datetime import timezone
from typing import TYPE_CHECKING, Callable, Iterator

import pyarrow as pa

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

MANIFEST_DDL = (
    "path string, kind string, rows bigint, bytes bigint, blobs bigint, "
    "min_id bigint, max_id bigint"
)

_ENTITY_COLS = {
    "nodes": ["id", "lat", "lon", "tags", "info"],
    "ways": ["id", "refs", "tags", "info", "positions"],
    "relations": ["id", "members", "tags", "info"],
}


@dataclass(frozen=True)
class ShardFormat:
    """What one output format supplies to the shard writer.

    ``encode(elements, kind)`` turns one id-sorted batch of element dicts into
    ``(bytes, data blobs written)``; a format without blob framing (XML)
    returns 0 blobs, and its manifest counts the whole document as one."""

    ext: str
    header: Callable[[dict], bytes]
    encode: Callable[[list[dict], str], tuple[bytes, int]]
    footer: bytes = b""


def _epoch_seconds(ts) -> float | None:
    """Arrow timestamp('us') round-trips to naive-UTC datetime; the encoder
    (``pbf/writer.py:_encode_info``) wants epoch seconds."""
    if ts is None:
        return None
    return ts.replace(tzinfo=timezone.utc).timestamp()


def _row_to_element(row: dict, kind: str) -> dict:
    el: dict = {"id": row["id"]}
    tags = row.get("tags")
    # Arrow map -> list[(k, v)]; preserve NULL-vs-empty (the reference keeps
    # no-tags as `nothing`, src/load_pbf.jl:558-560 — empty dict encodes the same)
    el["tags"] = dict(tags) if tags else None
    info = row.get("info")
    if info is not None:
        info = dict(info)
        info["timestamp"] = _epoch_seconds(info.get("timestamp"))
        el["info"] = info
    if kind == "nodes":
        el["lat"], el["lon"] = row["lat"], row["lon"]
    elif kind == "ways":
        el["refs"] = row["refs"]
        pos = row.get("positions")
        if pos:
            el["positions"] = [(p["lat"], p["lon"]) for p in pos]
    else:
        el["members"] = row.get("members") or []
    return el


def _shard_kernel(fmt: ShardFormat, kind: str, out_dir: str, meta: dict):
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        final = os.path.join(out_dir, f"{kind}-{pid:05d}{fmt.ext}")
        tmp = f"{final}.tmp-{uuid.uuid4().hex}"
        rows = blobs = 0
        min_id = max_id = None
        f = None
        try:
            for rb in batches:
                elements = [_row_to_element(r, kind) for r in rb.to_pylist()]
                if not elements:
                    continue
                if f is None:
                    f = open(tmp, "wb")
                    f.write(fmt.header(meta))
                # partitions are id-sorted (sortWithinPartitions), so per-batch
                # min/max extend the running span monotonically
                min_id = elements[0]["id"] if min_id is None else min_id
                max_id = elements[-1]["id"]
                rows += len(elements)
                data, n = fmt.encode(elements, kind)
                f.write(data)
                blobs += n
            if f is None:  # empty range partition — no file
                return
            f.write(fmt.footer)
            f.close()
            f = None
            size = os.path.getsize(tmp)
            os.replace(tmp, final)  # idempotent under task retry
        finally:
            if f is not None:
                f.close()
            if os.path.exists(tmp):
                os.remove(tmp)
        yield pa.RecordBatch.from_pylist(
            [
                {
                    "path": final,
                    "kind": kind,
                    "rows": rows,
                    "bytes": size,
                    "blobs": blobs or 1,
                    "min_id": min_id,
                    "max_id": max_id,
                }
            ]
        )

    return kernel


def _remove_stale_shards(out_dir: str, kind: str, ext: str) -> None:
    """Delete this writer's own ``{kind}-NNNNN{ext}`` files from an earlier
    write. Shards are named by partition id, so a narrower re-export would
    otherwise leave the wider write's tail shards to be read back with it."""
    own = re.compile(rf"{kind}-\d{{5,}}{re.escape(ext)}")
    for name in os.listdir(out_dir):
        if own.fullmatch(name):
            os.remove(os.path.join(out_dir, name))


def write_sharded(
    df: "DataFrame",
    kind: str,
    out_dir: str,
    fmt: ShardFormat,
    *,
    shards: int | None,
    meta: dict | None,
) -> list[dict]:
    """Write one entity kind as ``{out_dir}/{kind}-NNNNN{fmt.ext}`` shards and
    return the manifest rows (one per non-empty shard). ``shards=None`` means
    the session's default parallelism."""
    if kind not in _ENTITY_COLS:
        raise ValueError(f"kind must be one of {sorted(_ENTITY_COLS)}, got {kind!r}")
    cols = [c for c in _ENTITY_COLS[kind] if c in df.columns]
    if "id" not in cols:
        raise ValueError(f"{kind} DataFrame needs an 'id' column; has {df.columns}")
    # ALWAYS range-partition by id: with the incoming hash/arbitrary
    # partitioning, shards would be internally sorted but their id-spans could
    # overlap, breaking the manifest's tight-span property and the
    # id-sorted-file OSM convention. Default from defaultParallelism, not
    # df.rdd.getNumPartitions(): touching .rdd under AQE materializes the
    # upstream query stages just to read a partition count.
    plan = (
        df.select(*cols)
        .repartitionByRange(
            shards
            if shards is not None
            else max(1, df.sparkSession.sparkContext.defaultParallelism),
            "id",
        )
        .sortWithinPartitions("id")
    )
    os.makedirs(out_dir, exist_ok=True)
    _remove_stale_shards(out_dir, kind, fmt.ext)
    manifest = plan.mapInArrow(
        _shard_kernel(fmt, kind, out_dir, meta or {}), MANIFEST_DDL
    ).collect()
    return [r.asDict() for r in manifest]


def write_bundle(
    bundle,
    out_dir: str,
    write_kind: Callable[..., list[dict]],
    *,
    shards: int | None,
) -> list[dict]:
    """Write all three kinds of an ``OSMBundle`` with ``write_kind`` (a sink's
    ``write_*_sharded``) plus a ``_manifest.json`` of every shard written."""
    meta = dict(bundle.meta or {})
    meta.setdefault("writingprogram", "openstreetmapio_jl_spark sharded sink")
    manifest: list[dict] = []
    for kind in _ENTITY_COLS:
        manifest.extend(
            write_kind(getattr(bundle, kind), kind, out_dir, shards=shards, meta=meta)
        )
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump({"meta_keys": sorted(meta), "shards": manifest}, f, indent=1)
    return manifest
