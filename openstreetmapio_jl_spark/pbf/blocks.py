"""PBF blob framing: index pass, type/size validation, codec dispatch.

Semantics match the reference:
- framing: u32 big-endian BlobHeader length, BlobHeader, Blob payload
  (``/root/reference/src/load_pbf.jl:107-133``);
- guardrails: header <= 64 KiB, blob data <= 32 MiB (``src/load_pbf.jl:113-114,123-124``);
- blob-type validation: first blob OSMHeader, rest OSMData (``src/load_pbf.jl:149-154``);
- codec dispatch over the Blob oneof with raw_size integrity check; obsolete bzip2 and
  unknown/empty arms rejected (``src/load_pbf.jl:172-185,213-274``).

Spark-first design: :func:`scan_blob_index` is a cheap metadata pass (reads headers,
seeks past payloads) run once per file on the driver; the heavy payload decode happens
later inside ``mapInArrow`` tasks that each read only their own byte ranges. This is what turns the reference's sequential loop
into embarrassing block parallelism (``osmformat.proto:39-44`` guarantees block
independence).
"""

from __future__ import annotations

import lzma
import os
import struct
import zlib
from dataclasses import dataclass

from openstreetmapio_jl_spark.pbf import proto

MAX_HEADER_SIZE = 64 * 1024
MAX_BLOB_SIZE = 32 * 1024 * 1024

# Blob oneof arms (fileformat.proto:35-56)
_F_RAW = 1
_F_RAW_SIZE = 2
_F_ZLIB = 3
_F_LZMA = 4
_F_BZIP2 = 5  # obsolete — reject, like the reference
_F_LZ4 = 6
_F_ZSTD = 7

# BlobHeader fields (fileformat.proto:63-67)
_F_TYPE = 1
_F_INDEXDATA = 2
_F_DATASIZE = 3


@dataclass(frozen=True)
class BlobDescriptor:
    path: str
    blob_seq: int          # 0-based position in the file (header blob = 0)
    blob_type: str         # "OSMHeader" | "OSMData"
    data_offset: int       # byte offset of the Blob message payload
    data_size: int         # length of the Blob message payload


def parse_blob_header(buf) -> tuple[str, int]:
    """BlobHeader → (type, datasize)."""
    blob_type, datasize = None, None
    for fno, _wt, val in proto.iter_fields(buf):
        if fno == _F_TYPE:
            blob_type = bytes(val).decode("utf-8")
        elif fno == _F_DATASIZE:
            datasize = val
    if blob_type is None or datasize is None:
        raise ValueError("BlobHeader missing required type/datasize")
    return blob_type, datasize


def _read_frame(f, path: str, seq: int, fsize: int) -> BlobDescriptor:
    """Frame blob ``seq`` at the current position of open file ``f`` (``fsize``
    bytes): length prefix, header-size guard, BlobHeader, data-size guards, blob
    type, truncation. Leaves ``f`` at the next blob."""
    len_bytes = f.read(4)
    if len(len_bytes) != 4:
        raise ValueError(f"{path}: truncated blob length prefix at blob {seq}")
    header_len = struct.unpack(">I", len_bytes)[0]
    if header_len > MAX_HEADER_SIZE:
        raise ValueError(f"{path}: BlobHeader size {header_len} exceeds {MAX_HEADER_SIZE}")
    header_bytes = f.read(header_len)
    if len(header_bytes) != header_len:
        raise ValueError(f"{path}: truncated BlobHeader at blob {seq}")
    blob_type, datasize = parse_blob_header(header_bytes)
    if datasize > MAX_BLOB_SIZE:
        raise ValueError(f"{path}: blob data size {datasize} exceeds {MAX_BLOB_SIZE}")
    if datasize < 0:
        raise ValueError(f"{path}: negative blob data size at blob {seq}")
    offset = f.tell()
    expected = "OSMHeader" if seq == 0 else "OSMData"
    if blob_type != expected:
        raise ValueError(f"{path}: blob {seq} has type {blob_type!r}, expected {expected!r}")
    if offset + datasize > fsize:
        # seek past EOF "succeeds", so check against the real file size
        raise ValueError(f"{path}: truncated blob payload at blob {seq}")
    f.seek(offset + datasize)
    return BlobDescriptor(path, seq, blob_type, offset, datasize)


def scan_blob_index(path: str) -> list[BlobDescriptor]:
    """Metadata-only pass over a .pbf file: framing + headers, payloads skipped.

    Raises ValueError on malformed framing (mirrors the reference's ArgumentError
    wrapping at ``src/load_pbf.jl:78-84``).
    """
    out: list[BlobDescriptor] = []
    fsize = os.path.getsize(path)
    with open(path, "rb") as f:
        while f.tell() < fsize:
            out.append(_read_frame(f, path, len(out), fsize))
    if not out:
        raise ValueError(f"{path}: no blobs found (not a PBF file?)")
    return out


def read_blob_payload(path: str, offset: int, size: int) -> bytes:
    with open(path, "rb") as f:
        f.seek(offset)
        data = f.read(size)
    if len(data) != size:
        raise ValueError(f"{path}: short read at {offset} (+{size})")
    return data


def validate_decompressed_size(data: bytes, expected: int, fmt: str) -> None:
    """raw_size integrity check (``src/load_pbf.jl:172-185``); expected<=0 → skip."""
    if expected > 0 and len(data) != expected:
        raise ValueError(
            f"{fmt} decompressed size {len(data)} != declared raw_size {expected}"
        )


def decompress_blob(blob_bytes) -> bytes:
    """Blob message → decompressed block payload.

    Codec dispatch identical to ``src/load_pbf.jl:213-274``: raw/zlib/lzma native;
    lz4/zstd gated behind import-try (wheels absent in this sandbox); obsolete bzip2
    and unknown/empty arms rejected.
    """
    raw_size = 0
    arm: tuple[int, memoryview] | None = None
    for fno, _wt, val in proto.iter_fields(blob_bytes):
        if fno == _F_RAW_SIZE:
            raw_size = val
        elif fno in (_F_RAW, _F_ZLIB, _F_LZMA, _F_BZIP2, _F_LZ4, _F_ZSTD):
            arm = (fno, val)
    if arm is None:
        raise ValueError("Blob has no data arm (empty blob)")
    fno, payload = arm
    if fno == _F_RAW:
        data = bytes(payload)
    elif fno == _F_ZLIB:
        data = zlib.decompress(bytes(payload))
    elif fno == _F_LZMA:
        data = lzma.decompress(bytes(payload))
    elif fno == _F_BZIP2:
        raise ValueError("bzip2-compressed blobs are obsolete and unsupported")
    elif fno == _F_LZ4:
        try:
            import lz4.frame  # type: ignore
        except ImportError as exc:  # pragma: no cover - env without lz4
            raise ValueError("lz4-compressed blob but lz4 package unavailable") from exc
        data = lz4.frame.decompress(bytes(payload))
    else:  # _F_ZSTD
        try:
            import zstandard  # type: ignore
        except ImportError as exc:  # pragma: no cover - env without zstd
            raise ValueError("zstd-compressed blob but zstandard unavailable") from exc
        data = zstandard.ZstdDecompressor().decompress(bytes(payload))
    codec = {1: "raw", 3: "zlib", 4: "lzma", 6: "lz4", 7: "zstd"}[fno]
    validate_decompressed_size(data, raw_size, codec)
    return data


def frame_blob(blob_type: str, block_payload: bytes, *, compress: bool = True) -> bytes:
    """Encode one framed blob (u32 BE len + BlobHeader + Blob) — the write path."""
    if compress:
        blob_msg = proto.field_varint(_F_RAW_SIZE, len(block_payload)) + proto.field_bytes(
            _F_ZLIB, zlib.compress(block_payload)
        )
    else:
        blob_msg = proto.field_varint(_F_RAW_SIZE, len(block_payload)) + proto.field_bytes(
            _F_RAW, block_payload
        )
    header = proto.field_string(_F_TYPE, blob_type) + proto.field_varint(
        _F_DATASIZE, len(blob_msg)
    )
    return struct.pack(">I", len(header)) + header + blob_msg
