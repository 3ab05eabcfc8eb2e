"""Minimal proto2 wire-format codec (no protobuf dependency).

Implements exactly the subset the OSM PBF format uses
(``/root/reference/generate/proto/fileformat.proto``, ``osmformat.proto``):
varint (incl. zigzag ``sint32/64``) and length-delimited fields, packed repeated
scalars. No groups, no fixed32/64 are ever produced by OSM writers, but the walker
still skips them correctly.

Decode is NumPy-vectorized for packed columns: all varints in a payload are decoded
in one pass (`decode_varints`), which is what makes the per-block kernel fast — the
same columnar trick the reference gets from Julia's ``cumsum`` broadcasting
(``/root/reference/src/load_pbf.jl:649-666``).
"""

from __future__ import annotations

import numpy as np

WT_VARINT = 0
WT_I64 = 1
WT_LEN = 2
WT_I32 = 5

_EMPTY_U64 = np.empty(0, dtype=np.uint64)


# ---------------------------------------------------------------------------
# Encoding (fixture writer / write_pbf sink)
# ---------------------------------------------------------------------------

def encode_varint(value: int) -> bytes:
    """Unsigned LEB128. Negative ints are encoded as 64-bit two's complement
    (proto2 semantics for int32/int64/enum)."""
    if value < 0:
        value &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_encode(value: int) -> int:
    return (value << 1) ^ (value >> 63)


def zigzag_decode(value: int) -> int:
    return (value >> 1) ^ -(value & 1)


def tag(field_no: int, wire_type: int) -> bytes:
    return encode_varint((field_no << 3) | wire_type)


def field_varint(field_no: int, value: int) -> bytes:
    return tag(field_no, WT_VARINT) + encode_varint(value)


def field_bytes(field_no: int, payload: bytes) -> bytes:
    return tag(field_no, WT_LEN) + encode_varint(len(payload)) + payload


def field_string(field_no: int, value: str) -> bytes:
    return field_bytes(field_no, value.encode("utf-8"))


def packed_varints(field_no: int, values, *, zigzag: bool = False) -> bytes:
    """Packed repeated scalar field. ``zigzag`` for sint32/sint64."""
    payload = bytearray()
    for v in values:
        v = int(v)
        if zigzag:
            v = zigzag_encode(v)
        payload += encode_varint(v)
    return field_bytes(field_no, bytes(payload))


def delta_encode(values) -> list[int]:
    """DELTA coding as the OSM writers do it (``osmformat.proto:209-219``)."""
    out, prev = [], 0
    for v in values:
        v = int(v)
        out.append(v - prev)
        prev = v
    return out


# ---------------------------------------------------------------------------
# Decoding
# ---------------------------------------------------------------------------

def read_varint(buf, pos: int) -> tuple[int, int]:
    """One varint starting at ``pos``; returns (value, new_pos). Value is the raw
    unsigned interpretation (callers apply zigzag / two's complement as needed)."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long (corrupt buffer)")


def iter_fields(buf):
    """Walk a message buffer, yielding ``(field_no, wire_type, value)``.

    value is an int for VARINT, a memoryview slice for LEN, raw little-endian
    ints for I32/I64 (skipped-through; OSM never writes them).
    """
    end = len(buf)
    pos = 0
    while pos < end:
        key, pos = read_varint(buf, pos)
        field_no, wire_type = key >> 3, key & 7
        if wire_type == WT_VARINT:
            value, pos = read_varint(buf, pos)
        elif wire_type == WT_LEN:
            length, pos = read_varint(buf, pos)
            if pos + length > end:
                raise ValueError(
                    f"length-delimited field {field_no} overruns buffer "
                    f"({pos}+{length} > {end})"
                )
            value = memoryview(buf)[pos : pos + length]
            pos += length
        elif wire_type == WT_I64:
            value = int.from_bytes(buf[pos : pos + 8], "little")
            pos += 8
        elif wire_type == WT_I32:
            value = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire_type} (field {field_no})")
        yield field_no, wire_type, value
    if pos != end:
        raise ValueError("message truncated mid-field")


def decode_varints(payload) -> np.ndarray:
    """Vectorized decode of ALL varints in a packed payload → uint64 array.

    One NumPy pass regardless of count: terminal bytes (high bit clear) delimit
    values; each byte contributes ``(b & 0x7f) << 7*offset`` and contributions are
    summed per group with ``np.add.reduceat``.
    """
    a = np.frombuffer(payload, dtype=np.uint8)
    if a.size == 0:
        return _EMPTY_U64
    ends = (a & 0x80) == 0
    if not ends[-1]:
        raise ValueError("packed varint payload truncated")
    # start index of the varint each byte belongs to
    is_start = np.empty(a.size, dtype=bool)
    is_start[0] = True
    is_start[1:] = ends[:-1]
    starts = np.flatnonzero(is_start)
    gid = np.cumsum(is_start) - 1
    offsets = np.arange(a.size, dtype=np.int64) - starts[gid]
    if offsets.max() > 9:
        raise ValueError("varint longer than 10 bytes (corrupt payload)")
    contrib = (a & 0x7F).astype(np.uint64) << (7 * offsets).astype(np.uint64)
    return np.add.reduceat(contrib, starts)


def varints_to_int64(raw: np.ndarray) -> np.ndarray:
    """Two's-complement reinterpretation (proto int32/int64/enum)."""
    return raw.view(np.int64) if raw.dtype == np.uint64 else raw.astype(np.int64)


def varints_zigzag(raw: np.ndarray) -> np.ndarray:
    """Zigzag decode (proto sint32/sint64): ``(v >> 1) ^ -(v & 1)``."""
    v = raw.astype(np.uint64, copy=False)
    return ((v >> np.uint64(1)).view(np.int64)) ^ -((v & np.uint64(1)).view(np.int64))


def decode_packed(payload, *, zigzag: bool = False) -> np.ndarray:
    raw = decode_varints(payload)
    return varints_zigzag(raw) if zigzag else varints_to_int64(raw)
