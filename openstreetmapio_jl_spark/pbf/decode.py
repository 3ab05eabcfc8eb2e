"""Vectorized PrimitiveBlock → Arrow decode kernel.

Re-implements the reference's extraction semantics (``/root/reference/src/load_pbf.jl``)
as whole-column NumPy operations producing ``pyarrow.RecordBatch`` outputs — this is
the function that runs inside ``mapInArrow`` tasks, one call per blob.

Rule: every Arrow builder works on whole columns (NumPy masks, ``np.repeat``,
offsets built from counts). The only per-element Python is the protobuf walk over
each Node/Way/Relation message (and the Info inside it) and the stateful walk of a
malformed dense ``keys_vals`` stream.

Reference semantics preserved exactly (SURVEY.md §7 "hard parts"):

- coordinates ``1e-9 * (offset + granularity * v)`` rounded to 7 digits with
  round-half-even (``src/load_pbf.jl:572-579`` — Julia/NumPy banker's rounding);
- coordinate range filter on the REGULAR-node path only (``src/load_pbf.jl:582-585``);
  dense nodes are not range-filtered (``src/load_pbf.jl:637-718``);
- tag sids resolved 0-based (Julia ``string_table[k+1]``, ``src/load_pbf.jl:563-567``),
  but ``user_sid`` 1-based (Julia ``stringtable[user_sid]``, ``src/load_pbf.jl:469-474``)
  — an asymmetry the reference has and we keep;
- sparse ``Info.visible`` is never null when an Info message is present (the generated
  struct defaults it to ``false``, ``src/OSMPBF/osmformat_pb.jl:190``), so
  Info-present ⇒ info struct non-null; dense ``visible`` is null when the packed
  array is absent (``src/load_pbf.jl:773``);
- dense timestamps have NO ``!= 0`` null-check (``src/load_pbf.jl:751-760``), sparse
  timestamps do (``src/load_pbf.jl:449-458``);
- duplicate tag keys: last write wins (Julia Dict assignment);
- group-level error isolation: a corrupt PrimitiveGroup is skipped with a warning,
  the rest of the block survives (``src/load_pbf.jl:403-406``).
"""

from __future__ import annotations

import logging
import warnings
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from openstreetmapio_jl_spark import model
from openstreetmapio_jl_spark.pbf import proto

log = logging.getLogger(__name__)

# PrimitiveBlock fields (osmformat.proto:104-117)
_PB_STRINGTABLE = 1
_PB_GROUP = 2
_PB_GRANULARITY = 17
_PB_DATE_GRANULARITY = 18
_PB_LAT_OFFSET = 19
_PB_LON_OFFSET = 20

# PrimitiveGroup fields (osmformat.proto:120-126)
_PG_NODES = 1
_PG_DENSE = 2
_PG_WAYS = 3
_PG_RELATIONS = 4
_PG_CHANGESETS = 5

_MEMBER_TYPES = np.array(["node", "way", "relation"], dtype=object)


@dataclass
class LatLonParams:
    lat_offset: int
    lon_offset: int
    granularity: int


@dataclass
class BlockStats:
    """Per-block lineage counters (north_rule: per-partition lineage + metrics)."""

    nodes: int = 0
    ways: int = 0
    relations: int = 0
    corrupt_groups: int = 0
    warnings: list[str] = field(default_factory=list)


def _warn(stats: BlockStats, msg: str) -> None:
    stats.warnings.append(msg)
    log.warning(msg)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def scale_coords(raw: np.ndarray, offset: int, granularity: int) -> np.ndarray:
    """``round(1e-9*(offset + granularity*x), 7)`` — np.round is round-half-even,
    matching Julia's ``round(digits=7)`` (``src/load_pbf.jl:572-579``)."""
    return np.round(1.0e-9 * (offset + granularity * raw.astype(np.float64)), 7)


def build_string_table(payload) -> list[str]:
    """StringTable → list[str]; transcode failures → "" (``src/load_pbf.jl:502-520``)."""
    out: list[str] = []
    for fno, _wt, val in proto.iter_fields(payload):
        if fno == 1:
            try:
                out.append(bytes(val).decode("utf-8"))
            except UnicodeDecodeError:
                out.append("")
    return out


def _concat_packed(chunks) -> bytes:
    if not chunks:
        return b""
    if len(chunks) == 1:
        return bytes(chunks[0])
    return b"".join(bytes(c) for c in chunks)


def _packed(f: dict, fno: int, *, zigzag: bool, delta: bool) -> np.ndarray:
    """Packed field ``fno`` of a walked message as one int64 column (proto2 lets
    a packed field repeat; its chunks concatenate). ``delta`` undoes DELTA coding."""
    chunks = f.get(fno)
    if not chunks:
        return np.empty(0, np.int64)
    values = proto.decode_packed(_concat_packed(chunks), zigzag=zigzag)
    return np.cumsum(values) if delta else values


def decode_packed_group(
    payloads: list[bytes], *, zigzag: bool, delta: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Decode N packed-varint payloads in ONE vectorized pass.

    Returns (values int64, counts int64[N]) — payload i's column is the i-th
    run of ``counts[i]`` values. ``delta`` applies per-segment cumulative sum
    (the OSM DELTA coding, e.g. ``Way.refs``, ``osmformat.proto:231``).
    """
    n = len(payloads)
    byte_lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
    concat = b"".join(payloads)
    buf = np.frombuffer(concat, dtype=np.uint8)
    if buf.size == 0:
        return np.empty(0, np.int64), np.zeros(n, np.int64)
    ends = (buf & 0x80) == 0
    # value count per payload = count of terminal bytes within its byte range
    cum_ends = np.concatenate(([0], np.cumsum(ends)))
    byte_bounds = np.concatenate(([0], np.cumsum(byte_lens)))
    counts = cum_ends[byte_bounds[1:]] - cum_ends[byte_bounds[:-1]]
    raw = proto.decode_varints(concat)
    values = proto.varints_zigzag(raw) if zigzag else proto.varints_to_int64(raw)
    if delta and values.size:
        c = np.cumsum(values)
        starts = np.cumsum(counts) - counts
        base = np.where(starts > 0, c[np.maximum(starts - 1, 0)], 0)
        values = c - np.repeat(base, counts)
    return values, counts


def _head_mask(counts: np.ndarray, keep: np.ndarray) -> np.ndarray:
    """Mask over a segmented stream (segment i has ``counts[i]`` values) that
    keeps the first ``keep[i]`` values of each segment."""
    starts = np.cumsum(counts) - counts
    rank = np.arange(int(counts.sum())) - np.repeat(starts, counts)
    return rank < np.repeat(keep, counts)


def _keep_rows(cols: dict, keep: np.ndarray) -> dict:
    """Drop the rows where ``keep`` is False from a dict of equal-length columns."""
    if keep.all():
        return cols
    sel = np.flatnonzero(keep)
    return {
        name: col[sel] if isinstance(col, np.ndarray) else col.take(pa.array(sel))
        for name, col in cols.items()
    }


# ---------------------------------------------------------------------------
# message walkers (the only per-element Python; columns decode vectorized)
# ---------------------------------------------------------------------------

def _collect_message(buf, spec: dict[int, str]) -> dict:
    """Generic single-message walk. spec: field_no → kind
    ('varint','int','zigzag','bytes','packed','string'); 'int' is a varint read as
    proto int32/int64 (two's complement). 'packed' accumulates payload chunks
    (proto2 allows repeated occurrences of a packed field)."""
    out: dict = {}
    for fno, wt, val in proto.iter_fields(buf):
        kind = spec.get(fno)
        if kind is None:
            continue
        if kind == "varint":
            out[fno] = val
        elif kind == "int":
            out[fno] = _to_signed(val)
        elif kind == "zigzag":
            out[fno] = proto.zigzag_decode(val)
        elif kind == "bytes":
            out[fno] = val
        elif kind == "string":
            out[fno] = bytes(val).decode("utf-8")
        elif kind == "packed":
            out.setdefault(fno, []).append(bytes(val))
    return out


def _to_signed(v: int) -> int:
    """proto int32/int64 negative values arrive as 64-bit two's complement."""
    return v - (1 << 64) if v >= 1 << 63 else v


_INFO_SPEC = {1: "int", 2: "int", 3: "int", 4: "int", 5: "int", 6: "varint"}


def _walk_messages(
    bufs: list, spec: dict[int, str], scalars: tuple[int, ...], packed: tuple[int, ...]
) -> tuple[np.ndarray, dict[int, list[bytes]], np.ndarray, np.ndarray]:
    """Walk repeated Node/Way/Relation messages, the one per-element loop of
    these paths. Returns:

    - int64[len(scalars), n]: the ``scalars`` fields (0 when unset);
    - {fno: per-message payload} for the ``packed`` fields;
    - int64[6, n] raw Info: version (−1 when unset), timestamp, changeset, uid,
      user_sid (0 when unset) and visible (proto2 default false); all 0 where
      the message has no Info;
    - the Info-absent mask.
    """
    n = len(bufs)
    cols = np.zeros((len(scalars), n), np.int64)
    payloads: dict[int, list[bytes]] = {fno: [] for fno in packed}
    info = np.zeros((6, n), np.int64)
    absent = np.ones(n, dtype=bool)
    for i, b in enumerate(bufs):
        f = _collect_message(b, spec)
        cols[:, i] = [f.get(fno, 0) for fno in scalars]
        for fno, out in payloads.items():
            out.append(_concat_packed(f.get(fno)))
        if 4 in f:
            g = _collect_message(f[4], _INFO_SPEC)
            absent[i] = False
            info[:, i] = [
                g.get(1, -1), g.get(2, 0), g.get(3, 0), g.get(4, 0), g.get(5, 0),
                bool(g.get(6, 0)),
            ]
    return cols, payloads, info, absent


# ---------------------------------------------------------------------------
# Arrow builders (whole-column)
# ---------------------------------------------------------------------------

def _offsets(counts: np.ndarray, null: np.ndarray | None) -> pa.Array:
    """int32 list/map offsets from per-element counts. Arrow marks element i
    null by a null at ``offsets[i]``; the final offset is never null."""
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    mask = None if null is None else np.append(null, False)
    return pa.array(offsets, type=pa.int32(), mask=mask)


def _build_list_array(
    values: pa.Array, counts: np.ndarray, null: np.ndarray | None
) -> pa.Array:
    return pa.ListArray.from_arrays(_offsets(counts, null), values)


def _build_tags_array(
    n: int,
    elem_idx: np.ndarray,
    k_sid: np.ndarray,
    v_sid: np.ndarray,
    string_table: list[str],
    stats: BlockStats,
    invalid_warning: str,
) -> pa.Array:
    """MAP<STRING,STRING> column for n elements from (element, key sid, val sid)
    triples. A triple with a sid outside the string table or an element past
    n is skipped with ``invalid_warning`` (``src/load_pbf.jl:563-567``).

    Elements with zero pairs get a NULL map (reference: no tags ⇒ ``nothing``,
    ``src/load_pbf.jl:558-560``). Duplicate keys per element: last wins.
    """
    stlen = len(string_table)
    ok = (k_sid >= 0) & (k_sid < stlen) & (v_sid >= 0) & (v_sid < stlen) & (elem_idx < n)
    if not ok.all():
        _warn(stats, invalid_warning)
        elem_idx, k_sid, v_sid = elem_idx[ok], k_sid[ok], v_sid[ok]
    if elem_idx.size == 0:
        return pa.nulls(n, type=model.TAGS_ARROW)
    import pandas as pd

    st = np.asarray(string_table, dtype=object)
    df = pd.DataFrame({"i": elem_idx, "k": st[k_sid], "v": st[v_sid]})
    df = df.drop_duplicates(subset=["i", "k"], keep="last")
    df = df.sort_values("i", kind="stable")
    counts = np.bincount(df["i"].to_numpy(), minlength=n)
    return pa.MapArray.from_arrays(
        _offsets(counts, counts == 0),
        pa.array(df["k"].to_numpy(), type=pa.string()),
        pa.array(df["v"].to_numpy(), type=pa.string()),
    )


def _user_column(
    user_sid: np.ndarray, missing: np.ndarray, string_table: list[str]
) -> tuple[np.ndarray, np.ndarray]:
    """Info user: Julia ``sid > 0 && sid <= length(st) → st[sid]`` — 1-based,
    unlike tag sids (``src/load_pbf.jl:469-474``) ⇒ python ``st[sid-1]``."""
    null = missing | (user_sid <= 0) | (user_sid > len(string_table))
    st = np.asarray(string_table + [""], dtype=object)
    return st[np.where(null, len(string_table), user_sid - 1)], null


def _build_info_array(version, timestamp_us, changeset, uid, user, visible) -> pa.Array:
    """Info struct column from six (values, null mask) pairs in ``INFO_ARROW``
    field order. Whole struct is NULL where every field is null
    (``src/load_pbf.jl:480-483``)."""
    pairs = (version, timestamp_us, changeset, uid, user, visible)
    arrays = []
    for (values, null), fld in zip(pairs, model.INFO_ARROW):
        if values.dtype != object:
            values = np.where(null, np.zeros_like(values), values)
        arrays.append(pa.array(values, type=fld.type, mask=null))
    return pa.StructArray.from_arrays(
        arrays,
        fields=list(model.INFO_ARROW),
        mask=pa.array(np.logical_and.reduce([null for _, null in pairs])),
    )


def _sparse_info_array(
    info: np.ndarray, absent: np.ndarray, string_table: list[str], date_granularity: int
) -> pa.Array:
    """Sparse Info semantics (``src/load_pbf.jl:436-486``) over the walker's raw
    columns: version −1 ⇒ null, ts/changeset/uid 0 ⇒ null, user_sid 1-based
    in-range lookup, visible set whenever Info is present (proto2 default false)."""
    version, ts, changeset, uid, user_sid, visible = info
    return _build_info_array(
        (version, absent | (version == -1)),
        (ts * date_granularity * 1000, absent | (ts == 0)),
        (changeset, absent | (changeset == 0)),
        (uid, absent | (uid == 0)),
        _user_column(user_sid, absent, string_table),
        (visible.astype(bool), absent),
    )


# ---------------------------------------------------------------------------
# dense nodes (the columnar fast path)
# ---------------------------------------------------------------------------

_DENSE_SPEC = {1: "packed", 5: "bytes", 8: "packed", 9: "packed", 10: "packed"}
_DENSEINFO_SPEC = {1: "packed", 2: "packed", 3: "packed", 4: "packed", 5: "packed", 6: "packed"}


def _dense_tag_sids(
    kv: np.ndarray, stats: BlockStats
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """keys_vals sentinel stream → (node_idx, key sid, val sid) triples.

    Fast path: treat every 0 as a sentinel when every segment has even length;
    otherwise the reference's stateful walk (``src/load_pbf.jl:803-865``), in
    which a 0 in value position is a value.
    """
    empty = np.empty(0, np.int64)
    if kv.size == 0:
        return empty, empty, empty
    if kv[-1] != 0:
        _warn(stats, "dense keys_vals missing trailing sentinel; skipping tags")
        return empty, empty, empty
    zeros = np.flatnonzero(kv == 0)
    seg_lens = np.diff(zeros, prepend=-1) - 1
    if (seg_lens % 2 == 0).all():
        pos = np.flatnonzero(kv)
        return np.searchsorted(zeros, pos[0::2]), kv[pos[0::2]], kv[pos[1::2]]
    # stateful walk; kv ends in a sentinel, so every nonzero key has a value
    ks, vs, ni = [], [], []
    i = pos = 0
    while pos < kv.size:
        if kv[pos] == 0:
            i += 1
            pos += 1
        else:
            ks.append(kv[pos])
            vs.append(kv[pos + 1])
            ni.append(i)
            pos += 2
    return np.array(ni, np.int64), np.array(ks, np.int64), np.array(vs, np.int64)


def _dense_info_array(
    di_buf,
    string_table: list[str],
    date_granularity: int,
    n: int,
) -> pa.Array:
    """DenseInfo → Info struct column (``src/load_pbf.jl:726-785``). Arrays may be
    shorter than n: out-of-range ⇒ null. Delta-coded ts/changeset/uid/user_sid."""
    f = _collect_message(di_buf, _DENSEINFO_SPEC)

    def pad(a):
        out = np.zeros(n, dtype=np.int64)
        k = min(len(a), n)
        out[:k] = a[:k]
        return out, np.arange(n) >= k  # True = null

    ver, ver_oob = pad(_packed(f, 1, zigzag=False, delta=False))
    ts, ts_oob = pad(_packed(f, 2, zigzag=True, delta=True))
    cs, cs_oob = pad(_packed(f, 3, zigzag=True, delta=True))
    uid, uid_oob = pad(_packed(f, 4, zigzag=True, delta=True))
    usid, usid_oob = pad(_packed(f, 5, zigzag=True, delta=True))
    vis, vis_oob = pad(_packed(f, 6, zigzag=False, delta=False))
    return _build_info_array(
        (ver, ver_oob | (ver == -1)),
        # NB: no !=0 check on the dense timestamp (src/load_pbf.jl:751)
        (ts * date_granularity * 1000, ts_oob),
        (cs, cs_oob | (cs == 0)),
        (uid, uid_oob | (uid == 0)),
        _user_column(usid, usid_oob, string_table),
        (vis.astype(bool), vis_oob),
    )


def decode_dense_nodes(
    buf,
    string_table: list[str],
    ll: LatLonParams,
    date_granularity: int,
    stats: BlockStats,
) -> dict | None:
    """DenseNodes group → columnar node arrays (``src/load_pbf.jl:637-718``)."""
    f = _collect_message(buf, _DENSE_SPEC)
    ids = _packed(f, 1, zigzag=True, delta=True)
    if ids.size == 0:
        return None
    lats_raw = _packed(f, 8, zigzag=True, delta=True)
    lons_raw = _packed(f, 9, zigzag=True, delta=True)
    if not (ids.size == lats_raw.size == lons_raw.size):
        _warn(stats, "dense nodes have inconsistent id/lat/lon lengths; group skipped")
        return None
    lat = scale_coords(lats_raw, ll.lat_offset, ll.granularity)
    lon = scale_coords(lons_raw, ll.lon_offset, ll.granularity)
    # NOTE: no range filter on the dense path — reference asymmetry preserved.
    n = ids.size
    node_idx, k_sid, v_sid = _dense_tag_sids(_packed(f, 10, zigzag=False, delta=False), stats)
    tags = _build_tags_array(
        n, node_idx, k_sid, v_sid, string_table, stats,
        "dense node tag with invalid string/node index skipped",
    )
    if f.get(5) is not None:
        info = _dense_info_array(f[5], string_table, date_granularity, n)
    else:
        info = pa.nulls(n, type=model.INFO_ARROW)
    return {"id": ids, "lat": lat, "lon": lon, "tags": tags, "info": info}


# ---------------------------------------------------------------------------
# regular nodes / ways / relations (per-message walk, vectorized columns)
# ---------------------------------------------------------------------------

_NODE_SPEC = {1: "zigzag", 2: "packed", 3: "packed", 4: "bytes", 8: "zigzag", 9: "zigzag"}
# Way and Relation share a layout: id, keys, vals, info, three packed arrays
_WAY_REL_SPEC = {
    1: "int", 2: "packed", 3: "packed", 4: "bytes",
    8: "packed", 9: "packed", 10: "packed",
}


def _element_tags(
    payloads: dict[int, list[bytes]], string_table: list[str], stats: BlockStats, kind: str
) -> tuple[pa.Array, np.ndarray]:
    """Tags column + keep-mask from each message's packed keys (2) / vals (3). Elements
    with len(keys) != len(vals) are dropped entirely (``src/load_pbf.jl:552-555``);
    individual out-of-range sids are skipped (``src/load_pbf.jl:563-567``)."""
    k_sid, k_counts = decode_packed_group(payloads[2], zigzag=False, delta=False)
    v_sid, v_counts = decode_packed_group(payloads[3], zigzag=False, delta=False)
    keep = k_counts == v_counts
    if not keep.all():
        _warn(stats, f"{kind} with inconsistent tag keys/values skipped")
    n = len(keep)
    elem_idx = np.repeat(np.arange(n), np.where(keep, k_counts, 0))
    tags = _build_tags_array(
        n,
        elem_idx,
        k_sid[np.repeat(keep, k_counts)],
        v_sid[np.repeat(keep, v_counts)],
        string_table,
        stats,
        f"{kind} tag with invalid string index skipped",
    )
    return tags, keep


def decode_regular_nodes(
    bufs: list,
    string_table: list[str],
    ll: LatLonParams,
    date_granularity: int,
    stats: BlockStats,
) -> dict | None:
    """Repeated Node messages (``src/load_pbf.jl:540-617``): absolute (non-delta)
    zigzag coords, coordinate RANGE FILTER applied (drop+warn), tags/info as usual."""
    if not bufs:
        return None
    (ids, lat_raw, lon_raw), payloads, info_raw, info_absent = _walk_messages(
        bufs, _NODE_SPEC, (1, 8, 9), (2, 3)
    )
    lat = scale_coords(lat_raw, ll.lat_offset, ll.granularity)
    lon = scale_coords(lon_raw, ll.lon_offset, ll.granularity)
    tags, tag_keep = _element_tags(payloads, string_table, stats, "node")
    in_range = (lat >= -90.0) & (lat <= 90.0) & (lon >= -180.0) & (lon <= 180.0)
    if not in_range.all():
        _warn(stats, "node with invalid coordinates skipped")
    info = _sparse_info_array(info_raw, info_absent, string_table, date_granularity)
    cols = {"id": ids, "lat": lat, "lon": lon, "tags": tags, "info": info}
    return _keep_rows(cols, in_range & tag_keep)


def decode_ways(
    bufs: list,
    string_table: list[str],
    ll: LatLonParams,
    date_granularity: int,
    stats: BlockStats,
) -> dict | None:
    """Repeated Way messages (``src/load_pbf.jl:885-966``): DELTA-coded refs,
    optional LocationsOnWays positions when len(lat)==len(lon)==len(refs)."""
    if not bufs:
        return None
    (ids,), payloads, info_raw, info_absent = _walk_messages(
        bufs, _WAY_REL_SPEC, (1,), (2, 3, 8, 9, 10)
    )
    refs, ref_counts = decode_packed_group(payloads[8], zigzag=True, delta=True)
    lats, lat_counts = decode_packed_group(payloads[9], zigzag=True, delta=True)
    lons, lon_counts = decode_packed_group(payloads[10], zigzag=True, delta=True)

    # LocationsOnWays: per-way validity (src/load_pbf.jl:925-940)
    has_pos = (lat_counts > 0) & (lat_counts == lon_counts) & (lat_counts == ref_counts)
    lat_deg = scale_coords(lats[np.repeat(has_pos, lat_counts)], ll.lat_offset, ll.granularity)
    lon_deg = scale_coords(lons[np.repeat(has_pos, lon_counts)], ll.lon_offset, ll.granularity)
    pos_struct = pa.StructArray.from_arrays(
        [pa.array(lat_deg, type=pa.float64()), pa.array(lon_deg, type=pa.float64())],
        fields=list(model.POSITION_ARROW),
    )
    tags, tag_keep = _element_tags(payloads, string_table, stats, "way")
    cols = {
        "id": ids,
        "refs": _build_list_array(pa.array(refs, type=pa.int64()), ref_counts, None),
        "tags": tags,
        "info": _sparse_info_array(info_raw, info_absent, string_table, date_granularity),
        "positions": _build_list_array(
            pos_struct, np.where(has_pos, ref_counts, 0), ~has_pos
        ),
    }
    return _keep_rows(cols, tag_keep)


def decode_relations(
    bufs: list,
    string_table: list[str],
    date_granularity: int,
    stats: BlockStats,
) -> dict | None:
    """Repeated Relation messages (``src/load_pbf.jl:985-1050``): DELTA memids,
    member-type enum→string with unknown⇒'node' (``:1066-1090``), role sid lookup
    with OOB⇒'' (``:1106-1121``), members zipped to ARRAY<STRUCT>."""
    if not bufs:
        return None
    (ids,), payloads, info_raw, info_absent = _walk_messages(
        bufs, _WAY_REL_SPEC, (1,), (2, 3, 8, 9, 10)
    )
    roles_sid, role_counts = decode_packed_group(payloads[8], zigzag=False, delta=False)
    memids, mem_counts = decode_packed_group(payloads[9], zigzag=True, delta=True)
    types_raw, type_counts = decode_packed_group(payloads[10], zigzag=False, delta=False)
    if not ((mem_counts == role_counts) & (mem_counts == type_counts)).all():
        _warn(stats, "relation with mismatched member arrays; zipping to min length")

    # member types: 0/1/2 else 'node' (src/load_pbf.jl:1066-1090)
    t_clamped = np.where((types_raw >= 0) & (types_raw <= 2), types_raw, 0)
    if (t_clamped != types_raw).any():
        _warn(stats, "unknown relation member type defaulted to 'node'")
    # roles: sid in range else '' (src/load_pbf.jl:1106-1121); Julia st[sid+1] ⇒ py st[sid]
    stlen = len(string_table)
    role_ok = (roles_sid >= 0) & (roles_sid < stlen)
    if not role_ok.all():
        _warn(stats, "invalid relation role string index; using empty string")
    st_ext = np.asarray(string_table + [""], dtype=object)

    # zip each relation's three arrays to their shortest length
    zip_counts = np.minimum(np.minimum(mem_counts, role_counts), type_counts)
    type_keep = _head_mask(type_counts, zip_counts)
    role_keep = _head_mask(role_counts, zip_counts)
    member_struct = pa.StructArray.from_arrays(
        [
            pa.array(memids[_head_mask(mem_counts, zip_counts)], type=pa.int64()),
            pa.array(_MEMBER_TYPES[t_clamped[type_keep]], type=pa.string()),
            pa.array(
                st_ext[np.where(role_ok, roles_sid, stlen)[role_keep]], type=pa.string()
            ),
        ],
        fields=list(model.MEMBER_ARROW),
    )
    tags, tag_keep = _element_tags(payloads, string_table, stats, "relation")
    cols = {
        "id": ids,
        "members": _build_list_array(member_struct, zip_counts, None),
        "tags": tags,
        "info": _sparse_info_array(info_raw, info_absent, string_table, date_granularity),
    }
    return _keep_rows(cols, tag_keep)


# ---------------------------------------------------------------------------
# block-level orchestration
# ---------------------------------------------------------------------------

def decode_header_block(payload) -> dict:
    """HeaderBlock → meta dict (``src/load_pbf.jl:288-343``). bbox in plain
    nanodegrees (no granularity), rounded to 7; replication ts is epoch seconds."""
    meta: dict = {}
    required, optional = [], []
    for fno, _wt, val in proto.iter_fields(payload):
        if fno == 1:  # HeaderBBox: sint64 left=1 right=2 top=3 bottom=4
            bb = _collect_message(val, {1: "zigzag", 2: "zigzag", 3: "zigzag", 4: "zigzag"})
            meta["bbox"] = {
                "bottom_lat": round(1.0e-9 * bb.get(4, 0), 7),
                "left_lon": round(1.0e-9 * bb.get(1, 0), 7),
                "top_lat": round(1.0e-9 * bb.get(3, 0), 7),
                "right_lon": round(1.0e-9 * bb.get(2, 0), 7),
            }
        elif fno == 4:
            required.append(bytes(val).decode("utf-8"))
        elif fno == 5:
            optional.append(bytes(val).decode("utf-8"))
        elif fno == 16:
            s = bytes(val).decode("utf-8")
            if s:
                meta["writingprogram"] = s
        elif fno == 17:
            s = bytes(val).decode("utf-8")
            if s:
                meta["source"] = s
        elif fno == 32:
            ts = _to_signed(val)
            if ts != 0:
                meta["osmosis_replication_timestamp"] = ts  # epoch seconds
        elif fno == 33:
            seq = _to_signed(val)
            if seq != 0:
                meta["osmosis_replication_sequence_number"] = seq
        elif fno == 34:
            s = bytes(val).decode("utf-8")
            if s:
                meta["osmosis_replication_base_url"] = s
    if required:
        meta["required_features"] = required
    if optional:
        meta["optional_features"] = optional
    return meta


def decode_primitive_block(
    payload,
    *,
    want: tuple[str, ...] = ("nodes", "ways", "relations"),
    stats: BlockStats | None = None,
) -> dict[str, dict]:
    """One PrimitiveBlock → {'nodes': cols, 'ways': cols, 'relations': cols}.

    ``want`` prunes entity kinds at the kernel level — decode-time projection
    pushdown (the Spark analog of only registering the callbacks you need,
    ``src/load_pbf.jl:47-52``).
    """
    stats = stats if stats is not None else BlockStats()
    string_table: list[str] = []
    groups: list = []
    granularity, date_granularity = 100, 1000
    lat_offset, lon_offset = 0, 0
    for fno, _wt, val in proto.iter_fields(payload):
        if fno == _PB_STRINGTABLE:
            string_table = build_string_table(val)
        elif fno == _PB_GROUP:
            groups.append(val)
        elif fno == _PB_GRANULARITY:
            granularity = _to_signed(val)
        elif fno == _PB_DATE_GRANULARITY:
            date_granularity = _to_signed(val)
        elif fno == _PB_LAT_OFFSET:
            lat_offset = _to_signed(val)
        elif fno == _PB_LON_OFFSET:
            lon_offset = _to_signed(val)
    ll = LatLonParams(lat_offset, lon_offset, granularity)

    parts: dict[str, list] = {"nodes": [], "ways": [], "relations": []}
    for grp in groups:
        try:
            node_bufs, way_bufs, rel_bufs, dense_buf = [], [], [], None
            for fno, _wt, val in proto.iter_fields(grp):
                if fno == _PG_NODES:
                    node_bufs.append(val)
                elif fno == _PG_DENSE:
                    dense_buf = val
                elif fno == _PG_WAYS:
                    way_bufs.append(val)
                elif fno == _PG_RELATIONS:
                    rel_bufs.append(val)
                # _PG_CHANGESETS ignored (reference ignores them too)
            if "nodes" in want:
                parts["nodes"].append(
                    decode_regular_nodes(node_bufs, string_table, ll, date_granularity, stats)
                )
                if dense_buf is not None:
                    parts["nodes"].append(
                        decode_dense_nodes(dense_buf, string_table, ll, date_granularity, stats)
                    )
            if "ways" in want:
                parts["ways"].append(
                    decode_ways(way_bufs, string_table, ll, date_granularity, stats)
                )
            if "relations" in want:
                parts["relations"].append(
                    decode_relations(rel_bufs, string_table, date_granularity, stats)
                )
        except Exception as exc:  # group-level isolation (src/load_pbf.jl:403-406)
            stats.corrupt_groups += 1
            _warn(stats, f"corrupt primitive group skipped: {exc}")
    out: dict[str, list[dict]] = {}
    for kind, kind_parts in parts.items():
        kind_parts = [p for p in kind_parts if p is not None]
        setattr(stats, kind, sum(len(p["id"]) for p in kind_parts))
        if kind_parts:
            out[kind] = kind_parts
    return out


def parts_to_batch(parts: list[dict], schema: pa.Schema, blob_seq: int) -> pa.RecordBatch:
    """Assemble per-group column dicts into one RecordBatch with blob_seq lineage."""
    arrays = []
    total = sum(len(p["id"]) for p in parts)
    for fld in schema:
        if fld.name == "blob_seq":
            arrays.append(pa.array(np.full(total, blob_seq, dtype=np.int64)))
            continue
        chunks = []
        for p in parts:
            col = p[fld.name]
            if isinstance(col, np.ndarray):
                col = pa.array(col, type=fld.type)
            chunks.append(col)
        arrays.append(pa.concat_arrays(chunks) if len(chunks) > 1 else chunks[0])
    return pa.RecordBatch.from_arrays(arrays, schema=schema)
