"""Multimodal (image/audio/video) columns for training-data pipelines.

Media rides Spark as opaque ``BINARY`` columns + a typed metadata struct; all
compute is Arrow-batched ``mapInPandas`` (never per-row Python). The actual
codec work (JPEG decode, audio resample, video frame extraction) needs native
libraries this container doesn't ship, so the codec boundary is isolated in
``_decode_media_payload``: a clearly-marked deterministic FAKE decoder keyed by
the payload header. Everything Spark-owned — schemas, batch shapes, partition
sizing, UDF signatures, metadata propagation — is real and tested; swapping in
Pillow/ffmpeg later changes only that one function.

Payload wire format (the synthetic stand-in for real media bytes):
``b"FAKE<kind>:<width>x<height>x<frames>:"`` + raw bytes. Real pipelines carry
real JPEG/WAV/MP4 bytes; the header plays the role of the codec's own header.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "kind string, width int, height int, n_frames int, byte_len long, sha1 string"
)

_HEADER_RE = re.compile(rb"^FAKE(img|aud|vid):(\d+)x(\d+)x(\d+):")


def make_fake_payload(kind: str, width: int, height: int, n_frames: int, seed: int) -> bytes:
    """Deterministic synthetic media payload (fixture side)."""
    rng = np.random.default_rng(seed)
    body = rng.integers(0, 256, size=max(16, width * height // 64), dtype=np.uint8)
    return f"FAKE{kind}:{width}x{height}x{n_frames}:".encode() + body.tobytes()


def _decode_media_payload(payload: bytes) -> tuple[str, int, int, int] | None:
    """THE codec boundary. Parses the deterministic fake header.

    A production build replaces this body with e.g. ``PIL.Image.open`` /
    ``soundfile.read`` / ``av.open``; everything else in this module is
    codec-agnostic. Returns (kind, width, height, n_frames) or None for
    undecodable payloads (quarantined, not fatal — mirrors the reference's
    element-level error isolation, /root/reference/src/load_pbf.jl:610-613)."""
    m = _HEADER_RE.match(payload)
    if m is None:
        return None
    kind = {"img": "image", "aud": "audio", "vid": "video"}[m.group(1).decode()]
    return kind, int(m.group(2)), int(m.group(3)), int(m.group(4))


def extract_media_metadata(df: DataFrame) -> DataFrame:
    """+ ``meta STRUCT<kind,width,height,n_frames,byte_len,sha1>`` (null when the
    payload doesn't decode). Arrow-batched mapInPandas; all other columns pass
    through unchanged."""
    fields = [f.name for f in df.schema.fields]
    out_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += (
        ", meta struct<kind:string, width:int, height:int, n_frames:int,"
        " byte_len:bigint, sha1:string>"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                dec = _decode_media_payload(raw)
                if dec is None:
                    metas.append(None)
                else:
                    kind, w, h, nf = dec
                    metas.append(
                        {
                            "kind": kind,
                            "width": w,
                            "height": h,
                            "n_frames": nf,
                            "byte_len": len(raw),
                            "sha1": hashlib.sha1(raw).hexdigest(),
                        }
                    )
            out = pdf[fields].copy()
            out["meta"] = metas
            yield out

    return df.mapInPandas(fn, out_schema)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
) -> DataFrame:
    """Image resize stage: rewrites the payload header to the target geometry and
    subsamples the body deterministically (area-ratio byte count) — the fake
    stand-in for an actual resample kernel. Non-images pass through untouched."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads = []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                dec = _decode_media_payload(raw)
                if dec is None or dec[0] != "image":
                    out_payloads.append(raw or None)
                    continue
                _, w, h, nf = dec
                body = raw.split(b":", 2)[2]
                ratio = (target_w * target_h) / max(1, w * h)
                n_keep = max(16, int(len(body) * min(1.0, ratio)))
                out_payloads.append(
                    f"FAKEimg:{target_w}x{target_h}x{nf}:".encode() + body[:n_keep]
                )
            out = pdf.copy()
            out["payload"] = out_payloads
            yield out

    return df.mapInPandas(fn, df.schema)


def sample_video_frames(
    df: DataFrame,
    every_n: int,
) -> DataFrame:
    """Frame sampling: one OUTPUT ROW per kept frame (row-explosion inside
    mapInPandas — batch shape changes, which is why this is mapInPandas and not a
    scalar pandas UDF). Frame payload is a deterministic slice keyed by frame
    index; a real build would extract the actual frame."""
    out_schema = "`media_id` bigint, frame_idx int, frame_sha1 string"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                dec = _decode_media_payload(raw)
                if dec is None or dec[0] != "video":
                    continue
                _, w, h, nf = dec
                body = raw.split(b":", 2)[2]
                for fi in range(0, nf, every_n):
                    ids.append(int(mid))
                    idxs.append(fi)
                    hashes.append(
                        hashlib.sha1(body + fi.to_bytes(4, "big")).hexdigest()
                    )
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame_sha1": hashes})

    return df.mapInPandas(fn, out_schema)


def media_stats(df_with_meta: DataFrame) -> DataFrame:
    """Per-kind aggregate over the typed metadata (downstream of
    extract_media_metadata): plain Catalyst — the UDF boundary stops at decode."""
    return (
        df_with_meta.filter(F.col("meta").isNotNull())
        .groupBy(F.col("meta.kind").alias("kind"))
        .agg(
            F.count("*").alias("n"),
            F.sum("meta.byte_len").alias("total_bytes"),
            F.avg(F.col("meta.width") * F.col("meta.height")).alias("avg_pixels"),
        )
    )
