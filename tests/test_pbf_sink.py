"""Distributed sharded PBF sink: executor-side encode, round-trip fidelity.

The reference has no write path (sinks are in-memory dicts — SURVEY.md §2
Table B); this is new engine surface, so the bar is self-consistency: a bundle
written by the sink and re-read through the blob index the driver builds over
all shard files must reproduce every entity bit-for-bit (ids, coords, tags,
info, refs, positions, members).
"""

from __future__ import annotations

import json
import os

import pytest

from openstreetmapio_jl_spark.sinks import write_bundle_pbf, write_pbf_sharded
from openstreetmapio_jl_spark.sources.pbf_source import read_pbf


def _canon(df, kind):
    rows = {}
    for r in df.collect():
        d = r.asDict(recursive=True)
        d.pop("blob_seq", None)
        tags = d.get("tags")
        d["tags"] = dict(sorted(tags.items())) if tags else None
        rows[d["id"]] = d
    return rows


@pytest.fixture(scope="module")
def roundtrip(spark, fixture_pbf, tmp_path_factory):
    src = read_pbf(spark, fixture_pbf)
    out = str(tmp_path_factory.mktemp("sink") / "sharded")
    manifest = write_bundle_pbf(src, out, shards=3)
    back = read_pbf(spark, sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".osm.pbf")
    ))
    return src, back, out, manifest


@pytest.mark.parametrize("kind", ["nodes", "ways", "relations"])
def test_roundtrip_entities_identical(roundtrip, kind):
    src, back, _, _ = roundtrip
    a, b = _canon(getattr(src, kind), kind), _canon(getattr(back, kind), kind)
    assert len(a) == len(b) and set(a) == set(b)
    for i in a:
        assert a[i] == b[i], f"{kind} id={i}: {a[i]} != {b[i]}"


def test_shards_are_id_ranged_and_manifested(roundtrip):
    _, _, out, manifest = roundtrip
    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f)["shards"] == manifest
    by_kind: dict[str, list] = {}
    for m in manifest:
        assert m["rows"] > 0 and m["bytes"] > 0 and m["blobs"] > 0
        assert os.path.getsize(m["path"]) == m["bytes"]
        by_kind.setdefault(m["kind"], []).append(m)
    assert set(by_kind) == {"nodes", "ways", "relations"}
    # range partitioning by id ⇒ shard id-spans are disjoint and ordered
    for kind, shards in by_kind.items():
        shards.sort(key=lambda m: m["path"])
        for m in shards:
            assert m["min_id"] <= m["max_id"]
        for prev, nxt in zip(shards, shards[1:]):
            assert prev["max_id"] < nxt["min_id"], f"{kind} shard spans overlap"
    assert len(by_kind["nodes"]) > 1, "fixture should split across node shards"


def test_no_tmp_files_left(roundtrip):
    _, _, out, _ = roundtrip
    assert not [f for f in os.listdir(out) if ".tmp-" in f]


def test_meta_survives_roundtrip(roundtrip):
    src, back, _, _ = roundtrip
    assert back.meta.get("bbox") == src.meta.get("bbox")
    # source meta wins; the sink's writingprogram is only a default for blank meta
    assert back.meta.get("writingprogram") == src.meta.get("writingprogram")


def test_kind_validation(spark):
    df = spark.range(1).withColumnRenamed("id", "x")
    with pytest.raises(ValueError, match="kind must be one of"):
        write_pbf_sharded(df, "points", "/tmp/never")
    with pytest.raises(ValueError, match="'id' column"):
        write_pbf_sharded(df, "nodes", "/tmp/never")


def test_default_shards_are_id_ranged(spark, fixture_pbf, tmp_path):
    """shards=None must STILL range-partition by id: an incoming hash/arbitrary
    partitioning would otherwise produce internally-sorted shards with
    overlapping id-spans, breaking the manifest's tight-span property."""
    src = read_pbf(spark, fixture_pbf)
    scrambled = src.nodes.repartition(3)  # round-robin: ids interleave
    out = str(tmp_path / "defaultshards")
    manifest = write_pbf_sharded(scrambled, "nodes", out)
    shards = sorted(manifest, key=lambda m: m["path"])
    assert len(shards) >= 2
    for prev, nxt in zip(shards, shards[1:]):
        assert prev["max_id"] < nxt["min_id"], "default-shard spans overlap"


def test_non_utc_session_timezone_rejected(spark, fixture_pbf, tmp_path):
    """info.timestamp export assumes naive-UTC datetimes from Arrow; a non-UTC
    session zone would silently shift timestamps in DST gaps — fail loud."""
    src = read_pbf(spark, fixture_pbf)
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        with pytest.raises(ValueError, match="timeZone"):
            write_pbf_sharded(src.nodes, "nodes", str(tmp_path / "tz"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # without the info column the export is timezone-independent and allowed
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        m = write_pbf_sharded(
            src.nodes.drop("info"), "nodes", str(tmp_path / "tz_ok")
        )
        assert sum(x["rows"] for x in m) == src.nodes.count()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
