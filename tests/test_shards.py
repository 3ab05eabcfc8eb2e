"""The one shard writer behind both sinks (``sinks/shards.py``)."""

from __future__ import annotations

import json
import os

import pytest

from openstreetmapio_jl_spark.sinks import write_bundle_pbf, write_bundle_xml
from openstreetmapio_jl_spark.sources.pbf_source import read_pbf
from openstreetmapio_jl_spark.sources.xml_source import read_osm


def _counts(bundle):
    return bundle.nodes.count(), bundle.ways.count(), bundle.relations.count()


@pytest.mark.parametrize("fmt", ["pbf", "xml"])
def test_narrower_rewrite_removes_stale_shards(spark, fixture_pbf, tmp_path, fmt):
    """Shards are named by partition id: writing 4 shards and then 2 into one
    directory leaves only the second write's shards, so a re-read gives the
    source counts and ``_manifest.json`` lists exactly the files present."""
    write, ext, read = {
        "pbf": (write_bundle_pbf, ".osm.pbf", read_pbf),
        "xml": (write_bundle_xml, ".osm", read_osm),
    }[fmt]
    src = read_pbf(spark, fixture_pbf)
    out = str(tmp_path / "out")
    write(src, out, shards=4)
    manifest = write(src, out, shards=2)
    files = sorted(os.path.join(out, f) for f in os.listdir(out) if f.endswith(ext))
    with open(os.path.join(out, "_manifest.json")) as f:
        listed = sorted(m["path"] for m in json.load(f)["shards"])
    assert listed == sorted(m["path"] for m in manifest) == files
    assert _counts(read(spark, files)) == _counts(src)
