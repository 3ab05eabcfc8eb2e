"""spark-submit entry point: parquet entity tables → sharded OSM PBF/XML export
(the reverse of ``jobs/decode_job.py``).

    spark-submit --py-files dist/openstreetmapio_jl_spark.zip \
        jobs/export_job.py \
        --tables /data/osm_parquet --out /data/osm_export \
        --format pbf --shards 64

Reads the ``nodes/``/``ways/``/``relations/`` parquet directories the decode
job writes (plus its ``_meta.json`` if present, for the header bbox), and
writes an id-range-sharded ``.osm.pbf`` (or ``.osm`` XML) directory via the
executor-side sinks (``sinks/``). Exported output re-ingests through the
multi-file readers (for PBF, one driver-built blob index over all shard
files), so decode → query → export → decode is a closed loop. A ``--filter`` SQL predicate (applied to every kind that has the
referenced columns) supports extract-style exports, e.g.
``--filter "tags['amenity'] IS NOT NULL"`` on nodes.

Imports resolve from the --py-files archive; no repo-relative imports.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--tables", required=True, help="dir with nodes/ ways/ relations/ parquet")
    ap.add_argument("--out", required=True, help="output shard directory")
    ap.add_argument("--format", choices=("pbf", "xml"), default="pbf")
    ap.add_argument("--shards", type=int, default=None, help="shards per kind")
    ap.add_argument("--filter", default=None, help="SQL predicate applied per kind when its columns exist")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql.utils import AnalysisException

    from openstreetmapio_jl_spark import sinks
    from openstreetmapio_jl_spark.session import QUERY_CONF
    from openstreetmapio_jl_spark.sources.pbf_source import OSMBundle

    spark = (
        SparkSession.builder.appName("osm-export-sharded")
        .config(map=QUERY_CONF)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")  # naive-UTC timestamp contract (sinks assert it)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    frames = {}
    skipped_kinds = []
    for kind in ("nodes", "ways", "relations"):
        df = spark.read.parquet(os.path.join(args.tables, kind))
        if args.filter:
            try:
                df = df.filter(args.filter)
            except AnalysisException as e:
                # ONLY "predicate references a column this kind lacks" is a
                # legitimate skip (e.g. a tags filter applied to a kind without
                # a tags column). Any other analysis failure — malformed SQL
                # (ParseException subclasses AnalysisException), a datatype
                # mismatch — must fail LOUDLY: swallowing it would silently
                # export the full unfiltered planet for every kind.
                # lazy accessor lookup: getattr(e, a, e.getErrorClass) would
                # evaluate the fallback EAGERLY and raise AttributeError on
                # PySpark builds that dropped the deprecated getErrorClass,
                # masking the real analysis error
                get_cond = getattr(e, "getCondition", None) or getattr(
                    e, "getErrorClass", None
                )
                cond = get_cond() if get_cond is not None else None
                if not (cond or "").startswith("UNRESOLVED_COLUMN"):
                    raise
                skipped_kinds.append(kind)
        frames[kind] = df
    if skipped_kinds:
        if len(skipped_kinds) == 3:
            # unresolved on EVERY kind = the column exists nowhere — that is a
            # typo'd column name, not a kind-specific schema gap; refusing here
            # is what keeps a misspelled extract from exporting the whole planet
            raise SystemExit(
                f"--filter {args.filter!r} references columns present in no "
                "kind (nodes/ways/relations) — typo?"
            )
        print(
            f"filter {args.filter!r} skipped for kinds lacking its columns: "
            + ", ".join(skipped_kinds)
        )
    meta = {}
    meta_path = os.path.join(args.tables, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
    bundle = OSMBundle(
        nodes=frames["nodes"], ways=frames["ways"], relations=frames["relations"], meta=meta
    )
    write = sinks.write_bundle_pbf if args.format == "pbf" else sinks.write_bundle_xml
    manifest = write(bundle, args.out, shards=args.shards)
    print(
        json.dumps(
            {
                "out": args.out,
                "format": args.format,
                "shards": len(manifest),
                "rows": sum(m["rows"] for m in manifest),
                "bytes": sum(m["bytes"] for m in manifest),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
