"""spark-submit entry point: resumable pages x OSM-polygons PIP join.

The production shape of the flagship pipeline (BASELINE.json north_rule):

    spark-submit --py-files dist/openstreetmapio_jl_spark.zip \
        jobs/pip_join_job.py \
        --pbf /data/planet.osm.pbf --pages /data/pages.parquet \
        --out /data/out/pip_hits --lineage /data/out/pip_lineage \
        --chunks 64 --zoom 13 --nsalt 16

The pages table is split into ``--chunks`` deterministic url-hash buckets; each
bucket is geocoded, cell-joined and ray-cast against the (once-prepared) OSM
polygon side, written to ``<out>/chunk=<i>``, then committed to the lineage log
with its row count and wall time. Killing the job at any point and re-running
the same command completes exactly the missing chunks (idempotent per-chunk
overwrite); a completed run is a no-op. On a real deployment out/lineage are
Iceberg tables — plain parquet keeps the sandbox dependency-free while
preserving the write-output-then-commit protocol.

Imports resolve from the --py-files archive; this file has no repo-relative
imports, so it runs from any working directory.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pbf", required=True, help="OSM PBF file (polygon side)")
    ap.add_argument("--pages", required=True, help="web-pages parquet/Iceberg path")
    ap.add_argument("--out", required=True, help="output dir for hit chunks")
    ap.add_argument("--lineage", required=True, help="lineage/checkpoint table dir")
    ap.add_argument("--chunks", type=int, default=64, help="url-hash buckets")
    ap.add_argument("--zoom", type=int, default=13, help="XYZ cell zoom for the join key")
    ap.add_argument("--nsalt", type=int, default=16, help="salt factor for hot cells")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.operators import geocode
    from openstreetmapio_jl_spark.operators import spatial_join as SJ
    from openstreetmapio_jl_spark.plans import lineage
    from openstreetmapio_jl_spark.session import QUERY_CONF
    from openstreetmapio_jl_spark.sources.pbf_source import read_pbf

    # spark-submit owns master/deploy config; only set app-level SQL knobs here
    spark = (
        SparkSession.builder.appName("pip_join_job")
        .config(map=QUERY_CONF)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    # polygon side: decoded once, reused by every chunk (planet polygons are
    # the slowly-changing dimension; pages are the unbounded fact stream)
    b = read_pbf(spark, args.pbf)
    rings = SJ.assemble_polygon_rings(b.ways, b.nodes)
    polys = SJ.polygons_with_edges(rings).persist()
    polys.count()  # materialize before the chunk loop

    pages = spark.read.parquet(args.pages)
    bucket = F.pmod(F.xxhash64("url"), F.lit(args.chunks)).cast("int")
    pts_all = geocode.pages_with_cells(pages, zoom=args.zoom).withColumn("bucket", bucket)

    def process_chunk(key: str):
        pts = pts_all.filter(F.col("bucket") == int(key)).select("url", "lat", "lon")
        return SJ.point_in_polygon_join(
            pts, polys, zoom=args.zoom, nsalt=args.nsalt, salt_id_col="url"
        ).select("url", "polygon_id")

    stats = lineage.run_resumable(
        spark,
        [str(i) for i in range(args.chunks)],
        process_chunk,
        out_dir=args.out,
        lineage_dir=args.lineage,
        run_id=args.run_id,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
