"""spark-submit entry point: resumable PBF → parquet decode (the production
ingest path).

    spark-submit --py-files dist/openstreetmapio_jl_spark.zip \
        jobs/decode_job.py \
        --pbf /data/planet.osm.pbf --out /data/osm_parquet \
        --lineage /data/osm_parquet_lineage --chunks 16

All downstream queries read the parquet tables (column pruning + predicate
pushdown for free) instead of re-decoding the PBF per query. The decode itself
is the single-pass kind-tagged union scan (each blob read + decompressed +
proto-walked once — ``sources/pbf_source.py``); the blob index is split into
``--chunks`` contiguous blob-seq ranges, and each range's three entity outputs
are written then committed to the lineage log, so a killed run resumes with
exactly the missing ranges. On a real deployment out/lineage are Iceberg
tables — plain parquet keeps the sandbox dependency-free while preserving the
write-output-then-commit protocol.

Imports resolve from the --py-files archive; this file has no repo-relative
imports, so it runs from any working directory.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pbf", required=True, help="OSM PBF file")
    ap.add_argument("--out", required=True, help="output dir (nodes/ ways/ relations/)")
    ap.add_argument("--lineage", required=True, help="lineage/checkpoint table dir")
    ap.add_argument("--chunks", type=int, default=16, help="blob-seq range chunks")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.plans import lineage
    from openstreetmapio_jl_spark.session import QUERY_CONF
    from openstreetmapio_jl_spark.sources import pbf_source as P

    spark = (
        SparkSession.builder.appName("osm-decode-to-parquet")
        .config(map=QUERY_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    index_df, meta = P.blob_index_df(spark, args.pbf)
    max_seq = index_df.agg(F.max("blob_seq")).collect()[0][0] or 0
    n_chunks = max(1, min(args.chunks, max_seq + 1))
    step = (max_seq + n_chunks) // n_chunks

    def process_chunk(key: str):
        i = int(key.split("_")[1])
        lo, hi = i * step, (i + 1) * step - 1
        part = index_df.filter(F.col("blob_seq").between(lo, hi))
        union, _ = P.read_pbf_union(spark, args.pbf, index_df=part)
        return union

    keys = [f"range_{i}" for i in range(n_chunks)]
    stats = lineage.run_resumable(
        spark,
        keys,
        process_chunk,
        out_dir=f"{args.out}/union",
        lineage_dir=args.lineage,
        run_id=args.run_id,
    )
    # split the kind-tagged union into the three canonical entity tables
    union = lineage.read_output(spark, f"{args.out}/union").drop("chunk")
    from openstreetmapio_jl_spark import model

    for kind in ("nodes", "ways", "relations"):
        (
            union.filter(F.col("kind") == kind)
            .select(*model.UNION_KIND_COLUMNS[kind])
            .write.mode("overwrite")
            .parquet(f"{args.out}/{kind}")
        )
    stats["meta"] = {k: meta.get(k) for k in ("source", "writingprogram") if meta.get(k)}
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
