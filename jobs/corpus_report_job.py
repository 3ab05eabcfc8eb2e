"""spark-submit entry point: one-pass corpus data-quality report.

    spark-submit --py-files dist/openstreetmapio_jl_spark.zip \
        jobs/corpus_report_job.py --pages /data/pages.parquet \
        --out /data/report.json [--hotspot-zoom 6] [--top-tiles 5]

The ops-facing "what is in this corpus?" answer, composed from the
library's bounded-memory operators so the report COSTS a few aggregates
even at 100 TB — no sorts over raw values, no pairwise work:

- row/url counts + exact-duplicate rate (md5 fingerprint groupBy);
- language mix (counts per lang);
- text-length quantiles per corpus via the HDR sketch (bounded histogram,
  never percentile()'s per-group value buffer);
- distinct-word estimate via the deterministic HyperLogLog sketch;
- geocoded fraction + the top-K statistically hottest tiles (Getis-Ord
  Gi* over the page-count raster — hot regions by evidence, not by raw
  count).

Output: ONE JSON file (single driver-side dict — every number above is an
aggregate, so the collect is O(languages + tiles-topK + quantiles)).
Imports resolve from the --py-files archive; no repo-relative imports.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--hotspot-zoom", type=int, default=6)
    ap.add_argument("--top-tiles", type=int, default=5)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.functions import text as textfn
    from openstreetmapio_jl_spark.operators import geocode, spatial_stats
    from openstreetmapio_jl_spark.operators.dedup import fingerprint
    from openstreetmapio_jl_spark.operators.sketches import (
        hdr_quantile_sketch,
        hll_distinct,
    )
    from openstreetmapio_jl_spark.session import QUERY_CONF

    spark = (
        SparkSession.builder.appName("corpus-report")
        .config(map=QUERY_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    pages = spark.read.parquet(args.pages).persist()

    base = pages.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct(fingerprint(F.col("text"))).alias("n_distinct_texts"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
    ).collect()[0]

    langs = {
        r.lang: r.n
        for r in pages.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }

    lens = pages.select(F.length("text").cast("long").alias("n_chars"))
    quantiles = {
        f"p{int(r.q * 100)}": int(r.est)
        for r in hdr_quantile_sketch(
            lens, "n_chars", (0.5, 0.9, 0.99)
        ).collect()
    }

    words = pages.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("w")
    )
    est_words = hll_distinct(words, "w").collect()[0][0]

    pts = geocode.extract_geocodes(pages)
    raster = pts.select(
        geocode.xyz_tile_key_col(
            F.col("lat"), F.col("lon"), args.hotspot_zoom
        ).alias("tile")
    ).groupBy("tile").agg(F.count("*").alias("n"))
    n_geo = pts.count()
    hot = (
        spatial_stats.gi_star(raster)
        .filter(F.col("gi_z").isNotNull())
        .orderBy(F.desc("gi_z"), F.asc("tile"))
        .limit(args.top_tiles)
        .collect()
    )

    report = {
        "n_rows": base.n_rows,
        "n_urls": base.n_urls,
        "exact_dup_rate": round(
            1.0 - base.n_distinct_texts / base.n_rows, 6
        )
        if base.n_rows
        else 0.0,
        "total_chars": base.total_chars,
        "lang_mix": dict(sorted(langs.items())),
        "chars_quantiles": quantiles,
        "est_distinct_words": est_words,
        "geocoded_rows": n_geo,
        "geocoded_frac": round(n_geo / base.n_rows, 6) if base.n_rows else 0.0,
        "hotspot_zoom": args.hotspot_zoom,
        "top_hot_tiles": [
            {
                "tile": r.tile,
                "n_pages": r.n,
                "gi_z": r.gi_z,
            }
            for r in hot
        ],
    }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    print(json.dumps({"report": args.out, "n_rows": base.n_rows}))
    pages.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
