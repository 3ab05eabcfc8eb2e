"""spark-submit entry point: end-to-end training-corpus pipeline.

    spark-submit --py-files dist/openstreetmapio_jl_spark.zip \
        jobs/corpus_pipeline_job.py \
        --pages /data/pages.parquet --pbf /data/planet.osm.pbf \
        --out /data/corpus_out --lineage /data/corpus_lineage \
        --chunks 64 --min-quality 0.3

The full web-corpus preparation flow, each stage the scale-shaped operator the
library provides:

0. **cross-batch URL gate** (``--url-bloom PREFIX``) — urls already in the
   persisted Bloom filter drop at load with certainty (no false negatives),
   and so do pages with a NULL url (counted as ``null_url_dropped``); after
   the write, the survivors' urls OR-merge back (idempotent);
1. **exact dedup** — md5 fingerprint of normalized text, keep the smallest
   url per group (deterministic survivor; one groupBy shuffle);
1b. **near-dup cluster dedup** (``--near-dup-threshold`` > 0) — MinHash-LSH
   pairs → connected components → keep only each cluster's canonical url
   (minimum), dropping the other members; transitivity means a chained
   cluster loses all-but-one even when its ends aren't pairwise similar;
1c. **chunk-level boilerplate removal** (``--chunk-dedup-words`` > 0) —
   CCNet-style: each page's text is rewritten to the N-word chunks not
   shared with any other page (site chrome / legal boilerplate stripped
   from INSIDE kept pages); pages that were pure boilerplate drop;
1d. **PII scrub** (``--scrub-pii``) — emails/international phones redacted
   before the quality gate scores the text;
2. **quality + language gate** — JVM-side quality_score_col / token counts
   over the CLEANED text, drop below ``--min-quality``;
2b. **language rebalance** (``--rebalance LANG:FRAC,...``) — deterministic
   downsample-only rebalance to a target mix (md5-ranked selection);
3. **geocode + spatial enrich** — regex geocode extraction, cell-keyed PIP
   join against the once-prepared OSM polygon dimension (LEFT join: pages
   without a geo mention or outside every polygon survive un-enriched);
4. **partitioned write with lineage** — url-hash chunks, each written then
   committed (write-output-then-commit), so a killed run resumes with exactly
   the missing chunks;
5. **signature-index maintenance** (``--dedup-index PREFIX``) — the run's
   survivors build (first run) or extend (later runs) a persisted bucketed
   MinHash index; with an existing index, stage 1b switches to INCREMENTAL
   near-dup dedup (batch-vs-index + batch-internal, zero corpus rescan), so
   successive invocations form the continuous-ingest loop of a production
   training pipeline.

Imports resolve from the --py-files archive; no repo-relative imports.
"""

from __future__ import annotations

import argparse
import json
import os


def _default_batch_id(pages_path: str) -> str:
    """Content-sensitive default batch id: md5 over the absolute path plus
    every data file's (relative name, size, mtime-ns). The common delivery
    pattern of OVERWRITING the same staging path with a new batch therefore
    yields a NEW id — a path-only hash would reuse the previous batch's id,
    making every lineage chunk key look committed and the index extension
    look done: the batch would be silently dropped with exit code 0.

    Only LOCAL paths can be content-hashed here (os.stat). A remote URI
    (s3://, hdfs://, ...) would silently degrade to the path-only hash —
    exactly the silent-loss mode this function exists to prevent — so it
    fails loudly and demands an explicit --batch-id instead."""
    import hashlib

    if "://" in pages_path:
        raise SystemExit(
            f"--pages is a remote URI ({pages_path}): the default batch id "
            "is content-derived via local os.stat and cannot see remote "
            "content, so overwriting this URI with a new batch would reuse "
            "the old batch id and silently drop the batch. Pass an explicit "
            "per-batch --batch-id."
        )
    root = os.path.abspath(pages_path)
    if not os.path.exists(root):
        raise SystemExit(f"--pages path does not exist: {pages_path}")
    h = hashlib.md5(root.encode())
    if os.path.isdir(root):
        entries = []
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                entries.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
        for rel, size, mtime in sorted(entries):
            h.update(f"|{rel}:{size}:{mtime}".encode())
    else:
        st = os.stat(root)
        h.update(f"|{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:10]


def _url_bloom_gate(pages, bloom_words, *, m: int):
    """Pages whose url the persisted Bloom filter has (probably) not seen.

    Pages with a NULL url cannot be checked against the filter: they drop
    here, by an explicit filter (the caller counts them as
    ``null_url_dropped``). The filter is probed once per DISTINCT url, so a
    url repeated k times joins back as k rows, not k²."""
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.operators.sketches import bloom_probe

    pages = pages.filter(F.col("url").isNotNull())
    verdicts = bloom_probe(
        bloom_words, pages.select("url").distinct(), "url", probe_id="url", m=m
    )
    return pages.join(verdicts.filter(~F.col("might_contain")).select("url"), "url")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--pbf", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--chunks", type=int, default=64)
    ap.add_argument("--zoom", type=int, default=13)
    ap.add_argument("--nsalt", type=int, default=16)
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument(
        "--near-dup-threshold", type=float, default=0.0,
        help="exact Jaccard threshold for near-dup cluster dedup; 0 disables",
    )
    ap.add_argument(
        "--near-dup-max-bucket", type=int, default=1000,
        help="LSH bucket-cardinality cap before the candidate self-join",
    )
    ap.add_argument(
        "--chunk-dedup-words", type=int, default=0, metavar="N",
        help="CCNet-style chunk-level boilerplate removal: rewrite each "
        "page's text to the chunks (non-overlapping N-word windows) NOT "
        "shared with any other page, dropping pages that were pure "
        "boilerplate; 0 disables",
    )
    ap.add_argument(
        "--scrub-pii", action="store_true",
        help="redact emails and +international phone numbers from page text "
        "(<EMAIL>/<PHONE> placeholders) before the quality gate — the "
        "privacy stage of the corpus pipeline; conservative patterns only "
        "(functions.text.scrub_pii_col)",
    )
    ap.add_argument(
        "--rebalance", default=None, metavar="LANG:FRAC,...",
        help="deterministic downsample-only rebalance of the gated pages to "
        "a target language mix (e.g. 'en:0.4,de:0.3,fr:0.3'): keep the "
        "floor(frac*M) pages with the smallest md5(url) per language, "
        "M = min(n_lang/frac). Untargeted languages DROP; a targeted "
        "language absent from the batch aborts (the mix is unreachable). "
        "Runs after the quality gate, before spatial enrichment",
    )
    ap.add_argument(
        "--dedup-index", default=None, metavar="PREFIX",
        help="table prefix of a persisted MinHash signature index: when the "
        "index exists, near-dup dedup runs INCREMENTALLY against it (batch-vs-"
        "index + batch-internal, no corpus rescan) and the surviving pages "
        "extend the index afterwards; when absent, it is built from this "
        "run's survivors — successive invocations form a continuous-ingest "
        "loop",
    )
    ap.add_argument(
        "--url-bloom", default=None, metavar="PREFIX",
        help="table prefix of a persisted URL Bloom filter: pages whose url "
        "is in the filter drop IMMEDIATELY on load (seen urls are rejected "
        "with certainty - bloom has no false negatives; a small tunable "
        "false-positive fraction of new urls is lost, see --url-bloom-bits), "
        "and after the write the batch survivors' urls OR-merge into the "
        "filter. OR is idempotent, so re-running a batch cannot corrupt the "
        "filter - the cheap exact-certainty cross-batch URL dedup next to "
        "the signature index's near-dup dedup",
    )
    ap.add_argument(
        "--url-bloom-bits", type=int, default=1 << 20,
        help="filter size m in bits (multiple of 32; ~m/8 bytes). Size by "
        "the standard fpr=(1-e^{-kn/m})^k with k=5: m=2^20 holds ~10^5 urls "
        "at <1%% fp; scale m linearly with corpus url count",
    )
    ap.add_argument(
        "--batch-id", default=None,
        help="identifier scoping this batch's lineage chunk keys and index "
        "extension (default: md5 of the --pages path PLUS each data file's "
        "size+mtime, so re-delivering new data at the same staging path gets "
        "a fresh id). Without per-batch scoping, a second batch pointed at "
        "the same --out/--lineage would collide with the first batch's chunk "
        "keys: the lineage log would skip every chunk (writing nothing) "
        "while the index extension still ran — silently losing the batch "
        "from the corpus",
    )
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    batch_id = args.batch_id or _default_batch_id(args.pages)

    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.functions import text as textfn
    from openstreetmapio_jl_spark.operators import geocode
    from openstreetmapio_jl_spark.operators import spatial_join as SJ
    from openstreetmapio_jl_spark.operators.dedup import fingerprint, jaccard_via_lsh
    from openstreetmapio_jl_spark.operators.graph import connected_components
    from openstreetmapio_jl_spark.plans import lineage
    from openstreetmapio_jl_spark.session import QUERY_CONF
    from openstreetmapio_jl_spark.sources.pbf_source import read_pbf

    builder = (
        SparkSession.builder.appName("corpus-pipeline")
        .config(map=QUERY_CONF)
    )
    if args.dedup_index or args.url_bloom:
        # the signature index / url bloom must outlive this invocation: the default
        # in-memory catalog forgets saveAsTable metadata (incl. the bucket
        # spec) at session stop, so index mode needs the persistent metastore
        # (Derby in cwd here; a shared metastore service on a real cluster)
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # polygon dimension: prepared ONCE, reused by every chunk (production shape)
    b = read_pbf(spark, args.pbf, single_pass=True)
    rings = SJ.assemble_polygon_rings(b.ways, b.nodes)
    polys = SJ.polygons_with_edges(rings).persist()
    polys.count()
    b.union.unpersist()

    pages = spark.read.parquet(args.pages)

    # 0. cross-batch URL rejection against the persisted bloom (certainty
    # for seen urls; the earliest, cheapest gate - one broadcast words join)
    bloom_table = f"{args.url_bloom}_url_bloom" if args.url_bloom else None
    n_null_url = 0
    if bloom_table and spark.catalog.tableExists(bloom_table):
        n_null_url = pages.filter(F.col("url").isNull()).count()
        pages = _url_bloom_gate(
            pages, spark.table(bloom_table), m=args.url_bloom_bits
        )

    # 1. exact dedup: deterministic survivor per normalized-text fingerprint
    w = Window.partitionBy("fp").orderBy("url")
    deduped = (
        pages.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # 1b. near-dup cluster dedup: LSH pairs -> components -> drop every
    # cluster member except the canonical (minimum) url. Anti-join keeps the
    # pages table untouched when the corpus has no near-dups. With
    # --dedup-index and an EXISTING index, pairs come from the incremental
    # path instead (batch-vs-index + batch-internal — the corpus text is
    # never rescanned): a batch page near-dupping an INDEXED page always
    # drops (the indexed survivor already lives in the corpus); batch-internal
    # pairs cluster with the same CC + min-url survivor rule as full mode.
    n_near_dropped = 0
    have_index = bool(args.dedup_index) and spark.catalog.tableExists(
        f"{args.dedup_index}_memberships"
    )
    if args.near_dup_threshold > 0:
        cc_handles: list = []
        if have_index:
            from openstreetmapio_jl_spark.operators.dedup import (
                incremental_dedup_pairs,
            )

            pairs = incremental_dedup_pairs(
                spark,
                deduped,
                table_prefix=args.dedup_index,
                id_col="url",
                threshold=args.near_dup_threshold,
                max_bucket_df=args.near_dup_max_bucket,
            )
            # Survivor rule "first-indexed wins, with transitivity across the
            # index boundary" (operators/dedup.py:incremental_cluster_losers):
            # a component containing ANY indexed page already has its survivor
            # in the corpus — every batch member of it drops, including pages
            # chained to the index only through other batch pages — while
            # pure-batch components keep their canonical minimum.
            from openstreetmapio_jl_spark.operators.dedup import (
                incremental_cluster_losers,
            )

            batch_urls = deduped.select(F.col("url").alias("id")).distinct()
            losers = incremental_cluster_losers(
                pairs, batch_urls, handles=cc_handles
            ).persist()
        else:
            pairs = jaccard_via_lsh(
                deduped,
                id_col="url",
                threshold=args.near_dup_threshold,
                max_bucket_df=args.near_dup_max_bucket,
            )
            comp = connected_components(pairs, handles=cc_handles)
            losers = (
                comp.filter(F.col("id") != F.col("component"))
                .select(F.col("id").alias("url"))
                .persist()
            )
        n_near_dropped = losers.count()
        deduped = deduped.join(losers, "url", "left_anti")

    # 1c. chunk-level boilerplate removal (CCNet-style): strip chunks shared
    # across the surviving pages, drop pages that were pure boilerplate —
    # runs AFTER doc-level dedup (whose survivor rule guarantees unique urls,
    # chunk_clean's id contract) and BEFORE the quality gate (which should
    # score the content that will actually be trained on, not the chrome)
    n_chunk_boiler_dropped = 0
    if args.chunk_dedup_words > 0:
        from openstreetmapio_jl_spark.operators.dedup import chunk_clean

        pre = deduped.persist()
        n_pre = pre.count()
        deduped = chunk_clean(pre, words_per_chunk=args.chunk_dedup_words).persist()
        n_chunk_boiler_dropped = n_pre - deduped.count()
        pre.unpersist()

    # 1d. optional PII scrub — BEFORE the quality gate (redaction changes
    # the text the gate scores) and AFTER dedup (dedup keys on original
    # bytes; scrubbing first would merge docs differing only inside PII)
    if args.scrub_pii:
        deduped = deduped.withColumn(
            "text", textfn.scrub_pii_col(F.col("text"))
        )

    # 2. quality + language gate (all JVM-side)
    gated = (
        deduped.withColumn("quality", textfn.quality_score_col(F.col("text")))
        .withColumn("n_tokens", textfn.token_count_col(F.col("text")))
        .filter(F.col("quality") >= args.min_quality)
    )

    # 2b. optional deterministic rebalance to a target language mix —
    # downsample-only, md5(url)-ranked per stratum, so re-running the batch
    # (or any engine) selects the identical page set; stage order matters:
    # AFTER the quality gate (rebalancing the unfiltered mix would be undone
    # by language-skewed quality drops), BEFORE enrichment/write
    if args.rebalance:
        from openstreetmapio_jl_spark.operators.sampling import rebalance

        targets = {}
        for part in args.rebalance.split(","):
            lang, _, frac = part.partition(":")
            targets[lang.strip()] = float(frac)
        gated = rebalance(gated, targets, key_col="url")

    # 3. geocode + LEFT spatial enrich: keep every gated page; attach the
    # containing polygon ids (array, may be empty) for geocoded ones
    pts = geocode.extract_geocodes(gated).select("url", "lat", "lon")
    hits = SJ.point_in_polygon_join(
        pts, polys, zoom=args.zoom, nsalt=args.nsalt, salt_id_col="url"
    )
    page_polys = hits.groupBy("url").agg(
        F.sort_array(F.collect_list("polygon_id")).alias("polygon_ids")
    )
    enriched = gated.join(page_polys, "url", "left").withColumn(
        "polygon_ids",
        F.coalesce(F.col("polygon_ids"), F.array().cast("array<bigint>")),
    )

    # 4. chunked, resumable write
    bucket = F.pmod(F.xxhash64("url"), F.lit(args.chunks)).cast("int")
    chunked = enriched.withColumn("bucket", bucket).persist()

    # chunk keys are BATCH-scoped: reusing --out/--lineage across batches is
    # the advertised ingest loop, and unscoped bucket_i keys would make the
    # second batch's chunks look already-committed (skipping every write while
    # stage 5 still extended the index — the batch silently lost)
    def process_chunk(key: str):
        i = int(key.split("_")[-1])
        return chunked.filter(F.col("bucket") == i).drop("bucket")

    stats = lineage.run_resumable(
        spark,
        [f"b{batch_id}_bucket_{i}" for i in range(args.chunks)],
        process_chunk,
        out_dir=args.out,
        lineage_dir=args.lineage,
        run_id=args.run_id,
    )
    stats["batch_id"] = batch_id

    # 5a. url-bloom maintenance: OR-merge the written survivors' urls into
    # the persisted filter (write output first, then merge — like the index;
    # and unlike it, NO exactly-once marker is needed: bit-OR is idempotent,
    # so a crash-rerun re-merging the same urls changes nothing). The filter
    # is <= m/32 rows, so the read-merge-rewrite round-trips through one
    # bounded driver collect instead of a staging-table dance.
    if args.url_bloom:
        from openstreetmapio_jl_spark.operators.sketches import bloom_build

        batch_sk = bloom_build(
            chunked.select("url"), "url", m=args.url_bloom_bits
        )
        if spark.catalog.tableExists(bloom_table):
            old_rows = {
                int(r.word): int(r.bits)
                for r in spark.table(bloom_table).collect()
            }
            for r in batch_sk.collect():
                old_rows[int(r.word)] = old_rows.get(int(r.word), 0) | int(r.bits)
            merged = spark.createDataFrame(
                sorted(old_rows.items()), "word long, bits long"
            )
        else:
            merged = batch_sk
            # orphaned warehouse dir from a crashed prior run with a fresh
            # metastore: overwrite alone raises LOCATION_ALREADY_EXISTS
            import shutil

            wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            loc = os.path.join(wh.removeprefix("file:"), bloom_table)
            if os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)
        merged.write.format("parquet").mode("overwrite").saveAsTable(
            bloom_table
        )
        stats["url_bloom_words"] = spark.table(bloom_table).count()

    # 5. index maintenance: the written survivors become (or extend) the
    # persisted signature index, so the NEXT invocation dedups incrementally
    # against everything ingested so far (write output first, then extend —
    # a crash between the two re-extends idempotently only after the rerun's
    # lineage no-op, never losing corpus rows)
    if args.dedup_index:
        from openstreetmapio_jl_spark.operators.dedup import (
            build_dedup_index,
            extend_dedup_index,
        )

        survivors = chunked.drop("bucket").select("url", "text")
        if have_index:
            # batch_key makes the extension EXACTLY-ONCE across reruns (the
            # marker commits only after all three tables are written; a crash
            # mid-extension reruns the whole extension, whose duplicates the
            # index consumers tolerate by construction); the url anti-join
            # additionally guards overlapping batch contents
            indexed = spark.table(f"{args.dedup_index}_docs").select(
                F.col("id").alias("url")
            )
            fresh = survivors.join(indexed, "url", "left_anti")
            mode = extend_dedup_index(
                spark, fresh, table_prefix=args.dedup_index,
                id_col="url", batch_key=batch_id,
            )
        else:
            build_dedup_index(
                spark, survivors, table_prefix=args.dedup_index, id_col="url"
            )
            mode = "built"
        stats["dedup_index"] = args.dedup_index
        stats["index_mode"] = mode
        # "0 chunks processed + extension skipped" is a safe no-op rerun
        # ONLY under the content-derived default id (identical path + file
        # sizes + mtimes ⇒ identical content). Under an EXPLICIT --batch-id
        # the job cannot distinguish a scheduler retry of a completed batch
        # from a reused id pointed at NEW content — the silent-loss mode the
        # help text warns about — so it warns instead of asserting safety
        # (it cannot fail: at-least-once schedulers legitimately rerun
        # completed batches with the same id).
        if mode == "skipped" and stats.get("processed", 0) == 0:
            if args.batch_id is None:
                stats["note"] = (
                    "no-op rerun: identical batch content already fully "
                    "ingested (content-derived batch id)"
                )
            else:
                stats["note"] = (
                    "WARNING: 0 chunks processed and index extension skipped "
                    f"under explicit --batch-id {batch_id}: if --pages holds "
                    "NEW content, the batch was NOT ingested — rerun with a "
                    "fresh --batch-id"
                )

    chunked.unpersist()
    polys.unpersist()
    if args.near_dup_threshold > 0:
        losers.unpersist()
        for h in cc_handles:
            h.unpersist()
    stats["near_dup_dropped"] = n_near_dropped
    stats["chunk_boiler_dropped"] = n_chunk_boiler_dropped
    stats["null_url_dropped"] = n_null_url
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
