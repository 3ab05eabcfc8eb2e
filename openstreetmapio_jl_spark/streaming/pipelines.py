"""Structured Streaming pipelines — the streaming twins of the batch event
queries in ``plans/entry_queries.py``.

The reference is batch-only (SURVEY.md §2 Table B: no streaming); its replication
metadata (``/root/reference/src/load_pbf.jl:319-333``) points at an incremental
feed it never consumes. This module supplies that incremental path Spark-first:

- file-source ``readStream`` over the same parquet layout the batch path reads,
- watermarked tumbling-window aggregation (complete/update mode),
- a custom stateful sessionizer via ``applyInPandasWithState`` (Arrow-batched —
  no per-row Python, per BASELINE.json input_hint),
- ``Trigger.AvailableNow`` runner for resumable, testable backfill: process all
  available input, checkpoint, stop — restart picks up only new files, which is
  the streaming face of the lineage/idempotent-resume design (plans/lineage.py).

Correctness: with AvailableNow + complete/update mode the streaming results are
exactly the batch results, so the driver's DuckDB oracle applies unchanged.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an events parquet directory (or single file)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """5-minute tumbling counts per event type under a 10-minute watermark.
    Same output schema as the batch ``q_events_tumbling`` so the two are
    directly comparable."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_SESS_STATE = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ]
)
_SESS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ]
)


SESSION_GAP_S = 1800  # 30 min of inactivity ends a session (web-analytics convention)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user session counts via
    ``applyInPandasWithState`` (update mode). A new session starts when the gap
    since the previous event exceeds ``SESSION_GAP_S`` (carried in state so sessions span
    micro-batches). Each batch emits the CUMULATIVE totals — totals are
    non-decreasing, so the final value is ``max()`` over emitted rows regardless
    of how input was split into batches. Within-batch events are sorted by
    (ts, event_id); cross-batch ordering relies on the source's monotone file
    order (true for the backfill/file-source path; an out-of-order feed would
    need the watermark-based ``transformWithState`` variant)."""

    def fn(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        frames = list(pdf_iter)
        if frames:
            rows = pd.concat(frames).sort_values(["ts", "event_id"])
            for ts in rows["ts"]:
                epoch = int(pd.Timestamp(ts).value // 1_000_000_000)
                if last_ts is None or epoch - last_ts > SESSION_GAP_S:
                    n_sessions += 1
                last_ts = epoch
                n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_sessions": n_sessions, "n_events": n_events}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a web-pages parquet directory — the
    continuously-arriving Common-Crawl-style feed of BASELINE.json's
    north_star."""
    from openstreetmapio_jl_spark import model

    return spark.readStream.schema(model.PAGES_DDL).parquet(path)


def pip_enrich_stream(
    pages: DataFrame, polygons: DataFrame, *, zoom: int = 13
) -> DataFrame:
    """STREAM-STATIC spatial enrichment: the geocoded page stream joined against
    the static (once-prepared) polygon dimension via the same cell-keyed equi-join
    + exact ray-cast as the batch flagship — Structured Streaming supports
    stream-static inner equi-joins natively, so the whole operator tree
    (regexp geocode → tile key → join → bbox filter → edges re-attach → ray
    cast) is streaming-legal with zero operator changes. This is the steady-state
    production shape: polygons built once, pages arriving forever."""
    from openstreetmapio_jl_spark.operators import geocode
    from openstreetmapio_jl_spark.operators import spatial_join as SJ

    pts = geocode.extract_geocodes(pages).select("url", "lat", "lon")
    return SJ.point_in_polygon_join(pts, polygons, zoom=zoom)


def write_band_probe_table(spark, table_prefix: str) -> str:
    """Materialize the streaming prefilter's per-band probe sides as ONE
    partitioned table ``<prefix>_band_sigs`` (band_idx=..., band_sig) of
    DISTINCT indexed band signatures, derived from ``<prefix>_bucket_stats``
    (signature-cardinality aggregates — never the memberships table). Pass
    ``spark.table(f"{prefix}_band_sigs")`` as :func:`novel_pages_stream`'s
    ``probe_sigs`` so each micro-batch probes a partition-pruned TABLE SCAN
    instead of recomputing a ``filter().distinct()`` aggregate over the
    memberships table per trigger — at a corpus-sized index that distinct is
    a full signature shuffle every few seconds. Refresh on the compaction
    cadence (after a run of :func:`extend_dedup_index` calls), not per batch.
    Returns the table name."""
    import os
    import shutil

    name = f"{table_prefix}_band_sigs"
    # idempotent vs leftover LOCATIONS from a previous session: with the
    # in-memory catalog the table is gone but its warehouse directory is not,
    # and CREATE TABLE refuses an existing non-empty location (same cleanup
    # build_dedup_index does for its four tables)
    spark.sql(f"drop table if exists {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), name)
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    sigs = (
        spark.table(f"{table_prefix}_bucket_stats")
        .select("band_idx", "band_sig")
        .distinct()
    )
    (
        sigs.write.mode("overwrite")
        .partitionBy("band_idx")
        .format("parquet")
        .saveAsTable(name)
    )
    return name


def dedup_exact_within_stream(pages: DataFrame) -> DataFrame:
    """WITHIN-STREAM exact deduplication: drop later pages whose normalized
    text fingerprint already appeared in the stream within the watermark
    horizon — the stateful stream-side counterpart of
    ``operators/dedup.py:exact_duplicates``. Closes the prefilter gap where a
    burst of identical pages inside one crawl window (syndicated articles,
    mirror sites) all pass :func:`novel_pages_stream` because none of them is
    in the INDEX yet.

    Streaming-legal and state-BOUNDED: ``dropDuplicatesWithinWatermark`` keys
    state by fingerprint and evicts entries once the event-time watermark
    (``warc_ts`` minus 10 minutes, the crawl-burst horizon) passes them —
    state is sized by distinct fingerprints per horizon, not by the stream's
    history. Duplicates farther apart than the horizon are the batch
    compactor's job (they meet again at the signature index). Near-dups within
    the stream stay out of scope by design — that requires stream-stream
    candidate state; the compactor resolves them exactly.

    Works on a batch frame too (plain ``dropDuplicates`` on the fingerprint —
    one survivor per group, arbitrary member), so batch-twin tests can reuse
    the builder."""
    from openstreetmapio_jl_spark.operators.dedup import fingerprint

    out = pages.withColumn("_fp", fingerprint(F.col("text")))
    if out.isStreaming:
        out = out.withWatermark("warc_ts", "10 minutes").dropDuplicatesWithinWatermark(["_fp"])
    else:
        out = out.dropDuplicates(["_fp"])
    return out.drop("_fp")


def novel_pages_stream(
    pages: DataFrame,
    index_memberships: DataFrame | None = None,
    *,
    probe_sigs: DataFrame | None = None,
    persist_handles: list | None = None,
) -> DataFrame:
    """STREAM-STATIC incremental-dedup PREFILTER: keep only pages whose MinHash
    band signatures collide with NO bucket of the persisted signature index
    (``operators/dedup.py:build_dedup_index``'s ``<prefix>_memberships``
    table) — the streaming face of the continuous-ingest loop: the firehose is
    thinned against the corpus-so-far before anything heavier runs.

    Streaming-legal construction: signatures come from the aggregation-free
    per-row form (``minhash_band_sig_cols`` — a stream-side groupBy would be a
    stateful aggregation, and aggregation→join is not allowed in append mode),
    and membership is probed with one stream-static LEFT OUTER join per band
    (stateless in Structured Streaming; static side broadcast by size), keeping
    a page iff every probe misses. Pages shorter than the shingle width carry
    NULL signatures, never match, and pass through — identical to the batch
    semantics where such docs have no memberships.

    Signature-level ONLY (the LSH candidate rule: shares ≥1 band bucket ⇒
    presumed duplicate): it is the RECALL-side prefilter; the survivors flow to
    the batch compactor whose :func:`incremental_dedup_pairs` does the exact
    verify and index extension. Within-stream EXACT duplicates are handled by
    composing :func:`dedup_exact_within_stream` upstream (watermark-bounded
    fingerprint state); within-stream NEAR-dups are by design left to the
    compactor (they need stream-stream candidate state).

    STATIC-SIDE COST: the static side of a stream-static join is re-executed
    every micro-batch. Production path: pass ``probe_sigs`` — the
    pre-deduplicated (band_idx, band_sig) table written by
    :func:`write_band_probe_table` — so each trigger's probe is a
    partition-pruned table scan with zero aggregation. When only
    ``index_memberships`` is given, the per-band ``distinct`` frames are
    persisted so the aggregate runs once (first trigger) and later triggers
    hit the in-memory relation instead of re-shuffling the memberships table;
    at corpus scale prefer ``probe_sigs``, which needs no executor cache.
    Two consequences of that persist, both absent on the ``probe_sigs`` path:
    (1) the cached frames pin executor memory for the session — pass a list
    as ``persist_handles`` and unpersist them after the query stops (the
    ingest loop rebuilds the stream per extension cycle; without the handles
    every rebuild would pin ``N_BANDS`` more frames); (2) the index SNAPSHOT
    is frozen at first materialization — rows a concurrent
    ``extend_dedup_index`` adds are not probed until the stream is rebuilt,
    which the ingest loop does anyway after each extension."""
    if (index_memberships is None) == (probe_sigs is None):
        raise ValueError("pass exactly one of index_memberships / probe_sigs")
    from openstreetmapio_jl_spark.operators.dedup import N_BANDS, minhash_band_sig_cols

    sigs = minhash_band_sig_cols(F.col("text"))
    out = pages
    keep = F.lit(True)
    for b in range(N_BANDS):
        out = out.withColumn(f"_sig{b}", sigs[b])
        if probe_sigs is not None:
            # pure scan + partition-pruned filter: no Aggregate in the
            # per-trigger static plan (plan-shape-pinned in tests)
            idx_b = probe_sigs.filter(F.col("band_idx") == b).select(
                F.col("band_sig").alias(f"_idx_sig{b}")
            )
        else:
            idx_b = (
                index_memberships.filter(F.col("band_idx") == b)
                .select(F.col("band_sig").alias(f"_idx_sig{b}"))
                .distinct()
                .persist()  # computed once, reused by every micro-batch
            )
            if persist_handles is not None:
                persist_handles.append(idx_b)
        out = out.join(
            idx_b, out[f"_sig{b}"] == idx_b[f"_idx_sig{b}"], "left_outer"
        )
        keep = keep & F.col(f"_idx_sig{b}").isNull()
    drop_cols = [c for b in range(N_BANDS) for c in (f"_sig{b}", f"_idx_sig{b}")]
    return out.filter(keep).drop(*drop_cols)


def run_available_now(
    result: DataFrame,
    *,
    query_name: str,
    output_mode: str,
    checkpoint_dir: str,
) -> None:
    """Run a streaming DataFrame to completion with Trigger.AvailableNow into an
    in-memory sink table named ``query_name``. Blocks until done. Re-running with
    the same checkpoint processes only NEW input files (idempotent backfill)."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def reject_seen_urls_stream(
    pages: DataFrame,
    bloom_words: DataFrame,
    *,
    m: int = None,
    k: int = None,
) -> DataFrame:
    """Streaming seen-URL rejector over a persisted Bloom filter: keep only
    pages whose url is (probably) NOT in the filter. Members are rejected
    with CERTAINTY (bloom gives no false negatives), so a re-crawled url can
    never re-enter the corpus; a small false-positive fraction of genuinely
    new urls is dropped too — the standard bloom trade, tunable via m/k.

    Streaming-legal by construction — the whole verdict is ONE stateless
    per-row expression, no aggregation, no stream-static join: the filter is
    ≤ m/32 words (~8 KiB default), so it collects once at PLAN TIME into a
    MAP literal and the probe is a ``forall`` over the row's k bit
    positions against ``element_at(map, word)``. Contrast with
    :func:`novel_pages_stream`, whose per-band signature probes are
    corpus-sized and must stay distributed (stream-static joins); a bloom
    filter is the opposite trade — tiny state, boolean-only answer.

    ``bloom_words``: the (word, bits) frame from ``sketches.bloom_build``
    (BATCH — collected here). Rebuild/re-call on the index-compaction
    cadence, like :func:`write_band_probe_table`.

    NULL policy: a page with a NULL url cannot be checked against the filter
    and is dropped, whatever the filter holds — the same rule the batch gate
    in ``jobs/corpus_pipeline_job.py`` applies (which also counts them).
    Duplicate urls are judged row by row, so every copy of a novel url
    stays."""
    from openstreetmapio_jl_spark.operators.sketches import (
        BLOOM_K_DEFAULT,
        BLOOM_M_DEFAULT,
        _bloom_positions,
        _check_bloom_params,
    )

    m = BLOOM_M_DEFAULT if m is None else m
    k = BLOOM_K_DEFAULT if k is None else k
    _check_bloom_params(m, k)
    pages = pages.filter(F.col("url").isNotNull())
    words = {int(r.word): int(r.bits) for r in bloom_words.collect()}
    if not words:
        return pages  # empty filter: nothing has been seen, keep every url
    entries = []
    for w, bits in sorted(words.items()):
        entries.append(F.lit(w))
        entries.append(F.lit(bits))
    wmap = F.create_map(*entries)
    pos = _bloom_positions(F.col("url"), m, k)
    # per position p: is bit (p % 32) set in word (p div 32)?
    # pow(2, p%32) is a dyadic IEEE exact (< 2^32) — no variable shiftleft
    # needed inside the HOF lambda
    bit_set = lambda p: (  # noqa: E731
        F.coalesce(wmap[(p / 32).cast("long")], F.lit(0)).bitwiseAND(
            F.pow(F.lit(2.0), p % 32).cast("long")
        )
        == F.pow(F.lit(2.0), p % 32).cast("long")
    )
    seen = F.forall(pos, bit_set)
    return pages.filter(~seen)
