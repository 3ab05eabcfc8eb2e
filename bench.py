"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE
compact JSON line, as the LAST line of the combined stdout and stderr::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

The full record, with the per-pass ``samples``, goes to ``BENCH_detail.json`` next
to this file (git-ignored); the per-query delta table against the newest
``BENCH_r*.json`` goes to stderr before the JSON line.

Each query is forced end-to-end with the ``noop`` sink (full materialization, no
collect-to-driver), mirroring how the job would run on a cluster. Extra fields
(ignored-safe for the driver): ``pages_per_sec`` for the flagship spatial join,
``cpus``, and per-query row counts from a prior verification pass.

Scaling-evidence mode (north_rule): ``python bench.py --scaling`` runs the same
flagship job at local[N] and local[4N] (default N=2; see ``run_scaling`` for why)
in separate JVMs and reports both throughputs, scaling efficiency, and result
checksums; results are recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per engine pillar (decode, relational, dedup, similarity,
# spatial join, kNN, tiler, text). Names match __spark_entry__.queries().
HEADLINE = [
    "osm_counts",            # PBF blob-parallel decode throughput
    "agg_pricing_summary",   # relational agg (TPC-H Q1 shape)
    "join_revenue_by_nation",# multi-join + agg (TPC-H Q5 shape)
    "doc_minhash_lsh",       # MinHash+LSH near-dup over documents
    "doc_simhash",           # SimHash fingerprinting
    "sim_cosine_topk",       # brute-force cosine ANN baseline
    "pages_tile_counts",     # geocode + XYZ tile assignment
    "pip_hits_per_polygon",  # FLAGSHIP: cell-keyed PIP spatial join
    "pip_hits_multi_mention",# r5: per-mention-multiplicity PIP (NEW in r05 —
                             # round-over-round totals gain a 12th query)
    "doc_chunk_dedup",       # r5: CCNet chunk-level boilerplate dedup (NEW in
                             # r05 — totals are not comparable across rounds
                             # once queries are added, per-query minima are)
    "doc_decontaminate",     # r5: benchmark n-gram decontamination (NEW in
                             # r05 — broadcast-semi-join probe)
    "er_customer_mentions",  # r5: SparkER token-blocking entity resolution
                             # (NEW in r05 — purged-block candidate join)
    "pip_hits_multipolygon", # PIP vs assembled multipolygons (stitched rings)
    "knn_pages_to_poi",      # cell-ring expanding kNN
    "tile_pyramid_z11",      # raster<->vector tile rollup
    "osm_way_lengths",       # r5: geodesic length per highway class (NEW in
                             # r05 — refs→nodes resolve + haversine fold)
    "osm_polygon_areas",     # r5: equal-area shoelace per landuse class (NEW
                             # in r05 — rides the persisted polygon dimension)
    "osm_road_sssp",         # r5: intersection-contracted highway graph +
                             # bounded-round shortest paths (NEW in r05 — the
                             # iterative-analytic pillar; per-pass time is
                             # dominated by the synchronous relaxation rounds)
    "osm_simplify_ways",     # r5: zoom-driven effective-area line
                             # generalization (NEW in r05 — pure array-expr
                             # vector-tile simplification over way assembly)
    "osm_tile_road_density", # r5: Liang-Barsky tile clipping -> road length
                             # per z12 tile (NEW in r05 — the tile-cut
                             # analytic; explode-bounded, zero Python)
    "osm_road_pagerank",     # r5: fixed-round power iteration over the
                             # contracted road graph (NEW in r05 — the
                             # eigenvector-centrality pillar; 12 one-join
                             # rounds, lineage cut every 4)
    "doc_bm25_terms",        # r5: BM25 characteristic terms (NEW in r05 —
                             # the IR pillar: tokenize + tf/df aggregates +
                             # one-row totals broadcast + top-k window)
    "geo_grid_clusters",     # r5: grid-density spatial clustering (NEW in
                             # r05 — one points-sized binning groupBy, then
                             # core-cell adjacency merged by bounded-probe
                             # union-find / distributed CC)
    "geo_tile_hotspots",     # r5: Getis-Ord Gi* hotspot statistics (NEW in
                             # r05 — exact-BIGINT moments + 9-delta
                             # neighborhood equi-join)
    "doc_search_bm25",       # r5: BM25 retrieval (NEW in r05 — query-term
                             # tf slice + decimal-exact score summation +
                             # TakeOrderedAndProject top-n)
    "doc_len_hdr_quantiles", # r5: HDR quantile sketch (NEW in r05 — integer
                             # bucket math, map-side-combined counts)
]

FLAGSHIP = "pip_hits_per_polygon"


def _force(df) -> int:
    """Materialize fully executor-side; return row count (cheap second action —
    AQE caches shuffle outputs, and for bench purposes noop dominates)."""
    df.write.mode("overwrite").format("noop").save()
    return -1


def run_bench(sf_dir: str, master: str | None = None) -> dict:
    from openstreetmapio_jl_spark.plans import entry_queries as EQ
    from openstreetmapio_jl_spark.session import get_spark

    spark = get_spark(app_name="bench", master=master)
    spark.sparkContext.setLogLevel("ERROR")

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    try:
        sf = float(sf_name[2:])
    except ValueError:
        sf = 0.1

    # fixture materialization is one-time setup, not engine throughput
    paths = EQ.ensure_fixtures(sf_dir)
    n_pages = EQ._pages(spark, sf_dir).count()

    reg = EQ.registry()
    # Warmup pass absorbs janino codegen compilation (observed 5-30 s on first
    # execution of a new plan shape, ~1 s steady-state) so timings reflect
    # executor throughput, which is what scales to the cluster. Then TWO full
    # timed passes over the whole set, keeping each query's min: the sandbox
    # host carries external load bursts lasting MINUTES (load avg > 2 with zero
    # local processes; 5-15x single-query spikes observed), so back-to-back
    # samples of one query sit inside the same burst — separating the samples
    # by a full pass (~1 min apart) lets the min dodge it. THREE timed passes
    # (round-3 protocol): two samples can both land in one multi-minute burst;
    # three spaced ~1 min apart straddle the observed burst windows.
    # TWO warmup passes: one is not enough for the decode-heavy queries — the
    # Python-worker pool and C2-compiled kernels reach steady state only on the
    # ~3rd execution (osm_counts measured 10.8 / 1.5 / 1.4 / 0.9 / 0.8 s on an
    # idle host), and a warmup-starved min reads as a phantom regression.
    for _ in range(2):
        for name in HEADLINE:
            _force(reg[name][0](spark, sf_dir))
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(3):
        for name in HEADLINE:
            # plan construction INSIDE the timed window: lazy queries spend
            # milliseconds there, but iterative operators (osm_road_sssp)
            # execute their checkpointed rounds eagerly during construction —
            # timing only the final count would underreport them ~100x
            t0 = time.perf_counter()
            df = reg[name][0](spark, sf_dir)
            _force(df)
            sec = time.perf_counter() - t0
            samples[name].append(round(sec, 3))
            timings[name] = round(min(timings.get(name, sec), sec), 3)

    total = round(sum(timings.values()), 3)
    flagship_sec = timings[FLAGSHIP]
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # raw per-pass wall times (pass order preserved): lets a reader
        # separate host-load bursts (one inflated sample, stable min) from a
        # real regression (all samples shifted) without re-running
        "samples": samples,
        "sf": sf,
        "pages_per_sec": round(n_pages / flagship_sec, 1) if flagship_sec else None,
        "flagship": FLAGSHIP,
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.conf.get("spark.master"),
    }
    spark.stop()
    return out


def run_scaling(sf_dir: str | None = None) -> None:
    """north_rule evidence: same flagship job at N and 4N parallelism.

    No real cluster exists in this sandbox, so "N vs 4N executors" is evidenced
    as local[N] vs local[4N] threads in separate JVMs on the same input
    (BASELINE.md "Measurement protocol"). N defaults to 2 (override with
    SPARK_GRAFT_SCALE_N): measurements on this host show per-core throughput
    DEGRADES as more of the 32 advertised cores go active (oversubscribed /
    shared host), so wider pairs conflate engine scaling with host contention.
    The input defaults to the sf4.0 fixture (2M pages) so compute dominates
    the ~2s fixed planning/setup overhead at both levels.

    Output: one JSON line with throughput (pages/sec) at each level, scaling
    efficiency, and the result checksum at each level (must be identical).
    """
    import subprocess

    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    if sf_dir is None:
        sf_dir = os.environ.get(
            "SPARK_GRAFT_SCALE_SF_DIR",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures", "sf4.0"),
        )
    # the sandbox host carries variable external load (load avg > 4 with zero
    # local processes) — alternate the legs across rounds and keep each leg's
    # best so a transient load spike can't penalize one level asymmetrically
    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "2"))
    results: dict[int, dict] = {}
    for _ in range(rounds):
        for lvl in (n, 4 * n):
            p = subprocess.run(
                [sys.executable, __file__, "--scale-one", sf_dir, f"local[{lvl}]"],
                capture_output=True, text=True, check=True,
            )
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if lvl not in results or r["timed_sec"] < results[lvl]["timed_sec"]:
                results[lvl] = r
    lo, hi = results[n], results[4 * n]
    speedup = lo["timed_sec"] / hi["timed_sec"]
    eff = speedup / 4.0
    print(json.dumps({
        "metric": f"scaling_efficiency_local{n}_to_local{4 * n}",
        "value": round(eff, 3),
        "unit": "ratio",
        "speedup": round(speedup, 2),
        "checksums_match": lo["checksum"] == hi["checksum"],
        f"local{n}": lo,
        f"local{4 * n}": hi,
    }))


def run_scale_one(fx_dir: str, master: str) -> None:
    """One scaling-run leg: flagship PIP join at a fixed parallelism level.

    Setup (untimed): decode the OSM polygon side once and materialize it to
    parquet — at real scale the planet polygon set is prepared once and reused
    across the continuously-arriving pages table, so the steady-state job whose
    scaling matters is pages -> geocode-extract -> tile-assign -> cell join ->
    exact PIP -> aggregate. That pipeline is timed (best of 3 after a warmup
    that absorbs janino codegen), and its result is checksummed so both
    parallelism levels can prove identical output.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.operators import geocode
    from openstreetmapio_jl_spark.operators import spatial_join as SJ
    from openstreetmapio_jl_spark.plans import entry_queries as EQ
    from openstreetmapio_jl_spark.session import get_spark
    from openstreetmapio_jl_spark.sources.pbf_source import read_pbf

    spark = get_spark(app_name=f"scale-{master}", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    paths = EQ.ensure_fixtures(fx_dir)

    tmp = tempfile.mkdtemp(prefix="scale_polys_")
    try:
        b = read_pbf(spark, paths["pbf"])
        rings = SJ.assemble_polygon_rings(b.ways, b.nodes)
        SJ.polygons_with_edges(rings).write.mode("overwrite").parquet(tmp)
        polys = spark.read.parquet(tmp)
        n_pages = spark.read.parquet(paths["pages"]).count()

        def job():
            pages = spark.read.parquet(paths["pages"])
            pts = geocode.pages_with_cells(pages, zoom=13)
            hits = SJ.point_in_polygon_join(
                pts.select("url", "lat", "lon"), polys, zoom=13, nsalt=16, salt_id_col="url"
            )
            return hits.groupBy("polygon_id").count().withColumnRenamed("count", "n_hits")

        _force(job())  # warmup: codegen + broadcast build
        best = float("inf")
        for _ in range(3):
            df = job()
            t0 = time.perf_counter()
            _force(df)
            best = min(best, time.perf_counter() - t0)

        chk = (
            job()
            .agg(
                F.sum(F.pmod(F.xxhash64("polygon_id", "n_hits"), F.lit(10**9))).alias("h"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        print(json.dumps({
            "timed_sec": round(best, 3),
            "pages_per_sec": round(n_pages / best, 1),
            "n_pages": n_pages,
            "checksum": f"{chk['h']}:{chk['n']}",
            "master": master,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


def _load_record(path: str) -> dict | None:
    """A bench JSON record; the per-round BENCH_r*.json files wrap it in
    ``parsed``, which is null when that run's line could not be parsed."""
    with open(path) as f:
        base = json.load(f)
    return base["parsed"] if "parsed" in base else base


def print_compare(result: dict, baseline_path: str) -> None:
    """Per-query delta table vs a previous BENCH_r*.json — makes round-over-round
    regressions visible in one look (stderr, printed before the JSON line so
    that line stays last)."""
    base = _load_record(baseline_path)
    if base is None:
        print(f"# {os.path.basename(baseline_path)} has no parsed record", file=sys.stderr)
        return
    bq = base.get("queries", {})
    lines = [f"# vs {os.path.basename(baseline_path)} (negative = faster now)"]
    for name, sec in result["queries"].items():
        prev = bq.get(name)
        if prev:
            delta = sec - prev
            pct = 100.0 * delta / prev
            lines.append(f"{name:26s} {prev:7.3f}s -> {sec:7.3f}s  {pct:+6.1f}%")
        else:
            lines.append(f"{name:26s}    new -> {sec:7.3f}s")
    prev_total = base.get("value")
    if prev_total:
        pct = 100.0 * (result["value"] - prev_total) / prev_total
        lines.append(f"{'TOTAL':26s} {prev_total:7.3f}s -> {result['value']:7.3f}s  {pct:+6.1f}%")
    print("\n".join(lines), file=sys.stderr)


if __name__ == "__main__":
    args = [a for a in sys.argv[1:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args and args[0] == "--scaling":
        run_scaling(args[1] if len(args) > 1 else None)
    elif args and args[0] == "--scale-one":
        run_scale_one(args[1], args[2])
    else:
        compare_to = None
        if "--compare" in args:
            i = args.index("--compare")
            compare_to = args[i + 1]
            del args[i : i + 2]
        if args:
            sf_dir = args[0]
        result = run_bench(sf_dir)
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_detail.json"), "w") as f:
            json.dump(result, f, indent=1)
        del result["samples"]
        if compare_to is None:  # default: newest round file that has a record
            import glob

            recorded = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
            compare_to = next((p for p in reversed(recorded) if _load_record(p)), None)
        if compare_to:
            print_compare(result, compare_to)
        sys.stderr.flush()
        print(json.dumps(result), flush=True)
