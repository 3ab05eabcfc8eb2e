"""spark-submit --py-files packaging (BASELINE.json north_rule).

Proves the engine runs as a shipped artifact: the package is zipped, a real
``spark-submit --py-files`` subprocess runs the flagship PIP-join job from a
working directory where the package is NOT importable, and a second identical
invocation is a lineage no-op (idempotent resume).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


@pytest.fixture(scope="module")
def pyfiles_zip(tmp_path_factory):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import make_pyfiles

    return make_pyfiles.build(str(tmp_path_factory.mktemp("dist") / "pkg.zip"))


def test_zip_contains_package(pyfiles_zip):
    import zipfile

    names = zipfile.ZipFile(pyfiles_zip).namelist()
    assert "openstreetmapio_jl_spark/__init__.py" in names
    assert "openstreetmapio_jl_spark/operators/spatial_join.py" in names
    assert not any("__pycache__" in n for n in names)


@pytest.mark.slow
def test_spark_submit_pyfiles_resumable(pyfiles_zip, tmp_path, osm_data):
    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=200)
    pages = str(tmp_path / "pages.parquet")
    pq.write_table(G.make_pages(2000), pages)

    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.host=127.0.0.1",
        "--py-files", pyfiles_zip,
        os.path.join(REPO, "jobs", "pip_join_job.py"),
        "--pbf", pbf, "--pages", pages, "--out", out, "--lineage", lin,
        "--chunks", "4",
    ]
    # cwd away from the repo + scrubbed PYTHONPATH: imports MUST come from the zip
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-4000:]
    stats = json.loads([l for l in p.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["processed"] == 4 and stats["skipped"] == 0
    assert stats["rows"] > 0

    # chunk outputs landed
    chunks = [d for d in os.listdir(out) if d.startswith("chunk=")]
    assert len(chunks) == 4

    # identical re-invocation: lineage makes it a no-op
    p2 = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert p2.returncode == 0, p2.stderr[-4000:]
    stats2 = json.loads([l for l in p2.stdout.splitlines() if l.startswith("{")][-1])
    assert stats2["processed"] == 0 and stats2["skipped"] == 4


@pytest.mark.slow
def test_spark_submit_decode_job(pyfiles_zip, tmp_path, osm_data):
    """decode_job: single-pass PBF -> parquet via spark-submit, resumable, and
    the three entity tables land with the canonical schemas + correct counts."""
    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=100)

    out, lin = str(tmp_path / "osm"), str(tmp_path / "osm_lineage")
    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.host=127.0.0.1",
        "--py-files", pyfiles_zip,
        os.path.join(REPO, "jobs", "decode_job.py"),
        "--pbf", pbf, "--out", out, "--lineage", lin, "--chunks", "3",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-4000:]
    stats = json.loads([l for l in p.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["processed"] == 3 and stats["skipped"] == 0

    counts = {
        kind: pq.read_table(os.path.join(out, kind)).num_rows
        for kind in ("nodes", "ways", "relations")
    }
    assert counts == {"nodes": 613, "ways": 29, "relations": 3}
    node_cols = pq.read_table(os.path.join(out, "nodes")).schema.names
    assert node_cols == ["id", "lat", "lon", "tags", "info", "blob_seq"]

    # resume is a no-op for the chunked union stage
    p2 = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert p2.returncode == 0, p2.stderr[-4000:]
    stats2 = json.loads([l for l in p2.stdout.splitlines() if l.startswith("{")][-1])
    assert stats2["processed"] == 0 and stats2["skipped"] == 3


@pytest.mark.slow
def test_spark_submit_corpus_pipeline(pyfiles_zip, tmp_path, osm_data):
    """End-to-end corpus pipeline via spark-submit: dedup -> quality gate ->
    left spatial enrich -> chunked resumable write, with output invariants."""
    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=200)
    pages = str(tmp_path / "pages.parquet")
    pq.write_table(G.make_pages(1500), pages)

    out, lin = str(tmp_path / "corpus"), str(tmp_path / "corpus_lineage")
    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.host=127.0.0.1",
        "--py-files", pyfiles_zip,
        os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
        "--pages", pages, "--pbf", pbf, "--out", out, "--lineage", lin,
        "--chunks", "3", "--min-quality", "0.2",
        "--near-dup-threshold", "0.85",  # exercises pairs -> CC -> survivor
        "--chunk-dedup-words", "8",      # exercises chunk-level boilerplate strip
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-4000:]
    stats = json.loads([l for l in p.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["processed"] == 3 and stats["rows"] > 0
    assert stats["near_dup_dropped"] >= 0  # stage ran (drop count corpus-dependent)
    assert stats["chunk_boiler_dropped"] >= 0  # chunk-clean stage ran

    import duckdb

    rows = duckdb.sql(
        f"select count(*) as n, count(distinct url) as u,"
        f" sum(case when len(polygon_ids) > 0 then 1 else 0 end) as enriched,"
        f" min(quality) as minq from read_parquet('{out}/chunk=*/*.parquet')"
    ).fetchone()
    n, u, enriched, minq = rows
    assert n == u  # dedup: urls unique in the output
    assert n <= 1500  # dedup + quality gate only ever drop rows
    assert enriched > 0  # some pages geocode inside fixture polygons
    assert minq >= 0.2  # the quality gate held

    # resume is a no-op
    p2 = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert p2.returncode == 0, p2.stderr[-4000:]
    stats2 = json.loads([l for l in p2.stdout.splitlines() if l.startswith("{")][-1])
    assert stats2["processed"] == 0 and stats2["skipped"] == 3


def test_spark_submit_export_job(pyfiles_zip, tmp_path, osm_data, spark):
    """decode → export → re-read closes the loop via spark-submit: PBF to
    parquet tables, tables back to a sharded PBF directory, shards re-ingested
    through the driver-built blob index at original counts."""
    from openstreetmapio_jl_spark.fixtures import generator as G
    from openstreetmapio_jl_spark.sources.pbf_source import read_pbf

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=100)
    tables, lin = str(tmp_path / "osm"), str(tmp_path / "osm_lineage")
    out = str(tmp_path / "export")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    common = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.host=127.0.0.1",
        "--py-files", pyfiles_zip,
    ]
    p = subprocess.run(
        common + [
            os.path.join(REPO, "jobs", "decode_job.py"),
            "--pbf", pbf, "--out", tables, "--lineage", lin, "--chunks", "2",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    p2 = subprocess.run(
        common + [
            os.path.join(REPO, "jobs", "export_job.py"),
            "--tables", tables, "--out", out, "--format", "pbf", "--shards", "2",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert p2.returncode == 0, p2.stderr[-4000:]
    stats = json.loads([l for l in p2.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["rows"] == 613 + 29 + 3

    shards = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".osm.pbf")
    )
    back = read_pbf(spark, shards)
    assert (back.nodes.count(), back.ways.count(), back.relations.count()) == (613, 29, 3)


def test_export_job_filter_error_handling(tmp_path, osm_data, spark, monkeypatch, capsys):
    """--filter skip semantics are NARROW: a predicate is skipped only for
    kinds genuinely lacking its columns; a predicate valid for no kind (typo'd
    column) aborts, and malformed SQL raises — neither silently exports the
    full unfiltered dataset (the round-3 ADVICE trap)."""
    import sys

    from openstreetmapio_jl_spark.fixtures import generator as G
    from openstreetmapio_jl_spark.sources.pbf_source import read_pbf
    from jobs import export_job

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=200)
    bundle = read_pbf(spark, pbf)
    tables = str(tmp_path / "tables")
    for kind, df in (
        ("nodes", bundle.nodes), ("ways", bundle.ways), ("relations", bundle.relations)
    ):
        df.write.parquet(os.path.join(tables, kind))
    monkeypatch.setattr(spark, "stop", lambda: None)  # keep the shared session

    def run(filt, out_name):
        monkeypatch.setattr(sys, "argv", [
            "export_job.py", "--tables", tables, "--out", str(tmp_path / out_name),
            "--format", "xml", "--shards", "1", "--filter", filt,
        ])
        export_job.main()

    # kind-specific column: applies to nodes, skipped (with a notice) for
    # ways/relations — the one legitimate skip case
    run("lat > 40.0", "lat_export")
    printed = capsys.readouterr().out
    assert "skipped for kinds lacking its columns: ways, relations" in printed
    stats = json.loads([l for l in printed.splitlines() if l.startswith("{")][-1])
    n_lat = bundle.nodes.filter("lat > 40.0").count()
    assert stats["rows"] == n_lat + 29 + 3

    # typo'd column name: unresolved for EVERY kind -> abort, no export
    with pytest.raises(SystemExit, match="typo"):
        run("tagz['amenity'] IS NOT NULL", "typo_export")

    # malformed SQL: ParseException propagates instead of being swallowed
    from pyspark.errors import ParseException

    with pytest.raises(ParseException):
        run("id IS NOTT NULL", "parse_export")


@pytest.mark.slow
def test_spark_submit_incremental_corpus_ingest_loop(pyfiles_zip, tmp_path, osm_data):
    """The continuous-ingest loop across real spark-submit invocations
    sharing ONE --out/--lineage (the advertised accumulation shape — chunk
    keys are batch-scoped, so batch 2 cannot collide with batch 1's lineage):
    run 1 builds the signature index from its survivors; run 2 dedups its
    batch INCREMENTALLY against that index (batch pages duplicating indexed
    corpus pages drop; batch-internal near-dups keep the canonical url) and
    extends the index; run 3 (identical re-invocation) is a lineage no-op and
    the batch-marker makes the index extension a certified skip."""
    import duckdb

    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=200)
    pages1 = str(tmp_path / "pages1.parquet")
    pq.write_table(G.make_pages(600), pages1)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    out, lin = str(tmp_path / "corpus"), str(tmp_path / "lin")

    def run(pages):
        cmd = [
            _spark_submit(),
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", pyfiles_zip,
            os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
            "--pages", pages, "--pbf", pbf, "--out", out, "--lineage", lin,
            "--chunks", "2", "--min-quality", "0.0",
            "--near-dup-threshold", "0.5",
            "--dedup-index", "ingest_idx",
        ]
        p = subprocess.run(
            cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
            timeout=600,
        )
        assert p.returncode == 0, p.stderr[-4000:]
        return json.loads([l for l in p.stdout.splitlines() if l.startswith("{")][-1])

    s1 = run(pages1)
    assert s1["index_mode"] == "built" and s1["rows"] > 0
    n_batch1 = s1["rows"]

    # batch 2: 3 pages duplicating indexed corpus texts (new urls), one
    # batch-internal near-dup pair, 3 genuinely fresh pages
    corpus_rows = duckdb.sql(
        f"select url, text from read_parquet('{out}/chunk=*/*.parquet')"
        f" order by url limit 3"
    ).fetchall()
    assert len(corpus_rows) == 3
    import datetime

    ts = datetime.datetime(2024, 5, 1)
    base = (
        "meridian harbor lantern velvet orchard thistle quarry ember sable "
        "juniper gossamer raven tundra mosaic zephyr cobalt prairie saffron "
        "citadel murmur paragon quill raster sonnet tempest umber vertex wisp"
    )
    rows2 = []
    for i, (_u, text) in enumerate(corpus_rows):
        rows2.append((f"https://z-dup-corpus-{i}", ts, b"", text, "en"))
    rows2.append(("https://z-pair-a", ts, b"", base, "en"))
    rows2.append(("https://z-pair-b", ts, b"", base + " trailing note", "en"))
    for i in range(3):
        rows2.append(
            (f"https://z-fresh-{i}", ts, b"",
             f"entirely fresh document number {i} " + " ".join(
                 f"w{i}{j}token" for j in range(25)
             ),
             "en")
        )
    pages2 = str(tmp_path / "pages2.parquet")
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows2],
                "warc_ts": pa.array([r[1] for r in rows2], pa.timestamp("us")),
                "html": [r[2] for r in rows2],
                "text": [r[3] for r in rows2],
                "lang": [r[4] for r in rows2],
            }
        ),
        pages2,
    )

    s2 = run(pages2)
    assert s2["index_mode"] == "extended"
    # 3 corpus dups + the pair's non-canonical member
    assert s2["near_dup_dropped"] == 4
    # batch-scoped chunk keys: batch 2 wrote its own chunks into the SHARED
    # out dir (batch 1's untouched), so the corpus accumulated
    assert s2["processed"] == 2 and s2["skipped"] == 0
    urls2 = {
        r[0]
        for r in duckdb.sql(
            f"select url from read_parquet('{out}/chunk=b{s2['batch_id']}_*/*.parquet')"
        ).fetchall()
    }
    assert urls2 == {
        "https://z-pair-a",
        "https://z-fresh-0", "https://z-fresh-1", "https://z-fresh-2",
    }
    total = duckdb.sql(
        f"select count(*) from read_parquet('{out}/chunk=*/*.parquet')"
    ).fetchone()[0]
    assert total == n_batch1 + 4  # accumulation: batch 1 + batch 2 survivors

    # identical re-invocation: lineage no-op; batch marker certifies the
    # index extension as a skip (exactly-once)
    s3 = run(pages2)
    assert s3["processed"] == 0 and s3["skipped"] == 2
    assert s3["index_mode"] == "skipped"


@pytest.mark.slow
def test_stream_prefilter_composes_with_batch_compactor(
    pyfiles_zip, tmp_path, osm_data, spark
):
    """Firehose→compactor composition (the advertised production shape): batch
    2 flows through the STREAMING prefilter (novel_pages_stream vs batch 1's
    persisted signature index, a real availableNow run) and its survivors
    through ``corpus_pipeline_job --dedup-index``; the final corpus url set
    equals a batch-only twin that ingested batch 2 directly. The fixture makes
    every prefilter drop a TRUE near-dup (byte-identical corpus texts): the
    prefilter is the recall-side candidate rule, so stream≡batch holds exactly
    when signature collisions are genuine duplicates — which the batch
    compactor would drop anyway — while the within-stream near-dup pair passes
    the prefilter untouched and is resolved by the compactor (the documented
    division of labor)."""
    import datetime

    import duckdb

    from openstreetmapio_jl_spark.fixtures import generator as G
    from openstreetmapio_jl_spark.streaming import pipelines as SP

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=200)
    pages1 = str(tmp_path / "pages1.parquet")
    pq.write_table(G.make_pages(400), pages1)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run(cwd, pages, out, lin):
        cmd = [
            _spark_submit(),
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", pyfiles_zip,
            os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
            "--pages", pages, "--pbf", pbf, "--out", out, "--lineage", lin,
            "--chunks", "2", "--min-quality", "0.0",
            "--near-dup-threshold", "0.5",
            "--dedup-index", "ingest_idx",
        ]
        p = subprocess.run(
            cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-4000:]
        return json.loads(
            [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        )

    # two independent worlds (own cwd => own Derby metastore + warehouse)
    sworld = tmp_path / "stream_world"
    bworld = tmp_path / "batch_world"
    for w in (sworld, bworld):
        w.mkdir()
    s_out, s_lin = str(sworld / "corpus"), str(sworld / "lin")
    b_out, b_lin = str(bworld / "corpus"), str(bworld / "lin")

    # batch 1 ingested identically in both worlds (index built from survivors)
    assert run(str(sworld), pages1, s_out, s_lin)["index_mode"] == "built"
    assert run(str(bworld), pages1, b_out, b_lin)["index_mode"] == "built"

    # batch 2: 3 byte-identical dups of indexed corpus pages (new urls), one
    # within-stream near-dup pair, 3 genuinely fresh pages
    corpus_rows = duckdb.sql(
        f"select url, text from read_parquet('{s_out}/chunk=*/*.parquet')"
        f" order by url limit 3"
    ).fetchall()
    assert len(corpus_rows) == 3
    ts = datetime.datetime(2024, 5, 1)
    base = (
        "meridian harbor lantern velvet orchard thistle quarry ember sable "
        "juniper gossamer raven tundra mosaic zephyr cobalt prairie saffron"
    )
    rows2 = [(f"https://z-dup-{i}", ts, b"", t, "en")
             for i, (_u, t) in enumerate(corpus_rows)]
    rows2.append(("https://z-pair-a", ts, b"", base, "en"))
    rows2.append(("https://z-pair-b", ts, b"", base + " trailing note", "en"))
    for i in range(3):
        rows2.append(
            (f"https://z-fresh-{i}", ts, b"",
             f"entirely fresh document number {i} " + " ".join(
                 f"w{i}{j}token" for j in range(25)),
             "en")
        )
    pages2 = str(tmp_path / "pages2_feed")
    spark.createDataFrame(
        rows2,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1).write.parquet(pages2)

    # STREAM path: availableNow prefilter against batch 1's persisted index
    # (the bucketed memberships table read straight from the job's warehouse)
    idx_m = spark.read.parquet(
        str(sworld / "spark-warehouse" / "ingest_idx_memberships")
    )
    novel = SP.novel_pages_stream(SP.read_pages_stream(spark, pages2), idx_m)
    SP.run_available_now(
        novel,
        query_name="compose_survivors",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt_compose"),
    )
    survivors = spark.table("compose_survivors")
    got_surv = {r.url for r in survivors.select("url").collect()}
    # the prefilter dropped exactly the vs-index dups; the within-stream pair
    # passed through for the compactor to resolve
    assert got_surv == {
        "https://z-pair-a", "https://z-pair-b",
        "https://z-fresh-0", "https://z-fresh-1", "https://z-fresh-2",
    }
    surv_path = str(tmp_path / "survivors.parquet")
    survivors.coalesce(1).write.parquet(surv_path)

    # compactor over the stream survivors vs batch-only twin over raw batch 2
    s2 = run(str(sworld), surv_path, s_out, s_lin)
    b2 = run(str(bworld), pages2, b_out, b_lin)
    assert s2["index_mode"] == b2["index_mode"] == "extended"

    def corpus_urls(out):
        return {
            r[0]
            for r in duckdb.sql(
                f"select url from read_parquet('{out}/chunk=*/*.parquet')"
            ).fetchall()
        }

    stream_corpus, batch_corpus = corpus_urls(s_out), corpus_urls(b_out)
    assert stream_corpus == batch_corpus
    # and the composed corpus holds batch1 + the pair's canonical + the fresh 3
    assert {"https://z-pair-a", "https://z-fresh-0", "https://z-fresh-1",
            "https://z-fresh-2"} <= stream_corpus
    assert "https://z-pair-b" not in stream_corpus
    assert not any(u.startswith("https://z-dup-") for u in stream_corpus)


def test_spark_submit_corpus_pipeline_rebalance(pyfiles_zip, tmp_path, osm_data):
    """--rebalance stage via spark-submit: the output language mix matches the
    target within floor rounding, selection is deterministic (two runs into
    different outputs produce the identical url set), and a targeted-but-
    absent language aborts instead of silently skewing the mix."""
    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=200)
    pages = str(tmp_path / "pages.parquet")
    pq.write_table(G.make_pages(1200), pages)

    def run(out, lin, spec):
        cmd = [
            _spark_submit(),
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", pyfiles_zip,
            os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
            "--pages", pages, "--pbf", pbf, "--out", out, "--lineage", lin,
            "--chunks", "2", "--min-quality", "0.0",
            "--rebalance", spec,
        ]
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        return subprocess.run(
            cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
            timeout=600,
        )

    p = run(str(tmp_path / "c1"), str(tmp_path / "l1"), "en:0.5,de:0.25,fr:0.25")
    assert p.returncode == 0, p.stderr[-4000:]

    import duckdb

    mix = dict(
        duckdb.sql(
            f"select lang, count(*) from read_parquet("
            f"'{tmp_path}/c1/chunk=*/*.parquet') group by 1"
        ).fetchall()
    )
    # untargeted language dropped entirely
    assert "es" not in mix
    total = sum(mix.values())
    # fixture mix is uniform 300/lang -> M = min(300/0.5, 300/0.25) = 600:
    # en keeps 300 (binding), de/fr keep 150 each
    assert mix == {"en": 300, "de": 150, "fr": 150}, mix
    assert total == 600

    # determinism: a second run into a fresh out dir selects the SAME urls
    p2 = run(str(tmp_path / "c2"), str(tmp_path / "l2"), "en:0.5,de:0.25,fr:0.25")
    assert p2.returncode == 0, p2.stderr[-4000:]
    u1 = {
        r[0]
        for r in duckdb.sql(
            f"select url from read_parquet('{tmp_path}/c1/chunk=*/*.parquet')"
        ).fetchall()
    }
    u2 = {
        r[0]
        for r in duckdb.sql(
            f"select url from read_parquet('{tmp_path}/c2/chunk=*/*.parquet')"
        ).fetchall()
    }
    assert u1 == u2 and len(u1) == 600

    # a targeted language with zero gated pages aborts loudly
    p3 = run(str(tmp_path / "c3"), str(tmp_path / "l3"), "en:0.5,ja:0.5")
    assert p3.returncode != 0
    assert "absent" in (p3.stderr + p3.stdout)


def test_spark_submit_corpus_pipeline_scrub_pii(pyfiles_zip, tmp_path, osm_data):
    """--scrub-pii via spark-submit: every email/phone planted in the input
    text is redacted in the written corpus; URLs and other columns ride
    through untouched."""
    import pyarrow as pa

    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=200)

    base = G.make_pages(300)
    texts = [
        t + (f" mail u{i}@example.org or +49-30-55{i:04d}-9 now" if i % 3 == 0 else "")
        for i, t in enumerate(base.column("text").to_pylist())
    ]
    tbl = base.set_column(
        base.schema.get_field_index("text"), "text", pa.array(texts, pa.string())
    )
    pages = str(tmp_path / "pages.parquet")
    pq.write_table(tbl, pages)

    out, lin = str(tmp_path / "scrubbed"), str(tmp_path / "scrub_lineage")
    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.host=127.0.0.1",
        "--py-files", pyfiles_zip,
        os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
        "--pages", pages, "--pbf", pbf, "--out", out, "--lineage", lin,
        "--chunks", "2", "--min-quality", "0.0", "--scrub-pii",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-4000:]

    import duckdb

    n_bad, n_redacted, n_rows = duckdb.sql(
        f"""select
          sum(case when regexp_matches(text, '@example') then 1 else 0 end),
          sum(case when contains(text, '<EMAIL>') then 1 else 0 end),
          count(*)
        from read_parquet('{out}/chunk=*/*.parquet')"""
    ).fetchone()
    assert n_bad == 0          # every planted email is gone
    assert n_redacted >= 90    # ~100 docs carried PII; redaction markers present
    assert n_rows == 300       # scrubbing drops no rows


def test_spark_submit_corpus_report(pyfiles_zip, tmp_path, osm_data):
    """corpus_report_job via spark-submit: one JSON report composing the
    HDR/HLL sketches and the Gi* hotspot ranking, with sane values on the
    deterministic fixture pages."""
    from openstreetmapio_jl_spark.fixtures import generator as G

    pages = str(tmp_path / "pages.parquet")
    pq.write_table(G.make_pages(1000), pages)
    out = str(tmp_path / "report.json")

    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.host=127.0.0.1",
        "--py-files", pyfiles_zip,
        os.path.join(REPO, "jobs", "corpus_report_job.py"),
        "--pages", pages, "--out", out,
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-4000:]

    rep = json.load(open(out))
    assert rep["n_rows"] == 1000 and rep["n_urls"] == 1000
    assert 0.0 <= rep["exact_dup_rate"] < 1.0
    assert set(rep["lang_mix"]) == {"en", "de", "fr", "es"}
    assert sum(rep["lang_mix"].values()) == 1000
    q = rep["chars_quantiles"]
    assert q["p50"] <= q["p90"] <= q["p99"]
    assert rep["est_distinct_words"] > 0
    assert 0 < rep["geocoded_rows"] <= 1000
    assert rep["geocoded_frac"] == rep["geocoded_rows"] / 1000
    assert len(rep["top_hot_tiles"]) >= 1
    zs = [t["gi_z"] for t in rep["top_hot_tiles"]]
    assert zs == sorted(zs, reverse=True)


def test_spark_submit_url_bloom_cross_batch_dedup(pyfiles_zip, tmp_path, osm_data):
    """--url-bloom across two spark-submit invocations: batch 2 shares 400 of
    its 600 urls with batch 1 — every shared url drops with certainty on
    load (bloom has no false negatives), (almost) all genuinely new urls
    survive, and a re-run of batch 2 is a lineage no-op whose idempotent
    OR-merge leaves the filter unchanged."""
    import duckdb

    from openstreetmapio_jl_spark.fixtures import generator as G

    meta, nodes, ways, rels = osm_data
    pbf = str(tmp_path / "f.pbf")
    G.write_fixture_pbf(pbf, meta, nodes, ways, rels, nodes_per_block=200)
    all600 = G.make_pages(600)
    pages1 = str(tmp_path / "pages1.parquet")
    pq.write_table(all600.slice(0, 400), pages1)
    pages2 = str(tmp_path / "pages2.parquet")
    pq.write_table(all600, pages2)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def run(pages, out, lin):
        cmd = [
            _spark_submit(),
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", pyfiles_zip,
            os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
            "--pages", pages, "--pbf", pbf, "--out", out, "--lineage", lin,
            "--chunks", "2", "--min-quality", "0.0",
            "--url-bloom", "t5ub",
        ]
        p = subprocess.run(
            cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
            timeout=600,
        )
        assert p.returncode == 0, p.stderr[-4000:]
        return json.loads(
            [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        )

    s1 = run(pages1, str(tmp_path / "c1"), str(tmp_path / "l1"))
    assert s1["rows"] == 400 and s1["url_bloom_words"] > 0

    s2 = run(pages2, str(tmp_path / "c2"), str(tmp_path / "l2"))
    urls1 = {
        r[0]
        for r in duckdb.sql(
            f"select url from read_parquet('{tmp_path}/c1/chunk=*/*.parquet')"
        ).fetchall()
    }
    urls2 = {
        r[0]
        for r in duckdb.sql(
            f"select url from read_parquet('{tmp_path}/c2/chunk=*/*.parquet')"
        ).fetchall()
    }
    assert len(urls1) == 400
    assert not (urls1 & urls2)          # certainty: no seen url re-enters
    assert len(urls2) >= 0.95 * 200     # bounded fp loss among the 200 new

    # idempotent re-run of batch 2: lineage no-op, filter word-count stable
    s3 = run(pages2, str(tmp_path / "c2"), str(tmp_path / "l2"))
    assert s3["processed"] == 0
    assert s3["url_bloom_words"] == s2["url_bloom_words"]
