"""Round-5 scale-shape pins: bounded candidate-id probe, O(batch) index-stats
maintenance (no corpus-signature rescan per extension), crash-idempotent stats
partitions, and the repo-wide no-`.rdd`-in-query-paths guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.operators import dedup


@pytest.fixture(scope="module")
def small_corpus(spark):
    """Corpus/batch with MANY cross near-dups so the candidate set is large
    relative to a tiny in_pushdown_limit."""
    import random

    random.seed(7)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

    def sentence(n=12):
        return " ".join(random.choice(words) + str(random.randint(0, 9)) for _ in range(n))

    corpus_rows, batch_rows = [], []
    nid = iter(range(10_000))
    for g in range(20):  # 20 near-dup groups spanning the split
        base = sentence()
        corpus_rows.append((next(nid), base + " old"))
        batch_rows.append((next(nid), base + " new"))
    for _ in range(30):
        corpus_rows.append((next(nid), sentence()))
    for _ in range(10):
        batch_rows.append((next(nid), sentence()))
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    dedup.build_dedup_index(spark, corpus, table_prefix="t5_idx", n_buckets=4)
    return corpus, batch


# ---------------------------------------------------------------------------
# bounded candidate-id probe (round-4 verdict item #1)
# ---------------------------------------------------------------------------

def test_candidate_probe_collect_is_bounded(spark, small_corpus, monkeypatch):
    """The IN-pushdown vs semi-join branch must be decided by a BOUNDED probe:
    with in_pushdown_limit=3 and far more candidates than 3, NO driver collect
    inside incremental_dedup_pairs may return more than limit+1 rows — the
    degenerate-batch scenario (candidates >> limit) must never materialize the
    full candidate-id set on the driver."""
    _corpus, batch = small_corpus
    # pyspark 4.x: pyspark.sql.DataFrame is the abstract facade; the session's
    # concrete frames are classic.dataframe.DataFrame — patch the real class
    from pyspark.sql.classic.dataframe import DataFrame

    sizes: list[int] = []
    orig_collect = DataFrame.collect

    def spy(self):
        rows = orig_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    out = dedup.incremental_dedup_pairs(
        spark, batch, table_prefix="t5_idx", threshold=0.5, in_pushdown_limit=3
    )
    monkeypatch.setattr(DataFrame, "collect", orig_collect)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert len(got) >= 10  # plenty of candidates existed
    assert sizes, "probe collect did not run"
    assert max(sizes) <= 4, f"unbounded driver collect: sizes={sizes}"


def test_semi_join_fallback_equals_in_pushdown(spark, small_corpus):
    """Both text-fetch branches (literal IN pushdown vs broadcast semi-join)
    must return identical pairs — the limit only changes the plan."""
    _corpus, batch = small_corpus
    a = dedup.incremental_dedup_pairs(
        spark, batch, table_prefix="t5_idx", threshold=0.5
    )
    b = dedup.incremental_dedup_pairs(
        spark, batch, table_prefix="t5_idx", threshold=0.5, in_pushdown_limit=0
    )
    ra = {(r.id_a, r.id_b, r.jaccard) for r in a.collect()}
    rb = {(r.id_a, r.id_b, r.jaccard) for r in b.collect()}
    assert ra == rb and len(ra) > 0


# ---------------------------------------------------------------------------
# O(batch) stats maintenance (round-4 verdict item #2 + ADVICE staging window)
# ---------------------------------------------------------------------------

def test_extension_never_reads_index_tables(spark, small_corpus, monkeypatch):
    """extend_dedup_index must be O(batch): the ONLY table it reads is the
    <prefix>_batches exactly-once marker — never the memberships, docs, or
    stats tables (a per-batch corpus-signature rescan was the round-4
    verdict's #2 scale finding)."""
    _corpus, batch = small_corpus
    reads: list[str] = []
    orig_table = SparkSession.table

    def spy(self, name):
        reads.append(name)
        return orig_table(self, name)

    monkeypatch.setattr(SparkSession, "table", spy)
    mode = dedup.extend_dedup_index(
        spark, batch, table_prefix="t5_idx", n_buckets=4, batch_key="t5-b1"
    )
    monkeypatch.setattr(SparkSession, "table", orig_table)
    assert mode == "extended"
    assert reads == ["t5_idx_batches"], f"extension read corpus tables: {reads}"


def test_crash_rerun_stats_partition_not_double_counted(spark, small_corpus):
    """A crash AFTER the stats insert but BEFORE the marker reruns the whole
    extension; the rerun's dynamic partition overwrite must REPLACE the
    batch's stats partition, so summed stats equal a ground-truth distinct
    recount of memberships (never 2x the batch)."""
    _corpus, batch = small_corpus
    dedup.build_dedup_index(
        spark, _corpus, table_prefix="t5_crash", n_buckets=4
    )
    # first (crashed) attempt: memberships + docs + stats written, NO marker
    m = dedup.minhash_band_memberships(batch)
    (
        m.write.mode("append").bucketBy(4, "band_sig").sortBy("band_sig")
        .format("parquet").saveAsTable("t5_crash_memberships")
    )
    (
        batch.select(F.col("doc_id").alias("id"), F.col("text"))
        .write.mode("append").bucketBy(4, "id").sortBy("id")
        .format("parquet").saveAsTable("t5_crash_docs")
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            m.groupBy("band_idx", "band_sig", "sub_sig")
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_key", F.lit("t5-crash-b1"))
            .write.mode("overwrite")
            .insertInto("t5_crash_bucket_stats")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    # rerun: full extension (appends dup membership/doc rows, re-inserts the
    # SAME stats partition, then commits the marker)
    assert dedup.extend_dedup_index(
        spark, batch, table_prefix="t5_crash", n_buckets=4,
        batch_key="t5-crash-b1",
    ) == "extended"
    summed = {
        (r.band_idx, r.band_sig, r.sub_sig): r.total
        for r in spark.table("t5_crash_bucket_stats")
        .groupBy("band_idx", "band_sig", "sub_sig")
        .agg(F.sum("cnt").alias("total"))
        .collect()
    }
    truth = {
        (r.band_idx, r.band_sig, r.sub_sig): r.cnt
        for r in spark.table("t5_crash_memberships")
        .distinct()  # ground truth collapses the crash-duplicate rows
        .groupBy("band_idx", "band_sig", "sub_sig")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert summed == truth


# ---------------------------------------------------------------------------
# streaming prefilter probe tables (round-4 verdict item #5)
# ---------------------------------------------------------------------------

def test_band_probe_table_path_equals_memberships_path(spark, small_corpus):
    """novel_pages_stream fed by the pre-materialized <prefix>_band_sigs table
    must keep exactly the pages the memberships-derived path keeps, and its
    static side must be a pure scan — NO Aggregate node per micro-batch (the
    memberships path recomputed a filter().distinct() every trigger)."""
    from openstreetmapio_jl_spark.streaming import pipelines as SP

    _corpus, batch = small_corpus
    SP.write_band_probe_table(spark, "t5_idx")
    probe = spark.table("t5_idx_band_sigs")
    # distinct-signature invariant vs the memberships table
    want_sigs = {
        (r.band_idx, r.band_sig)
        for r in spark.table("t5_idx_memberships")
        .select("band_idx", "band_sig").distinct().collect()
    }
    got_sigs = {(r.band_idx, r.band_sig) for r in probe.collect()}
    assert got_sigs == want_sigs

    pages = batch.select(
        F.concat(F.lit("u"), F.col("doc_id")).alias("url"), F.col("text")
    )
    # the builder is pure column ops + joins, so it runs on a batch frame too:
    # same code path the streaming plan uses, but with an inspectable plan
    via_probe = SP.novel_pages_stream(pages, probe_sigs=probe)
    via_members = SP.novel_pages_stream(
        pages, spark.table("t5_idx_memberships")
    )
    a = {r.url for r in via_probe.collect()}
    b = {r.url for r in via_members.collect()}
    assert a == b
    plan = via_probe._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, plan


def test_novel_pages_stream_requires_exactly_one_source(spark, small_corpus):
    from openstreetmapio_jl_spark.streaming import pipelines as SP

    _corpus, batch = small_corpus
    with pytest.raises(ValueError):
        SP.novel_pages_stream(batch)
    with pytest.raises(ValueError):
        SP.novel_pages_stream(
            batch,
            spark.table("t5_idx_memberships"),
            probe_sigs=spark.table("t5_idx_memberships"),
        )


def test_dedup_exact_within_stream(spark, tmp_path):
    """Watermark-bounded within-stream exact dedup: a burst of identical pages
    in one crawl window collapses to one survivor per normalized-text
    fingerprint in a REAL availableNow run; distinct pages all pass. Composes
    in front of the prefilter (the gap: none of the burst is in the index yet,
    so novel_pages_stream alone keeps them all)."""
    import datetime

    from openstreetmapio_jl_spark.streaming import pipelines as SP

    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def row(i, text, minutes):
        return (
            f"https://s{i}",
            t0 + datetime.timedelta(minutes=minutes),
            b"",
            text,
            "en",
        )

    rows = [
        row(0, "identical syndicated article body", 0),
        row(1, "identical   SYNDICATED article body", 1),  # same fingerprint
        row(2, "identical syndicated article body", 2),    # same fingerprint
        row(3, "a genuinely different page", 1),
        row(4, "another distinct page entirely", 3),
    ]
    feed = str(tmp_path / "burst_feed")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).coalesce(1).write.parquet(feed)

    stream = SP.read_pages_stream(spark, feed)
    deduped = SP.dedup_exact_within_stream(stream)
    SP.run_available_now(
        deduped,
        query_name="within_stream_dedup",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt_ws"),
    )
    got = [r.url for r in spark.table("within_stream_dedup").collect()]
    assert len(got) == 3
    assert sum(u in ("https://s0", "https://s1", "https://s2") for u in got) == 1
    assert "https://s3" in got and "https://s4" in got
    # batch-frame twin: same builder, same survivor count
    batch = spark.read.parquet(feed)
    assert SP.dedup_exact_within_stream(batch).count() == 3


# ---------------------------------------------------------------------------
# word_repetition_signals whitespace normalization (ADVICE r4)
# ---------------------------------------------------------------------------

def test_repetition_signals_whitespace_normalized(spark):
    """Consecutive/leading/trailing whitespace must not fabricate empty-string
    'words' or ' '-bigrams; empty and whitespace-only docs keep their row with
    n_words = 0 and NULL fractions."""
    from openstreetmapio_jl_spark.functions import text as textfn

    docs = spark.createDataFrame(
        [
            (1, "  foo   bar \t foo  "),   # messy: 3 words, bigram "foo bar"
            (2, "foo bar foo"),             # clean twin of 1
            (3, ""),                        # empty
            (4, "   \t "),                  # whitespace-only
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textfn.word_repetition_signals(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    messy, clean = rows[1], rows[2]
    assert messy.n_words == clean.n_words == 3
    assert messy.dup_word_frac == clean.dup_word_frac
    assert messy.top_bigram == clean.top_bigram
    assert messy.top_bigram_frac == clean.top_bigram_frac
    for d in (3, 4):
        assert rows[d].n_words == 0
        assert rows[d].dup_word_frac is None
        assert rows[d].top_bigram is None and rows[d].top_bigram_frac is None


# ---------------------------------------------------------------------------
# multi-mention geocode extraction (round-4 verdict item #6)
# ---------------------------------------------------------------------------

def test_extract_geocodes_multi_keeps_every_mention(spark):
    """A page citing several places yields one row per mention (order-free
    set equality); invalid coordinates are filtered per mention, not per
    page; pages with no mention drop; single-mention pages match
    extract_geocodes exactly."""
    from openstreetmapio_jl_spark.operators import geocode

    pages = spark.createDataFrame(
        [
            ("a", "visit geo:54.1000000,9.5000000 then geo:-33.8500000,151.2000000 ok"),
            ("b", "one place geo:10.5000000,20.2500000 only"),
            ("c", "bad geo:95.0000000,10.0000000 good geo:1.0000000,2.0000000"),
            ("d", "no mentions here"),
        ],
        "url string, text string",
    )
    got = {
        (r.url, r.lat, r.lon)
        for r in geocode.extract_geocodes_multi(pages).collect()
    }
    assert got == {
        ("a", 54.1, 9.5),
        ("a", -33.85, 151.2),
        ("b", 10.5, 20.25),
        ("c", 1.0, 2.0),  # the out-of-range first mention dropped alone
    }
    single = {
        (r.url, r.lat, r.lon)
        for r in geocode.extract_geocodes(pages).collect()
    }
    # first-mention semantics agree on single-mention pages
    assert ("b", 10.5, 20.25) in single


# ---------------------------------------------------------------------------
# repo-wide guard (round-4 verdict item #3)
# ---------------------------------------------------------------------------

def test_no_rdd_partition_probes_in_query_paths():
    """Grep pin: no `.rdd` on a potentially AQE-planned DataFrame anywhere in
    source — touching .rdd materializes AQE query stages (executes the
    upstream plan) just to read a partition count. The dangerous surface is
    the PySpark ``DataFrame.rdd`` PROPERTY (never parenthesized); the JVM
    ``LogicalRDD.rdd()`` accessor (always a parenthesized Py4J call, used by
    members.py's persist-handle identity and routing.py's
    _already_materialized) reads the plan node's existing RDD reference
    without planning anything, so parenthesized calls are exempt."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    offenders = []
    for py in (root / "openstreetmapio_jl_spark").rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.rdd\b(?!\()", code) and "._jdf" not in code:
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    for py in (root / "jobs").glob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.rdd\b(?!\()", code):
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


# ---------------------------------------------------------------------------
# crawl URL canonicalization (functions/text.canonicalize_url)
# ---------------------------------------------------------------------------


def test_canonicalize_url_collapses_surface_forms(spark):
    from openstreetmapio_jl_spark.functions import text as textfn

    same_page = [
        "https://example.org/A/B",
        "http://example.org/A/B",          # scheme unified
        "https://WWW.Example.ORG/A/B",     # host case + www
        "https://example.org:443/A/B",     # default port
        "https://example.org/A/B/",        # trailing slash
        "https://example.org//A///B",      # duplicate slashes
        "https://example.org/A/B#section", # fragment
        "https://example.org/A/B?utm_source=x&gclid=y",  # tracking-only query
    ]
    df = spark.createDataFrame([(u,) for u in same_page], "url string")
    got = {
        r.c
        for r in df.select(
            textfn.canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    assert got == {"example.org/A/B"}


def test_canonicalize_url_preserves_semantics(spark):
    from openstreetmapio_jl_spark.functions import text as textfn

    cases = [
        # path case is semantic (RFC 3986) — never folded
        ("https://example.org/CaseSensitive", "example.org/CaseSensitive"),
        # content params survive, sorted from either order
        ("https://example.org/p?b=2&a=1", "example.org/p?a=1&b=2"),
        ("https://example.org/p?a=1&b=2", "example.org/p?a=1&b=2"),
        # mixed tracking + content: only tracking stripped
        ("https://example.org/p?utm_medium=m&a=1", "example.org/p?a=1"),
        # bare host; host-only with root slash folds to the same
        ("https://example.org", "example.org"),
        ("https://example.org/", "example.org"),
        # non-default port is semantic
        ("https://example.org:8080/p", "example.org:8080/p"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    bad = df.select(
        "url", "want", textfn.canonicalize_url(F.col("url")).alias("got")
    ).filter(F.col("got") != F.col("want"))
    assert bad.count() == 0, bad.collect()


# ---------------------------------------------------------------------------
# CCNet-style chunk-level boilerplate dedup (operators/dedup.chunk_dedup)
# ---------------------------------------------------------------------------


def test_chunk_dedup_strips_shared_chunks_keeps_unique(spark):
    import hashlib

    boiler = "w1 w2 w3 w4"  # 4-word chunk shared by docs 1 and 2
    uniq1, uniq2 = "u1 u2 u3 u4", "v1 v2 v3 v4"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq1}"),
            (2, f"{boiler} {uniq2}"),
            (3, "solo a b c"),
            (4, "   "),  # whitespace-only: zero chunks, still one output row
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.chunk_dedup(docs, words_per_chunk=4).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # docs 1/2: boilerplate chunk removed, unique tail kept in order
    assert (out[1].n_chunks, out[1].n_boiler) == (2, 1)
    assert out[1].clean_hash == md5(uniq1)
    assert out[2].clean_hash == md5(uniq2)
    # doc 3: nothing shared, whole text survives (one ragged final chunk)
    assert (out[3].n_chunks, out[3].n_boiler) == (1, 0)
    assert out[3].clean_hash == md5("solo a b c")
    # doc 4: zero words → zero chunks → md5('')
    assert (out[4].n_chunks, out[4].n_boiler) == (0, 0)
    assert out[4].clean_hash == md5("")


def test_chunk_dedup_exact_duplicate_docs_fully_boilerplate(spark):
    import hashlib

    text = " ".join(f"t{i}" for i in range(16))  # two full 8-word chunks
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.chunk_dedup(docs).collect()}
    for d in (1, 2):
        assert (out[d].n_chunks, out[d].n_boiler) == (2, 2)
        assert out[d].clean_hash == hashlib.md5(b"").hexdigest()


def test_chunk_dedup_reassembly_preserves_chunk_order(spark):
    import hashlib

    # 3 chunks; the MIDDLE one is shared — survivors must rejoin as 1st+3rd
    a, shared, c = "a1 a2", "s1 s2", "c1 c2"
    docs = spark.createDataFrame(
        [(1, f"{a} {shared} {c}"), (2, f"{shared} x9")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.chunk_dedup(docs, words_per_chunk=2).collect()
    }
    assert out[1].clean_hash == hashlib.md5(f"{a} {c}".encode()).hexdigest()


def test_chunk_clean_rewrites_text_and_drops_pure_boilerplate(spark):
    shared = "s1 s2 s3 s4"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} keep1 keep2 keep3 keep4", "en"),
            (2, f"{shared} other1 other2 other3 other4", "de"),
            (3, shared, "fr"),  # pure boilerplate → dropped entirely
        ],
        "url long, text string, lang string",
    )
    out = dedup.chunk_clean(docs, words_per_chunk=4)
    assert out.columns == docs.columns  # schema and order pass through
    rows = {r.url: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].text == "keep1 keep2 keep3 keep4"
    assert rows[2].text == "other1 other2 other3 other4"
    assert (rows[1].lang, rows[2].lang) == ("en", "de")  # passthrough intact


def _py_canonicalize_url(u: str) -> str:
    """Pure-Python reference of functions/text.canonicalize_url's documented
    steps — an independent implementation (urllib-free, like the Column form)
    used only to differential-test the Spark and DuckDB versions."""
    import re as _re

    u = u.strip().split("#", 1)[0]
    rest = _re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*://", "", u)
    locpath, _, query = rest.partition("?")
    host, slash, path = locpath.partition("/")
    host = host.lower()
    host = _re.sub(r"^www\.", "", host)
    host = _re.sub(r":(80|443)$", "", host)
    path = (slash + path) if slash else ""
    path = _re.sub(r"/{2,}", "/", path)
    path = _re.sub(r"/+$", "", path)
    keep = [
        p
        for p in query.split("&")
        if p != ""
        and not _re.match(r"^(utm_.*|fbclid|gclid|msclkid|ref|ref_src)$", p.split("=", 1)[0])
    ]
    q = "&".join(sorted(keep))
    return host + path + (("?" + q) if q else "")


def _gen_urls(n: int, seed: int = 5) -> list:
    import random

    rng = random.Random(seed)
    schemes = ["http", "https", "HTTP", "HtTpS"]
    hosts = ["example.org", "Example.ORG", "www.example.org", "WWW.EXAMPLE.org",
             "sub.domain.example.org", "example.org:443", "example.org:80",
             "example.org:8080"]
    segs = ["a", "B", "Page-1", "x_y", "idx.html", "caf%C3%A9"]
    keys = ["a", "b", "q", "sort", "utm_source", "utm_campaign", "fbclid",
            "gclid", "ref", "refx", "xref", "msclkid"]
    out = []
    for _ in range(n):
        path = ""
        for _ in range(rng.randint(0, 4)):
            path += "/" * rng.randint(1, 3) + rng.choice(segs)
        if path and rng.random() < 0.4:
            path += "/" * rng.randint(1, 2)
        params = "&".join(
            f"{rng.choice(keys)}={rng.randint(0, 9)}" for _ in range(rng.randint(0, 4))
        )
        frag = "#frag" if rng.random() < 0.3 else ""
        out.append(
            f"{rng.choice(schemes)}://{rng.choice(hosts)}{path}"
            + (f"?{params}" if params else "")
            + frag
        )
    return out


def test_canonicalize_url_three_way_differential(spark):
    """Spark Column form == pure-Python reference == the DuckDB SQL mirror
    used by the doc_url_dedup oracle, over 400 generated URLs covering
    scheme/host-case/www/port/dup-slash/trailing-slash/param/fragment
    combinations — pins the canonicalizer far beyond the 6 fixture variants."""
    import duckdb

    from openstreetmapio_jl_spark.functions import text as textfn

    urls = _gen_urls(400)
    want_map = {u: _py_canonicalize_url(u) for u in urls}

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got_spark = dict(
        df.select("url", textfn.canonicalize_url(F.col("url")).alias("c")).collect()
    )
    assert got_spark == want_map

    con = duckdb.connect()
    con.execute("create table raw(url varchar)")
    con.executemany("insert into raw values (?)", [(u,) for u in urls])
    sql = r"""
with c as (
  select url, regexp_replace(split_part(trim(url), '#', 1),
              '^[A-Za-z][A-Za-z0-9+.\-]*://', '') as rest from raw),
p as (
  select url,
    regexp_replace(regexp_replace(lower(split_part(split_part(rest,'?',1),'/',1)),
                                  '^www\.', ''), ':(80|443)$', '') as host,
    regexp_replace(regexp_replace(regexp_extract(split_part(rest,'?',1),
                                                 '^[^/]*(/.*)?$', 1),
                                  '/{2,}', '/', 'g'), '/+$', '') as path,
    array_to_string(list_sort(list_filter(
      string_split(split_part(rest,'?',2), '&'),
      q -> q <> '' and not regexp_matches(split_part(q,'=',1),
             '^(utm_.*|fbclid|gclid|msclkid|ref|ref_src)$'))), '&') as q
  from c)
select url, host || path || case when q <> '' then '?' || q else '' end as c
from p
"""
    got_duck = dict(con.execute(sql).fetchall())
    assert got_duck == want_map


# ---------------------------------------------------------------------------
# train/test decontamination (operators/dedup.contamination_stats)
# ---------------------------------------------------------------------------


def test_contamination_stats_counts_benchmark_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "q1 q2 q3 q4 leak1 leak2 leak3 leak4")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark's full text → every 4-gram contaminated
            (1, "q1 q2 q3 q4 leak1 leak2 leak3 leak4"),
            # shares ONE aligned 4-gram window (leak1..leak4)
            (2, "x1 x2 x3 leak1 leak2 leak3 leak4 y1"),
            # no overlap
            (3, "a b c d e f g h"),
            # shorter than one gram → 0 grams, NULL fraction
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.contamination_stats(corpus, bench, ngram_words=4).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].n_grams, out[1].n_contaminated, out[1].contam_frac) == (5, 5, 1.0)
    assert (out[2].n_grams, out[2].n_contaminated) == (5, 1)
    assert abs(out[2].contam_frac - 0.2) < 1e-9
    assert (out[3].n_grams, out[3].n_contaminated, out[3].contam_frac) == (5, 0, 0.0)
    assert (out[4].n_grams, out[4].n_contaminated) == (0, 0)
    assert out[4].contam_frac is None


def test_contamination_probe_is_a_broadcast_semi_join(spark):
    """The benchmark side must BROADCAST (it is the small side by contract);
    a shuffled semi join here would re-shuffle the 100-TB corpus's exploded
    grams — the exact shape the operator exists to avoid."""
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"w{j}-"), F.col("id")) for j in range(10)]
        ).alias("text"),
    )
    df = dedup.contamination_stats(
        docs.filter(F.col("doc_id") >= 10), docs.filter(F.col("doc_id") < 10)
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


# ---------------------------------------------------------------------------
# entity resolution (operators/er.resolve_entities)
# ---------------------------------------------------------------------------


def test_resolve_entities_blocks_scores_and_purges(spark):
    from openstreetmapio_jl_spark.operators import er

    entities = spark.createDataFrame(
        [
            (1, "Acme Rocket Skates inc"),
            (2, "Acme Anvil Works inc"),
            (3, "Globex Portable Holes inc"),
        ],
        "entity_id long, entity_name string",
    )
    mentions = spark.createDataFrame(
        [
            (10, "ACME rocket-skates"),     # → entity 1
            (11, "acme anvil works!!"),     # → entity 2
            (12, "globex portable holes"),  # → entity 3, exact surviving set
            (13, "inc"),                    # stop token only → purged → no match
            (14, "weyland yutani"),         # no shared tokens → no match
        ],
        "mention_id long, mention_name string",
    )
    out = {
        r.mention_id: r
        for r in er.resolve_entities(
            mentions, entities, max_block_df=3, min_jaccard=0.3
        ).collect()
    }
    # 'inc' is held by 3 entities + 1 mention = 4 > max_block_df=3 → purged;
    # 'acme' df=4 → purged too, so matching rides the specific tokens
    assert set(out) == {10, 11, 12}
    assert (out[10].entity_id, out[11].entity_id, out[12].entity_id) == (1, 2, 3)
    # mention 12: tokens {globex, portable, holes} == entity 3's surviving set
    assert out[12].jaccard == 1.0
    # mention 10: {rocket, skates} vs entity 1 surviving {rocket, skates}
    # ('acme'/'inc' purged) → exact on survivors
    assert out[10].jaccard == 1.0


def test_resolve_entities_top1_deterministic_tie_break(spark):
    from openstreetmapio_jl_spark.operators import er

    entities = spark.createDataFrame(
        [(7, "alpha beta"), (5, "alpha gamma")],
        "entity_id long, entity_name string",
    )
    mentions = spark.createDataFrame(
        [(1, "alpha")], "mention_id long, mention_name string"
    )
    out = er.resolve_entities(
        mentions, entities, max_block_df=100, min_jaccard=0.1
    ).collect()
    # both entities score 1/2 — the tie must go to the SMALLER entity id
    assert len(out) == 1 and out[0].entity_id == 5 and out[0].jaccard == 0.5


# ---------------------------------------------------------------------------
# round-5 self-review regression pins (post-judge fixes)
# ---------------------------------------------------------------------------

def _load_job_module():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "jobs", "corpus_pipeline_job.py")
    spec = importlib.util.spec_from_file_location("corpus_pipeline_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_default_batch_id_fails_loud_on_remote_uri():
    """A remote --pages URI cannot be content-hashed driver-side: a silent
    path-only fallback would reproduce the exact silent-batch-loss mode the
    content hash exists to prevent, so it must refuse and demand --batch-id."""
    job = _load_job_module()
    with pytest.raises(SystemExit, match="remote URI"):
        job._default_batch_id("s3://staging/current")
    with pytest.raises(SystemExit, match="does not exist"):
        job._default_batch_id("/nonexistent/pages/dir")


def test_default_batch_id_tracks_local_content(tmp_path):
    d = tmp_path / "pages"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"v1")
    job = _load_job_module()
    a = job._default_batch_id(str(d))
    import os
    (d / "part-0.parquet").write_bytes(b"v2-longer")  # overwrite in place
    b = job._default_batch_id(str(d))
    assert a != b  # same path, new content => new batch id


def test_chunk_clean_keeps_empty_docs_drops_only_true_boilerplate(spark):
    """chunk_clean's drop rule is 'every chunk repeats corpus-wide' — a doc
    with NO chunks (empty/whitespace text) shares nothing and must survive
    (text rewritten to ''), reaching the same downstream quality gate it
    reaches with the stage disabled."""
    boiler = "shared legal boilerplate chunk of exactly eight words"
    docs = spark.createDataFrame(
        [
            ("u1", boiler + " plus unique tail content here for u1"),
            ("u2", boiler + " plus unique tail content here for u2"),
            ("u3", boiler),          # pure boilerplate -> dropped
            ("u4", ""),              # empty -> kept, text ''
            ("u5", "   "),           # whitespace-only -> kept, text ''
        ],
        "url string, text string",
    )
    out = {
        r.url: r.text
        for r in dedup.chunk_clean(docs, words_per_chunk=8).collect()
    }
    assert set(out) == {"u1", "u2", "u4", "u5"}
    assert out["u4"] == "" and out["u5"] == ""
    assert "unique tail" in out["u1"] and boiler.split()[0] not in out["u1"].split()[0]


def test_novel_pages_stream_exposes_persist_handles(spark):
    """The memberships fallback persists one frame per band; a long-lived
    ingest driver rebuilds the stream after every index extension, so the
    handles must be exposed for unpersist or every rebuild pins nbands more
    frames in executor cache."""
    from openstreetmapio_jl_spark.streaming import pipelines as SP

    pages = spark.createDataFrame(
        [("u1", "the quick brown fox jumps over the lazy dog")],
        "url string, text string",
    )
    idx_m = spark.createDataFrame(
        [(0, "00000000000000000000000000000000")], "band_idx int, band_sig string"
    )
    handles = []
    out = SP.novel_pages_stream(pages, idx_m, persist_handles=handles)
    assert len(handles) == 4  # N_BANDS
    out.count()
    for h in handles:
        assert h.storageLevel.useMemory  # actually persisted
        h.unpersist()
    assert not handles[0].storageLevel.useMemory


def test_minhash_rebalance_probe(spark, tmp_path):
    """A 1-file parquet input (fewer files than cores) still plans the id
    rebalance before shingling; an in-memory frame (no input files) does not.
    The rebalance is a pure plan transform: both give the same buckets."""
    rows = spark.createDataFrame(
        [(i, f"document number {i} with some repeated shingle text body") for i in range(50)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "docs")
    rows.coalesce(1).write.parquet(p)

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    from_file = dedup.minhash_lsh_buckets(spark.read.parquet(p))
    in_memory = dedup.minhash_lsh_buckets(rows)
    assert "RepartitionByExpression" in plan(from_file)
    assert "RepartitionByExpression" not in plan(in_memory)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(from_file) == key(in_memory)


def test_url_bloom_gate_null_and_duplicate_urls(spark):
    """corpus_pipeline_job's bloom gate probes DISTINCT urls, so a url on k
    pages comes back as k rows (not k²), and drops NULL urls by an explicit
    filter."""
    from openstreetmapio_jl_spark.operators.sketches import BLOOM_M_DEFAULT, bloom_build

    job = _load_job_module()
    pages = spark.createDataFrame(
        [("seen", "a"), ("new", "b"), ("new", "c"), (None, "d")],
        "url string, text string",
    )
    bloom = bloom_build(spark.createDataFrame([("seen",)], "url string"), "url")
    kept = job._url_bloom_gate(pages, bloom, m=BLOOM_M_DEFAULT)
    assert sorted((r.url, r.text) for r in kept.collect()) == [("new", "b"), ("new", "c")]


def test_multi_mention_oracle_immune_to_duplicate_identical_mentions(spark, tmp_path):
    """Engine-vs-oracle parity pin for the case the sf fixtures never hit: a
    page carrying the SAME geo mention an EVEN number of times. The Spark side
    ray-casts each mention row independently and collapses with countDistinct;
    the DuckDB oracle groups by (url, lat, lon, polygon) BEFORE the parity test
    — without `select distinct` in its mention CTE, 2k crossings sum to even
    and a true hit silently vanishes from the oracle only."""
    import duckdb
    import pandas as pd

    from openstreetmapio_jl_spark.operators import geocode, spatial_join as SJ
    from openstreetmapio_jl_spark.plans import entry_queries as EQ

    # --- shared micro fixture: one unit-square polygon, two pages ----------
    # page 1 mentions A twice (the even-duplicate trap, doubled again by the
    # successor-join augmentation pulling in page 2's text), page 2 mentions B
    # once; both points are inside the square.
    square_edges = [
        {"y1": 0.0, "x1": 0.0, "y2": 0.0, "x2": 1.0},
        {"y1": 0.0, "x1": 1.0, "y2": 1.0, "x2": 1.0},
        {"y1": 1.0, "x1": 1.0, "y2": 1.0, "x2": 0.0},
        {"y1": 1.0, "x1": 0.0, "y2": 0.0, "x2": 0.0},
    ]
    pages_pdf = pd.DataFrame(
        {
            "url": ["https://x.test/page-00000001", "https://x.test/page-00000002"],
            "text": [
                "twice geo:0.5200000,0.4800000 and again geo:0.5200000,0.4800000",
                "once geo:0.3000000,0.7000000 here",
            ],
        }
    )
    polys_pdf = pd.DataFrame(
        {
            "id": [42],
            "edges": [square_edges],
            "min_lat": [0.0],
            "max_lat": [1.0],
            "min_lon": [0.0],
            "max_lon": [1.0],
        }
    )
    (tmp_path / "truth").mkdir()
    pages_pdf.to_parquet(tmp_path / "pages.parquet")
    polys_pdf.to_parquet(tmp_path / "truth" / "polygons.parquet")

    # --- oracle: the REAL registry SQL, fixture root swapped ---------------
    sql = EQ._sql_pip_multi_mention().replace(
        f"{EQ.FIXTURE_ROOT}/{EQ.ORACLE_SF_NAME}", str(tmp_path)
    )
    oracle = duckdb.connect().execute(sql).fetchall()

    # --- Spark: the query's own pipeline on the same frames ----------------
    pages = spark.createDataFrame(pages_pdf)
    polys = spark.createDataFrame(
        polys_pdf,
        "id long, edges array<struct<y1:double,x1:double,y2:double,x2:double>>, "
        "min_lat double, max_lat double, min_lon double, max_lon double",
    )
    pg = pages.withColumn(
        "i", F.regexp_extract("url", r"page-(\d{8})", 1).cast("int")
    )
    nxt = pg.select((F.col("i") - 1).alias("i"), F.col("text").alias("next_text"))
    aug = pg.join(nxt, "i", "left").select(
        "url",
        F.when(F.col("next_text").isNull(), F.col("text"))
        .otherwise(F.concat_ws(" ", "text", "next_text"))
        .alias("text"),
    )
    pts = geocode.extract_geocodes_multi(aug).select("url", "lat", "lon")
    hits = SJ.point_in_polygon_join(pts, polys, zoom=13, nsalt=16, salt_id_col="url")
    got = (
        hits.groupBy("polygon_id")
        .agg(F.countDistinct("url", "lat", "lon").alias("n_hits"))
        .collect()
    )
    # distinct mentions inside: (p1, A), (p1, B via successor-join), (p2, B)
    assert [(r.polygon_id, r.n_hits) for r in got] == [(42, 3)]
    assert sorted(oracle) == [(42, 3)]


def test_resolve_entities_materialized_blocks_equal_and_fewer_scans(spark, tmp_path):
    """The purged-token block index is computed once, not once per consumer:
    the rows are the expected links, and the executed plan scans the two
    inputs 4 times in total (a plan that rebuilds the index for each
    consumer scans them 8 times on this input)."""
    from openstreetmapio_jl_spark.operators import er

    mp, ep = str(tmp_path / "m"), str(tmp_path / "e")
    spark.createDataFrame(
        [(i, f"acme widget {i}") for i in range(40)],
        "mention_id long, mention_name string",
    ).write.parquet(mp)
    spark.createDataFrame(
        [(i, f"acme widget {i}") for i in range(40)],
        "entity_id long, entity_name string",
    ).write.parquet(ep)
    m, e = spark.read.parquet(mp), spark.read.parquet(ep)

    got = er.resolve_entities(m, e, max_block_df=100, min_jaccard=0.3)
    rows = sorted((r.mention_id, r.entity_id, r.jaccard) for r in got.collect())
    assert rows == [(i, i, 1.0) for i in range(40)]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 4


def test_way_lengths_m_join_path_skip_missing_and_single_vertex(spark):
    """refs→nodes resolution: missing refs are skipped and the surviving
    vertices connect in ref order; <2 resolved vertices → length 0.0."""
    import numpy as np

    from openstreetmapio_jl_spark.functions.geo import haversine_m
    from openstreetmapio_jl_spark.operators import spatial_join as SJ

    nodes = spark.createDataFrame(
        [(1, 50.0, 8.0), (2, 50.001, 8.0), (3, 50.001, 8.002)],
        "id long, lat double, lon double",
    )
    ways = spark.createDataFrame(
        [
            (10, "a", [1, 2, 3]),        # full chain: d(1,2) + d(2,3)
            (11, "b", [1, 999, 3]),      # 999 missing → d(1,3) directly
            (12, "c", [2]),              # single vertex → 0.0
            (13, "d", [999, 998]),       # nothing resolves → dropped
        ],
        "id long, cls string, refs array<long>",
    )
    got = {
        r.id: (r.cls, r.n_pts, r.length_m)
        for r in SJ.way_lengths_m(ways, nodes).collect()
    }
    d12 = float(haversine_m(50.0, 8.0, 50.001, 8.0))
    d23 = float(haversine_m(50.001, 8.0, 50.001, 8.002))
    d13 = float(haversine_m(50.0, 8.0, 50.001, 8.002))
    assert set(got) == {10, 11, 12}
    assert got[10][0] == "a" and got[10][1] == 3
    assert np.isclose(got[10][2], d12 + d23, rtol=1e-9)
    assert got[11][1] == 2 and np.isclose(got[11][2], d13, rtol=1e-9)
    assert got[12] == ("c", 1, 0.0)


def test_way_lengths_m_embedded_positions_matches_join_path(spark):
    """Ways carrying LocationsOnWays positions compute their length from the
    embedded arrays (no refs→nodes resolution) — same value as the join
    path."""
    import numpy as np

    from openstreetmapio_jl_spark.operators import spatial_join as SJ

    nodes = spark.createDataFrame(
        [(1, 50.0, 8.0), (2, 50.001, 8.0), (3, 50.001, 8.002)],
        "id long, lat double, lon double",
    )
    base = spark.createDataFrame(
        [(10, [1, 2, 3], [(50.0, 8.0), (50.001, 8.0), (50.001, 8.002)])],
        "id long, refs array<long>, "
        "positions array<struct<lat: double, lon: double>>",
    )
    via_pos = SJ.way_lengths_m(base, nodes)
    via_join = SJ.way_lengths_m(base.drop("positions"), nodes)
    lp = via_pos.filter("id = 10").collect()[0]
    lj = via_join.filter("id = 10").collect()[0]
    assert lp.n_pts == lj.n_pts == 3
    assert np.isclose(lp.length_m, lj.length_m, rtol=1e-12)


def test_polygon_area_m2_known_square(spark):
    """~111.19 m × ~65.3 m square at 54°N: area must match the product of the
    haversine side lengths within the small-polygon approximation (<0.1%),
    regardless of ring winding direction."""
    import numpy as np

    from openstreetmapio_jl_spark.functions import geo

    lat0, lon0, d = 54.0, 9.0, 0.001  # 0.001° ≈ 111.19 m N-S, ≈ 65.36 m E-W
    ccw = [(lat0, lon0), (lat0, lon0 + d), (lat0 + d, lon0 + d), (lat0 + d, lon0), (lat0, lon0)]

    def edges(ring):
        return [
            {"y1": a[0], "x1": a[1], "y2": b[0], "x2": b[1]}
            for a, b in zip(ring, ring[1:])
        ]

    df = spark.createDataFrame(
        [(1, edges(ccw)), (2, edges(ccw[::-1]))],
        "id long, edges array<struct<y1: double, x1: double, y2: double, x2: double>>",
    ).select(
        "id",
        geo.polygon_area_m2_col(
            F.col("edges"),
            F.lit(lat0),
            F.lit(lat0 + d),
            F.lit(lon0),
        ).alias("area_m2"),
    )
    got = {r.id: r.area_m2 for r in df.collect()}
    ns = float(geo.haversine_m(lat0, lon0, lat0 + d, lon0))
    ew = float(geo.haversine_m(lat0 + d / 2, lon0, lat0 + d / 2, lon0 + d))
    expected = ns * ew
    assert np.isclose(got[1], expected, rtol=1e-3)
    assert got[1] == got[2]  # winding-independent


# ---------------------------------------------------------------------------
# road-graph contraction + bounded-round SSSP (round-5 routing surface)
# ---------------------------------------------------------------------------

def _road_fixture(spark):
    """Two ways crossing at ref 3: way 10 = 1-2-3-4 (a degree-2 chain through
    ref 2), way 20 = 5-3-6. Grid coordinates so haversine lengths are known."""
    from openstreetmapio_jl_spark.functions import geo

    lat0, lon0, d = 54.0, 9.0, 0.001
    nodes = spark.createDataFrame(
        [
            (1, lat0, lon0),
            (2, lat0, lon0 + d),
            (3, lat0, lon0 + 2 * d),
            (4, lat0, lon0 + 3 * d),
            (5, lat0 + d, lon0 + 2 * d),
            (6, lat0 - d, lon0 + 2 * d),
        ],
        "id long, lat double, lon double",
    )
    ways = spark.createDataFrame(
        [(10, [1, 2, 3, 4]), (20, [5, 3, 6])], "id long, refs array<long>"
    )
    step_ew = float(geo.haversine_m(lat0, lon0, lat0, lon0 + d))
    step_ns = float(geo.haversine_m(lat0, lon0 + 2 * d, lat0 + d, lon0 + 2 * d))
    return nodes, ways, step_ew, step_ns


def test_contract_road_graph_collapses_degree2_chains(spark):
    """Ref 2 (degree-2 interior) vanishes; the 1-2-3 chain becomes one edge of
    summed length; endpoints and the shared intersection survive as vertices."""
    import numpy as np

    from openstreetmapio_jl_spark.operators import routing

    nodes, ways, step_ew, step_ns = _road_fixture(spark)
    edges = {
        (r.src, r.dst): r.w_m
        for r in routing.contract_road_graph(ways, nodes).collect()
    }
    assert set(edges) == {(1, 3), (3, 4), (3, 5), (3, 6)}
    assert np.isclose(edges[(1, 3)], 2 * step_ew, rtol=1e-9)
    assert np.isclose(edges[(3, 4)], step_ew, rtol=1e-9)
    assert np.isclose(edges[(3, 5)], step_ns, rtol=1e-9)
    assert np.isclose(edges[(3, 6)], step_ns, rtol=1e-9)


def test_contract_road_graph_parallel_min_selfloop_missing_refs(spark):
    """Parallel edges keep the min weight; a closed ring with no internal
    intersection drops (self-loop); refs absent from nodes are skipped and the
    survivors connect in sequence order."""
    import numpy as np

    from openstreetmapio_jl_spark.functions import geo
    from openstreetmapio_jl_spark.operators import routing

    lat0, lon0, d = 54.0, 9.0, 0.001
    nodes = spark.createDataFrame(
        [
            (1, lat0, lon0),
            (2, lat0, lon0 + d),
            (3, lat0 + d, lon0),
        ],
        "id long, lat double, lon double",
    )
    ways = spark.createDataFrame(
        [
            (10, [1, 2]),            # direct edge 1-2: one step
            (11, [1, 3, 2]),         # detour via 3 — 3 is degree-2 interior, so
            #                          the whole way contracts to a HEAVIER
            #                          parallel 1-2 edge that loses the min
            (12, [1, 2, 1]),         # closed ring -> both arcs are 1-2/2-1 edges
            (13, [1, 99, 2]),        # 99 missing -> contracts to 1-2 direct
        ],
        "id long, refs array<long>",
    )
    edges = {
        (r.src, r.dst): r.w_m
        for r in routing.contract_road_graph(ways, nodes).collect()
    }
    step = float(geo.haversine_m(lat0, lon0, lat0, lon0 + d))
    # 1-2 candidates: way10 (1 step), way11 (2 diagonal steps via contracted 3),
    # way12's two arcs (1 step each), way13 (1 step after skipping 99) -> min
    assert set(edges) == {(1, 2)}
    assert np.isclose(edges[(1, 2)], step, rtol=1e-9)
    assert all(s < t for s, t in edges)  # src<dst normalization, no self-loops


def test_sssp_distances_known_graph_and_contraction_invariance(spark):
    """Distances on the crossing fixture from the min vertex (1): through the
    contracted graph AND through the raw uncontracted segment graph — shortest
    paths are invariant under degree-2 contraction."""
    import numpy as np

    from openstreetmapio_jl_spark.operators import routing

    nodes, ways, step_ew, step_ns = _road_fixture(spark)
    contracted = routing.contract_road_graph(ways, nodes)
    handles: list = []
    got = {
        r.node: r.dist_m
        for r in routing.sssp_distances(contracted, max_rounds=8, handles=handles).collect()
    }
    expected = {
        1: 0.0,
        3: 2 * step_ew,
        4: 3 * step_ew,
        5: 2 * step_ew + step_ns,
        6: 2 * step_ew + step_ns,
    }
    assert set(got) == set(expected)  # ref 2 contracted away; all reachable
    for k, v in expected.items():
        assert np.isclose(got[k], v, rtol=1e-9), k
    for h in handles:
        h.unpersist()

    # raw segment graph: every consecutive ref pair is an edge
    from openstreetmapio_jl_spark.functions import geo

    raw = (
        ways.select(F.posexplode("refs").alias("pos", "ref"), F.col("id").alias("way_id"))
        .join(nodes.select(F.col("id").alias("ref"), "lat", "lon"), "ref")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("way_id").orderBy("pos")
    raw_edges = (
        raw.select(
            F.col("ref").alias("src"),
            F.lead("ref").over(w).alias("dst"),
            geo.haversine_m_col(
                F.col("lat"), F.col("lon"), F.lead("lat").over(w), F.lead("lon").over(w)
            ).alias("w_m"),
        )
        .filter(F.col("dst").isNotNull())
    )
    got_raw = {r.node: r.dist_m for r in routing.sssp_distances(raw_edges, max_rounds=16).collect()}
    for k, v in expected.items():
        assert np.isclose(got_raw[k], v, rtol=1e-9), k
    assert np.isclose(got_raw[2], step_ew, rtol=1e-9)  # interior ref present raw


def test_sssp_distances_explicit_source_unreachable_and_cap(spark):
    from openstreetmapio_jl_spark.operators import routing

    edges = spark.createDataFrame(
        [(1, 2, 5.0), (2, 3, 7.0), (10, 11, 1.0)], "src long, dst long, w_m double"
    )
    got = {r.node: r.dist_m for r in routing.sssp_distances(edges, source=10).collect()}
    assert got == {10: 0.0, 11: 1.0}  # component of 1-2-3 unreachable, absent
    # absent source -> empty result, not a wrong zero
    assert routing.sssp_distances(edges, source=999).count() == 0
    # fail-loud cap: a 3-hop chain cannot converge in 1 round
    with pytest.raises(ValueError, match="max_rounds"):
        routing.sssp_distances(edges, source=1, max_rounds=1).collect()


def test_contract_road_graph_plan_is_jvm_only(spark):
    """The contraction pipeline is pure builtin column math — no
    row-at-a-time Python anywhere in its plan (the SSSP rounds atop it are
    localCheckpoint-pinned RDD scans, so the contraction plan IS the
    codegen surface of the routing stack)."""
    from openstreetmapio_jl_spark.operators import routing

    nodes, ways, _, _ = _road_fixture(spark)
    plan = routing.contract_road_graph(ways, nodes)._jdf.queryExecution().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_network_distances_nearest_seed_and_start_costs(spark):
    """Multi-source: every vertex gets the distance to its NEAREST seed;
    duplicate seeds keep the min starting cost; a seed absent from the graph
    keeps its row but relaxes nothing."""
    import numpy as np

    from openstreetmapio_jl_spark.operators import routing

    # path graph 1-2-3-4-5, unit weights
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, 5)], "src long, dst long, w_m double"
    )
    seeds = spark.createDataFrame(
        [(1, 0.0), (5, 0.0), (5, 7.0), (99, 2.5)], "node long, dist_m double"
    )
    got = {r.node: r.dist_m for r in routing.network_distances(edges, seeds).collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 2.0, 4: 1.0, 5: 0.0, 99: 2.5}

    # default zero start cost when seeds carry no dist_m column
    seeds0 = spark.createDataFrame([(3,)], "node long")
    got0 = {r.node: r.dist_m for r in routing.network_distances(edges, seeds0).collect()}
    assert got0 == {1: 2.0, 2: 1.0, 3: 0.0, 4: 1.0, 5: 2.0}
    assert all(np.isfinite(v) for v in got0.values())


def test_network_distances_single_seed_equals_sssp(spark):
    """Seeding from exactly {min vertex} reproduces sssp_distances — the
    multi-source wrapper is a strict generalization."""
    from openstreetmapio_jl_spark.operators import routing

    nodes, ways, _, _ = _road_fixture(spark)
    edges = routing.contract_road_graph(ways, nodes)
    a = {r.node: r.dist_m for r in routing.sssp_distances(edges).collect()}
    seeds = spark.createDataFrame([(min(a),)], "node long")
    b = {r.node: r.dist_m for r in routing.network_distances(edges, seeds).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# backward as-of join (round-5 temporal surface)
# ---------------------------------------------------------------------------

def test_asof_join_backward_inclusive_tolerance_and_nomatch(spark):
    """Latest right row at-or-before each left row per key: equal timestamps
    match (inclusive), the newest of several qualifying rows wins, matches
    older than the tolerance null out, and keys with no prior right row stay
    NULL (left-outer)."""
    from openstreetmapio_jl_spark.operators import temporal

    left = spark.createDataFrame(
        [
            (1, "a", 100.0),   # right at 100 exists -> inclusive tie match
            (2, "a", 150.0),   # latest right <= 150 is 120
            (3, "a", 5000.0),  # latest right is 120, but 4880s > tol -> NULL
            (4, "b", 50.0),    # no right row for b at all -> NULL
            (5, "a", 10.0),    # before every right row -> NULL
        ],
        "id long, k string, ts double",
    )
    right = spark.createDataFrame(
        [("a", 20.0, 1.5), ("a", 100.0, 2.5), ("a", 120.0, 3.5)],
        "k string, rts double, val double",
    )
    out = {
        r.id: r.val
        for r in temporal.asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts",
            value_cols=["val"], tolerance_s=1000,
        ).collect()
    }
    assert out == {1: 2.5, 2: 3.5, 3: None, 4: None, 5: None}


def test_asof_join_matched_row_is_atomic_across_value_cols(spark):
    """A legitimately-NULL value in the MATCHED right row must stay NULL —
    per-column last(ignorenulls) would splice in the older row's value."""
    from openstreetmapio_jl_spark.operators import temporal

    left = spark.createDataFrame([(1, "a", 200.0)], "id long, k string, ts double")
    right = spark.createDataFrame(
        [("a", 10.0, 7.0, "old"), ("a", 100.0, None, "new")],
        "k string, rts double, val double, tag string",
    )
    row = temporal.asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="rts",
        value_cols=["val", "tag"],
    ).collect()[0]
    assert row.tag == "new" and row.val is None  # NOT 7.0 from the older row


def test_asof_join_timestamp_columns_and_collision_guard(spark):
    """Timestamp-typed ts columns ride the interval tolerance branch (Spark 4
    forbids timestamp->double casts); a value column colliding with a left
    column fails loud."""
    import datetime as dt

    from openstreetmapio_jl_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(1, "a", at(100)), (2, "a", at(5000))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("a", at(90), 9.0)], "k string, rts timestamp, val double"
    )
    out = {
        r.id: r.val
        for r in temporal.asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts",
            value_cols=["val"], tolerance_s=1800,
        ).collect()
    }
    assert out == {1: 9.0, 2: None}  # 4910s > 1800s tolerance
    with pytest.raises(ValueError, match="collides"):
        temporal.asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts",
            value_cols=["k"],
        )


def test_contract_road_graph_self_intersecting_way_junction(spark):
    """A ref repeated WITHIN one way (lollipop: a-x-b-c-d-b) is a junction:
    the stick contracts to a-b with the stick length only (never inflated by
    the loop), and the loop's arc survives as a distinct b-edge set."""
    import numpy as np

    from openstreetmapio_jl_spark.functions import geo
    from openstreetmapio_jl_spark.operators import routing

    lat0, lon0, d = 54.0, 9.0, 0.001
    # a(1) - x(2) - b(3) stick, then loop b(3) - c(4) - d(5) - b(3)
    nodes = spark.createDataFrame(
        [
            (1, lat0, lon0),
            (2, lat0, lon0 + d),
            (3, lat0, lon0 + 2 * d),
            (4, lat0 + d, lon0 + 2 * d),
            (5, lat0 + d, lon0 + 3 * d),
        ],
        "id long, lat double, lon double",
    )
    ways = spark.createDataFrame(
        [(10, [1, 2, 3, 4, 5, 3])], "id long, refs array<long>"
    )
    edges = {
        (r.src, r.dst): r.w_m
        for r in routing.contract_road_graph(ways, nodes).collect()
    }
    step = float(geo.haversine_m(lat0, lon0, lat0, lon0 + d))
    # stick a-b: exactly two E-W steps — NOT stick + loop (the pre-fix
    # count_distinct(way_id) degree contracted straight through b and
    # emitted one a-b edge carrying the loop length too)
    assert np.isclose(edges[(1, 3)], 2 * step, rtol=1e-6)
    # the loop 3-4-5-3 (c, d interior) contracts to a self-loop at b and
    # is dropped; only the stick edge remains
    assert set(edges) == {(1, 3)}
    # distances: b reachable at stick length, loop interior contracted away
    got = {r.node: r.dist_m for r in routing.sssp_distances(
        routing.contract_road_graph(ways, nodes)).collect()}
    assert np.isclose(got[3], 2 * step, rtol=1e-6)


def test_asof_join_null_right_ts_never_matches_and_missing_key_raises(spark):
    """NULL right timestamps sort first ascending and would 'match' every
    left row with no real prior row — they must be dropped; a key column
    absent from either side must fail loud instead of NULL-filling."""
    from openstreetmapio_jl_spark.operators import temporal

    left = spark.createDataFrame([(1, "a", 50.0)], "id long, k string, ts double")
    right = spark.createDataFrame(
        [("a", None, 9.0), ("a", 100.0, 2.0)],
        "k string, rts double, val double",
    )
    row = temporal.asof_join(
        left, right, keys=["k"], left_ts="ts", right_ts="rts", value_cols=["val"]
    ).collect()[0]
    assert row.val is None  # no right row at-or-before 50; NULL rts ignored
    with pytest.raises(ValueError, match="not a column of left"):
        temporal.asof_join(
            left.drop("k"), right, keys=["k"], left_ts="ts", right_ts="rts",
            value_cols=["val"],
        )
    with pytest.raises(ValueError, match="not a column of right"):
        temporal.asof_join(
            left, right.drop("k"), keys=["k"], left_ts="ts", right_ts="rts",
            value_cols=["val"],
        )


def test_bidirectional_skips_recheckpointing_materialized_edges(spark):
    """A caller-side localCheckpoint (q_osm_network_dist shares the
    materialized edges with its seed build) must not be copied a second time
    by the relaxation wrappers."""
    from openstreetmapio_jl_spark.operators import routing

    base = spark.createDataFrame([(1, 2, 5.0)], "src long, dst long, w_m double")
    # a createDataFrame frame roots at LogicalRDD but its RDD is neither
    # checkpointed nor persisted — a bare LogicalRDD root must NOT count
    # (frames over arbitrary un-cached RDD lineage root there too, and
    # skipping their checkpoint would recompute that lineage every round)
    assert not routing._already_materialized(base)
    derived = base.filter(F.col("w_m") > 0)
    assert not routing._already_materialized(derived)
    ck = derived.localCheckpoint(eager=True)
    assert routing._already_materialized(ck)
    handles: list = []
    routing._bidirectional(ck, handles)
    assert handles == []  # no second copy pinned
    handles2: list = []
    routing._bidirectional(derived, handles2)
    assert len(handles2) == 1  # unmaterialized input still gets pinned once


def test_asof_join_null_keys_never_match(spark):
    """NULL = NULL is never true in a join: a NULL-keyed right row must not
    enrich a NULL-keyed left row through the shared NULL window partition
    (merge_asof raises on NULL keys; DuckDB ASOF returns no match — the
    differential oracle demands the DuckDB behavior)."""
    from openstreetmapio_jl_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, None, 100.0), (2, "a", 100.0)], "id long, k string, ts double"
    )
    right = spark.createDataFrame(
        [(None, 50.0, 9.0), ("a", 50.0, 2.0)], "k string, rts double, val double"
    )
    out = {
        r.id: r.val
        for r in temporal.asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts", value_cols=["val"]
        ).collect()
    }
    assert out == {1: None, 2: 2.0}  # NULL-keyed left row kept, unmatched


# ---------------------------------------------------------------------------
# single-pass effective-area line simplification (round-5 tiler surface)
# ---------------------------------------------------------------------------


def _simplify(spark, pts_rows, tolerance_m2, ref_lat=0.0):
    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        pts_rows, "id long, lats array<double>, lons array<double>"
    )
    out = tiler.simplify_lines(
        df, tolerance_m2=tolerance_m2, ref_lat=ref_lat
    ).collect()
    return {r.id: r for r in out}


def test_simplify_lines_keeps_large_drops_small_triangles(spark):
    """An interior vertex survives iff its neighbor-triangle area clears the
    tolerance; endpoints always survive. Triangle (0,0)-(d,h)-(2d,0) has
    area d*h deg² = d*h*M2_PER_DEG2 m² at ref_lat 0 — pick h around the
    exactly-known threshold."""
    from openstreetmapio_jl_spark.functions.geo import M2_PER_DEG2

    tol = 1000.0
    d = 0.001
    h_keep = 2.0 * tol / (d * M2_PER_DEG2)  # area = 2*tol ≥ tol → kept
    h_drop = 0.5 * tol / (d * M2_PER_DEG2)  # area = tol/2 < tol → dropped
    rows = [
        (1, [0.0, h_keep, 0.0], [0.0, d, 2 * d]),
        (2, [0.0, h_drop, 0.0], [0.0, d, 2 * d]),
    ]
    got = _simplify(spark, rows, tol)
    assert got[1].n_pts == 3 and got[1].n_kept == 3
    assert got[2].n_kept == 2 and got[2].s_lats == [0.0, 0.0]
    assert got[2].s_lons == [0.0, 2 * d]  # endpoints survive verbatim


def test_simplify_lines_short_lines_pass_through(spark):
    """Rows with < 3 vertices (including empty) are unchanged."""
    rows = [
        (1, [], []),
        (2, [1.0], [2.0]),
        (3, [1.0, 1.5], [2.0, 2.5]),
    ]
    got = _simplify(spark, rows, 1000.0)
    for rid, lats in ((1, []), (2, [1.0]), (3, [1.0, 1.5])):
        assert got[rid].s_lats == lats
        assert got[rid].n_kept == len(lats) == got[rid].n_pts


def test_simplify_lines_zigzag_mask_and_monotone_tolerance(spark):
    """A 5-vertex zigzag with two interior amplitudes: the small-amplitude
    vertices drop first; raising the tolerance only ever drops MORE (the
    single-pass criterion is monotone in the threshold)."""
    from openstreetmapio_jl_spark.functions.geo import M2_PER_DEG2

    d = 0.001
    big, small = 5e-4, 5e-6
    lats = [0.0, big, 0.0, small, 0.0]
    lons = [0.0, d, 2 * d, 3 * d, 4 * d]
    row = [(1, lats, lons)]
    # interior neighbor-triangle areas (deg²): vertex1 d*big = 5e-7,
    # vertex2 d*(big+small)/2 = 2.525e-7, vertex3 d*small = 5e-9 — a 1e-7
    # threshold drops ONLY vertex3 (decisions use ORIGINAL neighbors: the
    # single pass never re-evaluates vertex2 against a post-drop chain)
    mid_tol = 1e-7 * M2_PER_DEG2
    got = _simplify(spark, row, mid_tol)
    assert got[1].n_kept == 4 and got[1].s_lats == [0.0, big, 0.0, 0.0]
    # tolerance above both: only endpoints survive
    hi_tol = 1.0 * M2_PER_DEG2
    got_hi = _simplify(spark, row, hi_tol)
    assert got_hi[1].n_kept == 2
    # tolerance below both: everything survives
    got_lo = _simplify(spark, row, 1e-12 * M2_PER_DEG2)
    assert got_lo[1].n_kept == 5


def test_simplify_lines_plan_is_jvm_only(spark):
    """Pure array expression — no Python stage, no shuffle in the plan."""
    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.0], [0.0, 1.0, 2.0])],
        "id long, lats array<double>, lons array<double>",
    )
    plan = (
        tiler.simplify_lines(df, tolerance_m2=10.0, ref_lat=0.0)
        ._jdf.queryExecution()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "Exchange" not in plan


def test_tile_tolerance_m2_zoom_scaling():
    """One zoom level finer quarters the pixel-area tolerance; cos(ref_lat)
    enters squared."""
    import math

    from openstreetmapio_jl_spark.operators import tiler

    t12 = tiler.tile_tolerance_m2(12)
    t13 = tiler.tile_tolerance_m2(13)
    assert abs(t12 / t13 - 4.0) < 1e-9
    t45 = tiler.tile_tolerance_m2(12, ref_lat=45.0)
    assert abs(t45 / t12 - math.cos(math.radians(45.0)) ** 2) < 1e-12


def test_simplify_rings_drops_collinear_keeps_corners_preserves_closure(spark):
    """A square ring with a collinear midpoint inserted on one side: the
    midpoint (zero-area triangle) drops, all four corners and the duplicated
    anchor survive, and closure (first == last) is preserved."""
    from openstreetmapio_jl_spark.operators import tiler

    lats = [0.0, 0.0, 0.0, 0.01, 0.01, 0.0]
    lons = [0.0, 0.005, 0.01, 0.01, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, lats, lons)], "id long, lats array<double>, lons array<double>"
    )
    r = tiler.simplify_rings(df, tolerance_m2=10.0, ref_lat=0.0).collect()[0]
    assert r.n_pts == 6 and r.n_kept == 5
    assert r.s_lats[0] == r.s_lats[-1] and r.s_lons[0] == r.s_lons[-1]
    assert 0.005 not in r.s_lons  # the collinear midpoint dropped


def test_simplify_rings_degenerate_falls_back_to_original(spark):
    """When fewer than min_ring_pts vertices would survive, the ORIGINAL ring
    comes back untouched (under-simplify rather than emit broken geometry)."""
    from openstreetmapio_jl_spark.operators import tiler

    # a thin sliver: every interior vertex has near-zero area
    lats = [0.0, 0.005, 0.01, 0.005, 0.0]
    lons = [0.0, 1e-9, 0.0, -1e-9, 0.0]
    df = spark.createDataFrame(
        [(1, lats, lons)], "id long, lats array<double>, lons array<double>"
    )
    r = tiler.simplify_rings(df, tolerance_m2=1e6, ref_lat=0.0).collect()[0]
    assert r.n_kept == 5 and r.s_lats == lats and r.s_lons == lons


# ---------------------------------------------------------------------------
# Liang-Barsky tile clipping (round-5 tiler surface)
# ---------------------------------------------------------------------------


def test_clip_lines_to_tiles_known_fractions_across_columns(spark):
    """A horizontal equator segment spanning u=0.5..2.5 at z3 (45-degree
    tiles) clips into columns 0/1/2 with exact dyadic fractions
    0.25/0.5/0.25; the parametric fractions sum to 1."""
    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [-157.5, -67.5])],
        "id long, lats array<double>, lons array<double>",
    )
    rows = tiler.clip_lines_to_tiles(df, 3).collect()
    got = {r.x: r.clip_frac for r in rows}
    assert got == {0: 0.25, 1: 0.5, 2: 0.25}
    assert all(r.y == rows[0].y for r in rows)  # same row of tiles
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_clip_lines_to_tiles_vertical_segment_sentinel_path(spark):
    """A meridian-aligned segment (du == 0) stays in one tile column and its
    per-tile fractions still sum to 1 — the +/-1e18 sentinels never divide
    by zero."""
    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        [(1, [0.0, 40.0], [-157.5, -157.5])],
        "id long, lats array<double>, lons array<double>",
    )
    rows = tiler.clip_lines_to_tiles(df, 3).collect()
    assert len({r.x for r in rows}) == 1
    assert abs(sum(r.clip_frac for r in rows) - 1.0) < 1e-12
    assert all(0.0 < r.clip_frac <= 1.0 for r in rows)


def test_clip_lines_to_tiles_conservation_and_short_lines(spark):
    """Every segment's clip fractions sum to exactly 1 across its tiles
    (tiles tile the plane); rows with < 2 vertices contribute nothing."""
    from openstreetmapio_jl_spark.operators import tiler
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, [10.0, 52.3, -4.0, 33.3], [-170.0, 12.7, 44.1, 179.0]),
            (2, [1.0], [2.0]),
            (3, [], []),
        ],
        "id long, lats array<double>, lons array<double>",
    )
    out = tiler.clip_lines_to_tiles(df, 6)
    assert out.filter(F.col("id") != 1).count() == 0
    sums = (
        out.groupBy("seg").agg(F.sum("clip_frac").alias("s")).collect()
    )
    assert len(sums) == 3  # three segments of row 1
    assert all(abs(r.s - 1.0) < 1e-9 for r in sums)


def test_clip_lines_to_tiles_plan_is_jvm_only(spark):
    """Pure expression pipeline: segment + tile explodes, no Python stage,
    no shuffle."""
    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        [(1, [0.0, 1.0], [0.0, 1.0])],
        "id long, lats array<double>, lons array<double>",
    )
    plan = tiler.clip_lines_to_tiles(df, 8)._jdf.queryExecution().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "Exchange" not in plan


def test_clip_lines_to_tiles_antimeridian_short_way(spark):
    """A segment from lon 179 to -179 crosses the antimeridian the SHORT way:
    it lands in exactly the two border tile columns (last and first), not
    smeared across the whole world row, and its fractions still sum to 1."""
    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [179.0, -179.0])],
        "id long, lats array<double>, lons array<double>",
    )
    rows = tiler.clip_lines_to_tiles(df, 3).collect()
    xs = sorted(r.x for r in rows)
    assert xs == [0, 7], xs  # first and last columns at z3, nothing between
    assert abs(sum(r.clip_frac for r in rows) - 1.0) < 1e-12


def test_clip_lines_to_tiles_rejects_reserved_columns(spark):
    """Inputs already carrying an output-named column fail loudly up front."""
    import pytest

    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        [(1, 5, [0.0, 1.0], [0.0, 1.0])],
        "id long, x long, lats array<double>, lons array<double>",
    )
    with pytest.raises(ValueError, match="reserved"):
        tiler.clip_lines_to_tiles(df, 3)


def test_clip_lines_to_tiles_drops_zero_length_segments(spark):
    """Consecutive duplicate vertices (OSM editing artifacts) contribute no
    rows — they carry no length and would inflate per-tile segment counts."""
    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        [(1, [10.0, 10.0, 20.0], [30.0, 30.0, 30.0])],
        "id long, lats array<double>, lons array<double>",
    )
    rows = tiler.clip_lines_to_tiles(df, 3).collect()
    assert {r.seg for r in rows} == {2}  # only the real second segment


def test_encode_tile_lines_known_quantization_and_missing_params(spark):
    """A segment inside the single z0 tile quantizes to exactly known grid
    cells (u=0.25 -> 1024 at extent 4096, m=0.5 -> 2048); feeding a clip
    result without keep_params fails loudly."""
    import pytest

    from openstreetmapio_jl_spark.operators import tiler

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [-90.0, 0.0])],
        "id long, lats array<double>, lons array<double>",
    )
    clipped = tiler.clip_lines_to_tiles(df, 0, keep_params=True)
    r = tiler.encode_tile_lines(clipped, extent=4096).collect()[0]
    assert (r.x, r.y) == (0, 0)
    assert (r.qax, r.qay) == (1024, 2048)  # (-90E, 0N) start point
    assert (r.qbx, r.qby) == (2048, 2048)  # (0E, 0N) end point

    bare = tiler.clip_lines_to_tiles(df, 0)
    with pytest.raises(ValueError, match="keep_params"):
        tiler.encode_tile_lines(bare)


def test_encode_tile_lines_endpoints_clamped_to_extent(spark):
    """An endpoint exactly on the far tile edge (in-tile coordinate 1.0)
    lands on the last grid cell, not outside the tile."""
    from openstreetmapio_jl_spark.operators import tiler
    from pyspark.sql import functions as F

    # z1: two columns; a segment ending exactly at lon 0 = the right edge
    # of tile x=0 (and the left edge of x=1)
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [-90.0, 0.0])],
        "id long, lats array<double>, lons array<double>",
    )
    enc = tiler.encode_tile_lines(
        tiler.clip_lines_to_tiles(df, 1, keep_params=True), extent=4096
    )
    row = enc.filter(F.col("x") == 0).collect()[0]
    assert row.qbx == 4095  # clamped to the last cell, never == extent


# ---------------------------------------------------------------------------
# PageRank over the road graph (round-5 routing surface)
# ---------------------------------------------------------------------------


def _numpy_pagerank(edge_list, damping=0.85, iterations=12):
    nodes = sorted({a for e in edge_list for a in e[:2]})
    idx = {v: i for i, v in enumerate(nodes)}
    deg = {v: 0 for v in nodes}
    adj = []
    for a, b, *_ in edge_list:
        adj += [(a, b), (b, a)]
        deg[a] += 1
        deg[b] += 1
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        share = {v: rank[v] / deg[v] for v in nodes}
        nxt = {v: 0.0 for v in nodes}
        for a, b in adj:
            nxt[b] += share[a]
        rank = {v: (1.0 - damping) / n + damping * s for v, s in nxt.items()}
    return rank


def test_pagerank_matches_reference_iteration_and_sums_to_one(spark):
    """Fixed-iteration PageRank equals an independent per-edge Python
    replica of the same formula (star + tail graph: the hub outranks
    everything), and ranks sum to 1 every time (no dangling mass in the
    doubled graph)."""
    from openstreetmapio_jl_spark.operators import routing

    edge_list = [(1, 2, 1.0), (1, 3, 1.0), (1, 4, 1.0), (4, 5, 1.0)]
    edges = spark.createDataFrame(edge_list, "src long, dst long, w_m double")
    got = {r.node: r.rank for r in routing.pagerank(edges).collect()}
    want = _numpy_pagerank(edge_list)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert max(got, key=got.get) == 1  # the hub


def test_pagerank_symmetric_vertices_equal_and_empty_graph(spark):
    """Structurally equivalent vertices get identical ranks; an empty edge
    list yields an empty result instead of dividing by zero."""
    from openstreetmapio_jl_spark.operators import routing

    path = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, w_m double"
    )
    got = {r.node: r.rank for r in routing.pagerank(path).collect()}
    assert got[1] == got[3] and got[2] > got[1]

    empty = spark.createDataFrame([], "src long, dst long, w_m double")
    assert routing.pagerank(empty).count() == 0
