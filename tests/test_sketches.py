"""HyperLogLog sketch (operators/sketches.py): accuracy envelopes, the exact
merge law, duplicate-insensitivity, grouping, and input validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.operators import sketches


def _vals(spark, n, prefix="v", start=0):
    return spark.range(start, start + n).select(
        F.concat(F.lit(prefix + "-"), F.col("id")).alias("v")
    )


def test_estimate_within_error_envelope(spark):
    # p=9 → rse ≈ 4.6%; 15% is > 3 sigma. Deterministic hash → stable result.
    est = float(sketches.hll_distinct(_vals(spark, 5000), "v").collect()[0][0])
    assert abs(est - 5000) / 5000 < 0.15


def test_small_range_linear_counting(spark):
    # 100 << 2.5m → the m·ln(m/V) branch; much tighter than the raw estimator
    est = float(sketches.hll_distinct(_vals(spark, 100), "v").collect()[0][0])
    assert abs(est - 100) / 100 < 0.10


def test_merge_equals_union_exactly(spark):
    a, b = _vals(spark, 3000), _vals(spark, 4000, start=2000)
    merged = sketches.hll_estimate(
        sketches.hll_merge(
            sketches.hll_registers(a, "v"), sketches.hll_registers(b, "v")
        )
    ).collect()
    union = sketches.hll_distinct(a.unionByName(b), "v").collect()
    assert merged == union  # exact decimal equality, not approximate


def test_duplicates_do_not_move_the_estimate(spark):
    a = _vals(spark, 1000)
    dup3 = a.unionByName(a).unionByName(a)
    one = sketches.hll_distinct(a, "v").collect()
    three = sketches.hll_distinct(dup3, "v").collect()
    assert one == three  # registers are a function of the value SET


def test_groupwise_estimates(spark):
    df = spark.range(4000).select(
        F.when(F.col("id") < 3000, F.lit("big")).otherwise(F.lit("small")).alias("g"),
        # disjoint value spaces per group
        F.concat(F.lit("g"), (F.col("id") < 3000).cast("int"), F.lit("-"), F.col("id")).alias("v"),
    )
    out = {r.g: float(r.est_distinct) for r in sketches.hll_distinct(df, "v", ("g",)).collect()}
    assert abs(out["big"] - 3000) / 3000 < 0.15
    assert abs(out["small"] - 1000) / 1000 < 0.15


def test_nulls_are_skipped(spark):
    df = _vals(spark, 200).unionByName(
        spark.range(5).select(F.lit(None).cast("string").alias("v"))
    )
    with_nulls = sketches.hll_distinct(df, "v").collect()
    without = sketches.hll_distinct(_vals(spark, 200), "v").collect()
    assert with_nulls == without


def test_hll_oracle_matches_engine_above_linear_counting(spark, tmp_path):
    """Above 2.5·m the estimate reads the register VALUES, not just the
    empty-register count, so the DuckDB oracle must smear exactly as the
    engine does. 20k and 30k distinct words per language, well past the
    1280 linear-counting threshold."""
    import duckdb

    from openstreetmapio_jl_spark.plans import entry_queries as EQ

    docs = spark.range(0, 50_000).select(
        F.when(F.col("id") < 20_000, "en").otherwise("de").alias("lang"),
        F.concat(F.lit("w"), F.col("id"), F.lit("x")).alias("word"),
        (F.col("id") % 500).alias("doc"),
    ).groupBy("lang", "doc").agg(
        F.concat_ws(" ", F.collect_list("word")).alias("text")
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    engine = {
        r.lang: r.est_distinct
        for r in EQ.q_doc_hll_distinct(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = dict(con.execute(EQ._sql_hll_distinct()).fetchall())
    assert min(float(v) for v in engine.values()) > 1280  # raw-estimate branch
    assert engine == oracle


def test_p_out_of_range_raises(spark):
    with pytest.raises(ValueError, match="p must be"):
        sketches.hll_registers(_vals(spark, 10), "v", p=2)


# ---------------------------------------------------------------------------
# HDR quantile sketch
# ---------------------------------------------------------------------------
import math

from openstreetmapio_jl_spark.operators.sketches import (
    hdr_buckets,
    hdr_merge,
    hdr_quantile_sketch,
    hdr_quantiles,
)


def _hvals(spark, values, lang="en"):
    return spark.createDataFrame(
        [(lang, int(v)) for v in values], "lang string, x long"
    )


def test_hdr_small_region_is_exact(spark):
    # values < 2^k bucket to themselves: quantiles are EXACT
    vals = [0, 1, 2, 3, 5, 8, 13, 21, 31]
    out = hdr_quantile_sketch(_hvals(spark, vals), "x", (0.5, 1.0))
    got = {float(r.q): r.est for r in out.collect()}
    # rank ceil(0.5*9)=5 -> 5th smallest = 5; rank 9 -> 31
    assert got == {0.5: 5, 1.0: 31}


def test_hdr_relative_error_bound(spark):
    # deterministic pseudo-random integers over 5 octaves; every estimated
    # quantile within 1/32 relative error of the true value
    import hashlib

    vals = [
        int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % 100_000 + 1
        for i in range(2000)
    ]
    qs = (0.5, 0.9, 0.99)
    out = hdr_quantile_sketch(_hvals(spark, vals), "x", qs)
    got = {float(r.q): r.est for r in out.collect()}
    sv = sorted(vals)
    for q in qs:
        true = sv[math.ceil(q * len(vals)) - 1]
        assert abs(got[q] - true) / true <= 1 / 32 + 1e-9, (q, got[q], true)


def test_hdr_merge_equals_union(spark):
    a, b = [7, 70, 700, 7000], [13, 130, 1300, 13000, 31]
    sa = hdr_buckets(_hvals(spark, a), "x")
    sb = hdr_buckets(_hvals(spark, b), "x")
    merged = hdr_merge(sa, sb)
    union = hdr_buckets(_hvals(spark, a + b), "x")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, union.collect())
    )


def test_hdr_groupwise_and_rank_convention(spark):
    df = _hvals(spark, [10, 20, 30], "en").unionByName(
        _hvals(spark, [100, 200], "de")
    )
    out = hdr_quantiles(hdr_buckets(df, "x", ("lang",)), (0.5,), ("lang",))
    got = {(r.lang, float(r.q)): r.est for r in out.collect()}
    # en: ceil(0.5*3)=2nd smallest = 20; de: ceil(0.5*2)=1st = 100 -> both
    # in the exact-or-rep region: 20 < 32 exact; 100 -> bucket rep
    assert got[("en", 0.5)] == 20
    assert abs(got[("de", 0.5)] - 100) / 100 <= 1 / 32


def test_hdr_validation(spark):
    df = _hvals(spark, [1, 2, 3])
    import pytest as _pt

    with _pt.raises(ValueError, match="quantiles"):
        hdr_quantiles(hdr_buckets(df, "x"), ())
    with _pt.raises(ValueError, match="quantiles"):
        hdr_quantiles(hdr_buckets(df, "x"), (0.0,))
    with _pt.raises(ValueError, match="k must"):
        hdr_buckets(df, "x", k=20)


def test_hdr_bucket_rep_roundtrip_error(spark):
    # every power-of-two boundary and neighbors: rep within 1/32 relative
    vals = []
    for e in range(5, 40):
        vals += [(1 << e) - 1, 1 << e, (1 << e) + 1]
    df = _hvals(spark, vals)
    from openstreetmapio_jl_spark.operators.sketches import (
        _hdr_bucket_col,
        _hdr_rep_col,
    )
    from pyspark.sql import functions as F

    out = df.select(
        "x", _hdr_rep_col(_hdr_bucket_col(F.col("x"), 5), 5).alias("rep")
    ).collect()
    for r in out:
        assert abs(r.rep - r.x) / r.x <= 1 / 32, (r.x, r.rep)


# ---------------------------------------------------------------------------
# Bloom membership filter
# ---------------------------------------------------------------------------
from openstreetmapio_jl_spark.operators.sketches import (
    bloom_build,
    bloom_merge,
    bloom_probe,
)


def _ids(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "v long")


def test_bloom_no_false_negatives(spark):
    members = list(range(0, 2000, 3))
    sk = bloom_build(_ids(spark, members), "v")
    probes = _ids(spark, members).withColumnRenamed("v", "probe_id")
    out = bloom_probe(sk, probes, "probe_id", probe_id="probe_id").collect()
    assert len(out) == len(members)
    assert all(r.might_contain for r in out)


def test_bloom_fpr_within_theory_band(spark):
    import math

    n, m, k = 3000, 1 << 14, 5
    members = list(range(n))
    sk = bloom_build(_ids(spark, members), "v", m=m, k=k)
    non = _ids(spark, range(10_000_000, 10_002_000)).withColumnRenamed(
        "v", "probe_id"
    )
    out = bloom_probe(sk, non, "probe_id", probe_id="probe_id", m=m, k=k).collect()
    fp = sum(1 for r in out if r.might_contain)
    fpr = fp / len(out)
    theory = (1.0 - math.exp(-k * n / m)) ** k  # ~0.012 at these params
    assert fpr <= 4 * theory + 0.01, (fpr, theory)


def test_bloom_merge_equals_union(spark):
    a, b = list(range(0, 500)), list(range(400, 900))
    sa = bloom_build(_ids(spark, a), "v")
    sb = bloom_build(_ids(spark, b), "v")
    merged = bloom_merge(sa, sb)
    union = bloom_build(_ids(spark, sorted(set(a) | set(b))), "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, union.collect())
    )


def test_bloom_validation(spark):
    import pytest as _pt

    df = _ids(spark, [1])
    with _pt.raises(ValueError, match="m must"):
        bloom_build(df, "v", m=100)  # not a multiple of 32
    with _pt.raises(ValueError, match="k must"):
        bloom_build(df, "v", k=0)


def test_bloom_empty_filter_rejects_everything(spark):
    sk = bloom_build(_ids(spark, []), "v")
    probes = _ids(spark, [1, 2, 3]).withColumnRenamed("v", "probe_id")
    out = bloom_probe(sk, probes, "probe_id", probe_id="probe_id").collect()
    assert len(out) == 3 and not any(r.might_contain for r in out)


def test_bloom_reject_stream_matches_batch_probe(spark, tmp_path):
    """Streaming seen-URL rejector in a real availableNow run: every member
    url is rejected with certainty, and the streamed verdicts equal the
    batch bloom_probe verdicts row-for-row (same filter, same hash math)."""
    import datetime

    from openstreetmapio_jl_spark.streaming import pipelines as SP

    seen_urls = [f"https://seen.example/{i}" for i in range(400)]
    new_urls = [f"https://new.example/{i}" for i in range(200)]
    sk = bloom_build(
        spark.createDataFrame([(u,) for u in seen_urls], "u string"), "u"
    )

    ts = datetime.datetime(2024, 5, 1)
    rows = [
        (u, ts, b"", "text", "en") for u in seen_urls[:100] + new_urls
    ]
    feed_dir = str(tmp_path / "feed")
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1).write.parquet(feed_dir)

    stream = SP.read_pages_stream(spark, feed_dir)
    kept = SP.reject_seen_urls_stream(stream, sk)
    SP.run_available_now(
        kept,
        query_name="bloom_kept_t5",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {r.url for r in spark.table("bloom_kept_t5").collect()}

    # certainty: no member url survives
    assert not (got & set(seen_urls))
    # batch twin: the kept set equals the urls bloom_probe calls novel
    probes = spark.createDataFrame(
        [(u,) for u in seen_urls[:100] + new_urls], "probe_id string"
    )
    batch = bloom_probe(sk, probes, "probe_id", probe_id="probe_id")
    want = {r.probe_id for r in batch.collect() if not r.might_contain}
    assert got == want
    # and the false-positive loss among new urls is small
    assert len(got) >= len(new_urls) * 0.9


def test_bloom_reject_stream_empty_filter_keeps_all(spark, tmp_path):
    import datetime

    from openstreetmapio_jl_spark.streaming import pipelines as SP

    ts = datetime.datetime(2024, 5, 1)
    feed_dir = str(tmp_path / "feed2")
    spark.createDataFrame(
        [(f"u{i}", ts, b"", "t", "en") for i in range(10)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1).write.parquet(feed_dir)
    empty = bloom_build(_ids(spark, []), "v")
    stream = SP.read_pages_stream(spark, feed_dir)
    kept = SP.reject_seen_urls_stream(stream, empty)
    SP.run_available_now(
        kept,
        query_name="bloom_kept_empty_t5",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert spark.table("bloom_kept_empty_t5").count() == 10


def test_bloom_reject_stream_null_and_duplicate_urls(spark):
    """The streaming rejector's NULL policy is an explicit filter: a NULL
    url drops whether or not the filter is empty; a duplicated novel url
    keeps every copy (the verdict is per row)."""
    from openstreetmapio_jl_spark.streaming import pipelines as SP

    pages = spark.createDataFrame(
        [("seen", "a"), ("new", "b"), ("new", "c"), (None, "d")],
        "url string, text string",
    )
    sk = bloom_build(spark.createDataFrame([("seen",)], "u string"), "u")
    empty = bloom_build(_ids(spark, []), "v")
    for bloom, want in ((sk, ["b", "c"]), (empty, ["a", "b", "c"])):
        kept = SP.reject_seen_urls_stream(pages, bloom)
        assert sorted(r.text for r in kept.collect()) == want


# ---------------------------------------------------------------------------
# PII scrubbing (functions/text.py)
# ---------------------------------------------------------------------------
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions import text as textfn


def _scrub(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    ne, np_ = textfn.pii_counts_cols(F.col("t"))
    return [
        (r.s, r.ne, r.np)
        for r in df.select(
            textfn.scrub_pii_col(F.col("t")).alias("s"),
            ne.alias("ne"),
            np_.alias("np"),
        ).collect()
    ]


def test_pii_scrub_goldens(spark):
    out = _scrub(
        spark,
        [
            "write to alice.smith+news@sub.example.co.uk today",
            "call +49-30-1234567 or +1-555-0100 now",
            "both a@b.io and +33-1-23-45-67-89 here",
            "no pii at all",
            "not-an-email @ alone and 1234567 bare digits",
        ],
    )
    assert out[0] == ("write to <EMAIL> today", 1, 0)
    assert out[1] == ("call <PHONE> or <PHONE> now", 0, 2)
    assert out[2] == ("both <EMAIL> and <PHONE> here", 1, 1)
    assert out[3] == ("no pii at all", 0, 0)
    # conservative: a lone @ and bare digit runs are NOT scrubbed
    assert out[4] == ("not-an-email @ alone and 1234567 bare digits", 0, 0)


def test_pii_scrub_preserves_neighbors(spark):
    # scrubbing must not eat adjacent characters (punctuation survives)
    out = _scrub(spark, ["(x@y.com), [+49-1234567]!"])
    assert out[0][0] == "(<EMAIL>), [<PHONE>]!"


# ---------------------------------------------------------------------------
# chunk_documents (functions/text.py) — context-window packing
# ---------------------------------------------------------------------------
def _chunk(spark, texts, n=8, o=2):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return textfn.chunk_documents(df, n_tokens=n, overlap=o)


def test_chunking_goldens(spark):
    words = " ".join(f"w{i}" for i in range(14))  # 14 tokens, n=8 o=2 stride=6
    out = sorted(
        (r.chunk_idx, r.chunk_text, r.chunk_tokens)
        for r in _chunk(spark, [words]).collect()
    )
    # n_chunks = ceil((14-2)/6) = 2: [w0..w7], [w6..w13]
    assert out == [
        (0, " ".join(f"w{i}" for i in range(8)), 8),
        (1, " ".join(f"w{i}" for i in range(6, 14)), 8),
    ]


def test_chunking_overlap_reconstructs_document(spark):
    # dropping the `overlap` left-context tokens of every chunk after the
    # first reconstructs the original token stream exactly
    words = [f"t{i}" for i in range(53)]
    out = sorted(
        (r.chunk_idx, r.chunk_text)
        for r in _chunk(spark, [" ".join(words)], n=16, o=4).collect()
    )
    rebuilt = out[0][1].split()
    for _, text in out[1:]:
        rebuilt += text.split()[4:]
    assert rebuilt == words


def test_chunking_edges(spark):
    # short doc -> one whole chunk; empty/whitespace doc -> no rows
    out = _chunk(spark, ["a b c", "", "   "]).collect()
    assert len(out) == 1
    assert (out[0].id, out[0].chunk_idx, out[0].chunk_text, out[0].chunk_tokens) == (
        0, 0, "a b c", 3
    )
    # exact multiple: len == n -> exactly one chunk
    exact = _chunk(spark, [" ".join("x" * 1 for _ in range(8))], n=8, o=2).collect()
    assert len(exact) == 1 and exact[0].chunk_tokens == 8


def test_chunking_validation(spark):
    import pytest as _pt

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pt.raises(ValueError, match="n_tokens"):
        textfn.chunk_documents(df, n_tokens=1)
    with _pt.raises(ValueError, match="n_tokens"):
        textfn.chunk_documents(df, n_tokens=8, overlap=8)


def test_hll_streaming_equals_batch(spark, tmp_path):
    """Sketches are streaming-native: hll_registers is a groupBy-MAX whose
    state is bounded at 2^p rows per group, so it runs as a plain Structured
    Streaming aggregation (update mode, availableNow) — and the streamed
    registers (hence the estimate) equal the batch sketch EXACTLY."""
    import pyspark.sql.functions as SF

    from openstreetmapio_jl_spark.operators import sketches

    vals = [(f"v{i % 700}",) for i in range(2000)]  # dups exercise MAX merge
    feed = str(tmp_path / "hll_feed")
    spark.createDataFrame(vals, "v string").coalesce(2).write.parquet(feed)

    batch_regs = sorted(
        map(tuple, sketches.hll_registers(spark.read.parquet(feed), "v").collect())
    )

    stream = spark.readStream.schema("v string").parquet(feed)
    regs = sketches.hll_registers(stream, "v")
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_stream_t5")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("hll_stream_t5").collect()))
    assert got == batch_regs

    est_stream = sketches.hll_estimate(spark.table("hll_stream_t5")).collect()[0]
    est_batch = sketches.hll_estimate(
        sketches.hll_registers(spark.read.parquet(feed), "v")
    ).collect()[0]
    assert est_stream == est_batch
    # and the estimate is in the right ballpark for 700 distinct values
    assert abs(float(est_stream.est_distinct) - 700) / 700 < 0.2
