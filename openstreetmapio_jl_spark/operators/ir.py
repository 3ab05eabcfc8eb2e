"""Keyword extraction: TF-IDF / BM25 characteristic terms per document.

The IR pillar of the text stack: dedup asks "which documents repeat each
other", decontamination asks "which documents repeat the benchmark" — this
asks "which terms MAKE each document what it is". Training-data pipelines use
exactly this aggregate for topic bucketing, corpus balancing, and
keyword-conditioned sampling, and it is the same (tf, df, N) statistics table
an inverted-index build materializes.

Shape at scale (the whole point): one explode of term POSITIONS per document
(never a materialized HOF array — see ``contamination_stats`` for the codegen
re-derivation pathology), a map-side-combined ``groupBy(doc, term)`` for tf,
one ``groupBy(term)`` over the already-distinct (doc, term) frame for df (a
COUNT, not a count-distinct — the heavy distinct already happened in the tf
aggregate), corpus totals as a single-row broadcast crossJoin (never a
driver-side collect), and one per-document window for the top-k. Three
shuffles total — tf (doc,term), df (term, re-joined while still co-partitioned
on term), top-k (doc) — each on the natural key of its stage; no Python
anywhere.

Scoring formulas (both classic, both pure arithmetic over the aggregates, so
a DuckDB oracle mirrors them exactly):

- ``tfidf``: smoothed sklearn-style ``tf * (ln((N + 1) / (df + 1)) + 1)`` —
  the +1s keep corpus-wide terms positive and division total.
- ``bm25``: Robertson/Okapi ``idf * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
  with ``idf = ln(1 + (N − df + 0.5) / (df + 0.5))`` — saturating tf and
  length-normalizing by the corpus mean document length (two more columns on
  the same aggregates; the pipeline is IDENTICAL to tfidf's, only the final
  scoring expression differs).

The retrieval half: ``search_bm25`` ranks documents for a query (summed
per-term BM25, per-term scores rounded to DECIMAL before the sum so the
total is exact and order-independent), and ``build_term_index`` /
``search_bm25_indexed`` persist the postings as a term-bucketed table so a
query probes ONLY its terms' postings (pushed-down ``term IN (...)`` over a
bucket-pruned scan) — at 100 TB the index is written once and every search
after it touches kilobytes, the same write-once/probe-forever architecture
as the dedup signature index.

The reference repo has no IR surface; this generalizes its tag-driven
element scoring (the "which tags matter" heuristics in
``/root/reference/src/load_pbf.jl`` callbacks) to statistical term weighting
over the web-pages corpus.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions.exact import exact_decimal, exact_double


def ir_tokens(col: Column) -> Column:
    """ARRAY<STRING> of lowercase alphanumeric tokens — the IR tokenizer
    (punctuation-stripping, unlike the whitespace tokenizer dedup uses: "the
    cat." and "the cat" must agree on the term "cat"). Same class as
    ``er.name_tokens``; empty tokens filtered."""
    return F.filter(
        F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def term_stats(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The shared (tf, totals) aggregate pair every IR consumer builds on:
    ``tf`` = one row per (doc, term) with its in-doc count and the doc's
    token length ``dl``; ``totals`` = ONE row (n_docs, avgdl) over the whole
    corpus (empty docs still count — they are short documents, not absent
    ones). Per-term document frequency is a plain COUNT over ``tf`` (the
    heavy distinct already happened in the tf aggregate)."""
    toks = docs.select(
        F.col(id_col).alias("id"), ir_tokens(F.col(text_col)).alias("toks")
    )
    totals = toks.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    # explode POSITIONS, index into the array — the generator child stays a
    # plain attribute, so codegen derives the token array once per row. The
    # size>0 guard matters: sequence(0, size-1) on an EMPTY array is
    # sequence(0, -1), which Spark evaluates as the DESCENDING [0, -1] (step
    # defaults to -1 when start > stop) — two out-of-bounds lookups yielding
    # NULL terms instead of the documented "no rows".
    terms = (
        toks.filter(F.size("toks") > 0)
        .select(
            "id",
            F.size("toks").alias("dl"),
            F.explode(F.sequence(F.lit(0), F.size("toks") - 1)).alias("i"),
            F.col("toks"),
        )
        .select("id", "dl", F.col("toks")[F.col("i")].alias("term"))
    )
    tf = terms.groupBy("id", "term").agg(
        F.count("*").alias("tf"), F.min("dl").alias("dl")
    )
    return tf, totals


def _score_expr(scoring: str, k1: float, b: float) -> Column:
    """Scoring arithmetic over the (tf, df, n_docs, dl, avgdl) columns —
    shared by ranked_terms and the search path so the formulas cannot
    drift."""
    if scoring == "tfidf":
        return F.col("tf") * (
            F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
        )
    if scoring == "bm25":
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        return idf * (
            F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
        )
    raise ValueError(f"unknown scoring {scoring!r}")


def ranked_terms(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    scoring: str = "tfidf",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = None,
) -> DataFrame:
    """→ ``(id, pos, term, score)``: the ``top_k`` highest-scoring terms per
    document under ``scoring`` ("tfidf" or "bm25"). ``pos`` is the 1-based
    rank; ties break on the term string ascending so the result is fully
    deterministic. Documents with no tokens produce no rows (there is nothing
    to rank). ``docs`` rows must be unique by ``id_col`` (corpus tables are;
    N and avgdl are computed over rows).

    With ``round_dp`` set, the score is rounded to that many decimals and
    CAST TO DECIMAL **before** the ranking window, so an independent engine
    running the same formula sorts bit-identical keys (the registry/oracle
    framing — equal (tf, df, dl) inputs give equal doubles per engine, and
    rounding collapses cross-engine ulp noise before it can reorder
    near-ties); the returned score is that decimal as a double
    (``functions/exact.py``). With ``round_dp=None`` the raw double ranks
    and is returned (the library default)."""
    if scoring not in ("tfidf", "bm25"):
        raise ValueError(f"unknown scoring {scoring!r}")
    tf, totals = term_stats(docs, id_col=id_col, text_col=text_col)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_, "term").crossJoin(F.broadcast(totals))
    score = _score_expr(scoring, k1, b)
    out = F.col("score")
    if round_dp is not None:
        score = exact_decimal(score, round_dp)
        out = exact_double(out, round_dp)
    w = Window.partitionBy("id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.select("id", "term", score.alias("score"))
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .filter(F.col("pos") <= top_k)
        .select("id", "pos", "term", out.alias("score"))
    )


def query_terms(query: str) -> list[str]:
    """Python twin of ``ir_tokens`` for a literal query string: distinct
    lowercase alphanumeric tokens, sorted (determinism of the IN-list)."""
    return sorted({t for t in re.split(r"[^a-z0-9]+", query.lower()) if t})


def _bm25_rank(
    hits: DataFrame,
    df_: DataFrame,
    totals: DataFrame,
    *,
    top_n: int,
    k1: float,
    b: float,
    round_dp: int | None,
) -> DataFrame:
    """Shared scoring tail of both search paths: per-(doc, term) BM25 over
    the probed postings, summed per doc, ranked. With ``round_dp`` set each
    TERM's score is rounded and cast to DECIMAL before the sum — decimal
    addition is exact and order-independent, so the per-doc total (and hence
    the ranking) is bit-identical regardless of row order or engine; a raw
    double sum would depend on addition order. The returned score is that
    exact total as a double."""
    scored = hits.join(F.broadcast(df_), "term").crossJoin(F.broadcast(totals))
    score = _score_expr("bm25", k1, b)
    out = F.col("score")
    if round_dp is not None:
        score = exact_decimal(score, round_dp)
        out = exact_double(out, round_dp)
    per_doc = scored.groupBy("id").agg(
        F.sum(score).alias("score"),
        F.count("*").alias("n_terms"),
    )
    # global top-n as orderBy().limit() — Spark plans TakeOrderedAndProject
    # (per-partition top-n, merged on the driver), never funneling every
    # matching doc through a single-partition ranking window; the rank
    # column is then assigned over the <= top_n survivors only
    top = per_doc.orderBy(F.desc("score"), F.asc("id")).limit(top_n)
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "id",
        out.alias("score"),
        F.col("n_terms").cast("int").alias("n_terms"),
    )


def search_bm25(
    docs: DataFrame,
    query: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = None,
) -> DataFrame:
    """→ ``(rank, id, score, n_terms)``: the ``top_n`` documents by summed
    Okapi BM25 over the query's distinct terms (``n_terms`` = how many query
    terms the doc contains; ties break on doc id ascending). One corpus pass
    builds the tf aggregate; everything after the query-term filter is tiny
    (|terms| rows per matching doc). The final global top-n window runs over
    only the matching docs — fine for selective queries; a 100-TB corpus
    should instead probe a persisted postings table via
    ``search_bm25_indexed`` so no per-query corpus pass happens at all.

    Per-term df is computed from the query-term slice of tf — identical to
    the full-corpus df for those terms (df is per-term)."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    tf, totals = term_stats(docs, id_col=id_col, text_col=text_col)
    hits = tf.filter(F.col("term").isin(terms))
    df_ = hits.groupBy("term").agg(F.count("*").alias("df"))
    return _bm25_rank(
        hits, df_, totals, top_n=top_n, k1=k1, b=b, round_dp=round_dp
    )


def build_term_index(
    spark: SparkSession,
    docs: DataFrame,
    table_prefix: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> dict:
    """Persist the inverted index three ways (the ``build_dedup_index``
    table pattern — write once, probe forever):

    - ``<prefix>_postings``: (term, id, tf, dl) BUCKETED + SORTED BY term —
      a query's probe is a bucket-pruned scan of its terms' postings, never
      a corpus pass;
    - ``<prefix>_df``: (term, df) bucketed by term — the idf side, joined
      while co-partitioned;
    - ``<prefix>_totals``: ONE row (n_docs, avgdl) — the corpus constants.

    df is re-aggregated FROM the persisted postings table (one cheap scan of
    the already-written aggregate) rather than recomputing the tokenize
    pipeline a second time. Returns {"n_docs", "n_terms", "n_postings"}.

    Idempotent (drop + rewrite), including against orphaned warehouse
    directories a crashed prior build can leave behind with no catalog
    entry — ``mode("overwrite")`` alone fails LOCATION_ALREADY_EXISTS on
    those (the same cleanup ``build_dedup_index`` does)."""
    import os
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    for suffix in ("postings", "df", "totals"):
        name = f"{table_prefix}_{suffix}"
        spark.sql(f"drop table if exists {name}")
        loc = os.path.join(warehouse, name)
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    tf, totals = term_stats(docs, id_col=id_col, text_col=text_col)
    (
        tf.select("term", "id", "tf", "dl")
        .write.format("parquet")
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_postings")
    )
    post = spark.table(f"{table_prefix}_postings")
    (
        post.groupBy("term")
        .agg(F.count("*").alias("df"))
        .write.format("parquet")
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_df")
    )
    totals.write.format("parquet").mode("overwrite").saveAsTable(
        f"{table_prefix}_totals"
    )
    stats = post.agg(
        F.count("*").alias("n_postings"),
        F.countDistinct("term").alias("n_terms"),
        F.countDistinct("id").alias("n_docs"),
    ).collect()[0]
    return {
        "n_docs": stats.n_docs,
        "n_terms": stats.n_terms,
        "n_postings": stats.n_postings,
    }


def search_bm25_indexed(
    spark: SparkSession,
    table_prefix: str,
    query: str,
    *,
    top_n: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = None,
) -> DataFrame:
    """Index-backed twin of ``search_bm25``: probes ``<prefix>_postings`` /
    ``<prefix>_df`` with a pushed-down ``term IN (...)`` filter (bucketed
    scans bounded by the query's postings, zero corpus work) and runs the
    identical shared scoring tail. Equal results to the direct path by
    construction — pinned by test."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    hits = spark.table(f"{table_prefix}_postings").filter(
        F.col("term").isin(terms)
    )
    df_ = spark.table(f"{table_prefix}_df").filter(F.col("term").isin(terms))
    totals = spark.table(f"{table_prefix}_totals")
    return _bm25_rank(
        hits, df_, totals, top_n=top_n, k1=k1, b=b, round_dp=round_dp
    )
