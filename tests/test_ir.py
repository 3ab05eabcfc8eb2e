"""IR surface: TF-IDF / BM25 characteristic-term ranking (operators/ir.py).

Hand-computed golden values on a 3-doc corpus, determinism of the tie-break,
the empty-document guard (the sequence(0,-1) descending-array trap), and the
scoring-mode contract.
"""

from __future__ import annotations

import math

import pytest

from openstreetmapio_jl_spark.operators import ir


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat"),
    (3, "a cat and a dog and a parrot"),
]


def test_tfidf_golden_values(spark):
    out = ir.ranked_terms(
        _docs(spark, CORPUS), id_col="doc_id", top_k=2, scoring="tfidf"
    ).collect()
    got = {(r.id, r.pos): (r.term, r.score) for r in out}
    # doc 1: tf(the)=2, df(the)=2, N=3 → 2*(ln(4/3)+1); every other doc-1 term
    # has tf=1 so "the" ranks first
    assert got[(1, 1)][0] == "the"
    assert got[(1, 1)][1] == pytest.approx(2 * (math.log(4 / 3) + 1))
    # doc 3: tf(a)=3 and tf(and)=2 dominate the tf=1 terms
    assert got[(3, 1)][0] == "a"
    assert got[(3, 1)][1] == pytest.approx(3 * (math.log(4 / 2) + 1))
    assert got[(3, 2)][0] == "and"
    # exactly top_k rows per doc
    assert sorted(k for k in got) == [(d, p) for d in (1, 2, 3) for p in (1, 2)]


def test_tfidf_tie_breaks_on_term_ascending(spark):
    # both docs are two unique tf=1 terms with equal df → equal scores;
    # rank order must be the term string ascending
    out = ir.ranked_terms(
        _docs(spark, [(1, "zebra apple"), (2, "zebra apple")]),
        id_col="doc_id",
        top_k=2,
    ).collect()
    for doc in (1, 2):
        ranked = [r.term for r in sorted(out, key=lambda r: r.pos) if r.id == doc]
        assert ranked == ["apple", "zebra"]


def test_bm25_length_normalization_and_idf(spark):
    # "rare" appears once in a SHORT doc (1) and once in a LONG doc (2):
    # BM25's dl/avgdl normalizer must score the short-doc occurrence higher.
    rows = [
        (1, "rare word"),
        (2, "rare " + " ".join(f"filler{i}" for i in range(20))),
        (3, "word word word"),
    ]
    out = ir.ranked_terms(
        _docs(spark, rows), id_col="doc_id", top_k=25, scoring="bm25"
    ).collect()
    score = {(r.id, r.term): r.score for r in out}
    assert score[(1, "rare")] > score[(2, "rare")]
    # hand-check doc 1's "rare": tf=1, df=2, N=3, dl=2, avgdl=(2+21+3)/3
    avgdl = 26 / 3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    expect = idf * (1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / avgdl)))
    assert score[(1, "rare")] == pytest.approx(expect)


def test_empty_and_punctuation_only_docs_produce_no_rows(spark):
    # regression: sequence(0, size-1) on an empty token array is the
    # DESCENDING [0, -1] in Spark — without the size guard these docs would
    # emit NULL-term rows (and DuckDB's unnest-of-empty-list would not)
    rows = [(1, ""), (2, "!!! ... ???"), (3, "real words here")]
    out = ir.ranked_terms(_docs(spark, rows), id_col="doc_id", top_k=5).collect()
    assert {r.id for r in out} == {3}
    assert all(r.term is not None for r in out)
    # but the empty docs still count toward N: df smoothing sees N=3
    score = {r.term: r.score for r in out if r.id == 3}
    assert score["real"] == pytest.approx(1 * (math.log(4 / 2) + 1))


def test_round_dp_gives_double_scores_and_id_ordered_ties(spark):
    # round_dp ranks on the rounded decimal but emits a double
    # (functions/exact.py); equal rounded scores still rank by id ascending
    terms = ir.ranked_terms(
        _docs(spark, CORPUS), id_col="doc_id", top_k=1, round_dp=6
    )
    assert dict(terms.dtypes)["score"] == "double"
    assert terms.count() == 3
    hits = ir.search_bm25(
        _docs(spark, [(i, "same text here") for i in (5, 3, 9)]),
        "same here",
        top_n=3,
        round_dp=6,
    )
    assert dict(hits.dtypes)["score"] == "double"
    assert [r.id for r in hits.orderBy("rank").collect()] == [3, 5, 9]


def test_unknown_scoring_raises(spark):
    with pytest.raises(ValueError, match="unknown scoring"):
        ir.ranked_terms(_docs(spark, CORPUS), scoring="pagerank")


def test_search_bm25_ranks_rare_term_doc_first(spark):
    # "needle" appears only in doc 2; every doc shares "common". The doc
    # holding the rare (high-idf) term must outrank pure-common docs.
    rows = [
        (1, "common words only here"),
        (2, "common needle in the stack"),
        (3, "common common common"),
    ]
    out = ir.search_bm25(
        _docs(spark, rows), "needle common", top_n=3
    ).collect()
    assert out[0].rank == 1 and out[0].id == 2 and out[0].n_terms == 2
    # every doc matches "common" → all three ranked
    assert [r.id for r in sorted(out, key=lambda r: r.rank)][0] == 2
    assert len(out) == 3


def test_search_bm25_n_terms_and_top_n(spark):
    rows = [(i, "alpha beta") if i % 2 else (i, "alpha") for i in range(1, 7)]
    out = ir.search_bm25(_docs(spark, rows), "alpha beta gamma", top_n=2).collect()
    assert len(out) == 2
    assert all(r.n_terms == 2 for r in out)  # two-term docs outrank one-term


def test_search_bm25_decimal_sum_dtype_and_tiebreak(spark):
    rows = [(i, "same text here") for i in (5, 3, 9)]
    out = ir.search_bm25(
        _docs(spark, rows), "same here", top_n=3, round_dp=6
    ).collect()
    # identical docs → identical decimal scores → id-ascending ranks
    assert [r.id for r in sorted(out, key=lambda r: r.rank)] == [3, 5, 9]
    assert len({r.score for r in out}) == 1


def test_search_bm25_empty_query_raises(spark):
    with pytest.raises(ValueError, match="no tokens"):
        ir.search_bm25(_docs(spark, CORPUS), "!!! ...")


def test_indexed_search_equals_direct(spark):
    rows = [(i, f"alpha beta gamma{'x' if i % 3 == 0 else ''} doc{i}") for i in range(1, 31)]
    docs = _docs(spark, rows)
    stats = ir.build_term_index(spark, docs, "t5_ir", n_buckets=2)
    assert stats["n_docs"] == 30 and stats["n_postings"] > 0
    q = "alpha gammax doc7"
    direct = ir.search_bm25(docs, q, top_n=10, round_dp=6)
    indexed = ir.search_bm25_indexed(spark, "t5_ir", q, top_n=10, round_dp=6)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, indexed.collect())
    )
    # the probe is a pushed-down IN filter over the bucketed postings scan:
    # no aggregate/tokenize work upstream of the first join
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "term IN" in plan or "term#" in plan


def test_tokenizer_strips_punctuation_and_case(spark):
    # "The cat." and "the cat" must agree on both terms
    out = ir.ranked_terms(
        _docs(spark, [(1, "The cat."), (2, "the cat")]), id_col="doc_id", top_k=5
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, set()).add(r.term)
    assert by_doc[1] == by_doc[2] == {"the", "cat"}
