"""Closed-form BM25 pins: a 3-doc corpus small enough to compute the
Okapi weights by hand in Python — verifies the operator's arithmetic
(idf variant, tf saturation, length normalization) independently of
the DuckDB oracle, plus the search lifecycle and edge cases."""

from __future__ import annotations

import math

import pytest

from data_engineering_rag_spark.operators.bm25 import (
    BM25_B,
    BM25_K1,
    Bm25Model,
    build_bm25,
    search_bm25,
)

DOCS = [
    (0, "spark shuffle join join"),
    (1, "spark window"),
    (2, "pandas arrow batch transfer overhead"),
]


def _expected_weight(tf: int, df: int, dl: int, n_docs: int, avgdl: float) -> float:
    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1)
    return idf * (tf * (BM25_K1 + 1)) / (
        tf + BM25_K1 * (1 - BM25_B + BM25_B * (dl / avgdl))
    )


@pytest.fixture(scope="module")
def model(spark) -> Bm25Model:
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    return build_bm25(df, key_cols=["doc_id"], text_field="text")


def test_weights_match_closed_form(model):
    # token counts: doc0 dl=4 (join x2), doc1 dl=2, doc2 dl=5 -> avgdl=11/3
    avgdl = 11 / 3
    got = {(r.doc_id, r.term): r.w for r in model.weights.collect()}
    expected = {
        (0, "spark"): _expected_weight(1, 2, 4, 3, avgdl),
        (0, "join"): _expected_weight(2, 1, 4, 3, avgdl),
        (0, "shuffle"): _expected_weight(1, 1, 4, 3, avgdl),
        (1, "spark"): _expected_weight(1, 2, 2, 3, avgdl),
        (1, "window"): _expected_weight(1, 1, 2, 3, avgdl),
        (2, "pandas"): _expected_weight(1, 1, 5, 3, avgdl),
    }
    for key, exp in expected.items():
        assert got[key] == pytest.approx(exp, abs=1e-12), key
    assert len(got) == 10  # 3 + 2 + 5 distinct (doc, term) pairs


def test_search_ranks_tf_saturation(spark, model):
    # "join" appears twice in doc0 but saturates: doc0 still wins on
    # "spark join" (two matching terms beat one)
    out = search_bm25(spark, model, "spark join", k=3).collect()
    assert [r.doc_id for r in out] == [0, 1]
    assert out[0].score > out[1].score


def test_search_empty_query(spark, model):
    """No query token: an empty result with the usual columns, and no
    Spark job to build or collect it."""
    from tests.test_tfidf import _jobs_in

    def run():
        hits = search_bm25(spark, model, "???", k=3)
        return hits.columns, hits.collect()

    assert _jobs_in(spark, "bm25-noop", run) == ((["doc_id", "score"], []), 0)


def test_search_is_a_term_filter_without_a_join(spark, model):
    """The query terms reach Spark as a literal filter on ``term``: over
    a weights table with no join in its plan, the search adds none, and
    it ranks as over the fitted weights."""
    from tests.test_tfidf import analyzed_plan

    flat = Bm25Model(weights=spark.createDataFrame(model.weights.toArrow()), key_cols=["doc_id"])
    hits = search_bm25(spark, flat, "spark join window", k=3)
    assert "Join" not in analyzed_plan(hits), analyzed_plan(hits)
    assert hits.collect() == search_bm25(spark, model, "spark join window", k=3).collect()


def test_search_oov_terms_drop(spark, model):
    out = search_bm25(spark, model, "window unseen-term", k=3).collect()
    assert [r.doc_id for r in out] == [1]
