"""Okapi BM25 index build + top-k lexical search — the standard
probabilistic ranking alternative to the TF-IDF/cosine engine the
reference embeds (``minsearch`` via ``zc_agent/search_tools.py:7-17``).
Same build/search lifecycle and the same scale shape as
``operators/tfidf.py``: the index IS a DataFrame keyed by term, and a
search is a literal filter on the query's terms over it.

Formula (Robertson/Spärck Jones, the Lucene non-negative variant —
public knowledge):

- ``idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)``
- ``w(d,t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
- ``score(q,d) = Σ_{t ∈ q} w(d,t)``  (query terms as a SET — Lucene
  ignores query-side tf)

with ``k1 = 1.2``, ``b = 0.75``. Every factor is precomputable per
(doc, term), so the fitted index is a single weight table and scoring
never recomputes corpus statistics.

Determinism contract (oracle parity): weights are pure IEEE per-row
arithmetic over exact integer tf/df/dl and one shared double
``avgdl = Σdl / N`` — written identically in the DuckDB oracle SQL
(``plans/rag.py``), the summed score is rounded to 8 dp before the
top-k ordering in BOTH engines, doc keys break ties.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tfidf import _term_frequencies, _top_k, token_pattern_for, tokenize_query

BM25_K1 = 1.2
BM25_B = 0.75


@dataclass
class Bm25Model:
    """A fitted BM25 index: one precomputed weight table.

    ``weights``: ``<key_cols...>, term, w`` — w already folds idf, tf
    saturation and length normalization, so a search is filter + sum."""

    weights: DataFrame
    key_cols: list[str]
    token_mode: str = "ascii"

    def unpersist(self) -> None:
        self.weights.unpersist()


def build_bm25(
    df: DataFrame,
    key_cols: list[str],
    text_field: str,
    k1: float = BM25_K1,
    b: float = BM25_B,
    persist: bool = False,
    token_mode: str = "ascii",
) -> Bm25Model:
    """Fit BM25 over one text field.

    Shape at scale: tokenize (narrow) → tf groupBy → two broadcastable
    side tables (per-term df+idf; global N/avgdl as a 1-row literal
    join) → narrow weight projection. The only full-stream shuffles are
    the tf and dl aggregations, both map-side combinable; df/idf is
    |terms| rows and broadcasts; the fitted index is partitionable by
    term — exactly the search filter key.
    """
    pattern = token_pattern_for(token_mode)
    # narrow per-row run-length counting (see tfidf._term_frequencies):
    # the token stream never shuffles; tf arrives pre-aggregated per
    # doc, and the doc-key repartition is the ONE materialization all
    # downstream consumers (dl, tokmass, dfreq, the weight join) reuse
    tf = _term_frequencies(df, key_cols, text_field, pattern).repartition(
        *[F.col(c) for c in key_cols]
    )
    dl = tf.groupBy(*key_cols).agg(F.sum("tf").alias("dl"))
    # Global stats: N counts ALL docs (a zero-token doc still dilutes
    # avgdl), total token mass from the tf table.
    totals = df.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    tokmass = tf.groupBy().agg(F.sum("tf").alias("tok_total"))
    stats = totals.crossJoin(tokmass).select(
        "n_docs",
        (F.col("tok_total").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            + F.lit(1)
        ).alias("idf"),
        "avgdl",
    )
    w = (
        tf.join(dl, key_cols)
        .join(F.broadcast(idf), "term")
        .select(
            *key_cols,
            "term",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
                )
            ).alias("w"),
        )
    )
    if persist:
        w = w.persist()
    return Bm25Model(weights=w, key_cols=key_cols, token_mode=token_mode)


def search_bm25(
    spark: SparkSession, model: Bm25Model, query: str, k: int = 5
) -> DataFrame:
    """Top-k docs by summed BM25 weight over the query's DISTINCT terms,
    the score rounded to 8 dp.

    The query terms are a literal ``term`` filter over the weights (no
    query table, no join), and the top k is ``tfidf.search_topk``'s
    (``_top_k``): the same ``k`` contract and the same cross-engine
    k-boundary guard. A query with no token filters on an empty list,
    which the optimizer turns into an empty relation: no job."""
    terms = sorted(tokenize_query(query, model.token_mode))
    rows = model.weights.where(F.col("term").isin(terms))
    return _top_k(rows, model.key_cols, F.round(F.sum("w"), 8), k)
