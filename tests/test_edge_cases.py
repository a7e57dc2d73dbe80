"""Empty/degenerate-input behavior: operators must degrade to empty
results, not errors (the property that matters when a 100 TB partition
happens to be empty)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from data_engineering_rag_spark.operators.chunker import chunk_documents
from data_engineering_rag_spark.operators.ingest import parse_repo_files
from data_engineering_rag_spark.operators.tfidf import (
    add_documents,
    build_tfidf,
    search_topk,
    search_topk_df,
    search_topk_local,
)
from data_engineering_rag_spark.sources.repo import FILE_SCHEMA

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("content", StringType())]
)


def test_chunk_empty_df(spark):
    empty = spark.createDataFrame([], DOC_SCHEMA)
    assert chunk_documents(empty).count() == 0


def test_chunk_all_empty_texts(spark):
    df = spark.createDataFrame([(1, ""), (2, "")], DOC_SCHEMA)
    assert chunk_documents(df).count() == 0


def test_tfidf_empty_corpus(spark):
    """An empty fit has no postings, and so has every add to it: each
    term of a new doc is out of an empty vocabulary. Driver searches
    return ``search_topk``'s empty result, columns and types included."""
    empty = spark.createDataFrame([], DOC_SCHEMA)
    model = build_tfidf(empty, key_cols=["doc_id"], text_fields=["content"])
    assert model.weights.count() == 0
    assert search_topk(spark, model, "anything", k=5).count() == 0
    want = search_topk(spark, model, "anything", k=5)
    (segment,) = model.driver_postings.get()
    assert len(segment.term_ids) == 0 and segment.postings.num_rows == 0
    local = search_topk_local(spark, model, "anything", k=5)
    assert local.collect() == [] and local.schema == want.schema
    new = spark.createDataFrame([(1, "spark join")], DOC_SCHEMA)
    latest = add_documents(model, new)
    assert [len(s.term_ids) for s in latest.driver_postings.get()] == [0, 0]
    local = search_topk_local(spark, latest, "spark join", k=5)
    assert local.collect() == [] and local.schema == want.schema


def test_tfidf_null_text(spark):
    df = spark.createDataFrame([(1, None), (2, "spark join")], DOC_SCHEMA)
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["content"])
    # null text tokenizes to nothing; doc 2 still indexed
    assert {r.doc_id for r in model.weights.collect()} == {2}


def test_parse_empty_files(spark):
    empty = spark.createDataFrame([], FILE_SCHEMA)
    assert parse_repo_files(empty).count() == 0


def test_search_k_larger_than_corpus(spark):
    """A ``k`` past the corpus returns every match, ``k = 0`` returns no
    rows (on the driver with no Spark job), and a negative ``k`` raises
    ``ValueError`` from every top-k search, BM25's included, before it
    scores anything."""
    from data_engineering_rag_spark.operators.bm25 import build_bm25, search_bm25
    from tests.test_tfidf import _jobs_in

    df = spark.createDataFrame([(1, "spark"), (2, "join")], DOC_SCHEMA)
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["content"])
    bm25 = build_bm25(df, key_cols=["doc_id"], text_field="content")
    assert search_bm25(spark, bm25, "spark join", k=100).count() == 2
    assert search_bm25(spark, bm25, "spark join", k=0).collect() == []
    with pytest.raises(ValueError, match="k must be >= 0"):
        _jobs_in(spark, "edge-bm25-k-neg", lambda: search_bm25(spark, bm25, "spark join", k=-1))
    assert spark.sparkContext.statusTracker().getJobIdsForGroup("edge-bm25-k-neg") == []
    assert search_topk(spark, model, "spark join", k=100).count() == 2
    assert search_topk_local(spark, model, "spark join", k=100).count() == 2
    assert search_topk(spark, model, "spark join", k=0).collect() == []
    rows, jobs = _jobs_in(
        spark, "edge-k-zero", lambda: search_topk_local(spark, model, "spark join", k=0).collect()
    )
    assert (rows, jobs) == ([], 0)
    queries = spark.createDataFrame([(0, "spark join")], "query_id long, q string")
    assert search_topk_df(model, queries, ["query_id"], "q", k=0).collect() == []
    for search in (
        lambda: search_topk(spark, model, "spark join", k=-1),
        lambda: search_topk_local(spark, model, "spark join", k=-1),
        lambda: search_topk_df(model, queries, ["query_id"], "q", k=-1),
    ):
        with pytest.raises(ValueError, match="k must be >= 0"):
            search()


def test_approx_percentile_error_bound(spark, sf_dir):
    """GK-sketch rank error at accuracy=1000 is <= 1/1000; assert the
    approximate percentiles land within a loose 1% rank band of exact."""
    from pyspark.sql import functions as F

    from data_engineering_rag_spark.plans import REGISTRY, load

    row = REGISTRY["agg_approx_percentile"].spark(spark, sf_dir).collect()[0]
    li = load(spark, sf_dir, "lineitem")
    n = li.count()
    for col, approx, q in (
        ("l_extendedprice", row.p50_price, 0.5),
        ("l_extendedprice", row.p95_price, 0.95),
        ("l_quantity", row.p50_qty, 0.5),
    ):
        rank = li.where(F.col(col) <= approx).count() / n
        assert abs(rank - q) <= 0.01, (col, q, rank)


def test_bm25_empty_corpus(spark):
    from data_engineering_rag_spark.operators.bm25 import build_bm25, search_bm25

    df = spark.createDataFrame([], "doc_id: long, text: string")
    model = build_bm25(df, key_cols=["doc_id"], text_field="text")
    assert model.weights.count() == 0
    assert search_bm25(spark, model, "anything", k=5).count() == 0


def test_dedup_pipeline_no_duplicates(spark, tmp_path):
    """A corpus with fully disjoint shingle sets produces zero candidate
    pairs → zero clusters (not an error)."""
    import pandas as pd

    from data_engineering_rag_spark.plans import REGISTRY

    rows = [(i, " ".join(f"w{i}x{j}q{(i * 37 + j) * 7919}" for j in range(30))) for i in range(8)]
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "f",
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    assert REGISTRY["minhash_dedup_canonical"].spark(spark, str(tmp_path)).count() == 0
    assert REGISTRY["simhash_near_dup_pairs"].spark(spark, str(tmp_path)).count() == 0


def test_vocab_and_cms_tiny_corpus(spark, tmp_path):
    """Corpora smaller than the vocab/top-k sizes: every term is
    in-vocab (OOV rate 0), CMS returns all terms exactly (no
    collisions possible at this size)."""
    import pandas as pd

    from data_engineering_rag_spark.plans import REGISTRY

    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["alpha beta beta", "gamma alpha"],
            "lang": "en",
            "source": "f",
            "n_chars": [15, 11],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    vocab = REGISTRY["vocab_oov_stats"].spark(spark, str(tmp_path)).collect()
    assert len(vocab) == 1 and vocab[0].n_oov == 0 and vocab[0].oov_rate == 0.0
    cms = {r.term: r.est for r in REGISTRY["approx_top_terms_cms"].spark(spark, str(tmp_path)).collect()}
    assert cms == {"alpha": 2, "beta": 2, "gamma": 1}


def test_winsorize_nearest_rank_bounds(spark, sf_dir):
    """Nearest-rank semantics on 1..100: p01 = 1 (rank ceil(1)=1),
    p99 = 99, so exactly one row clips high and none clip low."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W

    ev = spark.range(1, 101).select(
        F.lit("t").alias("event_type"),
        F.col("id").alias("event_id"),
        F.col("id").cast("double").alias("value"),
    )
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    cw = W.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    th = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.ceil(F.lit(0.01) * F.col("n")).cast("long"), F.col("value"))).alias("p01"),
        F.max(F.when(F.col("rn") == F.ceil(F.lit(0.99) * F.col("n")).cast("long"), F.col("value"))).alias("p99"),
    ).collect()[0]
    assert th.p01 == 1.0 and th.p99 == 99.0
