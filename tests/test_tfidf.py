"""X1/X2: TF-IDF arithmetic vs hand-computed sklearn-convention values
(FIXTURES.md B8) and search behavior parity with minsearch semantics."""

from __future__ import annotations

import math
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_rag_spark.operators.tfidf import (
    build_tfidf,
    search_topk,
    tokenize_query,
)

# 3 tiny docs, ~6-term vocabulary.
DOCS = [
    (0, "spark join join"),
    (1, "spark window"),
    (2, "hash join table"),
]


def expected_weights():
    # sklearn conventions: tf raw count, idf = ln((1+n)/(1+df)) + 1, L2 norm.
    n = len(DOCS)
    tokens = {d: t.split() for d, t in DOCS}
    df: dict[str, int] = {}
    for toks in tokens.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    idf = {t: math.log((1 + n) / (1 + c)) + 1 for t, c in df.items()}
    out = {}
    for d, toks in tokens.items():
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        raw = {t: c * idf[t] for t, c in tf.items()}
        norm = math.sqrt(sum(w * w for w in raw.values()))
        for t, w in raw.items():
            out[(d, t)] = w / norm
    return out, idf


def test_weights_match_closed_form(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["text"])
    got = {(r.doc_id, r.term): r.w for r in model.weights.collect()}
    exp, idf = expected_weights()
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-12, k
    got_idf = {r.term: r.idf for r in model.idf.collect()}
    for t in idf:
        assert abs(got_idf[t] - idf[t]) < 1e-12, t


def test_search_scores_are_cosines(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["text"])
    hits = {r.doc_id: r.score for r in search_topk(spark, model, "spark join", k=3).collect()}
    exp_w, idf = expected_weights()
    q_raw = {t: idf[t] for t in ["spark", "join"]}
    qn = math.sqrt(sum(w * w for w in q_raw.values()))
    qv = {t: w / qn for t, w in q_raw.items()}
    for d in (0, 1, 2):
        exp_score = sum(exp_w.get((d, t), 0.0) * qw for t, qw in qv.items())
        assert abs(hits[d] - exp_score) < 1e-12, d


def test_oov_query_terms_drop(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["text"])
    # 'zzz' is out-of-vocabulary: sklearn transform ignores it.
    with_oov = {r.doc_id: r.score for r in search_topk(spark, model, "spark zzz", k=3).collect()}
    without = {r.doc_id: r.score for r in search_topk(spark, model, "spark", k=3).collect()}
    assert with_oov == without


def test_empty_query_returns_empty(spark):
    """No in-vocabulary term (no token at all, or only OOV terms) → an
    empty result with the usual columns, and neither building nor
    collecting it runs a Spark job."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["text"], persist=True)
    model.idf_map()  # the fit's one idf collect, shared by every later search
    for i, q in enumerate(["", "...", "zzz qqqq"]):

        def run():
            hits = search_topk(spark, model, q, k=3)
            return hits.columns, hits.collect()

        (cols, rows), jobs = _jobs_in(spark, f"tfidf-noop-{i}", run)
        assert cols == ["doc_id", "score"], q
        assert rows == [], q
        assert jobs == 0, q
    model.unpersist()


def _jobs_in(spark, group: str, action):
    """Run ``action`` under a fresh job group; return (result, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tokenizer_matches_sklearn_pattern():
    # sklearn token_pattern (?u)\b\w\w+\b: 2+ word chars, maximal runs.
    assert tokenize_query("Spark JOIN a b2c x") == {"spark": 1, "join": 1, "b2c": 1}
    assert tokenize_query("a-b c_d") == {"c_d": 1}
    assert tokenize_query("") == {}


def test_two_field_boosted_search(spark):
    # minsearch sums per-field cosine × boost (Index(text_fields=[...])).
    rows = [(0, "spark join", "intro.md"), (1, "hash table", "spark.md")]
    df = spark.createDataFrame(rows, ["doc_id", "content", "filename"])
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["content", "filename"])
    plain = {r.doc_id: r.score for r in search_topk(spark, model, "spark", k=2).collect()}
    boosted = {
        r.doc_id: r.score
        for r in search_topk(spark, model, "spark", k=2, boosts={"filename": 3.0}).collect()
    }
    # doc 1 matches 'spark' only via filename → 3× the plain field score.
    assert abs(boosted[1] - 3.0 * plain[1]) < 1e-12
    assert abs(boosted[0] - plain[0]) < 1e-12  # content-only match unchanged


def test_add_documents_frozen_idf(spark):
    """Incremental add: new docs are scored with the fitted idf (sklearn
    transform semantics) — searchable immediately, OOV terms dropped,
    old weights untouched."""
    import math

    from data_engineering_rag_spark.operators.tfidf import (
        add_documents,
        build_tfidf,
        search_topk,
    )

    base = spark.createDataFrame(
        [(0, "spark shuffle join"), (1, "pandas arrow batches")], ["doc_id", "text"]
    )
    model = build_tfidf(base, key_cols=["doc_id"], text_fields=["text"])
    before = {(r.doc_id, r.term): r.w for r in model.weights.collect()}

    new = spark.createDataFrame([(7, "spark window unseenterm")], ["doc_id", "text"])
    model2 = add_documents(model, new)
    after = {(r.doc_id, r.term): r.w for r in model2.weights.collect()}

    # old weights byte-identical, new doc present, OOV term absent
    assert {k: v for k, v in after.items() if k[0] != 7} == before
    new_terms = {t for (d, t) in after if d == 7}
    assert new_terms == {"spark"}  # 'window'/'unseenterm' are OOV vs the fitted vocab
    # frozen-idf arithmetic: w = tf*idf / ||vec||; single surviving term -> w = 1.0
    assert after[(7, "spark")] == pytest.approx(1.0, abs=1e-12)

    # and the new doc is immediately searchable
    got = search_topk(spark, model2, "spark", k=3).collect()
    assert 7 in {r.doc_id for r in got}


def test_add_documents_multi_term_norm(spark):
    import math

    from data_engineering_rag_spark.operators.tfidf import add_documents, build_tfidf

    base = spark.createDataFrame(
        [(0, "alpha beta beta"), (1, "alpha gamma")], ["doc_id", "text"]
    )
    model = build_tfidf(base, key_cols=["doc_id"], text_fields=["text"])
    idf = {r.term: r.idf for r in model.idf.collect()}
    new = spark.createDataFrame([(9, "alpha beta")], ["doc_id", "text"])
    after = {(r.doc_id, r.term): r.w for r in add_documents(model, new).weights.collect()}
    wa, wb = idf["alpha"], idf["beta"]
    nrm = math.sqrt(wa * wa + wb * wb)
    assert after[(9, "alpha")] == pytest.approx(wa / nrm, abs=1e-12)
    assert after[(9, "beta")] == pytest.approx(wb / nrm, abs=1e-12)


def test_search_topk_df_self_retrieval(spark):
    """A query that IS a doc's text must retrieve that doc at rank 1
    (cosine(v, v) = 1 beats every other doc); rank column is 1..k
    per query; batch path agrees with the single-query path."""
    from data_engineering_rag_spark.operators.tfidf import search_topk_df

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"])
    queries = spark.createDataFrame(
        [(qid, text) for qid, text in DOCS], ["query_id", "qtext"]
    )
    hits = search_topk_df(model, queries, ["query_id"], "qtext", k=2).collect()

    by_query = {}
    for r in hits:
        by_query.setdefault(r.query_id, []).append(r)
    assert set(by_query) == {0, 1, 2}
    for qid, rows in by_query.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert rows[0].doc_id == qid, f"query {qid} should self-retrieve first"
        assert rows[0].score == pytest.approx(1.0, abs=1e-9)

    # Agreement with the driver-list single-query path on ordering.
    single = search_topk(spark, model, DOCS[0][1], k=2).collect()
    batch0 = [r.doc_id for r in by_query[0]]
    assert [r.doc_id for r in single] == batch0


def analyzed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_batch_queries_are_an_arrow_local_relation(spark):
    """``search_topk_batch`` hands Spark its query list as an Arrow local
    relation, not a pickled RDD (``LogicalRDD``), over a corpus that is
    one too; each query's hits are ``search_topk``'s, and an empty list
    returns no rows."""
    import pyarrow as pa

    from data_engineering_rag_spark.operators.tfidf import search_topk_batch

    docs = spark.createDataFrame(
        pa.table({"doc_id": [d for d, _ in DOCS], "text": [t for _, t in DOCS]})
    )
    model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"])
    queries = [(7, "spark join"), (8, "window"), (9, "zzz")]
    hits = search_topk_batch(spark, model, queries, k=2)
    plan = analyzed_plan(hits)
    assert "LocalRelation [query_id#" in plan, plan
    assert "LogicalRDD" not in plan, plan
    got = sorted((r.query_id, r.doc_id, r.score) for r in hits.collect())
    want = sorted(
        (qid, r.doc_id, r.score)
        for qid, q in queries
        for r in search_topk(spark, model, q, k=2).collect()
    )
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=1e-12)
    assert search_topk_batch(spark, model, [], k=2).collect() == []


def test_save_load_roundtrip(spark, tmp_path):
    """A reloaded index must serve bit-identical search results and
    preserve the fitted configuration (incl. token_mode)."""
    from data_engineering_rag_spark.operators.tfidf import load_tfidf, save_tfidf

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"], token_mode="unicode")
    path = str(tmp_path / "idx")
    save_tfidf(model, path)
    reloaded = load_tfidf(spark, path)
    assert reloaded.key_cols == ["doc_id"]
    assert reloaded.text_fields == ["text"]
    assert reloaded.token_mode == "unicode"

    q = "spark join"
    orig = [(r.doc_id, round(r.score, 12)) for r in search_topk(spark, model, q, k=3).collect()]
    back = [(r.doc_id, round(r.score, 12)) for r in search_topk(spark, reloaded, q, k=3).collect()]
    assert orig == back


def test_rerank_stub_deterministic_and_pool_only(spark):
    """The stub scorer is a pure function (same pool → same scores)
    and scoring touches exactly the candidate pool rows."""
    from data_engineering_rag_spark.operators.rerank import rerank_stub, stub_xenc_score

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    a = rerank_stub(docs, "q1", key_col="doc_id", text_col="text").collect()
    b = rerank_stub(docs, "q1", key_col="doc_id", text_col="text").collect()
    assert sorted((r.doc_id, r.xenc_score) for r in a) == sorted(
        (r.doc_id, r.xenc_score) for r in b
    )
    assert len(a) == len(DOCS)
    r0 = next(r for r in a if r.doc_id == 0)
    assert r0.xenc_score == stub_xenc_score("q1", "0", DOCS[0][1])
    # Different query → different scores (the query reaches the scorer).
    c = {r.doc_id: r.xenc_score for r in rerank_stub(docs, "q2", "doc_id", "text").collect()}
    assert any(c[r.doc_id] != r.xenc_score for r in a)


def test_min_max_df_pruning(spark):
    from data_engineering_rag_spark.operators.tfidf import build_tfidf

    # 4 docs: 'common' in all 4, 'pair' in 2, 'hapax*' in 1 each.
    df = spark.createDataFrame(
        [
            (1, "common pair hapax1"),
            (2, "common pair hapax2"),
            (3, "common hapax3"),
            (4, "common hapax4"),
        ],
        ["doc_id", "text"],
    )
    model = build_tfidf(df, ["doc_id"], ["text"], min_df=2, max_df=0.75)
    vocab = {r.term for r in model.idf.select("term").distinct().collect()}
    assert vocab == {"pair"}  # hapax dropped by min_df, 'common' (4/4 > .75) by max_df

    # pruned vectors renormalize: 'pair' alone → weight 1.0
    w = {(r.doc_id): r.w for r in model.weights.collect()}
    assert set(w) == {1, 2}
    assert all(abs(v - 1.0) < 1e-12 for v in w.values())


def test_bad_prune_params_raise(spark):
    import pytest as _pytest

    from data_engineering_rag_spark.api import RagEngine
    from data_engineering_rag_spark.operators.tfidf import merge_tf_fragments, shard_tf_fragment

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    frags = [shard_tf_fragment(df, ["doc_id"], "text")]
    fits = {
        "min_df": lambda: build_tfidf(df, ["doc_id"], ["text"], min_df=0),
        "max_df": lambda: build_tfidf(df, ["doc_id"], ["text"], max_df=0.0),
        "no key": lambda: build_tfidf(df, [], ["text"]),
        "no field": lambda: build_tfidf(df, ["doc_id"], []),
        "missing key": lambda: build_tfidf(df, ["filename"], ["text"]),
        "missing field": lambda: build_tfidf(df, ["doc_id"], ["content"]),
        # no default text field (content, filename) in the corpus
        "index": lambda: RagEngine(spark).index(df, key_cols=["doc_id"]),
        "merge": lambda: merge_tf_fragments(frags, ["doc"], "text"),
    }
    for name, fit in fits.items():

        def run():
            with _pytest.raises(ValueError):
                fit()

        _, jobs = _jobs_in(spark, f"tfidf-bad-fit-{name.replace(' ', '-')}", run)
        assert jobs == 0, name


def test_term_frequencies_match_groupby_reference(spark):
    """The narrow run-length tf (no token-stream shuffle) must emit
    exactly the rows the classic explode->groupBy(doc, term) produces —
    including unicode mode, repeated terms, and empty/token-free docs
    (which emit nothing either way)."""
    from pyspark.sql import functions as F

    from data_engineering_rag_spark.operators.tfidf import (
        _term_frequencies,
        _tokens,
        token_pattern_for,
    )

    docs = spark.createDataFrame(
        [
            (1, "the the the quick brown the fox fox"),
            (2, "alpha beta beta GAMMA gamma alpha alpha"),
            (3, ""),
            (4, "x y z"),  # all single-char: zero \w\w+ tokens
            (5, "naïve café naïve café naïve"),
        ],
        ["doc_id", "text"],
    )
    for mode in ("ascii", "unicode"):
        pat = token_pattern_for(mode)
        ref = (
            _tokens(docs, ["doc_id"], "text", pat)
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        got = _term_frequencies(docs, ["doc_id"], "text", pat)
        diff = (
            ref.alias("a")
            .join(got.alias("b"), ["doc_id", "term"], "full")
            .where("a.tf IS DISTINCT FROM b.tf")
            .count()
        )
        assert diff == 0, mode


def test_merged_fragments_equal_direct_build(spark):
    """Shard-then-merge must be indistinguishable from one build:
    identical vocab/idf, weights equal to float precision."""
    from data_engineering_rag_spark.operators.tfidf import (
        build_tfidf,
        merge_tf_fragments,
        shard_tf_fragment,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data across the cluster"),
            (2, "the cluster runs spark jobs"),
            (3, "duckdb runs on one node"),
            (4, "one node is enough for small data"),
        ],
        "doc_id long, content string",
    )
    direct = build_tfidf(docs, ["doc_id"], ["content"])
    frags = [
        shard_tf_fragment(docs.where(F.col("doc_id") % 2 == i), ["doc_id"], "content")
        for i in (0, 1)
    ]
    merged = merge_tf_fragments(frags, ["doc_id"], "content")

    d_idf = {(r.term): r.idf for r in direct.idf.collect()}
    m_idf = {(r.term): r.idf for r in merged.idf.collect()}
    assert d_idf == m_idf  # integer df/N inputs -> bit-identical idf

    d_w = {(r.doc_id, r.term): r.w for r in direct.weights.collect()}
    m_w = {(r.doc_id, r.term): r.w for r in merged.weights.collect()}
    assert d_w.keys() == m_w.keys()
    assert all(abs(d_w[k] - m_w[k]) < 1e-12 for k in d_w)


def test_merge_prunes_on_global_df_not_shard_df(spark):
    """A term hapax in EVERY shard but present across shards has
    global df=2 — min_df=2 must keep it after the merge (per-shard
    pruning would have dropped it; that's why fragments carry tf, not
    pruned models)."""
    from data_engineering_rag_spark.operators.tfidf import (
        merge_tf_fragments,
        shard_tf_fragment,
    )

    docs = spark.createDataFrame(
        [(1, "zebra alpha alpha"), (2, "zebra beta beta")],
        "doc_id long, content string",
    )
    frags = [
        shard_tf_fragment(docs.where(F.col("doc_id") == i), ["doc_id"], "content")
        for i in (1, 2)
    ]
    merged = merge_tf_fragments(frags, ["doc_id"], "content", min_df=2)
    vocab = {r.term for r in merged.idf.collect()}
    assert vocab == {"zebra"}  # alpha/beta are global hapax; zebra survives


def test_tfidf_reuse_mode_memoizes_and_matches(spark, monkeypatch):
    """r13 (VERDICT r12 item 4): with SPARK_GRAFT_TFIDF_REUSE=1 the
    eight docs-model consumers share ONE persisted index per
    (session, sf_dir) — and the reused results are byte-identical to
    the self-contained default. Default (env unset) must not memoize:
    every registered query stays oracle-self-contained."""
    from data_engineering_rag_spark.plans import REGISTRY, rag

    sf = "/root/testdata/sf0.001"
    base_weights = REGISTRY["tfidf_doc_weights"].spark(spark, sf).collect()
    base_rocchio = REGISTRY["tfidf_search_rocchio"].spark(spark, sf).collect()
    assert rag._TFIDF_MEMO == {}, "default mode must not populate the memo"

    monkeypatch.setenv("SPARK_GRAFT_TFIDF_REUSE", "1")
    try:
        w1 = REGISTRY["tfidf_doc_weights"].spark(spark, sf).collect()
        assert (spark, sf, "docs") in rag._TFIDF_MEMO
        model = rag._TFIDF_MEMO[(spark, sf, "docs")]
        r1 = REGISTRY["tfidf_search_rocchio"].spark(spark, sf).collect()
        # second consumer reused the SAME model object (no rebuild)
        assert rag._TFIDF_MEMO[(spark, sf, "docs")] is model
        assert sorted(map(tuple, w1)) == sorted(map(tuple, base_weights))
        assert sorted(map(tuple, r1)) == sorted(map(tuple, base_rocchio))
    finally:
        for m in rag._TFIDF_MEMO.values():
            m.unpersist()
        rag._TFIDF_MEMO.clear()


def test_tfidf_memo_evicts_other_scopes_and_clears(spark, monkeypatch):
    """r14 ADVICE: the reuse memo must not grow without bound across
    sf_dirs — inserting a model for a new (session, sf_dir) evicts and
    unpersists every other scope's entries, and clear_tfidf_memo()
    empties the memo entirely (the between-bench-legs hook)."""
    from data_engineering_rag_spark.plans import REGISTRY, rag

    monkeypatch.setenv("SPARK_GRAFT_TFIDF_REUSE", "1")
    try:
        REGISTRY["tfidf_doc_weights"].spark(spark, "/root/testdata/sf0.001").collect()
        assert (spark, "/root/testdata/sf0.001", "docs") in rag._TFIDF_MEMO
        old_model = rag._TFIDF_MEMO[(spark, "/root/testdata/sf0.001", "docs")]
        REGISTRY["tfidf_doc_weights"].spark(spark, "/root/testdata/sf0.01").collect()
        # the old scope's entry is gone and its tables unpersisted
        assert (spark, "/root/testdata/sf0.001", "docs") not in rag._TFIDF_MEMO
        assert not old_model.weights.is_cached
        assert (spark, "/root/testdata/sf0.01", "docs") in rag._TFIDF_MEMO
        new_model = rag._TFIDF_MEMO[(spark, "/root/testdata/sf0.01", "docs")]
        rag.clear_tfidf_memo()
        assert rag._TFIDF_MEMO == {}
        assert not new_model.weights.is_cached
    finally:
        rag.clear_tfidf_memo()


def _join_path_search(spark, model, query, k, boosts):
    """The former scoring plan: query-term table ⋈ idf → per-field
    norm → broadcast join with the weights → sum per key."""
    counts = tokenize_query(query, model.token_mode)
    qt = spark.createDataFrame([(t, float(c)) for t, c in counts.items()], ["term", "qtf"])
    q = qt.join(model.idf, "term").select(
        "field", "term", (F.col("qtf") * F.col("idf")).alias("qw_raw")
    )
    qnorm = q.groupBy("field").agg(F.sqrt(F.sum(F.col("qw_raw") * F.col("qw_raw"))).alias("qn"))
    qvec = q.join(qnorm, "field").select("field", "term", (F.col("qw_raw") / F.col("qn")).alias("qw"))
    boost = F.lit(1.0)
    for fname, b in boosts.items():
        boost = F.when(F.col("field") == fname, F.lit(float(b))).otherwise(boost)
    return {
        r.doc_id: r.score
        for r in model.weights.join(F.broadcast(qvec), ["field", "term"])
        .groupBy(*model.key_cols)
        .agg(F.sum(F.col("w") * F.col("qw") * boost).alias("score"))
        .orderBy(F.round("score", 8).desc(), "doc_id")
        .limit(k)
        .collect()
    }


def test_two_field_boosts_match_join_path(spark):
    """Two fields with boosts, query terms that each occur in only one
    field: the filtered scan scores every hit like the join path, and no
    key without a matching (field, term) row shows up (no null score)."""
    rows = [
        (0, "spark join join", "intro.md"),
        (1, "hash table", "spark.md"),
        (2, "window frames", "notes.md"),
        (3, "table scan", "join.md"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "content", "filename"])
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["content", "filename"])
    for q, boosts in [
        ("spark", {"filename": 3.0}),
        ("join md", {"content": 2.0, "filename": 0.5}),
        ("table intro", {}),
        ("frames", {"filename": 3.0}),
    ]:
        got = {r.doc_id: r.score for r in search_topk(spark, model, q, k=10, boosts=boosts).collect()}
        want = _join_path_search(spark, model, q, 10, boosts)
        assert set(got) == set(want), q
        assert all(s is not None for s in got.values()), q
        for d in want:
            assert got[d] == pytest.approx(want[d], abs=1e-12), (q, d)


def test_search_is_one_job_before_and_after_adds(spark, monkeypatch):
    """A Spark search over a materialized model served from Spark (over
    ``MAX_DRIVER_POSTING_BYTES`` from its fit) runs exactly one job.
    Its adds share the fit's cached tables and persist nothing: each
    delta is a local relation in the union, so a search after them adds
    an exchange, and its job count is the same after one add as after
    three, with the hits the driver finds over the same weights."""
    from data_engineering_rag_spark.operators import tfidf

    monkeypatch.setattr(tfidf, "MAX_DRIVER_POSTING_BYTES", 0)
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"], persist=True)
    model.weights.count()
    search_topk(spark, model, "spark join", k=2).collect()  # collects the idf once
    assert model.driver_postings.get() is None
    hits, jobs = _jobs_in(
        spark, "tfidf-one-job-0", lambda: search_topk(spark, model, "spark join", k=2).collect()
    )
    assert jobs == 1
    assert [r.doc_id for r in hits] == [0, 1]
    models, jobs = [model], []
    for i, text in enumerate(["spark spark", "join table", "hash spark"]):
        new = spark.createDataFrame([(10 + i, text)], "doc_id long, text string")
        models.append(tfidf.add_documents(models[-1], new))
        search_topk(spark, models[-1], "spark join", k=3).collect()  # warm
        hits, n = _jobs_in(
            spark, f"tfidf-one-job-{i + 1}",
            lambda: search_topk(spark, models[-1], "spark join", k=3).collect(),
        )
        jobs.append(n)
    latest = models[-1]
    assert latest.cached is model.cached
    assert latest.driver_postings.get() is None
    assert jobs[0] == jobs[2], jobs
    assert [r.doc_id for r in hits] == [0, 10, 1]  # ties at the k boundary: key asc
    assert hits[1].score == pytest.approx(1 / 2**0.5, abs=1e-12)  # 'spark' alone, w = 1
    local = tfidf.search_topk_local(spark, latest, "spark join", k=3).collect()
    assert [r.doc_id for r in local] == [r.doc_id for r in hits]
    latest.unpersist()  # the fit's tables, which every add shares


def test_spark_search_jobs_do_not_grow_with_local_adds(spark):
    """On a model the driver holds, an add's delta is a local relation,
    which is not hash-partitioned on the key, so a Spark search over the
    union adds an exchange to the one job a search over the cached fit
    runs; its job count is the same after one add as after three, and
    it finds the same hits as the driver."""
    from data_engineering_rag_spark.operators.tfidf import add_documents, search_topk_local

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"], persist=True)
    search_topk_local(spark, model, "spark join", k=2).collect()  # collects idf and postings
    hits, n = _jobs_in(
        spark, "tfidf-fit-search",
        lambda: search_topk(spark, model, "spark join", k=2).collect(),
    )
    assert n == 1
    assert [r.doc_id for r in hits] == [0, 1]
    models, jobs = [model], []
    for i, text in enumerate(["spark spark", "join table", "hash spark"]):
        new = spark.createDataFrame([(10 + i, text)], "doc_id long, text string")
        models.append(add_documents(models[-1], new))
        search_topk(spark, models[-1], "spark join", k=3).collect()  # warm
        hits, n = _jobs_in(
            spark, f"tfidf-local-adds-{i}",
            lambda: search_topk(spark, models[-1], "spark join", k=3).collect(),
        )
        jobs.append(n)
    latest = models[-1]
    assert latest.driver_postings.get() is not None
    assert jobs[0] == jobs[2], jobs
    assert [r.doc_id for r in hits] == [0, 10, 1]
    local = search_topk_local(spark, latest, "spark join", k=3).collect()
    assert [r.doc_id for r in local] == [r.doc_id for r in hits]
    latest.unpersist()


def test_add_is_one_job_on_a_driver_held_model(spark, monkeypatch):
    """Once the idf is on the driver, an add runs exactly one Spark job
    (the collect of the new docs' term counts), persists nothing, and
    serves the new docs on the driver: extending the fit's postings if a
    driver search collected them, else collecting its own weights on its
    first driver search. A model over ``MAX_DRIVER_POSTING_BYTES`` from
    its fit adds in the same one job and shares the fit's cached tables
    too."""
    from data_engineering_rag_spark.operators import tfidf

    cap_now = tfidf.MAX_DRIVER_POSTING_BYTES
    for cap, searched in [(cap_now, True), (0, True), (cap_now, False)]:
        monkeypatch.setattr(tfidf, "MAX_DRIVER_POSTING_BYTES", cap)
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"], persist=True)
        if searched:
            # collects the idf, and the postings while the driver may hold them
            tfidf.search_topk_local(spark, model, "spark join", k=2).collect()
        else:
            model.idf_map()
        latest = model
        for i, text in enumerate(["spark spark", "join table window"]):
            new = spark.createDataFrame([(10 + i, text)], "doc_id long, text string")
            latest, jobs = _jobs_in(
                spark, f"tfidf-add-{cap}-{searched}-{i}", lambda: tfidf.add_documents(latest, new)
            )
            assert jobs == 1, (cap, searched, i)
            assert latest.cached is model.cached
        assert latest.driver_postings.ready == searched
        if cap:
            assert latest.driver_postings.get() is not None
            rows = _assert_local_equals_spark(spark, latest, "spark window", 5)
        else:
            assert latest.driver_postings.get() is None
            rows = search_topk(spark, latest, "spark window", k=5).collect()
        assert {r.doc_id for r in rows} >= {10, 11}, cap
        latest.unpersist()


def test_add_of_only_oov_or_empty_docs_serves_the_same_index(spark):
    """An add whose docs have only OOV terms or no text gives a model
    whose driver search equals ``search_topk`` with no Spark job."""
    from data_engineering_rag_spark.operators.tfidf import add_documents, search_topk_local

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"], persist=True)
    search_topk_local(spark, model, "spark", k=1).collect()
    new = spark.createDataFrame(
        [(10, "zzz qqqq"), (11, ""), (12, None), (13, "a b c")], "doc_id long, text string"
    )
    latest = add_documents(model, new)
    assert latest.driver_postings.get() is not None
    for q in ["spark join", "hash table window"]:
        rows = _assert_local_equals_spark(spark, latest, q, 5)
        assert {r.doc_id for r in rows} <= {0, 1, 2}, q
    assert latest.weights.where("doc_id >= 10").count() == 0
    latest.unpersist()


def test_add_normalizes_a_repeated_key_as_the_spark_window_does(spark, monkeypatch):
    """A batch that repeats a key is L2-normalized over all of the key's
    rows in a field, as the Spark norm window over the key does: over
    two text fields, the added weights equal the fit's own arithmetic
    (``_normalized_weights`` over the batch's ``_term_frequencies`` and
    the fitted idf, per field), on a driver-held model and on one
    served from Spark, and the driver search equals the Spark one."""
    from data_engineering_rag_spark.operators import tfidf

    schema = "doc_id long, text string, filename string"
    docs = spark.createDataFrame([(d, t, f"{t.split()[0]}.md") for d, t in DOCS], schema)
    batch = spark.createDataFrame(
        [(5, "spark join", "join.md"), (5, "spark table", "spark.md"),
         (6, "hash hash", None), (6, "zzz", "hash.md")],
        schema,
    )

    def rows_of(weights):
        return sorted((r.field, r.doc_id, r.term, r.w) for r in weights.collect())

    for cap in [tfidf.MAX_DRIVER_POSTING_BYTES, 0]:
        monkeypatch.setattr(tfidf, "MAX_DRIVER_POSTING_BYTES", cap)
        model = build_tfidf(
            docs, key_cols=["doc_id"], text_fields=["text", "filename"], persist=True
        )
        model.idf_map()
        latest = tfidf.add_documents(model, batch)
        assert (latest.driver_postings.get() is None) == (cap == 0)
        got = rows_of(latest.weights.where("doc_id >= 5"))
        want = rows_of(reduce(DataFrame.unionByName, [
            tfidf._normalized_weights(
                tfidf._term_frequencies(batch, ["doc_id"], f),
                model.idf.where(F.col("field") == f).drop("field"), ["doc_id"], f,
            )
            for f in model.text_fields
        ]))
        assert [r[:3] for r in got] == [r[:3] for r in want], cap
        text5 = [r for r in got if r[:2] == ("text", 5)]
        assert [r[2] for r in text5] == ["join", "spark", "spark", "table"]
        assert {r[0] for r in got} == {"text", "filename"}
        for g, w in zip(got, want):
            assert g[3] == pytest.approx(w[3], abs=1e-12), (cap, g)
        assert sum(r[3] ** 2 for r in text5) == pytest.approx(1.0, abs=1e-12)
        if cap:
            _assert_local_equals_spark(spark, latest, "spark table md", 5)
        latest.unpersist()


def test_idf_map_collected_once_under_concurrent_first_searches(spark, monkeypatch):
    """Threads racing on a fresh model's first search all get the same
    driver idf dict and the same posting segments: each is collected
    once, under the model's lock."""
    import sys
    import threading

    from pyspark import InheritableThread

    from data_engineering_rag_spark.operators import tfidf

    collected = []
    collect = tfidf._collect_segment
    monkeypatch.setattr(
        tfidf, "_collect_segment", lambda *a: collected.append(1) or collect(*a)
    )
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    model = build_tfidf(df, key_cols=["doc_id"], text_fields=["text"])
    start = threading.Barrier(6)
    got, segments = [], []

    def first_search():
        start.wait(60)
        got.append(model.idf_map())
        segments.append(model.driver_postings.get())

    threads = [InheritableThread(target=first_search) for _ in range(6)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 6 and all(m is got[0] for m in got)
    assert collected == [1]
    assert len(segments) == 6 and all(s is segments[0] for s in segments)
    assert segments[0] is not None and len(segments[0]) == 1
    _, idf = expected_weights()
    assert got[0] == pytest.approx({("text", t): v for t, v in idf.items()}, abs=1e-12)


def _assert_local_equals_spark(spark, model, query, k, boosts=None):
    """``search_topk_local`` returns ``search_topk``'s rows in its order
    (scores within 1e-12), columns and types, and runs no Spark job."""
    from data_engineering_rag_spark.operators.tfidf import search_topk_local

    want = search_topk(spark, model, query, k=k, boosts=boosts)
    wrows = want.collect()

    def run():
        df = search_topk_local(spark, model, query, k=k, boosts=boosts)
        return df.dtypes, df.collect()

    group = f"tfidf-local-{abs(hash((query, k, str(boosts), id(model))))}"
    (dtypes, rows), jobs = _jobs_in(spark, group, run)
    assert jobs == 0, query
    assert dtypes == want.dtypes, query
    key = lambda r: tuple(r[c] for c in model.key_cols)  # noqa: E731
    assert [key(r) for r in rows] == [key(r) for r in wrows], query
    for got, exp in zip(rows, wrows):
        assert got.score == pytest.approx(exp.score, abs=1e-12), (query, key(got))
    return rows


def test_local_search_equals_spark_search(spark):
    """Driver-side search equals ``search_topk`` on the same model: two
    boosted fields, the default ``(filename, start)`` key of a chunked
    index, unicode tokens, queries with no in-vocabulary term, and k
    above the number of matches."""
    from data_engineering_rag_spark.api import RagEngine
    from data_engineering_rag_spark.operators.tfidf import search_topk_local

    rows = [
        (0, "spark join join", "intro.md"),
        (1, "hash table", "spark.md"),
        (2, "window frames", "notes.md"),
        (3, "table scan", "join.md"),
    ]
    model = build_tfidf(
        spark.createDataFrame(rows, ["doc_id", "content", "filename"]),
        key_cols=["doc_id"], text_fields=["content", "filename"], persist=True,
    )
    search_topk_local(spark, model, "spark", k=1).collect()  # first search collects
    for q, boosts in [
        ("spark", {"filename": 3.0}),
        ("join md", {"content": 2.0, "filename": 0.5}),
        ("table intro", {}),
        ("frames", {"filename": 3.0}),
    ]:
        assert _assert_local_equals_spark(spark, model, q, 10, boosts), q
    for q in ["", "...", "zzz qqqq"]:
        assert _assert_local_equals_spark(spark, model, q, 3) == [], q
    assert len(_assert_local_equals_spark(spark, model, "table", 10)) == 2
    model.unpersist()

    corpus = spark.createDataFrame(
        [
            ("a.md", "spark joins shuffle data across executors and spark sorts it"),
            ("b.md", "pandas runs on a single machine, no shuffle"),
            ("c.md", "broadcast joins avoid the shuffle for small tables"),
        ],
        ["filename", "content"],
    )
    idx = RagEngine(spark).index(corpus, chunk=True, chunking_params={"size": 20, "step": 10})
    assert idx.model.key_cols == ["filename", "start"]
    idx.search("spark").collect()
    for q in ["spark shuffle", "joins md", "shuffle", "b md machine"]:
        assert _assert_local_equals_spark(spark, idx.model, q, 4), q
    idx.unpersist()

    uni = spark.createDataFrame(
        [(0, "café crème brûlée"), (1, "Москва café"), (2, "naïve café au lait")],
        ["doc_id", "text"],
    )
    model = build_tfidf(uni, key_cols=["doc_id"], text_fields=["text"], token_mode="unicode")
    search_topk_local(spark, model, "café", k=1).collect()
    for q in ["café", "москва crème", "naïve lait"]:
        assert _assert_local_equals_spark(spark, model, q, 3), q
    model.unpersist()


def test_local_search_sums_segments_across_adds(spark):
    """After three adds, one of which re-adds an indexed key, the driver
    sums a key over every segment it is in, as the Spark path does, and
    serves every model version from its own segments."""
    from data_engineering_rag_spark.operators.tfidf import add_documents, search_topk_local

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    models = [build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"], persist=True)]
    search_topk_local(spark, models[0], "spark", k=1).collect()
    for batch in [[(10, "spark spark")], [(1, "join table"), (11, "hash")], [(12, "window join")]]:
        new = spark.createDataFrame(batch, "doc_id long, text string")
        models.append(add_documents(models[-1], new))
    for m in models:
        for q in ["spark join", "join", "table hash window", "spark"]:
            _assert_local_equals_spark(spark, m, q, 10)
    latest = models[-1]
    assert len(latest.driver_postings.get()) == 4
    # doc 1 is in the fit ("spark window") and in the second add ("join table")
    before, after = (
        {r.doc_id: r.score for r in search_topk_local(spark, m, "spark join", k=10).collect()}
        for m in (models[0], latest)
    )
    assert after[1] > before[1] + 0.1
    latest.unpersist()


def test_local_search_serves_null_key_parts(spark):
    """Keys with null parts group and order as in Spark: ``(null, "x")``
    and ``("x", null)`` stay two keys, a null-keyed doc re-added by an
    add sums across segments, and every search equals ``search_topk``
    with no Spark job."""
    from data_engineering_rag_spark.operators.tfidf import add_documents, search_topk_local

    schema = "a string, b string, text string"
    docs = spark.createDataFrame(
        [(None, "x", "spark join"), ("x", None, "spark window"), ("y", "z", "hash join")], schema
    )
    model = build_tfidf(docs, key_cols=["a", "b"], text_fields=["text"], persist=True)
    search_topk_local(spark, model, "spark", k=1).collect()  # first search collects
    for q in ["spark", "join", "spark join window hash"]:
        assert _assert_local_equals_spark(spark, model, q, 3), q
    readded = spark.createDataFrame([(None, "x", "join table")], schema)
    latest = add_documents(model, readded)
    for q in ["join", "spark join table"]:
        rows = _assert_local_equals_spark(spark, latest, q, 3)
        assert (None, "x") in [(r.a, r.b) for r in rows], q
    latest.unpersist()


def test_one_arrow_collect_per_segment(spark, monkeypatch):
    """A model's first search collects the fit's segment with one
    ``toArrow`` (the idf collect and the size count are other actions),
    an add collects its delta with one, and later searches with none."""
    from data_engineering_rag_spark.operators.tfidf import add_documents, search_topk_local

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"], persist=True)
    calls = []
    to_arrow = type(docs).toArrow
    monkeypatch.setattr(type(docs), "toArrow", lambda df: calls.append(1) or to_arrow(df))
    search_topk_local(spark, model, "spark join", k=2).collect()
    assert len(calls) == 1
    search_topk_local(spark, model, "hash", k=2).collect()
    assert len(calls) == 1
    new = spark.createDataFrame([(10, "spark hash")], "doc_id long, text string")
    latest = add_documents(model, new)
    assert len(calls) == 2
    rows = search_topk_local(spark, latest, "spark hash", k=2).collect()
    assert len(calls) == 2
    assert rows[0].doc_id == 10
    latest.unpersist()


def test_local_search_merges_key_fields_that_differ_across_segments(spark):
    """A segment's key fields keep the nullability and integer width of
    the table it was collected from: a fit over non-null keys, then adds
    with nullable keys (and a wider integer key), are summed across
    segments and equal ``search_topk`` with no Spark job."""
    from data_engineering_rag_spark.operators.tfidf import add_documents, search_topk_local

    texts = F.array(*[F.lit(t) for _, t in DOCS])
    ids = spark.range(len(DOCS))
    docs = ids.select(
        F.format_string("doc-%d.md", "id").alias("filename"),
        F.col("id").cast("int").alias("n"),
        F.element_at(texts, F.col("id").cast("int") + 1).alias("text"),
    )
    assert not docs.schema["filename"].nullable and not docs.schema["n"].nullable
    model = build_tfidf(docs, key_cols=["filename"], text_fields=["text"], persist=True)
    search_topk_local(spark, model, "spark", k=1).collect()  # first search collects
    new = spark.createDataFrame(
        [("doc-1.md", "join table"), ("doc-9.md", "spark hash")], "filename string, text string"
    )
    latest = add_documents(model, new)
    for q in ["spark join", "join table", "table"]:
        rows = _assert_local_equals_spark(spark, latest, q, 5)
        assert "doc-1.md" in [r.filename for r in rows], q
    latest.unpersist()

    model = build_tfidf(docs, key_cols=["n"], text_fields=["text"], persist=True)
    search_topk_local(spark, model, "spark", k=1).collect()
    latest = add_documents(model, spark.createDataFrame([(1, "join table")], "n long, text string"))
    for q in ["spark join", "join table"]:
        assert _assert_local_equals_spark(spark, latest, q, 5), q
    latest.unpersist()


def test_local_search_over_the_size_limit_runs_in_spark(spark, monkeypatch):
    """A model whose postings exceed ``MAX_DRIVER_POSTING_BYTES`` is not
    collected: its searches run ``search_topk``, with equal results. A
    string key counts its width, and an add that takes the postings
    over the cap moves the new model to Spark."""
    from data_engineering_rag_spark.operators import tfidf

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    n_postings = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"]).weights.count()
    # room for exactly these postings with an int64 key: 8 B key + 8 B weight
    monkeypatch.setattr(tfidf, "MAX_DRIVER_POSTING_BYTES", 16 * n_postings)
    model = build_tfidf(docs, key_cols=["doc_id"], text_fields=["text"], persist=True)
    model.idf_map()
    assert model.driver_postings.get() is not None
    latest = tfidf.add_documents(model, spark.createDataFrame([(10, "spark hash")], docs.schema))
    named = docs.select(F.format_string("%030d", "doc_id").alias("filename"), "text")
    wide = build_tfidf(named, key_cols=["filename"], text_fields=["text"], persist=True)
    for m in (latest, wide):
        m.idf_map()
        want = search_topk(spark, m, "spark join", k=2).collect()
        got, jobs = _jobs_in(
            spark, f"tfidf-local-limit-{id(m)}",
            lambda m=m: tfidf.search_topk_local(spark, m, "spark join", k=2).collect(),
        )
        assert m.driver_postings.get() is None
        assert jobs >= 1
        assert got == want
    latest.unpersist()
    wide.unpersist()
