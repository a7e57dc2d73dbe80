"""RagEngine facade: the reference workflow end-to-end through the
public API (read → prepare → index(chunk=True) → search top-5)."""

from __future__ import annotations

import zipfile

from pyspark.sql import functions as F

from data_engineering_rag_spark.api import RagEngine
from data_engineering_rag_spark.plans.ingestq import REPO_FILES


def _zip(tmp_path) -> str:
    zpath = str(tmp_path / "repo.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for p, c in REPO_FILES:
            if not p.endswith("/"):
                zf.writestr(p, c)
    return zpath


def test_reference_workflow_end_to_end(spark, tmp_path):
    eng = RagEngine(spark)
    files = eng.read_repo(_zip(tmp_path))
    corpus = eng.prepare(files)
    assert corpus.count() == 7  # parsed, filtered corpus

    idx = eng.index(corpus, chunk=True, chunking_params={"size": 50, "step": 25})
    try:
        hits = idx.search("summary checksum", k=5)
        rows = hits.collect()
        assert 0 < len(rows) <= 5
        assert {"filename", "start", "score"} <= set(hits.columns)
        # scores sorted descending
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)

        batch = idx.search_batch([(0, "summary"), (1, "welcome")], k=3)
        assert batch.where(F.col("query_id") == 0).count() <= 3
    finally:
        idx.unpersist()


def test_eval_question_api(spark, sf_dir):
    from data_engineering_rag_spark.plans import load

    eng = RagEngine(spark)
    docs = load(spark, sf_dir, "documents")
    qs = eng.generate_eval_questions(docs, sample_size=10)
    assert qs.count() == 30  # 3 per doc, reference convention
    assert qs.select("doc_id").distinct().count() == 10


def test_bm25_engine_option(spark):
    from data_engineering_rag_spark.api import Bm25Index

    eng = RagEngine(spark)
    corpus = spark.createDataFrame(
        [
            ("a.md", "spark joins shuffle data across executors"),
            ("b.md", "pandas runs on a single machine"),
            ("c.md", "broadcast joins avoid the shuffle for small tables"),
        ],
        ["filename", "content"],
    )
    idx = eng.index(corpus, engine="bm25", persist=False)
    assert isinstance(idx, Bm25Index)
    out = idx.search("shuffle joins", k=2).collect()
    assert [r.filename for r in out] == ["a.md", "c.md"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="engine"):
        eng.index(corpus, engine="lucene")


def test_rag_index_add_under_concurrent_search(spark):
    """Searches run on threads while another thread adds twice: no call
    raises, every hit list equals a search on one of the three index
    versions, and the last version serves the added chunks."""
    import sys
    import threading

    from pyspark import InheritableThread

    base = [
        (0, "spark joins shuffle the build side of a hash join"),
        (1, "window functions partition rows and order them"),
        (2, "the hash table lives in memory on each executor"),
    ]
    batches = [
        [(10, "hash join spark spark"), (11, "window window order")],
        [(20, "shuffle spark executor memory")],
    ]
    queries = ["spark hash join", "window order", "executor memory shuffle"]
    schema = "doc_id long, content string"
    chunking = {"size": 30, "step": 15}

    def hits(index, q):
        return [(r.doc_id, r.start, round(r.score, 8)) for r in index.search(q, k=3).collect()]

    eng = RagEngine(spark)
    ref = eng.index(spark.createDataFrame(base, schema), key_cols=["doc_id"],
                    text_fields=["content"], chunk=True, chunking_params=chunking)
    versions = [{q: hits(ref, q) for q in queries}]
    for batch in batches:
        ref.add(spark.createDataFrame(batch, schema))
        versions.append({q: hits(ref, q) for q in queries})
    ref.unpersist()
    assert versions[2] != versions[0]
    assert 20 in {d for d, _, _ in versions[2]["executor memory shuffle"]}

    idx = eng.index(spark.createDataFrame(base, schema), key_cols=["doc_id"],
                    text_fields=["content"], chunk=True, chunking_params=chunking)
    hits(idx, queries[0])  # collect the idf before the race
    errors, seen = [], []
    adding = threading.Event()

    def searcher(offset):
        try:
            for i in range(3):
                q = queries[(i + offset) % len(queries)]
                seen.append((q, hits(idx, q)))
                adding.set()
        except Exception as exc:  # noqa: BLE001 - the test reports it
            errors.append(exc)

    def adder():
        try:
            adding.wait(60)
            for batch in batches:
                idx.add(spark.createDataFrame(batch, schema))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    # more threads than cores, and frequent thread switches
    threads = [InheritableThread(target=searcher, args=(o,)) for o in range(4)]
    threads.append(InheritableThread(target=adder))
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(600)
    finally:
        sys.setswitchinterval(switch)
    try:
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert len(seen) == 12
        for q, got in seen:
            assert any(got == v[q] for v in versions), (q, got)
        assert {q: hits(idx, q) for q in queries} == versions[2]
        assert {r.doc_id for r in idx.docs.select("doc_id").distinct().collect()} == {
            0, 1, 2, 10, 11, 20
        }
    finally:
        idx.unpersist()


def test_rag_index_adds_keep_only_the_fit_cached(spark, tmp_path):
    """After two adds to an index the driver holds, the fit's tables are
    still cached and the adds cached nothing (their weights are local
    relations): a batch search over it succeeds after the files the
    index and the adds were read from are deleted, so it re-fits and
    re-reads nothing. ``unpersist`` then releases every block."""
    import shutil

    sc = spark.sparkContext

    def cached_rdds():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    def from_files(name, rows):
        path = str(tmp_path / name)
        spark.createDataFrame(rows, "doc_id long, content string").write.parquet(path)
        return spark.read.parquet(path)

    before = cached_rdds()
    base = [(0, "spark joins shuffle the build side"), (1, "window functions order rows")]
    idx = RagEngine(spark).index(from_files("base", base), key_cols=["doc_id"],
                                 text_fields=["content"])
    idx.search("spark").collect()
    for i, batch in enumerate([[(10, "hash join spark")], [(20, "shuffle window")]]):
        idx.add(from_files(f"add{i}", batch))
    tables = idx.model.cached
    assert len(tables) == 2  # the fit's tf and weights
    assert all(t.storageLevel.useMemory for t in tables)
    assert len(cached_rdds() - before) >= len(tables)

    shutil.rmtree(tmp_path)
    rows = idx.search_batch([(0, "spark join"), (1, "shuffle window")], k=3).collect()
    assert {r.doc_id for r in rows if r.query_id == 0} >= {0, 10}
    assert {r.doc_id for r in rows if r.query_id == 1} >= {1, 20}

    idx.unpersist()
    assert cached_rdds() - before == set()
