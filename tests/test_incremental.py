"""Incremental dedup semantics on planted duplicates (the registry query
runs on all-distinct testdata, so the dedup arithmetic is exercised
here): exact batch-vs-corpus survivors and the invariant that
incremental == from-scratch on the union."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_rag_spark.operators.incremental import dedup_incoming_exact


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_incremental_survivors(spark):
    existing = _docs(spark, [(0, "alpha"), (1, "beta")])
    incoming = _docs(spark, [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")])
    got = sorted(r.doc_id for r in dedup_incoming_exact(existing, incoming).collect())
    # alpha dropped (corpus dup); gamma keeps min id 11; delta kept
    assert got == [11, 13]


def test_incremental_equals_from_scratch(spark):
    """corpus' = corpus ∪ survivors must equal full-recompute dedup of
    corpus ∪ batch (both keep the min doc_id per text)."""
    existing = _docs(spark, [(0, "a"), (1, "b"), (2, "c")])
    incoming = _docs(spark, [(10, "b"), (11, "d"), (12, "d"), (13, "a"), (14, "e")])
    survivors = dedup_incoming_exact(existing, incoming)
    incremental = {r.doc_id for r in existing.unionByName(survivors).collect()}
    full = existing.unionByName(incoming)
    scratch = {
        r.keep for r in full.groupBy("text").agg(F.min("doc_id").alias("keep")).collect()
    }
    assert incremental == scratch
