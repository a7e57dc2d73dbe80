"""Incremental (batch-over-corpus) deduplication — the shape a daily
ingest actually runs: dedup the INCOMING slice against itself and
against the already-deduped corpus, without re-touching the corpus.

At 100 TB the corpus side is a materialized table of content hashes
(16 bytes/doc) — tiny relative to the corpus, and an equi-join key.
Cost per batch is O(|batch|) plus hash-key joins; nothing rescans
corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_incoming_exact(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Surviving incoming rows after exact dedup: drop rows whose text
    hash appears in ``existing``, and keep one survivor (min key) per
    hash within the batch. Join carries md5 keys only — the corpus
    side never ships text."""
    inc_h = incoming.withColumn("_h", F.md5(F.col(text_col)))
    ex_h = existing.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    w = Window.partitionBy("_h").orderBy(F.col(key_col))
    return (
        inc_h.join(ex_h, "_h", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_h")
    )
