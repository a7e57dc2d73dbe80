"""Repo-tree / zip sources (SURVEY.md §2.1 S1/S2).

The reference streams a GitHub zip in memory and loops entries
(``zc_agent/prepare_data.py:30-69``). Spark-first equivalents:

- ``read_repo_zip`` — driver opens the archive (a zip's central
  directory is inherently single-reader), decodes entries UTF-8
  errors=ignore, and hands Spark the rows as an Arrow local relation
  (no pickled RDD). Fine for repo-sized archives; for many archives,
  parallelize the *archive list* and open each inside ``mapInPandas``
  instead.
- ``read_repo_tree`` — the scale path for on-disk corpora:
  ``binaryFile`` datasource (distributed listing + reads, pushdown of
  path filters), then a vectorized Arrow-batch decode. This is the one
  to point at 100 TB of files.

Both yield the same shape: ``(path: string, content: string)``.
"""

from __future__ import annotations

import zipfile
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

FILE_SCHEMA = StructType(
    [StructField("path", StringType(), False), StructField("content", StringType(), True)]
)


def read_repo_zip(spark: SparkSession, zip_path: str) -> DataFrame:
    """Zip archive → (path, content) DataFrame; entries that fail to
    decode are skipped (reference tolerates per-entry errors,
    ``prepare_data.py:65-67``). Directory entries are kept — the skip
    filter downstream owns that predicate, as in the reference."""
    paths, contents = [], []
    with zipfile.ZipFile(zip_path) as zf:
        for info in zf.infolist():
            try:
                text = "" if info.is_dir() else zf.read(info).decode("utf-8", errors="ignore")
            except Exception:
                continue
            paths.append(info.filename)
            contents.append(text)
    return spark.createDataFrame(pa.table({"path": paths, "content": contents}), FILE_SCHEMA)


def read_repo_tree(spark: SparkSession, root: str, glob: str = "*") -> DataFrame:
    """Distributed directory ingest via the binaryFile source + an
    Arrow-batched decode (errors=ignore needs Python; mapInPandas keeps
    it vectorized per batch, not per row)."""
    binary = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", glob)
        .load(root)
        .select("path", "content")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "content": [
                        b.decode("utf-8", errors="ignore") if b is not None else None
                        for b in pdf["content"]
                    ],
                }
            )

    return binary.mapInPandas(decode, FILE_SCHEMA)
