"""Loaders for the synthetic benchmark tables (see /root/repo/TESTDATA.md).

All tables are Parquet; reading via ``spark.read.parquet`` gets
predicate pushdown, column pruning, and partition-sized splits
(``spark.sql.files.maxPartitionBytes``) for free. At cluster scale these
would be directory-partitioned datasets; the API is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table, normalizing timestamp precision.

    ``events.ts`` is TIMESTAMP(NANOS) in Parquet, which Spark 4 refuses
    by default; we read nanos as long (legacy conf, runtime-settable)
    and truncate to µs — exactly what DuckDB's µs TIMESTAMP does, so
    both engines see identical values (FIXTURES.md note)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
