"""Physical-layout utilities: bucketed joins must plan WITHOUT a
shuffle; salted joins must match the plain join's results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_rag_spark.operators.scale import salted_join, write_bucketed
from data_engineering_rag_spark.plans import load


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped on teardown.
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        n_buckets=8,
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    t1, t2 = bucketed_tables
    joined = spark.table(t1).join(spark.table(t2), "o_orderkey")
    # disable broadcast so the join strategy is actually sort-merge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _physical_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert "SortMergeJoin" in plan
    # co-located buckets → no Exchange on either side of the join
    assert "Exchange hashpartitioning" not in plan, plan


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_totalprice"
    )
    plain = li.join(o, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    salted = salted_join(li, o, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    assert sorted((r.k, r.n) for r in plain.collect()) == sorted(
        (r.k, r.n) for r in salted.collect()
    )


def test_salted_left_join_matches(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"), "c_name")
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"), "o_totalprice")
    plain = c.join(o, "k", "left").groupBy("k").agg(F.count("o_totalprice").alias("n"))
    salted = salted_join(c, o, "k", how="left").groupBy("k").agg(
        F.count("o_totalprice").alias("n")
    )
    assert sorted((r.k, r.n) for r in plain.collect()) == sorted(
        (r.k, r.n) for r in salted.collect()
    )


def test_salted_join_rejects_right_preserving(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(c, o, "k", how=how)


def test_durable_checkpoint_reliable_dir(spark, sf_dir, tmp_path, monkeypatch):
    from data_engineering_rag_spark.operators.scale import durable_checkpoint

    d = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", d)
    df = load(spark, sf_dir, "nation").select("n_nationkey")
    out = durable_checkpoint(df)
    assert out.count() == df.count()
    # reliable checkpoint actually wrote files into the requested dir
    import os

    assert any(os.scandir(d)), "checkpoint dir is empty"


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling: with AQE skew-join on and thresholds
    sized to the fixture, a hot join key must be SPLIT at runtime
    (the executed adaptive plan marks the sort-merge join side
    skew=true) — the engine-level safety net behind the explicit
    salted_join, exercised end-to-end rather than assumed from conf."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.join.preferSortMergeJoin": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot key 0 carries 200k rows (~several MB post-shuffle);
        # 50 cold keys carry one row each
        left = (
            spark.range(0, 200_000)
            .select(F.lit(0).cast("long").alias("k"), F.col("id").alias("v"))
            .union(spark.range(1, 51).select(F.col("id").alias("k"), F.col("id").alias("v")))
        )
        right = spark.range(0, 51).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        joined = left.join(right, "k")
        # collect() executes THIS dataframe's plan (count() would build
        # its own), so the adaptive plan below is the final one
        assert len(joined.collect()) == 200_000 + 50
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
