"""The registry's IVF near-dup self-join salt (`plans/vectors.py`): the
derived salt per bucket size, and the past-cap flag in the bucket
diagnostics."""

from __future__ import annotations


def test_ivf_self_join_salt_sizing_rule(spark):
    """r14 (VERDICT item 1): the near-dup self-join salt must be
    DERIVED from bucket size via S = clamp(ceil(n/2048), 1, 64) —
    groups targeted at HALF the SMJ in-memory threshold (the sf10 A/B:
    groups at ~4000 rows ran 1129-1148 s, groups at ~2000-2500 ran
    884 s) — pinned against synthetic bucket stats so the sizing rule
    is code, not just a docstring."""
    import pyspark.sql.functions as F

    from data_engineering_rag_spark.plans.vectors import (
        IVF_SALT_GROUP_TARGET,
        IVF_SELF_JOIN_SALT_CAP,
        SMJ_GROUP_ROWS,
        ivf_self_join_salt,
    )

    assert SMJ_GROUP_ROWS == 4096  # the SMJ in-memory buffer default
    assert IVF_SALT_GROUP_TARGET == 2048  # half: measured headroom
    cases = {
        0: 1,          # degenerate empty bucket -> no-op salt
        1: 1,
        2048: 1,       # exactly one target-size group
        2049: 2,       # first row past the target doubles the blocks
        20000: 10,     # the sf10 harness bucket (r13 measured cliff)
        131072: 64,    # largest bucket the cap still sizes to target
        200000: IVF_SELF_JOIN_SALT_CAP,  # capped: groups 3125, still under 4096
        10**9: IVF_SELF_JOIN_SALT_CAP,   # runaway bucket hits the cap
    }
    df = spark.createDataFrame([(n,) for n in cases], "n bigint").select(
        "n", ivf_self_join_salt(F.col("n")).alias("s")
    )
    got = {r.n: r.s for r in df.collect()}
    assert got == cases
    assert dict(df.dtypes)["s"] == "int"


def test_ivf_bucket_stats_past_cap_row(spark, tmp_path):
    """r16 (VERDICT r15 item 5): a bucket past CAP×TARGET rows — where
    the derived salt is pinned at its cap and salted groups grow past
    the 2048-row target (measured +36%/pair at 5k-row groups) — must
    surface as past_salt_cap=true in the diagnostics; healthy buckets
    stay false."""
    import pyspark.sql.functions as F

    from data_engineering_rag_spark.plans import REGISTRY
    from data_engineering_rag_spark.plans.vectors import IVF_BUCKET_PAST_CAP_ROWS

    assert IVF_BUCKET_PAST_CAP_ROWS == 131_072  # CAP (64) x TARGET (2048)
    over = IVF_BUCKET_PAST_CAP_ROWS + 1_000
    # label-only fixture: the diagnostics query touches nothing else,
    # so the oversized bucket costs ~1 s to synthesize
    (
        spark.range(0, over + 500)
        .select(
            F.col("id").alias("vec_id"),
            F.when(F.col("id") < over, F.lit(0)).otherwise(F.lit(1)).alias("label"),
        )
        .write.mode("overwrite")
        .parquet(str(tmp_path / "embeddings.parquet"))
    )
    rows = {r.label: r for r in REGISTRY["ivf_bucket_stats"].spark(spark, str(tmp_path)).collect()}
    assert rows[0].past_salt_cap is True and rows[0].n_vecs == over
    assert rows[1].past_salt_cap is False and rows[1].n_vecs == 500
