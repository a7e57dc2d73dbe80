"""Physical-layout utilities for cluster scale (SURVEY.md §4.2 and the
100 TB north star): durable checkpoints, skew salting, a scan-parallelism
guard, and global ranks and per-group windows that avoid a single-partition
exchange. These don't add query semantics — they shape WHERE data lives
so the semantic operators stop shuffling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def durable_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize + truncate lineage, with a durability knob.

    ``localCheckpoint`` (the default) writes to executor-local disk:
    right for local[32] and for short jobs, but on a real cluster an
    executor loss mid-job discards the blocks and kills iterative
    consumers. Setting ``SPARK_GRAFT_CHECKPOINT_DIR`` switches to
    reliable ``checkpoint()`` into that (HDFS/S3) directory — the
    100 TB story for anything iterative or reused across stages."""
    checkpoint_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if checkpoint_dir:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: explode the SMALL side n_salts×, salt
    the big side's key uniformly, join on (key, salt). A single hot key
    spreads over n_salts tasks instead of melting one executor.

    AQE's skew-join split handles moderate skew automatically; explicit
    salting is for the pathological case (one key = 30% of rows) where
    even a split partition exceeds memory. Columns keep their names;
    the salt is internal.

    This is ONE of the repo's two salting idioms (r15, VERDICT item 6)
    — know which problem you have:

    - THIS helper: a two-table equi-join where one key is HOT. The
      salt is random, the fixed ``n_salts`` only spreads task load,
      and the small side pays an n_salts× explode — sizing it from
      group-row counts would buy nothing because the hot key's group
      still streams (only one side is buffered per key).
    - A SELF-join on a LOW-CARDINALITY key (every key is a "bucket"
      and the SMJ buffers each right-side key group in memory):
      use the salted TRIANGLE decomposition with a DERIVED per-bucket
      salt instead — ``plans/vectors.py::ivf_self_join_salt`` sizes
      S from the bucket's own row count so buffered groups stay at
      half the ~4096-row sortMergeJoinExec in-memory threshold (the
      measured cliff). A fixed ``n_salts`` there either under-salts
      big buckets (cliff returns at scale) or over-explodes small
      ones.

    Only left-preserving joins are valid: the right side is exploded
    n_salts×, so 'right'/'full'/'outer' would emit each unmatched
    right-side row n_salts times. ('left_anti'/'left_semi' are fine —
    the exploded side covers every salt for a present key.)"""
    allowed = {"inner", "left", "left_outer", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in allowed}:
        raise ValueError(
            f"salted_join supports left-preserving joins only {sorted(allowed)}; "
            f"got how={how!r} (unmatched right rows would be duplicated n_salts times)"
        )
    salt = (F.abs(F.hash(F.monotonically_increasing_id())) % n_salts).alias("_salt")
    left_salted = left.withColumn("_salt", salt)
    right_exploded = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = left_salted.join(right_exploded, [key, "_salt"], how)
    return joined.drop("_salt")


class ScanParallelismWarning(UserWarning):
    """A heavy plan's input scan has too few partitions to parallelize
    (typically a single small parquet file). Named so tests and hosts
    can ``filterwarnings`` on it specifically."""


_SCAN_PARTITIONS_MEMO: dict = {}  # (session id, semanticHash, parallelism) -> int

SCAN_PARALLELISM_FLOOR_DIVISOR = 2  # floor = defaultParallelism // 2:
# low enough that any reasonably-laid-out multi-file input passes
# untouched (zero plan change), high enough that a single-file corpus
# gets real parallelism before the explode/self-join fan-out.


def ensure_scan_parallelism(
    df: DataFrame, min_partitions: int | None = None, label: str = "input"
) -> DataFrame:
    """Guard a heavy self-join/explode plan's input against single-file
    scan serialization (r15 probe, PERFORMANCE.md): parallelism starts
    at the SCAN — one small parquet file is ONE scan partition, and the
    plan AQE picks on the tiny highly-compressible replicated shuffle
    keeps that one-partition layout through the join, pinning the
    entire wall to one core (measured 989.7 s vs 55.9 s for the
    IDENTICAL salted self-join, single-file vs 32-file fixture; the
    salt is powerless if the scan never parallelizes).

    If the plan's current partition count is below the floor
    (``defaultParallelism // 2`` unless given), emit a
    :class:`ScanParallelismWarning` — the layout itself is the defect
    a tenant should fix at write time — and round-robin
    ``repartition`` to the floor so the job still runs at full width.
    Inputs that already parallelize are returned UNCHANGED (same
    object, zero plan delta); the check costs one physical-planning
    pass of ``df`` and runs no job, so call it on the narrow
    post-projection frame, before the fan-out.

    r17 (VERDICT r16 item 8): the partition-count probe is MEMOIZED
    per (session, semantic plan, parallelism) — ``df.rdd`` builds the
    whole physical translation per call, and the guarded kernels sit
    under multi-consumer queries that construct the same scan several
    times per session (bench reps, fan-out consumers). The memo stores
    an integer of layout metadata, never rows or results; the
    repartition itself still executes in full on every run."""
    import warnings

    spark = df.sparkSession
    if min_partitions is None:
        min_partitions = max(
            2, spark.sparkContext.defaultParallelism // SCAN_PARALLELISM_FLOOR_DIVISOR
        )
    key = None
    try:
        key = (id(spark), df.semanticHash(), spark.sparkContext.defaultParallelism)
    except Exception:
        pass  # semanticHash unavailable → probe uncached
    if key is not None and key in _SCAN_PARTITIONS_MEMO:
        current = _SCAN_PARTITIONS_MEMO[key]
    else:
        current = df.rdd.getNumPartitions()
        if key is not None:
            if len(_SCAN_PARTITIONS_MEMO) >= 256:  # bound: ints, but still
                _SCAN_PARTITIONS_MEMO.clear()
            _SCAN_PARTITIONS_MEMO[key] = current
    if current >= min_partitions:
        return df
    warnings.warn(
        f"{label}: scan yields {current} partition(s) < floor {min_partitions} — "
        f"a heavy self-join over this input would serialize to {current} core(s) "
        "(r15 measured 16.5x: 989.7 s single-file vs 55.9 s at 32 files, see "
        "PERFORMANCE.md); repartitioning to the floor. Fix the layout at write "
        "time (more files, or repartition before writing) to avoid this shuffle.",
        ScanParallelismWarning,
        stacklevel=2,
    )
    return df.repartition(min_partitions)


def _ceil_div(x, y):
    # Exact integer ceil-division spelled over doubles (exact below
    # 2^53, far past any realistic row count).
    return F.floor((x + y - F.lit(1)) / y)


def with_global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rnk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` WITHOUT an ``Exchange
    SinglePartition``: the scale-safe replacement for
    ``row_number().over(Window.orderBy(...))``, whose unpartitioned
    window funnels every row through one task.

    Shape: ``repartitionByRange`` on the sort key (a parallel range
    exchange — partition id ascends with sort order), a PER-PARTITION
    ``row_number`` (window partitioned by ``spark_partition_id()``),
    and a broadcast prefix-count join over the tiny per-partition count
    table (≤ #partitions rows), so ``global rank = local rank + rows in
    earlier ranges``.

    ``order_cols`` must be a total order (include a unique tiebreak) —
    ties straddling a range boundary would otherwise make the rank
    partition-dependent.

    The rank is a ``long``: these helpers exist to survive row counts
    a single-partition window can't, so they must not overflow at 2^31.
    """
    local, _, prefix = _ranked_with_offsets(df, order_cols, num_partitions)
    return (
        local.join(F.broadcast(prefix), "_gr_pid")
        .withColumn(rank_col, (F.col("_gr_lrn") + F.col("_gr_off")).cast("long"))
        .drop("_gr_pid", "_gr_lrn", "_gr_off")
    )


def _ranked_with_offsets(df: DataFrame, order_cols: list, num_partitions: int | None):
    """Shared kernel for :func:`with_global_rank` /
    :func:`with_global_ntile`: (per-range locally-ranked rows, tiny
    per-range count table, broadcast prefix-offset table).

    The ranked branch and the count branch MUST observe the same range
    boundaries and partition ids, or offsets mis-join. That sharing is
    structural, not optimizer-dependent: the post-exchange frame is
    ``persist()``-ed, so both branches read one materialized
    InMemoryRelation (partition ids are frozen into the cache) instead
    of relying on Catalyst's ReuseExchange to deduplicate two exchange
    instances — which column pruning or canonicalization drift across
    Spark versions could silently break. The cache costs what the
    reused shuffle files would have (MEMORY_AND_DISK, projected input
    only); eviction is LRU."""
    from pyspark.sql.window import Window
    from pyspark import StorageLevel

    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        df.repartitionByRange(n, *cols)
        .withColumn("_gr_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w = Window.partitionBy("_gr_pid").orderBy(*cols)
    local = ranged.withColumn("_gr_lrn", F.row_number().over(w))
    counts = ranged.groupBy("_gr_pid").agg(F.count(F.lit(1)).alias("_gr_n"))
    a, b = counts.alias("a"), counts.alias("b")
    prefix = (
        a.join(b, F.col("b._gr_pid") < F.col("a._gr_pid"), "left")
        .groupBy(F.col("a._gr_pid").alias("_gr_pid"))
        .agg(F.coalesce(F.sum(F.col("b._gr_n")), F.lit(0)).alias("_gr_off"))
    )
    return local, counts, prefix


def with_global_ntile(
    df: DataFrame,
    n_buckets: int,
    order_cols: list,
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n)`` over a global ordering without the
    single-partition sort: global rank via :func:`with_global_rank`,
    then the closed-form ntile bucket — the first ``total % n`` buckets
    take ``ceil(total/n)`` rows, the rest ``floor(total/n)`` (SQL ntile
    semantics exactly, positional, not value-based). The one-row total
    is summed from the tiny per-range count table (which rides the same
    range exchange — no second scan of ``df``) and broadcasts."""
    local, counts, prefix = _ranked_with_offsets(df, order_cols, num_partitions)
    ranked = (
        local.join(F.broadcast(prefix), "_gr_pid")
        .withColumn("_gn_rnk", (F.col("_gr_lrn") + F.col("_gr_off")).cast("long"))
        .drop("_gr_pid", "_gr_lrn", "_gr_off")
    )
    tot = counts.agg(F.sum("_gr_n").cast("long").alias("_gn_total"))
    r, t = F.col("_gn_rnk"), F.col("_gn_total")
    q = F.floor(t / n_buckets)
    rem = t % n_buckets
    big = q + F.lit(1)
    bucket = F.when(r <= rem * big, _ceil_div(r, big)).otherwise(
        rem + _ceil_div(r - rem * big, q)
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(bucket_col, bucket.cast("int"))
        .drop("_gn_rnk", "_gn_total")
    )


def grouped_top_k(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Exact per-group top-k without concentrating each group's FULL
    row set into one task — safe even for a LOW-CARDINALITY group key
    (e.g. ~5 languages), where a naive window would funnel the whole
    input into ≤|groups| tasks.

    r17 SIMPLIFICATION (guide §1.2/§2.4): one plain ``row_number``
    window + ``rank <= k`` filter. Spark 3.5+ plans this with a
    per-partition ``WindowGroupLimit`` BEFORE the exchange
    (SPARK-37099; see the Sort→WindowGroupLimit→Exchange→Sort→
    WindowGroupLimit→Window chain in plans/r17/kmv_overlap_matrix_*),
    so at most k·P rows reach the ≤|groups| final tasks — exactly the
    bound the previous manual two-phase implementation achieved, but
    that version cost TWO exchanges, four sorts and two window passes
    (its phase-1 window on (group, spark_partition_id()) forced its
    own shuffle). Identical rows and ranks; measured 2.28 s vs 2.54 s
    on kmv_overlap_matrix at sf0.1 (plans/r17/ab_kmv_full.json).

    ``order_cols`` must totally order rows within a group (unique
    tiebreak), else ranks are not well-defined."""
    from pyspark.sql.window import Window

    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    w = Window.partitionBy(*group_cols).orderBy(*cols)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact per-group EXCLUSIVE running sum (rows-unbounded-preceding
    to 1-preceding) without funnelling each group into one task: range
    exchange on (group, order) — so partition id ascends with the
    group-major sort order — a per-(group, range) local running sum,
    and a broadcast prefix join over the tiny per-(group, range) total
    table (same-group earlier ranges only). The same kernel shape as
    ``with_global_rank``; contiguity matters here, hence the range
    exchange that ``grouped_top_k`` can skip. As there, the
    post-exchange frame is persisted so the running-sum branch and the
    totals branch structurally share one materialization (consistent
    range boundaries + partition ids without depending on
    ReuseExchange)."""
    from pyspark.sql.window import Window
    from pyspark import StorageLevel

    gcols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        df.repartitionByRange(n, *gcols, *ocols)
        .withColumn("_gps_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wl = (
        Window.partitionBy(*group_cols, "_gps_pid")
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("_gps_local", F.coalesce(F.sum(value_col).over(wl), F.lit(0)))
    totals = ranged.groupBy(*group_cols, "_gps_pid").agg(F.sum(value_col).alias("_gps_n"))
    a, b = totals.alias("a"), totals.alias("b")
    same_group = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in group_cols]
    cond = same_group[0]
    for c in same_group[1:]:
        cond = cond & c
    prefix = (
        a.join(b, cond & (F.col("b._gps_pid") < F.col("a._gps_pid")), "left")
        .groupBy(*[F.col(f"a.{c}").alias(c) for c in group_cols], F.col("a._gps_pid").alias("_gps_pid"))
        .agg(F.coalesce(F.sum(F.col("b._gps_n")), F.lit(0)).alias("_gps_off"))
    )
    return (
        local.join(F.broadcast(prefix), [*group_cols, "_gps_pid"])
        .withColumn(out_col, F.col("_gps_local") + F.col("_gps_off"))
        .drop("_gps_pid", "_gps_local", "_gps_off")
    )
