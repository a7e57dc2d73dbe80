"""Connected components vs a pure-Python union-find oracle."""

from __future__ import annotations

from data_engineering_rag_spark.operators.dedup_cluster import connected_components


def union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


CASES = [
    # chain, triangle, isolated pair, star
    [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (30, 31), (30, 32), (30, 33)],
    # single long path (worst diameter for label propagation)
    [(i, i + 1) for i in range(0, 15)],
    # duplicate + reversed edges
    [(5, 1), (1, 5), (5, 1), (2, 5)],
]


def test_components_match_union_find(spark):
    for edges in CASES:
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.node: r.component for r in connected_components(df).collect()}
        expected = union_find(edges)
        assert got == expected, edges


def test_nonconvergence_raises(spark):
    import pytest

    # path graph of diameter 15 cannot converge in 2 rounds
    df = spark.createDataFrame([(i, i + 1) for i in range(0, 15)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_max_iter_below_one_is_rejected_before_spark_work(spark, monkeypatch):
    import pytest

    from data_engineering_rag_spark.operators import dedup_cluster

    def no_spark(*a, **k):
        raise AssertionError("connected_components started Spark work")

    monkeypatch.setattr(dedup_cluster, "_durable", no_spark)
    df = spark.createDataFrame([(i, i + 1) for i in range(0, 15)], ["src", "dst"])
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_iter must be >= 1"):
            connected_components(df, max_iter=bad)


def test_components_with_reliable_checkpoint(spark, tmp_path, monkeypatch):
    edges = [(1, 2), (2, 3), (10, 11)]
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "cc"))
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == union_find(edges)


def test_components_run_no_count_action(spark, monkeypatch):
    """Convergence is read from the labeling pass itself (one action
    per round), so no round may fall back to a separate count()."""
    cases = [[(i, i + 1) for i in range(0, 15)], [(1, 2), (2, 3), (10, 11), (11, 12)]]
    dfs = [spark.createDataFrame(edges, ["src", "dst"]) for edges in cases]

    def no_count(self):
        raise AssertionError("connected_components ran a count() action")

    monkeypatch.setattr(type(dfs[0]), "count", no_count)
    for edges, df in zip(cases, dfs):
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert got == union_find(edges), edges


def test_pagerank_cycle_and_dangling(spark):
    """2-cycle: uniform rank is a fixed point (0.5 each). Dangling
    variant: sink keeps receiving, source decays to (1-d)/N; total
    mass < 1 is the documented no-redistribution semantics."""
    from data_engineering_rag_spark.operators.graph import pagerank
    import pyspark.sql.functions as F

    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    cyc = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    pr = {r.id: r.pr for r in pagerank(nodes, cyc, n_iter=3).collect()}
    assert abs(pr[1] - 0.5) < 1e-12 and abs(pr[2] - 0.5) < 1e-12

    chain = spark.createDataFrame([(1, 2)], ["src", "dst"])
    pr = {r.id: r.pr for r in pagerank(nodes, chain, n_iter=2).collect()}
    base = 0.15000000000000002 / 2
    assert abs(pr[1] - base) < 1e-12          # no in-edges after decay
    assert pr[2] > pr[1]                      # sink dominates
    assert abs(pr[2] - (base + 0.85 * base)) < 1e-12
