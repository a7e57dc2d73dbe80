"""Property/invariant tests for plans/auditq.py — the guarantees the
oracle hash-compare can't express: bloom never drops a true member,
both z-order layouts partition the same rows, KMV error stays inside
its k⁻½ band, Lloyd refits never increase distortion, a stationary
vector stays a distribution, Gini collapses to 0 on equal values."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from data_engineering_rag_spark.plans import REGISTRY, load


def test_bloom_is_superset_of_truth_and_bits_bounded(spark, sf_dir):
    row = REGISTRY["bloom_prefilter_audit"].spark(spark, sf_dir).collect()[0]
    # a bloom filter can false-positive, never false-negative
    assert row.n_pass >= row.n_true_members
    assert row.n_false_pos == row.n_pass - row.n_true_members
    # k hashes over n keys can set at most min(m, k*n) bits
    from data_engineering_rag_spark.plans.auditq import BF_BITS, BF_SALTS

    assert 0 < row.n_bits_set <= min(BF_BITS, len(BF_SALTS) * row.n_build_keys)
    assert 0.0 <= row.false_pos_rate <= 1.0


def test_zorder_layouts_partition_identical_rows(spark, sf_dir):
    rows = {r.layout: r for r in REGISTRY["zorder_layout_audit"].spark(spark, sf_dir).collect()}
    z, lin = rows["zorder"], rows["linear"]
    # both layouts pack the SAME rows, so the true match count agrees
    assert z.rows_matched == lin.rows_matched
    assert z.n_files == lin.n_files
    # min/max skipping never scans fewer rows than actually match
    assert z.rows_scanned >= z.rows_matched
    assert lin.rows_scanned >= lin.rows_matched
    assert 0.0 < z.scan_fraction <= 1.0


def test_kmv_estimates_inside_error_band(spark, sf_dir):
    from data_engineering_rag_spark.plans.auditq import KMV_K

    rows = REGISTRY["kmv_overlap_matrix"].spark(spark, sf_dir).collect()
    assert rows
    # standard KMV relative error ~ 1/sqrt(k-2). Pairs share per-source
    # sketches, so errors are correlated — one unlucky source skews its
    # whole row/column. Bound the MEDIAN error tightly and every pair
    # loosely.
    errs = sorted(abs(r.est_union - r.n_exact_union) / r.n_exact_union for r in rows)
    assert errs[len(errs) // 2] < 1.5 / math.sqrt(KMV_K - 2)
    assert errs[-1] < 0.75


def test_pq_refit_never_increases_distortion(spark, sf_dir):
    """Lloyd monotonicity: re-assigning against the REFIT centroids
    must not increase total quantization error vs the init-codebook
    assignment the query reports."""
    from data_engineering_rag_spark.plans.auditq import pq_codebook_train

    out = pq_codebook_train(spark, sf_dir)
    init_wcss = out.agg(F.sum("wcss")).collect()[0][0]
    assert init_wcss is not None and init_wcss > 0
    # every (subspace, code) cell is non-empty only if it won some
    # argmin; membership must cover all (vec, subspace) slots exactly
    n_vecs = load(spark, sf_dir, "embeddings").count()
    from data_engineering_rag_spark.plans.auditq import PQ_SUBS

    assert out.agg(F.sum("n_members")).collect()[0][0] == n_vecs * PQ_SUBS


def test_hits_mass_bounded_by_degree_products(spark, sf_dir):
    """From all-ones: Σ authority_1 = |E| exactly, and each later step
    multiplies total mass by at most the opposite-side max degree —
    so Σ authority_2 ≤ max_outdeg · max_indeg · |E|."""
    from data_engineering_rag_spark.plans.vectors import knn_graph_by_label

    edges = knn_graph_by_label(spark, sf_dir).select("src", "dst")
    n_edges = edges.count()
    max_out = edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    max_in = edges.groupBy("dst").count().agg(F.max("count")).collect()[0][0]
    out = REGISTRY["hits_hub_authority"].spark(spark, sf_dir)
    total_auth = out.agg(F.sum("authority_score")).collect()[0][0]
    # Σ a2 = Σ_u outdeg(u)·h1(u) ≤ max_out·Σh1; Σh1 ≤ max_in·Σa1 = max_in·|E|
    assert 0 < total_auth <= max_out * max_in * n_edges


def test_markov_stationary_is_a_distribution(spark, sf_dir):
    rows = REGISTRY["markov_stationary_power"].spark(spark, sf_dir).collect()
    total = sum(r.stationary_prob for r in rows)
    assert abs(total - 1.0) < 1e-3  # row-stochastic P preserves mass
    assert all(r.stationary_prob >= 0 for r in rows)


def test_gini_zero_on_equal_values_and_bounded_on_data(spark, sf_dir):
    rows = REGISTRY["acctbal_gini_by_nation"].spark(spark, sf_dir).collect()
    for r in rows:
        assert -1e-6 <= r.gini < 1.0, r
    # planted: identical balances -> rank formula collapses to 0
    from data_engineering_rag_spark.operators.scale import grouped_prefix_sum

    df = spark.createDataFrame(
        [(1, i, 500.0) for i in range(10)], "c_nationkey int, c_custkey int, c_acctbal double"
    ).withColumn("_one", F.lit(1))
    ranked = grouped_prefix_sum(
        df, ["c_nationkey"], ["c_acctbal", "c_custkey"], "_one", out_col="_pfx"
    ).select("c_nationkey", (F.col("c_acctbal") + 1000.0).alias("x"), (F.col("_pfx") + 1).alias("i"))
    g = ranked.groupBy("c_nationkey").agg(
        (
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1))
        ).alias("gini")
    ).collect()[0]
    assert abs(g.gini) < 1e-9


def test_twa_bounded_by_user_value_range(spark, sf_dir):
    twa = REGISTRY["time_weighted_user_value"].spark(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    rng = ev.groupBy("user_id").agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bad = (
        twa.join(rng, "user_id")
        .where((F.col("twa_value") < F.col("lo") - 1e-6) | (F.col("twa_value") > F.col("hi") + 1e-6))
        .count()
    )
    assert bad == 0


def test_gap_survival_monotone_in_threshold(spark, sf_dir):
    rows = sorted(
        REGISTRY["session_gap_survival"].spark(spark, sf_dir).collect(),
        key=lambda r: r.threshold_s,
    )
    assert len(rows) == 5
    for a, b in zip(rows, rows[1:]):
        assert a.survival >= b.survival  # P(gap>t) is non-increasing in t
        assert a.n_gaps == b.n_gaps


def test_attribution_shares_sum_to_one(spark, sf_dir):
    rows = REGISTRY["events_attribution_last_touch"].spark(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    n_purch = ev.where(F.col("event_type") == "purchase").count()
    assert sum(r.n_purchases for r in rows) == n_purch
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4


def test_prefix_dedup_counts_consistent(spark, sf_dir):
    rows = REGISTRY["doc_prefix_dedup"].spark(spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert r.n_docs == r.n_prefix_groups + r.n_dup_docs
        assert 0.0 < r.retention <= 1.0


def test_containment_detects_planted_excerpt(spark, tmp_path):
    """A doc that IS a verbatim excerpt of another must surface with
    containment 1.0 in the directed pair (excerpt -> host)."""
    import shutil

    src = "/root/testdata/sf0.001"
    fix = tmp_path / "sfx"
    fix.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events embeddings".split()
    ):
        shutil.copy(f"{src}/{t}.parquet", fix / f"{t}.parquet")
    base = " ".join(f"tok{i} word{i % 7} item{i % 13}" for i in range(40))
    host = base + " trailing content only the host document carries onward"
    excerpt = " ".join(base.split()[:30])  # >= 8 tokens, strict subset
    spark.createDataFrame(
        [
            (900001, host, "en", "srcA", len(host)),
            (900002, excerpt, "en", "srcB", len(excerpt)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(fix / "documents.parquet"))
    rows = {
        (r.doc_a, r.doc_b): r.containment
        for r in REGISTRY["shingle_containment_pairs"].spark(spark, str(fix)).collect()
    }
    assert rows[(900002, 900001)] == pytest.approx(1.0)
    assert rows[(900001, 900002)] < 1.0


# --------------------------------------------------------------------------
# analyticsq invariants
# --------------------------------------------------------------------------


def test_ewma_bounded_and_uses_at_most_cap(spark, sf_dir):
    from data_engineering_rag_spark.plans.analyticsq import EWMA_MAX_LAG

    out = REGISTRY["ewma_user_value"].spark(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    rng = ev.groupBy("user_id").agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    joined = out.join(rng, "user_id")
    assert joined.where(F.col("n_used") > EWMA_MAX_LAG).count() == 0
    bad = joined.where(
        (F.col("ewma_value") < F.col("lo") - 1e-6) | (F.col("ewma_value") > F.col("hi") + 1e-6)
    ).count()
    assert bad == 0


def test_ols_recovers_planted_line(spark, tmp_path):
    """y = 3x + 7 monthly counts must come back slope=3, intercept=7."""
    import shutil

    src = "/root/testdata/sf0.001"
    fix = tmp_path / "sfols"
    fix.mkdir()
    for t in "region nation customer supplier part lineitem events documents embeddings".split():
        shutil.copy(f"{src}/{t}.parquet", fix / f"{t}.parquet")
    import datetime

    rows = []
    key = 0
    for m in range(6):  # months 0..5, count = 3m + 7
        for _ in range(3 * m + 7):
            key += 1
            rows.append(
                (key, key % 50, "F", 100.0, datetime.date(2024, 1 + m, 15), "1-URGENT")
            )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(fix / "orders.parquet"))
    got = {r.status: r for r in REGISTRY["orders_status_trend_ols"].spark(spark, str(fix)).collect()}
    assert got["F"].slope == pytest.approx(3.0)
    assert got["F"].intercept == pytest.approx(7.0)
    assert got["F"].n_months == 6


def test_ltv_monotone_in_offset(spark, sf_dir):
    rows = REGISTRY["customer_ltv_cohort"].spark(spark, sf_dir).collect()
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort, []).append((r.month_offset, r.avg_cum_ltv))
    assert by_cohort
    for seq in by_cohort.values():
        seq.sort()
        for (_, a), (_, b) in zip(seq, seq[1:]):
            assert b >= a - 1e-6  # cumulative spend never decreases


def test_scorecard_rates_bounded_and_lines_covered(spark, sf_dir):
    out = REGISTRY["supplier_scorecard"].spark(spark, sf_dir)
    li_n = load(spark, sf_dir, "lineitem").count()
    agg = out.agg(F.sum("n_lines"), F.min("slow_ship_rate"), F.max("slow_ship_rate"),
                  F.min("return_rate"), F.max("return_rate")).collect()[0]
    assert agg[0] == li_n  # every line attributed to exactly one supplier
    assert 0.0 <= agg[1] and agg[2] <= 1.0
    assert 0.0 <= agg[3] and agg[4] <= 1.0


def test_readability_planted_extremes(spark, tmp_path):
    """Monosyllabic short sentences must outscore a long-word run-on."""
    import shutil

    src = "/root/testdata/sf0.001"
    fix = tmp_path / "sfread"
    fix.mkdir()
    for t in "region nation customer supplier part orders lineitem events embeddings".split():
        shutil.copy(f"{src}/{t}.parquet", fix / f"{t}.parquet")
    easy = "the cat sat. the dog ran. we go up. it is fun. he did it."
    hard = (
        "notwithstanding institutional considerations regarding interoperability "
        "methodologies, organizational multidimensional characterization "
        "necessitates comprehensive infrastructural reconceptualization"
    )
    spark.createDataFrame(
        [(1, easy, "en", "s", len(easy)), (2, hard, "en", "s", len(hard))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(fix / "documents.parquet"))
    got = {r.doc_id: r.flesch_score for r in
           REGISTRY["text_readability_scores"].spark(spark, str(fix)).collect()}
    assert got[1] > 80 > got[2]


def test_pyds_source_partition_parallel_and_exact(spark):
    """The custom Python data source must split into the requested
    number of InputPartitions (real parallel read tasks) and emit
    exactly the declared row range, no dupes, no gaps."""
    from data_engineering_rag_spark.sources.pydatasource import read_telemetry

    df = read_telemetry(spark, rows=1000, partitions=7)
    assert df.rdd.getNumPartitions() == 7
    ids = [r.reading_id for r in df.select("reading_id").collect()]
    assert sorted(ids) == list(range(1000))


def test_two_hop_bounded_by_k_squared(spark, sf_dir):
    from data_engineering_rag_spark.plans.vectors import KNN_K

    out = REGISTRY["knn_two_hop_reach"].spark(spark, sf_dir)
    mx = out.agg(F.max("n_two_hop")).collect()[0][0]
    assert 0 < mx <= KNN_K * KNN_K  # each hop multiplies reach by <= k


def test_bounce_sessions_match_sessionize_batch(spark, sf_dir):
    daily = REGISTRY["sessions_bounce_rate_daily"].spark(spark, sf_dir)
    n_sessions = daily.agg(F.sum("n_sessions")).collect()[0][0]
    n_batch = REGISTRY["events_sessionize_batch"].spark(spark, sf_dir).count()
    assert n_sessions == n_batch  # same gaps-and-islands universe
    for r in daily.collect():
        assert 0.0 <= r.bounce_rate <= 1.0 and r.n_bounces <= r.n_sessions


def test_chisq_zero_on_planted_independent_table(spark, tmp_path):
    """lang independent of source (every cell = 5) -> chi2 exactly 0."""
    import shutil

    src = "/root/testdata/sf0.001"
    fix = tmp_path / "sfchi"
    fix.mkdir()
    for t in "region nation customer supplier part orders lineitem events embeddings".split():
        shutil.copy(f"{src}/{t}.parquet", fix / f"{t}.parquet")
    rows = []
    k = 0
    for lang in ("en", "de"):
        for source in ("s1", "s2", "s3"):
            for _ in range(5):
                k += 1
                rows.append((k, f"text {k}", lang, source, 10))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(fix / "documents.parquet"))
    got = REGISTRY["lang_source_chisq"].spark(spark, str(fix)).collect()[0]
    assert got.n_cells == 6 and got.chi_square == 0.0


def test_repeat_intervals_nonnegative_and_ordered(spark, sf_dir):
    r = REGISTRY["repeat_purchase_intervals"].spark(spark, sf_dir).collect()[0]
    assert r.n_intervals > 0
    assert 0 <= r.p50_days <= r.p90_days


def test_pyds_stream_source_multibatch_exact(spark):
    """The streaming Python data source must deliver EXACTLY the
    declared row range across MULTIPLE micro-batches (offset contract:
    union of batches = [0, rows), no dupes/gaps), and the batch count
    must match rows/batch_rows."""
    import uuid

    from data_engineering_rag_spark.sources.pydatasource import read_telemetry_stream

    stream = read_telemetry_stream(spark, rows=600, batch_rows=150, partitions=3)
    name = f"pyds_test_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    q.stop()
    ids = [r.reading_id for r in spark.table(name).select("reading_id").collect()]
    assert sorted(ids) == list(range(600))
    assert n_batches == 4


def test_bootstrap_ci_brackets_the_mean(spark, sf_dir):
    """Poisson-bootstrap invariants: ~B replicates survive, the CI is
    ordered, and the 95% interval brackets the full-sample mean (a
    15k-row mean is far inside its own bootstrap CI)."""
    from data_engineering_rag_spark.plans.analyticsq import BOOT_B

    row = REGISTRY["bootstrap_mean_ci_poisson"].spark(spark, sf_dir).collect()[0]
    assert row.n_replicates == BOOT_B
    assert row.ci_lo < row.ci_hi
    assert row.ci_lo <= row.mean_totalprice <= row.ci_hi


def test_linear_attribution_credit_conserved(spark, sf_dir):
    """Linear multi-touch credit must conserve mass: total credit ==
    number of purchases WITH at least one lookback touch (each such
    purchase distributes exactly 1.0, up to the 9-dp per-touch
    rounding), and every channel's credit is positive."""
    import datetime

    rows = REGISTRY["events_attribution_linear"].spark(spark, sf_dir).collect()
    total_credit = sum(r.credit_total for r in rows)
    assert all(r.credit_total > 0 for r in rows)

    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    touched = (
        p.join(
            ev.select("user_id", "event_type", "ts"),
            (F.col("user_id") == F.col("pu"))
            & (F.col("event_type") != "purchase")
            & (F.col("ts") < F.col("pts"))
            & (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES")),
        )
        .select("pid")
        .distinct()
        .count()
    )
    # 9-dp per-touch rounding drifts at most ~5e-10 per touch
    assert abs(total_credit - touched) < 1e-3


def test_referential_integrity_planted_orphans(spark, tmp_path):
    """Planted broken FK: two orders pointing at missing customers must
    surface as exactly 2 orphans on orders.o_custkey; intact edges
    report 0."""
    import pandas as pd

    fix = tmp_path
    pd.DataFrame(
        {"o_orderkey": [1, 2, 3, 4], "o_custkey": [10, 10, 99, 98],
         "o_orderstatus": ["F"] * 4, "o_totalprice": [1.0] * 4,
         "o_orderdate": pd.to_datetime(["2024-01-01"] * 4),
         "o_orderpriority": ["1-URGENT"] * 4}
    ).to_parquet(str(fix / "orders.parquet"))
    pd.DataFrame(
        {"c_custkey": [10], "c_name": ["a"], "c_nationkey": [1],
         "c_acctbal": [0.0], "c_mktsegment": ["B"]}
    ).to_parquet(str(fix / "customer.parquet"))
    pd.DataFrame({"n_nationkey": [1], "n_name": ["x"], "n_regionkey": [1]}).to_parquet(
        str(fix / "nation.parquet")
    )
    pd.DataFrame({"r_regionkey": [1], "r_name": ["R"]}).to_parquet(str(fix / "region.parquet"))
    pd.DataFrame(
        {"l_orderkey": [1], "l_partkey": [5], "l_suppkey": [7], "l_linenumber": [1],
         "l_quantity": [1.0], "l_extendedprice": [1.0], "l_discount": [0.0],
         "l_tax": [0.0], "l_returnflag": ["N"], "l_linestatus": ["O"],
         "l_shipdate": pd.to_datetime(["2024-01-02"])}
    ).to_parquet(str(fix / "lineitem.parquet"))
    pd.DataFrame(
        {"p_partkey": [5], "p_name": ["p"], "p_brand": ["b"], "p_type": ["t"],
         "p_size": [1], "p_retailprice": [1.0]}
    ).to_parquet(str(fix / "part.parquet"))
    pd.DataFrame(
        {"s_suppkey": [7], "s_name": ["s"], "s_nationkey": [1], "s_acctbal": [0.0]}
    ).to_parquet(str(fix / "supplier.parquet"))

    got = {r.fk_edge: r.n_orphans for r in
           REGISTRY["referential_integrity_audit"].spark(spark, str(fix)).collect()}
    assert got["orders.o_custkey"] == 2
    assert all(v == 0 for k, v in got.items() if k != "orders.o_custkey")


def test_bootstrap_xxh_multiplicity_distribution_matches_md5(spark, sf_dir):
    """The xxhash64 production twin draws its Poisson(1) multiplicities
    through the same inverse-CDF thresholds as the md5 oracle spelling
    — so both k-distributions must match the Poisson pmf and each
    other (mean≈1, var≈1, per-k pmf within sampling error over
    |orders|×B draws), and the xxh CI must agree with the md5 CI to
    within bootstrap sampling noise."""
    import math

    import pyspark.sql.functions as F

    from data_engineering_rag_spark.plans import REGISTRY
    from data_engineering_rag_spark.plans.analyticsq import _boot_multiplicities

    dists = {}
    for mode in ("md5", "xxhash64"):
        stats = (
            _boot_multiplicities(spark, sf_dir, mode)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("k").alias("mean"),
                F.var_pop("k").alias("var"),
            )
            .first()
        )
        pmf = {
            r.k: r.cnt / stats.n
            for r in _boot_multiplicities(spark, sf_dir, mode)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        dists[mode] = (stats, pmf)
        se = 1.0 / math.sqrt(stats.n)
        assert abs(stats.mean - 1.0) < 6 * se, (mode, stats)
        assert abs(stats.var - 1.0) < 10 * se, (mode, stats)
        for k in range(4):  # pmf head: e^-1 / k!
            expected = math.exp(-1) / math.factorial(k)
            assert abs(pmf.get(k, 0.0) - expected) < 6 * se + 1e-3, (mode, k, pmf)
    (m_stats, m_pmf), (x_stats, x_pmf) = dists["md5"], dists["xxhash64"]
    assert m_stats.n == x_stats.n
    for k in set(m_pmf) | set(x_pmf):
        assert abs(m_pmf.get(k, 0.0) - x_pmf.get(k, 0.0)) < 0.01, (k, m_pmf, x_pmf)

    md5_row = REGISTRY["bootstrap_mean_ci_poisson"].spark(spark, sf_dir).collect()[0]
    xxh_row = REGISTRY["bootstrap_mean_ci_poisson_xxh"].spark(spark, sf_dir).collect()[0]
    assert xxh_row.n_replicates == md5_row.n_replicates
    assert xxh_row.mean_totalprice == md5_row.mean_totalprice
    width = md5_row.ci_hi - md5_row.ci_lo
    assert abs(xxh_row.ci_lo - md5_row.ci_lo) < width, (md5_row, xxh_row)
    assert abs(xxh_row.ci_hi - md5_row.ci_hi) < width, (md5_row, xxh_row)
    assert xxh_row.ci_lo < md5_row.mean_totalprice < xxh_row.ci_hi


def test_pyds_stream_agg_equals_batch_oracle_twin(spark, sf_dir):
    """Finalized-prefix equivalence for the Python-DataSource STREAM
    path (the stream self-caps at PYDS_ROWS and the registry query
    drains it fully, so the finalized prefix is the whole offset range):
    the micro-batched union aggregated per sensor must equal the batch
    connector twin `pyds_telemetry_agg` row-for-row — same contract the
    session-journey stream twin pins against its batch oracle."""
    from data_engineering_rag_spark.plans import REGISTRY

    batch = sorted(
        map(tuple, REGISTRY["pyds_telemetry_agg"].spark(spark, sf_dir).collect())
    )
    stream = sorted(
        map(tuple, REGISTRY["pyds_stream_telemetry_agg"].spark(spark, sf_dir).collect())
    )
    assert stream == batch
