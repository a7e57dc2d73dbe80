"""Round-6b audits: storage-layout planning, membership prefilters,
sketch calibration, and privacy/ops analytics — the queries that decide
HOW 100 TB gets laid out and filtered before anything heavy runs.

These extend the reference's corpus scope (zc_agent/prepare_data.py)
with the public large-scale warehouse practices: Z-order multi-
dimensional clustering for file skipping (public Delta/Iceberg
OPTIMIZE ZORDER semantics), Bloom-filter join prefilters (Spark's own
runtime bloom pushdown, made explicit and measurable), KMV distinct
sketches for cross-source overlap (Bar-Yossef et al.), and k-anonymity
audits over quasi-identifiers (Sweeney). Cross-engine determinism
rules follow plans/__init__.py: integer/bit math everywhere possible,
exact decimal accumulation for float reductions, identical aliases and
rounding in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.tfidf import TOKEN_PATTERN
from . import load, query

# --------------------------------------------------------------------------
# Z-order layout audit — multi-dimensional clustering vs linear sort
# --------------------------------------------------------------------------

ZO_BITS = 4  # 4 bits/dim -> 16x16 grid, 256 z-values
ZO_FILES = 16  # both layouts pack rows into 16 "files"
ZO_BOX = (4, 7)  # the probe box: cx in [4,7] AND cy in [4,7]


def _bit(expr: str, b: int, *, duck: bool) -> str:
    """Arithmetic bit extraction — `(expr // 2^b) % 2` — spelled in the
    right integer-division dialect (DuckDB `//`, Spark SQL `div`)."""
    d = "//" if duck else "div"
    return f"(({expr}) {d} {1 << b}) % 2"


def _zvalue(cx: str, cy: str, *, duck: bool) -> str:
    """Interleave ZO_BITS bits of cx (odd positions) and cy (even):
    the Morton/Z-order curve index, in pure +/div/% integer math so
    both engines agree bit-for-bit."""
    terms = []
    for b in range(ZO_BITS):
        terms.append(f"{_bit(cx, b, duck=duck)} * {1 << (2 * b + 1)}")
        terms.append(f"{_bit(cy, b, duck=duck)} * {1 << (2 * b)}")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    lo, hi = ZO_BOX
    d = "//"
    return f"""
    WITH bounds AS (
      SELECT min(o_custkey) AS mnc, max(o_custkey) AS mxc,
             min(o_orderdate) AS mnd, max(o_orderdate) AS mxd
      FROM orders),
    bucketed AS (
      SELECT ((o_custkey - mnc) * {1 << ZO_BITS}) {d} (mxc - mnc + 1) AS cx,
             (date_diff('day', mnd, o_orderdate) * {1 << ZO_BITS})
               {d} (date_diff('day', mnd, mxd) + 1) AS cy
      FROM orders, bounds),
    filed AS (
      SELECT cx, cy,
             ({_zvalue("cx", "cy", duck=True)}) {d} {256 // ZO_FILES} AS file_z,
             cy AS file_lin
      FROM bucketed),
    long AS (
      SELECT 'zorder' AS layout, file_z AS file_id, cx, cy FROM filed
      UNION ALL
      SELECT 'linear' AS layout, file_lin AS file_id, cx, cy FROM filed),
    files AS (
      SELECT layout, file_id,
             min(cx) AS mncx, max(cx) AS mxcx, min(cy) AS mncy, max(cy) AS mxcy,
             count(*) AS n_rows,
             sum(CASE WHEN cx BETWEEN {lo} AND {hi} AND cy BETWEEN {lo} AND {hi}
                      THEN 1 ELSE 0 END) AS n_match
      FROM long GROUP BY layout, file_id)
    SELECT layout,
           cast(count(*) as bigint) AS n_files,
           cast(sum(CASE WHEN mxcx >= {lo} AND mncx <= {hi}
                          AND mxcy >= {lo} AND mncy <= {hi} THEN 1 ELSE 0 END) as bigint)
             AS n_files_scanned,
           cast(sum(CASE WHEN mxcx >= {lo} AND mncx <= {hi}
                          AND mxcy >= {lo} AND mncy <= {hi} THEN n_rows ELSE 0 END) as bigint)
             AS rows_scanned,
           cast(sum(n_match) as bigint) AS rows_matched,
           round(sum(CASE WHEN mxcx >= {lo} AND mncx <= {hi}
                           AND mxcy >= {lo} AND mncy <= {hi} THEN n_rows ELSE 0 END)::double
                 / sum(n_rows), 6) AS scan_fraction
    FROM files GROUP BY layout
    """


@query("zorder_layout_audit", _zorder_oracle())
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER vs linear layout, measured: bucket orders onto a
    {2**ZO_BITS}x{2**ZO_BITS} (custkey, orderdate) grid, pack rows into
    {ZO_FILES} files either by Morton z-value or by date alone, then
    replay a 2-D box predicate against per-file min/max stats — exactly
    the footer-stats skipping a parquet reader does. The point the
    numbers make: a linear sort gives perfect skipping on ONE dimension
    and none on the other; the z-curve bounds BOTH dims per file, so
    the 2-D box scans a fraction of the files. At 100 TB this query is
    the layout-planning decision for OPTIMIZE ZORDER BY (k1, k2); the
    audit itself is two cheap groupBys over pure integer bit math (no
    UDFs, whole-stage codegen end-to-end)."""
    lo, hi = ZO_BOX
    o = load(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_custkey").alias("mnc"),
        F.max("o_custkey").alias("mxc"),
        F.min("o_orderdate").alias("mnd"),
        F.max("o_orderdate").alias("mxd"),
    )
    bucketed = o.crossJoin(F.broadcast(b)).select(
        F.expr(f"((o_custkey - mnc) * {1 << ZO_BITS}) div (mxc - mnc + 1)").alias("cx"),
        F.expr(
            f"(datediff(o_orderdate, mnd) * {1 << ZO_BITS}) div (datediff(mxd, mnd) + 1)"
        ).alias("cy"),
    )
    filed = bucketed.select(
        "cx",
        "cy",
        F.expr(f"({_zvalue('cx', 'cy', duck=False)}) div {256 // ZO_FILES}").alias("file_z"),
        F.col("cy").alias("file_lin"),
    )
    long = filed.select(F.lit("zorder").alias("layout"), F.col("file_z").alias("file_id"), "cx", "cy").unionAll(
        filed.select(F.lit("linear").alias("layout"), F.col("file_lin").alias("file_id"), "cx", "cy")
    )
    in_box = (
        F.col("cx").between(lo, hi) & F.col("cy").between(lo, hi)
    ).cast("int")
    files = long.groupBy("layout", "file_id").agg(
        F.min("cx").alias("mncx"),
        F.max("cx").alias("mxcx"),
        F.min("cy").alias("mncy"),
        F.max("cy").alias("mxcy"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(in_box).alias("n_match"),
    )
    hit = (
        (F.col("mxcx") >= lo) & (F.col("mncx") <= hi)
        & (F.col("mxcy") >= lo) & (F.col("mncy") <= hi)
    )
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(hit.cast("int")).cast("long").alias("n_files_scanned"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("long").alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("rows_matched"),
        F.round(
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("double") / F.sum("n_rows"),
            6,
        ).alias("scan_fraction"),
    )


# --------------------------------------------------------------------------
# Bloom-filter prefilter audit — explicit, measurable membership pushdown
# --------------------------------------------------------------------------

BF_BITS = 8192  # m
BF_SALTS = ("bf0|", "bf1|", "bf2|")  # k = 3 independent hash positions
BF_PRICE_CUT = 150000.0  # build side: customers with a big-ticket order


def _bf_pos_sql(salt: str, key: str) -> str:
    return (
        f"cast(concat('0x', substr(md5(concat('{salt}', cast({key} as varchar))), 1, 15)) "
        f"as bigint) % {BF_BITS}"
    )


def _bf_pos_col(salt: str, key) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15), 16, 10
        ).cast("long")
        % BF_BITS
    )


def _bloom_oracle() -> str:
    pos_union = " UNION ALL ".join(
        f"SELECT {_bf_pos_sql(s, 'k')} AS pos FROM build" for s in BF_SALTS
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT c_custkey AS pk, {_bf_pos_sql(s, 'c_custkey')} AS pos FROM probe"
        for s in BF_SALTS
    )
    return f"""
    WITH build AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > {BF_PRICE_CUT}),
    probe AS (SELECT DISTINCT c_custkey FROM customer),
    bits AS (SELECT DISTINCT pos FROM ({pos_union})),
    pp AS ({probe_pos}),
    hits AS (
      SELECT pk, count(*) AS n_hit
      FROM (SELECT DISTINCT pk, pos FROM pp) q JOIN bits USING (pos)
      GROUP BY pk),
    passed AS (SELECT pk FROM hits WHERE n_hit = {len(BF_SALTS)}),
    truth AS (SELECT c_custkey AS pk FROM probe JOIN build ON c_custkey = k)
    SELECT cast((SELECT count(*) FROM build) as bigint) AS n_build_keys,
           cast((SELECT count(*) FROM bits) as bigint) AS n_bits_set,
           cast((SELECT count(*) FROM probe) as bigint) AS n_probe,
           cast((SELECT count(*) FROM passed) as bigint) AS n_pass,
           cast((SELECT count(*) FROM truth) as bigint) AS n_true_members,
           cast((SELECT count(*) FROM passed) - (SELECT count(*) FROM truth) as bigint)
             AS n_false_pos,
           round(CASE WHEN (SELECT count(*) FROM probe) = (SELECT count(*) FROM truth)
                      THEN 0.0
                      ELSE ((SELECT count(*) FROM passed) - (SELECT count(*) FROM truth))::double
                           / ((SELECT count(*) FROM probe) - (SELECT count(*) FROM truth)) END,
                 6) AS false_pos_rate
    """


@query("bloom_prefilter_audit", _bloom_oracle())
def bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join prefilter, made explicit and measured: build an
    m={BF_BITS}, k={len(BF_SALTS)} filter over the big-ticket customer
    keys (the small/selective join side), probe every customer key, and
    report the pass set vs ground truth — the false-positive rate IS
    the wasted-shuffle fraction a bloom pushdown would leave. Spark
    does this implicitly (spark.sql.optimizer.runtimeFilter.bloomFilter);
    this audit sizes m/k on real key distributions before you trust it
    at 100 TB, where the filter broadcast (KB) replaces shuffling the
    non-matching majority of the probe side. No bloom never drops a
    true member (n_pass >= n_true_members, a superset by construction).

    Shape: the occupied-bit set and per-key hash positions are pure
    column math; membership = a {len(BF_SALTS)}-way position semi-join
    and a count-match — partial-aggregable throughout."""
    from pyspark import StorageLevel

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    # the distinct key sets feed 3 consumers each (positions, truth,
    # count) — persist them so each side scans its parquet ONCE
    build = (
        o.where(F.col("o_totalprice") > BF_PRICE_CUT)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    probe = c.select(F.col("c_custkey").alias("pk")).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    # one scan per side: the k hash positions explode from an array
    # projection instead of k unioned re-scans
    bits = build.select(
        F.explode(F.array(*[_bf_pos_col(s, F.col("k")) for s in BF_SALTS])).alias("pos")
    ).distinct()
    pp = probe.select(
        "pk", F.explode(F.array(*[_bf_pos_col(s, F.col("pk")) for s in BF_SALTS])).alias("pos")
    )
    passed = (
        pp.distinct()
        .join(bits, "pos")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .where(F.col("n_hit") == len(BF_SALTS))
        .select("pk")
    )
    truth = probe.join(build, probe.pk == build.k, "semi")
    stats = (
        build.agg(F.count(F.lit(1)).alias("n_build_keys"))
        .crossJoin(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
        .crossJoin(probe.agg(F.count(F.lit(1)).alias("n_probe")))
        .crossJoin(passed.agg(F.count(F.lit(1)).alias("n_pass")))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true_members")))
    )
    return stats.select(
        F.col("n_build_keys").cast("long").alias("n_build_keys"),
        F.col("n_bits_set").cast("long").alias("n_bits_set"),
        F.col("n_probe").cast("long").alias("n_probe"),
        F.col("n_pass").cast("long").alias("n_pass"),
        F.col("n_true_members").cast("long").alias("n_true_members"),
        (F.col("n_pass") - F.col("n_true_members")).cast("long").alias("n_false_pos"),
        F.round(
            F.when(F.col("n_probe") == F.col("n_true_members"), F.lit(0.0)).otherwise(
                (F.col("n_pass") - F.col("n_true_members")).cast("double")
                / (F.col("n_probe") - F.col("n_true_members"))
            ),
            6,
        ).alias("false_pos_rate"),
    )


# --------------------------------------------------------------------------
# KMV overlap matrix — sketch-estimated vs exact cross-source overlap
# --------------------------------------------------------------------------

KMV_K = 64
KMV_SPACE = float(1 << 60)  # 15 hex digits of md5 = a 60-bit hash space
KMV_SALT = "kmv|"


def _kmv_oracle() -> str:
    from .pipelineq import _crossdoc_gram_sql

    return f"""
    WITH st AS (
      SELECT DISTINCT d.source, g.gram AS tok
      FROM ({_crossdoc_gram_sql()}) g JOIN documents d USING (doc_id)),
    hashed AS (
      SELECT source, tok,
             cast(concat('0x', substr(md5(concat('{KMV_SALT}', tok)), 1, 15)) as bigint) AS h
      FROM st),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashed) WHERE rn <= {KMV_K}),
    kth AS (
      SELECT source,
             CASE WHEN count(*) < {KMV_K} THEN count(*) * 1.0
                  ELSE ({KMV_K} - 1) * {KMV_SPACE} / max(h) END AS est
      FROM sk GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM st) a
      JOIN (SELECT DISTINCT source FROM st) b ON a.source < b.source),
    usk_in AS (
      SELECT DISTINCT p.source_a, p.source_b, u.h
      FROM pairs p JOIN sk u ON u.source IN (p.source_a, p.source_b)),
    usk AS (
      SELECT source_a, source_b, h FROM (
        SELECT source_a, source_b, h,
               row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
        FROM usk_in) q WHERE rn <= {KMV_K}),
    ukth AS (
      SELECT source_a, source_b,
             CASE WHEN count(*) < {KMV_K} THEN count(*) * 1.0
                  ELSE ({KMV_K} - 1) * {KMV_SPACE} / max(h) END AS uest
      FROM usk GROUP BY source_a, source_b),
    exact AS (
      SELECT p.source_a, p.source_b,
             (SELECT count(*) FROM st WHERE source = p.source_a) AS na,
             (SELECT count(*) FROM st WHERE source = p.source_b) AS nb,
             (SELECT count(*) FROM st x JOIN st y
               ON x.tok = y.tok AND x.source = p.source_a AND y.source = p.source_b) AS ni
      FROM pairs p)
    SELECT e.source_a, e.source_b,
           cast(e.na + e.nb - e.ni as bigint) AS n_exact_union,
           cast(e.ni as bigint) AS n_exact_inter,
           round(e.ni::double / (e.na + e.nb - e.ni), 6) AS exact_jaccard,
           round(u.uest, 4) AS est_union,
           round((ka.est + kb.est - u.uest) / u.uest, 6) AS est_jaccard
    FROM exact e
    JOIN ukth u ON u.source_a = e.source_a AND u.source_b = e.source_b
    JOIN kth ka ON ka.source = e.source_a
    JOIN kth kb ON kb.source = e.source_b
    """


@query("kmv_overlap_matrix", _kmv_oracle())
def kmv_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 8-token-shingle overlap, twice: exactly (distinct-
    shingle set algebra — the shuffle you can afford at test scale) and
    from {KMV_K}-minimum-values sketches (Bar-Yossef et al.): the kth
    smallest 60-bit hash estimates distinct counts as (k-1)*2^60/h_k
    (exact count when the sketch isn't full), and KMV sketches UNION
    losslessly (merge, keep k smallest), so one tiny per-source sketch
    answers every pairwise union/Jaccard. The
    audit pins estimate vs exact side-by-side — the justification table
    for replacing the exact join with sketches at 100 TB, where each
    source's sketch is {KMV_K} longs regardless of corpus size.

    Shape: per-source/per-pair top-k run through ``grouped_top_k``
    (sources are a LOW-cardinality key — a plain partitionBy window
    would funnel the token stream into ~5 tasks)."""
    from ..operators.scale import grouped_top_k
    from .pipelineq import _crossdoc_grams

    d = load(spark, sf_dir, "documents")
    from pyspark import StorageLevel

    # st feeds the sketch build, the per-source counts, AND both sides
    # of the exact intersection — persist so the shingle explode +
    # distinct runs once
    st = (
        _crossdoc_grams(spark, sf_dir)
        .join(d.select("doc_id", "source"), "doc_id")
        .select("source", F.col("gram").alias("tok"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hashed = st.select(
        "source",
        "tok",
        F.conv(F.substring(F.md5(F.concat(F.lit(KMV_SALT), F.col("tok"))), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    est_of = lambda nk, hk: F.when(  # noqa: E731
        nk < KMV_K, nk.cast("double")
    ).otherwise((KMV_K - 1) * F.lit(KMV_SPACE) / hk)
    # r17 OPTIMIZATION (guide §2.4): sk ({KMV_K}·|sources| rows) feeds
    # kth AND usk_in — un-persisted, the salt+md5+top-k pipeline over
    # the full gram table ran twice. Interleaved A/B at sf0.1: head
    # 2.54 s → persist(sk)+engine-native top-k 2.15 s
    # (plans/r17/ab_kmv_full.json; the pair-from-sorted-list exact
    # intersection was also measured there and REVERTED — 2.44 s,
    # slower than this self-join at bench scale).
    sk = (
        grouped_top_k(hashed.select("source", "h"), ["source"], ["h"], KMV_K)
        .drop("rn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    kth = sk.groupBy("source").agg(
        est_of(F.count(F.lit(1)), F.max("h")).alias("est")
    )
    srcs = st.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .crossJoin(srcs.select(F.col("source").alias("source_b")))
        .where(F.col("source_a") < F.col("source_b"))
    )
    usk_in = (
        sk.select(F.col("source").alias("_s"), "h")
        .join(
            F.broadcast(pairs),
            (F.col("_s") == F.col("source_a")) | (F.col("_s") == F.col("source_b")),
        )
        .select("source_a", "source_b", "h")
        .distinct()
    )
    usk = grouped_top_k(usk_in, ["source_a", "source_b"], ["h"], KMV_K).drop("rn")
    ukth = usk.groupBy("source_a", "source_b").agg(
        est_of(F.count(F.lit(1)), F.max("h")).alias("uest")
    )
    per_src = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        st.select(F.col("source").alias("source_a"), "tok")
        .join(st.select(F.col("source").alias("source_b"), "tok"), "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    out = (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .join(per_src.select(F.col("source").alias("source_a"), F.col("n").alias("na")), "source_a")
        .join(per_src.select(F.col("source").alias("source_b"), F.col("n").alias("nb")), "source_b")
        .join(ukth, ["source_a", "source_b"])
        .join(kth.select(F.col("source").alias("source_a"), F.col("est").alias("esta")), "source_a")
        .join(kth.select(F.col("source").alias("source_b"), F.col("est").alias("estb")), "source_b")
        .withColumn("ni", F.coalesce(F.col("ni"), F.lit(0)))
    )
    return out.select(
        "source_a",
        "source_b",
        (F.col("na") + F.col("nb") - F.col("ni")).cast("long").alias("n_exact_union"),
        F.col("ni").cast("long").alias("n_exact_inter"),
        F.round(F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni")), 6).alias(
            "exact_jaccard"
        ),
        F.round(F.col("uest"), 4).alias("est_union"),
        F.round(
            (F.col("esta") + F.col("estb") - F.col("uest")) / F.col("uest"), 6
        ).alias("est_jaccard"),
    )


# --------------------------------------------------------------------------
# k-anonymity audit — quasi-identifier group-size risk
# --------------------------------------------------------------------------

KA_BAND = 1000.0  # acctbal band width for the quasi-identifier


@query(
    "k_anonymity_audit",
    f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             cast(floor(c_acctbal / {KA_BAND}) as bigint) AS bal_band
      FROM customer),
    grp AS (
      SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS sz
      FROM qi GROUP BY ALL)
    SELECT cast(sum(sz) as bigint) AS n_rows,
           cast(count(*) as bigint) AS n_groups,
           cast(min(sz) as bigint) AS min_group_size,
           cast(max(sz) as bigint) AS max_group_size,
           cast(sum(CASE WHEN sz < 2 THEN sz ELSE 0 END) as bigint) AS n_rows_unique,
           cast(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) as bigint) AS n_rows_below_k5,
           round(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)::double / sum(sz), 6)
             AS frac_at_risk_k5
    FROM grp
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity over the (nation, segment, balance-band) quasi-
    identifier (Sweeney's re-identification model): group sizes, the
    minimum k the table actually achieves, and how many rows sit in
    groups smaller than k=5 — the privacy gate a training-data release
    runs before shipping anything row-level. Two partial-aggregable
    groupBys; the QI banding is a pure projection, so the whole audit
    is one shuffle on the QI key at any scale."""
    c = load(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / KA_BAND).cast("long").alias("bal_band"),
    )
    grp = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return grp.agg(
        F.sum("sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("sz").cast("long").alias("min_group_size"),
        F.max("sz").cast("long").alias("max_group_size"),
        F.sum(F.when(F.col("sz") < 2, F.col("sz")).otherwise(0)).cast("long").alias("n_rows_unique"),
        F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0)).cast("long").alias("n_rows_below_k5"),
        F.round(
            F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0)).cast("double") / F.sum("sz"),
            6,
        ).alias("frac_at_risk_k5"),
    )


# --------------------------------------------------------------------------
# Irregular time-series & attribution analytics over events
# --------------------------------------------------------------------------


@query(
    "time_weighted_user_value",
    """
    WITH iv AS (
      SELECT user_id, value,
             date_diff('second', ts,
                       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS dt
      FROM events)
    SELECT user_id,
           cast(count(*) as bigint) AS n_intervals,
           cast(sum(dt) as bigint) AS total_secs,
           round(cast(sum(cast(value as decimal(18,6)) * dt) as double) / sum(dt), 6)
             AS twa_value
    FROM iv WHERE dt IS NOT NULL AND dt > 0
    GROUP BY user_id
    """,
)
def time_weighted_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average value per user — each reading holds until
    the next one, so it is weighted by its interval length, the correct
    mean for irregularly-sampled gauges (row-weighted means over-count
    burst periods). Zero-length intervals carry no weight and drop out.

    Shape: one lead() window on the HIGH-cardinality user_id key, then
    a partial-aggregable groupBy. The value*dt products accumulate as
    exact decimals so both engines emit bit-identical doubles."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        "value",
        (F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")).alias("dt"),
    ).where(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return iv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt").cast("long").alias("total_secs"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("dt")).cast("double")
            / F.sum("dt"),
            6,
        ).alias("twa_value"),
    )


GAP_THRESHOLDS_S = (60, 300, 600, 1800, 3600)


@query(
    "session_gap_survival",
    f"""
    WITH gaps AS (
      SELECT date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
      FROM events)
    SELECT t.threshold_s,
           cast(count(*) as bigint) AS n_gaps,
           cast(sum(CASE WHEN gap_s > t.threshold_s THEN 1 ELSE 0 END) as bigint) AS n_exceed,
           round(sum(CASE WHEN gap_s > t.threshold_s THEN 1 ELSE 0 END)::double / count(*), 6)
             AS survival
    FROM gaps CROSS JOIN (VALUES {", ".join(f"({t})" for t in GAP_THRESHOLDS_S)}) t(threshold_s)
    WHERE gap_s IS NOT NULL
    GROUP BY t.threshold_s
    """,
)
def session_gap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve of inter-event gaps — P(gap > t) at candidate
    session-timeout thresholds. This is the evidence behind the 10-min
    gap every sessionize query in this repo uses: pick the threshold
    where the curve flattens (real session boundaries) instead of the
    steep head (within-session pauses). One lag() window on user_id,
    then a broadcast 5-row threshold table and a partial-aggregable
    conditional count — the 5x row fan-out happens map-side."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    thresholds = F.broadcast(
        load(spark, sf_dir, "events")
        .sparkSession.createDataFrame(
            [(t,) for t in GAP_THRESHOLDS_S], "threshold_s int"
        )
    )
    return gaps.crossJoin(thresholds).groupBy("threshold_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum((F.col("gap_s") > F.col("threshold_s")).cast("int")).cast("long").alias("n_exceed"),
        F.round(
            F.sum((F.col("gap_s") > F.col("threshold_s")).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("survival"),
    )


MAD_CUT = 4.4478  # 3 * 1.4826 (the normal-consistency constant), one literal


@query(
    "robust_outlier_audit",
    f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           cast(count(*) as bigint) AS n,
           round(any_value(d.med), 6) AS median_value,
           round(any_value(m.mad), 6) AS mad_value,
           cast(sum(CASE WHEN d.adev > {MAD_CUT} * m.mad THEN 1 ELSE 0 END) as bigint)
             AS n_outliers,
           round(sum(CASE WHEN d.adev > {MAD_CUT} * m.mad THEN 1 ELSE 0 END)::double
                 / count(*), 6) AS outlier_rate
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def robust_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier detection per event type — the robust
    alternative to mean/stddev z-scores (one fat-tailed burst inflates
    a stddev until nothing is an outlier; the median absolute deviation
    doesn't move). Flags |x - med| > 3·1.4826·MAD, the standard
    normal-consistent cut. Shape: two percentile groupBys on the same
    low-cardinality key with broadcast joins back — no windows. EXACT
    percentiles buffer each group's values in the aggregation state, so
    this spelling exists for the oracle hash-check; the production
    spelling is ``robust_outlier_audit_approx`` (sketch-mergeable
    approx_percentile, map-side combinable, bound-tested)."""
    return _robust_outlier_audit(spark, sf_dir, mode="exact")


@query("robust_outlier_audit_approx", None)
def robust_outlier_audit_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of ``robust_outlier_audit``: identical plan with
    ``approx_percentile`` (Greenwald–Khanna sketch, accuracy 10⁴ →
    rank error ≤ 1e-4·n) replacing the buffering ``percentile_cont``.
    The sketch is mergeable, so each percentile is a map-side-combinable
    partial agg that never concentrates a group's raw values in one
    task — the shape that survives 100 TB with a handful of event
    types. Rows-only by design: DuckDB has no GK sketch, so the check
    is tests/test_scale_helpers.py's closeness bound against the exact
    spelling (medians/MADs within rank tolerance, identical row set)."""
    return _robust_outlier_audit(spark, sf_dir, mode="approx")


#: Greenwald–Khanna accuracy for the approx twin: rank error ≤ n/1e4.
ROBUST_APPROX_ACCURACY = 10_000


def _robust_outlier_audit(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    if mode == "exact":
        med_expr = "percentile_cont(0.5) WITHIN GROUP (ORDER BY value)"
        mad_expr = "percentile_cont(0.5) WITHIN GROUP (ORDER BY adev)"
    elif mode == "approx":
        med_expr = f"approx_percentile(value, 0.5, {ROBUST_APPROX_ACCURACY})"
        mad_expr = f"approx_percentile(adev, 0.5, {ROBUST_APPROX_ACCURACY})"
    else:
        raise ValueError(f"mode must be 'exact' or 'approx', got {mode!r}")
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.expr(med_expr).cast("double").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr(mad_expr).cast("double").alias("mad"))
    d = dev.join(F.broadcast(mad), "event_type")
    out_flag = (F.col("adev") > F.lit(MAD_CUT) * F.col("mad")).cast("int")
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.first("med"), 6).alias("median_value"),
        F.round(F.first("mad"), 6).alias("mad_value"),
        F.sum(out_flag).cast("long").alias("n_outliers"),
        F.round(F.sum(out_flag).cast("double") / F.count(F.lit(1)), 6).alias("outlier_rate"),
    )


ATTR_WINDOW_MIN = 30


@query(
    "events_attribution_last_touch",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT purchase_id, event_type FROM (
        SELECT p.purchase_id, e.event_type,
               row_number() OVER (PARTITION BY p.purchase_id
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM p JOIN events e
          ON e.user_id = p.user_id AND e.event_type <> 'purchase'
         AND e.ts < p.p_ts AND e.ts >= p.p_ts - INTERVAL {ATTR_WINDOW_MIN} MINUTE
      ) q WHERE rn = 1),
    attributed AS (
      SELECT p.purchase_id, coalesce(t.event_type, 'direct') AS attributed_type
      FROM p LEFT JOIN touch t USING (purchase_id))
    SELECT attributed_type,
           cast(count(*) as bigint) AS n_purchases,
           round(count(*)::double / (SELECT count(*) FROM p), 6) AS share
    FROM attributed GROUP BY attributed_type
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the
    most recent non-purchase event by the same user inside a
    {ATTR_WINDOW_MIN}-minute lookback, else 'direct'. The
    marketing-analytics shape behind every as-of join in this repo —
    here the argmax-per-purchase is a partial-aggregable
    max(struct(ts, event_id, type)), never a window over the raw join
    fan-out, and the time bound keeps the per-user join quadratic only
    within the lookback, which is what makes it tractable at 100 TB."""
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cand = p.join(
        ev.select("user_id", "event_type", "ts", "event_id"),
        (F.col("user_id") == F.col("p_user"))
        & (F.col("event_type") != "purchase")
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_MIN} MINUTES")),
    )
    touch = cand.groupBy("purchase_id").agg(
        F.max(F.struct("ts", "event_id", F.col("event_type").alias("et"))).alias("m")
    ).select("purchase_id", F.col("m.et").alias("touch_type"))
    attributed = p.join(touch, "purchase_id", "left").select(
        "purchase_id", F.coalesce(F.col("touch_type"), F.lit("direct")).alias("attributed_type")
    )
    total = p.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        attributed.groupBy("attributed_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "attributed_type",
            F.col("n").cast("long").alias("n_purchases"),
            F.round(F.col("n").cast("double") / F.col("n_total"), 6).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Training-prep audits: split leakage, negatives, centroid geometry,
# containment
# --------------------------------------------------------------------------


def _split_leak_oracle() -> str:
    from .pipelineq import _bucket_sql, _crossdoc_gram_sql

    return f"""
    WITH splits AS (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id, {_bucket_sql("doc_id")} AS b FROM documents)),
    grams AS ({_crossdoc_gram_sql()}),
    sg AS (
      SELECT DISTINCT s.split, g.gram
      FROM grams g JOIN splits s USING (doc_id)),
    per AS (SELECT split, count(*) AS n FROM sg GROUP BY split),
    shared AS (
      SELECT a.split AS split_a, b.split AS split_b, count(*) AS n_shared
      FROM sg a JOIN sg b ON a.gram = b.gram AND a.split < b.split
      GROUP BY a.split, b.split)
    SELECT s.split_a, s.split_b,
           cast(pa.n as bigint) AS n_grams_a,
           cast(pb.n as bigint) AS n_grams_b,
           cast(s.n_shared as bigint) AS n_shared,
           round(s.n_shared::double / least(pa.n, pb.n), 6) AS contamination
    FROM shared s
    JOIN per pa ON pa.split = s.split_a
    JOIN per pb ON pb.split = s.split_b
    """


@query("split_leakage_audit", _split_leak_oracle())
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE audit at substring granularity: the
    fraction of 8-token shingles each split pair shares (normalized by
    the smaller side). Doc-level hash splits guarantee no document
    crosses a split — but template text, boilerplate, and quoted
    passages still do, and that's what inflates eval scores. Run after
    ``dataset_split_assign``, before any benchmark claim.

    Shape: distinct (split, gram) partial-aggregates before its
    shuffle; the pair join is an equi-join on the gram key (never
    all-pairs across docs). At 100 TB the gram would be md5-hashed to
    bound shuffle width, exactly as ``crossdoc_ngram_dup_fraction``."""
    from .pipelineq import _bucket_col, _crossdoc_grams

    d = load(spark, sf_dir, "documents")
    splits = d.select("doc_id", _bucket_col(F.col("doc_id")).alias("b")).select(
        "doc_id",
        F.when(F.col("b") < 80, "train").when(F.col("b") < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    from pyspark import StorageLevel

    sg = (
        _crossdoc_grams(spark, sf_dir)
        .join(splits, "doc_id")
        .select("split", "gram")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # feeds per-split counts and both sides of the pair join
    per = sg.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        sg.select(F.col("split").alias("split_a"), "gram")
        .join(sg.select(F.col("split").alias("split_b"), "gram"), "gram")
        .where(F.col("split_a") < F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(per.select(F.col("split").alias("split_a"), F.col("n").alias("na"))),
            "split_a",
        )
        .join(
            F.broadcast(per.select(F.col("split").alias("split_b"), F.col("n").alias("nb"))),
            "split_b",
        )
        .select(
            "split_a",
            "split_b",
            F.col("na").cast("long").alias("n_grams_a"),
            F.col("nb").cast("long").alias("n_grams_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double") / F.least(F.col("na"), F.col("nb")), 6
            ).alias("contamination"),
        )
    )


CN_ANCHORS = 10  # doc_id < this are the anchor documents
CN_K = 4  # negatives per anchor
CN_SALT = "neg|"


@query(
    "contrastive_negatives_sample",
    f"""
    WITH anchors AS (
      SELECT doc_id AS anchor_doc_id, source AS a_source
      FROM documents WHERE doc_id < {CN_ANCHORS}),
    cand AS (
      SELECT a.anchor_doc_id, d.doc_id AS neg_doc_id, d.source AS neg_source,
             cast(concat('0x', substr(md5(concat('{CN_SALT}',
                    cast(a.anchor_doc_id as varchar), '|', cast(d.doc_id as varchar))), 1, 15))
                  as bigint) AS h
      FROM anchors a JOIN documents d ON d.source <> a.a_source)
    SELECT anchor_doc_id, neg_doc_id, neg_source, cast(rn as bigint) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY anchor_doc_id
                                       ORDER BY h, neg_doc_id) AS rn
          FROM cand) q
    WHERE rn <= {CN_K}
    """,
)
def contrastive_negatives_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic in-batch NEGATIVE mining for contrastive training
    (retrieval/embedding fine-tuning): each anchor draws {CN_K}
    pseudo-random cross-source negatives via a salted pair hash — the
    same sample on every run, any partitioning, any insertion order
    (the property an RNG-based sampler loses on re-runs). Cross-source
    is the cheap hard-negative heuristic: same-domain lookalikes score
    high but carry no relevance signal.

    Shape: anchors broadcast; per-anchor top-k runs through
    ``grouped_top_k`` (anchors are a LOW-cardinality key — a plain
    partitionBy window would single-task the candidate stream)."""
    from ..operators.scale import grouped_top_k

    d = load(spark, sf_dir, "documents")
    anchors = d.where(F.col("doc_id") < CN_ANCHORS).select(
        F.col("doc_id").alias("anchor_doc_id"), F.col("source").alias("a_source")
    )
    cand = (
        d.select(F.col("doc_id").alias("neg_doc_id"), F.col("source").alias("neg_source"))
        .join(F.broadcast(anchors), F.col("neg_source") != F.col("a_source"))
        .select(
            "anchor_doc_id",
            "neg_doc_id",
            "neg_source",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(CN_SALT),
                            F.col("anchor_doc_id").cast("string"),
                            F.lit("|"),
                            F.col("neg_doc_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
    )
    return (
        grouped_top_k(cand, ["anchor_doc_id"], ["h", "neg_doc_id"], CN_K)
        .select(
            "anchor_doc_id", "neg_doc_id", "neg_source", F.col("rn").cast("long").alias("rn")
        )
    )


@query(
    "embedding_centroid_shift",
    """
    WITH comp AS (
      SELECT label, cast(pos as bigint) AS pos, embedding[pos]::DOUBLE AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)),
    cent AS (
      SELECT label, pos,
             cast(sum(cast(v as decimal(27,18))) as double) / count(*) AS c
      FROM comp GROUP BY label, pos),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             cast(sum(cast(a.c * b.c as decimal(38,18))) as double) AS num,
             cast(sum(cast(a.c * a.c as decimal(38,18))) as double) AS da,
             cast(sum(cast(b.c * b.c as decimal(38,18))) as double) AS db
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label)
    SELECT label_a, label_b,
           round(num / (sqrt(da) * sqrt(db)), 8) AS centroid_cosine,
           round(sqrt(da + db - 2 * num), 6) AS centroid_l2
    FROM pairs
    """,
)
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise geometry of per-label embedding centroids — the drift /
    cluster-separation monitor for an embedding space: low inter-
    centroid cosine = well-separated clusters; a pair drifting toward 1
    flags label confusion or encoder collapse. Same shape monitors a
    source's centroid across ingestion batches at 100 TB (N tiny
    centroid vectors, however big the corpus).

    Shape: posexplode → one partial-aggregable (label, dim) groupBy; the
    pairwise stage joins |labels|x|dims| rows — already reduced from
    |vectors|. Centroid means and all cross products accumulate as
    exact decimals so both engines emit identical doubles."""
    e = load(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).cast("long").alias("pos"), "v")
    cent = comp.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("decimal(27,18)")).cast("double") / F.count(F.lit(1))).alias("c")
    )
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("cb"))
    pairs = (
        a.join(b, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum((F.col("ca") * F.col("cb")).cast("decimal(38,18)")).cast("double").alias("num"),
            F.sum((F.col("ca") * F.col("ca")).cast("decimal(38,18)")).cast("double").alias("da"),
            F.sum((F.col("cb") * F.col("cb")).cast("decimal(38,18)")).cast("double").alias("db"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(F.col("num") / (F.sqrt("da") * F.sqrt("db")), 8).alias("centroid_cosine"),
        F.round(F.sqrt(F.col("da") + F.col("db") - 2 * F.col("num")), 6).alias("centroid_l2"),
    )


CONTAIN_MAX_DF = 20  # shingles in more docs than this are boilerplate, not overlap


def _containment_oracle() -> str:
    from .pipelineq import _crossdoc_gram_sql

    return f"""
    WITH g0 AS (SELECT DISTINCT doc_id, gram FROM ({_crossdoc_gram_sql()})),
    df AS (SELECT gram, count(*) AS nd FROM g0 GROUP BY gram),
    grams AS (
      SELECT g0.doc_id, g0.gram, df.nd
      FROM g0 JOIN df USING (gram) WHERE df.nd <= {CONTAIN_MAX_DF}),
    per AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      WHERE a.nd >= 2
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b,
           cast(pa.n as bigint) AS n_grams_a,
           cast(i.ni as bigint) AS n_inter,
           round(i.ni::double / pa.n, 6) AS containment
    FROM inter i JOIN per pa ON pa.doc_id = i.doc_a
    """


@query("shingle_containment_pairs", _containment_oracle())
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection — containment C(a,b) =
    |S(a)∩S(b)| / |S(a)| over 8-token shingles (Broder's original
    resemblance/containment pair): Jaccard misses a short doc quoted
    wholesale inside a long one (union dwarfs the overlap), containment
    pins it at ~1.0. The excerpt/quotation detector a dedup pass runs
    AFTER symmetric MinHash. Directed pairs, so both a⊂b and b⊂a are
    visible. The containment universe drops shingles in more than
    {CONTAIN_MAX_DF} docs — boilerplate that would both fan the join
    out quadratically in its doc-frequency AND mislabel template reuse
    as quotation. That cap is what bounds the join at 100 TB: the
    worst-case pair fan-out per shingle is {CONTAIN_MAX_DF}², however
    hot the template.

    Shape: equi-join on the gram key only (pairs materialize solely
    where rare shingles actually collide — never the |docs|² cross
    join); both inputs partial-aggregate first."""
    from .pipelineq import _crossdoc_grams

    from pyspark import StorageLevel

    g0 = _crossdoc_grams(spark, sf_dir).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    df_ = g0.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    grams = (
        g0.join(df_, "gram")
        .where(F.col("nd") <= CONTAIN_MAX_DF)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # feeds per-doc counts and both sides of the collision join
    per = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        grams.where(F.col("nd") >= 2)
        .select(F.col("doc_id").alias("doc_a"), "gram")
        .join(grams.select(F.col("doc_id").alias("doc_b"), "gram"), "gram")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    return inter.join(
        F.broadcast(per.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))), "doc_a"
    ).select(
        "doc_a",
        "doc_b",
        F.col("na").cast("long").alias("n_grams_a"),
        F.col("ni").cast("long").alias("n_inter"),
        F.round(F.col("ni").cast("double") / F.col("na"), 6).alias("containment"),
    )


# --------------------------------------------------------------------------
# Product quantization, HITS, and Markov stationary analytics
# --------------------------------------------------------------------------

PQ_SUBS = 4  # subspaces: 64 dims -> 4 x 16
PQ_SUBDIM = 16
PQ_CODES = 8  # codes per subspace; init = vec_id 0..7's subvectors


def _pq_oracle() -> str:
    return f"""
    WITH comp AS (
      SELECT vec_id, cast((pos - 1) // {PQ_SUBDIM} as bigint) AS sub,
             cast((pos - 1) % {PQ_SUBDIM} + 1 as bigint) AS spos,
             embedding[pos]::DOUBLE AS val
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(pos)),
    subv AS (
      SELECT vec_id, sub, list(val ORDER BY spos) AS sv
      FROM comp GROUP BY vec_id, sub),
    codes AS (
      SELECT sub, cast(vec_id as bigint) AS code, sv AS cv
      FROM subv WHERE vec_id < {PQ_CODES}),
    assign AS (
      SELECT vec_id, sub, code, d2 FROM (
        SELECT v.vec_id, v.sub, c.code,
               round(list_dot_product(v.sv, v.sv) - 2 * list_dot_product(v.sv, c.cv)
                     + list_dot_product(c.cv, c.cv), 8) AS d2,
               row_number() OVER (
                 PARTITION BY v.vec_id, v.sub
                 ORDER BY round(list_dot_product(v.sv, v.sv) - 2 * list_dot_product(v.sv, c.cv)
                                + list_dot_product(c.cv, c.cv), 8), c.code) AS rn
        FROM subv v JOIN codes c ON v.sub = c.sub) q
      WHERE rn = 1),
    recomputed AS (
      SELECT a.sub, a.code, c.spos,
             round(cast(sum(cast(c.val as decimal(28,12))) as double) / count(*), 8) AS cval
      FROM assign a JOIN comp c ON c.vec_id = a.vec_id AND c.sub = a.sub
      GROUP BY a.sub, a.code, c.spos)
    SELECT a.sub AS subspace, a.code,
           cast(count(*) as bigint) AS n_members,
           round(cast(sum(cast(a.d2 as decimal(28,8))) as double), 8) AS wcss,
           any_value(r.cval) AS c1
    FROM assign a JOIN recomputed r ON r.sub = a.sub AND r.code = a.code AND r.spos = 1
    GROUP BY a.sub, a.code
    """


@query("pq_codebook_train", _pq_oracle())
def pq_codebook_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-quantization codebook training, one Lloyd fold: split
    the 64-dim space into {PQ_SUBS} x {PQ_SUBDIM}-dim subspaces, run an
    independent tiny k-means (k={PQ_CODES}, deterministic init from the
    first {PQ_CODES} vectors) in each, emit per-(subspace, code)
    membership, quantization WCSS, and the refit centroid's first
    component. PQ is how billion-vector ANN fits in RAM: a vector
    compresses to {PQ_SUBS} bytes of code ids, and asymmetric distances
    come from {PQ_SUBS} table lookups (Jégou et al., public IVF-PQ).

    Distributed shape per subspace, same as ``kmeans_lloyd_2iter``:
    codebooks are tiny -> broadcast to the assignment map (no shuffle
    of the vector table); the refit partial-aggregates to
    subs x codes x dims cells. All {PQ_SUBS} subspace problems ride ONE
    plan — subspace is just another grouping column, so 'train {PQ_SUBS}
    independent quantizers' costs one pass, not {PQ_SUBS}."""
    from pyspark.sql.window import Window

    from .vectors import dot, l2_norm_sq

    e = load(spark, sf_dir, "embeddings")
    from pyspark import StorageLevel

    comp = (
        e.select(
            "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "val")
        )
        .select(
            "vec_id",
            (F.col("pos0") / PQ_SUBDIM).cast("long").alias("sub"),
            (F.col("pos0") % PQ_SUBDIM + 1).cast("long").alias("spos"),
            "val",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # feeds the subvector build AND the refit rejoin
    subv = comp.groupBy("vec_id", "sub").agg(
        F.transform(F.sort_array(F.collect_list(F.struct("spos", "val"))), lambda s: s["val"]).alias(
            "sv"
        )
    )
    codes = subv.where(F.col("vec_id") < PQ_CODES).select(
        "sub", F.col("vec_id").cast("long").alias("code"), F.col("sv").alias("cv")
    )
    d2 = F.round(
        l2_norm_sq(F.col("sv")) - 2 * dot(F.col("sv"), F.col("cv")) + l2_norm_sq(F.col("cv")), 8
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("d2", "code")
    assign = (
        subv.join(F.broadcast(codes), "sub")
        .select("vec_id", "sub", "code", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    recomputed = (
        assign.join(comp, ["vec_id", "sub"])
        .groupBy("sub", "code", "spos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)), 8
            ).alias("cval")
        )
    )
    return (
        assign.groupBy("sub", "code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(F.sum(F.col("d2").cast("decimal(28,8)")).cast("double"), 8).alias("wcss"),
        )
        .join(
            F.broadcast(recomputed.where(F.col("spos") == 1).select("sub", "code", "cval")),
            ["sub", "code"],
        )
        .select(
            F.col("sub").alias("subspace"),
            "code",
            "n_members",
            "wcss",
            F.col("cval").alias("c1"),
        )
    )


HITS_ITERS = 2


def _hits_oracle() -> str:
    from . import REGISTRY
    from .vectors import KNN_UNIVERSE

    edges = REGISTRY["knn_graph_by_label"].oracle
    sql = f"""
    WITH edges AS (SELECT src, dst FROM ({edges}) e),
    nodes AS (SELECT vec_id FROM embeddings),
    h0 AS (SELECT vec_id, cast(1 as bigint) AS h FROM nodes)
    """
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        sql += f""",
    a{i} AS (
      SELECT n.vec_id, cast(coalesce(sum(p.h), 0) as bigint) AS a
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.vec_id
      LEFT JOIN {prev_h} p ON p.vec_id = e.src
      GROUP BY n.vec_id),
    h{i} AS (
      SELECT n.vec_id, cast(coalesce(sum(q.a), 0) as bigint) AS h
      FROM nodes n
      LEFT JOIN edges e ON e.src = n.vec_id
      LEFT JOIN a{i} q ON q.vec_id = e.dst
      GROUP BY n.vec_id)
    """
        prev_h = f"h{i}"
    sql += f"""
    SELECT n.vec_id, a.a AS authority_score, h.h AS hub_score,
           cast({KNN_UNIVERSE} as bigint) AS knn_universe
    FROM nodes n
    JOIN a{HITS_ITERS} a USING (vec_id) JOIN h{HITS_ITERS} h USING (vec_id)
    """
    return sql


@query("hits_hub_authority", _hits_oracle())
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, {HITS_ITERS} power iterations over the
    k-NN graph (Kleinberg) — the directed-graph complement to
    ``pagerank_knn_2iter``: a vector many neighbors point AT is an
    authority (a cluster medoid); one whose OWN neighbor list hits
    authorities is a hub. Deliberately UNnormalized: after
    {HITS_ITERS} iterations from all-ones the scores are exact path
    counts (integers — cross-engine determinism for free); the usual
    L2 normalization rescales ranks it never changes, so it stays a
    display concern.

    Distributed shape per iteration: two equi-joins on the edge key +
    partial-aggregable integer sums — the standard message-passing
    pattern. Edges reuse the ``knn_graph_by_label`` plan (bucketed
    self-join, never |N|²)."""
    from pyspark import StorageLevel

    from .vectors import KNN_UNIVERSE, knn_graph_by_label

    # the k-NN graph build (bucketed self-join + window) feeds two
    # joins per iteration — materialize it once
    edges = (
        knn_graph_by_label(spark, sf_dir)
        .select("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = load(spark, sf_dir, "embeddings").select("vec_id")
    h = nodes.select("vec_id", F.lit(1).cast("long").alias("s"))
    a = None
    for _ in range(HITS_ITERS):
        a = (
            nodes.join(edges, nodes.vec_id == edges.dst, "left")
            .join(h.select(F.col("vec_id").alias("_sv"), "s"), F.col("src") == F.col("_sv"), "left")
            .groupBy(nodes.vec_id)
            .agg(F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("s"))
        )
        h = (
            nodes.join(edges, nodes.vec_id == edges.src, "left")
            .join(a.select(F.col("vec_id").alias("_sv"), "s"), F.col("dst") == F.col("_sv"), "left")
            .groupBy(nodes.vec_id)
            .agg(F.coalesce(F.sum("s"), F.lit(0)).cast("long").alias("s"))
        )
    return (
        nodes.join(a.select("vec_id", F.col("s").alias("authority_score")), "vec_id")
        .join(h.select("vec_id", F.col("s").alias("hub_score")), "vec_id")
        .select(
            "vec_id", "authority_score", "hub_score",
            F.lit(KNN_UNIVERSE).cast("long").alias("knn_universe"),
        )
    )


MARKOV_ITERS = 2


def _markov_stationary_oracle() -> str:
    sql = """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type),
    p AS (
      SELECT from_type, to_type,
             round(n::double / sum(n) OVER (PARTITION BY from_type), 9) AS p
      FROM trans),
    types AS (SELECT DISTINCT event_type FROM events),
    pi0 AS (
      SELECT event_type, round(1.0 / (SELECT count(*) FROM types), 9) AS prob FROM types)
    """
    prev = "pi0"
    for i in range(1, MARKOV_ITERS + 1):
        sql += f""",
    pi{i} AS (
      SELECT t.event_type,
             round(coalesce(cast(sum(cast(pr.prob * p.p as decimal(38,18)))
                                 as double), 0.0), 9) AS prob
      FROM types t
      LEFT JOIN p ON p.to_type = t.event_type
      LEFT JOIN {prev} pr ON pr.event_type = p.from_type
      GROUP BY t.event_type)
    """
        prev = f"pi{i}"
    sql += f"""
    SELECT event_type, round(prob, 8) + 0.0 AS stationary_prob
    FROM pi{MARKOV_ITERS}
    """
    return sql


@query("markov_stationary_power", _markov_stationary_oracle())
def markov_stationary_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate stationary distribution of the event-type Markov
    chain: {MARKOV_ITERS} power iterations of pi·P from uniform, with
    P the row-normalized transition matrix ``events_markov_transitions``
    estimates. Where the raw event-type histogram says what users DO,
    the stationary distribution says where the chain SETTLES — the
    long-run state mix under observed dynamics, and the quantity a
    traffic simulator needs.

    Shape: P is |types|² ≈ tiny — the heavy lift is the one lag()
    window building transitions (high-cardinality user key); each
    power step is a broadcast join + decimal-exact sum over ≤|types|
    terms. At 100 TB the matrix still fits in a float[25]; only the
    transition count changes."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type", F.lead("event_type").over(w).alias("next_type")).where(
        F.col("next_type").isNotNull()
    )
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    p = trans.join(F.broadcast(totals), "from_type").select(
        "from_type", "to_type", F.round(F.col("n").cast("double") / F.col("tot"), 9).alias("p")
    )
    types = ev.select("event_type").distinct()
    ntypes = types.agg(F.count(F.lit(1)).alias("nt"))
    pi = types.crossJoin(F.broadcast(ntypes)).select(
        "event_type", F.round(F.lit(1.0) / F.col("nt"), 9).alias("prob")
    )
    for _ in range(MARKOV_ITERS):
        pi = (
            types.join(p, p.to_type == types.event_type, "left")
            .join(
                pi.select(F.col("event_type").alias("_ft"), "prob"),
                F.col("from_type") == F.col("_ft"),
                "left",
            )
            .groupBy(types.event_type)
            .agg(
                F.round(
                    F.coalesce(
                        F.sum((F.col("prob") * F.col("p")).cast("decimal(38,18)")).cast("double"),
                        F.lit(0.0),
                    ),
                    9,
                ).alias("prob")
            )
        )
    return pi.select("event_type", (F.round("prob", 8) + F.lit(0.0)).alias("stationary_prob"))


# --------------------------------------------------------------------------
# Partition planning, funnel timing, prefix dedup, Good-Turing, Gini
# --------------------------------------------------------------------------

PFP_TARGET_BYTES = 131072  # toy 128 KiB target "file" for the planner
PFP_ROW_OVERHEAD = 32  # fixed per-row byte estimate + variable-width cols


@query(
    "partition_file_planner",
    f"""
    WITH sized AS (
      SELECT date_trunc('month', o_orderdate) AS part_month,
             {PFP_ROW_OVERHEAD} + length(o_orderpriority) + length(o_orderstatus) AS est
      FROM orders),
    parts AS (
      SELECT part_month, count(*) AS n_rows, sum(est) AS est_bytes
      FROM sized GROUP BY part_month),
    total AS (SELECT sum(n_rows)::double / count(*) AS avg_rows FROM parts)
    SELECT cast(part_month as date) AS part_month,
           cast(n_rows as bigint) AS n_rows,
           cast(est_bytes as bigint) AS est_bytes,
           cast((est_bytes + {PFP_TARGET_BYTES} - 1) // {PFP_TARGET_BYTES} as bigint) AS n_files,
           round(n_rows / avg_rows, 6) AS skew_vs_avg
    FROM parts, total
    """,
)
def partition_file_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction/layout PLANNING table: per month-partition row count,
    estimated bytes, the file count a {PFP_TARGET_BYTES}-byte target
    implies (ceil division in pure integer math), and skew vs the mean
    partition. This is the input to every small-file compaction and
    repartition(n) decision — at 100 TB you run the planner (one cheap
    partial-aggregable groupBy over scan metadata) BEFORE the write,
    instead of discovering a 40k-file partition after. The byte
    estimator uses fixed + variable-width column terms only (no
    engine-specific serialization guesses)."""
    o = load(spark, sf_dir, "orders")
    sized = o.select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("part_month"),
        (
            F.lit(PFP_ROW_OVERHEAD)
            + F.length("o_orderpriority")
            + F.length("o_orderstatus")
        ).alias("est"),
    )
    parts = sized.groupBy("part_month").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("est").alias("est_bytes")
    )
    total = parts.agg(
        (F.sum("n_rows").cast("double") / F.count(F.lit(1))).alias("avg_rows")
    )
    return parts.crossJoin(F.broadcast(total)).select(
        "part_month",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("est_bytes").cast("long").alias("est_bytes"),
        F.expr(f"(est_bytes + {PFP_TARGET_BYTES} - 1) div {PFP_TARGET_BYTES}")
        .cast("long")
        .alias("n_files"),
        F.round(F.col("n_rows") / F.col("avg_rows"), 6).alias("skew_vs_avg"),
    )


FUNNEL_LOOKBACK_H = 24


@query(
    "funnel_time_to_convert",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'),
    lat AS (
      SELECT p.purchase_id,
             date_diff('second', min(e.ts), any_value(p.p_ts)) AS latency_s
      FROM p JOIN events e
        ON e.user_id = p.user_id AND e.event_type = 'view'
       AND e.ts < p.p_ts AND e.ts >= p.p_ts - INTERVAL {FUNNEL_LOOKBACK_H} HOUR
      GROUP BY p.purchase_id)
    SELECT cast(count(*) as bigint) AS n_conversions,
           round(quantile_cont(latency_s, 0.5), 6) AS p50_latency_s,
           round(quantile_cont(latency_s, 0.9), 6) AS p90_latency_s,
           round(sum(latency_s)::double / count(*), 6) AS avg_latency_s
    FROM lat
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion LATENCY: for each purchase, seconds
    since the user's FIRST view inside a {FUNNEL_LOOKBACK_H}-hour
    lookback, summarized as exact p50/p90/mean — the time-dimension
    companion to ``events_view_purchase_funnel`` (which counts, but
    doesn't time). The per-purchase min-view is a partial-aggregable
    min, the bounded join keys per-user fan-out to the lookback
    horizon, and latencies are integer seconds so every downstream
    stat is FP-stable."""
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    lat = (
        p.join(
            ev.where(F.col("event_type") == "view").select("user_id", "ts"),
            (F.col("user_id") == F.col("p_user"))
            & (F.col("ts") < F.col("p_ts"))
            & (F.col("ts") >= F.col("p_ts") - F.expr(f"INTERVAL {FUNNEL_LOOKBACK_H} HOURS")),
        )
        .groupBy("purchase_id")
        .agg(
            (F.unix_timestamp(F.first("p_ts")) - F.unix_timestamp(F.min("ts"))).alias("latency_s")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.round(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY latency_s)"), 6).alias(
            "p50_latency_s"
        ),
        F.round(F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY latency_s)"), 6).alias(
            "p90_latency_s"
        ),
        F.round(F.sum("latency_s").cast("double") / F.count(F.lit(1)), 6).alias("avg_latency_s"),
    )


PREFIX_LEN = 64


@query(
    "doc_prefix_dedup",
    f"""
    WITH keyed AS (
      SELECT lang, doc_id, md5(substr(text, 1, {PREFIX_LEN})) AS pfx
      FROM documents),
    grp AS (
      SELECT lang, pfx, count(*) AS sz FROM keyed GROUP BY lang, pfx)
    SELECT lang,
           cast(sum(sz) as bigint) AS n_docs,
           cast(count(*) as bigint) AS n_prefix_groups,
           cast(sum(sz) - count(*) as bigint) AS n_dup_docs,
           round(count(*)::double / sum(sz), 6) AS retention
    FROM grp GROUP BY lang
    """,
)
def doc_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-key near-dedup per language: documents sharing an
    identical first-{PREFIX_LEN}-char hash collapse to one group — the
    cheap catch for mirrored pages, re-crawls with changed footers, and
    templated intros that differ only past the fold (public CC-dedup
    practice: URL+prefix keys before any MinHash spend). Retention =
    groups/docs is the per-language survival rate if the pass kept one
    doc per group. Pure projection + two partial-aggregable groupBys —
    the md5 prefix key bounds shuffle width regardless of doc length."""
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "lang", "doc_id", F.md5(F.substring("text", 1, PREFIX_LEN)).alias("pfx")
    )
    grp = keyed.groupBy("lang", "pfx").agg(F.count(F.lit(1)).alias("sz"))
    return grp.groupBy("lang").agg(
        F.sum("sz").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_prefix_groups"),
        (F.sum("sz") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("sz"), 6).alias("retention"),
    )


GT_MAX_F = 10


@query(
    "good_turing_counts",
    f"""
    WITH tf AS (
      SELECT tok, count(*) AS f
      FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS tok
            FROM documents)
      GROUP BY tok),
    foff AS (SELECT f, count(*) AS n_f FROM tf GROUP BY f)
    SELECT a.f, cast(a.n_f as bigint) AS n_f,
           cast(coalesce(b.n_f, 0) as bigint) AS n_f_plus_1,
           round((a.f + 1) * coalesce(b.n_f, 0)::double / a.n_f, 6) AS gt_adjusted_count
    FROM foff a LEFT JOIN foff b ON b.f = a.f + 1
    ORDER BY a.f LIMIT {GT_MAX_F}
    """,
)
def good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD-TURING frequency-of-frequencies: N_f for the {GT_MAX_F}
    SMALLEST observed frequency classes and the smoothed count
    f* = (f+1)·N_(f+1)/N_f — the classical adjustment for how much
    probability mass the unseen/rare tail deserves (the input every
    Katz-backoff LM and the 'how much tail vocabulary does one more
    shard buy' estimate needs). The head is rank-selected, not an
    absolute f ≤ {GT_MAX_F} cut: the synthetic corpus has a closed
    vocabulary whose minimum frequency exceeds any fixed literal, which
    made the absolute spelling VACUOUSLY empty at every SF (0 = 0
    oracle matches carry no signal — caught in the round-7 soak).
    Two nested partial-aggregable groupBys (token counts, then
    count-of-counts — at most |distinct frequencies| rows), a
    self-join on f+1, and a TakeOrdered head over that bounded frame;
    f is unique in the frequency table so the LIMIT is deterministic."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    foff = tf.groupBy("f").agg(F.count(F.lit(1)).alias("n_f"))
    a = foff.select(F.col("f"), F.col("n_f"))
    b = foff.select((F.col("f") - 1).alias("f"), F.col("n_f").alias("n_f1"))
    return (
        a.join(b, "f", "left")
        .orderBy("f")
        .limit(GT_MAX_F)
        .select(
            "f",
            F.col("n_f").cast("long").alias("n_f"),
            F.coalesce(F.col("n_f1"), F.lit(0)).cast("long").alias("n_f_plus_1"),
            F.round(
                (F.col("f") + 1) * F.coalesce(F.col("n_f1"), F.lit(0)).cast("double")
                / F.col("n_f"),
                6,
            ).alias("gt_adjusted_count"),
        )
    )


GINI_SHIFT = 1000.0  # c_acctbal >= -999.99, so +1000 makes values positive


@query(
    "acctbal_gini_by_nation",
    f"""
    WITH ranked AS (
      SELECT c_nationkey, c_acctbal + {GINI_SHIFT} AS x,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal, c_custkey) AS i
      FROM customer)
    SELECT c_nationkey,
           cast(count(*) as bigint) AS n_customers,
           round((2.0 * cast(sum(cast(i * cast(x as decimal(18,6)) as decimal(38,6)))
                             as double))
                 / (count(*) * cast(sum(cast(x as decimal(18,6))) as double))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked GROUP BY c_nationkey
    """,
)
def acctbal_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI coefficient of account balances per nation — the standard
    rank-formula spelling G = 2·Σi·xᵢ/(n·Σxᵢ) − (n+1)/n over values
    shifted non-negative (+{GINI_SHIFT}; TPC-H balances floor at
    -999.99). The concentration metric that tells a partitioner
    whether a nation's balance mass sits in a few whales (salting
    candidates) or spreads evenly.

    Scale shape: nations are a LOW-cardinality key, so the within-
    nation rank comes from ``grouped_prefix_sum`` (range-exchange
    kernel, counting 1s → exclusive prefix count + 1 = rank) instead
    of a 25-task partitionBy window; the Σi·xᵢ reduction then
    partial-aggregates as exact decimals."""
    from ..operators.scale import grouped_prefix_sum

    c = load(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal", F.lit(1).alias("_one")
    )
    ranked = grouped_prefix_sum(
        c, ["c_nationkey"], ["c_acctbal", "c_custkey"], "_one", out_col="_pfx"
    ).select(
        "c_nationkey",
        (F.col("c_acctbal") + GINI_SHIFT).alias("x"),
        (F.col("_pfx") + 1).alias("i"),
    )
    return ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(
            (
                2.0
                * F.sum(
                    (F.col("i") * F.col("x").cast("decimal(18,6)")).cast("decimal(38,6)")
                ).cast("double")
            )
            / (F.count(F.lit(1)) * F.sum(F.col("x").cast("decimal(18,6)")).cast("double"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# l-diversity (complements k_anonymity_audit: group SIZE is not enough
# when every member shares the sensitive value)
# --------------------------------------------------------------------------


@query(
    "l_diversity_audit",
    f"""
    WITH grp AS (
      SELECT c_nationkey, cast(floor(c_acctbal / {KA_BAND}) as bigint) AS bal_band,
             count(*) AS sz, count(DISTINCT c_mktsegment) AS l
      FROM customer GROUP BY ALL)
    SELECT cast(count(*) as bigint) AS n_groups,
           cast(min(l) as bigint) AS min_l,
           cast(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) as bigint) AS n_groups_homogeneous,
           cast(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) as bigint) AS n_groups_below_l3,
           cast(sum(CASE WHEN l < 3 THEN sz ELSE 0 END) as bigint) AS n_rows_below_l3,
           floor(cast(sum(CASE WHEN l < 3 THEN sz ELSE 0 END) as double) / sum(sz)
                 * 1000000.0 + 0.5) / 1000000.0 AS frac_rows_at_risk
    FROM grp
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity audit (Machanavajjhala et al. 2007) over
    the same quasi-identifier banding as ``k_anonymity_audit``, with
    ``c_mktsegment`` as the sensitive attribute: a QI group where every
    member shares one segment (l = 1) leaks it to a linker regardless
    of the group's k. Reports the group-count / row-count exposure
    below the l = 3 bar.

    Shape: one combinable groupBy on the QI key (count + distinct-count
    partial-aggregate), then a driver-sized summary agg — identical
    scale behavior to ``k_anonymity_audit``. The risk fraction uses the
    floor-based half-up rounding (int/int quotients land on ties)."""
    c = load(spark, sf_dir, "customer")
    grp = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / KA_BAND).cast("long").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    return grp.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("l") == 1, 1).otherwise(0)).cast("long").alias("n_groups_homogeneous"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0)).cast("long").alias("n_groups_below_l3"),
        F.sum(F.when(F.col("l") < 3, F.col("sz")).otherwise(0)).cast("long").alias("n_rows_below_l3"),
        (
            F.floor(
                F.sum(F.when(F.col("l") < 3, F.col("sz")).otherwise(0)).cast("double")
                / F.sum("sz")
                * 1000000.0
                + 0.5
            ).cast("double")
            / 1000000.0
        ).alias("frac_rows_at_risk"),
    )


@query(
    "events_attribution_linear",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT p.purchase_id, e.event_type
      FROM p JOIN events e
        ON e.user_id = p.user_id AND e.event_type <> 'purchase'
       AND e.ts < p.p_ts AND e.ts >= p.p_ts - INTERVAL {ATTR_WINDOW_MIN} MINUTE),
    sized AS (
      SELECT purchase_id, event_type,
             count(*) OVER (PARTITION BY purchase_id) AS n_touches
      FROM cand),
    credited AS (
      SELECT event_type,
             cast(round(1.0 / n_touches, 9) as decimal(18,9)) AS credit
      FROM sized)
    SELECT event_type,
           cast(count(*) as bigint) AS n_touches,
           round(cast(sum(credit) as double), 6) AS credit_total
    FROM credited GROUP BY event_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution beside the last-touch spelling:
    every non-purchase event in the {ATTR_WINDOW_MIN}-minute lookback
    shares the purchase's credit equally (1/n per touch) — the model
    marketers reach for when last-touch over-credits the final
    retargeting ping. Purchases with no touches carry no credit here
    (the 'direct' bucket is last-touch's concern).

    Exactness: per-touch credit 1/n is rounded to 9 dp then
    accumulated as exact decimal — a float Σ(1/n) over millions of
    touches would be order-dependent. Shape: same time-bounded
    per-user join as last-touch; the per-purchase touch count is a
    count window on the high-cardinality purchase key; one combinable
    decimal agg per channel."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cand = p.join(
        ev.select("user_id", "event_type", "ts"),
        (F.col("user_id") == F.col("p_user"))
        & (F.col("event_type") != "purchase")
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_MIN} MINUTES")),
    ).select("purchase_id", "event_type")
    sized = cand.withColumn(
        "n_touches", F.count(F.lit(1)).over(Window.partitionBy("purchase_id"))
    )
    credited = sized.select(
        "event_type",
        F.round(F.lit(1.0) / F.col("n_touches"), 9).cast("decimal(18,9)").alias("credit"),
    )
    return credited.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.round(F.sum("credit").cast("double"), 6).alias("credit_total"),
    )


_FK_EDGES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _ref_integrity_oracle() -> str:
    arms = []
    for child, fk, parent, pk in _FK_EDGES:
        arms.append(f"""
        SELECT '{child}.{fk}' AS fk_edge,
               (SELECT cast(count(*) as bigint) FROM {child}) AS n_child_rows,
               cast(count(*) as bigint) AS n_orphans
        FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}
        WHERE p.{pk} IS NULL""")
    return " UNION ALL ".join(arms)


@query("referential_integrity_audit", _ref_integrity_oracle())
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema FK pre-flight: orphan counts for every foreign-key
    edge in the star schema in ONE audit table — the first validation
    a warehouse load runs.

    Shape: each edge is a LEFT ANTI join (child shuffles on its FK,
    parent's KEY COLUMN only — never parent payloads) + a combinable
    count; dimension parents broadcast. Arms are independent —
    Spark runs them as one unioned job, scanning each child table
    once per edge with only the FK column read (column pruning)."""
    arms = []
    for child, fk, parent, pk in _FK_EDGES:
        c = load(spark, sf_dir, child).select(F.col(fk).alias("fk_val"))
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("pk_val"))
        orphans = c.join(p, F.col("fk_val") == F.col("pk_val"), "left_anti")
        arm = c.agg(F.count(F.lit(1)).cast("long").alias("n_child_rows")).crossJoin(
            orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        ).select(
            F.lit(f"{child}.{fk}").alias("fk_edge"), "n_child_rows", "n_orphans"
        )
        arms.append(arm)
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out
