"""Streaming ⇔ batch equivalence (SURVEY.md §5.2): each Structured
Streaming query drained with availableNow must equal its batch twin on
the same events data, for every window the watermark has FINALIZED.
Append mode deliberately withholds still-open windows (that's the
late-data contract) — the tail assertions pin exactly that behavior.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from data_engineering_rag_spark.plans import REGISTRY, load
from data_engineering_rag_spark.streaming.events import (
    hourly_event_stats_stream,
    sessionize_stream,
)


def _max_ts(spark, sf_dir):
    return load(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]


def test_hourly_stats_stream_equals_batch_finalized(spark, sf_dir):
    watermark = _max_ts(spark, sf_dir) - datetime.timedelta(hours=1)
    cols = ["hour_start", "event_type", "n_events", "sum_value"]
    stream = sorted(tuple(r[c] for c in cols) for r in hourly_event_stats_stream(spark, sf_dir).collect())
    batch_rows = REGISTRY["events_hourly_stats"].spark(spark, sf_dir).collect()
    finalized = sorted(
        tuple(r[c] for c in cols)
        for r in batch_rows
        if r["hour_start"] + datetime.timedelta(hours=1) <= watermark
    )
    withheld = [r for r in batch_rows if r["hour_start"] + datetime.timedelta(hours=1) > watermark]
    assert stream == finalized
    # the only rows the stream may withhold are the still-open tail
    assert len(withheld) + len(stream) == len(batch_rows)


def test_sessionize_stream_equals_batch_finalized(spark, sf_dir):
    gap = datetime.timedelta(minutes=10)
    watermark = _max_ts(spark, sf_dir) - datetime.timedelta(hours=1)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    stream = sorted(tuple(r[c] for c in cols) for r in sessionize_stream(spark, sf_dir, "10 minutes").collect())
    batch_rows = REGISTRY["events_sessionize_batch"].spark(spark, sf_dir).collect()
    batch = sorted(tuple(r[c] for c in cols) for r in batch_rows)

    stream_set = set(stream)
    batch_set = set(batch)
    # every finalized stream session is a real batch session...
    assert stream_set <= batch_set
    # ...and anything batch-only is in the unfinalized tail near the
    # final watermark (sessions can't close until watermark > end+gap).
    for row in batch_set - stream_set:
        assert row[2] + gap >= watermark, row
    # batch session_end is the LAST EVENT ts; session_window's end is
    # last-event + gap — normalize before comparing counts per user.
    assert sum(n for *_, n in stream) <= sum(n for *_, n in batch)


def test_sliding_counts_stream_equals_batch_finalized(spark, sf_dir):
    from data_engineering_rag_spark.streaming.events import sliding_counts_stream

    watermark = _max_ts(spark, sf_dir) - datetime.timedelta(hours=1)
    cols = ["win_start", "win_end", "event_type", "n_events"]
    stream = sorted(
        tuple(r[c] for c in cols) for r in sliding_counts_stream(spark, sf_dir).collect()
    )
    batch_rows = REGISTRY["events_sliding_counts"].spark(spark, sf_dir).collect()
    finalized = sorted(
        tuple(r[c] for c in cols) for r in batch_rows if r["win_end"] <= watermark
    )
    assert stream == finalized


def test_dedup_stream_counts_bounded_by_batch(spark, sf_dir):
    from data_engineering_rag_spark.plans import load
    from data_engineering_rag_spark.streaming.events import dedup_events_stream

    got = {r.event_type: r.n_first_arrivals for r in dedup_events_stream(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    import pyspark.sql.functions as F

    exact = {
        r.event_type: r.n
        for r in ev.select("user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # within one watermark horizon the streaming dedup equals exact
    # distinct; with horizon expiry it can only re-admit keys (>=).
    assert set(got) == set(exact)
    for k in got:
        assert got[k] >= exact[k]


def test_funnel_stream_equals_batch(spark, sf_dir):
    from data_engineering_rag_spark.streaming.events import view_purchase_funnel_stream

    cols = ["user_id", "view_id", "purchase_id", "view_ts", "purchase_ts"]
    stream = sorted(
        tuple(r[c] for c in cols)
        for r in view_purchase_funnel_stream(spark, sf_dir).collect()
    )
    batch = sorted(
        tuple(r[c] for c in cols)
        for r in REGISTRY["events_view_purchase_funnel"].spark(spark, sf_dir).collect()
    )
    # single availableNow batch → no state eviction before matching, so
    # the stream-stream inner join finds every batch match
    assert stream == batch


def test_stateful_totals_equal_batch_aggregate(spark, sf_dir):
    import pyspark.sql.functions as F

    from data_engineering_rag_spark.plans import load
    from data_engineering_rag_spark.streaming.events import user_totals_stateful_stream

    # update-mode memory sink may hold one row per user per batch; the
    # LAST row per user is the final state
    out = user_totals_stateful_stream(spark, sf_dir)
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in out.orderBy("n_events").collect()  # ascending: last wins
    }
    ev = load(spark, sf_dir, "events")
    exact = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(exact)
    for uid in exact:
        assert final[uid][0] == exact[uid][0], uid
        assert abs(final[uid][1] - exact[uid][1]) < 1e-4, uid


def test_enriched_static_stream_equals_batch(spark, sf_dir):
    from data_engineering_rag_spark.streaming.events import enriched_events_stream

    cols = ["event_id", "user_id", "event_type", "hist_events", "first_seen"]
    stream = sorted(
        tuple(r[c] for c in cols) for r in enriched_events_stream(spark, sf_dir).collect()
    )
    batch = sorted(
        tuple(r[c] for c in cols)
        for r in REGISTRY["events_enriched_static"].spark(spark, sf_dir).collect()
    )
    assert stream == batch


def test_replay_filter_stream_equals_batch(spark, sf_dir):
    from data_engineering_rag_spark.streaming.events import replay_filtered_stream

    cols = ["event_id", "user_id", "event_type"]
    stream = sorted(
        tuple(r[c] for c in cols) for r in replay_filtered_stream(spark, sf_dir).collect()
    )
    batch = sorted(
        tuple(r[c] for c in cols)
        for r in REGISTRY["events_replay_filtered"].spark(spark, sf_dir).collect()
    )
    assert stream == batch and len(stream) > 0


def test_doc_dedup_gate_stream_equals_batch(spark, sf_dir):
    """The streaming dedup gate must keep exactly the rows the batch
    incremental dedup keeps (single-file stream → arrival order is
    doc_id order, so first-arrival == min-id survivor)."""
    from data_engineering_rag_spark.plans import REGISTRY

    got = {
        (r.doc_id, r.lang)
        for r in REGISTRY["stream_doc_dedup_gate"].spark(spark, sf_dir).collect()
    }
    want = {
        (r.doc_id, r.lang)
        for r in REGISTRY["dedup_incremental_batch"].spark(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_daily_rollup_stream_matches_batch(spark, sf_dir):
    """The incrementally-maintained daily rollup must equal the batch
    daily aggregation exactly (counts and decimal sums)."""
    import pyspark.sql.functions as F
    from data_engineering_rag_spark.plans import load
    from data_engineering_rag_spark.streaming.events import (
        _run_to_memory,
        daily_rollup_stream,
    )

    got = {
        (r.d, r.event_type): (r.n, r.sv)
        for r in _run_to_memory(daily_rollup_stream(spark, sf_dir), "complete").collect()
    }
    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )
    )
    want = {(r.d, r.event_type): (r.n, r.sv) for r in batch.collect()}
    assert got == want


def test_first_type_occurrence_stream_equals_batch(spark, sf_dir):
    """State-v2 (transformWithStateInPandas) novelty stream == batch
    argmin per (user, event_type). Skips where google.protobuf (the
    state-server transport) is unavailable."""
    pytest.importorskip("google.protobuf.descriptor")

    from data_engineering_rag_spark.plans import REGISTRY
    from data_engineering_rag_spark.streaming.events import first_type_occurrence_stream

    s = first_type_occurrence_stream(spark, sf_dir)
    b = REGISTRY["events_first_type_occurrence"].spark(spark, sf_dir)
    key = lambda r: (r.user_id, r.event_type, r.first_ts, r.first_event_id)  # noqa: E731
    assert sorted(map(key, s.collect())) == sorted(map(key, b.collect()))


def test_left_outer_funnel_stream_finalized_prefix(spark, sf_dir):
    """LEFT OUTER stream-stream join: matched rows all emit in the
    single availableNow batch; null-extended rows emit only once the
    watermark (max ts − 1h) proves no match can arrive — compare the
    finalized prefix, and require full equality there."""
    from data_engineering_rag_spark.plans import REGISTRY, load
    from data_engineering_rag_spark.streaming.events import view_purchase_left_stream

    cols = ["user_id", "view_id", "purchase_id", "view_ts", "purchase_ts"]
    stream = {tuple(r[c] for c in cols) for r in view_purchase_left_stream(spark, sf_dir).collect()}
    batch_df = REGISTRY["events_view_purchase_left"].spark(spark, sf_dir)
    batch = {tuple(r[c] for c in cols) for r in batch_df.collect()}

    max_ts = load(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    # an unmatched view is evictable (and must emit) only once the
    # watermark (max ts − 1h) passes its whole join horizon (+30 min)
    horizon = max_ts - datetime.timedelta(hours=1, minutes=30)

    matched_stream = {t for t in stream if t[2] is not None}
    matched_batch = {t for t in batch if t[2] is not None}
    assert matched_stream == matched_batch

    null_stream = {t for t in stream if t[2] is None}
    null_batch_final = {t for t in batch if t[2] is None and t[3] < horizon}
    # every finalized unmatched view must have emitted, and nothing
    # the watermark hasn't finalized may appear
    assert null_batch_final <= null_stream
    assert all(t[3] <= max_ts for t in null_stream)
    assert len(null_stream) > 0


def test_session_journeys_stream_equals_batch_finalized(spark, sf_dir):
    """Streaming session_window journey strings == batch gaps-and-islands
    per-session journeys, over sessions the watermark has finalized
    (append mode can only emit a session once watermark > end + gap)."""
    from data_engineering_rag_spark.streaming.events import session_journeys_stream

    from pyspark.sql.window import Window

    gap = datetime.timedelta(minutes=10)
    watermark = _max_ts(spark, sf_dir) - datetime.timedelta(hours=1)

    stream = {
        (r.user_id, r.session_start, r.journey, r.n_events)
        for r in session_journeys_stream(spark, sf_dir, "10 minutes").collect()
    }

    # batch reference: same gaps-and-islands sessions, journey = ordered
    # event-type initials within the session
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    numbered = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.when(F.lag("ts").over(w).isNull() | (gap_s > 600), 1).otherwise(0).alias("ns"),
    ).withColumn("sid", F.sum("ns").over(wsum))
    batch_rows = (
        numbered.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                    lambda x: x.ch,
                ),
                "",
            ).alias("journey"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .collect()
    )
    batch = {(r.user_id, r.session_start, r.journey, r.n_events) for r in batch_rows}
    batch_end = {(r.user_id, r.session_start): r.session_end for r in batch_rows}

    # every finalized stream session matches a batch session exactly
    assert stream <= batch
    # anything batch-only sits in the unfinalized tail near the watermark
    for row in batch - stream:
        assert batch_end[(row[0], row[1])] + gap >= watermark, row
    assert len(stream) > 0


def test_rolling_actives_stream_equals_batch_finalized(spark, sf_dir):
    """Finalized window-days of the dedup→agg chain must equal the
    batch rolling-7d distinct count exactly; only the watermark tail
    may be withheld."""
    import datetime

    from data_engineering_rag_spark.streaming.events import rolling_actives_stream

    stream = {
        (r.window_day, r.active_users_7d)
        for r in rolling_actives_stream(spark, sf_dir).collect()
    }
    batch_rows = REGISTRY["rolling_7d_active_users"].spark(spark, sf_dir).collect()
    batch = {(r.window_day, r.active_users_7d) for r in batch_rows}
    assert stream <= batch and len(stream) > 0
    # the withheld remainder is exactly the unfinalized tail: a window
    # day can't finalize until the (shifted) watermark passes its end.
    # fan-out pushes event time forward by up to 6 days, so the cutoff
    # sits (delay - 6d) behind the max activity day.
    max_day = max(d for d, _ in batch)
    for day, _ in batch - stream:
        assert day >= max_day - datetime.timedelta(days=7), (day, max_day)


def test_state_snapshot_equals_batch_counts(spark, sf_dir, tmp_path):
    """Spark-4 statestore reader: the drained unwatermarked aggregate's
    raw state must equal the batch per-user counts, and state-metadata
    must describe exactly one aggregation operator over that
    checkpoint."""
    from data_engineering_rag_spark.streaming.events import user_totals_state_snapshot

    ckpt = str(tmp_path / "ckpt")
    state = sorted(
        (r.user_id, r.n_events)
        for r in user_totals_state_snapshot(spark, sf_dir, ckpt).collect()
    )
    batch = sorted(
        (r.user_id, r.n)
        for r in load(spark, sf_dir, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert state == batch

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    assert meta[0].operatorName == "stateStoreSave"
    # state-store partition count is pinned at first run to the
    # session's shuffle-partition setting
    assert meta[0].numPartitions == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_hll_sketch_estimates_within_tolerance(spark, sf_dir):
    """DataSketches HLL: per-type and union-merged estimates within
    HLL error (default lgConfigK=12 → ~2.5% σ; assert 10%) of exact,
    and the merged union equals sketching the flat stream directly."""
    rows = {r.event_type: r for r in REGISTRY["hll_sketch_partition_merge"].spark(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    for t, r in rows.items():
        if t == "ALL":
            exact = ev.select("user_id").distinct().count()
        else:
            exact = r.exact_users
        assert abs(r.est_users - exact) / exact < 0.10, (t, r.est_users, exact)
    flat = ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")).collect()[0].e
    assert abs(rows["ALL"].est_users - flat) < 1e-9  # union of partials == flat sketch


def test_stateful_stream_survives_multiple_microbatches(spark, sf_dir, tmp_path):
    """Multi-batch regression for the state-property bug the sf1 soak
    caught: a single-file source yields exactly ONE micro-batch, so
    `state.exists` never goes True and any bug in the state-read path
    is invisible. Re-write the events table as a multi-file directory
    (maxFilesPerTrigger=1 → one batch per file), run the stateful
    per-user totals, and pin the FINAL update per user against the
    batch groupBy."""
    from data_engineering_rag_spark.plans import load
    from data_engineering_rag_spark.streaming.events import user_totals_stateful_stream

    multi = str(tmp_path / "multi")
    ev = load(spark, sf_dir, "events")
    ev.repartition(4).write.parquet(f"{multi}/events.parquet")
    got = user_totals_stateful_stream(spark, multi)
    # update-mode memory sink keeps one row per (user, micro-batch);
    # the final state is the max n_events per user
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n"), F.max("total_value").alias("tv")
    )
    batch = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("bn"),
        F.round(F.sum("value"), 4).alias("btv"),
    )
    j = final.join(batch, "user_id")
    assert j.count() == batch.count()
    assert j.where("n <> bn").count() == 0
    assert j.where("abs(tv - btv) > 0.01").count() == 0
    # and the stream genuinely ran more than one batch
    assert got.count() > final.count()


def test_pyds_stream_restart_with_checkpoint_exactly_once(spark, tmp_path):
    """Restart contract for the Python streaming data source
    (sources/pydatasource.py): stop a query after a committed prefix,
    restart a NEW reader (in-memory cursor reset to 0) against the same
    checkpoint, and require (a) the sink holds EXACTLY [0, rows) — no
    duplicated, no lost offsets at the committed boundary — and (b) the
    checkpoint's offset log is strictly monotonic across the restart
    (the fresh reader's low latestOffset must never be planned as a
    backward batch)."""
    import glob
    import json

    from data_engineering_rag_spark.sources.pydatasource import read_telemetry_stream

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(rows_cap):
        s = read_telemetry_stream(spark, rows=rows_cap, batch_rows=250, partitions=3)
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # first run stops "mid-stream": the generator caps at 600 of the
    # eventual 1000 rows (3 committed micro-batches: 250/250/100)
    run(600)
    assert spark.read.parquet(out).count() == 600
    # restart with the full range; reader restarts with _pos = 0
    run(1000)

    ids = [r.reading_id for r in spark.read.parquet(out).collect()]
    assert len(ids) == 1000
    assert len(set(ids)) == 1000, "duplicate offsets replayed across restart"
    assert set(ids) == set(range(1000)), "offsets lost across restart"

    # offset log strictly monotonic across the restart boundary
    ends = []
    for f in sorted(
        glob.glob(f"{ckpt}/offsets/*"), key=lambda p: int(p.rsplit("/", 1)[1])
    ):
        last = [ln for ln in open(f).read().splitlines() if ln.strip()][-1]
        ends.append(json.loads(last)["i"])
    assert ends == sorted(ends), f"offset log regressed: {ends}"
    assert ends[-1] == 1000


def test_state_v2_totals_equal_batch_and_v1_twin(spark, sf_dir):
    """VERDICT r9 item 6: the transformWithStateInPandas (state v2)
    running-totals operator must equal the exact batch aggregate — the
    SAME pin `test_stateful_totals_equal_batch_aggregate` applies to
    the applyInPandasWithState (v1) twin, so v1 == v2 == batch is
    transitive. Skips where google.protobuf (the state-server
    transport) is unavailable."""
    pytest.importorskip("google.protobuf.descriptor")

    import pyspark.sql.functions as F

    from data_engineering_rag_spark.plans import load
    from data_engineering_rag_spark.streaming.events import user_totals_state_v2_stream

    out = user_totals_state_v2_stream(spark, sf_dir)
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in out.orderBy("n_events").collect()  # ascending: last wins
    }
    ev = load(spark, sf_dir, "events")
    exact = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(exact)
    for uid in exact:
        assert final[uid][0] == exact[uid][0], uid
        assert abs(final[uid][1] - exact[uid][1]) < 1e-4, uid


def test_watermarked_streams_are_replay_layout_invariant(spark, sf_dir, tmp_path):
    """Round-11 late-drop fix: hash-partitioned part files each span
    the FULL event-time range, so replaying a multi-file table one file
    per micro-batch advances the watermark to ~max(ts)−delay after the
    first file — every older row in the remaining files is then dropped
    as late (measured before the fix: 6% of events survived a 32-file
    replay through the hourly watermark agg). Watermarked builders now
    drain in a single availableNow data batch, so the SAME events must
    produce the SAME output whether the table is one file (driver
    layout, where all equivalence tests run) or a Spark-written
    directory of unordered part files. Covers ALL NINE builders that
    switched to the single-batch drain — tumbling/sliding/daily window
    aggs, session windows (two state shapes), watermarked dedup, both
    stream-stream joins (inner and the outer null-emission path), and
    the explode+dropDuplicates+window chain — so a regression
    re-introducing per-file watermark advance in ANY of them fails
    here; non-watermarked stateful streams keep per-file batching
    (their own multi-batch tests above)."""
    from data_engineering_rag_spark.streaming.events import (
        daily_rollup_stream,
        dedup_events_stream,
        rolling_actives_stream,
        session_journeys_stream,
        sessionize_stream,
        sliding_counts_stream,
        view_purchase_funnel_stream,
        view_purchase_left_stream,
        _run_to_memory,
    )

    multi = str(tmp_path / "multi")
    load(spark, sf_dir, "events").repartition(6).write.parquet(
        f"{multi}/events.parquet"
    )

    def daily_rollup_drained(spark, d):
        # same drain mode as the registered stream_daily_rollup
        return _run_to_memory(daily_rollup_stream(spark, d), "complete")

    daily_rollup_drained.__name__ = "daily_rollup_stream"

    for fn in (
        hourly_event_stats_stream,
        dedup_events_stream,
        view_purchase_funnel_stream,
        sessionize_stream,
        session_journeys_stream,
        sliding_counts_stream,
        daily_rollup_drained,
        view_purchase_left_stream,
        rolling_actives_stream,
    ):
        single = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        replay = sorted(tuple(r) for r in fn(spark, multi).collect())
        assert single, f"vacuous: {fn.__name__} emitted nothing at {sf_dir}"
        assert replay == single, (
            f"{fn.__name__}: multi-file replay diverged from the "
            f"single-file layout ({len(replay)} vs {len(single)} rows)"
        )


def test_ordered_replay_drops_late_row_single_batch_keeps_it(spark, sf_dir, tmp_path):
    """The flip side of the layout-invariance fix: watermark semantics
    are INTACT, not disabled. Replaying EVENT-TIME-ORDERED files one
    per micro-batch (the only replay shape where per-batch watermark
    advance is meaningful — a real stream's arrival order) must drop a
    row that arrives two files after its event-time hour: its window
    was finalized when the watermark passed, so the late arrival is
    excluded. The same directory drained as a single availableNow
    batch sees every row before the watermark first advances, so the
    late row lands in its window. Together with
    test_watermarked_streams_are_replay_layout_invariant this pins the
    full contract: unordered bounded replay → one batch, no loss;
    ordered incremental arrival → watermark drops genuinely late data."""
    import os

    from data_engineering_rag_spark.streaming.events import (
        _event_stream,
        _run_to_memory,
    )

    pdf = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    w0 = pdf["ts"].iloc[0].floor("h")  # first hour window [w0, w0+1h)
    in_w0 = (pdf["ts"] >= w0) & (pdf["ts"] < w0 + datetime.timedelta(hours=1))
    batch_n0 = int(in_w0.sum())
    assert batch_n0 > 0

    late = pdf.iloc[[0]].copy()  # same event-time hour, arrives in file 3
    late["event_id"] = int(pdf["event_id"].max()) + 1

    d = tmp_path / "ordered" / "events.parquet"
    d.mkdir(parents=True)
    n = len(pdf)
    chunks = [pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3]]
    import pandas as pd

    chunks.append(pd.concat([pdf.iloc[2 * n // 3 :], late], ignore_index=True))
    t0 = 1_700_000_000
    for i, chunk in enumerate(chunks):
        p = d / f"chunk{i}.parquet"
        chunk.to_parquet(p, index=False)
        os.utime(p, (t0 + 100 * i, t0 + 100 * i))  # mtime = replay order

    def hourly_counts(files_per_trigger):
        ev = _event_stream(
            spark, str(tmp_path / "ordered"), files_per_trigger=files_per_trigger
        ).withWatermark("ts", "1 hour")
        agg = ev.groupBy(F.window("ts", "1 hour").alias("win")).agg(
            F.count(F.lit(1)).alias("n")
        )
        out = _run_to_memory(agg, "append")
        return {r["win"]["start"]: r["n"] for r in out.collect()}

    # precondition for the drop: when chunk 3 arrives, the watermark
    # (max ts of chunks 1-2, minus 1h) must already be past w0+1h —
    # i.e. the first two thirds must span >2h of event time. Assert it
    # so a regenerated tighter-span fixture fails with a diagnosis, not
    # a confusing KeyError/count mismatch.
    two_thirds_max = pdf["ts"].iloc[2 * n // 3 - 1]
    assert two_thirds_max - datetime.timedelta(hours=1) >= w0 + datetime.timedelta(
        hours=1
    ), f"fixture span too tight for the late-drop scenario: {w0} .. {two_thirds_max}"

    per_file = hourly_counts(1)
    single = hourly_counts(None)
    w0_key = w0.to_pydatetime()
    assert per_file.get(w0_key) == batch_n0, (
        f"ordered replay must DROP the late row: got {per_file.get(w0_key)}, "
        f"want {batch_n0}"
    )
    assert single.get(w0_key) == batch_n0 + 1, (
        f"single-batch drain must KEEP it: got {single.get(w0_key)}, "
        f"want {batch_n0 + 1}"
    )


def test_coarse_trigger_drain_equals_per_file_final_totals(spark, sf_dir, tmp_path):
    """r14 (VERDICT item 3): the single-drain escape hatch
    (``files_per_trigger=None`` — measured 16-18x faster at sf10 with
    28x fewer Python state calls) must produce the SAME final per-user
    totals as the per-file-trigger run, over a genuinely multi-file
    layout, for BOTH stateful twins. The coarse run emits exactly one
    row per user (one batch -> one update() call per key)."""
    import pyspark.sql.functions as F

    from data_engineering_rag_spark.plans import load
    from data_engineering_rag_spark.streaming.events import user_totals_stateful_stream

    multi = str(tmp_path / "multi")
    ev = load(spark, sf_dir, "events")
    ev.repartition(4).write.parquet(f"{multi}/events.parquet")
    exact = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }

    coarse = user_totals_stateful_stream(spark, multi, files_per_trigger=None)
    rows = coarse.collect()
    assert len(rows) == len(exact)  # ONE row per user: single batch
    got = {r.user_id: (r.n_events, r.total_value) for r in rows}
    assert got == exact

    try:
        from data_engineering_rag_spark.streaming.events import (
            user_totals_state_v2_stream,
        )

        pytest.importorskip("google.protobuf")
        v2 = user_totals_state_v2_stream(spark, multi, files_per_trigger=None)
        v2_rows = v2.collect()
        assert len(v2_rows) == len(exact)
        assert {r.user_id: (r.n_events, r.total_value) for r in v2_rows} == exact
    except ImportError:
        pass


def test_drain_leaves_no_sink_tables(spark, sf_dir):
    """r17 (VERDICT r16 item 2): _run_to_memory must not accumulate
    memory-sink temp views, terminated query handles, or temp streaming
    checkpoint directories across repeated drains — the bench's warm-up
    + reps + soak legs previously leaked one mem_<uuid> table (and its
    rows) per drain for the process lifetime. The returned DataFrame
    stays usable after the drop (it is resolved before the view is
    dropped)."""
    import glob
    import tempfile

    def mem_tables():
        return [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")]

    def temp_ckpts():
        return set(glob.glob(f"{tempfile.gettempdir()}/temporary-*"))

    baseline_ckpts = temp_ckpts()
    counts = []
    for _ in range(3):
        out = hourly_event_stats_stream(spark, sf_dir)
        counts.append(out.count())  # resolved DF survives the view drop
        assert mem_tables() == []
    assert counts[0] == counts[1] == counts[2] and counts[0] > 0
    assert len(spark.streams.active) == 0
    # availableNow drains with no explicit checkpointLocation use a
    # temp dir that Spark deletes on clean termination.
    assert temp_ckpts() <= baseline_ckpts
