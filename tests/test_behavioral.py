"""Unit tests for operators/behavioral.py and the batch-10 extras —
hand-built event frames with known sessions/funnels, so every boundary
condition (gap exactly at threshold, equal-timestamp ties, strict step
order, bot-cap) is pinned independently of the DuckDB oracle sweep."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_pipeline_api_spark.operators import behavioral, dedup, diagnostics, joins

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(seconds=s), u, t, float(v))
            for i, (s, u, t, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def test_sessionize_gap_boundaries(spark):
    # user 1: events at +0s, +1799s (same session: gap < 30 min),
    # +1799+1800s (still same: gap == 30 min exactly is NOT a break),
    # then +1801s more (break: gap > 30 min)
    rows = [
        (0, 1, "view", 1.0),
        (1799, 1, "view", 2.0),
        (1799 + 1800, 1, "view", 3.0),
        (1799 + 1800 + 1801, 1, "view", 4.0),
        (0, 2, "click", 5.0),
    ]
    out = behavioral.sessionize(_ev(spark, rows)).orderBy(
        "user_id", "session_idx"
    )
    got = [
        (r.user_id, r.session_idx, r.n_events, r.duration_sec, r.total_value)
        for r in out.collect()
    ]
    assert got == [
        (1, 1, 3, 3599, 6.0),
        (1, 2, 1, 0, 4.0),
        (2, 1, 1, 0, 5.0),
    ]


def test_sessionize_start_end_are_event_timestamps(spark):
    rows = [(0, 7, "view", 1.0), (10, 7, "view", 1.0)]
    r = behavioral.sessionize(_ev(spark, rows)).collect()[0]
    assert r.start_ts == T0 and r.end_ts == T0 + dt.timedelta(seconds=10)


def test_funnel_strict_order(spark):
    rows = [
        # user 1 converts fully: view < click < purchase
        (0, 1, "view", 0.0), (10, 1, "click", 0.0), (20, 1, "purchase", 0.0),
        # user 2: purchase BEFORE view/click — stops at step 2
        (0, 2, "purchase", 0.0), (10, 2, "view", 0.0), (20, 2, "click", 0.0),
        # user 3: click only — never entered (step 1 requires view)
        (0, 3, "click", 0.0),
        # user 4: view+click at the SAME timestamp — strict > rejects
        (0, 4, "view", 0.0), (0, 4, "click", 0.0),
        # user 5: unrelated events only — excluded from n_users
        (0, 5, "error", 0.0),
    ]
    r = behavioral.funnel(
        _ev(spark, rows), steps=["view", "click", "purchase"]
    ).collect()[0]
    assert (r.n_users, r.n_step_1, r.n_step_2, r.n_step_3) == (4, 3, 2, 1)


def test_funnel_bot_cap_bounds_memory_not_result(spark):
    # 50 views then the converting tail; cap at 10 still sees the first
    # view, but the click/purchase fall beyond the cap -> stage 1 only.
    rows = [(i, 9, "view", 0.0) for i in range(50)]
    rows += [(100, 9, "click", 0.0), (200, 9, "purchase", 0.0)]
    r = behavioral.funnel(
        _ev(spark, rows),
        steps=["view", "click", "purchase"],
        max_events_per_user=10,
    ).collect()[0]
    assert (r.n_step_1, r.n_step_2, r.n_step_3) == (1, 0, 0)


def test_retention_matrix(spark):
    # Mondays: 2024-01-01 and 2024-01-08. user 1 active both weeks,
    # user 2 only week 0.
    rows = [
        (0, 1, "view", 0.0),
        (7 * 86400, 1, "view", 0.0),
        (3600, 2, "view", 0.0),
    ]
    out = behavioral.retention(_ev(spark, rows))
    got = {
        (r.cohort_week.isoformat(), r.week_offset): r.n_users
        for r in out.collect()
    }
    assert got == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1}


def test_transitions_counts_and_probs(spark):
    rows = [
        (0, 1, "view", 0.0), (1, 1, "click", 0.0), (2, 1, "view", 0.0),
        (3, 1, "click", 0.0), (4, 1, "purchase", 0.0),
        (0, 2, "view", 0.0), (1, 2, "view", 0.0),
    ]
    out = behavioral.transitions(_ev(spark, rows))
    got = {(r.prev_type, r.next_type): (r.n, r.p) for r in out.collect()}
    assert got[("view", "click")] == (2, 0.6667)
    assert got[("view", "view")] == (1, 0.3333)
    assert got[("click", "view")] == (1, 0.5)
    assert got[("click", "purchase")] == (1, 0.5)
    assert ("purchase", "view") not in got  # last event has no successor


def test_transitions_rejects_non_temporal_ts(spark):
    df = spark.createDataFrame(
        [(1, "x", 1, "view")], "event_id long, ts string, user_id long, event_type string"
    )
    for op in (
        behavioral.sessionize,
        lambda d: joins.range_join_count(d, d, "event_id", "user_id", "ts"),
    ):
        with pytest.raises(TypeError, match="behavioral"):
            op(df)


def test_span_dup_stats_counts_positions(spark):
    shared = "a b c d e f g h"  # exactly one 8-gram
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 unique1"),
            (2, shared + " tail2 unique2"),
            (3, "totally different words here so nothing matches at all"),
            (4, "short doc"),  # < 8 tokens -> zero spans
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.span_dup_stats(docs, "doc_id", "text", n=8).collect()}
    # docs 1/2: 3 spans each, exactly the first (the shared 8-gram) duplicated
    assert (out[1].n_spans, out[1].n_dup) == (3, 1)
    assert (out[2].n_spans, out[2].n_dup) == (3, 1)
    assert out[1].dup_frac == pytest.approx(0.3333)
    assert (out[3].n_spans, out[3].n_dup) == (2, 0)  # 9 tokens -> 2 spans
    assert (out[4].n_spans, out[4].n_dup, out[4].dup_frac) == (0, 0, 0.0)


def test_mad_outliers_flags_only_extremes(spark):
    # 9 values tightly around 10 plus one wild outlier
    vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.5, 10.5, 11.0, 9.5, 1000.0]
    df = spark.createDataFrame(
        [(i, "a", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    r = diagnostics.mad_outliers(df, "event_type", "value").collect()[0]
    assert r.n == 10 and r.n_outliers == 1
    assert r.med_value == pytest.approx(10.0)


def test_sessionize_single_exchange(spark):
    """Scale assertion: the window + session-index + session agg pipeline
    reuses ONE hash partitioning on user_id — exactly one shuffle."""
    rows = [(i, i % 3, "view", 1.0) for i in range(30)]
    plan = behavioral.sessionize(_ev(spark, rows))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_bm25_basic_ranking(spark):
    from etl_pipeline_api_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler"),   # high tf for 'spark'
            (2, "spark filler filler filler filler"), # low tf
            (3, "filler only no match here at all"),  # no query terms
            (4, "rare filler filler filler filler"),  # rarer term
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in text_ops.bm25_scores(
            docs, "doc_id", "text", ["spark", "rare"]
        ).collect()
    }
    assert 3 not in out                      # zero-match docs excluded
    assert out[1].score > out[2].score       # tf monotonicity
    assert out[4].n_terms == 1
    # rarer term ('rare': df=1) outscores common term at equal tf=1
    assert out[4].score > out[2].score


def test_rolling_window_range_frame(spark):
    # user 1: events at +0s, +1800s, +3600s, +7300s
    # trailing-1h frames: [e0], [e0,e1], [e0,e1,e2] (3600 incl), [e3]
    rows = [
        (0, 1, "view", 1.0),
        (1800, 1, "view", 2.0),
        (3600, 1, "view", 4.0),
        (7300, 1, "view", 8.0),
    ]
    out = {r.event_id: r for r in behavioral.rolling_window_features(
        _ev(spark, rows), lookback_s=3600
    ).collect()}
    assert [out[i].n_trailing for i in range(4)] == [1, 2, 3, 1]
    assert [out[i].sum_trailing for i in range(4)] == [1.0, 3.0, 7.0, 8.0]


def test_active_users_dau_wau(spark):
    # user 1 active day 0 only; user 2 active days 0 and 2
    rows = [
        (0, 1, "view", 0.0),
        (3600, 2, "view", 0.0),
        (2 * 86400, 2, "view", 0.0),
    ]
    out = {r.day.isoformat(): r for r in behavioral.active_users(
        _ev(spark, rows), window_days=7
    ).collect()}
    # day 0: dau=2, wau=2 (both seen today)
    assert (out["2024-01-01"].dau, out["2024-01-01"].wau) == (2, 2)
    # day 2: dau=1 (user 2), wau=2 (both within trailing 7d)
    assert (out["2024-01-03"].dau, out["2024-01-03"].wau) == (1, 2)
    assert out["2024-01-03"].stickiness == 0.5
    # day 1 has no events -> no DAU row -> absent from the joined output
    assert "2024-01-02" not in out


def test_ohlc_open_close_tie_break(spark):
    # two events share the opening timestamp: event_id breaks the tie
    rows = [
        (0, 1, "view", 5.0),   # event_id 0 — the open
        (0, 1, "view", 9.0),   # event_id 1, same ts
        (60, 1, "view", 1.0),
        (3700, 1, "view", 7.0),  # next hour bucket
    ]
    out = {r.bucket: r for r in behavioral.ohlc_downsample(
        _ev(spark, rows), key_col="event_type", bucket="hour"
    ).collect()}
    b0 = out[dt.datetime(2024, 1, 1, 12)]
    assert (b0.open, b0.high, b0.low, b0.close, b0.volume, b0.n) == (
        5.0, 9.0, 1.0, 1.0, 15.0, 3,
    )
    b1 = out[dt.datetime(2024, 1, 1, 13)]
    assert (b1.open, b1.close, b1.n) == (7.0, 7.0, 1)


def test_attribution_last_touch_window(spark):
    rows = [
        # user 1: view then click then purchase — credited to click
        (0, 1, "view", 0.0), (10, 1, "click", 0.0), (20, 1, "purchase", 0.0),
        # user 2: touch outside the 1h test window -> (none)
        (0, 2, "view", 0.0), (4000, 2, "purchase", 0.0),
        # user 3: no touch at all -> (none)
        (0, 3, "purchase", 0.0),
        # user 4: touch at the SAME instant IS credited — the (ts, id)
        # row order puts the earlier-id view before the purchase, age 0
        (0, 4, "view", 0.0), (0, 4, "purchase", 0.0),
    ]
    out = {r.channel: r.n_conversions for r in
           behavioral.last_touch_attribution(
               _ev(spark, rows), max_age_s=3600
           ).collect()}
    assert out == {"click": 1, "view": 1, "(none)": 2}


def test_sessionize_bot_guard_drops_hot_users(spark):
    rows = [(i, 1, "view", 1.0) for i in range(20)]   # bot: 20 events
    rows += [(0, 2, "view", 1.0), (10, 2, "view", 1.0)]
    out = behavioral.sessionize(
        _ev(spark, rows), max_events_per_user=10
    ).collect()
    assert {r.user_id for r in out} == {2}
    # and without the guard the bot is kept
    assert {r.user_id for r in behavioral.sessionize(_ev(spark, rows)).collect()} == {1, 2}


def test_rolling_and_attribution_single_exchange(spark):
    """Scale assertion: both per-user window ops shuffle exactly once."""
    rows = [(i, i % 3, "view" if i % 4 else "purchase", 1.0) for i in range(40)]
    df = _ev(spark, rows)
    for op_df in (
        behavioral.rolling_window_features(df),
        behavioral.last_touch_attribution(df),
    ):
        plan = op_df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") <= 2  # user + final agg
        assert "CartesianProduct" not in plan


def test_funnel_times_quantiles(spark):
    # two converting users: 20s and 100s view->purchase; one non-converter
    rows = [
        (0, 1, "view", 0.0), (10, 1, "click", 0.0), (20, 1, "purchase", 0.0),
        (0, 2, "view", 0.0), (50, 2, "click", 0.0), (100, 2, "purchase", 0.0),
        (0, 3, "view", 0.0),
    ]
    r = behavioral.funnel_times(
        _ev(spark, rows), steps=["view", "click", "purchase"]
    ).collect()[0]
    assert r.n_converted == 2
    assert r.p50_sec == pytest.approx(60.0)   # interpolated median of {20, 100}
    assert r.p90_sec == pytest.approx(92.0)   # 20 + 0.8*(100-20) at p90


def test_sessionize_fuzz_vs_python_reference(spark):
    """Seeded fuzz: 600 random events across 20 users vs a brute-force
    Python sessionizer — catches boundary/tie bugs no hand case covers."""
    import random

    rng = random.Random(42)
    rows = [
        (rng.randrange(0, 6 * 3600), rng.randrange(1, 21), "view",
         round(rng.uniform(0, 10), 2))
        for _ in range(600)
    ]
    df = _ev(spark, rows)
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_sec)
        for r in behavioral.sessionize(df, gap_minutes=30).collect()
    }

    # python reference: sort by (ts, event_id), split at gap > 30 min
    by_user = {}
    for eid, (s, u, _t_, v) in enumerate(rows):
        by_user.setdefault(u, []).append((s, eid))
    ref = {}
    for u, evs in by_user.items():
        evs.sort()
        idx, start, prev, n = 0, None, None, 0
        for s, eid in evs:
            if prev is None or s - prev > 1800:
                if idx:
                    ref[(u, idx)] = (n, prev - start)
                idx += 1
                start, n = s, 0
            n += 1
            prev = s
        ref[(u, idx)] = (n, prev - start)
    assert got == ref


def test_funnel_fuzz_vs_python_reference(spark):
    import random

    rng = random.Random(7)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        (rng.randrange(0, 86400), rng.randrange(1, 31),
         types[rng.randrange(len(types))], 0.0)
        for _ in range(800)
    ]
    steps = ["view", "click", "purchase"]
    r = behavioral.funnel(_ev(spark, rows), steps=steps).collect()[0]

    by_user = {}
    for eid, (s, u, t, _v) in enumerate(rows):
        if t in steps:
            by_user.setdefault(u, []).append((s, eid, t))
    n_steps = [0, 0, 0]
    for evs in by_user.values():
        evs.sort()
        stage, last = 0, -1
        for s, _eid, t in evs:
            if stage < 3 and t == steps[stage] and s > last:
                stage += 1
                last = s
        for i in range(stage):
            n_steps[i] += 1
    assert (r.n_users, r.n_step_1, r.n_step_2, r.n_step_3) == (
        len(by_user), *n_steps,
    )


def test_session_stats_bounce(spark):
    rows = [
        (0, 1, "view", 0.0), (10, 1, "view", 0.0),   # 2-event session
        (0, 2, "view", 0.0),                          # bounce
        (0, 3, "view", 0.0),                          # bounce
    ]
    r = behavioral.session_stats(_ev(spark, rows)).collect()[0]
    assert r.n_sessions == 3
    assert r.bounce_rate == pytest.approx(0.6667)
    assert r.avg_events == pytest.approx(1.3333)


def test_path_trigrams_tie_break(spark):
    rows = [
        (0, 1, "view", 0.0), (1, 1, "click", 0.0), (2, 1, "purchase", 0.0),
        (0, 2, "view", 0.0), (1, 2, "click", 0.0), (2, 2, "purchase", 0.0),
        (0, 3, "view", 0.0), (1, 3, "view", 0.0), (2, 3, "view", 0.0),
    ]
    out = behavioral.path_trigrams(_ev(spark, rows), k=2).collect()
    assert [(r.step_1, r.step_2, r.step_3, r.n, r.rnk) for r in out] == [
        ("view", "click", "purchase", 2, 1),
        ("view", "view", "view", 1, 2),
    ]


def test_sessionize_survives_hot_key_skew(spark):
    """Scale smoke: one user owning 50% of a 20k-event frame still
    sessionizes correctly (single straggler partition, no failure), and
    the bot guard removes exactly that key when dialed."""
    import datetime as _dt

    n = 20_000
    rows = [
        (i, _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=i),
         0 if i % 2 == 0 else 1 + (i % 50), "view", 1.0)
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = behavioral.sessionize(df, gap_minutes=30)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == n
    guarded = behavioral.sessionize(df, gap_minutes=30, max_events_per_user=5000)
    assert guarded.filter(F.col("user_id") == 0).count() == 0
    assert guarded.agg(F.sum("n_events")).collect()[0][0] == n // 2


def test_new_vs_returning(spark):
    rows = [
        (0, 1, "view", 0.0),             # day 0: user 1 new
        (86400, 1, "view", 0.0),         # day 1: user 1 returning
        (86400, 2, "view", 0.0),         # day 1: user 2 new
    ]
    out = {r.day.isoformat(): (r.new_users, r.returning_users)
           for r in behavioral.new_vs_returning(_ev(spark, rows)).collect()}
    assert out == {"2024-01-01": (1, 0), "2024-01-02": (1, 1)}


def test_interevent_times(spark):
    # user 1 views at 0, 10, 30 -> gaps 10, 20; p50 = 15 interpolated
    rows = [(0, 1, "view", 0.0), (10, 1, "view", 0.0), (30, 1, "view", 0.0)]
    r = behavioral.interevent_times(_ev(spark, rows)).collect()[0]
    assert (r.event_type, r.n_gaps) == ("view", 2)
    assert r.p50_s == pytest.approx(15.0)
    assert r.p90_s == pytest.approx(19.0)  # 10 + 0.9*(20-10)


def test_fuzzy_join_blocking_and_distance(spark):
    from etl_pipeline_api_spark.operators.joins import fuzzy_join

    cat = spark.createDataFrame(
        [("red widget",), ("blue bolt",), ("red widget pro",)], "name string"
    )
    probe = spark.createDataFrame(
        [("red widgt",),   # 1 deletion from 'red widget'
         ("xed widget",),  # first char corrupted -> blocked out (documented)
         ("green cog",)],  # no match
        "q string",
    )
    out = {(r.q, r.name): r.dist for r in
           fuzzy_join(probe, cat, "q", "name", max_dist=2).collect()}
    assert out == {("red widgt", "red widget"): 1}


def test_linear_attribution_split(spark):
    rows = [
        # user 1: view + click then purchase -> each touch gets 0.5
        (0, 1, "view", 0.0), (10, 1, "click", 0.0), (20, 1, "purchase", 0.0),
        # user 2: one view long before (outside 1h window) -> no credit
        (0, 2, "view", 0.0), (4000, 2, "purchase", 0.0),
    ]
    out = {r.channel: (r.credit, r.n_pairs) for r in
           behavioral.linear_attribution(
               _ev(spark, rows), max_age_s=3600
           ).collect()}
    assert out == {"view": (0.5, 1), "click": (0.5, 1)}


def test_seasonal_naive_backtest(spark):
    # hourly counts: day 1 = [2, 3], day 2 = [4, 3] -> errors |4-2|=2, |3-3|=0
    rows = []
    eid = 0
    for day, counts in [(0, [2, 3]), (1, [4, 3])]:
        for hour, c in enumerate(counts):
            for _ in range(c):
                rows.append((day * 86400 + hour * 3600, 1, "view", 0.0))
    r = behavioral.seasonal_naive_backtest(_ev(spark, rows)).collect()[0]
    assert (r.event_type, r.n_points) == ("view", 2)
    assert r.mae == pytest.approx(1.0)          # (2 + 0) / 2
    assert r.smape == pytest.approx(0.3333)     # (2/3 + 0) / 2


def test_copurchase_lift(spark):
    from etl_pipeline_api_spark.operators.aggregations import copurchase_lift

    # baskets: {1,2} x3, {1,3} x1, {3} alone x2  (6 baskets)
    rows = []
    for b in range(3):
        rows += [(b, 1), (b, 2)]
    rows += [(3, 1), (3, 3), (4, 3), (5, 3)]
    df = spark.createDataFrame(rows, "basket long, item long")
    out = copurchase_lift(df, "basket", "item", min_pair_support=1, k=10).collect()
    got = {(r.ia, r.ib): (r.n_pair, r.lift) for r in out}
    # pair (1,2): n=3, n_1=4, n_2=3, baskets=6 -> lift = 3*6/(4*3) = 1.5
    assert got[(1, 2)] == (3, 1.5)
    # pair (1,3): n=1, n_3=3 -> lift = 1*6/(4*3) = 0.5
    assert got[(1, 3)] == (1, 0.5)
    assert out[0].rnk == 1 and out[0].lift >= out[-1].lift


def test_rfm_segments_balanced(spark):
    # 10 purchasers with increasing recency/frequency/monetary together
    rows = []
    eid = 0
    for u in range(1, 11):
        for j in range(u):          # user u: u purchases, later & bigger
            rows.append((u * 1000 + j, u, "purchase", float(u)))
    df = _ev(spark, rows)
    out = behavioral.rfm_segments(df, n_tiles=5).collect()
    assert sum(r.n_users for r in out) == 10
    # metrics are perfectly correlated -> every user sits on the diagonal
    assert all(r.r == r.f == r.m for r in out)
    assert all(r.n_users == 2 for r in out) and len(out) == 5
