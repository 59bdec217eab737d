"""Behavioral / clickstream analytics over the events stream.

The reference engine (proj-eng-dados/main.py — a single-process pandas
pipeline) has no event-sequence analytics at all; these are §2.9
extension operators, the shapes every 100 TB event warehouse runs daily:

- ``sessionize``     — inactivity-gap sessionization (one shuffle on user)
- ``funnel``         — ordered multi-step conversion funnel (one shuffle)
- ``retention``      — weekly cohort retention matrix (two aggs, one key)
- ``transitions``    — first-order event-type Markov transition counts

Scale posture (the part that matters at 1000 executors):

* Everything keys on ``user_id`` — one hash partitioning reused across
  window / groupBy / self-join stages; Catalyst removes the redundant
  exchanges (plan-asserted in tests/test_behavioral.py).
* No driver-side state, no collect, no Python UDFs: window functions,
  ``collect_list`` + higher-order ``aggregate`` — all JVM/codegen.
* The only per-key memory is one user's (filtered) event array in
  ``funnel``; heavy users are bounded with ``max_events_per_user``
  (slice after sort) so a single bot key cannot OOM an executor.
* Tie-breaks are total-ordered on ``(ts, event_id)`` so results are
  deterministic under any partitioning — the DuckDB oracles use the
  same order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _micros(df: DataFrame, ts_col: str) -> Column:
    """Epoch-µs expression for gap/order math (also the time buckets of
    operators.joins.range_join_count), driven by the column's actual type:
    TIMESTAMP and TIMESTAMP_NTZ cast to TIMESTAMP, since ``unix_micros``
    rejects NTZ (any session-tz offset is identical across rows, so
    orderings, gaps and strict-after comparisons — all differences — are
    unaffected); legacy bigint-nanos truncates ns→µs with integer ``div``
    (a blanket cast would read it as SECONDS); anything else raises
    loudly."""
    dt = dict(df.dtypes).get(ts_col)
    if dt == "bigint":
        return F.expr(f"`{ts_col}` div 1000")
    if dt in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(F.col(ts_col).cast("timestamp"))
    raise TypeError(
        f"behavioral: column {ts_col!r} has type {dt!r}; expected "
        "timestamp, timestamp_ntz, or the legacy bigint-nanos encoding"
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Split each user's event stream into sessions at inactivity gaps.

    A new session starts when the time since the previous event (in
    ``(ts, id)`` order) exceeds ``gap_minutes``. Returns one row per
    session: ``(user_id, session_idx, n_events, start_ts, end_ts,
    duration_sec, total_value)``. Session boundaries and durations are
    computed on epoch-µs *differences* (session-tz-proof); the exposed
    boundary columns keep the input's timestamp type untouched.

    One shuffle (hash on user) feeds the lag window, the running
    session index, and the per-session aggregation — one Exchange.

    Scale hazard and its dial: exact sessionization needs each user's
    FULL ordered stream in one partition, so one bot key with 10⁸
    events is a straggler no salting can fix without breaking gap
    semantics at the salt seams. ``max_events_per_user`` drops such
    users entirely (one extra map-combined count + co-partitioned
    anti-join when enabled) — the standard curation stance: a key that
    hot is not a human session stream, clip it before the window.
    """
    if max_events_per_user is not None:
        hot = (
            events.groupBy(user_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_events_per_user)
            .select(user_col)
        )
        events = events.join(hot, user_col, "left_anti")
    gap_us = gap_minutes * 60 * 1_000_000
    with_flag = events.select(
        user_col,
        id_col,
        F.col(ts_col),
        _micros(events, ts_col).alias("_us"),
        "value",
    )
    w_us = Window.partitionBy(user_col).orderBy("_us", id_col)
    with_flag = with_flag.withColumn(
        "_new_session",
        (
            F.coalesce(
                F.col("_us") - F.lag("_us").over(w_us), F.lit(gap_us + 1)
            )
            > gap_us
        ).cast("int"),
    )
    sess = with_flag.withColumn(
        "session_idx", F.sum("_new_session").over(w_us).cast("long")
    )
    return (
        sess.groupBy(user_col, "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            ((F.max("_us") - F.min("_us")) / 1_000_000)
            .cast("long")
            .alias("duration_sec"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            user_col, "session_idx", "n_events", "start_ts", "end_ts",
            "duration_sec", "total_value",
        )
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_events_per_user: int = 10_000,
) -> DataFrame:
    """Ordered conversion funnel: how many users performed ``steps`` in
    strict timestamp order (each step strictly after the previous one).

    Single shuffle: filter to funnel event types, ``collect_list`` per
    user, ``array_sort`` by ``(ts, event_id)``, then a higher-order
    ``aggregate`` walks the sorted array advancing a (stage, last_ts)
    state — the greedy first-qualifying-event walk, which matches the
    min-timestamp chaining the SQL oracle uses. All JVM-side; per-user
    memory is the user's *filtered* event array, hard-capped at
    ``max_events_per_user`` (drop beyond the cap after sort — a bot key
    cannot OOM an executor; at 10k steps-relevant events the funnel
    outcome is long since decided).

    Returns one row: ``n_users`` plus ``n_step_1 .. n_step_k``.
    """
    walked = _funnel_walk(
        events, steps, user_col, ts_col, type_col, id_col, max_events_per_user
    )
    # coalesce: step counts are COUNTS — an empty day funnels 0 users,
    # not NULL (sum over zero rows; r10 all-empty fuzz, matches the
    # oracle's count(*) subqueries)
    aggs = [F.count("*").alias("n_users")] + [
        F.coalesce(
            F.sum((F.col("_stage") >= i).cast("long")), F.lit(0)
        ).alias(f"n_step_{i}")
        for i in range(1, len(steps) + 1)
    ]
    return walked.agg(*aggs)


def _funnel_walk(
    events: DataFrame,
    steps: list[str],
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    max_events_per_user: int,
) -> DataFrame:
    """Shared greedy funnel walk: one row per user with funnel-relevant
    events — ``(_stage, _first_us, _last_us)``: the stage reached, the
    µs of the step-1 event that opened the chain, and the µs of the
    latest step reached. Single shuffle (see funnel's docstring)."""
    fev = events.filter(F.col(type_col).isin(steps)).select(
        user_col,
        F.struct(
            _micros(events, ts_col).alias("us"),
            F.col(id_col).alias("eid"),
            F.col(type_col).alias("etype"),
        ).alias("_ev"),
    )
    per_user = fev.groupBy(user_col).agg(
        F.slice(F.array_sort(F.collect_list("_ev")), 1, max_events_per_user).alias("_evs")
    )
    # state: stage reached + µs of the chain-opening and latest step events
    steps_arr = F.array(*[F.lit(s) for s in steps])
    neg = F.lit(-1).cast("long")
    st0 = F.struct(
        F.lit(0).alias("stage"), neg.alias("last_us"), neg.alias("first_us")
    )
    walked = per_user.select(
        user_col,
        F.aggregate(
            "_evs",
            st0,
            lambda st, ev: F.when(
                (st.stage < F.lit(len(steps)))
                & (ev.etype == F.element_at(steps_arr, st.stage + 1))
                & (ev.us > st.last_us),
                F.struct(
                    (st.stage + 1).alias("stage"),
                    ev.us.alias("last_us"),
                    F.when(st.stage == 0, ev.us)
                    .otherwise(st.first_us)
                    .alias("first_us"),
                ),
            ).otherwise(st),
        ).alias("_st"),
    )
    return walked.select(
        user_col,
        F.col("_st.stage").alias("_stage"),
        F.col("_st.first_us").alias("_first_us"),
        F.col("_st.last_us").alias("_last_us"),
    )


def funnel_times(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_events_per_user: int = 10_000,
) -> DataFrame:
    """Time-to-convert distribution for fully-converted funnel users:
    one row ``(n_converted, p50_sec, p90_sec)`` where the per-user time
    is (last step µs − step-1 µs) of the greedy chain — exactly
    ``t_k − t_1`` of the oracle's min-timestamp CTEs. Same single
    shuffle as ``funnel``; the quantiles are exact interpolated
    percentiles over the |converted|-row frame."""
    walked = _funnel_walk(
        events, steps, user_col, ts_col, type_col, id_col, max_events_per_user
    )
    conv = walked.filter(F.col("_stage") >= len(steps)).select(
        ((F.col("_last_us") - F.col("_first_us")) / 1_000_000).alias("_t_sec")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(_t_sec, 0.5)"), 2).alias("p50_sec"),
        F.round(F.expr("percentile(_t_sec, 0.9)"), 2).alias("p90_sec"),
    )


def retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event; for each (cohort_week, week_offset) the count of cohort users
    active that week.

    Two aggregations and one join, all keyed on ``user_id`` /
    ``cohort_week`` — at scale the first-event agg is a map-side-partial
    min, the join co-partitions with the activity scan, and the output
    is |weeks|² rows regardless of input size.
    """
    first = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("_cohort")
    )
    active = events.select(
        user_col, F.date_trunc("week", F.col(ts_col)).alias("_week")
    ).distinct()
    return (
        active.join(first, user_col)
        .groupBy(
            F.col("_cohort").cast("date").alias("cohort_week"),
            (F.datediff(F.col("_week"), F.col("_cohort")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user, with a per-source probability. One shuffle for the
    lag window, one for the pair count; deterministic under ``(ts, id)``
    total order.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        user_col,
        F.lag(type_col).over(w).alias("prev_type"),
        F.col(type_col).alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n")
    )
    w_src = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_src), 4).alias("p"),
    )


def rolling_window_features(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    lookback_s: int = 3600,
) -> DataFrame:
    """Per-event trailing time-window features: count and value-sum of
    the same user's events in ``[ts − lookback, ts]`` — the standard
    online-feature shape ("events in the last hour").

    A RANGE frame over epoch-µs, not a ROWS frame: all rows at equal
    timestamps share one frame, so there is no tie ambiguity to break.
    One shuffle on user; the frame scan is a single sorted pass per
    partition (Spark's sliding range frame is O(n) amortized per key,
    not O(n·frame)).
    """
    us = _micros(events, ts_col)
    w = (
        Window.partitionBy(user_col)
        .orderBy(us.alias("_us"))
        .rangeBetween(-lookback_s * 1_000_000, 0)
    )
    return events.select(
        id_col,
        user_col,
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.round(F.sum(value_col).over(w), 2).alias("sum_trailing"),
    )


def active_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """DAU / trailing-WAU / stickiness per day.

    The trailing distinct-user window is computed WITHOUT a windowed
    count-distinct (which Spark — and any shuffle engine — cannot do
    incrementally): each distinct (user, day) pair fans out to the
    ``window_days`` future days it keeps the user "active in the last
    N days" for, then one count-distinct per target day. Linear
    ``window_days``× fan-out of the (user, day) DISTINCT set (tiny vs
    raw events), two map-combined shuffles, no self-join, no driver
    state. Days with no events simply don't appear (no zero-fill).

    Returns ``(day, dau, wau, stickiness)`` for days inside the data's
    span (leading ramp-up days where the trailing window would reach
    before the data begins are still reported, as a warehouse would).
    """
    ud = events.select(
        F.col(user_col).alias("__u"), F.to_date(ts_col).alias("__d")
    ).distinct()
    dau = ud.groupBy(F.col("__d").alias("day")).agg(
        F.countDistinct("__u").alias("dau")
    )
    span = ud.agg(F.max("__d").alias("__maxd"))
    fanned = (
        ud.select(
            "__u",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(window_days - 1)),
                    lambda k: F.date_add(F.col("__d"), k),
                )
            ).alias("day"),
        )
        .join(F.broadcast(span), F.col("day") <= F.col("__maxd"))
        .groupBy("day")
        .agg(F.countDistinct("__u").alias("wau"))
    )
    return (
        dau.join(fanned, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
    )


def ohlc_downsample(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Time-bucket OHLC downsampling (the hypertable-rollup shape): per
    ``(key, bucket)`` the opening/closing value under the ``(ts, id)``
    total order plus high/low/volume/count.

    ONE map-side-combined aggregation — no window, no sort: open/close
    are ``min_by``/``max_by`` over the ``(epoch-µs, id)`` struct, which
    selects exactly the rn=1 row an ORDER BY ts, id window would, and
    partial-aggregates on the map side (an O(1)-state fold, unlike a
    per-bucket sort). Output is |keys|·|buckets| rows at any input size;
    downsampled series are what you persist so later scans never touch
    raw events again.
    """
    us = _micros(events, ts_col)
    ordk = F.struct(us.alias("us"), F.col(id_col).alias("id"))
    return (
        events.groupBy(
            F.col(key_col),
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
        )
        .agg(
            F.round(F.min_by(value_col, ordk), 2).alias("open"),
            F.round(F.max(value_col), 2).alias("high"),
            F.round(F.min(value_col), 2).alias("low"),
            F.round(F.max_by(value_col, ordk), 2).alias("close"),
            F.round(F.sum(value_col), 2).alias("volume"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_age_s: int = 86_400,
) -> DataFrame:
    """Last-touch conversion attribution: each conversion event is
    credited to the user's most recent PRECEDING non-conversion event
    within ``max_age_s``; conversions with no touch in the window are
    reported as ``'(none)'``. Returns ``(channel, n_conversions)``.

    One shuffle on user: a running ``last(..., ignorenulls=True)`` over
    the ``(µs, id)``-ordered frame carries the latest touch's
    ``(µs, type)`` struct forward — preceding ROWS only (frame ends at
    -1), under the total ``(ts, id)`` order, so a touch sharing the
    conversion's timestamp IS credited when its id orders first (age 0
    is within any window). The age cut then happens row-locally. No
    self-join, no per-conversion scan.
    """
    us = _micros(events, ts_col)
    base = events.select(
        user_col,
        F.col(id_col),
        F.col(type_col),
        us.alias("_us"),
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy("_us", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col(type_col) != conversion_type,
            F.struct(F.col("_us").alias("tus"), F.col(type_col).alias("ttype")),
        ),
        ignorenulls=True,
    ).over(w)
    attributed = (
        base.withColumn("_touch", touch)
        .filter(F.col(type_col) == conversion_type)
        .select(
            F.when(
                F.col("_touch").isNotNull()
                & (F.col("_us") - F.col("_touch.tus") <= max_age_s * 1_000_000),
                F.col("_touch.ttype"),
            )
            .otherwise(F.lit("(none)"))
            .alias("channel")
        )
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_conversions")
    )


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Corpus-level session KPIs over the sessionize() output: session
    count, bounce rate (share of 1-event sessions), mean events per
    session and mean duration. One extra global aggregation over the
    |sessions|-row frame — the shape of every engagement dashboard."""
    s = sessionize(events, user_col, ts_col, id_col, gap_minutes)
    return s.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(
            F.avg((F.col("n_events") == 1).cast("double")), 4
        ).alias("bounce_rate"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.round(F.avg("duration_sec"), 2).alias("avg_duration_sec"),
    )


def path_trigrams(
    events: DataFrame,
    k: int = 10,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k most common consecutive 3-event journeys (path analysis).
    Two lag windows over one user partitioning, a pair-count shuffle on
    a ≤|types|³ key space, and a global top-k with a full lexical
    tie-break — deterministic under any partitioning."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    tri = events.select(
        F.lag(type_col, 2).over(w).alias("step_1"),
        F.lag(type_col, 1).over(w).alias("step_2"),
        F.col(type_col).alias("step_3"),
    ).filter(F.col("step_1").isNotNull())
    counts = tri.groupBy("step_1", "step_2", "step_3").agg(
        F.count(F.lit(1)).alias("n")
    )
    wr = Window.orderBy(
        F.col("n").desc(), "step_1", "step_2", "step_3"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= k)
    )


def new_vs_returning(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day split of active users into first-seen-today vs returning.
    Two map-combined aggs on the distinct (user, day) set joined to each
    user's first day — the acquisition-vs-retention dashboard primitive;
    output is |days| rows at any input size."""
    ud = events.select(
        F.col(user_col).alias("__u"), F.to_date(ts_col).alias("day")
    ).distinct()
    first = ud.groupBy("__u").agg(F.min("day").alias("__first_day"))
    return (
        ud.join(first, "__u")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("__first_day")).cast("long")).alias(
                "new_users"
            ),
            F.sum((F.col("day") != F.col("__first_day")).cast("long")).alias(
                "returning_users"
            ),
        )
    )


def interevent_times(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Inter-arrival latency profile: per event type, exact p50/p90 of
    the seconds since the same user's PREVIOUS event of that type — the
    cadence/health signal behind rate alerts. One lag window per
    (user, type) partitioning, then a per-type percentile aggregation."""
    us = _micros(events, ts_col)
    w = Window.partitionBy(user_col, type_col).orderBy("_us", id_col)
    base = events.select(
        F.col(user_col), F.col(type_col), us.alias("_us"), F.col(id_col)
    ).withColumn("_prev", F.lag("_us").over(w))
    gaps = base.filter(F.col("_prev").isNotNull()).select(
        type_col, ((F.col("_us") - F.col("_prev")) / 1_000_000).alias("_gap_s")
    )
    return gaps.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(_gap_s, 0.5)"), 2).alias("p50_s"),
        F.round(F.expr("percentile(_gap_s, 0.9)"), 2).alias("p90_s"),
    )


def linear_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_age_s: int = 86_400,
) -> DataFrame:
    """Linear multi-touch attribution: each conversion's credit is split
    equally over ALL the user's non-conversion touches in the
    ``max_age_s`` window before it (strictly earlier under the
    ``(ts, id)`` total order). Returns per channel:
    ``(channel, credit, n_pairs)`` with credit rounded to 4 dp.

    Shape: a per-user self-join (conversions × touches) bounded by the
    time window — co-partitioned on user, so the only fan-out is each
    user's touches-within-24h-of-a-conversion, not a cross product. At
    100 TB with bot-grade users, bound it the standard ways: the
    sessionize/funnel hot-key guard upstream, or swap the user
    equi-join for the time-bucketed range join (operators.joins
    range_join_count's cell trick) so the window bound is enforced IN
    the join key, not after it.
    """
    us = _micros(events, ts_col)
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__u"),
        us.alias("__cus"),
        F.col(id_col).alias("__cid"),
    )
    touch = events.filter(F.col(type_col) != conversion_type).select(
        F.col(user_col).alias("__u"),
        us.alias("__tus"),
        F.col(id_col).alias("__tid"),
        F.col(type_col).alias("channel"),
    )
    pairs = conv.join(touch, "__u").filter(
        (
            (F.col("__tus") < F.col("__cus"))
            | (
                (F.col("__tus") == F.col("__cus"))
                & (F.col("__tid") < F.col("__cid"))
            )
        )
        & (F.col("__cus") - F.col("__tus") <= max_age_s * 1_000_000)
    )
    w = Window.partitionBy("__u", "__cid")
    credited = pairs.withColumn(
        "__credit", F.lit(1.0) / F.count(F.lit(1)).over(w)
    )
    return credited.groupBy("channel").agg(
        F.round(F.sum("__credit"), 4).alias("credit"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


def seasonal_naive_backtest(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    season: str = "day",
    bucket: str = "hour",
) -> DataFrame:
    """Forecast-quality baseline: seasonal-naive (ŷ_t = y_{t−season})
    over the per-``bucket`` event-count series, scored per key with MAE
    and sMAPE. Any real forecasting model must beat this number — which
    makes the backtest itself the operator a warehouse runs, not the
    model. Shape: one bucket aggregation (map-combined), one
    co-partitioned self-join at lag = one season, two tiny aggs; output
    is |keys| rows.
    """
    seconds = {"day": 86_400, "week": 604_800}[season]
    series = events.groupBy(
        F.col(key_col), F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__y"))
    lagged = series.select(
        F.col(key_col),
        (F.col("__b") + F.expr(f"INTERVAL {seconds} SECONDS")).alias("__b"),
        F.col("__y").alias("__yhat"),
    )
    scored = series.join(lagged, [key_col, "__b"])
    return scored.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.avg(F.abs(F.col("__y") - F.col("__yhat"))), 4).alias("mae"),
        F.round(
            F.avg(
                F.abs(F.col("__y") - F.col("__yhat"))
                / ((F.abs("__y") + F.abs("__yhat")) / 2)
            ),
            4,
        ).alias("smape"),
    )


def rfm_segments(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM customer segmentation: per user recency (last conversion),
    frequency (count) and monetary (value sum), each scored into
    ``n_tiles`` count-balanced buckets (ntile, ties broken by user id —
    a total order, so bucket assignment is deterministic); output is
    segment counts, ≤ n_tiles³ rows.

    Scale note: ntile is count-balanced and needs a global sort of the
    |users|-row AGGREGATE frame (already thousands of times smaller
    than the event log). Where even that frame is too large for one
    sort, swap ntile for approx-quantile thresholds and row-local
    bucketing — the documented trade: value-balanced buckets, no global
    order.
    """
    conv = events.filter(F.col(type_col) == conversion_type)
    us = _micros(conv, ts_col)
    per_user = conv.groupBy(user_col).agg(
        F.max(us).alias("_last_us"),
        F.count(F.lit(1)).alias("_freq"),
        F.round(F.sum(value_col), 2).alias("_money"),
    )
    r_w = Window.orderBy("_last_us", user_col)
    f_w = Window.orderBy("_freq", user_col)
    m_w = Window.orderBy("_money", user_col)
    scored = per_user.select(
        F.ntile(n_tiles).over(r_w).alias("r"),
        F.ntile(n_tiles).over(f_w).alias("f"),
        F.ntile(n_tiles).over(m_w).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def peak_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    n_parts: int = 32,
) -> DataFrame:
    """Peak number of simultaneously-open intervals (max concurrency) —
    the sweep-line +1/−1 prefix sum, DISTRIBUTED.

    Each interval contributes (+1 at start, −1 at end); concurrency at
    any instant is the running sum of deltas in (time, delta) order
    (−1 sorts before +1, so equal-time end/start do NOT overlap —
    half-open [start, end) semantics). A bare global window would drag
    every delta through one task, so the running sum uses the same
    two-level shape as layout.global_row_index: range-partition on the
    sort key, per-partition running sums, then add each partition's
    broadcast exclusive-prefix offset (Σ deltas of earlier partitions —
    a k-row window, k = n_parts). Peak and its earliest instant come
    from one struct max. Start/end are epoch-µs bigints.

    Output one row: (n_intervals, peak, peak_at).
    """
    starts = intervals.select(
        F.col(start_col).alias("us"), F.lit(1).alias("d")
    )
    ends = intervals.select(F.col(end_col).alias("us"), F.lit(-1).alias("d"))
    deltas = starts.unionByName(ends)
    ranged = deltas.repartitionByRange(
        n_parts, F.col("us"), F.col("d")
    ).withColumn("_pid", F.spark_partition_id())
    # Same pin as layout.global_row_index: repartitionByRange bounds are
    # SAMPLED (SPARK-28699) and this plan evaluates `ranged` twice
    # (offsets agg + join) — without a single materialization the two
    # executions can place rows differently and the offsets misalign.
    ranged = ranged.localCheckpoint(eager=True)
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.sum("d").alias("_sum"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_sum").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    w_run = (
        Window.partitionBy("_pid")
        .orderBy("us", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn("conc", F.sum("d").over(w_run) + F.col("_offset"))
    )
    return running.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        F.max(
            F.struct(F.col("conc").alias("c"), (-F.col("us")).alias("neg_us"))
        ).alias("top"),
    ).select(
        "n_intervals",
        F.col("top.c").cast("long").alias("peak"),
        F.timestamp_micros(-F.col("top.neg_us")).alias("peak_at"),
    )
