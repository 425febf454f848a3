"""Per-series analytics operators beyond the tier rollups: EWMA,
counter-reset rates, native session windows.

All pure Catalyst expressions (window functions + groupBy) — one
shuffle per keyed operator, no Python. Each has an exact cross-engine
definition (driver pairs mirror the arithmetic term-for-term in
DuckDB), which is why the EWMA is the FINITE-HORIZON form: the
infinite-memory recurrence is inherently sequential (a scan), and its
cumulative-product rewrite overflows (1−α)^{−n} at real series
lengths — the truncated kernel keeps the operator one bounded window
pass at any scale, with the truncation error (1−α)^W stated instead of
hidden.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tokens_ts import config as C


def _buckets(
    df: DataFrame,
    keys: list,
    ts_col: str,
    value_col: str,
    trunc: str,
    scale: float | None = None,
) -> DataFrame:
    """(keys…, ep, v): the mean of the non-null `value_col` per keys and
    `date_trunc(trunc)` epoch second — the shared front end of the
    bucketed operators (one map-side-combined agg). With `scale`, v is
    that mean on the integer grid, round(mean · scale) as bigint.
    `keys` are column names or Column expressions."""
    v = F.avg(value_col)
    if scale is not None:
        v = F.round(v * F.lit(float(scale))).cast("bigint")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            *keys,
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("ep"),
        )
        .agg(v.alias("v"))
    )


def with_ewma(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    alpha: float = 0.25,
    horizon: int = 8,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Finite-horizon EWMA: per key, ordered by ts,

        ewma_n = Σ_{k<W, x_{n−k} exists} (1−α)^k · x_{n−k}
                 / Σ_{same k} (1−α)^k

    (pandas ewm(alpha).mean() with adjust=True restricted to the last
    W points). Truncation error vs the infinite kernel is ≤ (1−α)^W of
    the oldest mass — 0.1% at the defaults. One window pass, W lag
    terms, O(W) state per row, no scan dependency → scales to any
    series length; weights are summed oldest-term-last in a fixed fold
    order so independent engines reproduce the exact double."""
    w = Window.partitionBy(*keys).orderBy(ts_col, *(order_cols or []))
    decay = 1.0 - alpha
    num = None
    den = None
    for k in range(horizon):
        x = F.col(value_col) if k == 0 else F.lag(value_col, k).over(w)
        wk = F.when(x.isNotNull(), F.lit(decay**k))
        term = x * F.lit(decay**k)
        num = term if num is None else num + F.coalesce(term, F.lit(0.0))
        den = wk if den is None else den + F.coalesce(wk, F.lit(0.0))
    return df.withColumn("ewma", num / den)


def with_counter_rate(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Prometheus-style counter increase/rate with reset handling: per
    key ordered by ts, delta = v − lag(v); a NEGATIVE delta means the
    counter restarted from zero, so the increase is the new value
    itself (the standard rate()/increase() reset rule). Emits
    `increase` and `rate_per_s` (null on the first point and dt=0)."""
    w = Window.partitionBy(*keys).orderBy(ts_col, *(order_cols or []))
    prev_v = F.lag(value_col).over(w)
    dv = F.col(value_col) - prev_v
    increase = F.when(dv >= 0, dv).otherwise(F.col(value_col))
    dt_s = (
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        - F.unix_micros(F.lag(ts_col).over(w).cast("timestamp"))
    ) / 1e6
    return df.withColumn(
        "increase", F.when(prev_v.isNotNull(), increase)
    ).withColumn(
        "rate_per_s",
        F.when(prev_v.isNotNull() & (dt_s > 0), increase / dt_s),
    )


def session_windows(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Native Spark session windows (F.session_window): per key,
    events within `gap` of the previous one merge into one session;
    window end = last event + gap. Boundary rule (measured, pinned by
    pytest): a successor exactly `gap` later still MERGES — only a
    strictly larger gap splits, the same > rule as the hand-rolled
    gaps-and-islands in ts_sessionize. This is the batch twin of
    streaming.stream_sessionize, expressed as a single built-in
    grouping — one shuffle on (keys, merged-window), state handled by
    the engine."""
    return (
        df.groupBy(*keys, F.session_window(ts_col, gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            *keys,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    interval: str = "1 hour",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Time-weighted average (TimescaleDB time_weight('Linear') analog)
    per key per bucket: the trapezoidal integral over consecutive
    samples divided by the observed span,

        twa = Σ_i (v_i + v_{i+1})/2 · (t_{i+1} − t_i)  /  (t_n − t_1)

    Bucket-local by design: the integral uses only samples inside the
    bucket (no cross-boundary interpolation — the same no-extrapolation
    default TimescaleDB uses), and a bucket with one sample or zero
    span degrades to the plain mean. Irregular sampling is the point:
    a value that held for 50 minutes weighs 50× one that held for a
    minute, which arithmetic mean gets wrong.

    Shape: one window pass (lead) + one partial-agg shuffle on
    (keys, bucket) — identical scale profile to rollup_interval.

    Duplicate timestamps within a key: tied samples contribute zero
    area to each other, but WHICH tied value connects to the next
    point depends on sort order — pass order_cols (e.g. an event id)
    for a deterministic result when (keys, ts) is not unique."""
    w = Window.partitionBy(*keys, "_tw_bucket").orderBy(
        ts_col, *(order_cols or [])
    )
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    nxt_v = F.lead(value_col).over(w)
    nxt_t = F.lead(t_us).over(w)
    area = (F.col(value_col) + nxt_v) / 2.0 * ((nxt_t - t_us) / 1e6)
    seg = (
        df.where(F.col(value_col).isNotNull())
        .withColumn(
            "_tw_bucket", F.window(ts_col, interval)["start"]
        )
        .withColumn("_tw_area", area)
    )
    out = seg.groupBy(*keys, "_tw_bucket").agg(
        F.count(value_col).alias("n_samples"),
        F.sum("_tw_area").alias("_integral"),
        ((F.max(t_us) - F.min(t_us)) / 1e6).alias("_span_s"),
        F.avg(value_col).alias("_plain_mean"),
    )
    return out.select(
        *keys,
        F.col("_tw_bucket").alias("window_start"),
        "n_samples",
        F.when(F.col("_span_s") > 0, F.col("_integral") / F.col("_span_s"))
        .otherwise(F.col("_plain_mean"))
        .alias("twa"),
    )


def trend(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    interval: str = "1 hour",
) -> DataFrame:
    """Per-key per-bucket least-squares trend (PromQL deriv /
    TimescaleDB stats_agg slope): regress value on seconds-since-
    bucket-start and emit slope (units/second) and intercept (value at
    bucket start). The normal equations are written out as explicit
    sum aggregates —

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    — rather than regr_slope(), so an independent engine can mirror
    the arithmetic term-for-term. x is RELATIVE seconds (epoch minus
    bucket start): epoch-scale x (~1.7e9) would put Σx² near 1e19 per
    point and the subtraction would cancel catastrophically; relative
    x keeps every sum well inside double precision at any bucket
    width up to years. Degenerate buckets (all samples at one
    timestamp → zero variance) yield null slope/intercept.

    One partial-agg shuffle on (keys, bucket); all sums are algebraic
    (map-side combinable)."""
    b = F.window(ts_col, interval)["start"]
    x = (
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        - F.unix_micros(F.col("_tr_bucket").cast("timestamp"))
    ) / 1e6
    y = F.col(value_col)
    seg = (
        df.where(y.isNotNull())
        .withColumn("_tr_bucket", b)
        .select(*keys, F.col("_tr_bucket"), x.alias("_x"), y.alias("_y"))
    )
    g = seg.groupBy(*keys, "_tr_bucket").agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    denom = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = F.when(
        denom != 0,
        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / denom,
    )
    intercept = F.when(
        denom != 0,
        (F.col("_sy") - slope * F.col("_sx")) / F.col("_n"),
    )
    return g.select(
        *keys,
        F.col("_tr_bucket").alias("window_start"),
        F.col("_n").cast("bigint").alias("n_samples"),
        slope.alias("slope_per_s"),
        intercept.alias("intercept"),
    )


def reset_stats(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    interval: str = "1 hour",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """PromQL resets()/increase() aggregated to buckets: deltas are
    computed over the FULL per-key series order (a bucket's first
    delta reaches back into the previous bucket — the same continuity
    rule Prometheus uses), then grouped by the bucket of the CURRENT
    point. Emits per (key, bucket): n_resets (negative deltas =
    counter restarts) and total_increase (reset-adjusted).

    Two shuffles total: the series window, then the bucket agg — the
    window partitioning is on a prefix of the agg key, so AQE can
    often reuse the exchange."""
    cr = with_counter_rate(
        df, keys, ts_col=ts_col, value_col=value_col, order_cols=order_cols
    )
    w = Window.partitionBy(*keys).orderBy(ts_col, *(order_cols or []))
    is_reset = (F.col(value_col) - F.lag(value_col).over(w)) < 0
    seg = cr.withColumn("_rs_reset", is_reset).withColumn(
        "_rs_bucket", F.window(ts_col, interval)["start"]
    )
    return seg.groupBy(*keys, "_rs_bucket").agg(
        F.sum(F.when(F.col("_rs_reset"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_resets"),
        F.sum("increase").alias("total_increase"),
        F.count("*").cast("bigint").alias("n_points"),
    ).withColumnRenamed("_rs_bucket", "window_start")


def seasonal_zscore(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
) -> DataFrame:
    """Seasonal-baseline anomaly score: build an hour-of-day profile
    (mean, population std) per key, broadcast it back, and z-score
    every point against ITS OWN hour's baseline — the detector that
    catches 'normal for 3pm, anomalous for 3am' which a global z-score
    (ts_anomaly_zscore) cannot.

    The profile is keys×24 rows — broadcast-sized at ANY corpus scale,
    so the join back is a BroadcastHashJoin with zero shuffle of the
    fact side beyond the profile agg itself. Points whose hour has
    std = 0 (constant baseline) get null z."""
    hod = F.hour(F.col(ts_col).cast("timestamp"))
    prof = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys, hod.alias("hod"))
        .agg(
            F.avg(value_col).alias("hod_mean"),
            F.stddev_pop(value_col).alias("hod_std"),
            F.count("*").cast("bigint").alias("hod_n"),
        )
    )
    fact = df.withColumn("hod", hod)
    joined = fact.join(F.broadcast(prof), [*keys, "hod"], "left")
    return joined.withColumn(
        "seasonal_z",
        F.when(
            F.col("hod_std") > 0,
            (F.col(value_col) - F.col("hod_mean")) / F.col("hod_std"),
        ),
    )


def heartbeat_uptime(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    tolerance_s: float = 3600.0,
    interval_s: int = 86400,
) -> DataFrame:
    """Heartbeat/uptime aggregation (TimescaleDB heartbeat_agg
    analog): each event keeps its key 'live' for tolerance_s; per
    (key, day) the live time is the union of those intervals, clipped
    to the day:

        live = Σ_{i<n} min(t_{i+1} − t_i, τ) + min(τ, day_end − t_n)

    (consecutive events closer than τ chain into one covered span;
    the last event's coverage is capped at the day boundary — coverage
    does NOT roll into the next day, a pinned bucket-local rule that
    keeps the op a single window + agg with no cross-day state).
    Emits live seconds and uptime fraction of the day.

    One window pass (lead within (keys, day)) + one partial-agg
    shuffle."""
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp"))
    seg = df.withColumn("_hb_day", day)
    w = Window.partitionBy(*keys, "_hb_day").orderBy(ts_col)
    nxt = F.lead(t_us).over(w)
    day_end_us = F.unix_micros(F.col("_hb_day") + F.expr("INTERVAL 1 DAY"))
    cover_s = F.when(
        nxt.isNotNull(), F.least((nxt - t_us) / 1e6, F.lit(tolerance_s))
    ).otherwise(F.least(F.lit(tolerance_s), (day_end_us - t_us) / 1e6))
    out = seg.withColumn("_hb_cover", cover_s).groupBy(*keys, "_hb_day").agg(
        F.count("*").cast("bigint").alias("n_beats"),
        F.sum("_hb_cover").alias("live_s"),
    )
    return out.select(
        *keys,
        F.col("_hb_day").alias("day"),
        "n_beats",
        "live_s",
        (F.col("live_s") / F.lit(float(interval_s))).alias("uptime_frac"),
    )


def with_level_shift(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    width: int = 16,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Level-shift (changepoint candidate) score: at each point, the
    difference between the mean of the NEXT `width` values and the
    mean of the trailing `width` values (current included). A step
    change in the series level produces a spike of height ≈ the step
    at the boundary. Null unless BOTH frames are full — partial
    windows at series edges would fake shifts.

    Both frames are bounded ROWS frames (W−1 preceding / W
    following), which Spark evaluates with an O(n) sliding buffer —
    this is deliberately NOT an unbounded-following frame, which Spark
    evaluates by recomputing the aggregate for every row — O(n²) per
    series."""
    w = Window.partitionBy(*keys).orderBy(ts_col, *(order_cols or []))
    trail = w.rowsBetween(-(width - 1), 0)
    lead_f = w.rowsBetween(1, width)
    v = F.col(value_col)
    shift = F.when(
        (F.count(v).over(trail) == width) & (F.count(v).over(lead_f) == width),
        F.avg(v).over(lead_f) - F.avg(v).over(trail),
    )
    return df.withColumn("level_shift", shift)


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "event_ts",
    max_offset_days: int = 30,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the day of their
    FIRST event; for each (cohort_day, day_offset) emit how many of
    that cohort were active day_offset days later. The classic
    engagement query, built from two aggregates and one join:

      1. cohort dim: groupBy(user) → min day         (|users| rows)
      2. activity:   distinct (user, day)            (≤ |users|·days)
      3. join 2⟕1 on user, offset = datediff, agg

    The join key is the USER — high-cardinality, so this is a shuffle
    join on both sides (the cohort dim is |users| rows, too big to
    assume broadcast at 10^9 users, but both sides are already
    user-keyed aggregates orders of magnitude smaller than the fact
    table). Offsets beyond max_offset_days are dropped (bounds the
    output, not the computation)."""
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp"))
    cohort = (
        df.groupBy(user_col)
        .agg(F.min(day).alias("cohort_day"))
    )
    activity = df.select(user_col, day.alias("act_day")).distinct()
    j = activity.join(cohort, user_col)
    off = F.datediff(F.col("act_day"), F.col("cohort_day"))
    return (
        j.withColumn("day_offset", off)
        .where(F.col("day_offset").between(0, max_offset_days))
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct(user_col).cast("bigint").alias("n_active"))
    )


def funnel(
    df: DataFrame,
    step_a: str,
    step_b: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "event_ts",
    horizon_s: float = 3600.0,
    value_col: str | None = None,
) -> DataFrame:
    """Two-step funnel conversion: a user 'enters' at their FIRST
    step_a event and 'converts' if ANY step_b event lands in
    (t_enter, t_enter + horizon]. Emits per entry day: n_entered,
    n_converted.

    Strictly-after rule (pinned): a step_b at exactly t_enter does
    NOT convert (same-instant events are not causally ordered);
    exactly t_enter + horizon does. Shape: one user-keyed agg for the
    entry times, one semi-join of step_b facts against it (shuffle on
    user), then a day-keyed agg — no window over the raw fact order
    anywhere."""
    ts = F.col(ts_col).cast("timestamp")
    entered = (
        df.where(F.col(type_col) == step_a)
        .groupBy(user_col)
        .agg(F.min(ts).alias("t_enter"))
    )
    b = df.where(F.col(type_col) == step_b).select(
        user_col, ts.alias("t_b")
    )
    conv = (
        b.join(entered, user_col)
        .where(
            (F.col("t_b") > F.col("t_enter"))
            & (
                F.unix_micros(F.col("t_b"))
                <= F.unix_micros(F.col("t_enter"))
                + F.lit(int(horizon_s * 1e6))
            )
        )
        .select(user_col)
        .distinct()
        .withColumn("_converted", F.lit(1))
    )
    per_user = entered.join(conv, user_col, "left")
    return (
        per_user.groupBy(
            F.date_trunc("day", "t_enter").alias("entry_day")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_entered"),
            F.sum(F.coalesce(F.col("_converted"), F.lit(0)))
            .cast("bigint")
            .alias("n_converted"),
        )
    )


def series_binary_op(
    left: DataFrame,
    right: DataFrame,
    op: str = "ratio",
    on: list[str] | None = None,
    value_col: str = "value",
    how: str = "inner",
) -> DataFrame:
    """PromQL-style binary operation between two aligned series
    frames (each (on..., value)): join on the alignment keys (bucket
    start, plus any labels) and combine values. ratio emits null on
    zero denominator (PromQL drops the sample; null is the relational
    spelling). Both inputs are normally per-bucket AGGREGATES —
    orders of magnitude smaller than facts — so the join is a cheap
    key-aligned shuffle; pre-bucketed inputs sharing a partitioning
    reuse the exchange."""
    on = on or ["window_start"]
    lv = F.col("_l_val")
    rv = F.col("_r_val")
    combined = {
        "ratio": F.when(rv != 0, lv / rv),
        "add": lv + rv,
        "sub": lv - rv,
        "mul": lv * rv,
    }[op]
    lf = left.select(*on, F.col(value_col).alias("_l_val"))
    rf = right.select(*on, F.col(value_col).alias("_r_val"))
    return lf.join(rf, on, how).select(*on, combined.alias(op))


def top_n_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    n: int = 3,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Top-N rows per group by order_col descending, rank emitted.
    Ties broken by tie_cols ascending (REQUIRED for deterministic
    output — row_number over an under-specified order is a silent
    nondeterminism source). One window pass per group partition; at
    scale this is the standard rank-filter shape (no global sort, no
    TakeOrdered across groups)."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(order_col).desc(), *[F.col(c) for c in (tie_cols or [])]
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
    )


def gap_stats(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    threshold_s: float = 600.0,
) -> DataFrame:
    """Gap detection per (keys, day): the dual of heartbeat_uptime —
    instead of summing coverage, report the largest silent interval
    and how many inter-event gaps exceeded threshold_s. Bucket-local
    (gaps across midnight are not counted — same pinned day-boundary
    rule as heartbeat_uptime). A single-event day has no gaps → null
    max_gap_s.

    One lead pass within (keys, day) + one partial-agg shuffle."""
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp"))
    seg = df.withColumn("_gp_day", day)
    w = Window.partitionBy(*keys, "_gp_day").orderBy(ts_col)
    gap_s = (F.lead(t_us).over(w) - t_us) / 1e6
    out = seg.withColumn("_gp_gap", gap_s).groupBy(*keys, "_gp_day").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("_gp_gap").alias("max_gap_s"),
        F.sum(
            F.when(F.col("_gp_gap") > threshold_s, 1).otherwise(0)
        ).cast("bigint").alias("n_gaps_over"),
    )
    return out.withColumnRenamed("_gp_day", "day")


def sax_symbols(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    paa_trunc: str = "minute",
    word_trunc: str = "hour",
) -> DataFrame:
    """SAX symbolization (Lin et al., "Symbolic Aggregate
    approXimation"): turn each key's numeric series into a short
    symbol word per coarse window — the series-to-TOKENS bridge
    (SAX words feed the same dedup / n-gram / drift operators this
    engine runs on token streams; motif mining and whole-series
    near-dup become string problems).

    Stages (each rule pinned for the cross-engine oracle):
      1. PAA: mean value per (keys, paa_trunc bucket).
      2. z-normalize PAA values per key over the WHOLE key series
         (mean / population std, ddof=0); std = 0 ⇒ z = 0.
      3. Symbolize on the E6-ROUNDED z against the N(0,1) quartile
         breakpoints (alphabet a..d, cuts at ±0.674490, 0): an
         ulp-level z difference between engines must not flip a
         symbol, so both engines compare round(z·1e6) to the integer
         cuts ±674490 / 0 (half-open: z_e6 < −674490 → 'a',
         < 0 → 'b', < 674490 → 'c', else 'd').
      4. Word: symbols of the PAA buckets inside each word_trunc
         window concatenated in bucket order.

    Shapes: PAA is one partial-agg shuffle of raw rows; per-key stats
    are a key-bounded agg joined back (broadcast-scale); the word
    assembly groups the PAA frame (already buckets-bounded) — sorting
    segment structs inside each word row-locally, never a global
    sort."""
    paa = df.where(F.col(value_col).isNotNull()).groupBy(
        *keys, F.date_trunc(paa_trunc, F.col(ts_col)).alias("_seg")
    ).agg(F.avg(value_col).alias("_paa"))
    stats = paa.groupBy(*keys).agg(
        F.avg("_paa").alias("_mu"), F.stddev_pop("_paa").alias("_sd")
    )
    z = F.when(
        (F.col("_sd").isNull()) | (F.col("_sd") == 0), F.lit(0.0)
    ).otherwise((F.col("_paa") - F.col("_mu")) / F.col("_sd"))
    z_e6 = F.round(z * 1e6).cast("bigint")
    sym = (
        F.when(z_e6 < -674490, F.lit("a"))
        .when(z_e6 < 0, F.lit("b"))
        .when(z_e6 < 674490, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    symbolized = paa.join(F.broadcast(stats), keys).select(
        *keys,
        F.date_trunc(word_trunc, F.col("_seg")).alias("bucket_ts"),
        F.col("_seg").alias("_seg"),
        sym.alias("_sym"),
    )
    word = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_seg", "_sym"))),
            lambda s: s["_sym"],
        ),
        "",
    )
    return symbolized.groupBy(*keys, "bucket_ts").agg(
        word.alias("sax_word"), F.count("*").cast("bigint").alias("n_seg")
    )


def acf(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "minute",
    max_lag: int = 5,
) -> DataFrame:
    """Autocorrelation function per key over the `trunc`-bucketed
    series: Pearson r between (v_t, v_{t+lag·step}) for lag = 1..max_lag
    — the seasonality / memory fingerprint (a daily-periodic source
    shows an ACF peak at its period; white noise decays instantly).

    GAP-CORRECT by construction: pairing is on bucket-EPOCH
    arithmetic, not row adjacency — a missing bucket simply
    contributes no pair at the lags it breaks, instead of silently
    pairing non-adjacent rows the way lag(row) would on a gapped
    series. Pearson r is written out as the five explicit sums

        r = (n·Σxy − Σx·Σy) / sqrt((n·Σx²−(Σx)²)·(n·Σy²−(Σy)²))

    (the trend() rule) so the oracle mirrors it term-for-term; n < 2
    or zero variance on either side ⇒ null.

    Shapes: ONE bucket agg over raw rows (the only corpus-sized
    shuffle), then the lag fan-out (explode 1..max_lag) and the
    self-equi-join on (keys, epoch) act on the buckets-bounded frame;
    the final agg is (keys × max_lag)-sized. No window sort at all."""
    step = C.TRUNC_S[trunc]
    # bucket frame backs both join sides: cache the buckets-bounded
    # frame so the corpus bucket agg runs once (r6 single-scan rule)
    b = _buckets(df, keys, ts_col, value_col, trunc).cache()
    left = b.select(
        *keys, "ep", F.col("v").alias("_x"),
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    ).withColumn("_ep_r", F.col("ep") + F.col("lag") * F.lit(step))
    right = b.select(
        *keys, F.col("ep").alias("_ep_r"), F.col("v").alias("_y")
    )
    pairs = left.join(right, [*keys, "_ep_r"])
    agg = pairs.groupBy(*keys, "lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (F.col("n") >= 2) & (vx > 0) & (vy > 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(vx * vy),
    )
    return agg.select(
        *keys,
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        r.alias("acf"),
    )


def ccf(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "minute",
    max_lag: int = 5,
) -> DataFrame:
    """Cross-correlation function between every ORDERED-DISTINCT pair
    of series at bucket lags −max_lag..+max_lag: Pearson r between
    (a_t, b_{t+lag·step}) — the lead-lag detector (the lag with peak
    |r| says which series moves first and by how much; lag 0 is plain
    co-movement).

    Same gap-correct contract as acf(): pairing is on bucket-EPOCH
    arithmetic, never row adjacency, so a hole in either series drops
    exactly the pairs it breaks. Pair identity is pinned to
    series_a < series_b (string order) — negative lags cover the
    other orientation. Pearson r via the five explicit sums; n < 2 or
    zero variance on either side ⇒ null.

    Shapes: ONE bucket agg over raw rows; the pair join is a
    self-equi-join on (epoch) between two buckets-bounded frames with
    the a<b filter; lag fan-out explodes 2·max_lag+1 on the bounded
    frame; final agg is (#pairs × #lags)-sized."""
    step = C.TRUNC_S[trunc]
    # backs both join sides — corpus bucket agg runs once (r6)
    b = _buckets(df, [key_col], ts_col, value_col, trunc).cache()
    left = b.select(
        F.col(key_col).alias("series_a"), "ep", F.col("v").alias("_x"),
        F.explode(
            F.sequence(F.lit(-max_lag), F.lit(max_lag))
        ).alias("lag"),
    ).withColumn("_ep_r", F.col("ep") + F.col("lag") * F.lit(step))
    right = b.select(
        F.col(key_col).alias("series_b"),
        F.col("ep").alias("_ep_r"),
        F.col("v").alias("_y"),
    )
    pairs = left.join(right, "_ep_r").where(
        F.col("series_a") < F.col("series_b")
    )
    agg = pairs.groupBy("series_a", "series_b", "lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (F.col("n") >= 2) & (vx > 0) & (vy > 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(vx * vy),
    )
    return agg.select(
        "series_a",
        "series_b",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        r.alias("ccf"),
    )


def seasonal_naive_error(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    season: str = "day",
) -> DataFrame:
    """Forecast-baseline backtest per key: MAE of the NAIVE forecast
    (previous bucket's value) vs the SEASONAL-NAIVE forecast (the
    value one full season earlier, e.g. same hour yesterday), plus
    their ratio — the one-query answer to "is this series seasonal
    enough that same-hour-yesterday beats last-hour?" (ratio < 1e6 ⇒
    yes) and the denominator every MASE-style model eval needs.

    Pinned rules: a bucket contributes to an MAE only when its
    forecast bucket exists (naive: ep−step; seasonal: ep−season) —
    inner equi-joins, no imputation; MAEs are e6-rounded; the ratio
    seasonal/naive is e6-rounded and null when either side has no
    pairs or naive MAE is 0.

    Shapes: ONE bucket agg over raw rows, then two self-equi-joins on
    (keys, epoch arithmetic) between buckets-bounded frames and a
    per-key finisher agg."""
    step = C.TRUNC_S[trunc]
    sstep = {"hour": 3600, "day": 86400, "week": 604800}[season]
    b = _buckets(df, keys, ts_col, value_col, trunc)

    def _mae(shift: int, name: str) -> DataFrame:
        fc = b.select(
            *keys, (F.col("ep") + shift).alias("ep"), F.col("v").alias("_f")
        )
        return (
            b.join(fc, [*keys, "ep"])
            .groupBy(*keys)
            .agg(
                F.count("*").cast("bigint").alias(f"n_{name}"),
                F.avg(F.abs(F.col("v") - F.col("_f"))).alias(f"mae_{name}"),
            )
        )

    out = _mae(step, "naive").join(_mae(sstep, "seasonal"), keys, "full_outer")
    ratio = F.when(
        (F.col("mae_naive") > 0)
        & F.col("mae_seasonal").isNotNull(),
        F.col("mae_seasonal") / F.col("mae_naive"),
    )
    return out.select(
        *keys,
        F.coalesce("n_naive", F.lit(0)).cast("bigint").alias("n_naive"),
        F.coalesce("n_seasonal", F.lit(0)).cast("bigint").alias("n_seasonal"),
        F.col("mae_naive").alias("mae_naive"),
        F.col("mae_seasonal").alias("mae_seasonal"),
        ratio.alias("mase"),
    )


def holt_linear(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    alpha: float = 0.5,
    beta: float = 0.25,
) -> DataFrame:
    """Holt linear (double exponential) smoothing per key over the
    `trunc`-bucketed series — level + trend state at every bucket and
    the one-step-ahead fitted forecast, the classic trending-series
    smoother EWMA can't provide (EWMA lags a trending series forever;
    Holt's trend term removes the lag).

    The recursion
        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    is INHERENTLY sequential (no finite-horizon rewrite exists — the
    trend term feeds back), so this is the sanctioned custom-stateful
    path: an Arrow `applyInPandas` stage, one numpy pass per key
    group. Pinned rules mirrored by the cross-engine recursive-CTE
    oracle: buckets are consumed in epoch order and treated as
    CONSECUTIVE steps (gap handling = none, documented); init
    l_1 = y_1, b_1 = y_2 − y_1 (b_1 = 0 for a 1-bucket series);
    fitted_t = l_{t−1} + b_{t−1} (null at t=1). Both engines evaluate
    the same expression shapes on doubles; outputs are e6-roundable.

    Shapes: ONE bucket agg over raw rows, then ONE shuffle on the key
    to co-locate each series; per-group state is O(#buckets per key)
    — bounded by the calendar, never by corpus rows."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    import pandas as pd  # noqa: F401  (Arrow stage dependency)

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in b.select(*keys).schema.fields
    )
    schema = (
        f"{out_fields}, ep bigint, v double, level double, "
        "trend double, fitted double"
    )

    def _holt(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("ep").reset_index(drop=True)
        y = pdf["v"].to_numpy(dtype="float64")
        n = len(y)
        lvl = np.empty(n)
        trd = np.empty(n)
        fit = np.full(n, np.nan)
        lvl[0] = y[0]
        trd[0] = (y[1] - y[0]) if n >= 2 else 0.0
        for t in range(1, n):
            prev = lvl[t - 1] + trd[t - 1]
            fit[t] = prev
            lvl[t] = alpha * y[t] + (1.0 - alpha) * prev
            trd[t] = beta * (lvl[t] - lvl[t - 1]) + (1.0 - beta) * trd[t - 1]
        res = pdf[[*keys, "ep", "v"]].copy()
        res["level"] = lvl
        res["trend"] = trd
        res["fitted"] = pd.array(fit).astype(object)
        res.loc[0, "fitted"] = None
        return res

    return b.groupBy(*keys).applyInPandas(_holt, schema=schema)


def cusum(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    slack: float = 0.5,
    threshold: float = 4.0,
) -> DataFrame:
    """Two-sided standardized CUSUM changepoint scores per key over
    the `trunc`-bucketed series — the small-persistent-shift detector
    (a 0.5σ drift that never trips a per-point z-score accumulates
    here within a few buckets).

    The textbook recurrence S_t = max(0, S_{t−1} + a_t) is NOT run as
    a sequential loop: it equals P_t − min(0, min_{j≤t} P_j) for the
    prefix sums P of a_t (the reflection identity), so both sides run
    as two O(n) cumulative window passes — pure Catalyst, whole-stage
    codegen, one shuffle on the key, and the identical shape in the
    SQL oracle. a⁺_t = z_t − slack, a⁻_t = −z_t − slack with
    z standardized against the key's own bucket mean/σ, window
    aggregates on that same key shuffle (no stats join; σ=0 or a
    1-bucket series → z=0). slack=0.5 and threshold=4 are
    binary-exact doubles. Alarm = either side exceeds threshold."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    kw = Window.partitionBy(*keys)
    z = b.withColumns(
        {"_mu": F.avg("v").over(kw), "_sd": F.stddev_pop("v").over(kw)}
    ).withColumn(
        "z",
        F.when(
            F.col("_sd") > 0, (F.col("v") - F.col("_mu")) / F.col("_sd")
        ).otherwise(F.lit(0.0)),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("ep")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pu = F.sum(F.col("z") - F.lit(slack)).over(w)
    pd_ = F.sum(-F.col("z") - F.lit(slack)).over(w)
    scored = z.select(
        *keys,
        "ep",
        "v",
        "z",
        pu.alias("_pu"),
        pd_.alias("_pd"),
    )
    s_up = F.col("_pu") - F.least(F.lit(0.0), F.min("_pu").over(w))
    s_dn = F.col("_pd") - F.least(F.lit(0.0), F.min("_pd").over(w))
    return scored.select(
        *keys,
        "ep",
        "v",
        "z",
        s_up.alias("s_up"),
        s_dn.alias("s_dn"),
    ).withColumn(
        "alarm",
        (F.col("s_up") > threshold) | (F.col("s_dn") > threshold),
    )


def robust_zscore(
    df: DataFrame,
    keys: list[str],
    value_col: str = "value",
    clip: float = 3.5,
) -> DataFrame:
    """Median/MAD robust z-score per row against its key's own
    distribution — the outlier scorer whose baseline outliers cannot
    poison (mean/σ z-scores famously mask the very anomalies that
    inflate σ; the 50% breakdown point of median+MAD does not).
    rz = (x − median) / (1.4826·MAD); null when MAD = 0 (≥half the
    key's values identical — no robust scale exists).

    Two exact-median aggregations (Spark `median` = interpolated
    percentile(0.5), matching the oracle's quantile_cont) + one
    broadcast join back; the outlier flag |rz| > clip rides along.
    Keys-bounded state, one fact-side shuffle only for the agg."""
    med = df.where(F.col(value_col).isNotNull()).groupBy(*keys).agg(
        F.median(value_col).alias("_med")
    )
    with_med = df.join(F.broadcast(med), keys, "left")
    mad = (
        with_med.where(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.median(F.abs(F.col(value_col) - F.col("_med"))).alias("_mad")
        )
    )
    out = with_med.join(F.broadcast(mad), keys, "left").withColumn(
        "robust_z",
        F.when(
            F.col("_mad") > 0,
            (F.col(value_col) - F.col("_med"))
            / (F.lit(1.4826) * F.col("_mad")),
        ),
    )
    return out.withColumn(
        "is_outlier",
        F.when(
            F.col("robust_z").isNotNull(), F.abs("robust_z") > clip
        ),
    ).drop("_med", "_mad")


def rolling_median(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    n_preceding: int = 9,
    order_cols: list | None = None,
) -> DataFrame:
    """Exact rolling median of the trailing `n_preceding`+1 rows per
    key — the robust smoother for spiky series (a rolling MEAN drags
    a single 100× spike through the whole window; the median ejects
    it). Nulls are excluded from the frame's population, matching the
    SQL aggregate convention; an all-null frame yields null.

    Pure expression shape: collect the BOUNDED frame into an array
    (≤ n+1 elements — O(n) state per row, never a corpus collect),
    sort it, and index the middle — interpolating even-sized
    populations exactly like percentile_cont(0.5). One shuffle on the
    key; the frame is ROWS-bounded so Spark's running-window
    machinery applies (no unbounded-following scan).

    ROWS frames are only well-defined under a total order: pass
    `order_cols` (e.g. [ts, event_id]) when (keys, ts) can repeat —
    the default [ts_col] alone would make frame contents
    nondeterministic across runs on duplicate timestamps."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*(order_cols or [ts_col]))
        .rowsBetween(-n_preceding, Window.currentRow)
    )
    arr = F.sort_array(
        F.filter(
            F.collect_list(F.col(value_col)).over(w),
            lambda x: x.isNotNull(),
        )
    )
    m = F.size(arr)
    mid_hi = F.element_at(arr, (m / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, (m / 2).cast("int"))
    med = F.when(m == 0, F.lit(None).cast("double")).otherwise(
        F.when(m % 2 == 1, F.element_at(arr, (m / 2 + 1).cast("int"))).otherwise(
            (mid_lo + mid_hi) / 2.0
        )
    )
    return df.withColumn("roll_n", m.cast("bigint")).withColumn(
        "roll_median", med
    )


def bollinger(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    n_preceding: int = 19,
    width: float = 2.0,
    order_cols: list | None = None,
) -> DataFrame:
    """Bollinger bands per key: trailing-(n+1)-row mean +/- width*sigma
    (population) and the breach side per point — the volatility-scaled
    envelope monitor (a fixed threshold fires constantly on a volatile
    series and never on a quiet one; bands scale with local sigma).

    Two aggregates over ONE bounded running ROWS frame (Spark
    evaluates both in a single window pass), one shuffle on the key.
    sigma of a constant frame is 0 — bands collapse onto the mean and
    any deviation breaches. Pass order_cols to make the frame total
    under duplicate timestamps."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*(order_cols or [ts_col]))
        .rowsBetween(-n_preceding, Window.currentRow)
    )
    mid = F.avg(value_col).over(w)
    sd = F.stddev_pop(value_col).over(w)
    out = (
        df.withColumn("bb_mid", mid)
        .withColumn("bb_up", mid + F.lit(width) * sd)
        .withColumn("bb_dn", mid - F.lit(width) * sd)
    )
    return out.withColumn(
        "bb_breach",
        F.when(F.col(value_col).isNull(), F.lit(None).cast("int"))
        .when(F.col(value_col) > F.col("bb_up"), F.lit(1))
        .when(F.col(value_col) < F.col("bb_dn"), F.lit(-1))
        .otherwise(F.lit(0)),
    )


def corr_matrix(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Pairwise Pearson correlation between every two series over
    their COMMON `trunc` buckets — the co-movement matrix behind
    'which metrics move together' dashboards and redundancy pruning
    (ccf answers lag structure for a chosen pair; this screens all
    pairs at lag 0 to find the ones worth a ccf). Emits each
    unordered pair once (a < b) with the common-bucket count.

    Shapes: ONE bucket agg over raw rows (corpus-sized, map-side
    combined), then an equi-join of the buckets-bounded series frames
    ON BUCKET and a per-pair algebraic agg — series^2 x buckets-
    bounded, never corpus-sized. Pairs with <2 common buckets or a
    constant side emit null."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    kid = F.concat_ws("", *keys)
    a = b.select(kid.alias("ka"), "ep", F.col("v").alias("x"))
    bb = b.select(kid.alias("kb"), "ep", F.col("v").alias("y"))
    j = a.join(bb, "ep").where(F.col("ka") < F.col("kb"))
    agg = j.groupBy("ka", "kb").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "ka",
        "kb",
        "n",
        F.when(
            (F.col("n") >= 2) & (dx > 0) & (dy > 0),
            num / F.sqrt(dx * dy),
        ).alias("pearson_r"),
    )


def ewma_irregular(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    halflife_s: float = 3600.0,
    order_cols: list | None = None,
) -> DataFrame:
    """Time-aware EWMA for IRREGULARLY sampled series: the smoothing
    weight adapts to the actual gap,

        w_t = 2^(-dt_t / halflife),  l_t = w_t*l_{t-1} + (1-w_t)*x_t

    so a point arriving after 2 half-lives discounts the old level to
    a quarter while a burst of closely-spaced points barely moves it —
    the semantics pandas ewm(halflife=, times=) implements and the
    fixed-alpha EWMA (with_ewma) gets wrong on gappy data (it treats
    a 1-second and a 1-day gap identically).

    The gap-dependent weight breaks every finite-horizon or
    prefix-product rewrite (the products underflow at real series
    lengths), so this is the sanctioned sequential path: one Arrow
    applyInPandas stage, ONE shuffle on the key, per-group state =
    the key's own series. Init l_1 = x_1; null values are dropped
    first; timestamps are consumed in (ts, order_cols) order."""
    pts = df.where(F.col(value_col).isNotNull())
    extra = [c for c in (order_cols or []) if c != ts_col]
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pts.select(*keys, *extra).schema.fields
    )
    ts_type = dict(df.dtypes)[ts_col]
    schema = f"{key_fields}, {ts_col} {ts_type}, v double, ewma double"
    order = [ts_col, *extra]

    def _ewma(pdf):
        import numpy as np

        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        t = (
            pdf[ts_col].to_numpy().astype("datetime64[us]").astype("int64")
            / 1e6
        )
        x = pdf[value_col].to_numpy(dtype="float64")
        n = len(x)
        lvl = np.empty(n)
        if n:
            lvl[0] = x[0]
            for i in range(1, n):
                w = 2.0 ** (-(t[i] - t[i - 1]) / halflife_s)
                lvl[i] = w * lvl[i - 1] + (1.0 - w) * x[i]
        out = pdf[[*keys, *extra, ts_col]].copy()
        out["v"] = x
        out["ewma"] = lvl
        return out

    return pts.groupBy(*keys).applyInPandas(_ewma, schema=schema)


def holt_winters(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    period: int = 24,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per key over the
    `trunc`-bucketed series — level + trend + a period-P seasonal
    state, the classic forecaster for daily-cycle metrics that Holt
    linear (no seasonal term) systematically lags every morning peak.

        l_t = a*(y_t - s_{t-P}) + (1-a)*(l_{t-1} + b_{t-1})
        b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
        s_t = g*(y_t - l_t)     + (1-g)*s_{t-P}
        fitted_t = l_{t-1} + b_{t-1} + s_{t-P}

    Pinned init (mirrored exactly by the cross-engine recursive-CTE
    oracle, which carries the seasonal vector as a LIST): with m1/m2
    the means of the first/second period, l = m1, b = (m2-m1)/P,
    s_i = y_i - m1 over the first period; smoothing starts at bucket
    P+1 (1-based), and only those buckets are emitted. Keys shorter
    than 2 periods emit nothing (insufficient data to initialize —
    fail-silent per key, count your output). Buckets are consumed in
    epoch order as CONSECUTIVE steps (gap rule = none, as holt_linear).
    alpha/beta/gamma default to binary-exact doubles.

    Shapes: ONE bucket agg, ONE key shuffle into the Arrow stage,
    O(buckets + P) state per key."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in b.select(*keys).schema.fields
    )
    schema = (
        f"{key_fields}, ep bigint, v double, level double, trend double, "
        "seasonal double, fitted double"
    )
    P = period

    def _hw(pdf):
        import numpy as np

        pdf = pdf.sort_values("ep").reset_index(drop=True)
        y = pdf["v"].to_numpy(dtype="float64")
        n = len(y)
        if n < 2 * P:
            return pdf.iloc[0:0][[*keys]].assign(
                ep=np.array([], dtype="int64"),
                v=np.array([], dtype="float64"),
                level=np.array([], dtype="float64"),
                trend=np.array([], dtype="float64"),
                seasonal=np.array([], dtype="float64"),
                fitted=np.array([], dtype="float64"),
            )
        m1 = y[:P].mean()
        m2 = y[P : 2 * P].mean()
        lvl = m1
        trd = (m2 - m1) / P
        s = list(y[:P] - m1)
        out_rows = []
        for t in range(P, n):
            s_old = s[0]
            fit = lvl + trd + s_old
            l_new = alpha * (y[t] - s_old) + (1.0 - alpha) * (lvl + trd)
            trd = beta * (l_new - lvl) + (1.0 - beta) * trd
            s_new = gamma * (y[t] - l_new) + (1.0 - gamma) * s_old
            s = s[1:] + [s_new]
            lvl = l_new
            out_rows.append((t, lvl, trd, s_new, fit))
        idx = [r[0] for r in out_rows]
        out = pdf.iloc[idx][[*keys, "ep", "v"]].copy()
        out["level"] = [r[1] for r in out_rows]
        out["trend"] = [r[2] for r in out_rows]
        out["seasonal"] = [r[3] for r in out_rows]
        out["fitted"] = [r[4] for r in out_rows]
        return out

    return b.groupBy(*keys).applyInPandas(_hw, schema=schema)


def sliding_window_stats(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    window_s: int = 3600,
) -> DataFrame:
    """Trailing time-RANGE aggregates per point: count / sum / mean of
    everything in the last `window_s` seconds INCLUDING the current
    row — the rate-limiter / rolling-SLA shape ('requests in the past
    hour as of each event'). This is a RANGE frame keyed on the event
    TIME, not a ROWS frame: ten events in one second all see each
    other; a ROWS-10 frame would not, and a bucketed rollup quantizes
    the trailing edge to bucket boundaries.

    One shuffle on the key; Spark evaluates the moving frame in a
    single sorted pass with an O(window) sliding state (rows enter
    and leave monotonically). Ordering is by epoch MICROSECONDS
    (RANGE needs one numeric sort key, and integer micros make the
    frame edge exact — second-truncated keys silently shift the edge
    for sub-second timestamps); same-timestamp rows share identical
    frames by definition of RANGE, so no tie-break is needed for
    determinism."""
    ep = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(ep.alias("_ep"))
        .rangeBetween(-window_s * 1_000_000, Window.currentRow)
    )
    return (
        df.withColumn("win_n", F.count(value_col).over(w).cast("bigint"))
        .withColumn("win_sum", F.sum(value_col).over(w))
        .withColumn("win_mean", F.avg(value_col).over(w))
    )


def winsorized_mean(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Winsorized rollup: per (key, bucket), clamp values to that
    bucket's own [p_lo, p_hi] exact percentiles, then average — the
    robust mean that keeps outliers' VOTES but caps their LEVERAGE
    (trimming discards them entirely; plain mean lets one 1000x spike
    own the bucket). Emits the plain mean alongside so the
    contamination delta is visible per bucket.

    Two-pass shape: an exact-percentile agg per (key, bucket) —
    interpolated, matching quantile_cont — broadcast back onto the
    facts (buckets-bounded frame), then the same one-shuffle bucket
    agg as rollup. Buckets with < 2 values clamp to themselves
    (p05 = p95 = the value)."""
    b = F.date_trunc(trunc, F.col(ts_col)).alias("window_start")
    pts = df.where(F.col(value_col).isNotNull()).select(
        *keys, b, F.col(value_col).alias("_v")
    )
    cuts = pts.groupBy(*keys, "window_start").agg(
        F.percentile("_v", p_lo).alias("_lo"),
        F.percentile("_v", p_hi).alias("_hi"),
    )
    clamped = pts.join(F.broadcast(cuts), [*keys, "window_start"]).withColumn(
        "_w", F.greatest(F.least(F.col("_v"), F.col("_hi")), F.col("_lo"))
    )
    return clamped.groupBy(*keys, "window_start").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.avg("_w").alias("win_mean"),
        F.avg("_v").alias("raw_mean"),
        F.first("_lo").alias("p_lo"),
        F.first("_hi").alias("p_hi"),
    )


def spearman_matrix(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Pairwise SPEARMAN rank correlation between series over their
    common `trunc` buckets — corr_matrix's robust twin: invariant to
    monotone transforms and immune to the single-outlier-bucket that
    drags a Pearson r (one 100x hour can fabricate r=0.9; ranks cap
    it at one step). Proper per-pair semantics: values are re-ranked
    WITHIN each pair's common-bucket frame (not globally), ties get
    the textbook average rank (min-rank + (peers-1)/2), then the
    five-sum Pearson runs on the ranks.

    Shapes: one corpus-sized bucket agg; the pair join and both
    ranking windows are series^2 x buckets-bounded. Pairs with <2
    common buckets or an all-tied side emit null. The bucket agg
    feeds TWO join branches (Spark re-executes it per branch): at
    corpus scale pass the materialized tier (finish(t1h) means) as
    `df` so the re-executed input is buckets-bounded, not raw."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    kid = F.concat_ws("", *keys)
    a = b.select(kid.alias("ka"), "ep", F.col("v").alias("x"))
    bb = b.select(kid.alias("kb"), "ep", F.col("v").alias("y"))
    j = a.join(bb, "ep").where(F.col("ka") < F.col("kb"))
    wx = Window.partitionBy("ka", "kb").orderBy("x")
    wy = Window.partitionBy("ka", "kb").orderBy("y")
    wtx = Window.partitionBy("ka", "kb", "x")
    wty = Window.partitionBy("ka", "kb", "y")
    ranked = j.select(
        "ka",
        "kb",
        (F.rank().over(wx) + (F.count("*").over(wtx) - 1) / 2.0).alias("rx"),
        (F.rank().over(wy) + (F.count("*").over(wty) - 1) / 2.0).alias("ry"),
    )
    agg = ranked.groupBy("ka", "kb").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "ka",
        "kb",
        "n",
        F.when(
            (F.col("n") >= 2) & (dx > 0) & (dy > 0), num / F.sqrt(dx * dy)
        ).alias("spearman_rho"),
    )


def theil_sen(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    per: str = "day",
) -> DataFrame:
    """Theil-Sen robust trend per (key, `per` bucket): the MEDIAN of
    all pairwise slopes between the window's `trunc` sub-bucket means
    — the 29%-breakdown slope estimator (OLS trend hands one wild
    hour the full lever arm; the pairwise-slope median shrugs it
    off). Emitted in units/hour.

    Shapes: the pairwise self-join runs WITHIN each (key, per) group
    only — at hourly sub-buckets per day that is <= C(24,2) = 276
    pairs per group, bounded by the calendar, never by corpus rows;
    the exact median is per-group. Groups with <2 sub-buckets emit
    null."""
    w = F.date_trunc(per, F.col(ts_col)).alias("w")
    sub = _buckets(df, [*keys, w], ts_col, value_col, trunc)
    l = sub.select(*keys, "w", F.col("ep").alias("e1"), F.col("v").alias("v1"))
    r = sub.select(*keys, "w", F.col("ep").alias("e2"), F.col("v").alias("v2"))
    pairs = l.join(r, [*keys, "w"]).where(F.col("e1") < F.col("e2"))
    slopes = pairs.withColumn(
        "_s", (F.col("v2") - F.col("v1")) / ((F.col("e2") - F.col("e1")) / 3600.0)
    )
    out = slopes.groupBy(*keys, "w").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.median("_s").alias("slope_per_h"),
    )
    nb = sub.groupBy(*keys, "w").agg(F.count("*").cast("bigint").alias("n_buckets"))
    return nb.join(out, [*keys, "w"], "left").select(
        *keys,
        F.col("w").alias("window_start"),
        "n_buckets",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        "slope_per_h",
    )


def decompose(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    half_window: int = 12,
) -> DataFrame:
    """Classical seasonal decomposition (STL-lite) per key at `trunc`
    buckets: value = trend + seasonal + residual.

    - trend: CENTERED moving average over +/- half_window buckets,
      null unless the frame is FULL (2w+1 buckets) — partial-edge
      averages masquerading as trend are the classic decomposition
      bug, so edges are explicit nulls instead;
    - seasonal: hour-of-day mean of the detrended series per key,
      RE-CENTERED to sum to zero over the 24 profile slots (otherwise
      the profile absorbs level and residuals lie);
    - residual: what neither explains — the anomaly feed (a residual
      spike is a real event; a seasonal spike is just 9am).

    Shapes: one bucket agg; one bounded centered ROWS frame; the
    24-slot profile is keys-bounded and broadcast back. Everything
    after the bucket agg is buckets-bounded. The detrended frame
    feeds both the profile agg and the output join (two branches →
    the upstream agg re-executes): decompose a materialized TIER at
    corpus scale so the re-executed input is buckets-bounded."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    w = (
        Window.partitionBy(*keys)
        .orderBy("ep")
        .rowsBetween(-half_window, half_window)
    )
    full = F.count("*").over(w) == (2 * half_window + 1)
    t = b.withColumn("trend", F.when(full, F.avg("v").over(w)))
    det = t.withColumn("detr", F.col("v") - F.col("trend"))
    hod = F.hour(F.timestamp_seconds(F.col("ep")))
    prof = (
        det.where(F.col("detr").isNotNull())
        .groupBy(*keys, hod.alias("hod"))
        .agg(F.avg("detr").alias("s_raw"))
    )
    pm = prof.groupBy(*keys).agg(F.avg("s_raw").alias("s_mean"))
    prof_c = prof.join(F.broadcast(pm), keys).select(
        *keys, "hod", (F.col("s_raw") - F.col("s_mean")).alias("seasonal")
    )
    out = det.withColumn("hod", hod).join(
        F.broadcast(prof_c), [*keys, "hod"], "left"
    )
    return out.select(
        *keys,
        "ep",
        "v",
        "trend",
        "seasonal",
        (F.col("v") - F.col("trend") - F.col("seasonal")).alias("residual"),
    )


def ks_drift(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "day",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between each
    `trunc` window and its immediate predecessor, per series — the
    distribution-shift alarm behind "did this source's value profile
    change overnight": KS = max over pooled distinct values of
    |ECDF_prev − ECDF_cur| (the standard ties-aware form; each ECDF
    steps by multiplicity/n at its own sample's values).

    Shapes: each row participates in exactly TWO comparisons (as
    `cur` of its own window, as `prev` of the next), expressed as a
    2× union projection — no self-join of the raw table. One
    map-side-combined count agg collapses the union to distinct
    (key, window, value) rows; the ECDF cumulative window then runs
    over that DISTINCT-VALUES-bounded frame, never the corpus, so
    per-task sort volume is |distinct values in two adjacent windows|
    regardless of row count. Windows missing either side are dropped
    (a KS against an empty sample is undefined, not 1.0). All
    arithmetic is IEEE-exact on integer counts (two divisions, one
    subtraction, max) — cross-engine bit-identical, no rounding
    tolerance needed.
    """
    step = {
        "minute": "INTERVAL 1 MINUTE",
        "hour": "INTERVAL 1 HOUR",
        "day": "INTERVAL 1 DAY",
    }[trunc]
    base = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        F.date_trunc(trunc, F.col(ts_col)).alias("w"),
        F.col(value_col).alias("v"),
    )
    cur = base.select(
        *keys, F.col("w").alias("cw"), F.lit(1).alias("is_cur"), "v"
    )
    prev = base.select(
        *keys,
        (F.col("w") + F.expr(step)).alias("cw"),
        F.lit(0).alias("is_cur"),
        "v",
    )
    counts = (
        cur.unionByName(prev)
        .groupBy(*keys, "cw", "v")
        .agg(
            F.sum("is_cur").alias("c_cur"),
            F.sum(F.lit(1) - F.col("is_cur")).alias("c_prev"),
        )
    )
    part = Window.partitionBy(*keys, "cw")
    ordw = part.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_cur = F.sum("c_cur").over(part)
    n_prev = F.sum("c_prev").over(part)
    # try_divide: windows missing one side (first/last window of a
    # series) hit n=0 before the >0 filter below can drop them —
    # under ANSI mode a plain `/` would fail the whole job there.
    d = F.abs(
        F.try_divide(F.sum("c_cur").over(ordw), n_cur)
        - F.try_divide(F.sum("c_prev").over(ordw), n_prev)
    )
    return (
        counts.select(
            *keys,
            "cw",
            d.alias("d"),
            n_cur.alias("n_cur"),
            n_prev.alias("n_prev"),
        )
        .groupBy(*keys, "cw")
        .agg(
            F.max("n_prev").cast("bigint").alias("n_prev"),
            F.max("n_cur").cast("bigint").alias("n_cur"),
            F.max("d").alias("ks_stat"),
        )
        .where((F.col("n_prev") > 0) & (F.col("n_cur") > 0))
        .withColumnRenamed("cw", "window_start")
    )


def psi_drift(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "day",
    lo: float = 0.0,
    hi: float = 500.0,
    nbins: int = 20,
    smooth: float = 0.5,
) -> DataFrame:
    """Population Stability Index between each `trunc` window and its
    predecessor, per series: PSI = Σ_b (p_cur − p_prev)·ln(p_cur/p_prev)
    over fixed width_bucket(lo, hi, nbins) value buckets, with additive
    smoothing p = (c + smooth)/(n + smooth·B) (B = buckets observed in
    the pooled pair) so empty-on-one-side buckets contribute a finite
    penalty instead of ±inf. The credit-risk-standard drift score:
    <0.1 stable, 0.1–0.25 shifting, >0.25 alarm.

    Shapes: same 2×-union trick as ks_drift, but collapsed to AT MOST
    nbins+2 buckets per comparison before any window/agg — the
    post-union agg is map-side combined (bucket keys repeat heavily
    within every input partition), and the per-comparison frame is
    O(nbins), so the second stage is negligible at any corpus size.
    ln() is the one transcendental (engines may differ in final-ulp);
    consumers hash at e6 after summing ≤ nbins+2 terms — safe.
    """
    step = {
        "minute": "INTERVAL 1 MINUTE",
        "hour": "INTERVAL 1 HOUR",
        "day": "INTERVAL 1 DAY",
    }[trunc]
    base = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        F.date_trunc(trunc, F.col(ts_col)).alias("w"),
        F.width_bucket(
            value_col, F.lit(float(lo)), F.lit(float(hi)), F.lit(nbins)
        ).alias("bucket"),
    )
    cur = base.select(
        *keys, F.col("w").alias("cw"), F.lit(1).alias("is_cur"), "bucket"
    )
    prev = base.select(
        *keys,
        (F.col("w") + F.expr(step)).alias("cw"),
        F.lit(0).alias("is_cur"),
        "bucket",
    )
    counts = (
        cur.unionByName(prev)
        .groupBy(*keys, "cw", "bucket")
        .agg(
            F.sum("is_cur").alias("c_cur"),
            F.sum(F.lit(1) - F.col("is_cur")).alias("c_prev"),
        )
    )
    part = Window.partitionBy(*keys, "cw")
    n_cur = F.sum("c_cur").over(part)
    n_prev = F.sum("c_prev").over(part)
    nb = F.count("*").over(part)
    p_cur = (F.col("c_cur") + F.lit(smooth)) / (n_cur + F.lit(smooth) * nb)
    p_prev = (F.col("c_prev") + F.lit(smooth)) / (n_prev + F.lit(smooth) * nb)
    term = (p_cur - p_prev) * F.log(p_cur / p_prev)
    return (
        counts.select(
            *keys,
            "cw",
            term.alias("term"),
            n_cur.alias("n_cur"),
            n_prev.alias("n_prev"),
        )
        .groupBy(*keys, "cw")
        .agg(
            F.max("n_prev").cast("bigint").alias("n_prev"),
            F.max("n_cur").cast("bigint").alias("n_cur"),
            F.sum("term").alias("psi"),
        )
        .where((F.col("n_prev") > 0) & (F.col("n_cur") > 0))
        .withColumnRenamed("cw", "window_start")
    )


def completeness(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    trunc: str = "hour",
) -> DataFrame:
    """Grid-slot completeness per (keys, UTC day): of the `trunc`
    slots a series SHOULD have while active (its global [first, last]
    slot span, clipped to each day), how many actually contain data —
    the data-SLA number a tier engine alerts and backfills on. Days
    inside the span with ZERO data are emitted (coverage 0), which is
    the whole point: absence is the alarm, and a groupBy over present
    rows can never produce it — the day spine comes from a
    per-series sequence() explode instead.

    Shapes: ONE corpus-sized distinct on (keys, slot) — everything
    after runs on series×slots / series×days frames (span agg, spine
    explode, a left join that AQE broadcasts at any corpus size since
    both sides are calendar-bounded). All slot/day math is integer
    epoch arithmetic, cross-engine exact; coverage is a ratio of small
    ints (IEEE-exact)."""
    if trunc not in ("minute", "hour"):
        raise ValueError(
            f"completeness: trunc must be 'minute' or 'hour', got {trunc!r}"
        )
    step = C.TRUNC_S[trunc]
    slot = F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col)))
    slots = df.select(*keys, slot.alias("slot")).distinct()
    present = (
        slots.withColumn("day", F.col("slot") - F.col("slot") % 86400)
        .groupBy(*keys, "day")
        .agg(F.count("*").cast("bigint").alias("slots_present"))
    )
    span = slots.groupBy(*keys).agg(
        F.min("slot").alias("s0"), F.max("slot").alias("s1")
    )
    days = span.select(
        *keys,
        "s0",
        "s1",
        F.explode(
            F.sequence(
                F.col("s0") - F.col("s0") % 86400,
                F.col("s1") - F.col("s1") % 86400,
                F.lit(86400),
            )
        ).alias("day"),
    )
    lo = F.greatest(F.col("day"), F.col("s0"))
    hi = F.least(F.col("day") + F.lit(86400 - step), F.col("s1"))
    expected = (F.floor((hi - lo) / F.lit(step)) + 1).cast("bigint")
    out = days.join(present, [*keys, "day"], "left")
    return out.select(
        *keys,
        F.timestamp_seconds("day").alias("day_ts"),
        expected.alias("slots_expected"),
        F.coalesce(F.col("slots_present"), F.lit(0)).cast("bigint").alias(
            "slots_present"
        ),
        (
            F.coalesce(F.col("slots_present"), F.lit(0)) / expected
        ).alias("coverage"),
    )


def pettitt(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Pettitt rank-based changepoint test per key over the
    `trunc`-bucketed series — the nonparametric single-changepoint
    locator (CUSUM's distribution-free sibling: no mean/σ model, so a
    heavy-tailed series can't fake or mask a shift).

    U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j) is NOT computed as the O(n²)
    double sum: with midranks m_i it collapses to the exact identity
    U_t = Σ_{i≤t} (2·m_i) − t·(n+1), and 2·m_i = 2·rank + ties − 1 is
    an INTEGER (rank = competition rank, ties = count of equal
    values), so the whole statistic is integer-exact cross-engine —
    two window passes (one rank shuffle on (key, value) order, one
    cumulative sum in time order), no self-join anywhere.

    Output per key: n buckets, K = max_{1≤t<n} |U_t|, the earliest
    epoch achieving K (pinned tie rule), and the asymptotic
    p ≈ min(1, 2·exp(−6K²/(n³+n²))) — integer-argument exp, rounded
    e6. Keys with n < 2 have no interior split and are dropped."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    wk = Window.partitionBy(*keys)
    r = b.select(
        *keys,
        "ep",
        (
            2 * F.rank().over(wk.orderBy("v"))
            + F.count("*").over(Window.partitionBy(*keys, "v"))
            - 1
        ).alias("m2"),
        F.count("*").over(wk).alias("n"),
    )
    wt = wk.orderBy("ep").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u = r.select(
        *keys,
        "ep",
        "n",
        (
            F.sum("m2").over(wt)
            - F.row_number().over(wk.orderBy("ep")) * (F.col("n") + 1)
        ).alias("u_t"),
        F.row_number().over(wk.orderBy("ep")).alias("t"),
    ).where(F.col("t") < F.col("n"))
    k = u.groupBy(*keys).agg(
        F.max("n").alias("n"), F.max(F.abs("u_t")).alias("k_stat")
    )
    at_max = u.drop("n").join(k, keys).where(F.abs("u_t") == F.col("k_stat"))
    kd = F.col("n").cast("double")
    p = F.least(
        F.lit(1.0),
        2.0
        * F.exp(
            -6.0 * F.col("k_stat") * F.col("k_stat") / (kd * kd * kd + kd * kd)
        ),
    )
    return at_max.groupBy(*keys).agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("k_stat").cast("bigint").alias("k_stat"),
        F.min("ep").cast("bigint").alias("cp_ep"),
        F.round(F.max(p) * 1e6).cast("bigint").alias("p_e6"),
    )


def interval_coverage(
    df: DataFrame,
    keys: list[str],
    start_col: str = "start_s",
    end_col: str = "end_s",
    trunc_s: int = 86400,
) -> DataFrame:
    """Union length of (possibly overlapping) half-open intervals
    [start, end) per (key, bucket-of-start) — the uptime / SLA-credit
    primitive where naive sum(duration) double-counts overlaps.

    Gaps-and-islands WITHOUT a self-join: sorted by start, the running
    max of prior ends tells each interval exactly how many new seconds
    it contributes — greatest(0, e − greatest(s, cummax_prev_e)) —
    one window pass, one shuffle on (key, bucket). Touching intervals
    ([0,5) then [5,8)) merge into one island (pinned rule: a new
    island starts iff s > running-end, strict). An interval belongs
    ENTIRELY to the bucket of its start (pinned; cross-bucket spill
    is credited to the start bucket — the alternative, clipping at
    bucket edges, is a different operator, not a bugfix of this one).
    All arithmetic on integer epoch seconds: cross-engine exact."""
    s, e = F.col(start_col), F.col(end_col)
    iv = df.select(
        *keys,
        (s - s % F.lit(trunc_s)).alias("bucket_ep"),
        s.alias("_s"),
        e.alias("_e"),
    ).where(e > s)
    w = (
        Window.partitionBy(*keys, "bucket_ep")
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = iv.withColumn("_pe", F.max("_e").over(w))
    new_cov = F.greatest(
        F.lit(0).cast("long"),
        F.col("_e") - F.greatest(F.col("_s"), F.coalesce("_pe", F.col("_s"))),
    )
    island = F.when(
        F.col("_pe").isNull() | (F.col("_s") > F.col("_pe")), 1
    ).otherwise(0)
    return g.groupBy(*keys, "bucket_ep").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum(new_cov).cast("bigint").alias("covered_s"),
        F.sum(island).cast("bigint").alias("n_islands"),
    )


#: chi-square 0.95 quantiles for df = 1..10 (public table values) —
#: the Ljung-Box alarm thresholds when h lags are summed.
CHI2_95 = {
    1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070,
    6: 12.592, 7: 14.067, 8: 15.507, 9: 16.919, 10: 18.307,
}


def ljung_box(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "minute",
    max_lag: int = 5,
) -> DataFrame:
    """Ljung-Box portmanteau whiteness test per key, composed on the
    GAP-CORRECT acf: Q = n(n+2)·Σ_{j≤h} ρ_j²/(n−j) with n = bucket
    count and ρ_j the epoch-paired Pearson ACF (a null ρ_j — too few
    pairs or zero variance — drops its term and shrinks h; pinned).
    alarm = Q > χ²₀.₉₅(h): residuals that still carry autocorrelation
    after a model/detrend step fail here long before a human eyeballs
    a lag plot.

    Cost on top of acf: one buckets-bounded count agg and one
    (keys × max_lag) → keys re-agg. No new corpus-sized work."""
    if max_lag > len(CHI2_95):
        raise ValueError(f"ljung_box: max_lag > {len(CHI2_95)} needs a bigger χ² table")
    a = acf(df, keys, ts_col, value_col, trunc, max_lag)
    n = (
        df.where(F.col(value_col).isNotNull())
        .select(
            *keys,
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("_ep"),
        )
        .distinct()
        .groupBy(*keys)
        .agg(F.count("*").alias("n"))
    )
    terms = a.join(F.broadcast(n), keys).where(
        F.col("acf").isNotNull() & (F.col("n") > F.col("lag"))
    )
    nd = F.col("n").cast("double")
    q = F.sum(
        F.col("acf") * F.col("acf") / (nd - F.col("lag"))
    )
    crit = F.array(
        *[F.lit(CHI2_95[h]) for h in sorted(CHI2_95)]
    )
    out = terms.groupBy(*keys).agg(
        F.max("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("h"),
        (F.max(nd) * (F.max(nd) + 2) * q).alias("q_lb"),
    )
    return out.withColumn(
        "alarm", F.col("q_lb") > F.get(crit, (F.col("h") - 1).cast("int"))
    )


def permutation_entropy(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    order_cols: list[str] | None = None,
    trunc: str = "day",
) -> DataFrame:
    """Permutation entropy (order m = 3, lag 1) per (key, `trunc`
    bucket) — the model-free complexity gauge: ordinal patterns of
    consecutive value triples, H = −Σ p·ln p over the pattern
    distribution, normalized by ln 6. A sine sweep scores near 0, iid
    noise near 1, and a regime change moves it bucket-over-bucket.

    Pinned rules: null values are removed BEFORE tripling (triples
    span the non-null subsequence); a triple anchors at its FIRST
    element's bucket and may span a bucket edge; ties use the
    27-code ordinal alphabet code = (sgn(v₁−v₀)+1)·9 +
    (sgn(v₂−v₁)+1)·3 + (sgn(v₂−v₀)+1) (strict-order data uses 6 of
    the 27; ties are first-class codes, not broken arbitrarily), so
    normalization stays ln 6 of the tie-free alphabet. H is computed
    as ln n − (Σ c·ln c)/n — one two-level count agg, integer counts.

    Shapes: two lead() columns over ONE per-key time-order window
    (order_cols break duplicate-ts ties deterministically), then
    (keys × buckets × ≤27)-bounded aggs. At 100 TB the per-key window
    is the skew point — same contract as every per-series window op
    in this module: series are the unit of parallelism."""
    oc = order_cols or []
    base = df.where(F.col(value_col).isNotNull())
    w = Window.partitionBy(*keys).orderBy(ts_col, *oc)
    v0 = F.col(value_col)
    v1 = F.lead(value_col, 1).over(w)
    v2 = F.lead(value_col, 2).over(w)
    code = (
        (F.signum(v1 - v0) + 1) * 9
        + (F.signum(v2 - v1) + 1) * 3
        + (F.signum(v2 - v0) + 1)
    ).cast("int")
    triples = base.select(
        *keys,
        F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias(
            "bucket_ep"
        ),
        code.alias("_code"),
        v1.alias("_v1"),
        v2.alias("_v2"),
    ).where(F.col("_v1").isNotNull() & F.col("_v2").isNotNull())
    cnt = triples.groupBy(*keys, "bucket_ep", "_code").agg(
        F.count("*").alias("c")
    )
    out = cnt.groupBy(*keys, "bucket_ep").agg(
        F.sum("c").cast("bigint").alias("n_triples"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("_clnc"),
    )
    h = F.log(F.col("n_triples").cast("double")) - F.col("_clnc") / F.col(
        "n_triples"
    )
    return out.select(
        *keys,
        "bucket_ep",
        "n_triples",
        h.alias("pe"),
        (h / F.log(F.lit(6.0))).alias("pe_norm"),
    )


def _dtw_ref(a, b):
    """Reference DTW (|·| cost, full window) — row-major DP, the same
    cell order the SQL oracle's recursive CTE walks. numpy-free so the
    recurrence is plain IEEE double ops in a fixed order."""
    na, nb = len(a), len(b)
    prev = None
    cur = [0.0] * nb
    for i in range(na):
        for j in range(nb):
            c = abs(a[i] - b[j])
            if i == 0 and j == 0:
                cur[j] = c
            elif i == 0:
                cur[j] = c + cur[j - 1]
            elif j == 0:
                cur[j] = c + prev[0]
            else:
                cur[j] = c + min(prev[j], prev[j - 1], cur[j - 1])
        prev, cur = cur, [0.0] * nb
    return prev[nb - 1]


def dtw_daily(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
) -> DataFrame:
    """Dynamic-time-warping distance between each day's hourly profile
    and the previous day's, per key — the shape-aware day-over-day
    drift score (a profile shifted two hours by a DST bug or a late
    batch scores NEAR ZERO here but large under point-wise L1; a
    genuinely different shape scores large under both).

    Pinned rules: the day vector is the time-ordered sequence of
    PRESENT hourly means (gaps shrink the vector, never zero-fill),
    each mean E6-ROUNDED before the DP — rounding makes the vectors
    bit-identical cross-engine, after which the O(na·nb) recurrence
    dtw[i,j] = |a_i−b_j| + min(up, diag, left) is a fixed sequence of
    IEEE ops both engines replay exactly (the oracle walks the same
    row-major order in a recursive CTE). Full window, |·| cost.

    Shapes: one corpus-sized hourly agg; day vectors are a ≤24-element
    collect per (key, day) — bounded, never a corpus collect; the
    prev↔cur pairing is the ks_drift epoch-shift equi-join; the DP is
    a scalar Arrow pandas_udf over two ≤24-vectors — row-local,
    embarrassingly parallel, ~10³ flops per day-pair."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dtw_udf(va, vb):
        return pd.Series(
            [
                _dtw_ref(list(map(float, a)), list(map(float, b)))
                for a, b in zip(va, vb)
            ]
        )

    hourly = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            *keys,
            F.unix_timestamp(F.date_trunc("day", F.col(ts_col))).alias(
                "day_ep"
            ),
            F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))).alias(
                "_hr"
            ),
        )
        .agg((F.round(F.avg(value_col) * 1e6) / 1e6).alias("_v"))
    )
    vec = hourly.groupBy(*keys, "day_ep").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_hr", "_v"))),
            lambda s: s["_v"],
        ).alias("vec")
    )
    prev = vec.select(
        *keys,
        (F.col("day_ep") + 86400).alias("day_ep"),
        F.col("vec").alias("_va"),
    )
    cur = vec.select(*keys, "day_ep", F.col("vec").alias("_vb"))
    paired = cur.join(prev, [*keys, "day_ep"])
    return paired.select(
        *keys,
        "day_ep",
        F.size("_va").cast("bigint").alias("n_prev"),
        F.size("_vb").cast("bigint").alias("n_cur"),
        _dtw_udf("_va", "_vb").alias("dtw"),
    )


def spectral_power(
    df: DataFrame,
    keys: list[str],
    periods_s: list[int],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Spectral power of each key's `trunc`-bucketed series at FIXED
    periods (e.g. 24 h, 12 h) — the seasonality-strength probe that
    answers "does this source actually have a daily cycle?" without
    an FFT: for one known frequency the DFT projection is just two
    weighted sums, S = Σ v̂·sin(2π·ep/P) and C = Σ v̂·cos(·), power =
    (S² + C²)/n², amplitude = 2·√(S²+C²)/n.

    Pinned rules: v̂ is DEMEANED per key (otherwise DC leaks into
    every non-integer-cycle window); the phase is computed on the
    bucket epoch directly (gaps simply contribute no term — the same
    gap-correctness stance as acf, not a resampled FFT's implicit
    zero-fill). One bucket agg + one broadcast mean join + one
    (keys × periods)-bounded agg; sin/cos are ~1-ulp libm calls on
    identical inputs, drowned by the e6 grain after summation."""
    import math

    b = _buckets(df, keys, ts_col, value_col, trunc)
    mu = b.groupBy(*keys).agg(F.avg("v").alias("_mu"))
    d = b.join(F.broadcast(mu), keys).select(
        *keys,
        "ep",
        (F.col("v") - F.col("_mu")).alias("_vd"),
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in periods_s])
        ).alias("period_s"),
    )
    ph = (
        F.lit(2.0 * math.pi)
        * (F.col("ep") % F.col("period_s"))
        / F.col("period_s")
    )
    agg = d.groupBy(*keys, "period_s").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("_vd") * F.sin(ph)).alias("_s"),
        F.sum(F.col("_vd") * F.cos(ph)).alias("_c"),
    )
    nd = F.col("n").cast("double")
    mag2 = F.col("_s") * F.col("_s") + F.col("_c") * F.col("_c")
    return agg.select(
        *keys,
        "period_s",
        "n",
        (mag2 / (nd * nd)).alias("power"),
        (F.lit(2.0) * F.sqrt(mag2) / nd).alias("amplitude"),
    )


def interarrival_stats(
    df: DataFrame,
    keys: list[str],
    user_col: str,
    ts_col: str = "event_ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Inter-arrival gap distribution per key, pooled across users:
    each user's consecutive-event gaps (whole seconds), then exact
    interpolated p50/p95 and the max per key — the arrival-process
    fingerprint behind heartbeat SLAs and session-gap tuning.

    One window pass partitioned by (key, user) — the NATURAL
    parallelism unit (millions of users ⇒ millions of small
    partitions, no giant per-key sort), then one keys-bounded agg.
    Gaps are integer epoch-second differences (cross-engine exact);
    the percentiles are ratios/interpolations of those integers.
    order_cols break duplicate-timestamp ties deterministically."""
    oc = order_cols or []
    w = Window.partitionBy(*keys, user_col).orderBy(ts_col, *oc)
    ep = F.unix_timestamp(F.col(ts_col))
    gap = ep - F.lag(ep).over(w)
    g = df.select(*keys, gap.alias("_gap")).where(F.col("_gap").isNotNull())
    return g.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.percentile("_gap", F.lit(0.5)).alias("p50_s"),
        F.percentile("_gap", F.lit(0.95)).alias("p95_s"),
        F.max("_gap").cast("bigint").alias("max_s"),
    )


def hurst_rs(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    sizes: tuple = (8, 16, 32),
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis per key over
    the `trunc`-bucketed series — the long-memory diagnostic (H ≈ 0.5
    memoryless, H > 0.5 persistent/trending, H < 0.5 mean-reverting;
    a capacity planner sizing burst headroom needs exactly this).

    Per block size w: the series (ordered, 0-indexed) splits into
    COMPLETE blocks of w buckets (the ragged tail is dropped —
    pinned); per block R = max − min of the cumulative
    mean-deviations and S = population σ; blocks with S = 0 are
    excluded (no rescale exists — and R = 0 there anyway). H is the
    closed-form OLS slope of ln(mean R/S) on ln w; keys with < 2
    usable sizes get a NULL H but keep their per-size rows.

    Output one row per (key, w): n_blocks, rs_mean, and the key's H
    repeated — the per-size rows make the scaling line auditable.

    Shapes: one corpus bucket agg, then TWO window passes over the
    same (key, w, block) partitioning (moments + running sum — one
    shuffle since the explode is only |sizes|×buckets), then
    blocks-/keys-bounded aggs and one broadcast H join back."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    idx = F.row_number().over(
        Window.partitionBy(*keys).orderBy("ep")
    ) - 1
    e = (
        b.withColumn("idx", idx)
        .select(
            *keys,
            "idx",
            "v",
            F.explode(
                F.array(*[F.lit(int(s)).cast("long") for s in sizes])
            ).alias("w"),
        )
        .withColumn("block", F.floor(F.col("idx") / F.col("w")))
    )
    wb = Window.partitionBy(*keys, "w", "block")
    wc = wb.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    moments = e.select(
        *keys,
        "w",
        "block",
        "idx",
        "v",
        F.count("*").over(wb).alias("_nb"),
        F.stddev_pop("v").over(wb).alias("_sd"),
        F.avg("v").over(wb).alias("_mu"),
    ).where(F.col("_nb") == F.col("w"))
    scored = moments.select(
        *keys,
        "w",
        "block",
        "_sd",
        F.sum(F.col("v") - F.col("_mu")).over(wc).alias("_cum"),
    )
    blocks = scored.groupBy(*keys, "w", "block").agg(
        (F.max("_cum") - F.min("_cum")).alias("_r"),
        F.max("_sd").alias("_s"),
    ).where(F.col("_s") > 0)
    per_size = blocks.groupBy(*keys, "w").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.avg(F.col("_r") / F.col("_s")).alias("rs_mean"),
    )
    x = F.log(F.col("w").cast("double"))
    y = F.log("rs_mean")
    h = per_size.groupBy(*keys).agg(
        F.count("*").alias("_np"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    slope = F.when(
        (F.col("_np") >= 2)
        & (F.col("_np") * F.col("_sxx") - F.col("_sx") * F.col("_sx") > 0),
        (F.col("_np") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        / (F.col("_np") * F.col("_sxx") - F.col("_sx") * F.col("_sx")),
    )
    hh = h.select(*keys, slope.alias("hurst"))
    return per_size.join(F.broadcast(hh), keys).select(
        *keys, "w", "n_blocks", "rs_mean", "hurst"
    )


def kalman_level(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    q: float = 0.25,
    r: float = 1.0,
    p0: float = 1.0,
) -> DataFrame:
    """Steady-state-free scalar Kalman filter (local-level / random-walk
    model) per key over the `trunc`-bucketed series — the optimal
    recursive smoother when both the level drift (q) and the
    measurement noise (r) are modeled explicitly; unlike EWMA its gain
    ADAPTS (high while the state is uncertain, converging to the
    steady-state gain), so startup transients don't smear.

    Recursion (buckets consumed in epoch order, treated as consecutive
    steps — gap handling = none, same documented rule as holt_linear):
        P'_t = P_{t-1} + q            (predict variance)
        K_t  = P'_t / (P'_t + r)      (gain)
        l_t  = l_{t-1} + K_t (y_t - l_{t-1})
        P_t  = (1 - K_t) P'_t
    Init pinned: l_1 = y_1, P_1 = p0, gain_1 = null, fitted_1 = null;
    fitted_t = l_{t-1} (the one-step-ahead forecast of a random walk),
    innovation_t = y_t - fitted_t.

    Inherently sequential (the gain feeds back through P), so this is
    the sanctioned Arrow `applyInPandas` path: one numpy pass per key
    group; the cross-engine oracle replays the IDENTICAL expression
    shapes in a recursive CTE — IEEE doubles make the recursion
    bit-deterministic, e6-roundable.

    Shapes: ONE bucket agg, ONE shuffle on the key; per-group state is
    O(#buckets per key) — calendar-bounded, never corpus-bounded."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in b.select(*keys).schema.fields
    )
    schema = (
        f"{out_fields}, ep bigint, v double, level double, pvar double, "
        "gain double, fitted double, innovation double"
    )

    def _kalman(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("ep").reset_index(drop=True)
        y = pdf["v"].to_numpy(dtype="float64")
        n = len(y)
        lvl = np.empty(n)
        pv = np.empty(n)
        gn = np.full(n, np.nan)
        fit = np.full(n, np.nan)
        lvl[0] = y[0]
        pv[0] = p0
        for t in range(1, n):
            pp = pv[t - 1] + q
            k = pp / (pp + r)
            fit[t] = lvl[t - 1]
            lvl[t] = lvl[t - 1] + k * (y[t] - lvl[t - 1])
            pv[t] = (1.0 - k) * pp
            gn[t] = k
        res = pdf[[*keys, "ep", "v"]].copy()
        res["level"] = lvl
        res["pvar"] = pv
        res["gain"] = pd.array(gn).astype(object)
        res["fitted"] = pd.array(fit).astype(object)
        res["innovation"] = res["v"] - pd.to_numeric(res["fitted"])
        res.loc[0, ["gain", "fitted", "innovation"]] = None
        return res

    return b.groupBy(*keys).applyInPandas(_kalman, schema=schema)


def variance_ratio(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    q: int = 4,
) -> DataFrame:
    """Variance-ratio random-walk diagnostic per key over the
    `trunc`-bucketed series: VR(q) = Var(v_t − v_{t−q}) /
    (q · Var(v_t − v_{t−1})) on population variances. A random walk
    has VR ≈ 1; VR < 1 flags mean reversion, VR > 1 persistence — the
    standard Lo–MacKinlay shape, here on levels (callers pass
    log-values for the classical returns form).

    Buckets are consumed in epoch order as CONSECUTIVE steps (row
    lags, same documented gap rule as holt_linear/kalman_level).
    Degenerate cases pinned: Var₁ = 0 (e.g. a perfect linear trend) or
    fewer than q+1 buckets → vr null; the per-lag pair counts and both
    variances are emitted so the null is auditable.

    Shapes: one corpus bucket agg, ONE window pass computing both lags
    over the same (key, ep) sort, one keys-bounded agg. No self-join,
    no Python."""
    if q < 2:
        raise ValueError(f"variance_ratio: q must be >= 2, got {q}")
    b = _buckets(df, keys, ts_col, value_col, trunc)
    w = Window.partitionBy(*keys).orderBy("ep")
    d = b.select(
        *keys,
        (F.col("v") - F.lag("v", 1).over(w)).alias("d1"),
        (F.col("v") - F.lag("v", q).over(w)).alias("dq"),
    )
    agg = d.groupBy(*keys).agg(
        (F.count("d1") + 1).cast("bigint").alias("n_buckets"),
        F.count("d1").cast("bigint").alias("n1"),
        F.count("dq").cast("bigint").alias("nq"),
        F.var_pop("d1").alias("var1"),
        F.var_pop("dq").alias("varq"),
    )
    vr = F.when(
        (F.col("nq") >= 1) & (F.col("var1") > 0),
        F.col("varq") / (F.lit(float(q)) * F.col("var1")),
    )
    return agg.select(
        *keys, "n_buckets", "n1", "nq", "var1", "varq", vr.alias("vr")
    )


def kendall_matrix(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grain: int = 6,
) -> DataFrame:
    """Pairwise Kendall tau-b between every two series per DAY over
    their common `trunc` buckets — the rank-based co-movement matrix
    (Pearson's corr_matrix is moment-based and outlier-fragile;
    Spearman needs full ranks; Kendall counts concordant vs discordant
    bucket pairs, with the tau-b tie correction).

    Bucket means are pre-rounded to a 10^-grain grid (integer e-grain
    values) BEFORE any comparison, so tie classification is
    integer-exact and cross-engine-stable — a tie on raw doubles would
    flip on ulp differences between engines. All pair counts (nc, nd,
    tx, ty, txy) are integers; tau_b = (nc − nd) /
    sqrt((n0 − tx − txy)(n0 − ty − txy)) with n0 = total bucket pairs,
    null when either denominator leg is 0 (a constant side).

    Shapes: one corpus bucket agg; the series×series alignment join is
    buckets-bounded; the bucket-pair self-join is per (pair, DAY) —
    ≤ C(24,2) = 276 rows per pair-day at hourly grain, calendar-
    bounded, never corpus-sized. No Python."""
    day = F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd")
    b = _buckets(
        df, [*keys, day.alias("day")], ts_col, value_col, trunc, 10 ** grain
    )
    kid = F.concat_ws("", *keys)
    a = b.select(kid.alias("ka"), "day", "ep", F.col("v").alias("x"))
    bb = b.select(kid.alias("kb"), "day", "ep", F.col("v").alias("y"))
    # b backs both alignment sides and j both pair sides; exchange
    # reuse runs each one's shuffle once, so no cache is needed
    j = a.join(bb, ["day", "ep"]).where(F.col("ka") < F.col("kb"))
    j1 = j.select(
        "ka", "kb", "day",
        F.col("ep").alias("ep1"), F.col("x").alias("x1"), F.col("y").alias("y1"),
    )
    j2 = j.select(
        "ka", "kb", "day",
        F.col("ep").alias("ep2"), F.col("x").alias("x2"), F.col("y").alias("y2"),
    )
    p = j1.join(j2, ["ka", "kb", "day"]).where(F.col("ep1") < F.col("ep2"))
    dx = F.col("x1") - F.col("x2")
    dy = F.col("y1") - F.col("y2")
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    agg = p.groupBy("ka", "kb", "day").agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum(F.when(dx * dy > 0, one).otherwise(zero)).alias("nc"),
        F.sum(F.when(dx * dy < 0, one).otherwise(zero)).alias("nd"),
        F.sum(F.when((dx == 0) & (dy != 0), one).otherwise(zero)).alias("tx"),
        F.sum(F.when((dy == 0) & (dx != 0), one).otherwise(zero)).alias("ty"),
        F.sum(F.when((dx == 0) & (dy == 0), one).otherwise(zero)).alias("txy"),
    )
    den_x = F.col("n0") - F.col("tx") - F.col("txy")
    den_y = F.col("n0") - F.col("ty") - F.col("txy")
    tau = F.when(
        (den_x > 0) & (den_y > 0),
        (F.col("nc") - F.col("nd"))
        / F.sqrt(den_x.cast("double") * den_y.cast("double")),
    )
    return agg.select(
        "ka", "kb", "day", "n0", "nc", "nd", "tx", "ty", "txy",
        tau.alias("tau_b"),
    )


def ar1_half_life(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """AR(1) mean-reversion half-life per key: OLS of v_t on v_{t−1}
    over the `trunc`-bucketed series gives the autoregressive
    coefficient ρ; a mean-reverting series (0 < ρ < 1) halves its
    deviation in −ln 2 / ln ρ buckets — the capacity/alerting answer
    to "how long does a spike take to decay" (hurst_rs says WHETHER it
    reverts, variance_ratio at what horizon; this says HOW FAST).

    OLS on lag pairs (x = v_{t−1}, y = v_t, row-lag, consecutive-step
    rule): ρ = (n·Σxy − Σx·Σy)/(n·Σxx − (Σx)²). Pinned nulls: < 3
    pairs, zero x-variance, or ρ outside (0, 1) (an explosive or
    oscillating series has NO half-life — emitting a number would be
    wrong, so ρ is still reported and half_life is null).

    Shapes: one bucket agg, one window pass for the lag, one
    keys-bounded agg — no Python, no self-join."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    w = Window.partitionBy(*keys).orderBy("ep")
    p = b.select(
        *keys,
        F.col("v").alias("y"),
        F.lag("v", 1).over(w).alias("x"),
    ).where(F.col("x").isNotNull())
    a = p.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
    rho = F.when(
        (F.col("n_pairs") >= 3) & (den > 0),
        (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )
    out = a.select(*keys, "n_pairs", rho.alias("rho"))
    hl = F.when(
        (F.col("rho") > 0) & (F.col("rho") < 1),
        -F.log(F.lit(2.0)) / F.log("rho"),
    )
    return out.select(*keys, "n_pairs", "rho", hl.alias("half_life"))


def benford_digits(
    df: DataFrame,
    keys: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Benford first-significant-digit audit per key: the observed
    first-digit distribution of |value| vs Benford's law
    p(d) = log10(1 + 1/d), with the chi-square goodness-of-fit and a
    0.95 alarm (χ²₀.₉₅(8) = 15.507) — the classic fabricated/defaulted-
    data screen for metrics that span decades of magnitude (a series
    whose values are all hand-entered round numbers or a sensor stuck
    at a default fails it loudly).

    First-digit extraction is ENGINE-STABLE by construction: the value
    is canonicalized to round(|v|·1e9) AS BIGINT (the e9 grain both
    engines already share) and the digit is the first character of
    that integer's decimal string — no float log10/pow boundary, no
    engine-specific float formatting. Values with |v| < 5e-10 (zero at
    the grain) and nulls are excluded. Every key emits ALL 9 digit
    rows (zero-observation digits included — the chi-square needs
    them), with the key's chi2 and alarm repeated per row, auditable
    like hurst_rs.

    Shapes: one row-local digit projection, one (keys, digit) count,
    a keys×9 spine via a broadcast digit dim, one keys-bounded chi2
    agg joined back broadcast. No Python, no self-join."""
    import math

    s9 = F.round(F.abs(F.col(value_col)) * F.lit(1e9)).cast("bigint")
    d = (
        df.where(F.col(value_col).isNotNull())
        .select(*keys, s9.alias("_s"))
        .where(F.col("_s") >= 1)
        .select(
            *keys,
            F.substring(F.col("_s").cast("string"), 1, 1).cast("int").alias("digit"),
        )
    )
    obs = d.groupBy(*keys, "digit").agg(F.count("*").cast("bigint").alias("obs"))
    digits = [(dd, math.log10(1.0 + 1.0 / dd)) for dd in range(1, 10)]
    spine = obs.sparkSession.createDataFrame(digits, "digit int, p double")
    keyn = d.groupBy(*keys).agg(F.count("*").cast("bigint").alias("n"))
    full = (
        keyn.crossJoin(F.broadcast(spine))
        .join(obs, [*keys, "digit"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0).cast("bigint")))
    )
    dev = (F.col("obs") - F.col("n") * F.col("p"))
    cells = full.withColumn("_cell", dev * dev / (F.col("n") * F.col("p")))
    chi = cells.groupBy(*keys).agg(F.sum("_cell").alias("chi2"))
    return (
        cells.join(F.broadcast(chi), keys)
        .select(
            *keys, "digit", "n", "obs",
            F.col("p").alias("benford_p"),
            "chi2",
            (F.col("chi2") > 15.507).alias("alarm"),
        )
    )


def hampel_filter(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    half: int = 4,
    k: float = 3.0,
) -> DataFrame:
    """Hampel spike filter per key over the `trunc`-bucketed series:
    a bucket is an outlier when |v − median| > k·1.4826·MAD over the
    CENTERED ±`half` window, and the repaired value replaces it with
    that median — the standard despike-before-train cleaner
    (rolling_median smooths everything; Hampel repairs ONLY flagged
    points and leaves the signal untouched, which is what a feature
    pipeline wants).

    Pinned rules: median and MAD interpolate even populations like
    percentile_cont(0.5); the flag compares at the e9 integer grain
    (round(|v−med|·1e9) > round(k·1.4826·MAD·1e9)) so the boundary is
    cross-engine exact — the bollinger rounded-boundary convention;
    MAD = 0 degenerates to flagging any e9-visible deviation (the
    literal formula, stated not hidden); edge buckets use their
    truncated window.

    Shapes: one bucket agg, ONE shuffle on the key, then the centered
    ROWS frame collects ≤ 2·half+1 elements per row — O(window) state,
    row-local median/MAD folds, no Python, no self-join."""
    b = _buckets(df, keys, ts_col, value_col, trunc)
    w = (
        Window.partitionBy(*keys)
        .orderBy("ep")
        .rowsBetween(-half, half)
    )
    arr = F.sort_array(F.collect_list("v").over(w))
    m = F.size(arr)

    def _median(a, n):
        hi = F.element_at(a, (n / 2 + 1).cast("int"))
        lo = F.element_at(a, (n / 2).cast("int"))
        return F.when(n % 2 == 1, hi).otherwise((lo + hi) / 2.0)

    med = _median(arr, m)
    scored = b.select(
        *keys, "ep", "v",
        m.cast("bigint").alias("hampel_n"),
        med.alias("hampel_median"),
        arr.alias("_arr"),
    )
    devs = F.sort_array(
        F.transform(F.col("_arr"), lambda x: F.abs(x - F.col("hampel_median")))
    )
    sigma = F.lit(1.4826) * _median(devs, F.size(devs))
    out = scored.withColumn("hampel_sigma", sigma).drop("_arr")
    dev9 = F.round(F.abs(F.col("v") - F.col("hampel_median")) * 1e9).cast("bigint")
    thr9 = F.round(F.lit(float(k)) * F.col("hampel_sigma") * 1e9).cast("bigint")
    flag = dev9 > thr9
    return out.withColumn("hampel_flag", flag).withColumn(
        "hampel_value",
        F.when(flag, F.col("hampel_median")).otherwise(F.col("v")),
    )


def spc_rules(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Western Electric control-chart rules per series over the
    `trunc`-bucketed means — the classic SPC monitor that catches
    both spikes (rule 1) and slow drifts a 3-sigma band never trips
    (rules 2-4):

      r1: point beyond 3 sigma            (either side)
      r2: 2 of the last 3 beyond 2 sigma  (same side)
      r3: 4 of the last 5 beyond 1 sigma  (same side)
      r4: 8 consecutive on one side of the center line

    Center/sigma are the per-series population stats over ALL buckets
    (deterministic baseline; a trailing baseline is bollinger's job).

    Pinned arithmetic — every rule flag is INTEGER-exact cross-engine:
    the bucket mean is pre-rounded to the e6 grid (v6, the one accepted
    rounding pin, same as kendall/dtw), then with n = buckets in the
    series, S = Σ v6, Q = Σ v6² (exact wide-integer sums),

      v − center  ∝  A := v6·n − S            (bigint, exact)
      n²·σ²       ∝  B := n·Q − S²            (decimal(38), exact)
      |v−center| > k·σ  ⟺  A² > k²·B          (strict, integer)

    so band membership, side (sign A; exactly-on-center is side 0 and
    BREAKS a rule-4 run — the literal WE rule), and all quota counts
    are identical in any engine. Trailing windows shorter than their
    nominal span cannot fire (the truncated frame can't reach the
    quota). spc_center_e6/spc_sigma_e6 are pinned display values
    (round(S/n), round(sqrt(B)/n) — IEEE ops on identical integers).

    Shapes: one bucket agg (map-side combined), ONE shuffle on the
    key; n/S/Q ride a whole-partition frame and the rule windows are
    bounded ROWS frames over the same sort — no joins, no Python."""
    d19 = "decimal(19,0)"
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wall = Window.partitionBy(*keys)
    st = b.select(
        *keys, "ep", "v",
        F.count("*").over(wall).alias("spc_n"),
        F.sum("v").over(wall).alias("_s"),
        F.sum(F.col("v").cast(d19) * F.col("v")).over(wall).alias("_q"),
    )
    a = F.col("v") * F.col("spc_n") - F.col("_s")
    bb = (
        F.col("spc_n").cast(d19) * F.col("_q")
        - F.col("_s").cast(d19) * F.col("_s")
    )
    d = st.select(
        "*",
        a.alias("_a"),
        (a.cast(d19) * a).alias("_a2"),
        bb.alias("_b"),
        F.when(a > 0, F.lit(1)).when(a < 0, F.lit(-1)).otherwise(F.lit(0)).alias("spc_side"),
    )
    pos = lambda k: ((F.col("_a") > 0) & (F.col("_a2") > k * k * F.col("_b"))).cast("int")  # noqa: E731
    neg = lambda k: ((F.col("_a") < 0) & (F.col("_a2") > k * k * F.col("_b"))).cast("int")  # noqa: E731
    wo = Window.partitionBy(*keys).orderBy("ep")
    w3, w5, w8 = (wo.rowsBetween(-(m - 1), 0) for m in (3, 5, 8))
    out = d.select(
        *keys, "ep", "spc_n", "spc_side",
        (F.col("v") / 1e6).alias("v"),
        F.round(F.col("_s").cast("double") / F.col("spc_n")).cast("bigint").alias("spc_center_e6"),
        F.round(F.sqrt(F.col("_b").cast("double")) / F.col("spc_n")).cast("bigint").alias("spc_sigma_e6"),
        (F.col("_a2") > 9 * F.col("_b")).alias("spc_r1"),
        ((F.sum(pos(2)).over(w3) >= 2) | (F.sum(neg(2)).over(w3) >= 2)).alias("spc_r2"),
        ((F.sum(pos(1)).over(w5) >= 4) | (F.sum(neg(1)).over(w5) >= 4)).alias("spc_r3"),
        (
            (F.count("*").over(w8) == 8)
            & (F.min("spc_side").over(w8) == F.max("spc_side").over(w8))
            & (F.col("spc_side") != 0)
        ).alias("spc_r4"),
    )
    return out.select(
        "*",
        (F.col("spc_center_e6") / 1e6).alias("spc_center"),
        (F.col("spc_sigma_e6") / 1e6).alias("spc_sigma"),
    )


def quantile_normalize(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Per-day quantile normalization across series: each series' set
    of `trunc`-bucket means is mapped onto the POOLED same-day
    distribution by rank — the batch-effect corrector that makes
    series with different scales/offsets comparable (rank geometry is
    preserved; the value scale becomes the pooled one).

    Mapping is INTEGER-exact end-to-end: bucket means pre-rounded to
    the e6 grid (the one accepted pin), per-series rank r of n_s
    (ties ordered by (v6, ep) — a total order), pooled position
      pos = 1 + (r−1)·(N−1) div (n_s−1)      [n_s = 1 → 1 + (N−1) div 2]
    and qn_e6 = the pooled day's v6 at that position. Equal pooled
    values occupy a contiguous rank block, so pooled[pos] is engine-
    independent even though tie order inside the block is not.

    Scale shape: the pooled rank rides a per-DAY window — frames are
    calendar×keys-bounded (24·#series rows/day), never corpus-wide;
    this is the tier-served exact variant (raw-row normalization at
    10^12 scale would swap the pooled rank for a percentile sketch,
    the same trade as A4's GK twin). Two keyed window passes + one
    pos equi-join, no Python."""
    day = F.to_date(F.date_trunc("day", F.col(ts_col))).alias("day")
    b = _buckets(df, [*keys, day], ts_col, value_col, trunc, 1e6)
    ws = Window.partitionBy(*keys, "day").orderBy("v", "ep")
    wsd = Window.partitionBy(*keys, "day")
    wd = Window.partitionBy("day")
    wp = Window.partitionBy("day").orderBy("v", *keys, "ep")
    ranked = b.select(
        *keys, "day", "ep", "v",
        F.row_number().over(ws).alias("r"),
        F.count("*").over(wsd).alias("ns"),
        F.count("*").over(wd).alias("nn"),
        F.row_number().over(wp).alias("pr"),
    )
    pos = F.when(
        F.col("ns") > 1,
        1 + F.floor((F.col("r") - 1) * (F.col("nn") - 1) / (F.col("ns") - 1)),
    ).otherwise(1 + F.floor((F.col("nn") - 1) / 2))
    left = ranked.select(
        *keys, "day", "ep", "v", "r", "ns",
        pos.cast("bigint").alias("pos"),
    )
    pooled = ranked.select("day", F.col("pr").alias("pos"), F.col("v").alias("qn6"))
    out = left.join(pooled, ["day", "pos"])
    return out.select(
        *keys, "day", "ep",
        (F.col("v") / 1e6).alias("v"),
        F.col("r").alias("qn_rank"),
        F.col("ns").alias("qn_n"),
        (F.col("qn6") / 1e6).alias("qn_value"),
    )


def croston(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    threshold: float = 100.0,
    alpha: float = 0.25,
) -> DataFrame:
    """Croston's method for INTERMITTENT demand per key: demand = the
    count of events with value > threshold in each `trunc` bucket;
    buckets with zero demand are exactly the gaps Croston models (the
    method smooths demand SIZE and demand INTERVAL separately, which
    plain EWMA/Holt get badly wrong on sparse series — they decay
    toward zero between demands).

    Recursion over demand points only (j = 1, 2, ... per key):
        z_j = z_{j-1} + α (q_j − z_{j-1})    (size smoother)
        p_j = p_{j-1} + α (i_j − p_{j-1})    (interval smoother)
    i_j = hours since the previous demand. Init pinned: z_1 = q_1,
    p_1 = 1.0, gap_1 = null (no prior demand to measure from).
    forecast = z/p (demand per bucket), sba = (1 − α/2)·z/p — the
    Syntetos-Boylan bias correction. α = 0.25 (dyadic, exact double).

    Inherently sequential → Arrow applyInPandas per key (the
    sanctioned Python path, kalman/holt pattern); IEEE doubles make
    the recursion bit-deterministic, so a recursive-CTE oracle
    replaying the same expression shapes matches exactly. One bucket
    agg + ONE key shuffle; per-group state is demand-points-bounded."""
    d = (
        df.where(F.col(value_col).isNotNull() & (F.col(value_col) > threshold))
        .groupBy(
            *keys,
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("ep"),
        )
        .agg(F.count("*").alias("q"))
    )
    w = Window.partitionBy(*keys).orderBy("ep")
    d = d.withColumn(
        "gap",
        ((F.col("ep") - F.lag("ep").over(w)) / 3600).cast("bigint"),
    )
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in d.select(*keys).schema.fields
    )
    schema = (
        f"{out_fields}, ep bigint, q bigint, gap bigint, "
        "cr_size double, cr_interval double, cr_forecast double, cr_sba double"
    )
    sba_f = 1.0 - alpha / 2.0

    def _croston(pdf):
        import numpy as np

        pdf = pdf.sort_values("ep").reset_index(drop=True)
        qv = pdf["q"].to_numpy(dtype="float64")
        gv = pdf["gap"].to_numpy(dtype="float64")  # NaN on row 0
        n = len(qv)
        z = np.empty(n)
        p = np.empty(n)
        z[0] = qv[0]
        p[0] = 1.0
        for t in range(1, n):
            z[t] = z[t - 1] + alpha * (qv[t] - z[t - 1])
            p[t] = p[t - 1] + alpha * (gv[t] - p[t - 1])
        res = pdf[[*keys, "ep", "q"]].copy()
        res["gap"] = pdf["gap"].astype(object).where(pdf["gap"].notna(), None)
        res["cr_size"] = z
        res["cr_interval"] = p
        res["cr_forecast"] = z / p
        res["cr_sba"] = sba_f * (z / p)
        return res[[*keys, "ep", "q", "gap", "cr_size", "cr_interval",
                    "cr_forecast", "cr_sba"]]

    return d.groupBy(*keys).applyInPandas(_croston, schema=schema)


def rfm_scores(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "event_ts",
    value_col: str = "value",
) -> DataFrame:
    """RFM segmentation per user: recency (seconds since the user's
    last event, measured from the corpus max), frequency (event
    count), monetary (value total), each quartile-scored 1-4 and
    combined as the classic 3-digit segment (444 = best).

    Exactness pins: monetary is summed on the CENTS grid —
    sum(round(value·100)) as bigint — so the per-user total is an
    integer sum (no float accumulation-order risk at all, unlike a
    rounded double sum); recency/frequency are already integers.
    Quartile boundaries are exact type-7 interpolated percentiles of
    those integers (F.percentile ≡ DuckDB quantile_cont, the
    ts_quantiles precedent); scores use STRICT comparisons (a user
    sitting exactly on a boundary takes the lower score — pinned).

    Scale shape: one per-user agg (one shuffle), then a 1-row global
    max and a 1-row quartile agg broadcast back — NO corpus-wide
    ntile/sort window (the usual RFM antipattern at 10^9 users);
    scoring is row-local. Exact percentiles are the tier-served
    variant; at raw 10^12 scale the boundary agg swaps to
    percentile_approx exactly like A4's GK twin."""
    per = (
        df.where(F.col(user_col).isNotNull())
        .groupBy(user_col)
        .agg(
            F.max(F.unix_timestamp(F.col(ts_col))).alias("last_s"),
            F.count("*").alias("freq"),
            F.sum(F.round(F.col(value_col) * 100).cast("bigint")).alias("monetary_c"),
        )
    )
    g = per.agg(F.max("last_s").alias("_tmax"))
    r = per.join(F.broadcast(g)).withColumn(
        "recency_s", F.col("_tmax") - F.col("last_s")
    )
    qs = r.agg(
        F.percentile("recency_s", [0.25, 0.5, 0.75]).alias("_rq"),
        F.percentile("freq", [0.25, 0.5, 0.75]).alias("_fq"),
        F.percentile("monetary_c", [0.25, 0.5, 0.75]).alias("_mq"),
    )
    d = r.join(F.broadcast(qs))
    score_lt = lambda c, q: (  # noqa: E731  — smaller is better (recency)
        F.lit(1)
        + (F.col(c) < F.get(F.col(q), 0)).cast("int")
        + (F.col(c) < F.get(F.col(q), 1)).cast("int")
        + (F.col(c) < F.get(F.col(q), 2)).cast("int")
    )
    score_gt = lambda c, q: (  # noqa: E731  — bigger is better (freq/monetary)
        F.lit(1)
        + (F.col(c) > F.get(F.col(q), 0)).cast("int")
        + (F.col(c) > F.get(F.col(q), 1)).cast("int")
        + (F.col(c) > F.get(F.col(q), 2)).cast("int")
    )
    out = d.select(
        user_col, "recency_s", "freq", "monetary_c",
        score_lt("recency_s", "_rq").alias("r_score"),
        score_gt("freq", "_fq").alias("f_score"),
        score_gt("monetary_c", "_mq").alias("m_score"),
    )
    return out.withColumn(
        "rfm_segment",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast("bigint"),
    )


def max_drawdown(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Maximum drawdown per series over `trunc` bucket means: the
    deepest drop from a running peak — the standard "how far below
    its best has this metric fallen" monitor (throughput regressions,
    cache hit-rate decay), plus how long it stayed there.

    Exactness pins: bucket means are snapped to the e6 integer grid
    BEFORE the running max, so peak/trough comparisons and the depth
    are pure bigint arithmetic — no float boundary anywhere. Trough =
    the FIRST bucket achieving the maximum depth; peak = the FIRST
    bucket that set the running max standing at that trough (ties
    with an existing peak do not reset it). A non-decreasing series
    has depth 0 and trough = peak = its first bucket. Per-key outputs:
    depth (e6), peak/trough epochs, underwater seconds
    (trough_ep - peak_ep), underwater bucket count (dd > 0), buckets.

    Scale shape: one corpus-sized bucket agg (map-side combined),
    then three window passes + one ranked filter on the
    keys x buckets-bounded frame — a single shuffle on the key."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wrun = Window.partitionBy(*keys).orderBy("ep").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlag = Window.partitionBy(*keys).orderBy("ep")
    wall = Window.partitionBy(*keys)
    r = (
        b.withColumn("runmax", F.max("v").over(wrun))
        .withColumn("_prevmax", F.lag("runmax").over(wlag))
        .withColumn(
            "_peak_mark",
            F.when(
                F.col("_prevmax").isNull()
                | (F.col("runmax") > F.col("_prevmax")),
                F.col("ep"),
            ),
        )
        .withColumn("peak_ep", F.last("_peak_mark", ignorenulls=True).over(wrun))
        .withColumn("dd_e6", F.col("runmax") - F.col("v"))
    )
    r = (
        r.withColumn(
            "underwater_buckets",
            F.sum((F.col("dd_e6") > 0).cast("bigint")).over(wall),
        )
        .withColumn("n_buckets", F.count("*").over(wall))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(F.col("dd_e6").desc(), "ep")
            ),
        )
    )
    return r.where(F.col("_rn") == 1).select(
        *keys,
        F.col("dd_e6").alias("mdd_e6"),
        F.col("peak_ep").cast("bigint"),
        F.col("ep").cast("bigint").alias("trough_ep"),
        (F.col("ep") - F.col("peak_ep")).cast("bigint").alias("dur_s"),
        "underwater_buckets",
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
    )


def scd2_history(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    state_col: str = "state",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: collapse a
    change-event stream into versioned validity intervals — one row
    per (key, run of consecutive equal states) with [valid_from,
    valid_to) half-open bounds, a version ordinal, and an is_current
    flag on the open tail. The warehouse op that turns an event log
    into a point-in-time-joinable dimension (as-of lookups against it
    ride the existing asof_join).

    Pinned rules: rows sharing (keys, ts) are collapsed FIRST, keeping
    the MAX state (deterministic cross-engine; an SCD feed with true
    simultaneous conflicting writes has no defined order anywhere);
    a run breaks when the state IS DISTINCT FROM its predecessor —
    null is a real state, adjacent nulls are ONE run; valid_to of
    version v = valid_from of version v+1 (half-open, so intervals
    tile the key's lifetime with no gaps/overlaps), null on the
    current version; re-touching an earlier state after a change
    opens a NEW version (type-2, never type-1 overwrite).

    Scale shape: one groupBy shuffle on (keys, ts) for the tie
    collapse, then lag/cumsum/lead window passes all partitioned by
    the same keys — a single key-shuffle lineage end to end; output
    is runs-bounded, far smaller than the input at any scale."""
    wk = Window.partitionBy(*keys).orderBy("_ts")
    d = (
        df.groupBy(*keys, F.col(ts_col).alias("_ts"))
        .agg(F.max(state_col).alias("_st"))
        .withColumn(
            "_chg",
            (~F.col("_st").eqNullSafe(F.lag("_st").over(wk))).cast("bigint"),
        )
        .withColumn(
            "_ver",
            F.sum("_chg").over(wk.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    g = d.groupBy(*keys, "_ver").agg(
        F.min("_ts").alias("valid_from"),
        F.first("_st").alias(state_col),  # constant within the run
        F.count("*").alias("n_events"),
    )
    wv = Window.partitionBy(*keys).orderBy("_ver")
    return g.select(
        *keys,
        F.col("_ver").cast("int").alias("version"),
        state_col,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
    )


def proportion_drift(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    threshold: float = 10.0,
    trunc: str = "day",
    z_crit: float = 1.96,
) -> DataFrame:
    """Two-proportion z-test drift per series, bucket over bucket: did
    the success rate (value >= threshold) move more than sampling
    noise explains? The categorical counterpart of ks_drift/psi_drift
    (those watch a numeric distribution; this watches a conversion /
    error / hit RATE, the thing most SLOs are written against).

    z = (p1 - p0) / sqrt(p(1-p)(1/n1 + 1/n0)) with p the pooled rate.
    Cross-engine exactness: both engines build z from the SAME four
    bigint counts (s0,n0,s1,n1) through the SAME expression tree —
    correctly-rounded /, *, sqrt on identical rationals give identical
    doubles, the repo-wide integer-inputs pattern; emitted e6-rounded.
    Null values count in n (a null is a failed success test), pinned;
    a degenerate pooled rate (p in {0,1}: zero variance) or an
    absent previous bucket yields z null, drifted false — honest
    no-evidence, never a division blow-up.

    Scale shape: one corpus-sized count agg (map-side combined) to
    keys x buckets, then a single lag window on that bounded frame —
    one key shuffle, no joins."""
    b = (
        df.groupBy(
            *keys,
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("ep"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.when(F.col(value_col) >= threshold, 1).otherwise(0)
            ).cast("bigint").alias("s"),
        )
    )
    w = Window.partitionBy(*keys).orderBy("ep")
    r = (
        b.withColumn("n0", F.lag("n").over(w))
        .withColumn("s0", F.lag("s").over(w))
    )
    pooled = (F.col("s") + F.col("s0")) / (F.col("n") + F.col("n0"))
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n") + F.lit(1.0) / F.col("n0"))
    )
    z = F.when(
        F.col("n0").isNotNull()
        & (F.col("s") + F.col("s0") > 0)
        & (F.col("s") + F.col("s0") < F.col("n") + F.col("n0")),
        (F.col("s") / F.col("n") - F.col("s0") / F.col("n0")) / se,
    )
    return r.select(
        *keys,
        F.col("ep").cast("bigint"),
        "n",
        "s",
        F.col("n0"),
        F.col("s0"),
        F.round(z * 1e6).cast("bigint").alias("z_e6"),
        F.coalesce(
            F.abs(z) > F.lit(float(z_crit)), F.lit(False)
        ).alias("drifted"),
    )


def dispersion_stats(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    trunc: str = "hour",
) -> DataFrame:
    """Index of dispersion (Fano factor) and burstiness per series
    over bucket EVENT COUNTS: fano = var/mean (1 = Poisson arrivals,
    >1 = bursty/clumped, <1 = regular), burstiness B = (σ−μ)/(σ+μ)
    (−1 periodic … 0 Poisson … →1 extreme bursts) — the arrival-
    process health check next to the value-based monitors (a counter
    can look calm in its values while its arrivals collapse into
    bursts that will overload any per-bucket consumer).

    The bucket grid is the series' FULL min..max bucket range
    including empty buckets (pinned): zero-count buckets contribute
    nothing to Σc and Σc², so the full-grid stats need NO spine join —
    only the bucket COUNT n changes, and that is (max−min)/step + 1.
    All sums are exact bigints; fano_e6 = round(1e6·(nQ−S²)/(nS)) is
    an integer-input quotient, σ and μ go through one identical
    sqrt/divide tree for b_e6. zero_frac is the gap share of the grid.
    Single-bucket-grid series (n=1) report fano 0 honestly and a null
    burstiness when σ+μ=0 never occurs (S≥1 ⇒ μ>0); degenerate σ=μ=0
    cannot happen for a series that exists (pinned).

    Scale shape: one map-side-combined count agg to (keys × buckets),
    then one agg to a keys-bounded frame — a strict subset of the
    rollup lineage, no windows, no joins."""
    ep = F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col)))
    step = C.TRUNC_S[trunc]
    c = events.groupBy(*keys, ep.alias("_ep")).agg(
        F.count("*").cast("bigint").alias("_c")
    )
    a = c.groupBy(*keys).agg(
        F.sum("_c").alias("_s"),
        F.sum(F.col("_c") * F.col("_c")).alias("_q"),
        F.count("*").cast("bigint").alias("_nz"),
        ((F.max("_ep") - F.min("_ep")) / F.lit(step)).cast("bigint").alias(
            "_span"
        ),
    )
    n = F.col("_span") + 1
    S, Q = F.col("_s"), F.col("_q")
    num = n * Q - S * S
    mu = S.cast("double") / n
    sig = F.sqrt(num.cast("double")) / n
    return a.select(
        *keys,
        n.alias("n_buckets"),
        F.col("_nz").alias("n_nonzero"),
        S.alias("n_events"),
        F.round(F.lit(1e6) * num / (n * S)).cast("bigint").alias("fano_e6"),
        F.round(F.lit(1e6) * (sig - mu) / (sig + mu))
        .cast("bigint")
        .alias("burstiness_e6"),
        F.round((n - F.col("_nz")).cast("double") / n * 1e6)
        .cast("bigint")
        .alias("zero_frac_e6"),
    )


def week_phase_profile(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Hour-of-week load profile summary per series: the peak and
    trough week-phase hours and their event shares — the weekly
    seasonality fingerprint capacity planning reads (and the shape a
    forecaster's seasonal term must reproduce). Phase = (epoch_hour
    mod 168), anchored at the Unix epoch origin (phase 0 =
    1970-01-01T00Z, a Thursday) — pure integer arithmetic, no
    calendar/timezone functions to disagree across engines.

    Pins: peak ties break to the LOWEST phase (row_number over
    (n desc, phase asc)); trough is the minimum over phases OBSERVED
    ≥1 (an unobserved phase is absence of evidence on a short span —
    the zero_frac/dispersion ops own empty-bucket accounting);
    peak_share = peak_n / n_events from exact bigints.

    Scale shape: one map-side-combined (keys, phase) count agg
    (≤168·|keys| rows), then windows/agg on that bounded frame."""
    ep = F.unix_timestamp(F.date_trunc("hour", F.col(ts_col)))
    phase = ((ep / 3600).cast("bigint") % 168).alias("phase")
    c = events.groupBy(*keys, phase).agg(
        F.count("*").cast("bigint").alias("n")
    )
    agg = c.groupBy(*keys).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_phases"),
    )
    wp = Window.partitionBy(*keys).orderBy(F.desc("n"), F.asc("phase"))
    wt = Window.partitionBy(*keys).orderBy(F.asc("n"), F.asc("phase"))
    ranked = c.withColumn("_rp", F.row_number().over(wp)).withColumn(
        "_rt", F.row_number().over(wt)
    )
    peak = ranked.where(F.col("_rp") == 1).select(
        *keys, F.col("phase").alias("peak_phase"), F.col("n").alias("peak_n")
    )
    trough = ranked.where(F.col("_rt") == 1).select(
        *keys,
        F.col("phase").alias("trough_phase"),
        F.col("n").alias("trough_n"),
    )
    return (
        agg.join(peak, keys)
        .join(trough, keys)
        .select(
            *keys,
            "n_events",
            "n_phases",
            "peak_phase",
            "peak_n",
            F.round(
                F.col("peak_n").cast("double") / F.col("n_events") * 1e6
            )
            .cast("bigint")
            .alias("peak_share_e6"),
            "trough_phase",
            "trough_n",
        )
    )


def burn_rate(
    events: DataFrame,
    error_type: str = "error",
    slo: float = 0.25,
    long_hours: int = 6,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Multiwindow SLO burn-rate alerting over the hourly error share:
    burn = error_rate / slo on a short (1 h) and a long (long_hours,
    trailing, current bucket included) window; the alert fires only
    when BOTH exceed 1 — the standard multiwindow rule that suppresses
    one-bucket blips (short-only) and long-dead incidents (long-only)
    while catching sustained budget burn. slo is the error-share
    budget (0.25 = a quarter of events may error before the budget is
    gone).

    Exactness pins: hourly error/total counts are exact bigints; the
    long window sums those integers over a ROWS frame (never floats);
    burn_e6 = round(1e6·err/(slo·tot)) with slo entering as one double
    literal — an identical IEEE tree from identical integers. Hours
    with no events cannot exist (no row, no alert); the long window is
    over OBSERVED hourly buckets (pinned — a silent hour is a
    freshness incident, heartbeat's department, not an error-budget
    one).

    Scale shape: one map-side-combined hourly count agg, then one
    ROWS-bounded lag window over the buckets frame. The window is
    deliberately unpartitioned — the SLO is service-level, so its
    state is ONE row per hour (≈9k rows/year): a single-partition
    window over a calendar-bounded frame, never over event rows. For
    per-team/per-service budgets pass pre-filtered events (or extend
    keys into the groupBy and window partition — same lineage)."""
    hour = F.date_trunc("hour", F.col(ts_col))
    c = events.groupBy(hour.alias("_h")).agg(
        F.sum((F.col(type_col) == error_type).cast("bigint")).alias("err"),
        F.count("*").cast("bigint").alias("tot"),
    )
    wl = (
        Window.orderBy("_h").rowsBetween(-(long_hours - 1), 0)
    )
    errl = F.sum("err").over(wl)
    totl = F.sum("tot").over(wl)
    burn = lambda e, t: F.round(  # noqa: E731
        F.lit(1e6) * e / (F.lit(float(slo)) * t)
    ).cast("bigint")
    out = c.select(
        F.date_format("_h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("err").alias("err_n"),
        F.col("tot").alias("tot_n"),
        burn(F.col("err"), F.col("tot")).alias("burn1_e6"),
        errl.alias("err_long"),
        totl.alias("tot_long"),
        burn(errl, totl).alias("burn_long_e6"),
    )
    return out.withColumn(
        "alert",
        (
            (F.col("burn1_e6") > 1_000_000)
            & (F.col("burn_long_e6") > 1_000_000)
        ).cast("int"),
    )


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """First-order Markov transition matrix between event types: for
    each user's time-ordered stream, count (prev → next) pairs whose
    gap is within gap_s (a session boundary breaks the chain — a
    transition across hours is navigation noise, not behavior), and
    report each row's transition probability. The generalization of
    the two-step funnel to ALL type pairs at once: funnel asks one
    question, the matrix answers every next-step question and feeds
    anomaly detection (a new hot (error → signup) cell is a bug
    signature, not a user journey).

    Pins: events order by (ts, event_id) so same-timestamp pairs are
    deterministic cross-engine; self-transitions count; p =
    n(from,to)/Σ_to n(from,·) from exact bigints.

    Scale shape: ONE lag window on the (user) key partitioning + one
    map-side-combined count agg to a types²-bounded frame + a window
    on that bounded frame for the row sums. Same single-key-shuffle
    lineage as sessionize."""
    w = Window.partitionBy(user_col).orderBy(
        F.asc(ts_col), F.asc(id_col)
    )
    p = events.select(
        F.col(type_col).alias("to_type"),
        F.lag(type_col).over(w).alias("from_type"),
        (
            F.unix_timestamp(F.col(ts_col))
            - F.unix_timestamp(F.lag(ts_col).over(w))
        ).alias("_gap"),
    ).where(F.col("from_type").isNotNull() & (F.col("_gap") <= gap_s))
    c = p.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("from_type"))
    return c.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / tot * 1e6)
        .cast("bigint")
        .alias("p_e6"),
    )


def lateness_audit(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    thresholds_s: tuple = (60, 300, 900),
) -> DataFrame:
    """Event-time lateness audit per stream key, using arrival order
    (the ingest id) as the processing-time axis: an event's lateness
    is how far its event time sits behind the stream's running
    event-time maximum at its arrival — EXACTLY the quantity a
    Structured Streaming watermark must exceed to never drop it. The
    batch-side measurement that turns 'withWatermark("10 minutes")'
    from folklore into a number: pick the threshold whose late
    fraction is an acceptable loss.

    Pins: lateness compares against STRICTLY earlier arrivals (ROWS
    … 1 PRECEDING); the first arrival is 0 (null running max); all
    latenesses are integer seconds from second-truncated epochs;
    fractions are exact count ratios.

    Scale shape: one cumulative max window on the stream-key
    partitioning (the kafka-partition analogue — never a global
    order), then one map-side-combined agg to a keys-bounded frame."""
    ep = F.unix_timestamp(F.col(ts_col))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.asc(arrival_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = F.greatest(
        F.lit(0).cast("bigint"),
        (F.max(ep).over(w) - ep).cast("bigint"),
    )
    e = events.select(*keys, F.coalesce(late, F.lit(0).cast("bigint")).alias("_l"))
    aggs = [
        F.count("*").cast("bigint").alias("n"),
        F.max("_l").alias("max_late_s"),
        F.round(F.sum("_l").cast("double") / F.count("*") * 1e6)
        .cast("bigint")
        .alias("mean_late_e6"),
    ]
    for t in thresholds_s:
        aggs.append(
            F.round(
                F.sum((F.col("_l") > t).cast("bigint")).cast("double")
                / F.count("*")
                * 1e6
            )
            .cast("bigint")
            .alias(f"late_{t}s_e6")
        )
    return e.groupBy(*keys).agg(*aggs)


def mannwhitney_drift(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Mann-Whitney U drift test per series: did the value
    DISTRIBUTION shift between the first and second half of the
    series' bucket history? Rank-based, so it catches median/shape
    shifts the mean-based monitors smooth over and is immune to the
    outliers that break a t-test — the nonparametric sibling of
    ks_drift (KS weighs the worst single gap; U weighs the whole
    ordering).

    Exactness pins: values are e6-grid bucket means (bigint); ranks
    enter through the integer midrank identity (m2 = 2·rank + t − 1,
    the pettitt trick) so U2 = 2·U is an exact integer; the tie
    correction Σ(t³−t) is an exact integer; z =
    (U2A − nA·nB)/sqrt(nA·nB·((n+1) − ties/(n(n−1)))/3) is one
    identical IEEE tree from those integers. Cohort split: bucket
    ranks 1..n//2 vs the rest (pinned). All-tied series → var 0 →
    null z (honest); series with n < 2 buckets are dropped. No
    continuity correction (pinned).

    Scale shape: one bucket agg, three window passes on the SAME key
    partitioning, one keys-bounded tie-sum join — the standard
    keys×buckets lineage, single key shuffle."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wk = Window.partitionBy(*keys)
    r = b.select(
        *keys,
        "v",
        F.row_number().over(wk.orderBy("ep")).alias("_i"),
        F.count("*").over(wk).alias("_n"),
        (
            2 * F.rank().over(wk.orderBy("v"))
            + F.count("*").over(Window.partitionBy(*keys, "v"))
            - 1
        ).cast("bigint").alias("_m2"),
    )
    agg = r.groupBy(*keys).agg(
        F.max("_n").cast("bigint").alias("n"),
        F.sum((2 * F.col("_i") <= F.col("_n")).cast("bigint")).alias("n_a"),
        F.sum(
            F.when(2 * F.col("_i") <= F.col("_n"), F.col("_m2")).otherwise(
                F.lit(0)
            )
        ).alias("_sm2a"),
    )
    ties = (
        b.groupBy(*keys, "v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).alias("_ties")
        )
    )
    j = agg.join(ties, keys).where(F.col("n") >= 2)
    nA, n = F.col("n_a"), F.col("n")
    nB = n - nA
    u2a = F.col("_sm2a") - nA * (nA + 1)
    var2 = (
        (nA * nB).cast("double")
        * ((n + 1).cast("double") - F.col("_ties").cast("double") / (n * (n - 1)))
        / F.lit(3.0)
    )
    z = F.lit(1e6) * (u2a - nA * nB) / F.sqrt(var2)
    return j.select(
        *keys,
        n.alias("n_buckets"),
        nA.cast("bigint").alias("n_a"),
        nB.cast("bigint").alias("n_b"),
        u2a.cast("bigint").alias("u2_a"),
        F.when(var2 > 0, F.round(z).cast("bigint")).alias("z_e6"),
    )


def regularity_score(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    cv2_threshold_e6: int = 100_000,
    min_gaps: int = 20,
) -> DataFrame:
    """Per-user inter-event regularity score — the bot/scripted-
    traffic heuristic: humans arrive with high gap variance, cron
    jobs and scrapers tick with CV² near 0. CV² = var/mean² of the
    integer-second gaps, computed EXACTLY as (n·Q − S²)/S² from
    bigint sums (the n² factors cancel — no float until the final e6
    rounding); is_regular fires when CV² < threshold AND the user has
    at least min_gaps gaps (a pinned evidence floor: two perfectly
    spaced events prove nothing).

    Pins: gaps order by (ts, id) — same-timestamp determinism; all
    events in one second (S = 0) yield null CV² and is_regular 0 —
    that is a burst, the dispersion op's department, not clockwork.

    Scale shape: one lag window on the user-key partitioning + one
    map-side-combined agg to a users-bounded frame."""
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    ep = F.unix_timestamp(F.col(ts_col))
    g = events.select(
        user_col, (ep - F.lag(ep).over(w)).cast("bigint").alias("_g")
    ).where(F.col("_g").isNotNull())
    a = g.groupBy(user_col).agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.sum("_g").alias("_s"),
        F.sum(F.col("_g") * F.col("_g")).alias("_q"),
    )
    n, S, Q = F.col("n_gaps"), F.col("_s"), F.col("_q")
    cv2 = F.when(
        S > 0,
        F.round(F.lit(1e6) * (n * Q - S * S) / (S * S)).cast("bigint"),
    )
    return a.select(
        user_col,
        (n + 1).alias("n_events"),
        "n_gaps",
        F.round(S.cast("double") / n * 1e6).cast("bigint").alias(
            "mean_gap_e6"
        ),
        cv2.alias("cv2_e6"),
        F.coalesce(
            ((cv2 < cv2_threshold_e6) & (n >= min_gaps)).cast("int"),
            F.lit(0),
        ).alias("is_regular"),
    )


def haar_energy(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
    levels: int = 3,
) -> DataFrame:
    """Haar multi-resolution detail energy per series: how much of the
    signal's variation lives at the 2-bucket, 4-bucket, 8-bucket…
    scale — the FFT-free spectral budget (spectral_power asks about
    one fixed period; this asks WHICH time scale moves the series:
    hot fast scales = noise/flapping, hot slow scales = drift/regime).

    Integer-exact across every level: values are e3-grid bucket
    means (e3, not the usual e6: the cross-level common-denominator
    scaling below multiplies level-1 energies by 4^{levels−1}, and an
    e6 grid overflows int64 there — e3 leaves 10^6× headroom, pinned);
    a level-L detail is (sum of left 2^{L−1} leaves) − (sum of right
    2^{L−1} leaves), an exact bigint; its energy Σd² is an exact
    bigint; and the cross-level shares scale each level's raw energy
    by 4^{levels−L} to a COMMON denominator — still exact integers,
    so the share is a ratio of bigints and no float sum ever occurs. Normalized energy divides by 4^L (dyadic literal,
    one identical IEEE division). Incomplete tail pairs are dropped
    at every level (pinned).

    Scale shape: one bucket agg, then per level one pairing groupBy
    on the SAME key partitioning (buckets halve each level) — the
    rollup-cascade lineage, single key shuffle chain, no windows
    wider than the keys×buckets frame."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e3)
    wk = Window.partitionBy(*keys).orderBy("ep")
    cur = b.select(
        *keys, F.row_number().over(wk).alias("r"), F.col("v").alias("s")
    )
    outs = []
    for lv in range(1, levels + 1):
        pair = (F.col("r") + 1) / 2
        g = (
            cur.groupBy(*keys, F.floor(pair).cast("bigint").alias("p"))
            .agg(
                F.count("*").alias("_c"),
                F.sum(
                    F.when(F.col("r") % 2 == 1, F.col("s")).otherwise(
                        -F.col("s")
                    )
                ).alias("d"),
                F.sum("s").alias("snext"),
            )
            .where(F.col("_c") == 2)
        )
        outs.append(
            g.groupBy(*keys).agg(
                F.lit(lv).cast("bigint").alias("level"),
                F.count("*").cast("bigint").alias("n_pairs"),
                F.sum(F.col("d") * F.col("d")).cast("bigint").alias(
                    "raw_energy"
                ),
            )
        )
        wl = Window.partitionBy(*keys).orderBy("p")
        cur = g.select(
            *keys,
            F.row_number().over(wl).alias("r"),
            F.col("snext").alias("s"),
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    common = F.col("raw_energy") * F.pow(
        F.lit(4.0), F.lit(levels) - F.col("level")
    ).cast("bigint")
    tot = F.sum(common).over(Window.partitionBy(*keys))
    return u.select(
        *keys,
        "level",
        "n_pairs",
        "raw_energy",
        F.round(
            F.col("raw_energy").cast("double")
            / F.pow(F.lit(4.0), F.col("level").cast("double"))
        ).cast("bigint").alias("norm_energy"),
        F.when(
            tot > 0,
            F.round(common.cast("double") / tot * 1e6).cast("bigint"),
        ).alias("share_e6"),
    )


def typical_day(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    qs: tuple = (0.1, 0.5, 0.9),
) -> DataFrame:
    """Typical-day envelope per series: p10/p50/p90 of the hourly
    means at each hour-of-day — the seasonal band an on-call dashboard
    draws behind the live line (weeks of history collapse into one
    24-row profile; today's value outside its hour's band is the
    anomaly a global threshold misses at night and under-fires at
    peak).

    Pins: hour-of-day = epoch_hour mod 24 (integer, no calendar/TZ
    functions — the week_phase convention); percentiles are Spark's
    exact linear-interpolation F.percentile over e6-grid hourly means
    (the ts_quantiles convention, == quantile_cont in the oracle
    engine); n_days counts the observations behind each band row.

    Scale shape: one bucket agg, one map-side-combined agg to
    keys×24 rows."""
    b = _buckets(events, keys, ts_col, value_col, "hour", 1e6)
    hod = ((F.col("ep") / 3600).cast("bigint") % 24).alias("hour_of_day")
    aggs = [F.count("*").cast("bigint").alias("n_obs")]
    for q in qs:
        aggs.append(
            F.round(F.percentile("v", F.lit(q)))
            .cast("bigint")
            .alias(f"p{int(q * 100)}_e6")
        )
    return b.groupBy(*keys, hod).agg(*aggs)


def funnel3(
    events: DataFrame,
    steps: tuple = ("click", "signup", "purchase"),
    window_s: int = 3600,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Three-step ordered funnel per day: step1 < step2 < step3 by the
    same user, all within window_s of the ANCHORING step-1 event —
    the two-step funnel's missing middle (a signup between click and
    purchase is the difference between attribution and coincidence).

    Matching rule (pinned, greedy-optimal): each step-2 event anchors
    to the LATEST step-1 before it (the running click maximum — any
    other choice has an older anchor and can only lose the deadline);
    each step-3 event takes the LATEST qualified step-2 before it,
    whose anchor is the max over qualified signups for the same
    monotonicity reason; strictness is by (ts, id) arrival order
    (same-timestamp chains resolve by id). The step-3 deadline is
    measured from the step-1 anchor: t3 − t1 ≤ window_s.

    Scale shape: TWO cumulative last-ignorenulls passes on the same
    user-key window (the ffill machinery), then one map-side-combined
    agg to a days-bounded frame. No joins, no self-products."""
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.asc(ts_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ep = F.unix_timestamp(F.col(ts_col))
    s1, s2, s3 = steps
    prev_click = F.last(
        F.when(F.col(type_col) == s1, ep), ignorenulls=True
    ).over(w)
    d2 = events.select(
        user_col,
        type_col,
        F.col(id_col).alias("_id"),
        F.col(ts_col).alias("_ts"),
        ep.alias("_ep"),
        prev_click.alias("_pc"),
    )
    qual2 = (
        (F.col(type_col) == s2)
        & F.col("_pc").isNotNull()
        & (F.col("_ep") - F.col("_pc") <= window_s)
    )
    d2 = d2.withColumn("_anchor", F.when(qual2, F.col("_pc")))
    wp = (
        Window.partitionBy(user_col)
        .orderBy(F.asc("_ts"), F.asc("_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the anchor lookback must be materialized BEFORE the step-3 filter:
    # a window evaluated after .where(type == step3) would only see
    # step-3 rows and never a signup's anchor
    d3 = d2.withColumn(
        "_pa", F.last("_anchor", ignorenulls=True).over(wp)
    )
    p = d3.where(F.col(type_col) == s3).select(
        user_col,
        F.date_format(F.date_trunc("day", "_ts"), "yyyy-MM-dd").alias("day"),
        (
            F.col("_pa").isNotNull()
            & (F.col("_ep") - F.col("_pa") <= window_s)
        ).cast("bigint").alias("_conv"),
    )
    return p.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_step3"),
        F.sum("_conv").cast("bigint").alias("n_converted"),
        F.countDistinct(
            F.when(F.col("_conv") == 1, F.col(user_col))
        ).cast("bigint").alias("n_users_converted"),
        F.round(F.sum("_conv").cast("double") / F.count("*") * 1e6)
        .cast("bigint")
        .alias("conversion_e6"),
    )


def peak_concurrency(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Peak concurrent sessions per day — the capacity number
    (simultaneous connections / license seats / live users) that mean
    load hides: sessionize each user's stream with the standard
    gap_s rule, turn every session into a +1 (start) / −1 (end)
    endpoint, and sweep. Pins: a session belongs to the day its START
    falls in (cross-midnight sessions count toward the entry day —
    the on-call convention); at equal timestamps starts process
    BEFORE ends (touching sessions count as concurrent) and ties then
    break by user id; peak_ts is the EARLIEST instant achieving the
    peak; single-event sessions are zero-length intervals and still
    count where they touch.

    Scale shape: sessionization is the usual user-key lag+cumsum;
    endpoints collapse to ≤2 rows per session (sessions-bounded, far
    below event volume); the sweep is a cumulative window per
    start-day partition of that small frame."""
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    ep = F.unix_timestamp(F.col(ts_col))
    d = events.select(
        user_col,
        F.col(ts_col).alias("_rts"),
        F.col(id_col).alias("_rid"),
        ep.alias("_ep"),
        F.when(
            (ep - F.lag(ep).over(w) > gap_s)
            | F.lag(ep).over(w).isNull(),
            1,
        ).otherwise(0).alias("_new"),
    )
    # the cumsum MUST walk the identical (raw ts, id) total order the
    # lag pass used — ordering by the second-truncated epoch would let
    # same-second rows permute and flip session membership
    d = d.withColumn(
        "_sid",
        F.sum("_new").over(
            Window.partitionBy(user_col)
            .orderBy(F.asc("_rts"), F.asc("_rid"))
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    s = d.groupBy(user_col, "_sid").agg(
        F.min("_ep").alias("_start"), F.max("_ep").alias("_end")
    )
    day = F.date_format(
        F.to_timestamp(F.col("_start").cast("timestamp")), "yyyy-MM-dd"
    )
    pts = s.select(
        day.alias("day"),
        F.col("_start").alias("_t"),
        F.lit(1).alias("_d"),
        F.col(user_col).alias("_u"),
    ).unionByName(
        s.select(
            day.alias("day"),
            F.col("_end").alias("_t"),
            F.lit(-1).alias("_d"),
            F.col(user_col).alias("_u"),
        )
    )
    ws = Window.partitionBy("day").orderBy(
        F.asc("_t"), F.desc("_d"), F.asc("_u")
    ).rowsBetween(Window.unboundedPreceding, 0)
    run = pts.withColumn("_c", F.sum("_d").over(ws)).withColumn(
        "_peak", F.max("_c").over(Window.partitionBy("day"))
    )
    agg = run.groupBy("day").agg(
        F.max("_c").cast("bigint").alias("peak_concurrency"),
        F.sum(F.when(F.col("_d") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sessions"),
        F.min(F.when(F.col("_c") == F.col("_peak"), F.col("_t")))
        .cast("bigint")
        .alias("peak_ep"),
    )
    return agg.select(
        "day",
        "n_sessions",
        "peak_concurrency",
        F.date_format(
            F.to_timestamp(F.col("peak_ep").cast("timestamp")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("peak_ts"),
    )


def token_bucket(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    id_col: str = "event_id",
    cap: int = 86400,
    cost: int = 28800,
) -> DataFrame:
    """Token-bucket rate-limiter replay per key: decide, for every
    event in arrival order, whether a bucket of capacity `cap` units
    refilling at 1 unit per elapsed second would have admitted it at
    cost `cost` units — the admission-control / quota audit that says
    what a production rate limit WOULD have rejected, replayed offline
    over the event log.

    Recurrence per key, events ordered by (raw ts, id):
        pre_n  = min(cap, post_{n-1} + (ep_n − ep_{n-1}))   n > 1
        pre_1  = cap                       (bucket starts FULL)
        admit  = pre_n ≥ cost
        post_n = pre_n − cost·admit        (REJECTED events consume 0)
    All state is integer seconds → both engines walk identical exact
    arithmetic; same-second arrivals refill 0 between them and are
    ordered by id (the established same-second tie rule — ordering by
    the truncated epoch would let them permute). The min() clamp makes
    this a genuinely sequential recurrence no window frame expresses
    (unlike a plain cumsum, the clamp resets history), so it takes the
    sanctioned Arrow path: ONE key shuffle + in-partition sort into a
    mapInPandas stage with an int64 numpy loop and cross-batch carry
    state. r6: this was groupBy().applyInPandas, which ships EVERY
    KEY GROUP as its own Arrow batch — at ~67 events/user the fixed
    per-batch framing dwarfed the data (measured 4.5 s → the grouped
    stage alone was ~3.6 s of per-group Arrow overhead); sorting
    (key, ts, id) within hash partitions and replaying whole 10k-row
    batches removes that while walking the identical per-key
    recurrence (groups are contiguous; state carries across batch
    boundaries) — guide §4.1 batch-size discipline. The oracle
    replays the identical recurrence as a recursive CTE stepping
    row_number — two independent engines, per-event level equality."""
    d = df.select(
        *keys,
        F.col(id_col).alias("_id"),
        F.col(ts_col).alias("_ts"),
        F.unix_timestamp(ts_col).alias("_ep"),
    )
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in d.select(*keys).schema.fields
    )
    schema = (
        f"{out_fields}, {id_col} bigint, ep bigint, "
        "level_after bigint, admitted bigint"
    )
    nparts = 2 * df.sparkSession.sparkContext.defaultParallelism
    d2 = d.repartition(nparts, *keys).sortWithinPartitions(
        *keys, F.asc_nulls_last("_ts"), "_id"
    )

    def _replay(it):
        import numpy as np

        last_key = None
        post = 0
        prev = 0
        for pdf in it:
            n = len(pdf)
            if not n:
                continue
            kcols = [pdf[k].to_numpy() for k in keys]
            ep = pdf["_ep"].to_numpy(dtype="int64")
            new = np.zeros(n, dtype=bool)
            new[0] = last_key is None or tuple(
                kc[0] for kc in kcols
            ) != last_key
            for kc in kcols:
                if n > 1:
                    new[1:] |= kc[1:] != kc[:-1]
            lvl = np.empty(n, dtype="int64")
            adm = np.empty(n, dtype="int64")
            for t in range(n):
                if new[t]:
                    pre = cap
                else:
                    pre = post + (ep[t] - prev)
                    if pre > cap:
                        pre = cap
                a = 1 if pre >= cost else 0
                adm[t] = a
                post = pre - cost * a
                lvl[t] = post
                prev = ep[t]
            last_key = tuple(kc[n - 1] for kc in kcols)
            res = pdf[[*keys]].copy()
            res[id_col] = pdf["_id"]
            res["ep"] = pdf["_ep"]
            res["level_after"] = lvl
            res["admitted"] = adm
            yield res

    return d2.mapInPandas(_replay, schema=schema)


def dow_hour_pivot(
    df: DataFrame,
    by: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-of-week × hour-of-day load matrix per group, WIDE: one row
    per (group, hour 0–23) with a count column per weekday — the
    pivoted heat-map a capacity dashboard renders directly, and the
    relational PIVOT operator's canonical showcase (groupBy().pivot()
    with the 7 output columns declared up front, so Spark skips the
    extra distinct-values collect job; un-pivoting back is a stack(),
    so the pair round-trips).

    Calendar-free arithmetic (the week_phase convention): epoch_hour =
    unix seconds // 3600; hour = epoch_hour mod 24; dow = (epoch_day
    + 3) mod 7 anchored at the Unix origin (1970-01-01 = Thursday →
    dow 3), 0 = Monday. Pure integer expressions, so no calendar or
    timezone function can disagree across engines. Cells with no
    events are exact 0 (coalesced post-pivot); (group, hour) rows with
    no events at all are absent — both engines group over observed
    rows only, pinned.

    Scale shape: Spark's pivot physically plans as TWO aggregation
    pairs — a map-side-combined (group, hour, dow) count that does
    the corpus reduction, then a pivotfirst re-agg whose exchange
    moves only the |groups|·24·7-bounded frame. No join, no window,
    nothing corpus-sized past the first partial agg."""
    eh = (F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))) / 3600).cast(
        "bigint"
    )
    b = df.select(
        F.col(by),
        (eh % 24).alias("hour"),
        ((F.floor(eh / 24).cast("bigint") + 3) % 7).alias("_dow"),
    )
    wide = (
        b.groupBy(by, "hour")
        .pivot("_dow", list(range(7)))
        .agg(F.count(F.lit(1)))
    )
    cols = [
        F.coalesce(F.col(str(d)), F.lit(0)).cast("bigint").alias(f"dow{d}")
        for d in range(7)
    ]
    out = wide.select(by, F.col("hour").cast("bigint").alias("hour"), *cols)
    total = None
    for d in range(7):
        t = F.col(f"dow{d}")
        total = t if total is None else total + t
    return out.withColumn("n_events", total.cast("bigint"))


def mutual_info(
    events: DataFrame,
    by: str = "event_type",
    ts_col: str = "ts",
    bin_cap: int = 3,
) -> DataFrame:
    """Binned mutual information between every pair of series over
    the shared hourly grid — the dependence monitor that catches
    nonlinear coupling a Pearson correlation smooths over (an error
    series that fires exactly when clicks are EITHER silent or
    saturated correlates ~0 but carries bits). Series = per-`by`
    hourly event counts; each hour's count is binned to
    min(count, bin_cap), so the joint distribution is a
    (bin_cap+1)² contingency table per pair.

    The distribution is over ALL hours of the global span: hours with
    no events at all for a pair land in the (0,0) cell — computed as
    span − |observed hours| and added as a literal, never a spine
    join. MI in ln form from exact bigint cell counts:
        MI = ln N + (Σ n_ij·ln n_ij − Σ r_i·ln r_i − Σ c_j·ln c_j)/N
    (the dist_entropy convention; e6-rounded, sums over ≤(cap+1)²
    cells). Marginal entropies H(A) = ln N − Σ r ln r / N ride along,
    so the pair report reads MI against its ceiling min(H_A, H_B).

    Scale shape: ONE map-side-combined (hour, type) count agg reduces
    the corpus to hours×types; the pivot to a types-wide hour frame,
    the pair binning, and every entropy sum operate on that bounded
    frame (pairs are types², cells (cap+1)² — control-plane sized).
    The distinct-type list and the span scalars are the only
    collects, both types/scalar-bounded."""
    eh = (F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))) / 3600).cast(
        "bigint"
    )
    hc = events.groupBy(eh.alias("h"), F.col(by).alias("_t")).agg(
        F.count("*").alias("c")
    )
    hc = hc.cache()
    types = sorted(r[0] for r in hc.select("_t").distinct().collect())
    s = hc.agg(
        (F.max("h") - F.min("h") + 1).alias("span"),
        F.count_distinct("h").alias("present"),
    ).collect()[0]
    n_hours, n_absent = int(s["span"]), int(s["span"] - s["present"])
    wide = hc.groupBy("h").pivot("_t", types).agg(F.sum("c"))
    spark = events.sparkSession
    parts = []
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            parts.append(
                wide.select(
                    F.lit(a).alias("type_a"),
                    F.lit(b).alias("type_b"),
                    F.least(F.coalesce(F.col(a), F.lit(0)), F.lit(bin_cap))
                    .cast("int")
                    .alias("ba"),
                    F.least(F.coalesce(F.col(b), F.lit(0)), F.lit(bin_cap))
                    .cast("int")
                    .alias("bb"),
                )
            )
    from functools import reduce

    binned = reduce(lambda x, y: x.unionAll(y), parts)
    cells = binned.groupBy("type_a", "type_b", "ba", "bb").agg(
        F.count("*").cast("bigint").alias("n")
    )
    if n_absent > 0:
        pairs = [
            (a, b, 0, 0, n_absent)
            for i, a in enumerate(types)
            for b in types[i + 1 :]
        ]
        extra = spark.createDataFrame(
            pairs, "type_a string, type_b string, ba int, bb int, n bigint"
        )
        cells = (
            cells.unionAll(extra)
            .groupBy("type_a", "type_b", "ba", "bb")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
    nlogn = F.sum(F.col("n") * F.log("n"))
    j = cells.groupBy("type_a", "type_b").agg(nlogn.alias("_j"))
    ra = (
        cells.groupBy("type_a", "type_b", "ba")
        .agg(F.sum("n").alias("n"))
        .groupBy("type_a", "type_b")
        .agg(nlogn.alias("_r"))
    )
    ca = (
        cells.groupBy("type_a", "type_b", "bb")
        .agg(F.sum("n").alias("n"))
        .groupBy("type_a", "type_b")
        .agg(nlogn.alias("_c"))
    )
    N = F.lit(float(n_hours))
    out = (
        j.join(ra, ["type_a", "type_b"])
        .join(ca, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.lit(n_hours).cast("bigint").alias("n_hours"),
            F.round(
                (F.log(N) + (F.col("_j") - F.col("_r") - F.col("_c")) / N)
                * 1e6
            )
            .cast("bigint")
            .alias("mi_e6"),
            F.round((F.log(N) - F.col("_r") / N) * 1e6)
            .cast("bigint")
            .alias("h_a_e6"),
            F.round((F.log(N) - F.col("_c") / N) * 1e6)
            .cast("bigint")
            .alias("h_b_e6"),
        )
    )
    return out


def basket_lift(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Association rules between event types co-present in a session
    (the market-basket view): for every unordered type pair, the
    number of gap-sessions containing BOTH, with support, both
    directed confidences, and lift — the co-presence complement of
    markov_transitions' adjacency view (a pair can have huge lift
    while never occurring back-to-back).

    Session rule = the house gap rule (same as peak_concurrency /
    markov): a new session starts when the integer-second gap to the
    user's previous event exceeds gap_s, rows ordered by (raw ts, id)
    so same-second arrivals can't permute membership. A basket is the
    DISTINCT type set of one session; multiplicity inside a session
    is deliberately ignored (that's the transition matrix's signal).

    Exactness: counts are bigints; support/confidence are single e6
    divisions; lift_e6 = round(1e6·(n_ab·N)/(n_a·n_b)) with both
    products exact bigints — valid while n·N < 2^63 (~3e9 baskets; at
    larger scale switch to the ratio-of-shares form and accept ulp).

    Scale shape: one user-key lag window (sessionize), one
    (user, sid) collect_set agg, then ROW-LOCAL pair expansion of
    each ≤|types|-sized basket (sorted-array nested transform, no
    self-join of the items frame), and a count agg to the
    types²-bounded pair frame; item supports and the 1-row basket
    total broadcast back onto it."""
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    ep = F.unix_timestamp(F.col(ts_col))
    nw = F.when(
        F.lag(ts_col).over(w).isNull()
        | ((ep - F.unix_timestamp(F.lag(ts_col).over(w))) > gap_s),
        1,
    ).otherwise(0)
    sess = events.select(
        F.col(user_col).alias("_u"), F.col(type_col).alias("_t"), nw.alias("_nw"),
        F.sum(nw).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_sid"),
    )
    baskets = sess.groupBy("_u", "_sid").agg(
        F.sort_array(F.collect_set("_t")).alias("items")
    )
    baskets = baskets.cache()
    n_baskets = baskets.count()
    items = baskets.select(F.explode("items").alias("t")).groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_item")
    )
    arr = F.col("items")
    pairs_arr = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pc = (
        baskets.select(F.explode(pairs_arr).alias("p"))
        .groupBy(F.col("p.a").alias("type_a"), F.col("p.b").alias("type_b"))
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    ia = items.select(F.col("t").alias("type_a"), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("t").alias("type_b"), F.col("n_item").alias("n_b"))
    N = F.lit(n_baskets).cast("bigint")
    e6 = lambda c: F.round(c * 1e6).cast("bigint")  # noqa: E731
    return (
        pc.join(F.broadcast(ia), "type_a")
        .join(F.broadcast(ib), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            N.alias("n_baskets"),
            e6(F.col("n_ab").cast("double") / N.cast("double")).alias(
                "support_e6"
            ),
            e6(F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias(
                "conf_ab_e6"
            ),
            e6(F.col("n_ab").cast("double") / F.col("n_b").cast("double")).alias(
                "conf_ba_e6"
            ),
            e6(
                (F.col("n_ab") * N).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift_e6"),
        )
    )


def session_nll(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Anomalous-journey detector: score every session by its
    negative log-likelihood under the CORPUS transition matrix — the
    diff the markov_transitions baseline was built for. A session
    walking hot paths scores near the corpus mean; a session chaining
    rare transitions (error→signup→error…) floats to the top.

    Model: first-order Markov over within-session transitions (the
    markov gap rule, (ts, id) order pin); p(f→t) = n(f,t)/n(f,·)
    from the SAME events, exact bigints. Per-session
        nll_e9 = Σ_steps round(1e9·ln(n(f,·)/n(f,t)))
    — each term is the ln of one exact-bigint ratio, quantized to an
    e9 integer BEFORE summing (the centroid_drift trick), so the
    session sum is an order-free exact integer in both engines; no
    float accumulation exists. avg_nll_e6 = the one IEEE division at
    the end. Sessions with zero transitions are absent (no evidence,
    pinned); every observed transition has n ≥ 1 so no ln(0).

    Scale shape: ONE user-key lag window produces the transitions
    frame (cached — it feeds both the matrix count agg and the
    scoring pass); the matrix is types²-bounded and broadcast back;
    the final agg groups by (user, sid) on the same key lineage."""
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    ep = F.unix_timestamp(F.col(ts_col))
    gap = ep - F.unix_timestamp(F.lag(ts_col).over(w))
    nw = F.when(F.lag(ts_col).over(w).isNull() | (gap > gap_s), 1).otherwise(0)
    base = events.select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("to_type"),
        F.lag(type_col).over(w).alias("from_type"),
        gap.alias("_gap"),
        F.sum(nw).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_sid"),
    )
    trans = base.where(
        F.col("from_type").isNotNull() & (F.col("_gap") <= gap_s)
    ).cache()
    m = trans.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    row_tot = m.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("tot"))
    m = m.join(row_tot, "from_type")
    term = F.round(
        F.log(F.col("tot").cast("double") / F.col("n").cast("double")) * 1e9
    ).cast("bigint")
    scored = trans.join(
        F.broadcast(m.select("from_type", "to_type", term.alias("_t9"))),
        ["from_type", "to_type"],
    )
    return (
        scored.groupBy(F.col("_u").alias(user_col), F.col("_sid").alias("sid"))
        .agg(
            F.count("*").cast("bigint").alias("n_steps"),
            F.sum("_t9").cast("bigint").alias("nll_e9"),
        )
        .withColumn(
            "avg_nll_e6",
            F.round(F.col("nll_e9").cast("double") / F.col("n_steps") / 1e3)
            .cast("bigint"),
        )
    )


def seasonal_strength(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """How much of a series' variance the hour-of-day explains: the
    one-way ANOVA decomposition SS_total = SS_between + SS_within
    over the 24 hour-of-day cells, reported as η² = SS_b/SS_t (the
    seasonal-strength score a forecaster uses to decide whether a
    seasonal term earns its parameters) plus the F statistic
    (SS_b/(k−1))/(SS_w/(n−k)). η² near 1 = the daily profile IS the
    series; near 0 = the profile is noise.

    hour-of-day = epoch_hour mod 24 (calendar-free, the week_phase
    convention). Values enter on the e3 integer grid (the haar_energy
    precedent — e6 squares overflow int64 at this value range), so
    every per-cell (n_h, S_h) and the global (n, S, Q=Σv²) are exact
    bigints (Q per-row ≤ ~2.4e11 at |v| ≤ 490 → int64-safe past 1e7
    rows/series); the
    finishing arithmetic (S_h²/n_h terms, the η² and F quotients) runs
    in doubles built from those exact integers through one identical
    IEEE tree, e6-rounded — the [0,1] ratio has ~1e9 headroom over
    double noise. Pins: constant series (SS_t = 0) → null η² and F;
    k = 1 observed cell → η² computable (0), F null (zero df);
    null values excluded.

    Scale shape: ONE map-side-combined (keys, hod) agg to the
    keys×24 frame; the per-key finish is a 24-row re-agg. No joins,
    no windows, nothing corpus-sized past the first partial agg."""
    hod = (
        (F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))) / 3600).cast(
            "bigint"
        )
        % 24
    )
    v = F.round(F.col(value_col) * 1e3).cast("bigint")
    cells = (
        events.where(F.col(value_col).isNotNull())
        .groupBy(*keys, hod.alias("_h"))
        .agg(
            F.count("*").cast("bigint").alias("n_h"),
            F.sum(v).cast("bigint").alias("s_h"),
            F.sum(v * v).cast("bigint").alias("q_h"),
        )
    )
    agg = cells.groupBy(*keys).agg(
        F.sum("n_h").cast("bigint").alias("n"),
        F.sum("s_h").cast("bigint").alias("s"),
        F.sum("q_h").cast("bigint").alias("q"),
        F.count("*").cast("bigint").alias("k_cells"),
        F.sum(
            F.col("s_h").cast("double") * F.col("s_h").cast("double")
            / F.col("n_h").cast("double")
        ).alias("_sb"),
    )
    n = F.col("n").cast("double")
    grand = F.col("s").cast("double") * F.col("s").cast("double") / n
    sst = F.col("q").cast("double") - grand
    ssb = F.col("_sb") - grand
    ssw = F.col("q").cast("double") - F.col("_sb")
    k = F.col("k_cells").cast("double")
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    return agg.select(
        *keys,
        "n",
        "k_cells",
        F.when(sst > 0, F.round(ssb / sst * 1e6).cast("bigint")).alias(
            "eta2_e6"
        ),
        F.when(
            (F.col("k_cells") > 1) & (F.col("n") > F.col("k_cells")) & (ssw > 0),
            F.round(f_stat * 1e6).cast("bigint"),
        ).alias("f_e6"),
    )


def seq_patterns(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Ordered sequential patterns within gap-sessions: for every
    directed type pair (a, b), the number of sessions containing an
    occurrence of `a` STRICTLY BEFORE an occurrence of `b` (any gap,
    adjacency not required) — the third view of session structure:
    markov_transitions counts adjacent steps, basket_lift counts
    unordered co-presence, this counts eventual ordered reachability
    (the "did a click EVER lead to a purchase in-session" question).

    Pins: both (a,b) and (b,a) may hold in one session (the counts
    are independent, not complements); the diagonal (a,a) counts
    sessions where `a` repeats; position order inside a session is
    (ts, id) — the house same-second rule; support_e6 is over ALL
    sessions.

    Scale shape: one user-key lag window (the shared sessionize), one
    (user, sid) collect_list agg, then ROW-LOCAL ordered-pair
    expansion of each session's ≤session-length array with
    array_distinct BEFORE the explode (so the exploded volume is
    ≤ types² per session, not length²), and a count agg to the
    types²-bounded frame."""
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    ep = F.unix_timestamp(F.col(ts_col))
    nw = F.when(
        F.lag(ts_col).over(w).isNull()
        | ((ep - F.unix_timestamp(F.lag(ts_col).over(w))) > gap_s),
        1,
    ).otherwise(0)
    sess = events.select(
        F.col(user_col).alias("_u"),
        F.struct(
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(type_col).alias("t"),
        ).alias("_e"),
        F.sum(nw).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_sid"),
    )
    seqs = sess.groupBy("_u", "_sid").agg(
        F.transform(
            F.array_sort(F.collect_list("_e")), lambda s: s["t"]
        ).alias("seq")
    )
    seqs = seqs.cache()
    n_sessions = seqs.count()
    arr = F.col("seq")
    pairs = F.array_distinct(
        F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    F.slice(arr, i + 2, F.size(arr)),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    N = F.lit(n_sessions).cast("bigint")
    return (
        seqs.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("type_a"), F.col("p.b").alias("type_b"))
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .select(
            "type_a",
            "type_b",
            "n_sessions",
            N.alias("n_total"),
            F.round(F.col("n_sessions").cast("double") / N.cast("double") * 1e6)
            .cast("bigint")
            .alias("support_e6"),
        )
    )


def wasserstein_drift(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "day",
) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between each
    `trunc` window and its immediate predecessor, per series — the
    drift alarm that reports HOW FAR the distribution moved in value
    units, where KS only reports the worst single ECDF gap: W1 =
    ∫|ECDF_prev − ECDF_cur| dx = Σ over pooled sorted distinct values
    of |ECDF_prev − ECDF_cur| · (next_value − value). A mean shift of
    δ reads as W1 ≈ δ; a tail-only change that KS barely sees still
    integrates to its true mass·distance cost.

    Values enter on the e3 integer grid so the gaps (next − v) are
    exact integers; each ECDF step is two correctly-rounded integer
    divisions (the ks_drift arithmetic); the only order-dependent
    step is the final Σ d·gap, whose accumulated ulp noise at this
    value range (|v| ≤ ~500, ≤ ~1e5 distinct pooled values) sits
    ~1e3 below the e6 rounding grid.

    Shapes (the ks_drift template): each raw row participates in
    exactly two comparisons via a 2× union projection — no self-join;
    ONE map-side-combined count agg collapses the union to distinct
    (key, window, value) rows; every window function after that runs
    over the DISTINCT-VALUES-bounded frame, never the corpus. Windows
    missing either side are dropped (W1 against an empty sample is
    undefined, not a number)."""
    step = {
        "minute": "INTERVAL 1 MINUTE",
        "hour": "INTERVAL 1 HOUR",
        "day": "INTERVAL 1 DAY",
    }[trunc]
    base = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        F.date_trunc(trunc, F.col(ts_col)).alias("w"),
        F.round(F.col(value_col) * 1e3).cast("bigint").alias("v3"),
    )
    cur = base.select(
        *keys, F.col("w").alias("cw"), F.lit(1).alias("is_cur"), "v3"
    )
    prev = base.select(
        *keys,
        (F.col("w") + F.expr(step)).alias("cw"),
        F.lit(0).alias("is_cur"),
        "v3",
    )
    counts = (
        cur.unionByName(prev)
        .groupBy(*keys, "cw", "v3")
        .agg(
            F.sum("is_cur").alias("c_cur"),
            F.sum(F.lit(1) - F.col("is_cur")).alias("c_prev"),
        )
    )
    part = Window.partitionBy(*keys, "cw")
    byv = part.orderBy("v3")
    ordw = byv.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n_cur = F.sum("c_cur").over(part)
    n_prev = F.sum("c_prev").over(part)
    d = F.abs(
        F.try_divide(F.sum("c_cur").over(ordw), n_cur)
        - F.try_divide(F.sum("c_prev").over(ordw), n_prev)
    )
    gap = (
        F.coalesce(F.lead("v3").over(byv) - F.col("v3"), F.lit(0)).cast(
            "double"
        )
        / 1e3
    )
    return (
        counts.select(
            *keys,
            "cw",
            (d * gap).alias("_t"),
            n_cur.alias("n_cur"),
            n_prev.alias("n_prev"),
        )
        .groupBy(*keys, "cw")
        .agg(
            F.round(F.sum("_t") * 1e6).cast("bigint").alias("w1_e6"),
            F.max("n_cur").cast("bigint").alias("n_cur"),
            F.max("n_prev").cast("bigint").alias("n_prev"),
        )
        .where((F.col("n_cur") > 0) & (F.col("n_prev") > 0))
    )


def runs_test(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Wald–Wolfowitz runs test per series: is the sequence of
    above-median / below-median bucket values RANDOM in time, or does
    it clump (too few runs ⇒ trending/regime persistence, z < 0) or
    alternate (too many runs ⇒ oscillation/over-control, z > 0)? The
    randomness audit that needs no distributional assumption at all —
    the third nonparametric sibling next to ks_drift (worst gap) and
    mannwhitney_drift (rank shift).

    Exactness pins: bucket means enter on the e6 integer grid; the
    median cut is 2·median = the sum of the two central order
    statistics (an exact bigint — no float median anywhere), buckets
    with 2·v == med2 are DROPPED (the classic tie rule); runs / n1 /
    n2 are exact integers counted in bucket-epoch order. z is one
    identical IEEE tree from those integers:

        z = (R·n − 2·n1·n2 − n) / sqrt(2·n1·n2·(2·n1·n2 − n)/(n−1))

    (numerator an exact bigint; the variance product is formed in
    doubles because 2n1n2·(2n1n2−n) overflows int64 past ~1e5
    buckets). One-sided degenerate cases emit honest nulls: n1 = 0 or
    n2 = 0 (no cut crossings), or n1 = n2 = 1 (variance 0); a series
    whose EVERY bucket ties at the cut (a constant) vanishes from the
    output entirely — there is no sequence left to test. No
    continuity correction (pinned, the mannwhitney convention).

    Scale shape: ONE map-side-combined bucket agg reduces the corpus;
    the order-statistic windows (by value) and the run-boundary lag
    window (by epoch) share the same key partitioning over the
    buckets-bounded frame — a single key shuffle, no joins."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wk = Window.partitionBy(*keys)
    byv = wk.orderBy("v", "ep")
    r = b.select(
        *keys,
        "ep",
        "v",
        F.row_number().over(byv).alias("_rn"),
        F.count("*").over(wk).alias("_nb"),
    )
    p1 = (F.col("_nb") + 1) / 2
    p2 = F.col("_nb") / 2 + 1
    med2 = F.sum(
        F.when(F.col("_rn") == F.floor(p1), F.col("v")).otherwise(F.lit(0))
    ).over(wk) + F.sum(
        F.when(F.col("_rn") == F.floor(p2), F.col("v")).otherwise(F.lit(0))
    ).over(wk)
    s = r.select(
        *keys, "ep", (2 * F.col("v") - med2).alias("_d")
    ).where(F.col("_d") != 0)
    byep = wk.orderBy("ep")
    lagd = F.lag("_d").over(byep)
    runs = s.select(
        *keys,
        (F.col("_d") > 0).cast("bigint").alias("_up"),
        F.when(
            lagd.isNull() | ((F.col("_d") > 0) != (lagd > 0)), F.lit(1)
        ).otherwise(F.lit(0)).alias("_start"),
    )
    agg = runs.groupBy(*keys).agg(
        F.sum("_up").alias("n1"),
        F.sum(F.lit(1) - F.col("_up")).alias("n2"),
        F.sum("_start").cast("bigint").alias("runs"),
    )
    n1, n2, R = F.col("n1"), F.col("n2"), F.col("runs")
    n = n1 + n2
    two = 2 * n1 * n2
    num = (R * n - two - n).cast("double")
    var_num = two.cast("double") * (two - n).cast("double")
    z = F.lit(1e6) * num / F.sqrt(var_num / (n - 1).cast("double"))
    return agg.select(
        *keys,
        n.cast("bigint").alias("n_kept"),
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        R.alias("runs"),
        F.when(
            (n1 > 0) & (n2 > 0) & (var_num > 0) & (n >= 2),
            F.round(z).cast("bigint"),
        ).alias("z_e6"),
    )


def pacf(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Partial autocorrelation at lags 1..3 per series — the AR-order
    selector: where the ACF of an AR(1) process decays geometrically
    across every lag, its PACF cuts off dead after lag 1, so the last
    significant PACF lag IS the autoregressive order. Computed by the
    Durbin–Levinson recursion unrolled in closed form:

        φ11 = r1
        φ22 = (r2 − r1²) / (1 − r1²)
        φ33 = (r3 − φ21·r2 − φ22·r1) / ((1 − φ22²)·(1 − r1²))
              with φ21 = r1·(1 − φ22)

    over the house GAP-CORRECT per-lag Pearson ACF (pairing on bucket
    EPOCH arithmetic, each lag's r from its own surviving pairs — the
    acf() convention; with heavy gaps the per-lag samples differ and
    φ can exceed |1|, a documented property of gap-robust estimation,
    not a bug). Exactness: bucket means enter on the e3 grid (the
    haar/trend overflow rule — e6 squares times pair counts pass
    int64 only at e3) so all five Pearson sums per lag are exact
    bigints; r1, r2, r3 and the DL quotients run in doubles through
    ONE identical IEEE tree, e6-rounded at the end. Degenerate pins:
    any lag with n < 2 pairs or zero variance on either side nulls
    its r, and nulls cascade upward through DL (r1 null ⇒ all null;
    |r1| = 1 ⇒ φ22, φ33 null; v2 = 0 ⇒ φ33 null).

    Scale shape (the acf() template): ONE bucket agg over raw rows is
    the only corpus-sized shuffle; the 3-lag fan-out and the
    self-equi-join on (keys, epoch) act on the buckets-bounded frame;
    the conditional-sum pivot collapses to ONE row per key."""
    step = C.TRUNC_S[trunc]
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e3)
    left = b.select(
        *keys, "ep", F.col("v").alias("_x"),
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("_lag"),
    ).withColumn("_ep_r", F.col("ep") + F.col("_lag") * F.lit(step))
    right = b.select(
        *keys, F.col("ep").alias("_ep_r"), F.col("v").alias("_y")
    )
    pairs = left.join(right, [*keys, "_ep_r"])
    sums = pairs.groupBy(*keys, "_lag").agg(
        F.count("*").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    nn = F.col("_n").cast("double")
    vx = nn * F.col("_sxx").cast("double") - (
        F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    vy = nn * F.col("_syy").cast("double") - (
        F.col("_sy").cast("double") * F.col("_sy").cast("double")
    )
    rr = F.when(
        (F.col("_n") >= 2) & (vx > 0) & (vy > 0),
        (
            nn * F.col("_sxy").cast("double")
            - F.col("_sx").cast("double") * F.col("_sy").cast("double")
        )
        / F.sqrt(vx * vy),
    )
    wide = sums.select(*keys, "_lag", rr.alias("_r")).groupBy(*keys).agg(
        F.max(F.when(F.col("_lag") == 1, F.col("_r"))).alias("_r1"),
        F.max(F.when(F.col("_lag") == 2, F.col("_r"))).alias("_r2"),
        F.max(F.when(F.col("_lag") == 3, F.col("_r"))).alias("_r3"),
    )
    r1, r2, r3 = F.col("_r1"), F.col("_r2"), F.col("_r3")
    v1 = F.lit(1.0) - r1 * r1
    p22 = F.when(v1 > 0, (r2 - r1 * r1) / v1)
    p21 = r1 * (F.lit(1.0) - p22)
    v2 = v1 * (F.lit(1.0) - p22 * p22)
    p33 = F.when(v2 > 0, (r3 - p21 * r2 - p22 * r1) / v2)
    e6 = lambda c: F.round(F.lit(1e6) * c).cast("bigint")  # noqa: E731
    return wide.select(
        *keys,
        e6(r1).alias("pacf1_e6"),
        e6(p22).alias("pacf2_e6"),
        e6(p33).alias("pacf3_e6"),
    )


def granger(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Lag-1 Granger causality between every DIRECTED pair of series
    (x → y): does knowing x_{t−1} shrink the error of predicting y_t
    beyond what y_{t−1} already explains? Restricted model
    y_t ~ 1 + y_{t−1}; unrestricted y_t ~ 1 + y_{t−1} + x_{t−1};
    F = (RSS_r − RSS_u)·(n−3)/RSS_u with both RSS in closed form from
    the centered second moments (2-regressor OLS by Cramer's rule).
    CCF says the series co-move at some lag; Granger says the
    co-movement carries PREDICTIVE information after conditioning on
    the target's own past — the difference between correlation and a
    usable leading indicator.

    Exactness: bucket means land on the e-`grid` integer grid (the
    house acf/pacf rule), so all ten pair sums are EXACT bigints and
    every engine forms the identical IEEE finishing tree — the e6
    outputs cannot differ by summation order. Triples require y_t,
    y_{t−1}, x_{t−1} all present (gap-correct epoch arithmetic: a
    hole drops exactly the triples it breaks). n < 4, zero y-lag
    variance, singular normal matrix, or RSS_u ≤ 0 ⇒ null stats,
    rows still emitted. F < 0 by fp cancellation clamps at 0 via the
    e6 rounding of a ~−1e−9 residual.

    Shapes: ONE bucket agg over raw rows; triples = two self-equi-
    joins on bucket epoch between buckets-bounded frames; final agg
    is pairs-bounded. No window over raw rows."""
    step = C.TRUNC_S[trunc]
    b = _buckets(
        df, [F.col(key_col).alias("_sid")], ts_col, value_col, trunc, 10 ** grid
    )
    cur = b.select(
        F.col("_sid").alias("series_y"), "ep", F.col("v").alias("_y")
    )
    ylag = b.select(
        F.col("_sid").alias("series_y"),
        (F.col("ep") + step).alias("ep"),
        F.col("v").alias("_u"),
    )
    xlag = b.select(
        F.col("_sid").alias("series_x"),
        (F.col("ep") + step).alias("ep"),
        F.col("v").alias("_x"),
    )
    tri = (
        cur.join(ylag, ["series_y", "ep"])
        .join(xlag, "ep")
        .where(F.col("series_x") != F.col("series_y"))
    )
    a = tri.groupBy("series_x", "series_y").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_u").alias("su"),
        F.sum("_x").alias("sv"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_u") * F.col("_u")).alias("suu"),
        F.sum(F.col("_x") * F.col("_x")).alias("svv"),
        F.sum(F.col("_u") * F.col("_x")).alias("suv"),
        F.sum(F.col("_u") * F.col("_y")).alias("suy"),
        F.sum(F.col("_x") * F.col("_y")).alias("svy"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    muu = dbl("suu") - dbl("su") * dbl("su") / nd
    mvv = dbl("svv") - dbl("sv") * dbl("sv") / nd
    muv = dbl("suv") - dbl("su") * dbl("sv") / nd
    muy = dbl("suy") - dbl("su") * dbl("sy") / nd
    mvy = dbl("svy") - dbl("sv") * dbl("sy") / nd
    myy = dbl("syy") - dbl("sy") * dbl("sy") / nd
    det = muu * mvv - muv * muv
    rss_r = myy - muy * muy / muu
    rss_u = myy - (mvv * muy * muy - 2.0 * muv * muy * mvy
                   + muu * mvy * mvy) / det
    ok = (F.col("n") >= 4) & (muu > 0) & (det > 0)
    fstat = F.when(
        ok & (rss_u > 0),
        (rss_r - rss_u) * (nd - 3.0) / rss_u,
    )
    gain = F.when(ok & (rss_r > 0), (rss_r - rss_u) / rss_r)
    return a.select(
        "series_x",
        "series_y",
        F.col("n").alias("n_obs"),
        F.round(fstat * 1e6).cast("bigint").alias("f_e6"),
        F.round(gain * 1e6).cast("bigint").alias("gain_e6"),
    )


def changepoint_mean(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Single best MEAN-SHIFT changepoint per series (binary-
    segmentation step 1): over the bucket-mean sequence in epoch
    order, the split k (1 ≤ k < n) maximizing the between-segment
    SSE gain — equivalently gain(k) = (n·S_k − k·T)²/(k·(n−k)·n) in
    value² units, from prefix sums alone. Pettitt ranks (robust,
    answers WHETHER); this is the parametric sibling that answers
    WHERE the level moved and by HOW MUCH (mean_before/after), the
    alarm a capacity dashboard pages on.

    Exactness: bucket means on the e-`grid` integer grid → S_k, T
    exact bigints → every candidate's gain is the same handful of
    IEEE ops in both engines from identical integers; the argmax
    cannot flip by summation order (ties → earliest epoch, pinned).
    strength_e6 = gain/SSE_total (the R² of the one-break model);
    SSE_total ≤ 0 (constant series) ⇒ null strength, row kept.
    Series with n < 2 have no split and are dropped — honestly, not
    as a zero.

    Shapes: ONE bucket agg, then prefix/total sums over the buckets-
    bounded frame sharing a single (key) partitioning; argmax is a
    max_by struct agg, not a sort. No second shuffle."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    wall = Window.partitionBy("series_id")
    wpre = wall.orderBy("ep").rowsBetween(Window.unboundedPreceding, 0)
    p = b.select(
        "series_id",
        "ep",
        F.count("*").over(wall).alias("n"),
        F.sum("v").over(wall).alias("t"),
        F.sum(F.col("v") * F.col("v")).over(wall).alias("q"),
        F.sum("v").over(wpre).alias("s"),
        F.row_number().over(wall.orderBy("ep")).alias("k"),
    ).where(F.col("k") < F.col("n"))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    ad = (
        nd * F.col("s").cast("double") - kd * F.col("t").cast("double")
    )
    gain = ad * ad / (kd * (nd - kd) * nd)
    cand = p.select(
        "series_id",
        "n",
        "t",
        "q",
        "ep",
        "k",
        "s",
        gain.alias("_gain"),
    )
    best = cand.groupBy("series_id").agg(
        F.max("n").alias("n_buckets"),
        F.max("t").alias("_t"),
        F.max("q").alias("_q"),
        F.max_by(
            F.struct("ep", "k", "s", "_gain"),
            F.struct(F.col("_gain"), (-F.col("ep")).alias("nep")),
        ).alias("w"),
    )
    nd2 = F.col("n_buckets").cast("double")
    sst = (
        F.col("_q").cast("double")
        - F.col("_t").cast("double") * F.col("_t").cast("double") / nd2
    )
    kd2 = F.col("w.k").cast("double")
    mb = F.col("w.s").cast("double") / kd2
    ma = (F.col("_t") - F.col("w.s")).cast("double") / (nd2 - kd2)
    return best.select(
        "series_id",
        "n_buckets",
        F.col("w.ep").alias("cp_epoch"),
        F.col("w.k").alias("k_left"),
        F.round(F.col("w._gain") / (10.0 ** grid) / (10.0 ** grid) * 1e6)
        .cast("bigint")
        .alias("gain_e6"),
        F.when(sst > 0, F.round(F.col("w._gain") / sst * 1e6))
        .cast("bigint")
        .alias("strength_e6"),
        F.round(mb).cast("bigint").alias(f"mean_before_e{grid}"),
        F.round(ma).cast("bigint").alias(f"mean_after_e{grid}"),
    )


def sample_entropy(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    grid: int = 3,
    r_frac: float = 0.2,
) -> DataFrame:
    """SampEn(m=2, r=0.2·σ) per (series, day) over the day's hourly
    e-grid means: B = matching length-2 template pairs (i<j, Chebyshev
    distance ≤ r), A = the same pairs still matching at length 3,
    SampEn = −ln(A/B) — low = regular/predictable day, high = erratic;
    the template-matching complexity gauge next to perm_entropy's
    ordinal one (which ignores amplitude; SampEn is amplitude-aware).

    Exactness: values are exact e-grid ints; r = round(r_frac·σ_day)
    is an INT formed from exact sums through one shared IEEE tree, so
    every template comparison is integer arithmetic — the pair counts
    A and B cannot differ between engines by an ulp. Templates are
    gap-correct: (v_t, v_{t+1}[, v_{t+2}]) exists only when the next
    epoch(s) are exactly +3600 — a missing hour drops exactly the
    templates it breaks. A=0 or B=0 ⇒ null sampen (−ln 0 is not a
    number), row still emitted.

    Shapes: ONE bucket agg; lead-window template assembly and the
    i<j pair self-join both run per (series, day) — ≤24 rows → ≤276
    pairs per group, embarrassingly parallel at any corpus size."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        "hour", 10 ** grid,
    )
    b = b.withColumn("_day", F.col("ep") - F.col("ep") % 86400)
    w = Window.partitionBy("series_id", "_day").orderBy("ep")
    t = b.select(
        "series_id",
        "_day",
        "v",
        F.row_number().over(w).alias("_i"),
        F.when(
            F.lead("ep", 1).over(w) == F.col("ep") + 3600,
            F.lead("v", 1).over(w),
        ).alias("_v1"),
        F.when(
            (F.lead("ep", 1).over(w) == F.col("ep") + 3600)
            & (F.lead("ep", 2).over(w) == F.col("ep") + 7200),
            F.lead("v", 2).over(w),
        ).alias("_v2"),
    )
    nd = F.col("n").cast("double")
    stats = (
        b.groupBy("series_id", "_day")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("q"),
        )
        .select(
            "series_id",
            "_day",
            F.col("n").alias("n_buckets"),
            F.round(
                F.lit(r_frac)
                * F.sqrt(
                    F.col("q").cast("double") / nd
                    - (F.col("s").cast("double") / nd)
                    * (F.col("s").cast("double") / nd)
                )
            )
            .cast("bigint")
            .alias("r_grid"),
        )
    )
    lft = t.select(
        "series_id", "_day",
        F.col("_i").alias("_il"), F.col("v").alias("_vl"),
        F.col("_v1").alias("_v1l"), F.col("_v2").alias("_v2l"),
    )
    rgt = t.select(
        "series_id", "_day",
        F.col("_i").alias("_ir"), F.col("v").alias("_vr"),
        F.col("_v1").alias("_v1r"), F.col("_v2").alias("_v2r"),
    )
    pairs = (
        lft.join(rgt, ["series_id", "_day"])
        .where(F.col("_il") < F.col("_ir"))
        .join(stats.select("series_id", "_day", "r_grid"),
              ["series_id", "_day"])
    )
    bmatch = (
        F.col("_v1l").isNotNull()
        & F.col("_v1r").isNotNull()
        & (
            F.greatest(
                F.abs(F.col("_vl") - F.col("_vr")),
                F.abs(F.col("_v1l") - F.col("_v1r")),
            )
            <= F.col("r_grid")
        )
    )
    amatch = (
        bmatch
        & F.col("_v2l").isNotNull()
        & F.col("_v2r").isNotNull()
        & (F.abs(F.col("_v2l") - F.col("_v2r")) <= F.col("r_grid"))
    )
    cnt = pairs.groupBy("series_id", "_day").agg(
        F.sum(F.when(bmatch, 1).otherwise(0)).cast("bigint").alias("b_cnt"),
        F.sum(F.when(amatch, 1).otherwise(0)).cast("bigint").alias("a_cnt"),
    )
    out = stats.join(cnt, ["series_id", "_day"], "left")
    sampen = F.when(
        (F.col("a_cnt") > 0) & (F.col("b_cnt") > 0),
        -F.log(
            F.col("a_cnt").cast("double") / F.col("b_cnt").cast("double")
        ),
    )
    return out.select(
        "series_id",
        F.col("_day").alias("day_epoch"),
        "n_buckets",
        F.col("r_grid").alias("r_e3"),
        F.coalesce("b_cnt", F.lit(0)).cast("bigint").alias("b_cnt"),
        F.coalesce("a_cnt", F.lit(0)).cast("bigint").alias("a_cnt"),
        F.round(sampen * 1e6).cast("bigint").alias("sampen_e6"),
    )


def cointegration(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Engle-Granger cointegration screen for every ordered-distinct
    series pair: stage 1 fits y ~ α + β·x by OLS on the shared-epoch
    hourly means; stage 2 runs the no-intercept Dickey-Fuller
    regression Δe_t = ρ·e_{t−1} + ε on the stage-1 residuals and
    reports the DF t-statistic — strongly negative ⇒ the residual
    mean-reverts ⇒ the pair shares a long-run equilibrium (the
    pairs-trading / redundant-metric detector). Correlation says the
    LEVELS co-move; cointegration says the SPREAD is stationary —
    different question, different sums.

    Exactness: stage-1 sums are exact bigints on the e-grid; α, β are
    identical doubles in both engines; each residual e_t is the same
    IEEE tree from exact ints, then QUANTIZED back to the integer
    grid (round(e)) so the stage-2 lag products are again exact
    bigint sums — the two-stage pipeline never accumulates
    order-dependent float sums. Adjacency is epoch-exact (+step
    only). Guards: stage 1 needs n ≥ 3 and var(x) > 0; stage 2 needs
    m ≥ 3, Σl² > 0, s² > 0 — else null stats, row kept.

    Shapes: ONE bucket agg; pair frame = self-equi-join on epoch
    (pairs·buckets rows); per-pair sums twice; α/β rejoin is
    pairs-bounded broadcast. No window over raw rows."""
    step = C.TRUNC_S[trunc]
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    l = b.select(
        F.col("series_id").alias("series_a"), "ep",
        F.col("v").alias("_x"),
    )
    r = b.select(
        F.col("series_id").alias("series_b"), "ep",
        F.col("v").alias("_y"),
    )
    p = l.join(r, "ep").where(F.col("series_a") < F.col("series_b"))
    s1 = p.groupBy("series_a", "series_b").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    mxx = dbl("sxx") - dbl("sx") * dbl("sx") / nd
    mxy = dbl("sxy") - dbl("sx") * dbl("sy") / nd
    fit = s1.select(
        "series_a",
        "series_b",
        "n",
        F.when(mxx > 0, mxy / mxx).alias("beta"),
        F.when(mxx > 0, (dbl("sy") - (mxy / mxx) * dbl("sx")) / nd).alias(
            "alpha"
        ),
    )
    res = (
        p.join(F.broadcast(fit), ["series_a", "series_b"])
        .where(F.col("beta").isNotNull())
        .select(
            "series_a",
            "series_b",
            "ep",
            F.round(
                F.col("_y").cast("double")
                - F.col("alpha")
                - F.col("beta") * F.col("_x").cast("double")
            )
            .cast("bigint")
            .alias("_q"),
        )
    )
    w = Window.partitionBy("series_a", "series_b").orderBy("ep")
    d = res.select(
        "series_a",
        "series_b",
        F.when(
            F.lag("ep", 1).over(w) == F.col("ep") - step,
            F.col("_q") - F.lag("_q", 1).over(w),
        ).alias("_d"),
        F.when(
            F.lag("ep", 1).over(w) == F.col("ep") - step,
            F.lag("_q", 1).over(w),
        ).alias("_l"),
    ).where(F.col("_d").isNotNull())
    s2 = d.groupBy("series_a", "series_b").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.col("_l") * F.col("_d")).alias("sld"),
        F.sum(F.col("_l") * F.col("_l")).alias("sll"),
        F.sum(F.col("_d") * F.col("_d")).alias("sdd"),
    )
    md = F.col("m").cast("double")
    rho = dbl("sld") / dbl("sll")
    s2v = (dbl("sdd") - 2.0 * rho * dbl("sld") + rho * rho * dbl("sll")) / (
        md - 1.0
    )
    dft = rho / F.sqrt(s2v / dbl("sll"))
    ok = (F.col("m") >= 3) & (F.col("sll") > 0)
    out = fit.join(s2, ["series_a", "series_b"], "left")
    return out.select(
        "series_a",
        "series_b",
        F.col("n").alias("n_obs"),
        F.round(F.col("beta") * 1e6).cast("bigint").alias("beta_e6"),
        F.round(F.col("alpha")).cast("bigint").alias("alpha_e3"),
        F.coalesce("m", F.lit(0)).cast("bigint").alias("n_diffs"),
        F.when(ok, F.round(rho * 1e6)).cast("bigint").alias("rho_e6"),
        F.when(ok & (s2v > 0), F.round(dft * 1e6))
        .cast("bigint")
        .alias("df_t_e6"),
    )


def hjorth(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Hjorth parameters per series over the bucket-mean signal:
    activity = var(v) (the power), mobility = √(var(Δv)/var(v)) (the
    dominant-frequency proxy), complexity = √(var(Δ²v)/var(Δv)) /
    mobility (bandwidth / deviation-from-sine) — the three-number
    signal fingerprint EEG pipelines run, and exactly the summary a
    metric-similarity search wants before an expensive DTW.

    Differences are epoch-exact (Δ at +step only, Δ² needs both
    steps), so every sum is an exact bigint on the e-grid and the
    three finishers are one shared IEEE tree. Population variance;
    var ≤ 0 or too few rows ⇒ null for the ratios that need it,
    activity_e6 reported whenever n ≥ 2."""
    step = C.TRUNC_S[trunc]
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    w = Window.partitionBy("series_id").orderBy("ep")
    adj1 = F.lag("ep", 1).over(w) == F.col("ep") - step
    adj2 = adj1 & (F.lag("ep", 2).over(w) == F.col("ep") - 2 * step)
    t = b.select(
        "series_id",
        "v",
        F.when(adj1, F.col("v") - F.lag("v", 1).over(w)).alias("_d1"),
        F.when(
            adj2,
            F.col("v")
            - 2 * F.lag("v", 1).over(w)
            + F.lag("v", 2).over(w),
        ).alias("_d2"),
    )
    a = t.groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").alias("s0"),
        F.sum(F.col("v") * F.col("v")).alias("q0"),
        F.count("_d1").cast("bigint").alias("n1"),
        F.sum("_d1").alias("s1"),
        F.sum(F.col("_d1") * F.col("_d1")).alias("q1"),
        F.count("_d2").cast("bigint").alias("n2"),
        F.sum("_d2").alias("s2"),
        F.sum(F.col("_d2") * F.col("_d2")).alias("q2"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731

    def pvar(nc, sc, qc):
        ndd = dbl(nc)
        return dbl(qc) / ndd - (dbl(sc) / ndd) * (dbl(sc) / ndd)

    v0, v1, v2 = pvar("n", "s0", "q0"), pvar("n1", "s1", "q1"), pvar(
        "n2", "s2", "q2"
    )
    mob = F.when((F.col("n") >= 2) & (F.col("n1") >= 2) & (v0 > 0),
                 F.sqrt(v1 / v0))
    comp = F.when(
        (F.col("n1") >= 2) & (F.col("n2") >= 2) & (v1 > 0) & (v0 > 0),
        F.sqrt(v2 / v1) / F.sqrt(v1 / v0),
    )
    return a.select(
        "series_id",
        F.col("n").alias("n_buckets"),
        F.col("n1").alias("n_d1"),
        F.col("n2").alias("n_d2"),
        F.when(F.col("n") >= 2, F.round(v0)).cast("bigint").alias(
            "activity_e6"
        ),
        F.round(mob * 1e6).cast("bigint").alias("mobility_e6"),
        F.round(comp * 1e6).cast("bigint").alias("complexity_e6"),
    )


def turning_points(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Turning-point randomness test per series: T = # strict local
    maxima/minima among consecutive bucket triples (epoch order);
    under i.i.d. randomness E[T] = 2(n−2)/3, Var = (16n−29)/90,
    z = (T−E)/√Var. Too FEW turns ⇒ trend/persistence, too MANY ⇒
    oscillation — the third randomness lens next to runs_test's
    above/below-median clumping and ljung_box's autocorrelation mass
    (turning points see local shape those two cannot).

    Counts are exact integer comparisons of e-grid ints (ties are NOT
    turning points — strict, pinned); z is one shared IEEE tree.
    n < 3 ⇒ no triple ⇒ null z with n_turning 0, row kept."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    w = Window.partitionBy("series_id").orderBy("ep")
    prv, nxt = F.lag("v", 1).over(w), F.lead("v", 1).over(w)
    turn = F.when(
        prv.isNotNull()
        & nxt.isNotNull()
        & (
            ((prv < F.col("v")) & (nxt < F.col("v")))
            | ((prv > F.col("v")) & (nxt > F.col("v")))
        ),
        1,
    ).otherwise(0)
    a = b.select("series_id", turn.alias("_t")).groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum("_t").cast("bigint").alias("n_turning"),
    )
    nd = F.col("n_buckets").cast("double")
    td = F.col("n_turning").cast("double")
    z = F.when(
        F.col("n_buckets") >= 3,
        (td - 2.0 * (nd - 2.0) / 3.0)
        / F.sqrt((16.0 * nd - 29.0) / 90.0),
    )
    return a.select(
        "series_id",
        "n_buckets",
        "n_turning",
        F.round(z * 1e6).cast("bigint").alias("z_e6"),
    )


def hill_tail(
    df: DataFrame,
    key_col: str,
    value_col: str = "value",
    frac: float = 0.05,
    grid: int = 3,
) -> DataFrame:
    """Hill tail-index per series over RAW event values (peaks-over-
    threshold): order the values descending, k = floor(frac·n), and
    ξ = (1/k)·Σ_{i≤k} ln(x_(i)/x_(k+1)) — ξ ≈ 0 means thin
    exponential-ish tails, ξ large means power-law heaviness (the
    p99.9 you will actually see); α = 1/ξ is the Pareto exponent.
    Quantiles say where the tail STARTS; Hill says how fast it KEEPS
    GROWING — the capacity-planning number for timeouts and OOMs.

    Exactness: values on the e-grid; the threshold u = x_(k+1) is an
    exact order statistic (ties make the top-k multiset — and hence
    the sum — unique even though row ranks are not); each log term is
    PRE-QUANTIZED to a bigint round(1e9·ln(x/u)) so the per-series
    sum is an order-free exact integer (the session_nll trick) and ξ
    is one bigint ratio. Guards: a series with k = 0 (too small for
    the tail fraction) or u ≤ 0 (log needs a positive threshold)
    drops — there is no tail to index; ξ ≤ 0 ⇒ null α, row kept.

    Scale: the per-key descending sort IS the cost of any exact POT —
    one shuffle on the key; at 100 TB you would feed this the
    already-reduced tier table or accept the sort like the exact-
    quantile path does (ts_quantiles' GK twin is the flagged
    approximate alternative)."""
    scale = float(10 ** grid)
    v = df.where(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("series_id"),
        F.round(F.col(value_col) * scale).cast("bigint").alias("_v"),
    )
    w = Window.partitionBy("series_id").orderBy(F.desc("_v"))
    r = v.select(
        "series_id",
        "_v",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy("series_id")).alias("_n"),
    )
    k = F.floor(F.col("_n") * F.lit(frac)).cast("bigint")
    u = r.where(F.col("_rn") == k + 1).select(
        "series_id", F.col("_v").alias("_u")
    )
    top = (
        r.where(F.col("_rn") <= k)
        .join(u, "series_id")
        .where(F.col("_u") > 0)
        .select(
            "series_id",
            "_n",
            F.round(
                F.log(
                    F.col("_v").cast("double") / F.col("_u").cast("double")
                )
                * 1e9
            )
            .cast("bigint")
            .alias("_t9"),
            F.col("_u"),
        )
    )
    agg = top.groupBy("series_id").agg(
        F.max("_n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.max("_u").alias("u_grid"),
        F.sum("_t9").alias("_s9"),
    )
    xi = F.col("_s9").cast("double") / (
        F.col("k").cast("double") * 1e9
    )
    return agg.select(
        "series_id",
        "n",
        "k",
        F.col("u_grid").alias(f"u_e{grid}"),
        F.round(xi * 1e6).cast("bigint").alias("xi_e6"),
        F.when(xi > 0, F.round(1.0 / xi * 1e6))
        .cast("bigint")
        .alias("alpha_e6"),
    )


def esd_outliers(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
    rounds: int = 3,
) -> DataFrame:
    """Extreme Studentized Deviate outlier rounds per series (the
    core loop of Twitter's S-ESD detector): round r studentizes every
    remaining bucket against the CURRENT mean/sd, extracts the
    single most extreme point, REMOVES it, and recomputes — the
    recomputation is the whole point: a second outlier hides behind
    the first in any single-pass z-score (masking), and only removal
    un-masks it. Emits one row per (series, round) with the extracted
    epoch, value, studentized score, and the set size it was judged
    against. ts_anomaly_zscore / ts_robust_z are the single-pass
    views; this is the iterative one.

    Iteration is a DETERMINISTIC CHAINED PLAN, not a driver loop over
    data: each round's stats come from the previous round's exact
    bigint (n, Σv, Σv²) minus the extracted row's contribution, so
    every score in every round is the same IEEE tree from exact
    integers in both engines; argmax ties pin to the earliest epoch.
    A series leaves the cascade when n < 3 or sd ≤ 0 (nothing left to
    studentize) — later rounds simply have no row for it.

    Shapes: ONE bucket agg; per round, a key-equi join of the
    buckets-bounded frame against keys-bounded stats, one max_by agg,
    one anti join — `rounds` is a small constant, so the whole
    cascade is a fixed-depth plan with no corpus rescans."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    stats = b.groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    frame = b
    picks = []
    for r in range(1, rounds + 1):
        nd = F.col("n").cast("double")
        m = F.col("s").cast("double") / nd
        var = F.col("q").cast("double") / nd - m * m
        j = frame.join(stats, "series_id").where(
            (F.col("n") >= 3) & (var > 0)
        )
        score = F.abs(F.col("v").cast("double") - m) / F.sqrt(var)
        pick = j.groupBy("series_id").agg(
            F.max("n").alias("n_used"),
            F.max_by(
                F.struct(
                    F.col("ep"),
                    F.col("v"),
                    score.alias("sc"),
                ),
                F.struct(score, (-F.col("ep")).alias("nep")),
            ).alias("w"),
        )
        picks.append(
            pick.select(
                "series_id",
                F.lit(r).cast("bigint").alias("round"),
                F.col("w.ep").alias("epoch"),
                F.col("w.v").alias(f"v_e{grid}"),
                F.round(F.col("w.sc") * 1e6).cast("bigint").alias(
                    "score_e6"
                ),
                F.col("n_used"),
            )
        )
        if r < rounds:
            rem = pick.select(
                "series_id",
                F.col("w.ep").alias("ep"),
                F.col("w.v").alias("_pv"),
            )
            frame = frame.join(
                rem.select("series_id", "ep"), ["series_id", "ep"],
                "left_anti",
            )
            stats = (
                stats.join(rem.select("series_id", "_pv"), "series_id")
                .select(
                    "series_id",
                    (F.col("n") - 1).alias("n"),
                    (F.col("s") - F.col("_pv")).alias("s"),
                    (F.col("q") - F.col("_pv") * F.col("_pv")).alias("q"),
                )
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def burstiness(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
) -> DataFrame:
    """Goh-Barabási burstiness coefficient per series from RAW event
    interarrival gaps: B = (σ−μ)/(σ+μ) of the gap distribution —
    −1 = metronome-periodic, 0 = Poisson, →1 = heavy-tailed bursts.
    interarrival_stats reports the gap QUANTILES; B is the single
    bounded number you alert on and compare across series.

    Gaps are exact microsecond differences of the sorted event times
    (ties give exact 0 gaps regardless of tie order), floor-quantized
    to whole milliseconds so (n, Σg, Σg²) stay exact int64 well past
    10⁵ gaps per series at day-scale spans; μ, σ, B are then one
    shared IEEE tree. Series with < 2 events have no gap and drop;
    σ+μ = 0 (all events simultaneous) ⇒ null B, row kept."""
    w = Window.partitionBy("series_id").orderBy("_ts")
    g = (
        df.select(
            F.col(key_col).alias("series_id"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts"),
        )
        .select(
            "series_id",
            F.floor(
                (F.col("_ts") - F.lag("_ts", 1).over(w)).cast("double")
                / 1000.0
            )
            .cast("bigint")
            .alias("_g"),
        )
        .where(F.col("_g").isNotNull())
    )
    a = g.groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.sum("_g").alias("s"),
        F.sum(F.col("_g") * F.col("_g")).alias("q"),
    )
    nd = F.col("n_gaps").cast("double")
    mu = F.col("s").cast("double") / nd
    sd = F.sqrt(F.col("q").cast("double") / nd - mu * mu)
    b = F.when(sd + mu > 0, (sd - mu) / (sd + mu))
    return a.select(
        "series_id",
        "n_gaps",
        F.round(mu).cast("bigint").alias("mean_gap_ms"),
        F.round(b * 1e6).cast("bigint").alias("b_e6"),
    )


def apdex(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    threshold: float = 100.0,
    trunc: str = "day",
) -> DataFrame:
    """Apdex score per (series, bucket): satisfied (v ≤ T) count full,
    tolerating (T < v ≤ 4T) count half, frustrated count zero —
    apdex = (sat + tol/2)/n, the industry-standard latency SLO
    scalar. Counts are exact integers from pure predicates (one
    map-side-combined agg, whole-stage codegen); the score is one
    IEEE division. Null values are excluded (they are missing
    measurements, not frustrated users)."""
    t = float(threshold)
    b = df.where(F.col(value_col).isNotNull()).groupBy(
        F.col(key_col).alias("series_id"),
        F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias(
            "bucket_epoch"
        ),
    )
    a = b.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col(value_col) <= t, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sat"),
        F.sum(
            F.when(
                (F.col(value_col) > t) & (F.col(value_col) <= 4 * t), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_tol"),
    )
    score = (
        F.col("n_sat").cast("double")
        + F.col("n_tol").cast("double") / 2.0
    ) / F.col("n").cast("double")
    return a.select(
        "series_id",
        "bucket_epoch",
        "n",
        "n_sat",
        "n_tol",
        F.round(score * 1e6).cast("bigint").alias("apdex_e6"),
    )


def mann_kendall(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Mann-Kendall trend test per series: S = Σ_{i<j} sign(v_j − v_i)
    over time-ordered bucket pairs, z from the tie-corrected variance
    n(n−1)(2n+5)/18 − Σ_g t_g(t_g−1)(2t_g+5)/18 with the ±1
    continuity correction — THE nonparametric monotone-trend test of
    hydrology/climate work (the field the reference engine serves):
    no linearity assumption, outlier-robust, exact under ties.
    theil_sen reports the SLOPE; this reports whether a monotone
    trend exists at all. trend() is its parametric OLS sibling.

    S and every tie count are exact integers on the e-grid (sign
    comparisons of ints); z is one shared IEEE tree. n < 2 ⇒ null z;
    an all-tied series has S = 0, var 0 ⇒ null z, row kept.

    Shapes: ONE bucket agg; the pairwise frame is a buckets-bounded
    per-key self-join (b²/2 rows per series — fine at rollup-tier
    cardinality, the same budget as kendall_matrix); the tie agg is a
    second pass over the bounded bucket frame, same key partitioning."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    l = b.select(
        "series_id", F.col("ep").alias("_ei"), F.col("v").alias("_vi")
    )
    r = b.select(
        "series_id", F.col("ep").alias("_ej"), F.col("v").alias("_vj")
    )
    s = (
        l.join(r, "series_id")
        .where(F.col("_ei") < F.col("_ej"))
        .groupBy("series_id")
        .agg(
            F.sum(F.signum(F.col("_vj") - F.col("_vi")))
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        b.groupBy("series_id", "v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("series_id")
        .agg(
            F.count("*").cast("bigint").alias("n_values"),
            F.sum("t").cast("bigint").alias("n_buckets"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term"),
        )
    )
    out = ties.join(s, "series_id", "left")
    nd = F.col("n_buckets").cast("double")
    var = (
        nd * (nd - 1.0) * (2.0 * nd + 5.0)
        - F.col("tie_term").cast("double")
    ) / 18.0
    sd = F.col("s_stat").cast("double")
    z = F.when(
        (F.col("n_buckets") >= 2) & (var > 0),
        F.when(F.col("s_stat") > 0, (sd - 1.0) / F.sqrt(var))
        .when(F.col("s_stat") < 0, (sd + 1.0) / F.sqrt(var))
        .otherwise(F.lit(0.0)),
    )
    return out.select(
        "series_id",
        "n_buckets",
        "n_values",
        F.coalesce("s_stat", F.lit(0)).cast("bigint").alias("s_stat"),
        F.round(z * 1e6).cast("bigint").alias("z_e6"),
    )


def partial_corr(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """First-order partial correlation for every (x, y | z) triple of
    series: pcorr = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) on
    TRIPLE-complete bucket epochs — does x-y co-movement survive
    conditioning on a common driver z, or was z the whole story?
    corr_matrix reports the raw r the pair inherits from z; this is
    the confounder audit that says which edges of that matrix are
    real.

    All ten sums are exact e-grid bigints over the SAME epoch sample
    (all three series present — a proper partial correlation is
    meaningless across mismatched samples), so each r and the final
    ratio are one shared IEEE tree. Degenerate guards (n < 3, zero
    variance anywhere, |r_xz| or |r_yz| = 1) ⇒ null, row kept.

    Shapes: ONE bucket agg; two self-equi-joins on epoch build the
    triple frame (pairs·buckets-bounded); one triple-keyed agg."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    x = b.select(
        F.col("series_id").alias("series_x"), "ep",
        F.col("v").alias("_x"),
    )
    y = b.select(
        F.col("series_id").alias("series_y"), "ep",
        F.col("v").alias("_y"),
    )
    zc = b.select(
        F.col("series_id").alias("series_z"), "ep",
        F.col("v").alias("_z"),
    )
    tri = (
        x.join(y, "ep")
        .where(F.col("series_x") < F.col("series_y"))
        .join(zc, "ep")
        .where(
            (F.col("series_z") != F.col("series_x"))
            & (F.col("series_z") != F.col("series_y"))
        )
    )
    a = tri.groupBy("series_x", "series_y", "series_z").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum("_z").alias("sz"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_z")).alias("sxz"),
        F.sum(F.col("_y") * F.col("_z")).alias("syz"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
        F.sum(F.col("_z") * F.col("_z")).alias("szz"),
    )
    nd = F.col("n").cast("double")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731

    def mom(pq, p_, q_):
        return nd * dbl(pq) - dbl(p_) * dbl(q_)

    vx, vy, vz = mom("sxx", "sx", "sx"), mom("syy", "sy", "sy"), mom(
        "szz", "sz", "sz"
    )
    rxy = mom("sxy", "sx", "sy") / F.sqrt(vx * vy)
    rxz = mom("sxz", "sx", "sz") / F.sqrt(vx * vz)
    ryz = mom("syz", "sy", "sz") / F.sqrt(vy * vz)
    den = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    ok = (
        (F.col("n") >= 3) & (vx > 0) & (vy > 0) & (vz > 0)
    )
    pc = F.when(ok & (den > 0), (rxy - rxz * ryz) / F.sqrt(den))
    return a.select(
        "series_x",
        "series_y",
        "series_z",
        F.col("n").alias("n_obs"),
        F.when(ok, F.round(rxy * 1e6)).cast("bigint").alias("rxy_e6"),
        F.round(pc * 1e6).cast("bigint").alias("pcorr_e6"),
    )


def adf_test(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Dickey-Fuller unit-root test per series (lag-0, with
    intercept): Δv_t = α + ρ·v_{t−1} + ε over CONSECUTIVE bucket
    pairs (gap-correct — a missing hour contributes no pair), t-stat
    of ρ̂ strongly negative ⇒ the series mean-reverts (stationary),
    ≈ 0 ⇒ a unit root / random walk. Completes the econometrics set:
    cointegration runs the same regression on PAIR spreads with no
    intercept; ar1_half_life assumes stationarity — this TESTS it.

    x = v_{t−1} and y = Δv_t are exact e-grid bigints, so all five
    sums are exact and ρ̂ = mxy/mxx and
    t = ρ̂ / √((myy − mxy²/mxx) / ((n−2)·mxx)) are one shared IEEE
    tree from the same integers in both engines. Guards: n < 3,
    zero x-variance, or zero residual ⇒ null t, row kept.

    Shapes: ONE bucket agg, a per-key lag window on the bounded
    bucket frame (no self-join), one per-key agg."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    step = C.TRUNC_S[trunc]
    w = Window.partitionBy("series_id").orderBy("ep")
    pairs = (
        b.withColumn("_pep", F.lag("ep").over(w))
        .withColumn("_pv", F.lag("v").over(w))
        .where(F.col("_pep") == F.col("ep") - step)
        .select(
            "series_id",
            F.col("_pv").alias("_x"),
            (F.col("v") - F.col("_pv")).alias("_y"),
        )
    )
    a = pairs.groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    nd = F.col("n_obs").cast("double")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    mxx = nd * dbl("sxx") - dbl("sx") * dbl("sx")
    mxy = nd * dbl("sxy") - dbl("sx") * dbl("sy")
    myy = nd * dbl("syy") - dbl("sy") * dbl("sy")
    rho = mxy / mxx
    rssn = myy - mxy * mxy / mxx
    ok = (F.col("n_obs") >= 3) & (mxx > 0)
    t = F.when(
        ok & (rssn > 0),
        rho / F.sqrt(rssn / ((nd - 2.0) * mxx)),
    )
    return a.select(
        "series_id",
        "n_obs",
        F.when(ok, F.round(rho * 1e9)).cast("bigint").alias("rho_e9"),
        F.round(t * 1e6).cast("bigint").alias("adf_t_e6"),
    )


def seasonal_mann_kendall(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    grid: int = 3,
) -> DataFrame:
    """Seasonal Mann-Kendall per series with hour-of-day seasons —
    the hydrology-standard trend test for data with a diurnal cycle:
    sign pairs are formed ONLY within the same season (each hour's
    value today vs the same hour on other days), so a strong daily
    profile cannot dilute or fake a trend the way it can in plain
    mann_kendall. S = Σ_g S_g over the 24 seasons, var = Σ_g of the
    tie-corrected per-season variance, same ±1 continuity-corrected
    z (independence across seasons is the classic Hirsch-Slack
    assumption).

    Season = (ep/3600) mod 24 — pure epoch arithmetic, calendar- and
    TZ-free (the typical_day convention). S and every tie count are
    exact integers; z is one shared IEEE tree. All-tied or
    single-bucket seasons contribute S_g = 0, var_g = 0; a series
    whose EVERY season is degenerate gets null z, row kept.

    Shapes: ONE bucket agg; the pairwise frame is a per-(key, season)
    self-join — 24× smaller than plain MK's per-key pairs at equal
    span; tie agg on the same bounded bucket frame."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        "hour", 10 ** grid,
    )
    b = b.withColumn("_hod", (F.col("ep") / 3600 % 24).cast("int"))
    l = b.select(
        "series_id", "_hod", F.col("ep").alias("_ei"),
        F.col("v").alias("_vi"),
    )
    r = b.select(
        "series_id", "_hod", F.col("ep").alias("_ej"),
        F.col("v").alias("_vj"),
    )
    s = (
        l.join(r, ["series_id", "_hod"])
        .where(F.col("_ei") < F.col("_ej"))
        .groupBy("series_id")
        .agg(
            F.sum(F.signum(F.col("_vj") - F.col("_vi")))
            .cast("bigint")
            .alias("s_stat")
        )
    )
    pg = b.groupBy("series_id", "_hod", "v").agg(
        F.count("*").cast("bigint").alias("t")
    )
    gv = pg.groupBy("series_id", "_hod").agg(
        F.sum("t").cast("bigint").alias("ng"),
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .cast("bigint")
        .alias("tie_g"),
    )
    ties = gv.groupBy("series_id").agg(
        F.sum("ng").cast("bigint").alias("n_buckets"),
        F.count("*").cast("bigint").alias("n_seasons"),
        F.sum(
            F.col("ng") * (F.col("ng") - 1) * (2 * F.col("ng") + 5)
            - F.col("tie_g")
        )
        .cast("bigint")
        .alias("var18"),
    )
    out = ties.join(s, "series_id", "left")
    var = F.col("var18").cast("double") / 18.0
    sd = F.col("s_stat").cast("double")
    z = F.when(
        var > 0,
        F.when(F.col("s_stat") > 0, (sd - 1.0) / F.sqrt(var))
        .when(F.col("s_stat") < 0, (sd + 1.0) / F.sqrt(var))
        .otherwise(F.lit(0.0)),
    )
    return out.select(
        "series_id",
        "n_buckets",
        "n_seasons",
        F.coalesce("s_stat", F.lit(0)).cast("bigint").alias("s_stat"),
        F.round(z * 1e6).cast("bigint").alias("z_e6"),
    )


def matrix_profile_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    grid: int = 3,
    m: int = 4,
) -> DataFrame:
    """Matrix-profile discord + motif per (series, day) over the
    day's hourly e-grid means with window length m: every complete
    m-hour window's distance to its nearest NON-OVERLAPPING window
    (|start gap| ≥ m hours — the exclusion zone that stops a window
    matching its own shifted self), profile = that min; the DISCORD
    is the window with the LARGEST profile (the day's most unusual
    shape — the anomaly no point-wise z-score sees because every
    individual value is in range), the MOTIF is the closest window
    pair (the day's most repeated shape). The UCR matrix-profile
    quantity, exact: distances are Σ(aᵢ−bᵢ)² of e-grid bigints — no
    float exists anywhere in this operator, so argmax/argmin cannot
    drift. Ties → earliest epoch (pair: lexicographic earliest).

    Windows are gap-correct (missing hour ⇒ the windows it breaks
    don't exist, the sampen rule) and day-bounded: ≤ 21 windows ⇒
    ≤ 210 unordered pairs per (series, day) — embarrassingly
    parallel at any corpus size, the sampen/dtw budget. Days whose
    windows admit NO non-overlapping pair keep their row with null
    discord/motif (profile of nothing is not a number)."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        "hour", 10 ** grid,
    )
    b = b.withColumn("_dy", F.col("ep") - F.col("ep") % 86400)
    w = Window.partitionBy("series_id", "_dy").orderBy("ep")
    cols = [F.col("v").alias("_v0")]
    cond = F.lit(True)
    for i in range(1, m):
        cond = cond & (
            F.lead("ep", i).over(w) == F.col("ep") + i * 3600
        )
        cols.append(F.lead("v", i).over(w).alias(f"_v{i}"))
    wins = (
        b.select("series_id", "_dy", "ep", *cols, cond.alias("_ok"))
        .where(F.col("_ok"))
        .drop("_ok")
    )
    n_win = wins.groupBy("series_id", "_dy").agg(
        F.count("*").cast("bigint").alias("n_windows")
    )
    l = wins.select(
        "series_id", "_dy", F.col("ep").alias("_ea"),
        *[F.col(f"_v{i}").alias(f"_a{i}") for i in range(m)],
    )
    r = wins.select(
        "series_id", "_dy", F.col("ep").alias("_eb"),
        *[F.col(f"_v{i}").alias(f"_b{i}") for i in range(m)],
    )
    dist = sum(
        (F.col(f"_a{i}") - F.col(f"_b{i}"))
        * (F.col(f"_a{i}") - F.col(f"_b{i}"))
        for i in range(m)
    )
    directed = (
        l.join(r, ["series_id", "_dy"])
        .where(
            F.abs(F.col("_eb") - F.col("_ea")) >= m * 3600
        )
        .select(
            "series_id", "_dy", "_ea", "_eb",
            dist.cast("bigint").alias("_d"),
        )
    )
    prof = directed.groupBy("series_id", "_dy", "_ea").agg(
        F.min("_d").alias("_p")
    )
    discord = prof.groupBy("series_id", "_dy").agg(
        F.max(F.struct(F.col("_p"), (-F.col("_ea")).alias("_nea"))).alias(
            "_best"
        )
    )
    motif = (
        directed.where(F.col("_ea") < F.col("_eb"))
        .groupBy("series_id", "_dy")
        .agg(
            F.min(
                F.struct(F.col("_d"), F.col("_ea"), F.col("_eb"))
            ).alias("_m")
        )
    )
    out = (
        n_win.join(discord, ["series_id", "_dy"], "left")
        .join(motif, ["series_id", "_dy"], "left")
    )
    return out.select(
        "series_id",
        F.col("_dy").alias("day_epoch"),
        "n_windows",
        (-F.col("_best._nea")).cast("bigint").alias("discord_epoch"),
        F.col("_best._p").cast("bigint").alias("discord_dist"),
        F.col("_m._d").cast("bigint").alias("motif_dist"),
        F.col("_m._ea").cast("bigint").alias("motif_epoch_a"),
        F.col("_m._eb").cast("bigint").alias("motif_epoch_b"),
    )


def sen_slope_ci(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
    z_alpha: float = 1.96,
) -> DataFrame:
    """Sen's slope with its rank-based confidence interval per series
    — the estimator half of the Mann-Kendall package (MK says a
    monotone trend exists; this says HOW STEEP, with distribution-
    free bounds). Every pairwise slope (units/hour) is e6-quantized
    as ONE double expression round(1e6·Δv·3.6/Δt) of two exact
    bigints — correctly-rounded division, identical in both engines
    — so order statistics over the slope multiset are exact. The
    interval ranks follow Gilbert (1987): C = z·√var(S) with the MK
    tie-corrected variance, r_lo = max(1, ⌊(N−C)/2⌋),
    r_hi = min(N, ⌊(N+C)/2⌋+1); the median is the exact
    two-central-order-statistic SUM (sen2_e6 = s_⌈N/2⌉ + s_⌊N/2⌋+1,
    twice the median — the runs_test no-float-median rule).

    Shapes: ONE bucket agg; the pairwise frame is the mann_kendall
    per-key self-join; rank selection via one per-key sort window on
    the pairs-bounded frame. Series with <2 buckets keep their row
    with nulls."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    nb = b.groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n_buckets")
    )
    l = b.select(
        "series_id", F.col("ep").alias("_ei"), F.col("v").alias("_vi")
    )
    r = b.select(
        "series_id", F.col("ep").alias("_ej"), F.col("v").alias("_vj")
    )
    slopes = (
        l.join(r, "series_id")
        .where(F.col("_ei") < F.col("_ej"))
        .select(
            "series_id",
            F.round(
                (F.col("_vj") - F.col("_vi")).cast("double")
                * 3.6
                / (F.col("_ej") - F.col("_ei")).cast("double")
                * 1e6
            )
            .cast("bigint")
            .alias("_s"),
        )
    )
    ws = Window.partitionBy("series_id").orderBy("_s")
    ranked = slopes.select(
        "series_id", "_s", F.row_number().over(ws).alias("_rn")
    )
    ties = (
        b.groupBy("series_id", "v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("series_id")
        .agg(
            F.sum("t").cast("bigint").alias("nb2"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term"),
        )
    )
    nd = F.col("nb2").cast("double")
    var = (
        nd * (nd - 1.0) * (2.0 * nd + 5.0)
        - F.col("tie_term").cast("double")
    ) / 18.0
    stats = (
        ranked.groupBy("series_id")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .join(ties, "series_id")
        .select(
            "series_id",
            "n_pairs",
            F.floor(
                (
                    F.col("n_pairs").cast("double")
                    - F.lit(z_alpha) * F.sqrt(var)
                )
                / 2.0
            )
            .cast("bigint")
            .alias("_rlo0"),
            (
                F.floor(
                    (
                        F.col("n_pairs").cast("double")
                        + F.lit(z_alpha) * F.sqrt(var)
                    )
                    / 2.0
                )
                + 1
            )
            .cast("bigint")
            .alias("_rhi0"),
        )
        .select(
            "series_id",
            "n_pairs",
            F.greatest(F.lit(1).cast("bigint"), F.col("_rlo0")).alias(
                "_rlo"
            ),
            F.least(F.col("n_pairs"), F.col("_rhi0")).alias("_rhi"),
        )
    )
    j = ranked.join(stats, "series_id")
    med_lo = (F.col("n_pairs") + 1) / 2
    agg = j.groupBy("series_id", "n_pairs").agg(
        F.sum(
            F.when(
                (F.col("_rn") == F.floor(med_lo))
                | (F.col("_rn") == F.ceil(med_lo)),
                F.col("_s")
                * F.when(
                    F.floor(med_lo) == F.ceil(med_lo), 2
                ).otherwise(1),
            )
        )
        .cast("bigint")
        .alias("sen2_e6"),
        F.min(F.when(F.col("_rn") == F.col("_rlo"), F.col("_s")))
        .cast("bigint")
        .alias("ci_lo_e6"),
        F.min(F.when(F.col("_rn") == F.col("_rhi"), F.col("_s")))
        .cast("bigint")
        .alias("ci_hi_e6"),
    )
    return nb.join(agg, "series_id", "left").select(
        "series_id",
        "n_buckets",
        F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        "sen2_e6",
        "ci_lo_e6",
        "ci_hi_e6",
    )


def pareto_front(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pareto frontier (skyline) per group: the rows no other row in
    the group dominates, where b dominates a iff b.x ≥ a.x AND
    b.y ≥ a.y with at least one strict — "which hours were
    efficient" questions (most events AND most value) that single-
    metric top-k cannot answer.

    Plan shape: the naive formulation is an O(n²) dominance self-join;
    this one is (1) a per-(keys, x) best-y partial agg, (2) a running
    max over the DISTINCT-x frame from the strictly-greater-x side
    (row frame is exact there — one row per x), (3) one bounded join
    back. A point survives iff its y equals the best y at its own x
    and strictly exceeds every best-y at larger x. Exact duplicates
    do not dominate each other (no strict coordinate) and all
    survive — pinned in pytest. Integer metrics in, integer metrics
    out: nothing here can drift by an ulp."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(x_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    best = df.groupBy(*keys, x_col).agg(F.max(y_col).alias("_besty"))
    front_x = best.withColumn("_runmax", F.max("_besty").over(w)).where(
        F.col("_runmax").isNull() | (F.col("_runmax") < F.col("_besty"))
    )
    return (
        df.join(front_x, [*keys, x_col])
        .where(F.col(y_col) == F.col("_besty"))
        .drop("_besty", "_runmax")
    )


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Deterministic fixed-point PageRank over a weighted digraph
    `edges(src, dst, n)` — "which event type is structurally central
    to user journeys", where markov_transitions answers only the
    one-step question. Node sets here are type-vocabulary-bounded, so
    every frame below is tiny; the corpus-sized work happened
    upstream when the edges were counted.

    The classic formulation iterates doubles, whose Σ-over-in-edges
    order differs between engines; this one is FIXED-POINT e12 with
    floor division at every step (damping 17/20 applied as integer
    mul-then-div), so each iteration maps exact bigints to exact
    bigints — summands are integers (order-free), division is floor
    (deterministic), and the result cannot drift by an ulp anywhere.
    Dangling mass (out-degree-0 sinks) redistributes uniformly, the
    standard correction. iters is a fixed unrolled chain, not a
    driver loop.

    r6: every frame here is node-vocabulary-bounded, but the unrolled
    chain re-derived the whole lineage (including the caller's
    corpus-sized edge-count upstream) in every subtree of every
    iteration — the 3-iteration plan carried 728 Exchanges. The edge
    dim and the base frame are now cached, and each iteration's rank
    frame is lazily localCheckpoint-ed, which truncates the lineage
    so per-action planning and every subtree read stay O(nodes)
    (guide §5: localCheckpoint as the cheap lineage cut when fault
    tolerance of the intermediate is not critical — these frames are
    node-vocabulary-sized)."""
    e12 = 10**12
    edges = edges.cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ncnt = nodes.agg(F.count("*").cast("bigint").alias("n_nodes"))
    outn = edges.groupBy(F.col("src").alias("node")).agg(
        F.sum("n").alias("out_n")
    )
    base = (
        nodes.crossJoin(F.broadcast(ncnt))
        .join(outn, "node", "left")
        .select(
            "node", "n_nodes", F.coalesce("out_n", F.lit(0)).alias("out_n")
        )
    ).cache()
    r = base.withColumn("rank", F.expr(f"{e12} div n_nodes"))
    for _ in range(iters):
        r = r.localCheckpoint(eager=False)
        contrib = edges.join(
            r.select(
                F.col("node").alias("src"),
                F.col("rank").alias("_rs"),
                F.col("out_n").alias("_os"),
            ),
            "src",
        ).select("dst", F.expr("(_rs * n) div _os").alias("_c"))
        inflow = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("_c").alias("inflow")
        )
        dang = r.where(F.col("out_n") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).cast("bigint").alias("dang")
        )
        r = (
            base.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "n_nodes",
                "out_n",
                (
                    F.expr(f"(3 * {e12}) div (20 * n_nodes)")
                    + F.expr(
                        "(17 * (coalesce(inflow, cast(0 as bigint))"
                        " + (dang div n_nodes))) div 20"
                    )
                ).alias("rank"),
            )
        )
    return r.select("node", "out_n", F.col("rank").alias("rank_e12"))


def kruskal_dow(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Kruskal-Wallis H across day-of-week groups per series: do the
    seven weekday populations of bucket means share one distribution?
    The k-sample nonparametric ANOVA — mannwhitney_drift answers "did
    it shift between two halves", this answers "does the WEEK structure
    the series" without assuming normality (the rank-based sibling of
    the pivot_dow_hour / typical_day profile reports, but as a test
    statistic with a chi-square(k−1) reference, not a picture).

    Exactness pins (the mannwhitney_drift discipline): values are e6
    bucket means (bigint); ranks enter via the integer midrank
    identity m2 = 2·rank + t − 1, so each group's rank mass R2_g =
    Σ m2 is an exact integer and Σ R_g²/n_g = Σ R2_g²/(4·n_g); the
    weekday is integer calendar arithmetic on the bucket epoch
    ((ep div 86400 + 3) % 7, Monday = 0 — no engine dayofweek
    convention involved); H = 3·Σ(R2_g²/n_g)/(N(N+1)) − 3(N+1) and the
    tie correction C = 1 − Σ(t³−t)/(N³−N) are one fixed expression
    tree from those integers (≤7-term double sums, noise orders of
    magnitude below the e6 grain). All-tied series → C = 0 → null
    corrected H (honest); series with < 2 buckets are dropped.

    Scale shape: one bucket agg, rank windows on the SAME key
    partitioning, then every frame is keys- or keys×7-bounded — the
    standard keys×buckets lineage, single key shuffle."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wk = Window.partitionBy(*keys)
    r = b.select(
        *keys,
        "v",
        ((F.col("ep") / F.lit(86400)).cast("bigint") + 3).alias("_d"),
        (
            2 * F.rank().over(wk.orderBy("v"))
            + F.count("*").over(Window.partitionBy(*keys, "v"))
            - 1
        ).cast("bigint").alias("_m2"),
    ).withColumn("dow", F.pmod(F.col("_d"), F.lit(7)).cast("bigint"))
    g = r.groupBy(*keys, "dow").agg(
        F.count("*").cast("bigint").alias("_ng"),
        F.sum("_m2").alias("_r2g"),
    )
    s = g.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(
            F.col("_r2g").cast("double")
            * F.col("_r2g").cast("double")
            / F.col("_ng").cast("double")
        ).alias("_s4"),
        F.sum("_ng").cast("bigint").alias("n_buckets"),
    )
    ties = (
        b.groupBy(*keys, "v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy(*keys)
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("_ties")
        )
    )
    j = s.join(ties, keys).where(F.col("n_buckets") >= 2)
    n = F.col("n_buckets")
    h = (
        F.lit(3.0) * F.col("_s4") / (n * (n + 1)).cast("double")
        - F.lit(3.0) * (n + 1).cast("double")
    )
    c = F.lit(1.0) - F.col("_ties").cast("double") / (
        n * n * n - n
    ).cast("double")
    return j.select(
        *keys,
        "n_buckets",
        "n_groups",
        F.round(h * 1e6).cast("bigint").alias("h_e6"),
        F.when(c > 0, F.round(h / c * 1e6).cast("bigint")).alias("h_corr_e6"),
    )


def _complete_blocks(
    df: DataFrame, keys: list[str], ts_col: str, value_col: str, seg_s: int
) -> DataFrame:
    """The complete-block front end of friedman_dayparts and page_trend:
    (keys…, _blk, _seg, v, _k, _bn, _m2), one row per complete
    (block, segment) cell.

    - _blk is the UTC day and _seg the day's seg_s-wide segment, both
      integer epoch-microsecond arithmetic (no calendar function, no
      TZ exposure); v is the cell's e6-rounded mean of the non-null
      values;
    - _k is the series' observed segment count and _bn the block's;
      only blocks with _bn == _k survive;
    - _m2 = 2·rank + t − 1 is the block-local doubled midrank of v
      (t = the size of v's tie group), an exact bigint."""
    ep_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    b = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            *keys,
            (ep_us / F.lit(86400_000_000)).cast("bigint").alias("_blk"),
            (
                F.pmod(ep_us, F.lit(86400_000_000)) / F.lit(seg_s * 1_000_000)
            ).cast("bigint").alias("_seg"),
        )
        .agg(F.round(F.avg(value_col) * 1e6).cast("bigint").alias("v"))
    )
    k_s = F.size(F.collect_set("_seg").over(Window.partitionBy(*keys)))
    blk_n = F.count("*").over(Window.partitionBy(*keys, "_blk"))
    c = (
        b.withColumn("_k", k_s)
        .withColumn("_bn", blk_n)
        .where(F.col("_bn") == F.col("_k"))
    )
    wb = Window.partitionBy(*keys, "_blk")
    return c.withColumn(
        "_m2",
        (
            2 * F.rank().over(wb.orderBy("v"))
            + F.count("*").over(Window.partitionBy(*keys, "_blk", "v"))
            - 1
        ).cast("bigint"),
    )


def friedman_dayparts(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    seg_s: int = 21600,
) -> DataFrame:
    """Friedman blocked rank test per series: blocks are calendar days,
    treatments are the day's ``86400/seg_s`` fixed segments (default
    four 6-hour dayparts), value = per-(block, treatment) e6 mean. The
    repeated-measures sibling of kruskal_dow — Kruskal asks "do the
    weekday POPULATIONS differ", Friedman asks "within each day, do the
    dayparts rank consistently" with every day acting as its own
    control, so a level shift between days cannot fake (or hide) a
    diurnal ordering.

    Exactness pins: ranks enter via the block-local integer midrank
    identity m2 = 2·rank + t − 1 (exact bigints), and the tie-corrected
    statistic collapses to ONE exact rational: with R2_j = Σ_blocks m2,
    A2 = Σ m2², n complete blocks, k treatments,

        Q = (k−1) · Σ_j (R2_j − n(k+1))² / (A2 − n·k·(k+1)²)

    — numerator and denominator are exact bigints, so Q is one double
    division both engines form identically; Kendall's W = Q/(n(k−1))
    rides along as the effect size. All-tied blocks everywhere →
    denominator 0 → null Q (honest). Only COMPLETE blocks count
    (a day missing a daypart ranks nothing — the classic design rule);
    k is the series' observed treatment count, so a series that never
    logs nights is judged on the dayparts it has. Block/segment ids are
    pure integer epoch-microsecond arithmetic — no calendar function,
    no TZ exposure.

    Scale shape: one (keys, block, seg) partial agg off the corpus
    scan, rank windows on (keys, block), then every frame is keys- or
    keys×k-bounded. Single key shuffle lineage."""
    r = _complete_blocks(df, keys, ts_col, value_col, seg_s)
    per_t = r.groupBy(*keys, "_k", "_seg").agg(
        F.sum("_m2").alias("_r2"),
        F.sum(F.col("_m2") * F.col("_m2")).alias("_a2"),
        F.count("*").cast("bigint").alias("_n"),
    )
    s = per_t.groupBy(*keys, "_k").agg(
        F.max("_n").alias("n_blocks"),
        F.sum(
            (F.col("_r2") - F.col("_n") * (F.col("_k") + 1))
            * (F.col("_r2") - F.col("_n") * (F.col("_k") + 1))
        ).alias("_n2"),
        F.sum("_a2").alias("_a2s"),
    ).where((F.col("_k") >= 2) & (F.col("n_blocks") >= 1))
    k = F.col("_k").cast("bigint")
    d2 = F.col("_a2s") - F.col("n_blocks") * k * (k + 1) * (k + 1)
    qstat = (k - 1).cast("double") * F.col("_n2").cast("double") / d2.cast("double")
    return s.select(
        *keys,
        F.col("_k").cast("bigint").alias("k_treatments"),
        F.col("n_blocks"),
        F.when(d2 > 0, F.round(qstat * 1e6).cast("bigint")).alias("q_e6"),
        F.when(
            d2 > 0,
            F.round(
                qstat
                / (F.col("n_blocks") * (k - 1)).cast("double")
                * 1e6
            ).cast("bigint"),
        ).alias("w_e6"),
    )


def brown_forsythe_dow(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test across day-of-week
    groups per series: do the seven weekday populations of bucket
    means share one DISPERSION? The scale-question sibling of
    kruskal_dow (location) and runs_test (randomness) — a series can
    pass both and still be wildly more volatile on Mondays, which is
    exactly what this W statistic sees and a location test cannot.

    Levene's test with MEDIAN centers (the Brown–Forsythe variant —
    robust to the heavy tails event data actually has): z_ij =
    |v_ij − median_g|, W = ((N−k)/(k−1)) · SSB(z)/SSW(z).

    Exactness pins: bucket means enter on the e3 integer grid; each
    group median enters as the exact two-central-order-statistics sum
    med2 (the runs_test no-float-median rule), so z2 = |2v − med2| is
    an exact bigint and the per-group sums Z_g = Σz2, Q_g = Σz2² are
    exact. Cross-group sums of per-group RATIONALS would be summation-
    order-exposed, so each group's quadratic term enters pre-quantized:
    t1_g = round(1000·Z_g²/n_g) is one identical IEEE tree per group
    (the retrieval_eval pre-quantized-bigint rule), making SSW_m =
    1000·ΣQ_g − Σt1_g and SSB_m = Σt1_g − round(1000·(ΣZ_g)²/N) exact
    bigints both engines agree on bit-for-bit; W is one double ratio
    of those. The pre-quantization costs ≤ 0.5 quantum per group
    (≤ 3.5e-3 of the z² scale in SSB_m — deterministic, identical in
    both engines, pinned by the equal-dispersion test where SSB_m
    reads −1, not 0). Constant series → SSW = SSB = 0 → honest null W; k < 2
    or N ≤ k rows are dropped (no test exists). Weekday is integer
    epoch arithmetic ((ep div 86400 + 3) mod 7, Monday = 0) — no
    calendar function, no TZ exposure.

    Scale shape: one bucket partial agg off the corpus scan; the
    median order-statistic windows ride the SAME (keys, dow)
    partitioning; then keys×7- and keys-bounded aggs. Single key
    shuffle lineage."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e3).withColumn(
        "_g",
        F.pmod(
            (F.col("ep") / F.lit(86400)).cast("bigint") + 3, F.lit(7)
        ).cast("bigint"),
    )
    wg = Window.partitionBy(*keys, "_g")
    byv = wg.orderBy("v", "ep")
    r = b.select(
        *keys,
        "_g",
        "v",
        F.row_number().over(byv).alias("_rn"),
        F.count("*").over(wg).alias("_ng"),
    )
    p1 = (F.col("_ng") + 1) / 2
    p2 = F.col("_ng") / 2 + 1
    med2 = F.sum(
        F.when(F.col("_rn") == F.floor(p1), F.col("v")).otherwise(F.lit(0))
    ).over(wg) + F.sum(
        F.when(F.col("_rn") == F.floor(p2), F.col("v")).otherwise(F.lit(0))
    ).over(wg)
    z = r.select(
        *keys, "_g", F.abs(2 * F.col("v") - med2).cast("bigint").alias("_z2")
    )
    g = z.groupBy(*keys, "_g").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("_z2").alias("_zg"),
        F.sum(F.col("_z2") * F.col("_z2")).alias("_qg"),
    ).withColumn(
        "_t1g",
        F.round(
            F.col("_zg").cast("double")
            * F.col("_zg").cast("double")
            / F.col("_n").cast("double")
            * F.lit(1000.0)
        ).cast("bigint"),
    )
    s = g.groupBy(*keys).agg(
        F.sum("_n").alias("n_buckets"),
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("_zg").alias("_sz"),
        F.sum("_qg").alias("_sq"),
        F.sum("_t1g").alias("_t1"),
    ).where((F.col("k_groups") >= 2) & (F.col("n_buckets") > F.col("k_groups")))
    nn, kk = F.col("n_buckets"), F.col("k_groups")
    ssw = 1000 * F.col("_sq") - F.col("_t1")
    ssb = F.col("_t1") - F.round(
        F.col("_sz").cast("double")
        * F.col("_sz").cast("double")
        / nn.cast("double")
        * F.lit(1000.0)
    ).cast("bigint")
    w = (
        (nn - kk).cast("double")
        * ssb.cast("double")
        / ((kk - 1).cast("double") * ssw.cast("double"))
    )
    return s.select(
        *keys,
        "n_buckets",
        "k_groups",
        ssw.alias("ssw_m"),
        ssb.alias("ssb_m"),
        F.when(ssw > 0, F.round(w * 1e6).cast("bigint")).alias("w_e6"),
    )


def gini_hours(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Temporal concentration of activity per series: the Gini
    coefficient of hourly event counts over the series' FULL hourly
    grid — silent hours count as zeros (a series that fires 24/7 and
    one that dumps its whole volume into two hours can have the same
    total; this is the statistic that separates them). Rides with the
    top-decile share: the fraction of all events inside the busiest
    ⌈n/10⌉ grid hours — the "how bursty is the burst" companion the
    single scalar can hide. The inequality lens next to burstiness
    (interarrival shape) and dispersion_stats (Fano): those see gap
    STRUCTURE, this sees volume CONCENTRATION.

    Exactness: with the n grid hours' counts sorted ascending (zeros
    first — they contribute nothing to the weighted sum, so only the
    m observed hours need ranks, shifted by z = n − m),

        G = (2·(z·S + Σ rn·c) − (n+1)·S) / (n·S)

    — every term an exact bigint (counts, ranks, span), so G and the
    top-decile ratio are single double divisions. Rank ties among
    equal counts cannot move either sum (equal values are
    permutation-invariant under both weightings — the boundary-tie
    case is pinned). Single-hour series → G = 0 over n = 1 (no
    inequality measurable); series keep their row always.

    Scale shape: one (keys, hour) partial agg off the corpus scan,
    rank window on the SAME key partitioning over the hours-bounded
    frame, one keys-bounded final agg. Single key shuffle."""
    h = (
        df.groupBy(
            *keys,
            F.unix_timestamp(F.date_trunc("hour", F.col(ts_col))).alias("ep"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wk = Window.partitionBy(*keys)
    r = h.select(
        *keys,
        "c",
        F.row_number().over(wk.orderBy("c", "ep")).alias("_rn"),
        F.count("*").over(wk).alias("_m"),
        (
            (F.max("ep").over(wk) - F.min("ep").over(wk)) / 3600
        ).cast("bigint").alias("_span"),
    ).withColumn("_n", F.col("_span") + 1)
    d = (F.col("_n") + 9) / 10
    top_flag = F.col("_rn") > (F.col("_m") - F.floor(d))
    a = r.groupBy(*keys).agg(
        F.max("_n").alias("n_hours"),
        F.max("_m").cast("bigint").alias("n_active"),
        F.sum("c").alias("_s"),
        F.sum(F.col("_rn").cast("bigint") * F.col("c")).alias("_tr"),
        F.sum(F.when(top_flag, F.col("c")).otherwise(F.lit(0))).alias("_top"),
    )
    n, m, s = F.col("n_hours"), F.col("n_active"), F.col("_s")
    z = n - m
    gnum = 2 * (z * s + F.col("_tr")) - (n + 1) * s
    return a.select(
        *keys,
        "n_hours",
        "n_active",
        F.when(
            (n > 1) & (s > 0),
            F.round(gnum.cast("double") / (n * s).cast("double") * 1e6).cast(
                "bigint"
            ),
        ).otherwise(
            F.when(s > 0, F.lit(0)).cast("bigint")
        ).alias("gini_e6"),
        F.round(
            F.col("_top").cast("double") / s.cast("double") * 1e6
        ).cast("bigint").alias("top_decile_share_e6"),
    )


def welch_drift(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Welch's unequal-variance t test between the first and second
    half of each series' bucket history, with Cohen's d effect size
    and the Welch–Satterthwaite degrees of freedom — the parametric
    twin of mannwhitney_drift. The rank test answers "did the
    distribution shift"; this one quantifies the MEAN shift in
    standard-error units (t), how much data backs it (df), and whether
    the shift is practically large (d) — the three numbers an alerting
    threshold actually wants. Unequal variances are the norm after a
    regime change, hence Welch, not Student.

    Exactness pins: bucket means on the e3 grid (bigint); each half
    enters as three exact integers (n, S = Σv, Q = Σv²), variance
    numerators D2 = n·Q − S² are exact bigints, and t, df, and d are
    fixed IEEE trees over those integers — both engines cast the same
    bigints and must land the same doubles. Cohort split: bucket ranks
    1..n//2 vs the rest (the mannwhitney_drift pin). Degenerate paths:
    either half constant-only (D2 = 0 both sides → se 0) → null t/df;
    pooled variance 0 → null d; halves need ≥ 2 buckets each or the
    row is dropped.

    Scale shape: one bucket agg, one ordering window on the same key
    partitioning, one keys-bounded conditional agg. Single key
    shuffle."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e3)
    wk = Window.partitionBy(*keys)
    r = b.select(
        *keys,
        "v",
        F.row_number().over(wk.orderBy("ep")).alias("_i"),
        F.count("*").over(wk).alias("_n"),
    ).withColumn("_a", F.col("_i") <= F.floor(F.col("_n") / 2))
    g = r.groupBy(*keys).agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~F.col("_a"), 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("_a"), F.col("v")).otherwise(F.lit(0))).alias("_sa"),
        F.sum(F.when(~F.col("_a"), F.col("v")).otherwise(F.lit(0))).alias("_sb"),
        F.sum(
            F.when(F.col("_a"), F.col("v") * F.col("v")).otherwise(F.lit(0))
        ).alias("_qa"),
        F.sum(
            F.when(~F.col("_a"), F.col("v") * F.col("v")).otherwise(F.lit(0))
        ).alias("_qb"),
    ).where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("_sa").cast("double"), F.col("_sb").cast("double")
    da2 = (F.col("n_a") * F.col("_qa") - F.col("_sa") * F.col("_sa")).cast(
        "double"
    )
    db2 = (F.col("n_b") * F.col("_qb") - F.col("_sb") * F.col("_sb")).cast(
        "double"
    )
    va = da2 / (na * (na - 1))
    vb = db2 / (nb * (nb - 1))
    se2 = va / na + vb / nb
    diff = sa / na - sb / nb
    t = diff / F.sqrt(se2)
    dfw = (
        se2
        * se2
        / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1))
    )
    sp2 = (da2 / na + db2 / nb) / (na + nb - 2)
    return g.select(
        *keys,
        "n_a",
        "n_b",
        F.when(se2 > 0, F.round(t * 1e6).cast("bigint")).alias("t_e6"),
        F.when(se2 > 0, F.round(dfw * 1e6).cast("bigint")).alias("df_e6"),
        F.when(sp2 > 0, F.round(diff / F.sqrt(sp2) * 1e6).cast("bigint")).alias(
            "cohen_d_e6"
        ),
    )


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-square test of independence between two categorical
    columns, with Cramér's V effect size — the association audit for
    the calendar/category cross-tabs the pivot reports only draw:
    is event mix actually INDEPENDENT of weekday, or does the
    contingency structure carry signal? One global row: χ², dof, V.

    Exactness pins: observed counts and both marginals are exact
    bigints. Cells with o = 0 never appear in a groupBy frame yet
    still owe r·c/N to the statistic, so the engine uses the identity
    χ² = N·(Σ_observed o²/(r·c) − 1) — missing cells are accounted
    exactly without materializing the cross-product. Each observed
    cell's o²·N/(r·c) is one fixed IEEE tree over exact integers,
    PRE-QUANTIZED to an e6 bigint per cell before summing (the
    retrieval_eval rule: a 35-term double sum is summation-order-
    exposed, a bigint sum is not), then N·1e6 is subtracted as an
    exact bigint. χ²_e6 is therefore an exact bigint both engines
    agree on;
    V = sqrt(χ²/(N·min(R−1,C−1))) is one tree from it. Degenerate
    single-row or single-column tables → dof 0 → null V (honest).

    Scale shape: one map-side-combined (a,b) count off the corpus
    scan; everything after lives on the |A|×|B|-bounded cell frame
    (window marginals, one global agg) — the cells are control-plane
    at any corpus size.

    Null categories are excluded up front (r6 advice fix): they used
    to enter N/marginals/χ² as their own cells while collect_set
    dropped them from the table dimensions — an inconsistent
    statistic on data with null categories."""
    df = df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    cells = df.groupBy(a_col, b_col).agg(F.count("*").cast("bigint").alias("o"))
    wa = Window.partitionBy(a_col)
    wb = Window.partitionBy(b_col)
    wg = Window.partitionBy()
    c = cells.select(
        "o",
        F.sum("o").over(wa).alias("_r"),
        F.sum("o").over(wb).alias("_c"),
        F.sum("o").over(wg).alias("_n"),
        F.size(F.collect_set(a_col).over(wg)).cast("bigint").alias("_nr"),
        F.size(F.collect_set(b_col).over(wg)).cast("bigint").alias("_nc"),
    )
    od, rd = F.col("o").cast("double"), F.col("_r").cast("double")
    cd, nd = F.col("_c").cast("double"), F.col("_n").cast("double")
    term = od * od * nd / (rd * cd)
    a = (
        c.select(
            "_n",
            "_nr",
            "_nc",
            F.round(term * 1e6).cast("bigint").alias("_t6"),
        )
        .groupBy("_n", "_nr", "_nc")
        .agg(F.sum("_t6").alias("_s6"))
        .withColumn("chi2_e6", F.col("_s6") - F.col("_n") * F.lit(1_000_000))
    )
    m = F.least(F.col("_nr") - 1, F.col("_nc") - 1)
    v = F.sqrt(
        F.col("chi2_e6").cast("double")
        / 1e6
        / (F.col("_n") * m).cast("double")
    )
    return a.select(
        F.col("_n").alias("n_obs"),
        F.col("_nr").alias("n_rows"),
        F.col("_nc").alias("n_cols"),
        ((F.col("_nr") - 1) * (F.col("_nc") - 1)).alias("dof"),
        F.col("chi2_e6"),
        F.when(m > 0, F.round(v * 1e6).cast("bigint")).alias("cramers_v_e6"),
    )


def longest_run(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Longest above-median and below-median streaks per series — the
    regime-persistence LENGTH that runs_test's z only scores. The z
    says "too few runs to be random"; operations wants the follow-up
    number: how long did the longest excursion actually last (the
    worst sustained over/under-load window, in buckets). Same
    construction as runs_test, pinned identical: e6-grid bucket means,
    the exact two-central-order-statistics median cut, buckets tying
    the cut DROPPED, runs counted in bucket-epoch order — so this
    table and the z share one definition of "run" by construction.

    All outputs exact integers: runs are gaps-and-islands over the
    sign sequence (run id = cumulative start count — one lag + one
    running sum on the same key partitioning), lengths are counts,
    longest-up/down are maxes over the runs-bounded frame. Series
    with no above (or below) excursion report 0 for that side;
    all-tied series vanish (no sequence left — the runs_test rule).

    Scale shape: one bucket agg, order-statistic + lag + running-sum
    windows on the SAME key partitioning, then runs- and keys-bounded
    aggs. Single key shuffle."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wk = Window.partitionBy(*keys)
    byv = wk.orderBy("v", "ep")
    r = b.select(
        *keys,
        "ep",
        "v",
        F.row_number().over(byv).alias("_rn"),
        F.count("*").over(wk).alias("_nb"),
    )
    p1 = (F.col("_nb") + 1) / 2
    p2 = F.col("_nb") / 2 + 1
    med2 = F.sum(
        F.when(F.col("_rn") == F.floor(p1), F.col("v")).otherwise(F.lit(0))
    ).over(wk) + F.sum(
        F.when(F.col("_rn") == F.floor(p2), F.col("v")).otherwise(F.lit(0))
    ).over(wk)
    s = r.select(
        *keys, "ep", (2 * F.col("v") - med2).alias("_d")
    ).where(F.col("_d") != 0)
    byep = wk.orderBy("ep")
    lagd = F.lag("_d").over(byep)
    marked = s.select(
        *keys,
        "ep",
        (F.col("_d") > 0).alias("_up"),
        F.when(
            lagd.isNull() | ((F.col("_d") > 0) != (lagd > 0)), F.lit(1)
        ).otherwise(F.lit(0)).alias("_start"),
    ).withColumn("_rid", F.sum("_start").over(byep))
    runs = marked.groupBy(*keys, "_rid", "_up").agg(
        F.count("*").cast("bigint").alias("_len")
    )
    return runs.groupBy(*keys).agg(
        F.sum("_len").alias("n_kept"),
        F.count("*").cast("bigint").alias("n_runs"),
        F.coalesce(
            F.max(F.when(F.col("_up"), F.col("_len"))), F.lit(0)
        ).cast("bigint").alias("longest_up"),
        F.coalesce(
            F.max(F.when(~F.col("_up"), F.col("_len"))), F.lit(0)
        ).cast("bigint").alias("longest_down"),
    )


def extremal_index(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Runs-declustering extremal index per series: do the extreme
    hours arrive independently (θ ≈ 1) or in bursts (θ → 0)? The
    peaks-over-threshold companion to hill_tail — Hill says how HEAVY
    the tail is, θ says how CLUSTERED its arrivals are, and capacity
    planning needs both (ten scattered spikes and one ten-hour storm
    have the same tail weight and very different failure modes).

    Definition pins (all exact integers): threshold u = the order
    statistic at rank n − ⌊n/10⌋ of the e6-grid hourly means (so the
    exceedance set is the strict top decile; ties at u shrink it —
    deterministic both engines); exceedances in bucket-epoch order
    form one cluster while consecutive (adjacent-hour) — a gap of
    ≥ 2 hours starts a new cluster (runs declustering, run length 1);
    θ̂ = n_clusters / n_exceedances, the classic runs estimator.
    max_cluster rides along as the worst sustained storm length.
    Series with no strict exceedances (n < 10, or a tied top) drop
    out — there is no tail to decluster.

    Scale shape: one bucket agg, the order-statistic and lag windows
    on the SAME key partitioning, clusters- and keys-bounded aggs.
    Single key shuffle."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wk = Window.partitionBy(*keys)
    r = b.select(
        *keys,
        "ep",
        "v",
        F.row_number().over(wk.orderBy("v", "ep")).alias("_rn"),
        F.count("*").over(wk).alias("_n"),
    )
    u = F.sum(
        F.when(
            F.col("_rn") == F.col("_n") - F.floor(F.col("_n") / 10),
            F.col("v"),
        ).otherwise(F.lit(0))
    ).over(wk)
    exc = r.withColumn("_u", u).where(F.col("v") > F.col("_u"))
    byep = wk.orderBy("ep")
    lag_ep = F.lag("ep").over(byep)
    marked = exc.select(
        *keys,
        "ep",
        "_n",
        F.when(
            lag_ep.isNull() | (F.col("ep") - lag_ep > 3600), F.lit(1)
        ).otherwise(F.lit(0)).alias("_start"),
    ).withColumn("_cid", F.sum("_start").over(byep))
    clusters = marked.groupBy(*keys, "_cid").agg(
        F.count("*").cast("bigint").alias("_sz"),
        F.max("_n").alias("_nb"),
    )
    a = clusters.groupBy(*keys).agg(
        F.max("_nb").cast("bigint").alias("n_buckets"),
        F.sum("_sz").alias("n_exceed"),
        F.count("*").cast("bigint").alias("n_clusters"),
        F.max("_sz").alias("max_cluster"),
    )
    return a.select(
        *keys,
        "n_buckets",
        "n_exceed",
        "n_clusters",
        "max_cluster",
        F.round(
            F.col("n_clusters").cast("double")
            / F.col("n_exceed").cast("double")
            * 1e6
        ).cast("bigint").alias("theta_e6"),
    )


def record_counts(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Record statistics per series: how many hourly buckets set a new
    all-time HIGH (strict prefix maximum) or LOW, against the
    exchangeability expectation H_n = Σ 1/k. Under any i.i.d. /
    exchangeable sequence the k-th bucket is a record with probability
    exactly 1/k regardless of the distribution — so records ≫ H_n is
    drift evidence that needs NO distributional assumption, no grid,
    and no variance estimate: the cheapest trend alarm there is, and a
    cross-check on mann_kendall from a completely different angle
    (record times vs rank pairs).

    Exactness: records are strict running-max/min breaks (lag compare
    over epoch order — exact integer counts on e6 bucket means; the
    first bucket is a record by convention, ties do NOT break
    records); the expectation enters PRE-QUANTIZED per term
    (h_e9 = Σ_k round(1e9/k), the retrieval_eval rule — each term is
    one identical double division both engines round the same way, so
    the harmonic sum is an exact bigint; error ≤ n·5e-10). The
    up/expected ratio is one double division.

    Scale shape: one bucket agg, one running-extreme window on the
    same key partitioning, one keys-bounded agg. The harmonic term
    rides the SAME rows (round(1e9/rank) summed) — no series join, no
    generate_series."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wk = Window.partitionBy(*keys)
    byep = wk.orderBy("ep")
    prior = byep.rowsBetween(Window.unboundedPreceding, -1)
    r = b.select(
        *keys,
        "v",
        F.row_number().over(byep).alias("_k"),
        F.max("v").over(prior).alias("_pmax"),
        F.min("v").over(prior).alias("_pmin"),
    )
    up = F.when(
        F.col("_pmax").isNull() | (F.col("v") > F.col("_pmax")), 1
    ).otherwise(0)
    dn = F.when(
        F.col("_pmin").isNull() | (F.col("v") < F.col("_pmin")), 1
    ).otherwise(0)
    h = F.round(F.lit(1e9) / F.col("_k").cast("double")).cast("bigint")
    a = r.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(up).cast("bigint").alias("n_records_up"),
        F.sum(dn).cast("bigint").alias("n_records_down"),
        F.sum(h).alias("expected_e9"),
    )
    return a.select(
        *keys,
        "n_buckets",
        "n_records_up",
        "n_records_down",
        "expected_e9",
        F.round(
            F.col("n_records_up").cast("double")
            / (F.col("expected_e9").cast("double") / 1e9)
            * 1e6
        ).cast("bigint").alias("up_ratio_e6"),
    )


def qq_drift(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Quantile-quantile drift profile per series: for each decile,
    the exact order statistic of the FIRST half of the bucket history
    against the SECOND half — the WHERE of a distribution shift.
    ks_drift reports the worst single CDF gap, mannwhitney/welch give
    one shift scalar; this table says which PART of the distribution
    moved (tail-only drift, median shift, variance widening all have
    distinct decile signatures). The half split is the
    mannwhitney_drift pin (bucket ranks 1..n//2 vs rest).

    Entirely integer-exact — the only operator-free statistic in the
    drift family: values are e6-grid bucket means, each half's decile
    d enters as its exact order statistic at rank ⌈d·m/10⌉ (the
    nearest-rank upper convention; m = half size), and the shift is a
    bigint difference. No double exists anywhere. Halves need ≥ 1
    bucket each or the series is dropped.

    Scale shape: one bucket agg, the split + two rank windows on the
    SAME key partitioning, a 9-row constant explode on the halves-
    bounded frame, keys×9-bounded output. Single key shuffle."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wk = Window.partitionBy(*keys)
    r = b.select(
        *keys,
        "v",
        "ep",
        F.row_number().over(wk.orderBy("ep")).alias("_i"),
        F.count("*").over(wk).alias("_n"),
    ).withColumn(
        "_h", F.when(F.col("_i") <= F.floor(F.col("_n") / 2), 1).otherwise(2)
    )
    wh = Window.partitionBy(*keys, "_h")
    rr = r.select(
        *keys,
        "_h",
        "v",
        F.row_number().over(wh.orderBy("v", "ep")).alias("_rv"),
        F.count("*").over(wh).alias("_m"),
    )
    d = rr.select(
        *keys,
        "_h",
        "v",
        "_rv",
        "_m",
        F.explode(F.array(*[F.lit(x) for x in range(1, 10)])).alias("decile"),
    ).where(
        # nearest-rank upper: rank = ceil(d*m/10), exact in integers
        F.col("_rv") * 10 >= F.col("decile") * F.col("_m")
    ).where(
        (F.col("_rv") - 1) * 10 < F.col("decile") * F.col("_m")
    )
    picked = d.groupBy(*keys, "decile", "_h").agg(F.min("v").alias("_q"))
    a = picked.groupBy(*keys, "decile").agg(
        F.sum(F.when(F.col("_h") == 1, F.col("_q"))).alias("q_first_e6"),
        F.sum(F.when(F.col("_h") == 2, F.col("_q"))).alias("q_second_e6"),
    ).where(
        F.col("q_first_e6").isNotNull() & F.col("q_second_e6").isNotNull()
    )
    return a.select(
        *keys,
        F.col("decile").cast("bigint").alias("decile"),
        "q_first_e6",
        "q_second_e6",
        (F.col("q_second_e6") - F.col("q_first_e6")).alias("shift_e6"),
    )


def vol_clustering(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Volatility clustering (ARCH effect) per series: the lag-1
    autocorrelation of |Δv| over CONSECUTIVE hourly buckets — do big
    moves follow big moves? A series can pass every level-drift test
    while its TURBULENCE arrives in bursts (load thrash, retry storms,
    market-style vol clustering); acf sees the level's memory, this
    sees the volatility's. The |Δ| form (not Δ², the textbook ARCH
    regressor) is deliberate: absolute changes keep every moment sum
    inside int64 at the e3 grid where squared changes would need Σ r⁴
    (~1e24) — same positive-clustering signal, no overflow cliff.

    Exactness: Δ = v_t − v_{t−1} only where buckets are consecutive
    (gap-correct — a missing hour contributes no pair, the ts_adf
    rule); the five Pearson sums over (|Δ_t|, |Δ_{t−1}|) adjacent
    PAIRS of consecutive deltas are exact bigints, and r is the one
    shared IEEE finishing tree (n·Sxy − Sx·Sy)/sqrt((n·Sxx − Sx²)
    (n·Syy − Sy²)). Constant-|Δ| series → zero variance → honest null;
    n < 2 pairs dropped.

    Scale shape: one bucket agg + two lag windows on the same key
    partitioning + one keys-bounded agg. Single key shuffle."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e3)
    wk = Window.partitionBy(*keys)
    byep = wk.orderBy("ep")
    step = 3600
    d = b.select(
        *keys,
        "ep",
        F.when(
            F.col("ep") - F.lag("ep").over(byep) == step,
            F.abs(F.col("v") - F.lag("v").over(byep)),
        ).alias("_r"),
    ).where(F.col("_r").isNotNull())
    p = d.select(
        *keys,
        "ep",
        F.col("_r").alias("_y"),
        F.when(
            F.col("ep") - F.lag("ep").over(byep) == step,
            F.lag("_r").over(byep),
        ).alias("_x"),
    ).where(F.col("_x").isNotNull())
    a = p.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    ).where(F.col("n_pairs") >= 2)
    n = F.col("n_pairs")
    vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    r = num / F.sqrt(vx.cast("double") * vy.cast("double"))
    return a.select(
        *keys,
        "n_pairs",
        F.when((vx > 0) & (vy > 0), F.round(r * 1e6).cast("bigint")).alias(
            "arch_r_e6"
        ),
    )


def effective_sample_size(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
    max_lag: int = 6,
) -> DataFrame:
    """Autocorrelation-adjusted effective sample size per series:
    ESS = n / (1 + 2·Σ_{k≤K} ρ̂_k). Every monitor that quotes a
    confidence interval over bucket means silently assumes independent
    buckets; an hourly series with ρ₁ = 0.8 carries a fraction of the
    information its row count claims, and ESS is the correction factor
    those intervals need. The acf table shows the ρ's — this turns
    them into the one number the CI consumer uses.

    Determinism: each ρ̂_k comes from the gap-correct acf operator and
    enters PRE-QUANTIZED at e6 (the retrieval_eval rule — per-lag
    quantities are identical IEEE trees both engines round the same
    way, and the ≤ K-term sum of bigints is order-free). The
    denominator 1e6 + 2·Σρ_e6 and n are then exact integers; ESS and
    the ess/n ratio are single double divisions. Null-ρ lags (too few
    pairs / zero variance) contribute 0 (pinned). A denominator ≤ 0
    (pathological anti-correlation) emits an honest null ESS.

    Scale shape: acf's one corpus bucket agg + buckets-bounded lag
    join, a keys-bounded quantized sum, one join to the keys-bounded
    bucket counts."""
    b = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            *keys,
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("ep"),
        )
        .agg(F.count("*").alias("_c"))
        .groupBy(*keys)
        .agg(F.count("*").cast("bigint").alias("n_buckets"))
    )
    a = acf(
        df, keys, ts_col=ts_col, value_col=value_col, trunc=trunc,
        max_lag=max_lag,
    )
    s = a.groupBy(*keys).agg(
        F.sum(
            F.coalesce(
                F.round(F.col("acf") * 1e6).cast("bigint"), F.lit(0)
            )
        ).alias("_rho_sum_e6"),
        F.count("*").cast("bigint").alias("n_lags"),
    )
    j = b.join(s, keys)
    denom = F.lit(1_000_000) + 2 * F.col("_rho_sum_e6")
    ess = (
        F.col("n_buckets").cast("double")
        * 1e6
        / denom.cast("double")
    )
    return j.select(
        *keys,
        "n_buckets",
        "n_lags",
        F.col("_rho_sum_e6").alias("rho_sum_e6"),
        F.when(denom > 0, F.round(ess * 1e3).cast("bigint")).alias("ess_e3"),
        F.when(
            denom > 0,
            F.round(F.lit(1e12) / denom.cast("double")).cast("bigint"),
        ).alias("ess_ratio_e6"),
    )


def conformal_interval(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
    alpha_pct: int = 10,
) -> DataFrame:
    """Split-conformal prediction interval per series, with its
    MEASURED holdout coverage — distribution-free uncertainty for the
    naive persistence forecast (v̂_t = v_{t−1}). The anomaly monitors
    flag points outside a fitted band; conformal inverts the
    question: from the first half's |one-step residuals| alone, the
    quantile q̂ at rank ⌈(m+1)(1−α)⌉ guarantees ≥ 1−α coverage on
    exchangeable data NO MATTER the distribution — and the second
    half then measures whether that guarantee held, which is a drift
    test with a calibrated false-alarm rate built in.

    Entirely integer-exact (the qq_drift discipline): residuals are
    |Δv| over CONSECUTIVE buckets on the e6 grid (gap-correct, the
    ts_adf rule), q̂ is one exact order statistic of the calibration
    half (rank capped at m — the finite-sample clip), coverage is a
    count of test residuals ≤ q̂. No double exists except the two
    final ratios. Series need ≥ 1 residual per half or drop.

    Scale shape: one bucket agg, lag + split + rank windows on the
    SAME key partitioning, keys-bounded agg. Single key shuffle."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e6)
    wk = Window.partitionBy(*keys)
    byep = wk.orderBy("ep")
    step = C.TRUNC_S[trunc]
    r = b.select(
        *keys,
        "ep",
        F.when(
            F.col("ep") - F.lag("ep").over(byep) == step,
            F.abs(F.col("v") - F.lag("v").over(byep)),
        ).alias("_r"),
    ).where(F.col("_r").isNotNull())
    s = r.select(
        *keys,
        "ep",
        "_r",
        F.row_number().over(byep).alias("_i"),
        F.count("*").over(wk).alias("_n"),
    ).withColumn(
        "_cal", F.col("_i") <= F.floor(F.col("_n") / 2)
    )
    wc = Window.partitionBy(*keys, "_cal")
    ranked = s.select(
        *keys,
        "_cal",
        "_r",
        F.row_number().over(wc.orderBy("_r", "ep")).alias("_rv"),
        F.count("*").over(wc).alias("_m"),
    )
    # conformal rank: ceil((m+1)*(1-alpha)) clipped to m, in integers:
    # ceil(a/b) = (a + b - 1) div b with a = (m+1)*(100-alpha), b = 100
    tgt = F.least(
        F.floor(
            ((F.col("_m") + 1) * (100 - alpha_pct) + 99) / 100
        ).cast("int"),
        F.col("_m").cast("int"),
    )
    qhat = (
        ranked.where(F.col("_cal") & (F.col("_rv") == tgt))
        .select(*keys, F.col("_r").alias("qhat_e6"), F.col("_m").alias("n_cal"))
    )
    test = ranked.where(~F.col("_cal")).select(
        *keys, F.col("_r").alias("_rt")
    )
    j = test.join(qhat, keys)
    a = j.groupBy(*keys, "qhat_e6", "n_cal").agg(
        F.count("*").cast("bigint").alias("n_test"),
        F.sum(
            F.when(F.col("_rt") <= F.col("qhat_e6"), 1).otherwise(0)
        ).cast("bigint").alias("n_covered"),
    )
    return a.select(
        *keys,
        F.col("n_cal").cast("bigint").alias("n_cal"),
        "n_test",
        "qhat_e6",
        "n_covered",
        F.round(
            F.col("n_covered").cast("double")
            / F.col("n_test").cast("double")
            * 1e6
        ).cast("bigint").alias("coverage_e6"),
    )


def page_trend(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    seg_s: int = 21600,
) -> DataFrame:
    """Page's L test for ORDERED alternatives across dayparts: does
    activity increase monotonically through the day, day after day?
    Friedman asks "do the dayparts differ AT ALL" (any permutation of
    treatment effects scores the same); Page weights each treatment's
    rank sum by its position — L = Σ j·R_j — so only the hypothesized
    ORDERING earns a large statistic, which makes it far more powerful
    when the alternative really is monotone (load ramps, diurnal
    build-ups). Same complete-block construction as friedman_dayparts,
    pinned identical (e6 block means, integer midranks, epoch-us
    segment ids, complete blocks only, k = observed treatments).

    Exactness: L2 = Σ j·R2_j (midrank-doubled, exact bigint);
    E[L2] = n·k(k+1)²/2 exact; Var[L] = n·k²(k+1)(k²−1)/144 under H0,
    so z = (L2 − E[L2]) / (2·sqrt(var)) is one IEEE tree over exact
    integers. Under perfect per-block agreement with the segment
    order, L2 hits its maximum 2n·Σj·(2j... pinned numerically in the
    test instead. Ties follow the midrank convention; the all-tied
    degenerate has L2 = E[L2] → z = 0 (vacuously unordered). k < 2
    dropped; var > 0 always for k ≥ 2, n ≥ 1.

    Scale shape: identical lineage to friedman_dayparts — one
    (keys, block, seg) partial agg, block-local rank windows,
    keys-bounded finish."""
    # position j = the segment's 1-based rank among the series' observed
    # segments (dense over the observed set, so a series missing nights
    # still gets contiguous positions)
    wseg = Window.partitionBy(*keys).orderBy("_seg")
    r = _complete_blocks(df, keys, ts_col, value_col, seg_s).withColumn(
        "_j", F.dense_rank().over(wseg).cast("bigint")
    )
    per_t = r.groupBy(*keys, "_k", "_j").agg(
        F.sum("_m2").alias("_r2"),
        F.count("*").cast("bigint").alias("_n"),
    )
    s = per_t.groupBy(*keys, "_k").agg(
        F.max("_n").alias("n_blocks"),
        F.sum(F.col("_j") * F.col("_r2")).alias("_l2"),
    ).where(F.col("_k") >= 2)
    k = F.col("_k").cast("bigint")
    n = F.col("n_blocks")
    el2 = n * k * (k + 1) * (k + 1) / 2
    var = (
        (n * k * k * (k + 1) * (k * k - 1)).cast("double") / F.lit(144.0)
    )
    z = (F.col("_l2").cast("double") - el2.cast("double")) / (
        F.lit(2.0) * F.sqrt(var)
    )
    return s.select(
        *keys,
        F.col("_k").cast("bigint").alias("k_treatments"),
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
        F.col("_l2").alias("l2"),
        F.round(z * 1e6).cast("bigint").alias("z_e6"),
    )


def yule_walker_ar2(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """AR(2) fit per series via the Yule-Walker equations, from the
    gap-correct ACF alone — the oscillation detector the AR(1)
    half-life is structurally blind to. An AR(1) fit can only say how
    fast deviations DECAY; a control loop that overshoots, a retry
    storm that rings, or any negatively-fed-back metric needs the
    second-order fit, whose characteristic roots go COMPLEX exactly
    when the series oscillates. Yule-Walker closes the fit from two
    numbers the engine already produces:

        φ₁ = ρ₁(1 − ρ₂)/(1 − ρ₁²)     φ₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²)

    Determinism (the ess rule): ρ₁, ρ₂ enter PRE-QUANTIZED at e6 as
    bigints r1, r2, so with D = 1e12 − r1², A = r1·(1e6 − r2),
    B = r2·1e6 − r1², the fit becomes φ₁ = A/D, φ₂ = B/D — exact
    integer rationals, one double division each. Every VERDICT is an
    exact bigint sign test, no floating point anywhere near a
    boundary:
      · oscillatory  ⇔ the roots of z² − φ₁z − φ₂ are complex
                     ⇔ φ₁² + 4φ₂ < 0  ⇔  A² + 4·B·D < 0;
      · stationary   ⇔ the AR(2) triangle |φ₂| < 1, φ₁+φ₂ < 1,
                     φ₂−φ₁ < 1  ⇔  (D>0) B+D > 0 ∧ A+B < D ∧ B−A < D.
    When oscillatory, cos θ of the ringing angle (period = 2π/θ
    bucket steps) is φ₁/(2√(−φ₂)) — emitted as the fixed IEEE tree
    double(A)/double(D), divide / sqrt / multiply (all correctly-
    rounded ops over exactly-representable bigint inputs, so both
    engines produce the identical double), e6-rounded. θ itself would
    need acos, which libm does NOT guarantee identically — the cosine
    is the cross-engine-safe boundary, pinned.

    Series with either ρ missing (too few pairs / zero variance) or
    |ρ₁| = 1 after quantization (D ≤ 0: a degenerate 2-point or
    perfectly-linear series) emit honest nulls for the fit.

    Scale shape: exactly acf's — one corpus bucket agg, a buckets-
    bounded lag join at max_lag=2, then keys-bounded arithmetic."""
    a = acf(
        df, keys, ts_col=ts_col, value_col=value_col, trunc=trunc,
        max_lag=2,
    )
    r_e6 = F.round(F.col("acf") * 1e6).cast("bigint")
    p = a.groupBy(*keys).agg(
        F.max(F.when(F.col("lag") == 1, r_e6)).alias("r1_e6"),
        F.max(F.when(F.col("lag") == 2, r_e6)).alias("r2_e6"),
        F.max(F.when(F.col("lag") == 1, F.col("n_pairs"))).alias("n_pairs1"),
    )
    r1 = F.col("r1_e6")
    r2 = F.col("r2_e6")
    d = F.lit(1_000_000_000_000).cast("bigint") - r1 * r1
    aa = r1 * (F.lit(1_000_000).cast("bigint") - r2)
    bb = r2 * F.lit(1_000_000).cast("bigint") - r1 * r1
    ok = r1.isNotNull() & r2.isNotNull() & (d > 0)
    # A² + 4BD reaches ~4e24 (25 digits) — past int64, exact in
    # decimal(38,0); DuckDB's mirror uses HUGEINT for the same term.
    aa_d = aa.cast("decimal(38,0)")
    bb_d = bb.cast("decimal(38,0)")
    disc = aa_d * aa_d + F.lit(4).cast("decimal(38,0)") * bb_d * d
    osc = ok & (disc < 0)
    stat = ok & (bb + d > 0) & (aa + bb < d) & (bb - aa < d)
    phi1 = aa.cast("double") / d.cast("double")
    phi2 = bb.cast("double") / d.cast("double")
    cos_theta = phi1 / (F.lit(2.0) * F.sqrt(-phi2))
    return p.select(
        *keys,
        "n_pairs1",
        "r1_e6",
        "r2_e6",
        F.when(ok, F.round(phi1 * 1e6).cast("bigint")).alias("phi1_e6"),
        F.when(ok, F.round(phi2 * 1e6).cast("bigint")).alias("phi2_e6"),
        F.when(ok, stat.cast("bigint")).alias("stationary"),
        F.when(ok, osc.cast("bigint")).alias("oscillatory"),
        F.when(osc, F.round(cos_theta * 1e6).cast("bigint")).alias(
            "cos_theta_e6"
        ),
    )


def markov_entropy(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Conditional next-event entropy per state of the session-bounded
    event-type Markov chain — the predictability number the transition
    MATRIX only implies. A state whose outgoing row concentrates on one
    next type (H → 0) is mechanical flow a funnel can rely on; a state
    near the uniform ceiling ln(k) is a genuine decision point; an H
    that MOVES week-over-week is a behavior change no single cell
    shows. Uses the maximum-likelihood plug-in on the empirical row
    distribution:

        H_i = Σ_j (n_ij/n_i·) · ln(n_i·/n_ij)        (nats)

    Determinism: transition counts reuse markov_transitions' pinned
    construction exactly (order by (ts, event_id), 1800 s session
    bound, self-transitions count). Each per-cell term is one IEEE
    tree over exact bigints — divide, ln, multiply — PRE-QUANTIZED to
    an e6 bigint before the per-state sum (the retrieval_eval rule:
    the sum is then order-free), so h_e6 is an exact bigint both
    engines agree on. The uniform-normalized h/ln(k) is one further
    division (null at k = 1 — a deterministic state has no ceiling).
    exp/acos never appear; ln is the one libm call, absorbed at e6
    (the idf precedent).

    Scale shape: one lag window on the user partitioning, one
    map-side-combined count agg to the types²-bounded frame, then
    types-bounded arithmetic. Same single-key-shuffle lineage as
    sessionize/markov_transitions."""
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    p = events.select(
        F.col(type_col).alias("to_type"),
        F.lag(type_col).over(w).alias("from_type"),
        (
            F.unix_timestamp(F.col(ts_col))
            - F.unix_timestamp(F.lag(ts_col).over(w))
        ).alias("_gap"),
    ).where(F.col("from_type").isNotNull() & (F.col("_gap") <= gap_s))
    c = p.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    nf = F.sum("n").over(Window.partitionBy("from_type"))
    term = F.round(
        F.col("n").cast("double")
        / nf.cast("double")
        * F.log(nf.cast("double") / F.col("n").cast("double"))
        * 1e6
    ).cast("bigint")
    cells = c.select("from_type", nf.alias("_nf"), term.alias("_t"))
    g = cells.groupBy("from_type").agg(
        F.max("_nf").cast("bigint").alias("n_from"),
        F.count("*").cast("bigint").alias("k_next"),
        F.sum("_t").alias("h_e6"),
    )
    k = F.col("k_next")
    return g.select(
        "from_type",
        "n_from",
        "k_next",
        "h_e6",
        F.when(
            k > 1,
            F.round(
                F.col("h_e6").cast("double") / F.log(k.cast("double"))
            ).cast("bigint"),
        ).alias("norm_h_e6"),
    )


def kaplan_meier(
    events: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    bucket_s: int = 60,
) -> DataFrame:
    """Kaplan-Meier survival curve of inter-event waiting times per
    event type, with RIGHT CENSORING — the estimator that answers
    "how long until this user does X again" without the bias every
    naive mean-gap computation carries: a user who simply hasn't
    re-triggered yet contributes an observed LOWER BOUND (their gap
    to the observation end, censored), not a missing value, and
    dropping them systematically underestimates long waits. Classic
    KM: at each death time t (ascending),

        S(t) = Π_{t_j ≤ t} (1 − d_j / n_j)

    with d_j = waits ending in a real next event at t_j and n_j =
    waits (censored or not) still ≥ t_j. Deaths-before-censoring at
    ties, the standard convention, pinned.

    Determinism: gaps are integer seconds (floor-epoch both engines)
    bucketed to integer `bucket_s` grid cells; d, n and the at-risk
    reverse-cumulative are exact bigints; each factor enters log-space
    as one pre-quantized e6 term round(ln((n−d)/n)·1e6) so the running
    sum logS is an exact bigint (order-free — the ess rule), and
    S = exp(logS/1e6) is one final libm call absorbed at e6. A death
    time where everyone at risk dies (n = d — only possible at the
    maximal death time) reads S = 0 exactly with an honest-null logS
    instead of ln(0).

    Scale shape: one lead window on the (type, user) stream
    partitioning, the observation end as a broadcast 1-row frame, a
    map-side-combined (type, bucket) agg, then windows on that
    bounded frame. One corpus shuffle."""
    ep = F.unix_timestamp(F.col(ts_col))
    w = Window.partitionBy(type_col, user_col).orderBy(
        F.asc(ts_col), F.asc(id_col)
    )
    end = events.agg(F.max(ep).alias("_end"))
    g = (
        events.select(
            type_col,
            user_col,
            ep.alias("_ep"),
            F.lead(ep).over(w).alias("_nxt"),
        )
        .crossJoin(F.broadcast(end))
        .select(
            type_col,
            F.floor(
                (F.coalesce(F.col("_nxt"), F.col("_end")) - F.col("_ep"))
                / F.lit(bucket_s)
            )
            .cast("bigint")
            .alias("t"),
            F.col("_nxt").isNotNull().cast("bigint").alias("_death"),
        )
    )
    per_t = g.groupBy(type_col, "t").agg(
        F.sum("_death").alias("d"),
        F.count("*").cast("bigint").alias("_m"),
    )
    wk = Window.partitionBy(type_col)
    n_risk = F.sum("_m").over(
        wk.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = per_t.select(
        type_col, "t", "d", n_risk.alias("n_risk")
    ).where(F.col("d") > 0)
    term = F.when(
        F.col("n_risk") > F.col("d"),
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1e6
        ).cast("bigint"),
    )
    logs = F.sum(term).over(
        wk.orderBy(F.asc("t")).rowsBetween(Window.unboundedPreceding, 0)
    )
    dead_all = F.max((F.col("d") == F.col("n_risk")).cast("int")).over(
        wk.orderBy(F.asc("t")).rowsBetween(Window.unboundedPreceding, 0)
    )
    return scored.select(
        type_col,
        "t",
        "d",
        "n_risk",
        F.when(dead_all == 0, logs).alias("logs_e6"),
        F.when(dead_all == 1, F.lit(0).cast("bigint"))
        .otherwise(F.round(F.exp(logs.cast("double") / 1e6) * 1e6).cast("bigint"))
        .alias("s_e6"),
    )


def kpss_test(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """KPSS level-stationarity statistic per series — the
    COMPLEMENTARY null to adf_test: ADF's null is a unit root (small
    |t| = cannot reject random walk), KPSS's null is stationarity
    (LARGE eta = reject level-stationarity), so the pair classifies
    every series into the four-quadrant stationary / unit-root /
    trend-ambiguous / over-differenced table that neither test alone
    supports. eta = Σ_t S_t² / (n²·σ̂²) with S_t the partial sums of
    the demeaned series and σ̂² the residual variance (the classic
    lag-0 / iid-errors form; bandwidth-0 keeps every term exact).

    Exactness: buckets are e-grid bigints over the series' observed
    bucket sequence in time order (ordinal in time, the runs_test /
    records convention — a missing hour compresses, it does not
    break the partial sum). With T = Σv and C_t the inclusive
    cumulative sum, n·S_t = n·C_t − t·T is an EXACT bigint and so is
    the residual numerator n·e_t = n·v_t − T; each quadratic enters
    pre-quantized — den += round(((n·v_t−T)/n)²), num +=
    round(((n·C_t−t·T)/n)²/n) — one fixed IEEE tree over exact
    integers per term, so both sums are order-free exact bigints and
    eta = num/den is one final division, absorbed at e6. Constant
    series (den = 0) emit an honest null, row kept.

    Shapes: ONE bucket agg, two windows on the bounded bucket frame
    (per-key cumsum + per-key totals), one per-key agg."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    wo = Window.partitionBy("series_id").orderBy("ep")
    wa = Window.partitionBy("series_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = b.select(
        "series_id",
        F.col("v"),
        F.row_number().over(wo).alias("_i"),
        F.sum("v").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_c"),
        F.sum("v").over(wa).alias("_t"),
        F.count("*").over(wa).alias("_n"),
    )
    nn = F.col("_n").cast("double")
    e_t = (F.col("_n") * F.col("v") - F.col("_t")).cast("double") / nn
    s_t = (F.col("_n") * F.col("_c") - F.col("_i") * F.col("_t")).cast(
        "double"
    ) / nn
    a = r.groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum(F.round(e_t * e_t).cast("bigint")).alias("_den"),
        F.sum(F.round(s_t * s_t / nn).cast("bigint")).alias("_num"),
    )
    return a.select(
        "series_id",
        "n_obs",
        F.when(
            (F.col("n_obs") >= 2) & (F.col("_den") > 0),
            F.round(
                F.col("_num").cast("double")
                / F.col("_den").cast("double")
                * 1e6
            ).cast("bigint"),
        ).alias("kpss_e6"),
    )


def anova_dow(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """One-way ANOVA F across day-of-week groups per series, with
    eta² effect size — the parametric LOCATION test that completes
    the weekday triptych: kruskal_dow asks the rank question (any
    distributional shift), brown_forsythe_dow the scale question
    (equal dispersion), this one the mean question with the effect
    size a capacity plan actually consumes (eta² = the fraction of
    hourly-mean variance the weekday explains — 'is Monday a
    different workload, and by how much of the total').

    F = ((N−k)/(k−1))·SSB/SSW on the e3 bucket means directly.
    Exactness follows the brown_forsythe rules verbatim: per-group
    Z_g = Σv and Q_g = Σv² are exact bigints; each group's quadratic
    enters pre-quantized t1_g = round(1000·Z_g²/n_g) (one identical
    IEEE tree per group), so SSW_m = 1000·ΣQ_g − Σt1_g and SSB_m =
    Σt1_g − round(1000·(ΣZ_g)²/N) are exact bigints bit-identical in
    both engines; F and eta² = SSB/(SSB+SSW) are single double
    ratios. Perfect separation (SSW = 0) reads eta² = 1 exactly with
    an honest-null F (infinite has no number); constant series read
    null/null. Weekday is pure epoch arithmetic ((ep div 86400 + 3)
    mod 7, Monday = 0) — no calendar function, no TZ exposure. k < 2
    or N ≤ k rows are dropped (no test exists).

    Scale shape: one bucket partial agg off the corpus scan, then
    keys×7- and keys-bounded aggs. Single key shuffle lineage."""
    b = _buckets(df, keys, ts_col, value_col, trunc, 1e3).withColumn(
        "_g",
        F.pmod(
            (F.col("ep") / F.lit(86400)).cast("bigint") + 3, F.lit(7)
        ).cast("bigint"),
    )
    g = b.groupBy(*keys, "_g").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("v").alias("_zg"),
        F.sum(F.col("v") * F.col("v")).alias("_qg"),
    ).withColumn(
        "_t1g",
        F.round(
            F.col("_zg").cast("double")
            * F.col("_zg").cast("double")
            / F.col("_n").cast("double")
            * F.lit(1000.0)
        ).cast("bigint"),
    )
    s = g.groupBy(*keys).agg(
        F.sum("_n").alias("n_buckets"),
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("_zg").alias("_sz"),
        F.sum("_qg").alias("_sq"),
        F.sum("_t1g").alias("_t1"),
    ).where((F.col("k_groups") >= 2) & (F.col("n_buckets") > F.col("k_groups")))
    nn, kk = F.col("n_buckets"), F.col("k_groups")
    ssw = 1000 * F.col("_sq") - F.col("_t1")
    ssb = F.col("_t1") - F.round(
        F.col("_sz").cast("double")
        * F.col("_sz").cast("double")
        / nn.cast("double")
        * F.lit(1000.0)
    ).cast("bigint")
    f = (
        (nn - kk).cast("double")
        * ssb.cast("double")
        / ((kk - 1).cast("double") * ssw.cast("double"))
    )
    eta2 = ssb.cast("double") / (ssb + ssw).cast("double")
    return s.select(
        *keys,
        "n_buckets",
        "k_groups",
        ssw.alias("ssw_m"),
        ssb.alias("ssb_m"),
        F.when(ssw > 0, F.round(f * 1e6).cast("bigint")).alias("f_e6"),
        F.when(ssb + ssw > 0, F.round(eta2 * 1e6).cast("bigint")).alias(
            "eta2_e6"
        ),
    )


def attribution_linear(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    touch_type: str = "click",
    conv_type: str = "purchase",
    window_s: int = 3600,
) -> DataFrame:
    """Multi-touch attribution: every conversion splits one unit of
    credit EQUALLY across the user's touches inside the lookback
    window (t_conv − W, t_conv], reported per touch HOUR next to the
    first-touch and last-touch counts — the three models a marketing
    read actually compares, off one matched frame so they cannot
    disagree on what 'in the window' means. funnel/asof answer
    did-it-convert and which-single-touch; this one answers how much
    each hour's touches are WORTH when conversions have many parents.

    Window boundaries pinned: a touch exactly AT the conversion
    counts, a touch exactly W before it does not ((t_c > t_p − W) ∧
    (t_c ≤ t_p), integer-second epochs). First/last inside a
    conversion's window tie-break by (ts, event_id) — deterministic
    under duplicate timestamps. Per-conversion credit enters
    pre-quantized round(1e6/k) (one IEEE division over exact ints),
    so every hourly sum is an exact bigint; a conversion with k
    touches contributes k·round(1e6/k) ≈ 1e6 (the ≤k/2-µunit
    remainder is deterministic, identical in both engines).
    Conversions with NO in-window touch match nothing and drop out —
    the funnel pair owns that count.

    Scale shape: never an inequality-only join — touches bucket to
    floor(ep/W), conversions explode to their TWO covering buckets
    (fanout exactly 2), one (user, bucket) hash shuffle, the exact
    range predicate filters inside cells (the interval_join rule);
    then a per-conversion window on the bounded matched frame and an
    hours-bounded agg."""
    ep = F.unix_timestamp(F.col(ts_col)).cast("bigint")
    t = events.where(F.col(type_col) == touch_type).select(
        F.col(user_col).alias("_u"),
        ep.alias("_tc"),
        F.col(id_col).alias("_tid"),
        (ep - F.pmod(ep, F.lit(window_s))).alias("_bkt"),
    )
    c = events.where(F.col(type_col) == conv_type).select(
        F.col(user_col).alias("_u"),
        ep.alias("_tp"),
        F.col(id_col).alias("_cid"),
        F.explode(
            F.array(
                ep - F.pmod(ep, F.lit(window_s)),
                ep - F.pmod(ep, F.lit(window_s)) - window_s,
            )
        ).alias("_bkt"),
    )
    m = t.join(c, ["_u", "_bkt"]).where(
        (F.col("_tc") > F.col("_tp") - window_s)
        & (F.col("_tc") <= F.col("_tp"))
    )
    wc = Window.partitionBy("_cid")
    wfirst = wc.orderBy(F.asc("_tc"), F.asc("_tid"))
    k = F.count("*").over(wc)
    rn = F.row_number().over(wfirst)
    scored = m.select(
        "_tc",
        F.round(F.lit(1e6) / k).cast("bigint").alias("_credit"),
        (rn == 1).cast("bigint").alias("_is_first"),
        (rn == k).cast("bigint").alias("_is_last"),
    )
    return (
        scored.groupBy(
            (F.col("_tc") - F.pmod(F.col("_tc"), F.lit(3600))).alias(
                "touch_hour_ep"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_touch"),
            F.sum("_credit").alias("credit_e6"),
            F.sum("_is_first").alias("n_first"),
            F.sum("_is_last").alias("n_last"),
        )
    )


def autoperiod(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    max_lag: int = 30,
) -> DataFrame:
    """Dominant-period detection per series: the smallest strict
    LOCAL PEAK of the autocorrelation function with the highest ρ —
    the number every seasonal operator downstream (seasonal_mk,
    seasonal_strength, holt_winters' season length, typical_day's
    24-hour assumption) takes as an input and nothing so far
    measured. A plain argmax over lags would always elect lag 1 on
    any AR(1)-ish series; a PERIOD is a lag that beats both its
    neighbors, which trend memory cannot fake (a monotone ACF has no
    interior peak — pinned).

    Selection is integer-exact: each ρ enters pre-quantized at e6
    from the gap-correct acf() construction (the ess rule), a peak
    requires BOTH adjacent lags present (a gap-broken neighbor lag
    disqualifies — null never certifies strictness) and strictly
    smaller ρ_e6, and the winner is the exact struct-max
    (ρ_e6, −lag) — ties elect the SMALLEST lag, which is the
    fundamental period when harmonics tie (a period-3 series peaks
    at 3, 6, 9, … all at ρ = 1; the report reads 3). Boundary lags
    (1 and max_lag) can never certify as peaks. Series with no
    certified peak keep their row with null period and n_peaks = 0.

    Shapes: acf()'s one corpus bucket agg + bounded lag join, then
    one window and one agg on the (keys × max_lag) frame."""
    a = acf(df, keys, ts_col, value_col, trunc, max_lag)
    w = Window.partitionBy(*keys).orderBy("lag")
    r = a.select(
        *keys,
        "lag",
        F.round(F.col("acf") * 1e6).cast("bigint").alias("_r6"),
    ).select(
        *keys,
        "lag",
        "_r6",
        F.lag("_r6").over(w).alias("_pr"),
        F.lead("_r6").over(w).alias("_nr"),
        F.lag("lag").over(w).alias("_pl"),
        F.lead("lag").over(w).alias("_nl"),
    )
    is_peak = (
        (F.col("lag") >= 2)
        & (F.col("lag") <= max_lag - 1)
        & F.col("_r6").isNotNull()
        & (F.col("_pl") == F.col("lag") - 1)
        & (F.col("_nl") == F.col("lag") + 1)
        & (F.col("_r6") > F.col("_pr"))
        & (F.col("_r6") > F.col("_nr"))
    )
    g = r.withColumn("_pk", is_peak).groupBy(*keys).agg(
        F.sum(F.when(F.col("_r6").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lags"),
        F.sum(F.when(F.col("_pk"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_peaks"),
        F.max(
            F.when(
                F.col("_pk"),
                F.struct(
                    F.col("_r6").alias("r"), (-F.col("lag")).alias("nl")
                ),
            )
        ).alias("_best"),
    )
    return g.select(
        *keys,
        "n_lags",
        "n_peaks",
        (-F.col("_best.nl")).cast("bigint").alias("period_lag"),
        F.col("_best.r").alias("period_rho_e6"),
    )


def did_pairs(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Difference-in-differences for every unordered series pair at
    the shared midpoint of their union span — the experiment-analysis
    primitive the drift family lacks: welch/mannwhitney say WHETHER
    one series shifted between its halves, but a fleet-wide change
    (deploy, promo, holiday) shifts every series, and the question
    that matters is whether the TREATED series moved more than its
    control. DiD = (ā_post − ā_pre) − (b̄_post − b̄_pre) nets out the
    common shock under the parallel-trends assumption, with the
    Welch-style SE over the four groups and t = effect/SE.

    The intervention boundary is COMMON WALL-CLOCK per pair — mid =
    (earliest bucket + latest bucket) div 2 over the union span,
    exact integer arithmetic (the per-series index split the
    half-split tests use would put the two series' boundaries at
    different times and re-admit the very confound DiD removes).
    pre = ep < mid, post = ep ≥ mid, both pinned.

    Exactness: e-grid bucket means; per (pair, side, phase) the
    (n, S = Σv, Q = Σv²) triple is exact bigints; effect and SE² =
    Σ_g (n_g·Q_g − S_g²)/(n_g²·(n_g−1)) are one shared IEEE tree
    over those ints, effect absorbed at e6 of the raw unit, t at e6.
    A pair with any empty group has no DiD — dropped; any group with
    n < 2 or SE = 0 nulls t but keeps the effect. Antisymmetry makes
    (b, a) redundant — only a < b emitted.

    Shapes: ONE corpus bucket agg; the pair frame is series²-bounded
    control-plane; buckets join it twice (series-key equi-joins);
    final aggs are pair-bounded."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    mm = b.groupBy("series_id").agg(
        F.min("ep").alias("_lo"), F.max("ep").alias("_hi")
    )
    p = (
        mm.select(
            F.col("series_id").alias("series_a"),
            F.col("_lo").alias("_la"),
            F.col("_hi").alias("_ha"),
        )
        .crossJoin(
            mm.select(
                F.col("series_id").alias("series_b"),
                F.col("_lo").alias("_lb"),
                F.col("_hi").alias("_hb"),
            )
        )
        .where(F.col("series_a") < F.col("series_b"))
        .select(
            "series_a",
            "series_b",
            F.floor(
                (
                    F.least("_la", "_lb") + F.greatest("_ha", "_hb")
                ) / 2
            ).cast("bigint").alias("boundary_ep"),
        )
    )
    ua = p.join(b, p.series_a == b.series_id).select(
        "series_a", "series_b", "boundary_ep",
        F.lit("a").alias("_side"), "ep", "v",
    )
    ub = p.join(b, p.series_b == b.series_id).select(
        "series_a", "series_b", "boundary_ep",
        F.lit("b").alias("_side"), "ep", "v",
    )
    u = ua.unionByName(ub).withColumn(
        "_post", (F.col("ep") >= F.col("boundary_ep")).cast("int")
    )
    def cell(side, post, expr, name):
        return F.sum(
            F.when(
                (F.col("_side") == side) & (F.col("_post") == post), expr
            ).otherwise(F.lit(0))
        ).alias(name)
    g = u.groupBy("series_a", "series_b", "boundary_ep").agg(
        *[
            c
            for side in ("a", "b")
            for post in (0, 1)
            for c in (
                cell(side, post, F.lit(1), f"n_{side}{post}"),
                cell(side, post, F.col("v"), f"s_{side}{post}"),
                cell(side, post, F.col("v") * F.col("v"), f"q_{side}{post}"),
            )
        ]
    ).where(
        (F.col("n_a0") >= 1) & (F.col("n_a1") >= 1)
        & (F.col("n_b0") >= 1) & (F.col("n_b1") >= 1)
    )
    def mean(c):
        return F.col(f"s_{c}").cast("double") / F.col(f"n_{c}").cast("double")
    def se2(c):
        n = F.col(f"n_{c}").cast("double")
        return (
            n * F.col(f"q_{c}").cast("double")
            - F.col(f"s_{c}").cast("double") * F.col(f"s_{c}").cast("double")
        ) / (n * n * (n - 1.0))
    eff = mean("a1") - mean("a0") - (mean("b1") - mean("b0"))
    sesq = se2("a0") + se2("a1") + se2("b0") + se2("b1")
    all_n2 = (
        (F.col("n_a0") >= 2) & (F.col("n_a1") >= 2)
        & (F.col("n_b0") >= 2) & (F.col("n_b1") >= 2)
    )
    return g.select(
        "series_a",
        "series_b",
        "boundary_ep",
        "n_a0", "n_a1", "n_b0", "n_b1",
        # effect is in e-grid units; scale to e6 for ANY grid (r6
        # advice fix: the old literal 1e3 silently mislabeled the
        # scale for grid != 3; 10**(6-grid) == 1e3 at the default)
        F.round(eff * F.lit(float(10 ** (6 - grid)))).cast("bigint").alias("effect_e6"),
        F.when(all_n2 & (sesq > 0), F.round(eff / F.sqrt(sesq) * 1e6))
        .cast("bigint")
        .alias("t_e6"),
    )


def binseg2(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    grid: int = 3,
) -> DataFrame:
    """Two-changepoint binary segmentation per series — the unrolled
    second step of the algorithm changepoint_mean is step 1 of:
    find the best mean-shift split, then the best sub-split WITHIN
    either resulting segment. One break cannot describe the most
    common real shape (a level that steps up and later steps back, a
    deploy + rollback, a ramp modeled as two shelves) — the pair of
    breaks plus the three segment means is that report, and the
    two-break R² (gain₁+gain₂)/SST says how much of the series the
    piecewise-constant-3 model explains (a clean double step reads
    exactly 1 — pinned).

    Segment sub-gain from the SAME prefix sums, shifted: for
    segment [a, b) with m = b−a, gain(j) = (m·(S_j−S_a) −
    (j−a)·(S_b−S_a))² / ((j−a)·(b−j)·m) — every term exact bigints
    on the e-grid, each candidate one fixed IEEE tree, argmax a
    struct max_by with ties → earliest epoch (both levels pinned to
    the changepoint_mean rule). A segment too short for an interior
    split (len < 2) contributes no candidates; series with n < 3
    are dropped (no two-break model exists).

    Shapes: ONE bucket agg; the level-1 winner is a series-bounded
    frame joined back to the SAME prefix frame (no second corpus
    shuffle); both argmaxes are aggs, never sorts."""
    b = _buckets(
        df, [F.col(key_col).alias("series_id")], ts_col, value_col,
        trunc, 10 ** grid,
    )
    wall = Window.partitionBy("series_id")
    wpre = wall.orderBy("ep").rowsBetween(Window.unboundedPreceding, 0)
    p = b.select(
        "series_id",
        "ep",
        F.count("*").over(wall).alias("n"),
        F.sum("v").over(wall).alias("t"),
        F.sum(F.col("v") * F.col("v")).over(wall).alias("q"),
        F.sum("v").over(wpre).alias("s"),
        F.row_number().over(wall.orderBy("ep")).alias("k"),
    )
    cand1 = p.where((F.col("k") < F.col("n")) & (F.col("n") >= 3))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    a1 = nd * F.col("s").cast("double") - kd * F.col("t").cast("double")
    g1 = (a1 * a1 / (kd * (nd - kd) * nd)).alias("_g")
    best1 = cand1.select("series_id", "ep", "k", "s", g1).groupBy(
        "series_id"
    ).agg(
        F.max_by(
            F.struct(
                F.col("ep").alias("ep1"),
                F.col("k").alias("k1"),
                F.col("s").alias("s1"),
                F.col("_g").alias("g1"),
            ),
            F.struct(F.col("_g"), (-F.col("ep")).alias("nep")),
        ).alias("w1")
    ).select("series_id", "w1.*")
    j = p.join(best1, "series_id").where(F.col("k") != F.col("k1"))
    left = F.col("k") < F.col("k1")
    a_ = F.when(left, F.lit(0)).otherwise(F.col("k1"))
    b_ = F.when(left, F.col("k1")).otherwise(F.col("n"))
    sa = F.when(left, F.lit(0)).otherwise(F.col("s1"))
    sb = F.when(left, F.col("s1")).otherwise(F.col("t"))
    md = (b_ - a_).cast("double")
    jd = (F.col("k") - a_).cast("double")
    rd = (b_ - F.col("k")).cast("double")
    a2 = md * (F.col("s") - sa).cast("double") - jd * (sb - sa).cast("double")
    g2 = (a2 * a2 / (jd * rd * md)).alias("_g2")
    cand2 = j.where((F.col("k") - a_ >= 1) & (b_ - F.col("k") >= 1)).select(
        "series_id", "n", "t", "q", "ep", "k", "s",
        "ep1", "k1", "s1", "g1", g2,
    )
    best = cand2.groupBy("series_id").agg(
        F.max("n").alias("n_buckets"),
        F.max("t").alias("_t"),
        F.max("q").alias("_q"),
        F.max("ep1").alias("cp1_epoch"),
        F.max("k1").alias("_k1"),
        F.max("s1").alias("_s1"),
        F.max("g1").alias("_g1"),
        F.max_by(
            F.struct(
                F.col("ep").alias("ep2"),
                F.col("k").alias("k2"),
                F.col("s").alias("s2"),
                F.col("_g2").alias("g2"),
            ),
            F.struct(F.col("_g2"), (-F.col("ep")).alias("nep")),
        ).alias("w2"),
    )
    nd2 = F.col("n_buckets").cast("double")
    sst = (
        F.col("_q").cast("double")
        - F.col("_t").cast("double") * F.col("_t").cast("double") / nd2
    )
    klo = F.least("_k1", "w2.k2")
    khi = F.greatest("_k1", "w2.k2")
    slo = F.when(F.col("_k1") < F.col("w2.k2"), F.col("_s1")).otherwise(
        F.col("w2.s2")
    )
    shi = F.when(F.col("_k1") < F.col("w2.k2"), F.col("w2.s2")).otherwise(
        F.col("_s1")
    )
    sc2 = (10.0 ** grid) * (10.0 ** grid)
    return best.select(
        "series_id",
        "n_buckets",
        "cp1_epoch",
        F.col("w2.ep2").alias("cp2_epoch"),
        F.col("_k1").alias("k1"),
        F.col("w2.k2").alias("k2"),
        F.round(F.col("_g1") / sc2 * 1e6).cast("bigint").alias("gain1_e6"),
        F.round(F.col("w2.g2") / sc2 * 1e6).cast("bigint").alias("gain2_e6"),
        F.when(
            sst > 0,
            F.round((F.col("_g1") + F.col("w2.g2")) / sst * 1e6),
        )
        .cast("bigint")
        .alias("strength2_e6"),
        F.round(slo.cast("double") / klo.cast("double"))
        .cast("bigint")
        .alias(f"mean_seg1_e{grid}"),
        F.round(
            (shi - slo).cast("double") / (khi - klo).cast("double")
        )
        .cast("bigint")
        .alias(f"mean_seg2_e{grid}"),
        F.round(
            (F.col("_t") - shi).cast("double")
            / (F.col("n_buckets") - khi).cast("double")
        )
        .cast("bigint")
        .alias(f"mean_seg3_e{grid}"),
    )


def memory_coefficient(
    df: DataFrame,
    keys: list[str],
    user_col: str,
    ts_col: str = "event_ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Goh–Barabási memory coefficient M per key: the Pearson
    correlation of CONSECUTIVE inter-arrival gaps (τ_i, τ_{i+1}),
    pooled across users — the second axis of the classic (B, M)
    arrival-process phase diagram. burstiness() measures the gap
    DISTRIBUTION's shape and is blind to ordering: shuffle a bursty
    log's gaps and B is unchanged while M collapses to 0. M > 0 means
    long gaps follow long gaps (congestion, human circadian
    rhythms); M < 0 means alternation (duty-cycling, retry backoff);
    the pair (B, M) separates process classes a single number
    cannot.

    Gap pairs form WITHIN a user's stream only (the interarrival
    partitioning — pairs never straddle users), duplicate timestamps
    tie-broken by order_cols. Gaps are integer epoch seconds, so all
    five Pearson sums are exact bigints and r is one shared IEEE
    tree; fewer than 2 pairs or zero variance on either margin ⇒
    null M, row kept.

    Shapes: one window pass per (keys, user) — millions of small
    partitions, no giant per-key sort — then one keys-bounded agg."""
    oc = order_cols or []
    w = Window.partitionBy(*keys, user_col).orderBy(ts_col, *oc)
    ep = F.unix_timestamp(F.col(ts_col))
    gap = ep - F.lag(ep).over(w)
    g = df.select(*keys, gap.alias("_g"), F.lag(gap).over(w).alias("_p"))
    p = g.where(F.col("_g").isNotNull() & F.col("_p").isNotNull())
    a = p.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("_p").alias("sx"),
        F.sum("_g").alias("sy"),
        F.sum(F.col("_p") * F.col("_g")).alias("sxy"),
        F.sum(F.col("_p") * F.col("_p")).alias("sxx"),
        F.sum(F.col("_g") * F.col("_g")).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    cov = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    m = F.when(
        (F.col("n_pairs") >= 2) & (vx > 0) & (vy > 0),
        F.round(cov / F.sqrt(vx * vy) * 1e6),
    ).cast("bigint")
    return a.select(*keys, "n_pairs", m.alias("memory_e6"))


def jarque_bera(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
) -> DataFrame:
    """Jarque–Bera normality test per series over hourly bucket
    means — the gate behind every z-score alarm in the suite:
    anomaly_zscore, spc_rules, bollinger and the ±3σ conventions all
    price deviations in standard-deviation units, which means what it
    claims only under approximate normality; JB = n·(skew²/6 +
    excess-kurtosis²/24) is the classic omnibus check, and the skew
    and kurtosis ride along as the directional diagnosis (heavy
    tails → σ underestimates tail risk; skew → one-sided alarms).

    Exactness at the e0 grid (integer bucket means): the FOURTH
    power sum is the binding constraint — at the usual e3 grid
    v⁴ ≈ 1e23 overflows bigint, at e0 the full power-sum stack
    S₁..S₄ stays exact for |v| ≤ ~50k over 10⁶ buckets (documented
    bound, far above this table's values). Central moments come from
    the raw sums via the binomial identities in one shared IEEE
    tree; skew = m₃/m₂^1.5, excess kurtosis = m₄/m₂² − 3. m₂ = 0
    (constant series) ⇒ all three null, row kept; n < 2 dropped.

    Shapes: ONE map-side-combined bucket agg, one keys-bounded
    finisher. No window, no join."""
    b = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("series_id"),
            F.unix_timestamp(F.date_trunc(trunc, F.col(ts_col))).alias("_ep"),
        )
        .agg(F.round(F.avg(value_col)).cast("bigint").alias("_v"))
    )
    v = F.col("_v")
    a = b.groupBy("series_id").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    nd = F.col("n_buckets").cast("double")
    m = F.col("s1").cast("double") / nd
    s2d = F.col("s2").cast("double")
    s3d = F.col("s3").cast("double")
    s4d = F.col("s4").cast("double")
    m2 = s2d / nd - m * m
    m3 = (s3d - 3.0 * m * s2d + 2.0 * nd * m * m * m) / nd
    m4 = (
        s4d - 4.0 * m * s3d + 6.0 * m * m * s2d - 3.0 * nd * m * m * m * m
    ) / nd
    skew = m3 / F.sqrt(m2 * m2 * m2)
    exk = m4 / (m2 * m2) - 3.0
    jb = nd * (skew * skew / 6.0 + exk * exk / 24.0)
    ok = (F.col("n_buckets") >= 2) & (m2 > 0)
    return a.select(
        "series_id",
        "n_buckets",
        F.when(ok, F.round(skew * 1e6)).cast("bigint").alias("skew_e6"),
        F.when(ok, F.round(exk * 1e6)).cast("bigint").alias("exkurt_e6"),
        F.when(ok, F.round(jb * 1e6)).cast("bigint").alias("jb_e6"),
    ).where(F.col("n_buckets") >= 2)


def logrank_pairs(
    events: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    bucket_s: int = 60,
) -> DataFrame:
    """Two-sample log-rank test for every unordered event-type pair —
    the hypothesis test the Kaplan-Meier curves only gesture at: KM
    says WHAT each type's waiting-time survival looks like; log-rank
    says whether two types' re-trigger behaviors DIFFER, correctly
    weighting every death time by who was still at risk and keeping
    censored waits in the risk sets (the comparison a naive
    mean-gap t-test gets wrong twice over). Classic Mantel-Haenszel
    form: at each pooled death time, O−E for group a under the
    hypergeometric null, z = (O_a − E_a)/√V.

    Waits and censoring are EXACTLY the kaplan_meier construction
    (integer-second gaps on the (type, user) stream, minute buckets,
    broadcast observation end), so the test and the curves share one
    definition of a wait. At-risk counts at pooled death times come
    from per-type bucket histograms full-outer-merged per pair, then
    ONE descending-order reverse cumsum per pair side — never a
    waits×times join. Exactness: O_a is an exact bigint; each E and
    V term is one fixed IEEE tree over exact integers pre-quantized
    at e6 (the order-free-sum rule), z = (O·1e6 − E_q)/(√V_q·1e3) one
    final tree; n_t = 1 times carry no variance (term skipped, the
    classic convention) and V_q = 0 ⇒ null z, row kept.

    Shapes: one (type, user) window pass, histograms bounded by
    (types × buckets), pair frame types²-bounded, reverse-cumsum
    windows on the merged bounded frame."""
    ep = F.unix_timestamp(F.col(ts_col))
    w = Window.partitionBy(type_col, user_col).orderBy(
        F.asc(ts_col), F.asc(id_col)
    )
    end = events.agg(F.max(ep).alias("_end"))
    g = (
        events.select(
            type_col,
            ep.alias("_ep"),
            F.lead(ep).over(w).alias("_nxt"),
        )
        .crossJoin(F.broadcast(end))
        .select(
            F.col(type_col).alias("_ty"),
            F.floor(
                (F.coalesce(F.col("_nxt"), F.col("_end")) - F.col("_ep"))
                / F.lit(bucket_s)
            )
            .cast("bigint")
            .alias("t"),
            F.col("_nxt").isNotNull().cast("bigint").alias("_death"),
        )
    )
    # the histogram backs the type dim and both pair sides: cache the
    # (types × buckets)-bounded frame so the corpus-wide (type, user)
    # lead-window pass runs once instead of three times (r6 rule)
    hist = g.groupBy("_ty", "t").agg(
        F.sum("_death").alias("d"),
        F.count("*").cast("bigint").alias("m"),
    ).cache()
    types = hist.select("_ty").distinct()
    p = (
        types.select(F.col("_ty").alias("type_a"))
        .crossJoin(types.select(F.col("_ty").alias("type_b")))
        .where(F.col("type_a") < F.col("type_b"))
    )
    ha = p.join(hist, hist["_ty"] == p["type_a"]).select(
        "type_a", "type_b", "t",
        F.col("d").alias("da"), F.col("m").alias("ma"),
        F.lit(0).cast("bigint").alias("db"),
        F.lit(0).cast("bigint").alias("mb"),
    )
    hb = p.join(hist, hist["_ty"] == p["type_b"]).select(
        "type_a", "type_b", "t",
        F.lit(0).cast("bigint").alias("da"),
        F.lit(0).cast("bigint").alias("ma"),
        F.col("d").alias("db"), F.col("m").alias("mb"),
    )
    u = ha.unionByName(hb).groupBy("type_a", "type_b", "t").agg(
        F.sum("da").alias("da"), F.sum("ma").alias("ma"),
        F.sum("db").alias("db"), F.sum("mb").alias("mb"),
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = u.select(
        "type_a", "type_b", "t", "da", "db",
        F.sum("ma").over(wp).alias("na"),
        F.sum("mb").over(wp).alias("nb"),
    ).where(F.col("da") + F.col("db") > 0)
    nt = (F.col("na") + F.col("nb")).cast("double")
    dt = (F.col("da") + F.col("db")).cast("double")
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    eterm = F.round(dt * nad / nt * 1e6).cast("bigint")
    vterm = F.when(
        F.col("na") + F.col("nb") >= 2,
        F.round(
            dt
            * (nad / nt)
            * (nbd / nt)
            * (nt - dt)
            / (nt - 1.0)
            * 1e6
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    a = r.groupBy("type_a", "type_b").agg(
        F.count("*").cast("bigint").alias("n_death_times"),
        F.sum("da").alias("o_a"),
        F.sum(eterm).alias("e_a_e6"),
        F.sum(vterm).alias("v_e6"),
    )
    z = (F.col("o_a") * 1000000 - F.col("e_a_e6")).cast("double") / (
        F.sqrt(F.col("v_e6").cast("double")) * 1e3
    )
    return a.select(
        "type_a", "type_b", "n_death_times", "o_a", "e_a_e6", "v_e6",
        F.when(F.col("v_e6") > 0, F.round(z * 1e6))
        .cast("bigint")
        .alias("z_e6"),
    )


def leadlag(
    df: DataFrame,
    key_col: str,
    ts_col: str = "event_ts",
    value_col: str = "value",
    trunc: str = "hour",
    max_lag: int = 12,
) -> DataFrame:
    """Lead-lag summary per series pair: the single lag with the
    strongest |cross-correlation| — the WHO-MOVES-FIRST verdict the
    full ccf table only implies, exactly as autoperiod is the verdict
    over acf. A positive winning lag means series_a leads (a's value
    now correlates with b's value `lag` buckets LATER — the
    monitoring conclusion 'a is the upstream signal, page on a');
    lag 0 means co-movement; the sign of ρ rides along so inverse
    coupling isn't mistaken for none.

    Selection is integer-exact: each ρ enters pre-quantized at e6
    from the gap-correct ccf construction; the winner is the struct
    max over (|ρ_e6|, −|lag|, −lag) — strongest coupling first, then
    the lag closest to zero (co-movement is the parsimonious
    explanation of a tie), then the positive lag over the negative
    (deterministic, documented). Pairs whose every lag is degenerate
    (null ρ) keep a row with nulls and n_lags = 0.

    Shapes: ccf()'s one bucket agg + bounded lag fan-out; the argmax
    is one agg on the pairs×(2·max_lag+1) frame — no sort."""
    c = ccf(df, key_col, ts_col, value_col, trunc, max_lag)
    r6 = F.round(F.col("ccf") * 1e6).cast("bigint")
    g = c.select(
        "series_a", "series_b", "lag", r6.alias("_r6")
    )
    best = F.max(
        F.when(
            F.col("_r6").isNotNull(),
            F.struct(
                F.abs("_r6").alias("a"),
                (-F.abs(F.col("lag"))).alias("nl"),
                F.col("lag").alias("l"),
                F.col("_r6").alias("r"),
            ),
        )
    )
    out = g.groupBy("series_a", "series_b").agg(
        F.sum(F.when(F.col("_r6").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lags"),
        best.alias("_b"),
    )
    return out.select(
        "series_a",
        "series_b",
        "n_lags",
        F.col("_b.l").cast("bigint").alias("best_lag"),
        F.col("_b.r").alias("best_ccf_e6"),
    )


def user_gini(
    df: DataFrame,
    keys: list[str],
    user_col: str = "user_id",
) -> DataFrame:
    """Volume concentration across USERS per series — the
    bot/whale-detection dial next to gini_hours' temporal one: two
    event types with equal totals can differ completely in WHO sends
    them (ten thousand light users vs three scripts), and the
    top-k/topn tables show the head while this scalar prices the
    whole distribution. Gini over the ACTIVE-user counts (the
    population is users who appeared — unlike the hourly grid there
    is no knowable 'silent user' universe, so no zero mass; stated,
    not hidden) plus the top-decile user share: the fraction of the
    series' events sent by its busiest ⌈m/10⌉ users.

    Exactness: per-user counts exact bigints; ranks ascend by
    (count, user id) — rank ties among equal counts are permutation-
    invariant under the rank-weighted sum (the gini_hours proof);
    G = (2·Σr_i·c_i − (m+1)·S)/(m·S) one final double division.
    Single-user series read G = 0 with the user as its own top
    decile.

    Shapes: one (keys, user) count agg — the corpus shuffle — then
    rank windows and the final agg on the users-bounded frame."""
    h = df.groupBy(*keys, F.col(user_col).alias("_u")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wk = Window.partitionBy(*keys)
    r = h.select(
        *keys,
        "c",
        F.row_number().over(wk.orderBy("c", "_u")).alias("_rn"),
        F.count("*").over(wk).alias("_m"),
    )
    d = (F.col("_m") + 9) / 10
    top_flag = F.col("_rn") > (F.col("_m") - F.floor(d))
    a = r.groupBy(*keys).agg(
        F.max("_m").cast("bigint").alias("n_users"),
        F.sum("c").alias("n_events"),
        F.sum(F.col("_rn").cast("bigint") * F.col("c")).alias("_tr"),
        F.sum(F.when(top_flag, F.col("c")).otherwise(F.lit(0))).alias("_top"),
    )
    m, s = F.col("n_users"), F.col("n_events")
    gnum = 2 * F.col("_tr") - (m + 1) * s
    return a.select(
        *keys,
        "n_users",
        "n_events",
        F.when(
            (m > 1) & (s > 0),
            F.round(gnum.cast("double") / (m * s).cast("double") * 1e6).cast(
                "bigint"
            ),
        )
        .otherwise(F.when(s > 0, F.lit(0)).cast("bigint"))
        .alias("gini_e6"),
        F.round(F.col("_top").cast("double") / s.cast("double") * 1e6)
        .cast("bigint")
        .alias("top_decile_share_e6"),
    )


def stickiness(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """DAU / WAU stickiness per observed day — the product-health
    ratio the audience tables (topn_daily_users, audience_overlap,
    distinct_cascade) stop short of: what fraction of the trailing
    window's reachable users came back TODAY. 1.0 = the same cohort
    daily (a pipeline, not an audience); small = drive-by traffic.

    Exact by construction, with the trailing-window distinct done as
    a SUPPORT EXPLOSION instead of a sliding-window distinct (which
    Spark cannot express): each (user, active-day) pair supports the
    `window_days` days it is visible to (day … day+w−1), so WAU(d) =
    distinct users among supporters of d — an exact count, not a
    sketch, and a user inactive today but active three days ago
    correctly counts in WAU (pinned). Output rows only for days that
    HAVE events (the observed-day join); all counts exact bigints,
    one e6 ratio.

    Shapes: one (user, day) distinct — the corpus shuffle — then a
    ×w row-local explode of that users×days-bounded frame, a second
    bounded distinct-agg, and a days-bounded join."""
    day = F.floor(
        F.unix_timestamp(F.date_trunc("day", F.col(ts_col))) / 86400
    ).cast("bigint")
    ud = df.select(F.col(user_col).alias("_u"), day.alias("_d")).distinct()
    dau = ud.groupBy("_d").agg(
        F.count("*").cast("bigint").alias("dau")
    )
    sup = ud.select(
        "_u",
        F.explode(
            F.sequence(F.col("_d"), F.col("_d") + (window_days - 1))
        ).alias("_td"),
    ).distinct()
    wau = sup.groupBy("_td").agg(
        F.count("*").cast("bigint").alias("wau")
    )
    j = dau.join(wau, dau["_d"] == wau["_td"])
    return j.select(
        (F.col("_d") * 86400).alias("day_ep"),
        "dau",
        "wau",
        F.round(
            F.col("dau").cast("double") / F.col("wau").cast("double") * 1e6
        )
        .cast("bigint")
        .alias("stickiness_e6"),
    )
