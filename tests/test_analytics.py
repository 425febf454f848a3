"""analytics.py operators + tiers.rollup_interval: known answers,
pandas parity, and the tier-equivalence pin."""

import math

import pandas as pd
import pyspark.sql.functions as F
import pytest

from tokens_ts import analytics, tiers


@pytest.fixture(scope="module")
def series(spark):
    """Two keys, irregular spacing, a null value, duplicate-free."""
    rows = []
    for i, (t, v) in enumerate(
        [(0, 10.0), (60, 12.0), (180, 11.0), (240, None), (300, 20.0)]
    ):
        rows.append(("a", i, t, v))
    for i, (t, v) in enumerate([(0, 5.0), (7200, 6.0)]):
        rows.append(("b", 100 + i, t, v))
    return spark.createDataFrame(
        rows, "key string, eid int, t int, value double"
    ).select(
        "key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value"
    )


def test_ewma_matches_direct_computation(series):
    got = {
        r["eid"]: r["ewma"]
        for r in analytics.with_ewma(
            series, ["key"], alpha=0.5, horizon=3, order_cols=["eid"]
        ).collect()
    }

    def ref(xs):
        # finite-horizon adjust=True kernel, W=3, alpha=0.5;
        # current-null → null, null lags just drop out of the kernel
        out = []
        for n, x in enumerate(xs):
            if x is None:
                out.append(None)
                continue
            num = den = 0.0
            for k in range(3):
                j = n - k
                if j < 0 or xs[j] is None:
                    continue
                num += xs[j] * 0.5**k
                den += 0.5**k
            out.append(num / den)
        return out

    ra = ref([10.0, 12.0, 11.0, None, 20.0])
    for i, expect in enumerate(ra):
        if expect is None:
            assert got[i] is None, i
        else:
            assert math.isclose(got[i], expect, rel_tol=1e-12), (i, got[i], expect)


def test_ewma_matches_pandas_infinite_at_large_horizon(spark):
    """With horizon >= series length the finite kernel IS pandas
    ewm(adjust=True).mean() exactly."""
    xs = [3.0, 7.0, 1.0, 4.0, 9.0, 2.0]
    df = spark.createDataFrame(
        [("k", i, i * 60, x) for i, x in enumerate(xs)],
        "key string, eid int, t int, value double",
    ).select("key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value")
    got = [
        r["ewma"]
        for r in analytics.with_ewma(
            df, ["key"], alpha=0.3, horizon=len(xs), order_cols=["eid"]
        )
        .orderBy("eid")
        .collect()
    ]
    expect = pd.Series(xs).ewm(alpha=0.3, adjust=True).mean().tolist()
    for g, e in zip(got, expect):
        assert math.isclose(g, e, rel_tol=1e-12)


def test_counter_rate_reset_rule(series):
    out = {
        r["eid"]: (r["increase"], r["rate_per_s"])
        for r in analytics.with_counter_rate(
            series, ["key"], order_cols=["eid"]
        ).collect()
    }
    assert out[0] == (None, None)  # first point: no predecessor
    assert out[1] == (2.0, 2.0 / 60)  # normal delta
    assert out[2] == (11.0, 11.0 / 120)  # reset: 11 < 12 → increase = 11
    assert out[3] == (None, None)  # null value → null delta branch
    assert out[100] == (None, None)
    assert out[101] == (1.0, 1.0 / 7200)


def test_session_windows_gap_rule(spark):
    """Boundary semantics: events exactly `gap` apart DO merge (only a
    strictly larger gap splits); end = last event + gap."""
    df = spark.createDataFrame(
        [("u", 0), ("u", 600), ("u", 2400), ("u", 3000), ("v", 0)],
        "user string, t int",
    ).select("user", F.timestamp_seconds("t").alias("event_ts"))
    out = sorted(
        (
            r["user"],
            int(r["session_start"].timestamp()),
            int(r["session_end"].timestamp()),
            r["n_events"],
        )
        for r in analytics.session_windows(
            df, ["user"], gap="30 minutes"
        ).collect()
    )
    # Spark's boundary rule: an event exactly AT the previous session's
    # end (gap == 1800) MERGES — only a STRICTLY larger gap splits. All
    # four u events chain into one session (600→2400 is exactly 1800).
    assert out == [
        ("u", 0, 3000 + 1800, 4),
        ("v", 0, 1800, 1),
    ]


def test_rollup_interval_equivalence_and_state_compat(spark, seq_tiny):
    """rollup_interval('1 minute') ≡ rollup('1m') row-for-row, and its
    output cascades/finishes like any tier frame."""
    from tokens_ts import extract, grid

    raw = extract.to_raw(
        extract.full_stats(grid.with_event_time(seq_tiny), stats=["mean"])
    )
    a = {
        (r["source"], r["series_id"], r["window_start"]): (
            r["cnt"], r["sum"], r["min"], r["max"], r["sum_sq"],
        )
        for r in tiers.rollup(raw, "1m").collect()
    }
    b = {
        (r["source"], r["series_id"], r["window_start"]): (
            r["cnt"], r["sum"], r["min"], r["max"], r["sum_sq"],
        )
        for r in tiers.rollup_interval(raw, "1 minute").collect()
    }
    assert a.keys() == b.keys()
    for k in a:
        for x, y in zip(a[k], b[k]):
            if x is None or y is None:
                assert x is None and y is None
            elif isinstance(x, float):
                assert math.isclose(x, y, rel_tol=1e-12)
            else:
                assert x == y
    # 5-minute buckets cascade exactly to 1h
    t5 = tiers.rollup_interval(raw, "5 minutes")
    h_direct = {
        (r["source"], r["series_id"], r["window_start"]): r["cnt"]
        for r in tiers.rollup(raw, "1h").collect()
    }
    h_cascade = {
        (r["source"], r["series_id"], r["window_start"]): r["cnt"]
        for r in tiers.cascade(t5, "1h").collect()
    }
    assert h_direct == h_cascade


def test_route_tier_rule():
    assert tiers.route_tier(60) == "1m"
    assert tiers.route_tier(900) == "1m"       # 15 min → minutes tier
    assert tiers.route_tier(3600) == "1h"
    assert tiers.route_tier(6 * 3600) == "1h"
    assert tiers.route_tier(86400) == "1d"
    assert tiers.route_tier(2 * 86400) == "1d"
    with pytest.raises(ValueError, match="not a multiple"):
        tiers.route_tier(90)


def _tier_warehouse(spark, seq_tiny, root):
    from tokens_ts import grid, pipeline
    from tokens_ts.io.catalog import Catalog

    pipeline.run_backfill(spark, grid.with_event_time(seq_tiny), root)
    return Catalog(root)


def _window_span(spark, cat, res):
    """[start, end) covering every stored event: start floored to a
    multiple of `res` (hour-aligned below a day), end EXCLUSIVE by
    contract — one minute past the last event."""
    import datetime

    span = (
        cat.read(spark, "raw")
        .agg(F.min("event_ts").alias("lo"), F.max("event_ts").alias("hi"))
        .collect()[0]
    )
    start = span["lo"].replace(minute=0, second=0)
    if res >= 86400:
        start = start.replace(hour=0)
    return start, span["hi"] + datetime.timedelta(minutes=1)


def _state_by_window(df) -> dict:
    return {
        (r["source"], r["series_id"], r["window_start"], c): r[c]
        for r in df.collect()
        for c in tiers.STATE_COLS
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_query_windows_exact_vs_raw(spark, seq_tiny, tmp_path):
    """The routed answer equals rollup_interval straight from raw —
    tier serving loses nothing (algebraic state), while scanning the
    coarsest exact tier. 60/3600/86400 are tier widths (rows served as
    stored); 900 merges t1m."""
    cat = _tier_warehouse(spark, seq_tiny, str(tmp_path / "wh"))
    raw = cat.read(spark, "raw").drop("day", "batch_id")

    for res in (60, 900, 3600, 86400):
        start, end = _window_span(spark, cat, res)
        got = {
            (r["source"], r["series_id"], r["window_start"]): (
                r["cnt"], r["sum"], r["mean"],
            )
            for r in tiers.query_windows(
                spark, cat, str(start), str(end), res
            ).collect()
        }
        expect_frame = tiers.finish(
            tiers.rollup_interval(
                raw.where(
                    (F.col("event_ts") >= F.lit(str(start)))
                ),
                f"{res} seconds",
            )
        ).where(
            (F.col("window_start") >= F.lit(str(start)))
            & (F.col("window_start") < F.lit(str(end)))
        )
        expect = {
            (r["source"], r["series_id"], r["window_start"]): (
                r["cnt"], r["sum"], r["mean"],
            )
            for r in expect_frame.collect()
        }
        assert got, res
        assert got.keys() == expect.keys(), res
        for k in got:
            assert got[k][0] == expect[k][0], (res, k)
            for x, y in zip(got[k][1:], expect[k][1:]):
                # a window of null values (cnt 0) has null sum and mean
                assert (x is None and y is None) or math.isclose(
                    x, y, rel_tol=1e-12
                ), (res, k)


def test_query_windows_tier_width_plans_no_exchange(spark, seq_tiny, tmp_path):
    """Under UTC a tier-width query finishes the stored rows without a
    merge: the executed plan has no Exchange. A coarser resolution on
    the same tier still merges (one Exchange) — the control that the
    plan probe sees shuffles at all."""
    cat = _tier_warehouse(spark, seq_tiny, str(tmp_path / "wh"))
    start, end = _window_span(spark, cat, 86400)
    for res in (60, 3600, 86400):
        q = tiers.query_windows(spark, cat, str(start), str(end), res)
        assert q.count() > 0, res
        assert "Exchange" not in _plan(q), res
    merged = tiers.query_windows(spark, cat, str(start), str(end), 900)
    merged.collect()
    assert "Exchange" in _plan(merged)


def test_query_windows_non_utc_session_keeps_merge(spark, seq_tiny, tmp_path):
    """Asia/Kolkata (UTC+5:30): tiers written in that session hold
    local date_trunc windows, which F.window's epoch-aligned buckets
    do not match — so a tier-width query must still merge, and equals
    the explicit merge of the stored tier rows."""
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        cat = _tier_warehouse(spark, seq_tiny, str(tmp_path / "wh"))
        start, end = "2000-01-01", "2100-01-01"  # every stored window
        for res, name in ((3600, "t1h"), (86400, "t1d")):
            stored = cat.read(spark, name)
            # the local windows are off the UTC grid: serving them as
            # stored would be wrong
            assert stored.where(F.unix_seconds("window_start") % res != 0).count()
            expect = (
                stored.groupBy(
                    *tiers.KEYS,
                    F.window("window_start", f"{res} seconds").alias("w"),
                )
                .agg(
                    *[F.sum(c).alias(c) for c in ("cnt", "sum", "sum_sq")],
                    F.min("min").alias("min"),
                    F.max("max").alias("max"),
                )
                .withColumn("window_start", F.col("w.start"))
            )
            got = tiers.query_windows(spark, cat, start, end, res)
            assert _state_by_window(got) == pytest.approx(
                _state_by_window(expect), rel=1e-12
            ), res
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_series_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50_000),  # t (seconds, may collide)
        st.one_of(
            st.none(),
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
        ),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=_series_strategy)
def test_ewma_fuzz_vs_reference(spark, data):
    """Random irregular series (dup timestamps deduped, nulls kept):
    the W-lag kernel must equal the direct single-node computation."""
    seen = set()
    rows = []
    for t, v in data:
        if t in seen:
            continue
        seen.add(t)
        rows.append((t, v))
    rows.sort()
    df = spark.createDataFrame(
        [("k", i, t, v) for i, (t, v) in enumerate(rows)],
        "key string, eid int, t int, value double",
    ).select("key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value")
    W, alpha = 4, 0.4
    got = {
        r["eid"]: r["ewma"]
        for r in analytics.with_ewma(
            df, ["key"], alpha=alpha, horizon=W, order_cols=["eid"]
        ).collect()
    }
    xs = [v for _, v in rows]
    for n, x in enumerate(xs):
        if x is None:
            assert got[n] is None, n
            continue
        num = den = 0.0
        for k in range(W):
            j = n - k
            if j < 0 or xs[j] is None:
                continue
            num += xs[j] * (1 - alpha) ** k
            den += (1 - alpha) ** k
        assert math.isclose(got[n], num / den, rel_tol=1e-9), n


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=_series_strategy)
def test_counter_rate_fuzz_vs_reference(spark, data):
    seen = set()
    rows = []
    for t, v in data:
        if t in seen:
            continue
        seen.add(t)
        rows.append((t, v))
    rows.sort()
    df = spark.createDataFrame(
        [("k", i, t, v) for i, (t, v) in enumerate(rows)],
        "key string, eid int, t int, value double",
    ).select("key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value")
    got = {
        r["eid"]: (r["increase"], r["rate_per_s"])
        for r in analytics.with_counter_rate(
            df, ["key"], order_cols=["eid"]
        ).collect()
    }
    for n in range(len(rows)):
        if n == 0:
            assert got[n] == (None, None)
            continue
        t, v = rows[n]
        pt, pv = rows[n - 1]
        if v is None or pv is None:
            assert got[n][0] is None, n
            continue
        inc = v - pv if v - pv >= 0 else v
        dt = t - pt
        assert math.isclose(got[n][0], inc, rel_tol=1e-12, abs_tol=1e-12), n
        if dt > 0:
            assert math.isclose(got[n][1], inc / dt, rel_tol=1e-12, abs_tol=1e-15), n
        else:
            assert got[n][1] is None, n


# ---------------------------------------------------------------------------
# Round-5b operators: TWA, trend, reset buckets, seasonal z, heartbeat,
# level shift — hand-computed known answers.
# ---------------------------------------------------------------------------


def test_time_weighted_avg_trapezoid(series):
    out = {
        (r["key"], r["window_start"].hour): (r["n_samples"], r["twa"])
        for r in analytics.time_weighted_avg(
            series, ["key"], interval="1 hour"
        ).collect()
    }
    # key a, hour 0: samples (0,10) (60,12) (180,11) (300,20); null at 240
    # is filtered. Trapezoids: 660 + 1380 + 1860 = 3900 over span 300.
    n, twa = out[("a", 0)]
    assert n == 4 and twa == pytest.approx(3900.0 / 300.0)
    # key b: one sample per bucket → degrade to plain mean
    assert out[("b", 0)] == (1, 5.0)
    assert out[("b", 2)] == (1, 6.0)


def test_trend_recovers_exact_line(spark):
    # v = 2 + 0.5·x on one bucket; a second bucket is degenerate
    # (all samples at one timestamp) → null slope.
    rows = [("k", float(x), 2.0 + 0.5 * x) for x in (0, 60, 120, 300)]
    rows += [("k", 7200.0, 9.0), ("k", 7200.0, 11.0)]
    df = spark.createDataFrame(rows, "key string, t double, value double").select(
        "key", F.timestamp_seconds("t").alias("event_ts"), "value"
    )
    out = {
        r["window_start"].hour: (r["slope_per_s"], r["intercept"])
        for r in analytics.trend(df, ["key"], interval="1 hour").collect()
    }
    assert out[0][0] == pytest.approx(0.5)
    assert out[0][1] == pytest.approx(2.0)
    assert out[2] == (None, None)


def test_reset_stats_continuity_across_buckets(spark):
    # hour 0: 1, 5, 2, 9  → deltas +4, −3(reset: inc 2), +7
    # hour 1 first point 4 vs prev 9 → reset, increase = 4 lands in h1.
    rows = [
        ("k", 1, 0.0, 1.0), ("k", 2, 60.0, 5.0),
        ("k", 3, 120.0, 2.0), ("k", 4, 180.0, 9.0),
        ("k", 5, 3600.0, 4.0),
    ]
    df = spark.createDataFrame(
        rows, "key string, eid int, t double, value double"
    ).select("key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value")
    out = {
        r["window_start"].hour: (r["n_resets"], r["total_increase"], r["n_points"])
        for r in analytics.reset_stats(
            df, ["key"], interval="1 hour", order_cols=["eid"]
        ).collect()
    }
    assert out[0] == (1, 4.0 + 2.0 + 7.0, 4)
    assert out[1] == (1, 4.0, 1)


def test_seasonal_zscore_hour_profile(spark):
    # hour 3 baseline: {10, 14} → mean 12, std_pop 2 → z = ∓1;
    # hour 5 has one point → std 0 → null z.
    rows = [
        ("k", 1, "2024-01-01 03:00:00", 10.0),
        ("k", 2, "2024-01-02 03:30:00", 14.0),
        ("k", 3, "2024-01-01 05:00:00", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "key string, eid int, ts string, value double"
    ).select("key", "eid", F.col("ts").cast("timestamp").alias("event_ts"), "value")
    out = {
        r["eid"]: r["seasonal_z"]
        for r in analytics.seasonal_zscore(df, ["key"]).collect()
    }
    assert out[1] == pytest.approx(-1.0)
    assert out[2] == pytest.approx(1.0)
    assert out[3] is None


def test_heartbeat_uptime_chaining_and_day_cap(spark):
    # user u day0: beats at 0, 1800, 10000 →
    #   min(1800,τ) + min(8200,τ) + min(τ, 86400−10000) = 1800+3600+3600
    # user v: single beat 400 s before midnight → capped at 400.
    rows = [("u", 0.0), ("u", 1800.0), ("u", 10000.0), ("v", 86000.0)]
    df = spark.createDataFrame(rows, "key string, t double").select(
        "key", F.timestamp_seconds("t").alias("event_ts")
    )
    out = {
        r["key"]: (r["n_beats"], r["live_s"], r["uptime_frac"])
        for r in analytics.heartbeat_uptime(
            df, ["key"], tolerance_s=3600.0
        ).collect()
    }
    assert out["u"][0] == 3
    assert out["u"][1] == pytest.approx(9000.0)
    assert out["u"][2] == pytest.approx(9000.0 / 86400.0)
    assert out["v"][1] == pytest.approx(400.0)


def test_level_shift_step_change(spark):
    # 1,1,1,5,5,5 with width 2: full-frame positions score
    # lead-mean − trail-mean; edges null.
    rows = [
        ("k", i, float(i), float(v))
        for i, v in enumerate([1, 1, 1, 5, 5, 5])
    ]
    df = spark.createDataFrame(
        rows, "key string, eid int, t double, value double"
    ).select("key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value")
    out = {
        r["eid"]: r["level_shift"]
        for r in analytics.with_level_shift(
            df, ["key"], width=2, order_cols=["eid"]
        ).collect()
    }
    assert out[0] is None and out[4] is None and out[5] is None
    assert out[1] == pytest.approx(2.0)   # [1,1] vs [1,5]
    assert out[2] == pytest.approx(4.0)   # [1,1] vs [5,5]
    assert out[3] == pytest.approx(2.0)   # [1,5] vs [5,5]


def _ts(s):
    return F.timestamp_seconds(F.lit(float(s)))


def test_cohort_retention_offsets(spark):
    rows = [
        ("u1", 0.0), ("u1", 2 * 86400.0 + 5),
        ("u2", 100.0),
        ("u3", 86400.0), ("u3", 86400.0 + 50),  # same-day repeat: one active day
    ]
    df = spark.createDataFrame(rows, "user_id string, t double").select(
        "user_id", F.timestamp_seconds("t").alias("event_ts")
    )
    out = {
        (r["cohort_day"].day, r["day_offset"]): r["n_active"]
        for r in analytics.cohort_retention(df, "user_id").collect()
    }
    # day-1 cohort (u1, u2): both active at offset 0; u1 again at offset 2
    assert out[(1, 0)] == 2 and out[(1, 2)] == 1
    # day-2 cohort (u3): one active day despite two events
    assert out[(2, 0)] == 1
    assert len(out) == 3


def test_funnel_boundary_rules(spark):
    rows = [
        # converts: purchase strictly inside (0, 3600]
        ("a", "click", 0.0), ("a", "purchase", 1800.0),
        # no: purchase 1 s past horizon
        ("b", "click", 0.0), ("b", "purchase", 3601.0),
        # no: purchase at exactly t_enter (strictly-after rule)
        ("c", "click", 500.0), ("c", "purchase", 500.0),
        # converts: exactly at t_enter + horizon
        ("d", "click", 0.0), ("d", "purchase", 3600.0),
        # no: purchase BEFORE the first click
        ("e", "purchase", 100.0), ("e", "click", 200.0),
        # entry uses FIRST click: second click's window does not count
        ("f", "click", 0.0), ("f", "click", 7000.0), ("f", "purchase", 7100.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, t double"
    ).select("user_id", "event_type", F.timestamp_seconds("t").alias("event_ts"))
    out = analytics.funnel(df, "click", "purchase").collect()
    assert len(out) == 1
    assert out[0]["n_entered"] == 6
    assert out[0]["n_converted"] == 2  # a and d only


def test_series_binary_op_zero_denom_and_ops(spark):
    l = spark.createDataFrame(
        [(1, 10.0), (2, 6.0), (3, 4.0)], "window_start int, value double"
    )
    r = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (4, 9.0)], "window_start int, value double"
    )
    ratio = {
        row["window_start"]: row["ratio"]
        for row in analytics.series_binary_op(l, r, "ratio").collect()
    }
    assert ratio == {1: 2.0, 2: None}  # inner join drops 3/4; 0-denom → null
    sub = {
        row["window_start"]: row["sub"]
        for row in analytics.series_binary_op(l, r, "sub").collect()
    }
    assert sub == {1: 5.0, 2: 6.0}


def test_top_n_per_group_ties(spark):
    rows = [
        ("g", "u1", 5), ("g", "u2", 5), ("g", "u3", 5), ("g", "u4", 1),
        ("h", "u9", 2),
    ]
    df = spark.createDataFrame(rows, "grp string, uid string, n bigint")
    out = analytics.top_n_per_group(df, ["grp"], "n", n=2, tie_cols=["uid"])
    got = {(r["grp"], r["rank"]): r["uid"] for r in out.collect()}
    # three-way tie at n=5 broken by uid ascending; u3 cut at n=2
    assert got == {("g", 1): "u1", ("g", 2): "u2", ("h", 1): "u9"}


def test_gap_stats_day_local(spark):
    rows = [("s", 0.0), ("s", 100.0), ("s", 1000.0), ("s", 86400.0 + 10)]
    df = spark.createDataFrame(rows, "key string, t double").select(
        "key", F.timestamp_seconds("t").alias("event_ts")
    )
    out = {
        r["day"].day: (r["n_events"], r["max_gap_s"], r["n_gaps_over"])
        for r in analytics.gap_stats(df, ["key"], threshold_s=600.0).collect()
    }
    assert out[1] == (3, 900.0, 1)     # gaps 100, 900; one over 600
    assert out[2] == (1, None, 0)      # single event: no gap


def test_sax_symbols_known_word(spark):
    from datetime import datetime

    from tokens_ts import analytics

    rows = (
        # key A: PAA series 0,10,20,30 -> z = ±1.342, ±0.447 -> "abcd"
        [("A", datetime(2026, 1, 1, 0, m, 0), float(10 * m)) for m in range(4)]
        # minute-0 PAA averages two raw samples: add a canceling pair
        + [("A", datetime(2026, 1, 1, 0, 0, 30), 0.0)]
        # key B: constant -> sd=0 -> z=0 -> 'c'
        + [("B", datetime(2026, 1, 1, 0, m, 0), 5.0) for m in range(2)]
    )
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {
        r["k"]: (r["sax_word"], r["n_seg"])
        for r in analytics.sax_symbols(df, keys=["k"]).collect()
    }
    assert out["A"] == ("abcd", 4)
    assert out["B"] == ("cc", 2)


def test_acf_alternating_and_gapped(spark):
    from datetime import datetime

    from tokens_ts import analytics

    rows = [
        ("A", datetime(2026, 1, 1, 0, m, 0), float(1 if m % 2 == 0 else -1))
        for m in range(6)
    ] + [
        # B: same alternation, minute 3 MISSING -> lag-1 pairs only at
        # (0,1),(1,2),(4,5); row-lag would wrongly pair minutes 2 and 4
        ("B", datetime(2026, 1, 1, 0, m, 0), float(1 if m % 2 == 0 else -1))
        for m in (0, 1, 2, 4, 5)
    ] + [
        # C: constant -> zero variance -> null acf
        ("C", datetime(2026, 1, 1, 0, m, 0), 7.0)
        for m in range(4)
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {
        (r["k"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in analytics.acf(df, keys=["k"], max_lag=2).collect()
    }
    n, a = out[("A", 1)]
    assert n == 5 and a == pytest.approx(-1.0)
    n, a = out[("A", 2)]
    assert n == 4 and a == pytest.approx(1.0)
    n, a = out[("B", 1)]
    assert n == 3 and a == pytest.approx(-1.0)  # gap-correct pairing
    assert out[("C", 1)] == (3, None)


def test_ccf_detects_lead_lag(spark):
    from datetime import datetime

    from tokens_ts import analytics

    vals = [1.0, 5.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0]
    rows = [
        ("A", datetime(2026, 1, 1, 0, m, 0), vals[m]) for m in range(8)
    ] + [
        # B is A delayed by one minute: B(t) = A(t-1) -> a_t pairs
        # perfectly with b_{t+1}, i.e. peak r=1 at lag=+1
        ("B", datetime(2026, 1, 1, 0, m + 1, 0), vals[m]) for m in range(8)
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {
        r["lag"]: (r["n_pairs"], r["ccf"])
        for r in analytics.ccf(df, key_col="k", max_lag=2).collect()
    }
    n, r1 = out[1]
    assert n == 8 and r1 == pytest.approx(1.0)
    assert out[0][1] != pytest.approx(1.0)
    # only ordered pairs A<B, lags -2..2
    assert set(out) == {-2, -1, 0, 1, 2}


def test_seasonal_naive_error_periodic_series(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    # hour-of-day alternation repeated exactly across 2 days:
    # naive (prev hour) is always off by 10, seasonal (same hour
    # yesterday) is exact on day 2
    rows = [
        ("S", t0 + timedelta(hours=h), 10.0 * (h % 2)) for h in range(48)
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    [r] = analytics.seasonal_naive_error(df, keys=["k"]).collect()
    assert r["n_naive"] == 47 and r["mae_naive"] == pytest.approx(10.0)
    assert r["n_seasonal"] == 24 and r["mae_seasonal"] == pytest.approx(0.0)
    assert r["mase"] == pytest.approx(0.0)


def test_holt_linear_hand_recursion(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), v) for h, v in enumerate([0.0, 10.0, 0.0])]
    rows += [("one", t0, 5.0)]  # 1-bucket series: trend 0, fitted null
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {
        (r["k"], r["ep"]): (r["level"], r["trend"], r["fitted"])
        for r in analytics.holt_linear(df, keys=["k"]).collect()
    }
    ep0 = int(t0.replace(tzinfo=__import__("datetime").timezone.utc).timestamp())
    # hand recursion (alpha=.5, beta=.25): l1=0 b1=10; l2=10 b2=10
    # (fit2=10); l3=.5*0+.5*20=10 b3=.25*0+.75*10=7.5 (fit3=20)
    assert out[("S", ep0)] == (0.0, 10.0, None)
    assert out[("S", ep0 + 3600)] == (10.0, 10.0, 10.0)
    assert out[("S", ep0 + 7200)] == (10.0, 7.5, 20.0)
    assert out[("one", ep0)] == (5.0, 0.0, None)


def test_holt_perfect_trend_fitted_exact(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), 2.0 * (h + 1)) for h in range(6)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.holt_linear(df, keys=["k"]).collect(), key=lambda r: r["ep"]
    )
    # a perfectly linear series is forecast exactly from step 2 on
    for r in out[1:]:
        assert r["fitted"] == pytest.approx(r["v"])
        assert r["trend"] == pytest.approx(2.0)


def test_cusum_known_shift(spark):
    """Step series [0×4, 10×4]: μ=5, σ=5, z=∓1; hand-worked S⁺ ramps
    0,0,0,0,.5,1,1.5,2 and S⁻ ramps .5,1,1.5,2,.5,0,0,0 (reflection
    identity == textbook recurrence); threshold 1.75 alarms exactly
    at the first-regime end (S⁻=2) and the series end (S⁺=2)."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [
        ("S", t0 + timedelta(hours=h), 0.0 if h < 4 else 10.0)
        for h in range(8)
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.cusum(df, keys=["k"], threshold=1.75).collect(),
        key=lambda r: r["ep"],
    )
    assert [r["s_up"] for r in out] == pytest.approx(
        [0, 0, 0, 0, 0.5, 1.0, 1.5, 2.0]
    )
    assert [r["s_dn"] for r in out] == pytest.approx(
        [0.5, 1.0, 1.5, 2.0, 0.5, 0, 0, 0]
    )
    assert [r["alarm"] for r in out] == [
        False, False, False, True, False, False, False, True,
    ]


def test_cusum_constant_series_never_alarms(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), 7.5) for h in range(5)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = analytics.cusum(df, keys=["k"]).collect()
    assert all(r["z"] == 0.0 and not r["alarm"] for r in out)
    assert all(r["s_up"] == 0.0 and r["s_dn"] == 0.0 for r in out)


def test_cusum_one_bucket_key_is_flat(spark):
    """A key with a single bucket has σ=0 → z=0, both sides stay 0 and
    never alarm, next to a multi-bucket key in the same frame."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), float(h * h)) for h in range(6)]
    rows += [("O", t0, 3.0), ("O", t0 + timedelta(minutes=5), 9.0)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = analytics.cusum(df, keys=["k"], threshold=0.1).collect()
    (one,) = [r for r in out if r["k"] == "O"]
    assert one["v"] == 6.0
    assert (one["z"], one["s_up"], one["s_dn"], one["alarm"]) == (0.0, 0.0, 0.0, False)
    assert any(r["alarm"] for r in out if r["k"] == "S")


def _bucket_rows(spark, ts_type):
    """Key S: hour 0 holds 1, 2 and a null (mean 1.5), hour 1 only
    nulls, hour 2 one 4.0, hour 3 holds 0.5, 1, 3 (mean 1.5). Key T has
    only a null."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = [
        ("S", t0, 1.0),
        ("S", t0 + timedelta(minutes=20), 2.0),
        ("S", t0 + timedelta(minutes=59), None),
        ("S", t0 + timedelta(hours=1), None),
        ("S", t0 + timedelta(hours=1, minutes=30), None),
        ("S", t0 + timedelta(hours=2, minutes=5), 4.0),
        ("S", t0 + timedelta(hours=3), 0.5),
        ("S", t0 + timedelta(hours=3, minutes=1), 1.0),
        ("S", t0 + timedelta(hours=3, minutes=2), 3.0),
        ("T", t0, None),
    ]
    return spark.createDataFrame(
        rows, f"k string, event_ts {ts_type}, value double"
    )


def test_bucket_means_through_cusum(spark):
    """The bucket front end: one row per (key, hour) holding the mean
    of the non-null values; an hour, or a key, with only nulls has no
    row."""
    out = analytics.cusum(_bucket_rows(spark, "timestamp"), keys=["k"])
    got = sorted((r["k"], r["ep"], r["v"]) for r in out.collect())
    t0 = 1767225600  # 2026-01-01T00:00:00Z
    assert got == [
        ("S", t0, 1.5), ("S", t0 + 7200, 4.0), ("S", t0 + 10800, 1.5)
    ]


def test_bucket_timestamp_types_agree_under_utc(spark):
    ltz = analytics.cusum(_bucket_rows(spark, "timestamp"), keys=["k"])
    ntz = analytics.cusum(_bucket_rows(spark, "timestamp_ntz"), keys=["k"])
    assert sorted(ltz.collect()) == sorted(ntz.collect())


def test_bucket_timestamp_types_under_kolkata(spark):
    """Under Asia/Kolkata (UTC+5:30) both timestamp types bucket
    without error, and TIMESTAMP_NTZ buckets sit on local wall-clock
    hours: 2026-01-01 00:00 local is epoch 1767205800."""
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        eps = {}
        for ts_type in ("timestamp", "timestamp_ntz"):
            rows = analytics.cusum(
                _bucket_rows(spark, ts_type), keys=["k"]
            ).collect()
            assert sorted(r["v"] for r in rows) == [1.5, 1.5, 4.0], ts_type
            eps[ts_type] = sorted(r["ep"] for r in rows)
        assert eps["timestamp_ntz"] == [
            1767205800, 1767205800 + 7200, 1767205800 + 10800
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_bucket_scale_rounds_half_up_through_kendall(spark):
    """kendall_matrix compares bucket means on the 10^-grain grid. At
    grain 0, X's hourly means 1.0, 1.4, 2.5, 3.4 round (half up) to
    1, 1, 3, 3: against a strictly rising Y that is 4 concordant pairs
    and 2 ties in x. At grain 6 the same means are all distinct."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = [
        ("X", t0, 0.5), ("X", t0 + timedelta(minutes=30), 1.5),
        ("X", t0 + timedelta(hours=1), 1.4),
        ("X", t0 + timedelta(hours=2), 2.5),
        ("X", t0 + timedelta(hours=3), 3.4),
    ] + [("Y", t0 + timedelta(hours=h), float(h)) for h in range(4)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    (g0,) = analytics.kendall_matrix(df, keys=["k"], grain=0).collect()
    assert (g0["n0"], g0["nc"], g0["nd"], g0["tx"], g0["ty"]) == (6, 4, 0, 2, 0)
    (g6,) = analytics.kendall_matrix(df, keys=["k"]).collect()
    assert (g6["nc"], g6["tx"], g6["tau_b"]) == (6, 0, 1.0)


def test_trunc_outside_the_operator_domain_raises(spark):
    df = _bucket_rows(spark, "timestamp")
    with pytest.raises(ValueError, match="completeness"):
        analytics.completeness(df, keys=["k"], trunc="day")
    with pytest.raises(KeyError):
        analytics.acf(df, keys=["k"], trunc="week")


def test_pair_operators_leave_no_persisted_rdds(spark):
    """bigram_pmi_topk, kendall_matrix and cusum leave the session's
    storage status as they found it: a collected call persists no RDD."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics, textops

    t0 = datetime(2026, 1, 1)
    ev = spark.createDataFrame(
        [
            (k, t0 + timedelta(hours=h), float((h * (i + 2)) % 7))
            for i, k in enumerate("ABC")
            for h in range(30)
        ],
        "k string, event_ts timestamp, value double",
    )
    seq = spark.createDataFrame(
        [(f"d{i}", [1, 2, 3, 0, 3, 1, 2]) for i in range(8)],
        "doc_id string, tokens array<int>",
    )
    jsc = spark.sparkContext._jsc
    for call in (
        lambda: textops.bigram_pmi_topk(seq, min_count=2),
        lambda: analytics.kendall_matrix(ev, keys=["k"]),
        lambda: analytics.cusum(ev, keys=["k"]),
    ):
        before = jsc.getPersistentRDDs().size()
        assert call().collect()
        assert jsc.getPersistentRDDs().size() == before


def test_robust_zscore_known_values(spark):
    """[1,2,3,4,100]: med=3, MAD=1 → rz(100)=97/1.4826≈65.4 (outlier),
    rz(1)≈−1.35 (not). A ≥50%-constant key has MAD=0 → null rz."""
    from tokens_ts import analytics

    rows = [("a", float(v)) for v in (1, 2, 3, 4, 100)] + [
        ("b", float(v)) for v in (5, 5, 5, 9)
    ]
    df = spark.createDataFrame(rows, "k string, value double")
    out = analytics.robust_zscore(df, keys=["k"]).collect()
    a = {r["value"]: r for r in out if r["k"] == "a"}
    assert a[100.0]["robust_z"] == pytest.approx(97 / 1.4826)
    assert a[100.0]["is_outlier"] is True
    assert a[1.0]["robust_z"] == pytest.approx(-2 / 1.4826)
    assert a[1.0]["is_outlier"] is False
    for r in out:
        if r["k"] == "b":
            assert r["robust_z"] is None and r["is_outlier"] is None


def test_rolling_median_known_window(spark):
    """Window of 3: series 1,100,3,5 → medians 1, 50.5, 3, 5 (spike
    ejected at t3 while a mean would still carry it); nulls drop out
    of the frame population."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [1.0, 100.0, 3.0, 5.0, None, 7.0]
    rows = [("S", t0 + timedelta(hours=h), v) for h, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.rolling_median(df, keys=["k"], n_preceding=2).collect(),
        key=lambda r: r["event_ts"],
    )
    assert [r["roll_median"] for r in out] == [1.0, 50.5, 3.0, 5.0, 4.0, 6.0]
    assert [r["roll_n"] for r in out] == [1, 2, 3, 3, 2, 2]


def test_bollinger_breach_sides(spark):
    """Width .5, frame of 2: [1,3,1] breaches up at t2 (3 > 2.5) and
    down at t3 (1 < 1.5); the seed point sits on its own zero-width
    band (not a breach)."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), v) for h, v in enumerate([1.0, 3.0, 1.0])]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.bollinger(
            df, keys=["k"], n_preceding=1, width=0.5
        ).collect(),
        key=lambda r: r["event_ts"],
    )
    assert [r["bb_breach"] for r in out] == [0, 1, -1]
    assert out[1]["bb_mid"] == 2.0 and out[1]["bb_up"] == 2.5


def test_corr_matrix_known_pairs(spark):
    """x=[1,2,3], y=2x, z=reversed(x): r(x,y)=1, r(x,z)=r(y,z)=−1."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = []
    for h, (a, b, c) in enumerate([(1, 2, 3), (2, 4, 2), (3, 6, 1)]):
        rows += [
            ("a", t0 + timedelta(hours=h), float(a)),
            ("b", t0 + timedelta(hours=h), float(b)),
            ("c", t0 + timedelta(hours=h), float(c)),
        ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {
        (r["ka"], r["kb"]): r["pearson_r"]
        for r in analytics.corr_matrix(df, keys=["k"]).collect()
    }
    assert out[("a", "b")] == pytest.approx(1.0)
    assert out[("a", "c")] == pytest.approx(-1.0)
    assert out[("b", "c")] == pytest.approx(-1.0)


def test_ewma_irregular_gap_adaptive(spark):
    """One half-life gap discounts exactly half: x=[0,10] at t,t+1h →
    l2 = .5·0 + .5·10 = 5; a tiny 1-s gap barely moves the level;
    matches pandas ewm(halflife=..., times=...) semantics."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [
        ("A", t0, 0.0),
        ("A", t0 + timedelta(hours=1), 10.0),
        ("B", t0, 0.0),
        ("B", t0 + timedelta(seconds=1), 10.0),
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {
        (r["k"], r["event_ts"]): r["ewma"]
        for r in analytics.ewma_irregular(
            df, keys=["k"], halflife_s=3600.0
        ).collect()
    }
    assert out[("A", t0 + timedelta(hours=1))] == pytest.approx(5.0)
    b2 = out[("B", t0 + timedelta(seconds=1))]
    assert b2 == pytest.approx(10.0 * (1 - 2 ** (-1 / 3600.0)), rel=1e-9)
    assert b2 < 0.01  # a 1-s gap at 1-h half-life barely moves it


def test_ewma_irregular_matches_reference_recurrence(spark):
    """Cross-check against an independently-written single-node
    recurrence on an irregular grid (pandas ewm(times=) only supports
    adjust=True, a different estimator — hence the direct loop)."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    gaps = [0, 7, 8, 130, 131, 7200, 7201]
    vals = [3.0, -1.0, 4.0, 1.0, -5.0, 9.0, 2.0]
    rows = [("S", t0 + timedelta(seconds=g), v) for g, v in zip(gaps, vals)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    got = [
        r["ewma"]
        for r in sorted(
            analytics.ewma_irregular(df, keys=["k"], halflife_s=60.0).collect(),
            key=lambda r: r["event_ts"],
        )
    ]
    want = [vals[0]]
    for i in range(1, len(vals)):
        w = 2.0 ** (-(gaps[i] - gaps[i - 1]) / 60.0)
        want.append(w * want[-1] + (1 - w) * vals[i])
    assert got == pytest.approx(want, rel=1e-12)


def test_holt_winters_periodic_series_exact(spark):
    """A perfectly periodic, trendless series is forecast EXACTLY:
    m1=m2=mean, b=0, seasonals = the pattern, and every fitted value
    equals the observation."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    pat = [4.0, 9.0, 2.0]
    rows = [
        ("S", t0 + timedelta(hours=h), pat[h % 3]) for h in range(9)
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.holt_winters(df, keys=["k"], period=3).collect(),
        key=lambda r: r["ep"],
    )
    assert len(out) == 6  # emitted from bucket P+1 on
    for r in out:
        assert r["fitted"] == pytest.approx(r["v"])
        assert r["trend"] == pytest.approx(0.0)
        assert r["level"] == pytest.approx(5.0)


def test_holt_winters_short_series_empty(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), 1.0) for h in range(5)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    assert analytics.holt_winters(df, keys=["k"], period=3).count() == 0


def test_sliding_window_stats_range_semantics(spark):
    """RANGE frame: events at 0s, 1800s, 3600s, 3601s with a 3600s
    window — the 3600s event still sees the 0s event (inclusive
    edge); the 3601s event does not. Same-timestamp peers share one
    frame."""
    from tokens_ts import analytics

    rows = [("k", i, t, 1.0) for i, t in enumerate([0, 1800, 3600, 3601])]
    rows.append(("k", 9, 3601, 1.0))  # peer of event 3
    df = spark.createDataFrame(
        rows, "key string, eid int, t long, value double"
    ).select("key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value")
    out = {
        r["eid"]: r["win_n"]
        for r in analytics.sliding_window_stats(
            df, ["key"], window_s=3600
        ).collect()
    }
    assert out[0] == 1
    assert out[1] == 2
    assert out[2] == 3          # inclusive lower edge: sees t=0
    # frame at 3601 covers [1, 3601]: t=0 aged out; peers share it
    assert out[3] == 4 and out[9] == 4


def test_winsorized_mean_caps_leverage(spark):
    """[1..9, 1000] in one bucket: p05/p95 interpolated (1.45/595.45);
    the winsorized mean caps the spike's leverage while raw mean is
    dragged to ~104."""
    from datetime import datetime, timedelta

    import numpy as np

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [float(v) for v in range(1, 10)] + [1000.0]
    rows = [("S", t0 + timedelta(minutes=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    r = analytics.winsorized_mean(df, keys=["k"]).collect()[0]
    lo, hi = np.percentile(np.array(vals), [5, 95], method="linear")
    assert r["p_lo"] == pytest.approx(lo)
    assert r["p_hi"] == pytest.approx(hi)
    want = float(np.clip(np.array(vals), lo, hi).mean())
    assert r["win_mean"] == pytest.approx(want)
    assert r["raw_mean"] == pytest.approx(sum(vals) / 10)
    assert r["win_mean"] < r["raw_mean"]


def test_spearman_monotone_invariance(spark):
    """Spearman sees a perfect monotone relation through a nonlinear
    transform: y = exp(x) → rho = 1 while Pearson r < 1; reversing
    gives rho = −1; ties get average ranks."""
    import math
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    rows = []
    for h, x in enumerate(xs):
        rows += [
            ("a", t0 + timedelta(hours=h), x),
            ("b", t0 + timedelta(hours=h), math.exp(x)),
            ("c", t0 + timedelta(hours=h), -x),
        ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    rho = {
        (r["ka"], r["kb"]): r["spearman_rho"]
        for r in analytics.spearman_matrix(df, keys=["k"]).collect()
    }
    assert rho[("a", "b")] == pytest.approx(1.0)
    assert rho[("a", "c")] == pytest.approx(-1.0)
    pear = {
        (r["ka"], r["kb"]): r["pearson_r"]
        for r in analytics.corr_matrix(df, keys=["k"]).collect()
    }
    assert pear[("a", "b")] < 0.999  # Pearson penalizes the curvature


def test_theil_sen_ignores_outlier_hour(spark):
    """Hourly values [0,1,2,3,100,5]: OLS slope is wrecked by the
    spike; the pairwise-slope median stays 1.0/hour."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [0.0, 1.0, 2.0, 3.0, 100.0, 5.0]
    rows = [("S", t0 + timedelta(hours=h), v) for h, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    r = analytics.theil_sen(df, keys=["k"]).collect()[0]
    assert r["n_buckets"] == 6 and r["n_pairs"] == 15
    assert r["slope_per_h"] == pytest.approx(1.0)


def test_decompose_recovers_planted_structure(spark):
    """Plant v = 10 + period-3 pattern (zero-mean) on hours 0..23 with
    half_window=3 (full 7-bucket frames away from edges). The centered
    MA of a zero-mean period-3 pattern over 7 rows is NOT exactly the
    level, but over ANY multiple-of-period window it is: use
    half_window=1 (3 rows = one period) → trend = 10 exactly,
    seasonal = the pattern, residual = 0; edges have null trend."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    pat = [3.0, -1.0, -2.0]  # sums to zero
    # 26 hours → interior hours 1..24 cover each hour-of-day exactly
    # once (24 slots), so the profile re-centering term is exactly 0
    # and the planted pattern is recovered verbatim
    rows = [
        ("S", t0 + timedelta(hours=h), 10.0 + pat[h % 3]) for h in range(26)
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.decompose(df, keys=["k"], half_window=1).collect(),
        key=lambda r: r["ep"],
    )
    assert out[0]["trend"] is None and out[-1]["trend"] is None
    for r in out[1:-1]:
        assert r["trend"] == pytest.approx(10.0)
        hod = (r["ep"] // 3600) % 24
        assert r["seasonal"] == pytest.approx(pat[hod % 3])
        assert r["residual"] == pytest.approx(0.0, abs=1e-9)


def test_ks_drift_hand_computed(spark):
    # day1 = {1,2,3,4}, day2 = {3,4,5,6}: pooled ECDF max gap = 0.5
    # (at v in [2,3): F1=0.5, F2=0.0 ... at v=4: 1.0 vs 0.5)
    rows = [("k", 0, float(v)) for v in [1, 2, 3, 4]]
    rows += [("k", 86400, float(v)) for v in [3, 4, 5, 6]]
    # second key: identical days -> KS exactly 0
    rows += [("z", 0, float(v)) for v in [7, 8, 9]]
    rows += [("z", 86400, float(v)) for v in [7, 8, 9]]
    df = spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    out = {
        r["key"]: r
        for r in analytics.ks_drift(df, ["key"], trunc="day").collect()
    }
    # first day of each key has no predecessor -> exactly one row per key
    assert set(out) == {"k", "z"}
    assert out["k"]["n_prev"] == 4 and out["k"]["n_cur"] == 4
    assert out["k"]["ks_stat"] == pytest.approx(0.5, abs=0)
    assert out["z"]["ks_stat"] == 0.0


def test_ks_drift_ties_weighted(spark):
    # day1 = {1,1,1,2}, day2 = {1,2,2,2}: at v=1 F1=0.75, F2=0.25
    rows = [("k", 0, v) for v in [1.0, 1.0, 1.0, 2.0]]
    rows += [("k", 86400, v) for v in [1.0, 2.0, 2.0, 2.0]]
    df = spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    (r,) = analytics.ks_drift(df, ["key"], trunc="day").collect()
    assert r["ks_stat"] == pytest.approx(0.5, abs=0)


def test_psi_drift_zero_on_identical_and_alarms_on_shift(spark):
    # identical bucket profiles -> every term (p-p)*ln(1) == 0.0
    rows = [("k", 0, v) for v in [10.0, 30.0, 50.0, 70.0]]
    rows += [("k", 86400, v) for v in [10.0, 30.0, 50.0, 70.0]]
    # hard shift: all mass moves ~200 buckets-wide away
    rows += [("s", 0, v) for v in [10.0, 20.0, 30.0, 40.0]]
    rows += [("s", 86400, v) for v in [410.0, 420.0, 430.0, 440.0]]
    df = spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    out = {
        r["key"]: r
        for r in analytics.psi_drift(
            df, ["key"], trunc="day", lo=0.0, hi=500.0, nbins=20
        ).collect()
    }
    assert out["k"]["psi"] == 0.0
    assert out["s"]["psi"] > 0.25  # industry alarm threshold


def test_psi_drift_symmetric(spark):
    # PSI formula is symmetric in (prev, cur); swapping the two days
    # must give the same score
    a = [5.0, 100.0, 100.0, 250.0]
    b = [5.0, 5.0, 250.0, 490.0]
    rows = [("f", 0, v) for v in a] + [("f", 86400, v) for v in b]
    rows += [("r", 0, v) for v in b] + [("r", 86400, v) for v in a]
    df = spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    out = {
        r["key"]: r["psi"]
        for r in analytics.psi_drift(
            df, ["key"], trunc="day", lo=0.0, hi=500.0, nbins=20
        ).collect()
    }
    assert out["f"] == pytest.approx(out["r"], rel=1e-12)
    assert out["f"] > 0.0


def test_completeness_emits_zero_coverage_day(spark):
    # hourly data on day 0 (hours 10..23) and day 2 (hours 0..5),
    # NOTHING on day 1 -> day 1 must appear with coverage 0
    rows = [("k", (10 + h) * 3600) for h in range(14)]  # d0 h10..h23
    rows += [("k", 2 * 86400 + h * 3600) for h in range(6)]
    df = spark.createDataFrame(rows, "key string, t int").select(
        "key", F.timestamp_seconds("t").alias("event_ts")
    )
    out = {
        int(r["day_ts"].timestamp() // 86400): r
        for r in analytics.completeness(df, ["key"], trunc="hour").collect()
    }
    assert set(out) == {0, 1, 2}
    # day 0: active span starts at h10 -> expected 14, present 14
    assert out[0]["slots_expected"] == 14 and out[0]["slots_present"] == 14
    assert out[0]["coverage"] == 1.0
    # day 1: fully inside the span, zero data
    assert out[1]["slots_expected"] == 24 and out[1]["slots_present"] == 0
    assert out[1]["coverage"] == 0.0
    # day 2: span ends at h5 -> expected 6
    assert out[2]["slots_expected"] == 6 and out[2]["slots_present"] == 6


def test_completeness_counts_slots_not_rows(spark):
    # 100 events inside one hour = ONE present slot
    rows = [("k", 3600 + i * 30) for i in range(100)]
    df = spark.createDataFrame(rows, "key string, t int").select(
        "key", F.timestamp_seconds("t").alias("event_ts")
    )
    (r,) = analytics.completeness(df, ["key"], trunc="hour").collect()
    assert r["slots_expected"] == 1 and r["slots_present"] == 1


# ---------------------------------------------------------------------------
# pettitt
# ---------------------------------------------------------------------------


def _pettitt_df(spark, values, key="k"):
    rows = [(key, 3600 * i, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")


def test_pettitt_matches_naive_double_sum(spark):
    """U_t from the midrank identity == the O(n²) textbook double sum,
    on a tied, shifted series."""
    vals = [1.0, 2.0, 2.0, 1.0, 9.0, 8.0, 9.0, 9.0]
    out = analytics.pettitt(
        _pettitt_df(spark, vals), ["key"], trunc="hour"
    ).collect()[0]

    def sgn(x):
        return (x > 0) - (x < 0)

    n = len(vals)
    us = [
        sum(sgn(vals[i] - vals[j]) for i in range(t + 1) for j in range(t + 1, n))
        for t in range(n - 1)
    ]
    k_naive = max(abs(u) for u in us)
    t_star = min(t for t, u in enumerate(us) if abs(u) == k_naive)
    assert out["k_stat"] == k_naive
    assert out["n"] == n
    assert out["cp_ep"] == 3600 * t_star
    p = min(1.0, 2.0 * math.exp(-6.0 * k_naive**2 / (n**3 + n**2)))
    assert out["p_e6"] == round(p * 1e6)


def test_pettitt_locates_obvious_changepoint(spark):
    """10 low then 10 high: the split belongs at the last low bucket."""
    out = analytics.pettitt(
        _pettitt_df(spark, [1.0] * 10 + [100.0] * 10), ["key"], trunc="hour"
    ).collect()[0]
    # K = max U = 10·10 pairs all sgn −1 → |U| = 100 at t = 9 (0-based)
    assert out["k_stat"] == 100
    assert out["cp_ep"] == 3600 * 9
    assert out["p_e6"] < 10_000  # p ≪ 0.01: a real change


def test_pettitt_drops_single_bucket_keys(spark):
    out = analytics.pettitt(_pettitt_df(spark, [5.0]), ["key"], trunc="hour")
    assert out.count() == 0


# ---------------------------------------------------------------------------
# interval_coverage
# ---------------------------------------------------------------------------


def _iv_df(spark, triples):
    return spark.createDataFrame(
        [("k", s, e) for s, e in triples], "key string, start_s long, end_s long"
    )


def test_interval_coverage_merges_overlaps_and_touching(spark):
    # [0,10) ∪ [5,20) ∪ [20,25) = one island of 25s; [40,41) separate.
    out = analytics.interval_coverage(
        _iv_df(spark, [(0, 10), (5, 20), (20, 25), (40, 41)]),
        ["key"],
    ).collect()[0]
    assert out["covered_s"] == 26
    assert out["n_islands"] == 2
    assert out["n_intervals"] == 4


def test_interval_coverage_contained_interval_adds_nothing(spark):
    out = analytics.interval_coverage(
        _iv_df(spark, [(0, 100), (10, 20)]), ["key"]
    ).collect()[0]
    assert out["covered_s"] == 100
    assert out["n_islands"] == 1


def test_interval_coverage_buckets_by_start(spark):
    # one interval starting day 0 spilling into day 1: credited to day 0
    rows = analytics.interval_coverage(
        _iv_df(spark, [(86390, 86410), (86400 + 50, 86400 + 60)]), ["key"]
    ).collect()
    by_day = {r["bucket_ep"]: r for r in rows}
    assert by_day[0]["covered_s"] == 20
    assert by_day[86400]["covered_s"] == 10


def test_interval_coverage_drops_empty_intervals(spark):
    out = analytics.interval_coverage(
        _iv_df(spark, [(5, 5), (7, 6), (10, 12)]), ["key"]
    ).collect()
    assert len(out) == 1 and out[0]["covered_s"] == 2


# ---------------------------------------------------------------------------
# ljung_box
# ---------------------------------------------------------------------------


def test_ljung_box_periodic_alarms_noise_does_not(spark):
    import math as _m

    # strongly periodic series (period 2): ACF(2) = +1, ACF(1) = −1
    per = [("p", 60 * i, 10.0 if i % 2 == 0 else -10.0) for i in range(40)]
    # deterministic "noise": weyl-sequence fractional parts, no period
    noise = [("n", 60 * i, _m.modf(i * 0.754877666)[0]) for i in range(40)]
    df = spark.createDataFrame(
        per + noise, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    rows = {
        r["key"]: r
        for r in analytics.ljung_box(df, ["key"], max_lag=5).collect()
    }
    assert rows["p"]["alarm"] is True
    assert rows["p"]["q_lb"] > 100.0
    assert rows["n"]["q_lb"] < rows["p"]["q_lb"]


def test_ljung_box_matches_direct_formula(spark):
    rows = [("k", 60 * i, float((i * 7) % 5)) for i in range(20)]
    df = spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    got = analytics.ljung_box(df, ["key"], max_lag=3).collect()[0]
    acf_rows = analytics.acf(df, ["key"], max_lag=3).collect()
    n = 20
    q = n * (n + 2) * sum(
        r["acf"] ** 2 / (n - r["lag"]) for r in acf_rows if r["acf"] is not None
    )
    assert abs(got["q_lb"] - q) < 1e-9
    assert got["n"] == n


def test_ljung_box_rejects_oversized_lag(spark):
    df = spark.createDataFrame(
        [("k", 0, 1.0)], "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    with pytest.raises(ValueError):
        analytics.ljung_box(df, ["key"], max_lag=11)


# ---------------------------------------------------------------------------
# permutation_entropy
# ---------------------------------------------------------------------------


def _pe_df(spark, values):
    rows = [("k", i, 60 * i, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(
        rows, "key string, eid int, t int, value double"
    ).select(
        "key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value"
    )


def test_perm_entropy_monotone_series_is_zero(spark):
    out = analytics.permutation_entropy(
        _pe_df(spark, range(10)), ["key"], order_cols=["eid"]
    ).collect()[0]
    # every triple is ascending → one pattern → H = 0
    assert out["n_triples"] == 8
    assert abs(out["pe"]) < 1e-12


def test_perm_entropy_hand_computed_mixture(spark):
    import math as _m

    # 1,3,2,4 → triples: (1,3,2)=up,down,up-overall; (3,2,4)=down,up,up
    out = analytics.permutation_entropy(
        _pe_df(spark, [1, 3, 2, 4]), ["key"], order_cols=["eid"]
    ).collect()[0]
    assert out["n_triples"] == 2
    assert abs(out["pe"] - _m.log(2)) < 1e-12  # two distinct patterns
    assert abs(out["pe_norm"] - _m.log(2) / _m.log(6)) < 1e-12


def test_perm_entropy_ties_are_own_pattern(spark):
    # constant series: one ALL-TIES code, H = 0, never null
    out = analytics.permutation_entropy(
        _pe_df(spark, [5, 5, 5, 5, 5]), ["key"], order_cols=["eid"]
    ).collect()[0]
    assert out["n_triples"] == 3
    assert abs(out["pe"]) < 1e-12


def test_perm_entropy_nulls_removed_before_tripling(spark):
    rows = [
        ("k", 0, 0, 1.0),
        ("k", 1, 60, None),
        ("k", 2, 120, 2.0),
        ("k", 3, 180, 3.0),
    ]
    df = spark.createDataFrame(
        rows, "key string, eid int, t int, value double"
    ).select(
        "key", "eid", F.timestamp_seconds("t").alias("event_ts"), "value"
    )
    out = analytics.permutation_entropy(
        df, ["key"], order_cols=["eid"]
    ).collect()
    # non-null subsequence 1,2,3 → exactly one ascending triple
    assert len(out) == 1 and out[0]["n_triples"] == 1


# ---------------------------------------------------------------------------
# dtw_daily
# ---------------------------------------------------------------------------


def _dtw_days(spark, day0, day1):
    rows = []
    for h, v in enumerate(day0):
        rows.append(("k", 3600 * h, float(v)))
    for h, v in enumerate(day1):
        rows.append(("k", 86400 + 3600 * h, float(v)))
    return spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")


def test_dtw_identical_profiles_zero(spark):
    prof = [1.0, 5.0, 2.0, 8.0]
    out = analytics.dtw_daily(_dtw_days(spark, prof, prof), ["key"]).collect()
    assert len(out) == 1
    assert out[0]["dtw"] == 0.0
    assert out[0]["n_prev"] == 4 and out[0]["n_cur"] == 4


def test_dtw_matches_reference_dp(spark):
    a, b = [1.0, 3.0, 2.0, 7.0], [2.0, 3.0, 3.0, 6.0, 7.0]
    out = analytics.dtw_daily(_dtw_days(spark, a, b), ["key"]).collect()[0]
    assert out["dtw"] == analytics._dtw_ref(a, b)


def test_dtw_shift_scores_below_pointwise_l1(spark):
    """A profile shifted by one hour: DTW must beat point-wise L1 —
    the whole reason to warp."""
    a = [0.0, 0.0, 10.0, 0.0, 0.0, 0.0]
    b = [0.0, 0.0, 0.0, 10.0, 0.0, 0.0]  # same spike, 1h later
    out = analytics.dtw_daily(_dtw_days(spark, a, b), ["key"]).collect()[0]
    l1 = sum(abs(x - y) for x, y in zip(a, b))
    assert out["dtw"] < l1
    assert out["dtw"] == 0.0  # pure shift is free under full-window DTW


def test_dtw_unequal_lengths(spark):
    # gap in day 1 (only 3 present hours) still pairs and scores
    out = analytics.dtw_daily(
        _dtw_days(spark, [1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 4.0]), ["key"]
    ).collect()[0]
    assert out["n_prev"] == 4 and out["n_cur"] == 3
    assert out["dtw"] == analytics._dtw_ref(
        [1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 4.0]
    )


# ---------------------------------------------------------------------------
# spectral_power
# ---------------------------------------------------------------------------


def test_spectral_pure_daily_cycle(spark):
    import math as _m

    # 10 days of a clean 24h sine sampled hourly, amplitude 3
    rows = [
        ("k", 3600 * t, 50.0 + 3.0 * _m.sin(2 * _m.pi * t / 24.0))
        for t in range(240)
    ]
    df = spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    out = {
        r["period_s"]: r
        for r in analytics.spectral_power(
            df, ["key"], periods_s=[86400, 43200]
        ).collect()
    }
    # amplitude recovered at the true period, ~0 at the harmonic
    assert abs(out[86400]["amplitude"] - 3.0) < 1e-9
    assert out[43200]["amplitude"] < 1e-9
    assert out[86400]["n"] == 240


def test_spectral_constant_series_zero_everywhere(spark):
    rows = [("k", 3600 * t, 7.5) for t in range(48)]
    df = spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    for r in analytics.spectral_power(df, ["key"], [86400]).collect():
        assert abs(r["power"]) < 1e-18


def test_spectral_gap_correct_no_zero_fill(spark):
    """Dropping half the samples of a constant series must NOT create
    phantom power (an implicit zero-fill would)."""
    rows = [("k", 3600 * t, 5.0) for t in range(96) if t % 3 != 0]
    df = spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")
    r = analytics.spectral_power(df, ["key"], [86400]).collect()[0]
    assert abs(r["power"]) < 1e-18
    assert r["n"] == 64


# ---------------------------------------------------------------------------
# interarrival_stats
# ---------------------------------------------------------------------------


def test_interarrival_hand_computed(spark):
    rows = [
        # user 1: gaps 10, 20; user 2: gap 40
        ("k", 1, 1, 0), ("k", 1, 2, 10), ("k", 1, 3, 30),
        ("k", 2, 4, 100), ("k", 2, 5, 140),
    ]
    df = spark.createDataFrame(
        rows, "key string, uid int, eid int, t int"
    ).select("key", "uid", "eid", F.timestamp_seconds("t").alias("event_ts"))
    r = analytics.interarrival_stats(
        df, ["key"], user_col="uid", order_cols=["eid"]
    ).collect()[0]
    assert r["n_gaps"] == 3
    assert r["p50_s"] == 20.0          # median of 10,20,40
    assert r["max_s"] == 40
    # interpolated p95 of (10,20,40): idx=0.95*2=1.9 → 20+0.9*20 = 38
    assert abs(r["p95_s"] - 38.0) < 1e-9


def test_interarrival_never_crosses_users(spark):
    rows = [("k", 1, 1, 0), ("k", 2, 2, 5)]  # different users → no gap
    df = spark.createDataFrame(
        rows, "key string, uid int, eid int, t int"
    ).select("key", "uid", "eid", F.timestamp_seconds("t").alias("event_ts"))
    assert analytics.interarrival_stats(
        df, ["key"], user_col="uid", order_cols=["eid"]
    ).count() == 0


# ---------------------------------------------------------------------------
# hurst_rs
# ---------------------------------------------------------------------------


def _hurst_df(spark, values, key="k"):
    rows = [(key, 3600 * i, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(
        rows, "key string, t int, value double"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "value")


def test_hurst_matches_numpy_reference(spark):
    import math as _m

    # deterministic pseudo-random walk-ish series
    vals, acc = [], 0.0
    for i in range(128):
        acc += _m.sin(i * 1.7) + 0.3
        vals.append(acc)
    rows = analytics.hurst_rs(
        _hurst_df(spark, vals), ["key"], sizes=(8, 16, 32)
    ).collect()
    got = {r["w"]: r for r in rows}

    def rs_mean(vals, w):
        out = []
        for b in range(len(vals) // w):
            blk = vals[b * w : (b + 1) * w]
            mu = sum(blk) / w
            sd = _m.sqrt(sum((x - mu) ** 2 for x in blk) / w)
            if sd == 0:
                continue
            cum, c = [], 0.0
            for x in blk:
                c += x - mu
                cum.append(c)
            out.append((max(cum) - min(cum)) / sd)
        return sum(out) / len(out), len(out)

    xs, ys = [], []
    for w in (8, 16, 32):
        m, nb = rs_mean(vals, w)
        assert got[w]["n_blocks"] == nb
        assert abs(got[w]["rs_mean"] - m) < 1e-9
        xs.append(_m.log(w))
        ys.append(_m.log(m))
    n = 3
    slope = (n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)) / (
        n * sum(x * x for x in xs) - sum(xs) ** 2
    )
    assert abs(got[8]["hurst"] - slope) < 1e-9


def test_hurst_trending_beats_alternating(spark):
    trend = analytics.hurst_rs(
        _hurst_df(spark, [float(i) for i in range(96)]), ["key"]
    ).collect()[0]["hurst"]
    alt = analytics.hurst_rs(
        _hurst_df(spark, [float(i % 2) for i in range(96)]), ["key"]
    ).collect()[0]["hurst"]
    # persistent trend → H near 1; alternating → strongly anti-persistent
    assert trend > 0.9
    assert alt < 0.3


def test_hurst_ragged_tail_dropped(spark):
    rows = analytics.hurst_rs(
        _hurst_df(spark, [float((i * 13) % 7) for i in range(20)]),
        ["key"],
        sizes=(8, 16, 32),
    ).collect()
    got = {r["w"]: r for r in rows}
    assert got[8]["n_blocks"] == 2      # 20 // 8
    assert got[16]["n_blocks"] == 1
    assert 32 not in got                 # no complete block
    assert got[8]["hurst"] is not None   # 2 usable sizes → H defined


def test_kalman_hand_recursion(spark):
    """q=.25, r=1, P1=1 on [0, 9, 0]: pp2=1.25 K2=5/9 l2=5 P2=5/9;
    pp3=5/9+1/4=29/36 K3=29/65 l3=5-145/65=5*36/65=36/13."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), v) for h, v in enumerate([0.0, 9.0, 0.0])]
    rows += [("one", t0, 5.0)]  # 1-bucket series: init state only
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {
        (r["k"], r["ep"]): r
        for r in analytics.kalman_level(df, keys=["k"]).collect()
    }
    ep0 = int(t0.replace(tzinfo=__import__("datetime").timezone.utc).timestamp())
    r1 = out[("S", ep0)]
    assert (r1["level"], r1["pvar"], r1["gain"], r1["fitted"]) == (0.0, 1.0, None, None)
    r2 = out[("S", ep0 + 3600)]
    assert r2["gain"] == pytest.approx(5.0 / 9.0)
    assert r2["level"] == pytest.approx(5.0)
    assert r2["pvar"] == pytest.approx(5.0 / 9.0)
    assert r2["fitted"] == 0.0 and r2["innovation"] == 9.0
    r3 = out[("S", ep0 + 7200)]
    assert r3["gain"] == pytest.approx(29.0 / 65.0)
    assert r3["level"] == pytest.approx(36.0 / 13.0)
    assert r3["innovation"] == pytest.approx(-5.0)
    assert out[("one", ep0)]["level"] == 5.0


def test_kalman_gain_converges_to_steady_state(spark):
    """The gain sequence converges monotonically to the closed-form
    steady state K* solving K = (P+q)/(P+q+r) with P = (1-K)(P+q):
    K* = (-q + sqrt(q^2 + 4 q r)) / (2 r); constant input keeps the
    level exact while the gain still converges (state variance is
    input-independent)."""
    import math
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), 7.0) for h in range(40)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.kalman_level(df, keys=["k"], q=0.25, r=1.0).collect(),
        key=lambda r: r["ep"],
    )
    q_, r_ = 0.25, 1.0
    k_star = (-q_ + math.sqrt(q_ * q_ + 4 * q_ * r_)) / (2 * r_)
    gains = [r["gain"] for r in out[1:]]
    assert abs(gains[-1] - k_star) < 1e-12
    assert all(a >= b - 1e-15 for a, b in zip(gains, gains[1:]))  # monotone down
    for r in out:
        assert r["level"] == 7.0  # constant series: level exact at every t
        assert r["innovation"] in (None, 0.0)


def test_variance_ratio_hand_and_degenerate(spark):
    """v=[0,1,3,6] (q=2): d1=[1,2,3] var_pop=2/3; dq=[3,5] var_pop=1;
    VR = 1/(2*2/3) = 0.75. Perfect trend: var1=0 -> vr null. Short
    series (< q+1 buckets): nq=0 -> vr null."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("A", t0 + timedelta(hours=h), v) for h, v in enumerate([0.0, 1.0, 3.0, 6.0])]
    rows += [("T", t0 + timedelta(hours=h), float(h)) for h in range(5)]
    rows += [("S", t0 + timedelta(hours=h), float(h * h)) for h in range(2)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {r["k"]: r for r in analytics.variance_ratio(df, keys=["k"], q=2).collect()}
    a = out["A"]
    assert (a["n_buckets"], a["n1"], a["nq"]) == (4, 3, 2)
    assert a["var1"] == pytest.approx(2.0 / 3.0)
    assert a["varq"] == pytest.approx(1.0)
    assert a["vr"] == pytest.approx(0.75)
    assert out["T"]["var1"] == 0.0 and out["T"]["vr"] is None
    assert out["S"]["nq"] == 0 and out["S"]["vr"] is None


def test_variance_ratio_mean_reversion_vs_walk(spark):
    """Alternating series (pure mean reversion): v_t - v_{t-2} = 0
    everywhere -> VR(2)=0. A cumulative +1/+1/-1/-1 square-wave walk
    scores strictly higher (persistence at lag 2)."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    alt = [1.0 if h % 2 == 0 else -1.0 for h in range(12)]
    steps = [1.0, 1.0, -1.0, -1.0] * 3
    walk, acc = [], 0.0
    for s in steps:
        acc += s
        walk.append(acc)
    rows = [("alt", t0 + timedelta(hours=h), v) for h, v in enumerate(alt)]
    rows += [("walk", t0 + timedelta(hours=h), v) for h, v in enumerate(walk)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {r["k"]: r for r in analytics.variance_ratio(df, keys=["k"], q=2).collect()}
    assert out["alt"]["vr"] == pytest.approx(0.0)
    assert out["walk"]["vr"] > out["alt"]["vr"]


def test_variance_ratio_rejects_bad_q(spark):
    from tokens_ts import analytics

    df = spark.range(1).select(
        F.lit("k").alias("k"),
        F.current_timestamp().alias("event_ts"),
        F.lit(1.0).alias("value"),
    )
    with pytest.raises(ValueError):
        analytics.variance_ratio(df, keys=["k"], q=1)


def test_kendall_matrix_known_taus(spark):
    """Three series over 4 common hourly buckets in one day:
    B = monotone with A -> tau(A,B)=1; C = reverse of A -> tau=-1;
    and a tie case checked against the hand tau-b formula."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    a = [1.0, 2.0, 3.0, 4.0]
    bvals = [10.0, 20.0, 30.0, 40.0]
    c = [4.0, 3.0, 2.0, 1.0]
    d = [1.0, 1.0, 2.0, 2.0]  # ties in x vs A
    rows = []
    for h in range(4):
        rows += [
            ("A", t0 + timedelta(hours=h), a[h]),
            ("B", t0 + timedelta(hours=h), bvals[h]),
            ("C", t0 + timedelta(hours=h), c[h]),
            ("D", t0 + timedelta(hours=h), d[h]),
        ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {
        (r["ka"], r["kb"]): r
        for r in analytics.kendall_matrix(df, keys=["k"]).collect()
    }
    ab = out[("A", "B")]
    assert (ab["n0"], ab["nc"], ab["nd"]) == (6, 6, 0)
    assert ab["tau_b"] == pytest.approx(1.0)
    assert out[("A", "C")]["tau_b"] == pytest.approx(-1.0)
    # A vs D: D has tied pairs (1,1) and (2,2): ty=2 (y tied, x not);
    # nc=4, nd=0, n0=6 -> tau_b = 4 / sqrt(6 * 4)
    ad = out[("A", "D")]
    assert (ad["nc"], ad["nd"], ad["ty"], ad["txy"]) == (4, 0, 2, 0)
    assert ad["tau_b"] == pytest.approx(4.0 / (6.0 * 4.0) ** 0.5)


def test_kendall_matrix_constant_side_null_and_day_split(spark):
    """A constant series yields ty=n0 -> denominator 0 -> null tau;
    buckets never pair across day boundaries."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = []
    for h in range(3):
        rows += [
            ("A", t0 + timedelta(hours=h), float(h)),
            ("K", t0 + timedelta(hours=h), 5.0),
        ]
    # day 2: a single common bucket -> no pairs -> no row for that day
    rows += [("A", t0 + timedelta(days=1), 9.0), ("K", t0 + timedelta(days=1), 9.0)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = analytics.kendall_matrix(df, keys=["k"]).collect()
    days = {r["day"] for r in out}
    assert days == {"2026-01-01"}  # single-bucket day emits nothing
    r = out[0]
    assert r["tau_b"] is None and r["ty"] == 3


def test_kendall_matrix_single_series_no_rows(spark):
    """One series has no partner: no pair rows, no error."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("A", t0 + timedelta(hours=h), float(h)) for h in range(5)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    assert analytics.kendall_matrix(df, keys=["k"]).collect() == []


def test_ar1_half_life_exact_decay(spark):
    """v_t = 0.5^t is EXACTLY AR(1) with rho=.5 -> half-life = 1
    bucket; v_t = 0.25^t -> half-life = 0.5 buckets. A perfect
    trend (rho=1 boundary, zero residual OLS still gives rho=1)
    yields null half-life; an alternating series has rho<0 -> null."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("h1", t0 + timedelta(hours=h), 0.5 ** h) for h in range(8)]
    rows += [("hq", t0 + timedelta(hours=h), 0.25 ** h) for h in range(8)]
    rows += [("alt", t0 + timedelta(hours=h), float((-1) ** h)) for h in range(8)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {r["k"]: r for r in analytics.ar1_half_life(df, keys=["k"]).collect()}
    assert out["h1"]["rho"] == pytest.approx(0.5)
    assert out["h1"]["half_life"] == pytest.approx(1.0)
    assert out["hq"]["half_life"] == pytest.approx(0.5)
    assert out["alt"]["rho"] == pytest.approx(-1.0)
    assert out["alt"]["half_life"] is None


def test_ar1_half_life_degenerate_rules(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("const", t0 + timedelta(hours=h), 3.0) for h in range(6)]  # var x = 0
    rows += [("short", t0 + timedelta(hours=h), float(h * h)) for h in range(3)]  # 2 pairs
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {r["k"]: r for r in analytics.ar1_half_life(df, keys=["k"]).collect()}
    assert out["const"]["rho"] is None
    assert out["short"]["n_pairs"] == 2 and out["short"]["rho"] is None


def test_benford_digits_exact_counts_and_chi2(spark):
    """Hand counts: values 1.5, 19.0, 0.02, -25.0, 1e-10, 0.0, null ->
    digits 1,1,2,2 (the 1e-10 is zero at the e9 grain, excluded);
    chi2 = sum over all 9 digits of (obs - n p)^2 / (n p)."""
    import math
    from datetime import datetime

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [1.5, 19.0, 0.02, -25.0, 1e-10, 0.0, None]
    rows = [("A", t0, v) for v in vals]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {r["digit"]: r for r in analytics.benford_digits(df, keys=["k"]).collect()}
    assert set(out) == set(range(1, 10))  # all 9 rows present
    assert out[1]["obs"] == 2 and out[2]["obs"] == 2
    assert all(out[d]["obs"] == 0 for d in range(3, 10))
    assert out[1]["n"] == 4
    chi2 = sum(
        (out[d]["obs"] - 4 * math.log10(1 + 1 / d)) ** 2
        / (4 * math.log10(1 + 1 / d))
        for d in range(1, 10)
    )
    assert out[1]["chi2"] == pytest.approx(chi2)


def test_benford_alarm_on_uniform_digits(spark):
    """Digits drawn 1..9 uniformly (200 values) violate Benford ->
    alarm; a geometric series 1.07^i (300 values) satisfies it ->
    no alarm."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [
        ("uni", t0 + timedelta(minutes=i), float((i % 9) + 1) * 10.0)
        for i in range(200)
    ]
    rows += [
        ("geo", t0 + timedelta(minutes=i), 1.07 ** i) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {(r["k"], r["digit"]): r for r in analytics.benford_digits(df, keys=["k"]).collect()}
    assert out[("uni", 1)]["alarm"] is True
    assert out[("geo", 1)]["alarm"] is False


def test_hampel_planted_spike_repaired_neighbors_untouched(spark):
    """Flat-ish series 10,10.1,10,...,SPIKE=50,...: the spike bucket is
    flagged and repaired to the window median; every other bucket keeps
    its own value (Hampel repairs ONLY flagged points — that's the
    contract vs a rolling-median smoother)."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [10.0, 10.1, 10.0, 10.1, 10.0, 50.0, 10.1, 10.0, 10.1, 10.0, 10.1]
    rows = [("s", t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.hampel_filter(df, keys=["k"], half=4, k=3.0).collect(),
        key=lambda r: r["ep"],
    )
    assert len(out) == len(vals)
    flags = [r["hampel_flag"] for r in out]
    assert flags[5] is True and sum(flags) == 1
    # repaired spike = median of its +-4 window (9 values incl the spike)
    win = sorted(vals[1:10])
    assert out[5]["hampel_value"] == pytest.approx(win[4])
    for i in (0, 1, 4, 6, 10):
        assert out[i]["hampel_flag"] is False
        assert out[i]["hampel_value"] == pytest.approx(vals[i])


def test_hampel_hand_median_mad_even_edge_window(spark):
    """First bucket of a 3-long series with half=4 sees a truncated
    3-wide window; a 4-long series' edge bucket sees an EVEN window ->
    interpolated median. Hand-check median, sigma = 1.4826*MAD, n."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("a", t0 + timedelta(hours=i), v) for i, v in enumerate([1.0, 5.0, 9.0])]
    rows += [("b", t0 + timedelta(hours=i), v) for i, v in enumerate([1.0, 2.0, 7.0, 11.0])]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {(r["k"], r["ep"]): r for r in analytics.hampel_filter(df, keys=["k"]).collect()}
    ep0 = int(t0.timestamp())
    a0 = out[("a", ep0)]
    assert a0["hampel_n"] == 3 and a0["hampel_median"] == pytest.approx(5.0)
    # devs from 5: [0,4,4] -> MAD 4
    assert a0["hampel_sigma"] == pytest.approx(1.4826 * 4.0)
    b0 = out[("b", ep0)]
    assert b0["hampel_n"] == 4
    assert b0["hampel_median"] == pytest.approx((2.0 + 7.0) / 2)  # even interp
    # devs from 4.5: [0.5,2.5,3.5,6.5] -> MAD (2.5+3.5)/2 = 3
    assert b0["hampel_sigma"] == pytest.approx(1.4826 * 3.0)


def test_hampel_mad_zero_flags_e9_visible_deviation(spark):
    """MAD = 0 (constant window majority): any e9-visible deviation is
    flagged — the literal formula's degenerate rule, stated in the
    docstring."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [3.0, 3.0, 3.0, 3.0, 3.0000001, 3.0, 3.0, 3.0, 3.0]
    rows = [("c", t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.hampel_filter(df, keys=["k"], half=4).collect(),
        key=lambda r: r["ep"],
    )
    assert out[4]["hampel_flag"] is True
    assert out[4]["hampel_value"] == pytest.approx(3.0)
    assert all(not r["hampel_flag"] for i, r in enumerate(out) if i != 4)


def _spc_ref(vals):
    """Exact-integer reference for spc_rules on one series (python
    ints are arbitrary-precision, so this mirrors the engine's
    A/B/A^2 arithmetic with no width concerns)."""
    v6 = [int(round(v * 1e6)) for v in vals]
    n, S = len(v6), sum(v6)
    Q = sum(x * x for x in v6)
    B = n * Q - S * S
    A = [x * n - S for x in v6]
    side = [(a > 0) - (a < 0) for a in A]
    beyond = lambda a, k: a * a > k * k * B  # noqa: E731
    p2 = [int(a > 0 and beyond(a, 2)) for a in A]
    m2 = [int(a < 0 and beyond(a, 2)) for a in A]
    p1 = [int(a > 0 and beyond(a, 1)) for a in A]
    m1 = [int(a < 0 and beyond(a, 1)) for a in A]
    out = []
    for i in range(n):
        r1 = beyond(A[i], 3)
        r2 = sum(p2[max(0, i - 2): i + 1]) >= 2 or sum(m2[max(0, i - 2): i + 1]) >= 2
        r3 = sum(p1[max(0, i - 4): i + 1]) >= 4 or sum(m1[max(0, i - 4): i + 1]) >= 4
        r4 = i >= 7 and side[i] != 0 and all(s == side[i] for s in side[i - 7: i + 1])
        out.append((side[i], r1, r2, r3, r4))
    return out


def _spc_run(spark, vals, key="s"):
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = [(key, t0 + timedelta(hours=i), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    return sorted(analytics.spc_rules(df, keys=["k"]).collect(), key=lambda r: r["ep"])


def test_spc_r1_spike_only_fires_rule1(spark):
    """20 buckets at 10 + one at 31: center 11, sigma sqrt(20); the
    spike (dev 20 > 3*4.47) fires r1, nothing else does; sides are
    -1 everywhere except the spike."""
    vals = [10.0] * 20 + [31.0]
    out = _spc_run(spark, vals)
    assert [r["spc_r1"] for r in out] == [False] * 20 + [True]
    assert [r["spc_side"] for r in out] == [-1] * 20 + [1]
    assert out[0]["spc_n"] == 21
    assert out[0]["spc_center_e6"] == 11_000_000
    assert out[0]["spc_sigma_e6"] == round(math.sqrt(20.0) * 1e6)


def test_spc_r4_run_of_eight_and_strict_1sigma_boundary(spark):
    """8 buckets at +1 then 8 at -1 (center 0, sigma exactly 1):
    r4 fires exactly at positions 7 and 15 (the 8th same-side bucket);
    r3 NEVER fires because |dev| == 1 sigma exactly and band tests are
    STRICT (A^2 > B fails at equality) — the boundary semantics pin."""
    vals = [1.0] * 8 + [-1.0] * 8
    out = _spc_run(spark, vals)
    assert [r["spc_r4"] for r in out] == [i in (7, 15) for i in range(16)]
    assert not any(r["spc_r3"] for r in out)
    assert not any(r["spc_r1"] for r in out)


def test_spc_center_point_side_zero_breaks_r4_run(spark):
    """A bucket exactly ON the center line is side 0 and breaks a
    rule-4 run (the literal WE rule): [+1 x7, 0, -1 x7, 0] has center
    0 and never 8 consecutive same-side buckets."""
    vals = [1.0] * 7 + [0.0] + [-1.0] * 7 + [0.0]
    out = _spc_run(spark, vals)
    assert out[7]["spc_side"] == 0 and out[15]["spc_side"] == 0
    assert not any(r["spc_r4"] for r in out)


def test_spc_matches_exact_integer_reference(spark):
    """Every flag on a varied two-key series (pseudo-random walk plus
    planted 2-of-3 and 4-of-5 excursions) matches the arbitrary-
    precision python reference row-for-row, and each of r1..r4
    actually fires somewhere (non-vacuous)."""
    vals = [((i * 37) % 11) - 5 + 0.001 * ((i * 13) % 7) for i in range(40)]
    vals += [19.0, 19.5, -0.25, 18.75]               # 2-of-3 beyond 2 sigma
    vals += [11.0, 11.5, 12.0, -0.25, 11.25, 11.75]  # 4-of-5 beyond 1 sigma
    vals += [33.0]                                   # spike for r1
    vals += [8.0] * 9                                # same-side run for r4
    ref = _spc_ref(vals)
    out = _spc_run(spark, vals)
    assert len(out) == len(ref)
    got = [
        (r["spc_side"], r["spc_r1"], r["spc_r2"], r["spc_r3"], r["spc_r4"])
        for r in out
    ]
    assert got == ref
    for j in range(1, 5):
        assert any(row[j] for row in ref), f"rule {j} never fired — vacuous test"


def test_quantile_normalize_two_scales_map_to_pooled(spark):
    """Series a = {1,2,3}, series b = {100,200,300} on the same day:
    both have ranks 1..3 over n_s=3 of N=6 pooled values
    {1,2,3,100,200,300}; pos = 1 + (r-1)*5//2 → positions 1,3,6 →
    both series normalize to (1, 3, 300) — identical after
    normalization, which is the point of the operator."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = [("a", t0 + timedelta(hours=i), v) for i, v in enumerate([1.0, 2.0, 3.0])]
    rows += [("b", t0 + timedelta(hours=i), v) for i, v in enumerate([100.0, 200.0, 300.0])]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.quantile_normalize(df, keys=["k"]).collect(),
        key=lambda r: (r["k"], r["ep"]),
    )
    assert [r["qn_value"] for r in out if r["k"] == "a"] == [1.0, 3.0, 300.0]
    assert [r["qn_value"] for r in out if r["k"] == "b"] == [1.0, 3.0, 300.0]
    assert [r["qn_rank"] for r in out if r["k"] == "b"] == [1, 2, 3]


def test_quantile_normalize_singleton_series_gets_pooled_median(spark):
    """A series with ONE bucket on the day maps to the pooled
    lower-median position 1 + (N-1)//2 — the pinned degenerate rule."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = [("a", t0 + timedelta(hours=i), float(v)) for i, v in enumerate([10, 20, 30, 40])]
    rows += [("solo", t0, 999.0)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = {r["k"]: r for r in analytics.quantile_normalize(df, keys=["k"]).collect() if r["k"] == "solo"}
    # pooled sorted: 10,20,30,40,999 (N=5) → pos = 1+2 = 3 → 30
    assert out["solo"]["qn_value"] == 30.0 and out["solo"]["qn_n"] == 1


def test_quantile_normalize_preserves_within_series_order(spark):
    """Monotonicity: within a series-day, qn_value is nondecreasing in
    v (rank mapping cannot cross), exercised on interleaved values
    across three series with ties."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    vals = {"a": [5.0, 1.0, 3.0, 3.0], "b": [2.0, 8.0, 2.0, 4.0], "c": [7.0, 0.0, 6.0, 6.0]}
    rows = [
        (k, t0 + timedelta(hours=i), v)
        for k, vs in vals.items() for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = analytics.quantile_normalize(df, keys=["k"]).collect()
    for k in vals:
        sub = sorted([r for r in out if r["k"] == k], key=lambda r: r["v"])
        qn = [r["qn_value"] for r in sub]
        assert qn == sorted(qn)


def test_croston_hand_recursion_and_subthreshold_ignored(spark):
    """Demands 2@h0, 3@h2, 1@h5 (sub-threshold rows present but
    ignored): z = 2, 2.25, 1.9375; p = 1, 1.25, 1.6875; forecast z/p;
    sba = 0.875·z/p; gap = null, 2, 3; zero-demand hours absent."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = []
    for h, n in [(0, 2), (2, 3), (5, 1)]:
        rows += [("s", t0 + timedelta(hours=h, minutes=m), 150.0) for m in range(n)]
    rows += [("s", t0 + timedelta(hours=1), 50.0),  # sub-threshold
             ("s", t0 + timedelta(hours=3), 99.9)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.croston(df, keys=["k"], threshold=100.0).collect(),
        key=lambda r: r["ep"],
    )
    assert len(out) == 3
    assert [r["q"] for r in out] == [2, 3, 1]
    assert [r["gap"] for r in out] == [None, 2, 3]
    assert [r["cr_size"] for r in out] == [2.0, 2.25, 1.9375]
    assert [r["cr_interval"] for r in out] == [1.0, 1.25, 1.6875]
    assert out[2]["cr_forecast"] == pytest.approx(1.9375 / 1.6875)
    assert out[2]["cr_sba"] == pytest.approx(0.875 * 1.9375 / 1.6875)


def test_croston_steady_demand_converges_to_rate(spark):
    """Constant demand q=2 every 4 hours: z → 2, p → 4, forecast →
    0.5 demands/hour — Croston recovers the true rate where a naive
    per-bucket EWMA (over the 75% zero buckets) would read ~0.5·α
    noise decaying to 0 between demands."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = []
    for j in range(40):
        rows += [("s", t0 + timedelta(hours=4 * j, minutes=m), 200.0) for m in range(2)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = sorted(
        analytics.croston(df, keys=["k"]).collect(), key=lambda r: r["ep"]
    )
    last = out[-1]
    assert last["cr_size"] == pytest.approx(2.0)
    assert last["cr_interval"] == pytest.approx(4.0, abs=1e-4)
    assert last["cr_forecast"] == pytest.approx(0.5, abs=1e-4)


def test_rfm_hand_scores_and_strict_boundary(spark):
    """Four users with strictly ordered recency/freq/monetary: the
    best-on-all-axes user scores 444, the worst 111; a user sitting
    EXACTLY on a quartile boundary takes the lower score (strict
    comparison pin)."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = []
    # user u: last event at t0 + u hours, freq = u events, value 10*u each
    for u in (1, 2, 3, 4):
        rows += [
            (100 + u, t0 + timedelta(hours=u, minutes=-m), 10.0 * u)
            for m in range(u)
        ]
    df = spark.createDataFrame(rows, "user_id long, event_ts timestamp, value double")
    out = {r["user_id"]: r for r in analytics.rfm_scores(df).collect()}
    assert out[104]["rfm_segment"] == 444  # most recent, most frequent, biggest
    assert out[101]["rfm_segment"] == 111
    # freq quartiles of {1,2,3,4} are (1.75, 2.5, 3.25): u=2 beats only
    # the first boundary -> f_score 2; u=3 beats two -> 3
    assert out[102]["f_score"] == 2 and out[103]["f_score"] == 3
    # monetary exact: u events * 10u value = 1000*u*u cents
    for u in (1, 2, 3, 4):
        assert out[100 + u]["monetary_c"] == 1000 * u * u


def test_rfm_nulls_excluded_and_cents_grid(spark):
    """Null user_id rows are dropped; null values do not poison the
    cents sum; fractional cents round half-up on the e2 grid."""
    from datetime import datetime

    t0 = datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [
            (1, t0, 0.015),   # 1.5 cents -> rounds to 2
            (1, t0, None),
            (None, t0, 99.0),
        ],
        "user_id long, event_ts timestamp, value double",
    )
    out = analytics.rfm_scores(df).collect()
    assert len(out) == 1
    assert out[0]["monetary_c"] == 2 and out[0]["freq"] == 2


def test_max_drawdown_hand_case_and_tie_rules(spark):
    """Series A walks 10, 30, 20, 5, 25, 30, 12: peak is set at the
    2nd bucket (30), deepest trough is the 4th (5) -> depth 25, and a
    LATER re-touch of 30 must not move the recorded peak. Series B is
    the equal-depth tie: two troughs at depth 10 -> FIRST one wins."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = []
    for i, v in enumerate([10.0, 30.0, 20.0, 5.0, 25.0, 30.0, 12.0]):
        rows.append((1000 + i, t0 + timedelta(hours=i), 1, "A", v, None))
    for i, v in enumerate([20.0, 10.0, 20.0, 10.0]):
        rows.append((2000 + i, t0 + timedelta(hours=i), 1, "B", v, None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = {
        r["event_type"]: r
        for r in analytics.max_drawdown(
            df, keys=["event_type"], ts_col="ts", value_col="value"
        ).collect()
    }
    a = out["A"]
    assert a["mdd_e6"] == 25_000_000
    assert a["trough_ep"] - a["peak_ep"] == 2 * 3600 and a["dur_s"] == 2 * 3600
    assert a["underwater_buckets"] == 4 and a["n_buckets"] == 7
    b = out["B"]
    assert b["mdd_e6"] == 10_000_000
    # first trough (bucket index 1) wins; peak is the first bucket
    assert b["trough_ep"] - b["peak_ep"] == 1 * 3600


def test_max_drawdown_nondecreasing_is_zero_at_first_bucket(spark):
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + timedelta(hours=i), 1, "U", float(i), None) for i in range(5)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = analytics.max_drawdown(
        df, keys=["event_type"], ts_col="ts", value_col="value"
    ).collect()[0]
    assert r["mdd_e6"] == 0 and r["dur_s"] == 0
    assert r["peak_ep"] == r["trough_ep"]
    assert r["underwater_buckets"] == 0


def test_scd2_history_runs_versions_and_half_open_tiling(spark):
    """Key A: states 1,1,2,2,1,null,null -> four versions (1,2,1,null)
    with half-open [valid_from, valid_to) bounds tiling the lifetime,
    adjacent nulls ONE run, re-touched state 1 a NEW version (type-2);
    only the last version is_current. Duplicate-ts conflict on key B
    collapses to the MAX state before run detection."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = []
    for i, st in enumerate([1, 1, 2, 2, 1, None, None]):
        rows.append(("A", t0 + timedelta(minutes=i), st))
    rows += [("B", t0, 5), ("B", t0, 9), ("B", t0 + timedelta(minutes=1), 9)]
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, state int")
    out = analytics.scd2_history(df, keys=["k"], state_col="state").collect()
    a = sorted([r for r in out if r["k"] == "A"], key=lambda r: r["version"])
    assert [r["state"] for r in a] == [1, 2, 1, None]
    assert [r["version"] for r in a] == [1, 2, 3, 4]
    assert [r["n_events"] for r in a] == [2, 2, 1, 2]
    # half-open tiling: each valid_to == next valid_from, last is open
    for prev, nxt in zip(a, a[1:]):
        assert prev["valid_to"] == nxt["valid_from"]
    assert a[-1]["valid_to"] is None
    assert [r["is_current"] for r in a] == [False, False, False, True]
    b = sorted([r for r in out if r["k"] == "B"], key=lambda r: r["version"])
    assert len(b) == 1 and b[0]["state"] == 9 and b[0]["n_events"] == 2


def test_proportion_drift_hand_z_and_degenerate_rules(spark):
    """Day0 10/100 vs day1 30/100 successes: z = (0.3-0.1)/sqrt(0.2*
    0.8*(2/100)) = 3.5355 -> drifted; identical days z=0 not drifted;
    an all-failure pair (pooled p=0) yields null z, drifted=False; the
    first day of a key has no previous bucket -> null z."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    rows = []
    for day, ns in [(0, 10), (1, 30)]:
        for i in range(100):
            rows.append(
                ("A", t0 + timedelta(days=day, seconds=i),
                 20.0 if i < ns else 0.0)
            )
    for day in (0, 1):  # identical days
        for i in range(50):
            rows.append(
                ("C", t0 + timedelta(days=day, seconds=i),
                 20.0 if i < 10 else 0.0)
            )
    for day in (0, 1):  # pooled p = 0
        for i in range(20):
            rows.append(("D", t0 + timedelta(days=day, seconds=i), 1.0))
    df = spark.createDataFrame(rows, "k string, event_ts timestamp, value double")
    out = analytics.proportion_drift(df, keys=["k"], threshold=10.0)
    got = {(r["k"], r["ep"]): r for r in out.collect()}
    days = sorted(ep for k, ep in got if k == "A")
    first, second = got[("A", days[0])], got[("A", days[1])]
    assert first["z_e6"] is None and not first["drifted"]
    z = (0.3 - 0.1) / math.sqrt(0.2 * 0.8 * (1 / 100 + 1 / 100))
    assert second["z_e6"] == round(z * 1e6) and second["drifted"]
    c2 = got[("C", days[1])]
    assert c2["z_e6"] == 0 and not c2["drifted"]
    d2 = got[("D", days[1])]
    assert d2["z_e6"] is None and not d2["drifted"]
    assert (d2["n"], d2["s"]) == (20, 0)


def test_dispersion_poisson_vs_periodic_vs_bursty(spark):
    """Hand-checkable arrival shapes: a perfectly periodic series
    (1 event every hour) has var 0 -> fano 0, burstiness -1e6; a
    bursty series (all 12 events in one hour of a 4-hour grid) has
    fano = var/mean maximal for the mass and burstiness > 0; empty
    interior hours count toward the grid (n_buckets from the span,
    not from observed rows)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(6):
        rows.append(("per", t0 + dt.timedelta(hours=h, minutes=7)))
    for i in range(12):
        rows.append(("bur", t0 + dt.timedelta(minutes=i)))
    rows.append(("bur", t0 + dt.timedelta(hours=3)))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        r["event_type"]: r
        for r in analytics.dispersion_stats(ev, ["event_type"]).collect()
    }
    per = out["per"]
    assert per["n_buckets"] == 6 and per["n_nonzero"] == 6
    assert per["fano_e6"] == 0 and per["burstiness_e6"] == -1_000_000
    bur = out["bur"]
    # grid hours 0..3 -> n=4 (hours 1,2 empty), counts [12,0,0,1]
    assert bur["n_buckets"] == 4 and bur["n_nonzero"] == 2
    n, S, Q = 4, 13, 145
    assert bur["fano_e6"] == round(1e6 * (n * Q - S * S) / (n * S))
    assert bur["burstiness_e6"] > 0
    assert bur["zero_frac_e6"] == 500_000


def test_week_phase_profile_anchor_and_ties(spark):
    """2024-01-01 is a Monday; phase 0 anchors at the epoch origin
    (Thursday), so Monday 00:00 UTC = phase 96. Peak ties break to the
    lowest phase; the trough is the smallest observed count."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)  # Monday
    rows = (
        [("a", t0)] * 3                                  # phase 96, n=3
        + [("a", t0 + dt.timedelta(hours=2))] * 3        # phase 98, n=3 tie
        + [("a", t0 + dt.timedelta(hours=5))]            # phase 101, n=1
    )
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = analytics.week_phase_profile(ev, ["event_type"]).collect()[0]
    assert (r["n_events"], r["n_phases"]) == (7, 3)
    assert (r["peak_phase"], r["peak_n"]) == (96, 3)  # tie -> lowest phase
    assert r["peak_share_e6"] == round(3 / 7 * 1e6)
    assert (r["trough_phase"], r["trough_n"]) == (101, 1)


def test_burn_rate_multiwindow_alert_logic(spark):
    """slo=0.25, 6h long window: a single 100%-error blip hour burns
    the short window (burn1 4x) but not yet the long one when history
    is clean -> no alert; sustained errors push BOTH windows over 1 ->
    alert fires; a clean hour alerts on neither."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # hours 0-5: clean (1 click/hour)
    for h in range(6):
        rows.append((t0 + dt.timedelta(hours=h), "click"))
    # hour 6: blip — 1 error, 1 click (rate 0.5, burn1 = 2e6) but the
    # trailing 6h window holds 5 clean hours + this one: 1/7 err
    rows.append((t0 + dt.timedelta(hours=6), "error"))
    rows.append((t0 + dt.timedelta(hours=6), "click"))
    # hours 7-12: sustained 100% errors -> both windows burn
    for h in range(7, 13):
        rows.append((t0 + dt.timedelta(hours=h), "error"))
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {r["hour"]: r for r in analytics.burn_rate(ev).collect()}
    blip = out["2024-01-01 06:00:00"]
    assert blip["burn1_e6"] == 2_000_000  # 0.5 / 0.25
    # trailing 6 buckets = hours 1..6: 5 clean events + (1 err, 1 click)
    assert blip["burn_long_e6"] == round(1e6 * 1 / (0.25 * 7))
    assert blip["alert"] == 0  # long window still inside budget
    clean = out["2024-01-01 03:00:00"]
    assert clean["burn1_e6"] == 0 and clean["alert"] == 0
    sustained = out["2024-01-01 12:00:00"]
    assert sustained["burn1_e6"] == 4_000_000
    assert sustained["burn_long_e6"] == 4_000_000  # 6 pure-error hours
    assert sustained["alert"] == 1


def test_markov_transitions_hand_counts_and_session_break(spark):
    """User 1: click->click->purchase inside one session plus an
    out-of-session error 2h later (broken chain — no transition in or
    out counted across the gap... the error then chains to a click 5
    min after it); same-timestamp pair orders by event_id (pinned).
    Probabilities are exact per-from shares."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0, "click"),
        (2, 1, t0 + dt.timedelta(minutes=5), "click"),
        (3, 1, t0 + dt.timedelta(minutes=10), "purchase"),
        (4, 1, t0 + dt.timedelta(hours=3), "error"),
        (5, 1, t0 + dt.timedelta(hours=3, minutes=5), "click"),
        # user 2: two events at the SAME ts -> order by event_id
        (6, 2, t0, "signup"),
        (7, 2, t0, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        (r["from_type"], r["to_type"]): r
        for r in analytics.markov_transitions(ev).collect()
    }
    assert set(out) == {
        ("click", "click"),
        ("click", "purchase"),
        ("error", "click"),
        ("signup", "click"),
    }
    assert out[("click", "click")]["n"] == 1
    assert out[("click", "click")]["p_e6"] == 500_000
    assert out[("click", "purchase")]["p_e6"] == 500_000
    assert out[("error", "click")]["p_e6"] == 1_000_000
    assert out[("signup", "click")]["n"] == 1  # same-ts pair, id order


def test_lateness_audit_hand_walk(spark):
    """Arrival order 1..5 with event times [100, 400, 200, 900, 880]:
    latenesses are 0 (first), 0 (new max), 200 (behind 400), 0 (new
    max), 20 — max 200, mean 44, one event >60s late, none >300s."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    secs = [100, 400, 200, 900, 880]
    rows = [
        (i + 1, "a", t0 + dt.timedelta(seconds=s)) for i, s in enumerate(secs)
    ]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    r = analytics.lateness_audit(ev, ["event_type"]).collect()[0]
    assert r["n"] == 5 and r["max_late_s"] == 200
    assert r["mean_late_e6"] == round(220 / 5 * 1e6)
    assert r["late_60s_e6"] == round(1 / 5 * 1e6)
    assert r["late_300s_e6"] == 0 and r["late_900s_e6"] == 0


def test_mannwhitney_hand_u_and_degenerates(spark):
    """Series 'a': first-half hourly means [1,2,3], second [10,20,30]
    — complete separation gives U2A = 2*(sum of A ranks) - nA(nA+1)
    = 2*6 - 12 = 0... ranks of A are 1,2,3 -> 2*U_A = 2*(6) - 12 = 0
    and z < 0 (A below B); series 'b' all-tied -> var 0 -> null z;
    series 'c' has one bucket -> dropped."""
    import datetime as dt
    import math

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for h, v in enumerate([1.0, 2.0, 3.0, 10.0, 20.0, 30.0]):
        rows.append(("a", t0 + dt.timedelta(hours=h), v))
    for h in range(4):
        rows.append(("b", t0 + dt.timedelta(hours=h), 7.0))
    rows.append(("c", t0, 1.0))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        r["event_type"]: r
        for r in analytics.mannwhitney_drift(ev, ["event_type"]).collect()
    }
    assert "c" not in out
    a = out["a"]
    assert (a["n_a"], a["n_b"], a["u2_a"]) == (3, 3, 0)
    # z = (0 - 9)/sqrt(9*7/3) -> exact tree with zero tie term
    assert a["z_e6"] == round(1e6 * -9 / math.sqrt(9.0 * 7.0 / 3.0))
    b = out["b"]
    assert b["z_e6"] is None and b["u2_a"] == 2 * (2 * 2.5) - 2 * 3


def test_regularity_bot_vs_human_and_burst_null(spark):
    """User 1 ticks every 60 s for 25 events -> CV² == 0, flagged;
    user 2 has the same CV² but only 5 gaps -> evidence floor holds it
    back; user 3 has erratic gaps -> CV² >> threshold, not flagged;
    user 4 fires everything in one second -> null CV², is_regular 0."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(25):
        eid += 1
        rows.append((eid, 1, t0 + dt.timedelta(seconds=60 * i)))
    for i in range(6):
        eid += 1
        rows.append((eid, 2, t0 + dt.timedelta(seconds=60 * i)))
    for g in [0, 1, 3, 600, 4, 7000, 2, 90]:
        eid += 1
        rows.append((eid, 3, t0 + dt.timedelta(seconds=sum([0, 1, 3, 600, 4, 7000, 2, 90][: [0, 1, 3, 600, 4, 7000, 2, 90].index(g) + 1]))))
    for i in range(4):
        eid += 1
        rows.append((eid, 4, t0))
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["user_id"]: r for r in analytics.regularity_score(ev).collect()}
    u1 = out[1]
    assert u1["cv2_e6"] == 0 and u1["is_regular"] == 1
    assert u1["mean_gap_e6"] == 60_000_000
    u2 = out[2]
    assert u2["cv2_e6"] == 0 and u2["is_regular"] == 0  # n_gaps < 20
    u3 = out[3]
    assert u3["cv2_e6"] > 100_000 and u3["is_regular"] == 0
    u4 = out[4]
    assert u4["cv2_e6"] is None and u4["is_regular"] == 0


def test_haar_energy_scale_separation_and_parseval(spark):
    """An alternating +1/-1 hourly series puts ALL detail energy at
    level 1 (levels 2/3 see constant pair-sums -> zero); a slow
    square wave flipping every 4 hours puts its energy at level 3;
    incomplete tail pairs are dropped (9 buckets -> 4/2/1 pairs)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(8):
        rows.append(("fast", t0 + dt.timedelta(hours=h), float(1 if h % 2 == 0 else -1)))
        rows.append(("slow", t0 + dt.timedelta(hours=h), float(1 if h < 4 else -1)))
    rows.append(("odd", t0, 1.0))
    for h in range(9):
        rows.append(("tail", t0 + dt.timedelta(hours=h), float(h)))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        (r["event_type"], r["level"]): r
        for r in analytics.haar_energy(ev, ["event_type"]).collect()
    }
    assert out[("fast", 1)]["share_e6"] == 1_000_000
    assert out[("fast", 2)]["raw_energy"] == 0
    assert out[("fast", 3)]["raw_energy"] == 0
    assert out[("slow", 1)]["raw_energy"] == 0
    assert out[("slow", 2)]["raw_energy"] == 0
    assert out[("slow", 3)]["share_e6"] == 1_000_000
    # slow level-3 detail: (sum of 4 ones - sum of 4 minus-ones) at e3
    assert out[("slow", 3)]["raw_energy"] == (8 * 1000) ** 2
    assert ("odd", 1) not in out  # no full pair anywhere
    assert (
        out[("tail", 1)]["n_pairs"],
        out[("tail", 2)]["n_pairs"],
        out[("tail", 3)]["n_pairs"],
    ) == (4, 2, 1)


def test_typical_day_band_and_hour_bucketing(spark):
    """Three days of data where hour 5 always carries value 100±10 and
    every other hour carries 1: hour 5's band is [~90, ~110] while
    hour 6's collapses to 1e6; n_obs counts the days."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for d, v in enumerate([90.0, 100.0, 110.0]):
        rows.append(("a", t0 + dt.timedelta(days=d, hours=5), v))
        rows.append(("a", t0 + dt.timedelta(days=d, hours=6), 1.0))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        r["hour_of_day"]: r
        for r in analytics.typical_day(ev, ["event_type"]).collect()
    }
    h5, h6 = out[5], out[6]
    assert h5["n_obs"] == 3 and h6["n_obs"] == 3
    assert h5["p50_e6"] == 100_000_000
    assert h5["p10_e6"] == round((90 + 0.2 * 10) * 1e6)  # linear interp
    assert h5["p90_e6"] == round((100 + 0.8 * 10) * 1e6)
    assert h6["p10_e6"] == h6["p50_e6"] == h6["p90_e6"] == 1_000_000


def test_funnel3_greedy_matching_and_deadlines(spark):
    """User 1 completes the chain inside the window; user 2's purchase
    arrives after the click deadline even though each hop is short
    (t3 − t1 rules, pinned); user 3 signs up with no prior click (no
    anchor); user 4 shows the greedy win: an old click + a late click
    before the signup — the LATE anchor keeps the chain alive."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta
    rows = [
        (1, 1, t0, "click"),
        (2, 1, t0 + m(minutes=10), "signup"),
        (3, 1, t0 + m(minutes=20), "purchase"),
        (4, 2, t0, "click"),
        (5, 2, t0 + m(minutes=50), "signup"),
        (6, 2, t0 + m(minutes=80), "purchase"),   # 80m > 60m from click
        (7, 3, t0 + m(minutes=5), "signup"),
        (8, 3, t0 + m(minutes=10), "purchase"),
        (9, 4, t0 - m(hours=5), "click"),          # stale anchor
        (10, 4, t0 + m(minutes=30), "click"),      # fresh anchor
        (11, 4, t0 + m(minutes=40), "signup"),
        (12, 4, t0 + m(minutes=55), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {r["day"]: r for r in analytics.funnel3(ev).collect()}
    d = out["2024-01-01"]
    assert d["n_step3"] == 4
    assert d["n_converted"] == 2  # users 1 and 4
    assert d["n_users_converted"] == 2
    assert d["conversion_e6"] == 500_000


def test_peak_concurrency_sweep_rules(spark):
    """Three users: A 10:00-10:10, B 10:10-10:20 (touching at 10:10 —
    counts concurrent, starts before ends), C 10:05 single event
    (zero-length, overlaps A) -> peak 2 at 10:05 (earliest instant
    achieving it; the 10:10 touch also reaches 2 but later); a
    cross-midnight session belongs to its start day."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, 1, t0), (2, 1, t0 + dt.timedelta(minutes=10)),
        (3, 2, t0 + dt.timedelta(minutes=10)), (4, 2, t0 + dt.timedelta(minutes=20)),
        (5, 3, t0 + dt.timedelta(minutes=5)),
        (6, 4, dt.datetime(2024, 1, 2, 23, 50)),
        (7, 4, dt.datetime(2024, 1, 2, 23, 59)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["day"]: r for r in analytics.peak_concurrency(ev).collect()}
    d1 = out["2024-01-01"]
    assert d1["n_sessions"] == 3
    assert d1["peak_concurrency"] == 2
    assert d1["peak_ts"] == "2024-01-01 10:05:00"
    d2 = out["2024-01-02"]
    assert d2["n_sessions"] == 1 and d2["peak_concurrency"] == 1
    assert "2024-01-03" not in out


def _tb_events(spark, rows):
    """rows: (user, event_id, epoch_s)."""
    return spark.createDataFrame(
        [(u, i, t) for u, i, t in rows], "user_id string, event_id long, t long"
    ).select("user_id", "event_id", F.timestamp_seconds("t").alias("event_ts"))


def test_token_bucket_burst_then_reject_then_refill(spark):
    """cap=300, cost=100: bucket starts full → 3 back-to-back admits
    drain it to 0; a 4th immediate event is rejected and consumes
    nothing; after 100 s of refill the next event admits again."""
    df = _tb_events(
        spark,
        [("u", 1, 1000), ("u", 2, 1000), ("u", 3, 1000), ("u", 4, 1000),
         ("u", 5, 1100)],
    )
    out = sorted(
        analytics.token_bucket(df, keys=["user_id"], cap=300, cost=100).collect(),
        key=lambda r: r["event_id"],
    )
    assert [r["admitted"] for r in out] == [1, 1, 1, 0, 1]
    assert [r["level_after"] for r in out] == [200, 100, 0, 0, 0]


def test_token_bucket_cap_clamp_after_long_gap(spark):
    """A gap far longer than cap refills to exactly cap, never more:
    the event after a 10^6-second idle admits and lands at cap−cost."""
    df = _tb_events(spark, [("u", 1, 0), ("u", 2, 50), ("u", 3, 1_000_050)])
    out = sorted(
        analytics.token_bucket(df, keys=["user_id"], cap=300, cost=200).collect(),
        key=lambda r: r["event_id"],
    )
    # e1: full→100; e2: 100+50=150 < 200 → reject, stays 150;
    # e3: clamp to 300 → admit → 100.
    assert [r["admitted"] for r in out] == [1, 0, 1]
    assert [r["level_after"] for r in out] == [100, 150, 100]


def test_token_bucket_rejected_consumes_nothing(spark):
    """Two rejects in a row keep the level walking up by elapsed time
    only — a rejected event must not debit the bucket."""
    df = _tb_events(spark, [("u", 1, 0), ("u", 2, 10), ("u", 3, 20), ("u", 4, 200)])
    out = sorted(
        analytics.token_bucket(df, keys=["user_id"], cap=100, cost=100).collect(),
        key=lambda r: r["event_id"],
    )
    # e1 admits (full) → 0; e2 pre=10 reject → 10; e3 pre=20 reject → 20;
    # e4 pre=min(100, 20+180)=100 admit → 0.
    assert [r["admitted"] for r in out] == [1, 0, 0, 1]
    assert [r["level_after"] for r in out] == [0, 10, 20, 0]


def test_token_bucket_state_carries_across_arrow_batches(spark):
    """r6 focused test for the mapInPandas rewrite: with
    arrow.maxRecordsPerBatch forced tiny, a key's events span several
    Arrow batches, so the replay must carry (key, post, prev) state
    across batch boundaries AND reset at key changes mid-batch.
    Replays 3 interleaved users x 40 events against an independent
    Python reference of the pinned recurrence."""
    rows = []
    eid = 0
    for t in range(40):
        for u in ("a", "b", "c"):
            eid += 1
            rows.append((u, eid, t * 7))
    df = _tb_events(spark, rows)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        out = {
            r["event_id"]: r
            for r in analytics.token_bucket(
                df, keys=["user_id"], cap=30, cost=20
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # independent replay of the pinned recurrence
    state = {}
    for u, i, t in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        if u not in state:
            pre = 30
        else:
            post, prev = state[u]
            pre = min(30, post + (t - prev))
        adm = 1 if pre >= 20 else 0
        post = pre - 20 * adm
        state[u] = (post, t)
        assert out[i]["admitted"] == adm, (u, i, t)
        assert out[i]["level_after"] == post, (u, i, t)


def test_word_shingles_zipwith_edges(spark):
    """r6 focused test for the zip_with shingle chain: empty text,
    1-word, exactly-k and k+1 word docs produce the pinned shingle
    sets (short docs -> one whole-doc shingle; duplicates distinct)."""
    from tokens_ts import dedup

    rows = [
        ("d0", ""),
        ("d1", "alpha"),
        ("d2", "a b c"),
        ("d3", "a b c d"),
        ("d4", "  x   y  "),  # ragged whitespace trims+splits
        ("d5", "a b a b a"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {
        r["doc_id"]: sorted(r["s"])
        for r in df.select(
            "doc_id", dedup.word_shingles("text", 3).alias("s")
        ).collect()
    }
    assert out["d0"] == [""]
    assert out["d1"] == ["alpha"]
    assert out["d2"] == ["a b c"]
    assert out["d3"] == ["a b c", "b c d"]
    assert out["d4"] == ["x y"]
    assert out["d5"] == ["a b a", "b a b"]  # distinct


def test_ngram_packed_keys_injective_at_int32_extremes(spark):
    """r6 focused test for the packed gram keys: token ids at the
    int32 extremes (including negatives and values whose low 32 bits
    collide with other tokens' high bits) must stay distinct through
    the shift/or packing — counts match a per-row Python reference."""
    from tokens_ts import textops

    rows = [
        ("x", [2147483647, -2147483648, 1, 65536]),
        ("x", [2147483647, -2147483648, 1, 65536]),
        ("x", [-1, 2147483647, -2147483648, 1]),
        ("x", [65536, 1, -2147483648, 2147483647]),
    ]
    df = spark.createDataFrame(rows, "source string, tokens array<int>")
    out = {
        (r["n"]): (r["total"], r["distinct_grams"])
        for r in textops.ngram_uniqueness(df, max_n=4).collect()
    }
    # python reference on the same gram definition (no PAD present)
    from collections import Counter

    for n in range(1, 5):
        grams = Counter()
        for _, toks in rows:
            for p in range(len(toks) - n + 1):
                grams[tuple(toks[p:p + n])] += 1
        assert out[n] == (sum(grams.values()), len(grams)), n


def test_token_bucket_same_second_ordered_by_id_and_keys_isolated(spark):
    """Same-second arrivals are processed in id order (no refill
    between them), and each user replays an independent bucket."""
    df = _tb_events(
        spark,
        [("a", 2, 500), ("a", 1, 500), ("b", 7, 500)],
    )
    out = {r["event_id"]: r for r in analytics.token_bucket(
        df, keys=["user_id"], cap=150, cost=100).collect()}
    # user a: id 1 first (admit, 50), then id 2 (pre=50 reject).
    assert out[1]["admitted"] == 1 and out[1]["level_after"] == 50
    assert out[2]["admitted"] == 0 and out[2]["level_after"] == 50
    # user b unaffected by a's drain.
    assert out[7]["admitted"] == 1 and out[7]["level_after"] == 50


def test_dow_hour_pivot_anchor_and_zero_cells(spark):
    """Epoch origin (1970-01-01, a Thursday) lands in dow3/hour0;
    +3 days is Sunday (dow6); +4 days is Monday (dow0); cells with no
    events read exact 0 and n_events sums the row."""
    rows = [
        ("a", 0),                 # Thu 00h
        ("a", 0),                 # same cell
        ("a", 3 * 86400),         # Sun 00h
        ("a", 4 * 86400 + 3600),  # Mon 01h
    ]
    df = spark.createDataFrame(rows, "event_type string, t long").select(
        "event_type", F.timestamp_seconds("t").alias("ts")
    )
    out = {(r["event_type"], r["hour"]): r
           for r in analytics.dow_hour_pivot(df).collect()}
    h0 = out[("a", 0)]
    assert h0["dow3"] == 2 and h0["dow6"] == 1 and h0["dow0"] == 0
    assert h0["n_events"] == 3
    h1 = out[("a", 1)]
    assert h1["dow0"] == 1 and h1["n_events"] == 1
    assert len(out) == 2  # (group, hour) rows with no events are absent


def test_dow_hour_pivot_unpivots_back_to_long_counts(spark):
    """stack()-ing the wide matrix reproduces the plain long
    (group, hour, dow) counts — the pivot loses nothing."""
    import random

    rng = random.Random(7)
    rows = [("t%d" % (i % 2), rng.randrange(0, 14 * 86400)) for i in range(300)]
    df = spark.createDataFrame(rows, "event_type string, t long").select(
        "event_type", F.timestamp_seconds("t").alias("ts")
    )
    wide = analytics.dow_hour_pivot(df)
    stacked = wide.select(
        "event_type", "hour",
        F.expr("stack(7, 0, dow0, 1, dow1, 2, dow2, 3, dow3, 4, dow4, "
               "5, dow5, 6, dow6) AS (dow, n)"),
    ).where(F.col("n") > 0)
    eh = (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600).cast("bigint")
    long = df.select(
        "event_type", (eh % 24).alias("hour"),
        ((F.floor(eh / 24).cast("bigint") + 3) % 7).alias("dow"),
    ).groupBy("event_type", "hour", "dow").count()
    a = {(r[0], r[1], r[2]): r[3] for r in stacked.collect()}
    b = {(r[0], r[1], r[2]): r[3] for r in long.collect()}
    assert a == b and len(a) > 50


def _mi_events(spark, counts):
    """counts: {type: [per-hour counts]} → events rows inside each hour."""
    rows = []
    for t, cs in counts.items():
        for h, c in enumerate(cs):
            rows += [(t, h * 3600 + i) for i in range(c)]
    return spark.createDataFrame(rows, "event_type string, t long").select(
        "event_type", F.timestamp_seconds("t").alias("ts")
    )


def test_mutual_info_coupled_equals_marginal_and_constant_is_zero(spark):
    """A series identical to another shares ALL its information
    (MI == H(a) == H(b)); a constant series carries zero bits
    (H == 0 → MI == 0), whatever its partner does."""
    cs = [0, 1, 2, 3, 0, 1, 2, 3]
    df = _mi_events(
        spark, {"a": cs, "b": cs, "c": [1] * 8}
    )
    out = {(r["type_a"], r["type_b"]): r
           for r in analytics.mutual_info(df).collect()}
    ab = out[("a", "b")]
    assert ab["n_hours"] == 8
    # 4 bins × 2 hours each → H = ln 4; fully coupled.
    import math
    ln4_e6 = round(math.log(4) * 1e6)
    assert ab["h_a_e6"] == ab["h_b_e6"] == ln4_e6
    assert ab["mi_e6"] == ln4_e6
    ac = out[("a", "c")]
    assert ac["h_b_e6"] == 0 and ac["mi_e6"] == 0


def test_mutual_info_absent_hours_land_in_zero_zero_cell(spark):
    """Hours with no events at all belong to the (0,0) cell: events
    only at hours 0 and 9 → span 10, 8 absent hours; both series are
    nonzero together at h0/h9 and zero together elsewhere → the
    joint has two cells (8,2), fully coupled: MI = H = the two-cell
    entropy, hand-computed."""
    import math

    df = _mi_events(spark, {"a": [2] + [0] * 8 + [1], "b": [1] + [0] * 8 + [3]})
    # a: bins 2@h0, 1@h9; b: 1@h0, 3@h9 — but binning: a h0=2,h9=1; b h0=1,h9=3.
    r = analytics.mutual_info(df).collect()[0]
    assert r["n_hours"] == 10
    # joint cells: (2,1)@h0 ×1, (1,3)@h9 ×1, (0,0) ×8.
    n, cells = 10, [1, 1, 8]
    h = math.log(n) - sum(c * math.log(c) for c in cells) / n
    assert r["mi_e6"] == r["h_a_e6"] == r["h_b_e6"] == round(h * 1e6)


def _sess_events(spark, rows):
    """rows: (user, event_id, epoch_s, type)."""
    return spark.createDataFrame(
        rows, "user_id string, event_id long, t long, event_type string"
    ).select("user_id", "event_id", "event_type",
             F.timestamp_seconds("t").alias("ts"))


def test_basket_lift_hand_counts_and_multiplicity_ignored(spark):
    """Baskets {a,b} {a,b} {a} {b,c} (one per session; the duplicate
    'a' inside basket 3 must not count twice): (a,b) n_ab=2, lift =
    2·4/(3·3); (b,c) n_ab=1, lift = 1·4/(3·1)."""
    rows = [
        ("u1", 1, 0, "a"), ("u1", 2, 10, "b"),          # basket 1
        ("u1", 3, 10000, "a"), ("u1", 4, 10010, "b"),   # basket 2 (gap>1800)
        ("u2", 5, 0, "a"), ("u2", 6, 5, "a"),           # basket 3: {a} twice
        ("u3", 7, 0, "b"), ("u3", 8, 20, "c"),          # basket 4
    ]
    out = {(r["type_a"], r["type_b"]): r
           for r in analytics.basket_lift(_sess_events(spark, rows)).collect()}
    ab = out[("a", "b")]
    assert (ab["n_ab"], ab["n_a"], ab["n_b"], ab["n_baskets"]) == (2, 3, 3, 4)
    assert ab["support_e6"] == 500000
    assert ab["conf_ab_e6"] == ab["conf_ba_e6"] == 666667
    assert ab["lift_e6"] == round(2 * 4 / 9 * 1e6)
    bc = out[("b", "c")]
    assert (bc["n_ab"], bc["lift_e6"]) == (1, round(4 / 3 * 1e6))
    assert ("a", "c") not in out  # never co-present


def test_session_nll_rare_transition_scores_highest(spark):
    """Matrix a→b:2 (p=2/3), a→c:1 (p=1/3): the a→c session scores
    ln 3 per step, the a→b sessions ln 1.5 — the rare journey tops;
    single-event sessions are absent."""
    import math

    rows = [
        ("u1", 1, 0, "a"), ("u1", 2, 10, "b"),
        ("u2", 3, 0, "a"), ("u2", 4, 10, "c"),
        ("u3", 5, 0, "a"), ("u3", 6, 10, "b"),
        ("u4", 7, 0, "a"),  # no transitions
    ]
    out = {r["user_id"]: r
           for r in analytics.session_nll(_sess_events(spark, rows)).collect()}
    assert "u4" not in out and len(out) == 3
    t_ab = round(math.log(3 / 2) * 1e9)
    t_ac = round(math.log(3 / 1) * 1e9)
    assert out["u1"]["nll_e9"] == t_ab and out["u1"]["n_steps"] == 1
    assert out["u2"]["nll_e9"] == t_ac
    assert out["u2"]["avg_nll_e6"] == round(t_ac / 1e3)
    assert out["u2"]["avg_nll_e6"] > out["u1"]["avg_nll_e6"]


def test_session_nll_gap_breaks_chain_not_matrix(spark):
    """A >gap_s pause inside one user's stream starts a new session:
    the cross-gap pair contributes NEITHER to the matrix nor to any
    session's steps."""
    rows = [
        ("u1", 1, 0, "a"), ("u1", 2, 10, "b"),
        ("u1", 3, 10000, "c"), ("u1", 4, 10010, "b"),
    ]
    out = sorted(
        analytics.session_nll(_sess_events(spark, rows)).collect(),
        key=lambda r: r["sid"],
    )
    # two sessions, one step each; matrix: a→b:1 (p=1), c→b:1 (p=1) → nll 0.
    assert [r["n_steps"] for r in out] == [1, 1]
    assert [r["nll_e9"] for r in out] == [0, 0]


def test_seasonal_strength_pure_profile_vs_noise_and_constant_null(spark):
    """A series that is a pure function of hour-of-day has η² = 1e6
    (all variance between cells, SSw = 0 → F null by the ssw>0 guard);
    a series constant everywhere has SSt = 0 → η² null; a series
    varying WITHIN a single hour cell has η² = 0."""
    rows = []
    # k1: value = hour-of-day → pure profile (hours 0..5, 2 days)
    for d in range(2):
        for h in range(6):
            rows.append(("k1", d * 86400 + h * 3600, float(h)))
    # k2: constant
    for h in range(4):
        rows.append(("k2", h * 3600, 7.0))
    # k3: two different values inside ONE hour cell
    rows.append(("k3", 100, 1.0))
    rows.append(("k3", 200, 3.0))
    df = spark.createDataFrame(rows, "key string, t long, value double").select(
        "key", F.timestamp_seconds("t").alias("ts"), "value"
    )
    out = {r["key"]: r for r in
           analytics.seasonal_strength(df, keys=["key"]).collect()}
    assert out["k1"]["eta2_e6"] == 1000000 and out["k1"]["f_e6"] is None
    assert out["k2"]["eta2_e6"] is None
    assert out["k3"]["eta2_e6"] == 0 and out["k3"]["k_cells"] == 1
    assert out["k3"]["f_e6"] is None  # zero between-df


def test_seasonal_strength_hand_anova(spark):
    """Hand ANOVA: cell h0 = {1, 3}, cell h1 = {5, 7} (e3 grid →
    1000/3000/5000/7000): S=16000, Q=84e6, n=4; SSb = (16e6/2 +
    144e6/2) − 64e6 = 16e6; SSt = 84e6 − 64e6 = 20e6 → η² = 0.8;
    F = (16e6/1)/(4e6/2) = 8."""
    rows = [("k", 60, 1.0), ("k", 120, 3.0),
            ("k", 3660, 5.0), ("k", 3720, 7.0)]
    df = spark.createDataFrame(rows, "key string, t long, value double").select(
        "key", F.timestamp_seconds("t").alias("ts"), "value"
    )
    r = analytics.seasonal_strength(df, keys=["key"]).collect()[0]
    assert r["n"] == 4 and r["k_cells"] == 2
    assert r["eta2_e6"] == 800000
    assert r["f_e6"] == 8000000


def test_seq_patterns_order_repeats_and_both_directions(spark):
    """Session [a, b, a]: ordered pairs = (a,b) via pos 1<2, (b,a)
    via 2<3, and the repeat (a,a) via 1<3 — ALL count once; a second
    session [b] adds nothing but raises the denominator."""
    rows = [("u1", 1, 0, "a"), ("u1", 2, 10, "b"), ("u1", 3, 20, "a"),
            ("u2", 4, 0, "b")]
    out = {(r["type_a"], r["type_b"]): r
           for r in analytics.seq_patterns(_sess_events(spark, rows)).collect()}
    assert set(out) == {("a", "b"), ("b", "a"), ("a", "a")}
    for k in out:
        assert out[k]["n_sessions"] == 1 and out[k]["n_total"] == 2
        assert out[k]["support_e6"] == 500000


def test_seq_patterns_eventual_not_adjacent_and_session_bound(spark):
    """(a, c) counts even with b between them (any-gap reachability —
    what markov's adjacency misses); a pair straddling a session
    break does NOT count."""
    rows = [("u1", 1, 0, "a"), ("u1", 2, 10, "b"), ("u1", 3, 20, "c"),
            ("u1", 4, 10000, "d")]  # d in a NEW session
    out = {(r["type_a"], r["type_b"]): r["n_sessions"]
           for r in analytics.seq_patterns(_sess_events(spark, rows)).collect()}
    assert out[("a", "c")] == 1
    assert ("a", "d") not in out and ("c", "d") not in out


def test_wasserstein_pure_shift_and_mass_move(spark):
    """Day2 = Day1 + 1.0 everywhere → W1 = 1.0 exactly (mean shift δ
    reads as δ); a mass re-weight 2/3→1/3 at value 0 vs 10 costs
    (1/3)·10 = 10/3. Windows missing either side emit nothing."""
    d1, d2 = 0, 86400
    rows = [("k", d1 + 10, 1.0), ("k", d1 + 20, 3.0),
            ("k", d2 + 10, 2.0), ("k", d2 + 20, 4.0)]
    rows += [("m", d1 + 1, 0.0), ("m", d1 + 2, 0.0), ("m", d1 + 3, 10.0),
             ("m", d2 + 1, 0.0), ("m", d2 + 2, 10.0), ("m", d2 + 3, 10.0)]
    df = spark.createDataFrame(rows, "key string, t long, value double").select(
        "key", F.timestamp_seconds("t").alias("ts"), "value"
    )
    out = {r["key"]: r for r in
           analytics.wasserstein_drift(df, keys=["key"]).collect()}
    # only the day-2 window has both sides; day-1 and the phantom day-3
    # (prev-only) rows are dropped.
    assert len(out) == 2
    assert out["k"]["w1_e6"] == 1000000
    assert out["k"]["n_cur"] == 2 and out["k"]["n_prev"] == 2
    assert out["m"]["w1_e6"] == 3333333


def test_wasserstein_identical_distributions_zero(spark):
    """Same distribution both days → W1 = 0 even when row ORDER and
    multiplicity differ (ECDFs coincide at every pooled value)."""
    d2 = 86400
    rows = [("k", 10, 5.0), ("k", 20, 7.0), ("k", 30, 5.0),
            ("k", d2 + 5, 7.0), ("k", d2 + 6, 5.0), ("k", d2 + 7, 5.0)]
    df = spark.createDataFrame(rows, "key string, t long, value double").select(
        "key", F.timestamp_seconds("t").alias("ts"), "value"
    )
    r = analytics.wasserstein_drift(df, keys=["key"]).collect()
    assert len(r) == 1 and r[0]["w1_e6"] == 0


def test_runs_test_clumped_vs_alternating(spark):
    """A clumped series (all lows then all highs) has the minimum 2
    runs → strongly negative z; a perfectly alternating series has the
    maximum n runs → strongly positive z; both share n1 = n2 so the
    counts pin the median cut too."""
    lows, highs = [1.0] * 6, [9.0] * 6
    clump = lows + highs
    alt = [v for p in zip(lows, highs) for v in p]
    rows = [("c", i * 3600, v) for i, v in enumerate(clump)]
    rows += [("a", i * 3600, v) for i, v in enumerate(alt)]
    df = spark.createDataFrame(rows, "key string, t long, value double").select(
        "key", F.timestamp_seconds("t").alias("ts"), "value"
    )
    out = {r["key"]: r for r in
           analytics.runs_test(df, keys=["key"]).collect()}
    for k in ("c", "a"):
        assert out[k]["n1"] == 6 and out[k]["n2"] == 6
    assert out["c"]["runs"] == 2 and out["c"]["z_e6"] < -2_000_000
    assert out["a"]["runs"] == 12 and out["a"]["z_e6"] > 2_000_000
    # hand z for the clumped case: n=12, n1=n2=6, R=2:
    # E[R]=7, Var=72*60/(144*11)=30/11 → z=(2-7)/sqrt(30/11)
    want = (2 - 7) / math.sqrt(2 * 36 * (72 - 12) / (144 * 11))
    assert out["c"]["z_e6"] == round(want * 1e6)


def test_runs_test_median_ties_dropped_and_degenerates(spark):
    """Buckets AT the median drop out before run counting (classic tie
    rule); a constant series (everything == median) vanishes from the
    output entirely, and a single crossing (n1=n2=1, variance 0)
    emits null z honestly."""
    rows = [("t", i * 3600, v) for i, v in
            enumerate([1.0, 5.0, 5.0, 5.0, 9.0, 1.0])]  # med=5, three drop
    rows += [("const", i * 3600, 4.0) for i in range(5)]
    rows += [("two", 0, 1.0), ("two", 3600, 9.0)]
    df = spark.createDataFrame(rows, "key string, t long, value double").select(
        "key", F.timestamp_seconds("t").alias("ts"), "value"
    )
    out = {r["key"]: r for r in
           analytics.runs_test(df, keys=["key"]).collect()}
    # t: kept values 1,9,1 in time order → n1=1(up) n2=2, runs=3
    assert out["t"]["n_kept"] == 3 and out["t"]["runs"] == 3
    assert out["t"]["n1"] == 1 and out["t"]["n2"] == 2
    assert "const" not in out
    assert out["two"]["runs"] == 2 and out["two"]["z_e6"] is None


def test_pacf_ar1_cuts_off_after_lag1(spark):
    """For an AR(1)-by-construction series x_t = 0.8·x_{t−1} + e_t
    (deterministic pseudo-noise), ACF decays across all lags but PACF
    collapses toward 0 past lag 1 — the order-selection signature."""
    import random

    rng = random.Random(7)  # fixed seed → deterministic test input
    x, rows = 0.0, []
    for i in range(450):
        x = 0.8 * x + 4.0 * (rng.random() - 0.5)
        if i >= 50:  # burn-in: drop the x0 transient
            rows.append(("s", i * 3600, x))
    df = spark.createDataFrame(rows, "key string, t long, value double").select(
        "key", F.timestamp_seconds("t").alias("ts"), "value"
    )
    r = analytics.pacf(df, keys=["key"]).collect()[0]
    assert r["pacf1_e6"] > 600_000                   # ≈ 0.8
    assert abs(r["pacf2_e6"]) < 200_000              # cut off
    assert abs(r["pacf3_e6"]) < 200_000


def test_pacf_durbin_levinson_hand_formula(spark):
    """φ22 and φ33 replay the unrolled Durbin–Levinson closed form
    from the gap-correct per-lag Pearson r's (checked against a
    direct numpy recomputation of both the r's and the recursion)."""
    import numpy as np

    vals = [3.0, 7.0, 4.0, 9.0, 2.0, 8.0, 5.0, 10.0, 1.0, 6.0]
    rows = [("k", i * 3600, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, t long, value double").select(
        "key", F.timestamp_seconds("t").alias("ts"), "value"
    )
    got = analytics.pacf(df, keys=["key"]).collect()[0]

    v = np.round(np.array(vals) * 1e3)
    def pear(lag):
        x, y = v[:-lag], v[lag:]
        n = len(x)
        num = n * (x * y).sum() - x.sum() * y.sum()
        den = math.sqrt(
            (n * (x * x).sum() - x.sum() ** 2)
            * (n * (y * y).sum() - y.sum() ** 2)
        )
        return num / den
    r1, r2, r3 = pear(1), pear(2), pear(3)
    p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    p21 = r1 * (1 - p22)
    p33 = (r3 - p21 * r2 - p22 * r1) / ((1 - p22 * p22) * (1 - r1 * r1))
    assert got["pacf1_e6"] == round(r1 * 1e6)
    assert got["pacf2_e6"] == round(p22 * 1e6)
    assert got["pacf3_e6"] == round(p33 * 1e6)


def test_granger_detects_causal_direction(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    n = 40
    x = [float((7 * t + 3) % 11) for t in range(n)]
    y = [0.0] + [x[t - 1] + 0.1 * ((3 * t) % 5) for t in range(1, n)]
    rows = [("X", t0 + timedelta(hours=t), x[t]) for t in range(n)]
    rows += [("Y", t0 + timedelta(hours=t), y[t]) for t in range(n)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = {
        (r["series_x"], r["series_y"]): r
        for r in analytics.granger(df, key_col="k").collect()
    }
    fwd, rev = out[("X", "Y")], out[("Y", "X")]
    assert fwd["n_obs"] == n - 1 and rev["n_obs"] == n - 1
    # X's past nearly determines Y (tiny bounded wiggle): huge F,
    # gain near 1; the reverse direction explains almost nothing.
    assert fwd["f_e6"] > 100 * max(rev["f_e6"], 1)
    assert fwd["gain_e6"] > 900_000
    # the reverse picks up residual lag-2 structure in the modular
    # driver but stays far from the causal direction's near-1 gain
    assert rev["gain_e6"] < 400_000


def test_granger_matches_numpy_ols(spark):
    from datetime import datetime, timedelta

    import numpy as np

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    n = 25
    a = [float((5 * t * t + 2 * t + 7) % 13) for t in range(n)]
    b = [float((3 * t * t + 11 * t + 1) % 17) for t in range(n)]
    rows = [("A", t0 + timedelta(hours=t), a[t]) for t in range(n)]
    rows += [("B", t0 + timedelta(hours=t), b[t]) for t in range(n)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    got = {
        (r["series_x"], r["series_y"]): r
        for r in analytics.granger(df, key_col="k").collect()
    }

    def ref(xs, ys):
        u = np.array(ys[:-1])  # y_{t-1}
        v = np.array(xs[:-1])  # x_{t-1}
        yy = np.array(ys[1:])
        m = len(yy)
        Xr = np.column_stack([np.ones(m), u])
        Xu = np.column_stack([np.ones(m), u, v])
        rss_r = float(
            ((yy - Xr @ np.linalg.lstsq(Xr, yy, rcond=None)[0]) ** 2).sum()
        )
        rss_u = float(
            ((yy - Xu @ np.linalg.lstsq(Xu, yy, rcond=None)[0]) ** 2).sum()
        )
        return (rss_r - rss_u) * (m - 3) / rss_u, (rss_r - rss_u) / rss_r

    for sx, sy, xs, ys in [("A", "B", a, b), ("B", "A", b, a)]:
        f, g = ref(xs, ys)
        r = got[(sx, sy)]
        assert r["f_e6"] == pytest.approx(round(1e6 * f), abs=2)
        assert r["gain_e6"] == pytest.approx(round(1e6 * g), abs=2)


def test_changepoint_mean_locates_level_shift(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [
        ("S", t0 + timedelta(hours=h), 10.0 if h < 10 else 20.0)
        for h in range(20)
    ]
    # a constant series: no SST, strength must be null (not 0)
    rows += [("C", t0 + timedelta(hours=h), 5.0) for h in range(6)]
    # a single-bucket series has no split and must be dropped
    rows += [("One", t0, 1.0)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.changepoint_mean(df, key_col="k").collect()
    }
    assert set(out) == {"S", "C"}
    s = out["S"]
    assert s["k_left"] == 10
    assert s["cp_epoch"] == int((t0 + timedelta(hours=9)).timestamp())
    # between-SSE gain n1*n2/n * delta^2 = 10*10/20 * 100 = 500
    assert s["gain_e6"] == 500_000_000
    assert s["strength_e6"] == 1_000_000  # pure shift: one-break R^2 = 1
    assert s["mean_before_e3"] == 10_000 and s["mean_after_e3"] == 20_000
    c = out["C"]
    assert c["gain_e6"] == 0 and c["strength_e6"] is None
    assert c["k_left"] == 1  # all-tied gains -> earliest epoch pinned


def test_sample_entropy_hand_counts_and_gaps(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 3, 1)
    # constant day: r=0 and every template matches -> A=B>0, sampen=0
    rows = [("C", t0 + timedelta(hours=h), 7.0) for h in range(6)]
    # erratic short day: values far apart -> r small vs spreads, B=0
    for h, v in enumerate([0.0, 100.0, 3.0, 250.0, 11.0]):
        rows.append(("E", t0 + timedelta(hours=h), v))
    # gap day: hours 0,1,2 then 4,5 -> templates crossing hour 3 drop
    for h, v in [(0, 1.0), (1, 1.0), (2, 1.0), (4, 1.0), (5, 1.0)]:
        rows.append(("G", t0 + timedelta(hours=h), v))
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.sample_entropy(df, key_col="k").collect()
    }
    c = out["C"]
    # n=6: length-2 templates at i=1..5 -> C(5,2)=10 B-matches;
    # length-3 at i=1..4 -> C(4,2)=6 A-matches; sampen = ln(10/6)
    assert (c["b_cnt"], c["a_cnt"]) == (10, 6)
    assert c["sampen_e6"] == round(1e6 * math.log(10 / 6))
    assert out["E"]["b_cnt"] == 0 and out["E"]["sampen_e6"] is None
    g = out["G"]
    # valid length-2 templates: starts 0,1,4 (start 2 broken by the
    # gap) -> C(3,2)=3 matching pairs; only start 0 carries a valid
    # length-3 template (start 1 needs the missing hour 3), so no
    # A-pair exists and sampen is honestly null
    assert (g["b_cnt"], g["a_cnt"]) == (3, 0)
    assert g["sampen_e6"] is None


def test_cointegration_numpy_parity_and_mean_reversion(spark):
    from datetime import datetime, timedelta

    import numpy as np

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    n = 60
    # A: a deterministic slow walk; B = 2A + bounded stationary spread
    a = [100.0 + 3.0 * math.sin(t / 5.0) + 0.5 * t for t in range(n)]
    spread = [10.0 * (1 if t % 2 else -1) * ((t % 7) + 1) / 7 for t in range(n)]
    bvals = [2.0 * a[t] + spread[t] for t in range(n)]
    rows = [("A", t0 + timedelta(hours=t), a[t]) for t in range(n)]
    rows += [("B", t0 + timedelta(hours=t), bvals[t]) for t in range(n)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    r = analytics.cointegration(df, key_col="k").collect()
    assert len(r) == 1
    r = r[0]
    assert (r["series_a"], r["series_b"]) == ("A", "B")
    assert r["n_obs"] == n and r["n_diffs"] == n - 1

    # numpy replay on the e3 grid incl. residual quantization
    x = np.round(np.array(a) * 1000)
    y = np.round(np.array(bvals) * 1000)
    mxx = (x * x).sum() - x.sum() ** 2 / n
    mxy = (x * y).sum() - x.sum() * y.sum() / n
    beta = mxy / mxx
    alpha = (y.sum() - beta * x.sum()) / n
    e = np.round(y - alpha - beta * x)
    l, d = e[:-1], np.diff(e)
    rho = (l * d).sum() / (l * l).sum()
    s2 = ((d - rho * l) ** 2).sum() / (len(d) - 1)
    dft = rho / math.sqrt(s2 / (l * l).sum())
    assert r["beta_e6"] == pytest.approx(round(1e6 * beta), abs=2)
    assert r["alpha_e3"] == pytest.approx(round(alpha), abs=1)
    assert r["rho_e6"] == pytest.approx(round(1e6 * rho), abs=2)
    assert r["df_t_e6"] == pytest.approx(round(1e6 * dft), abs=5)
    # an alternating bounded spread mean-reverts hard: strongly
    # negative DF t (way past any critical value)
    assert r["df_t_e6"] < -3_000_000


def test_hjorth_numpy_parity(spark):
    from datetime import datetime, timedelta

    import numpy as np

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [float((7 * t * t + 3 * t + 5) % 23) for t in range(30)]
    rows = [("H", t0 + timedelta(hours=t), vals[t]) for t in range(30)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    r = analytics.hjorth(df, key_col="k").collect()[0]
    v = np.round(np.array(vals) * 1000)
    d1, d2 = np.diff(v), np.diff(np.diff(v))
    pv = lambda x: (x * x).mean() - x.mean() ** 2  # noqa: E731
    mob = math.sqrt(pv(d1) / pv(v))
    comp = math.sqrt(pv(d2) / pv(d1)) / mob
    assert r["n_buckets"] == 30 and r["n_d1"] == 29 and r["n_d2"] == 28
    assert r["activity_e6"] == pytest.approx(round(pv(v)), abs=2)
    assert r["mobility_e6"] == pytest.approx(round(1e6 * mob), abs=2)
    assert r["complexity_e6"] == pytest.approx(round(1e6 * comp), abs=2)


def test_turning_points_extremes(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    n = 20
    rows = [("Mono", t0 + timedelta(hours=t), float(t)) for t in range(n)]
    rows += [
        ("Alt", t0 + timedelta(hours=t), float(t % 2)) for t in range(n)
    ]
    # ties are NOT turning points: flat-top plateau has none
    for h, v in enumerate([1.0, 2.0, 2.0, 1.0]):
        rows.append(("Flat", t0 + timedelta(hours=h), v))
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.turning_points(df, key_col="k").collect()
    }
    assert out["Mono"]["n_turning"] == 0
    assert out["Alt"]["n_turning"] == n - 2
    assert out["Flat"]["n_turning"] == 0
    exp = 2.0 * (n - 2) / 3.0
    var = (16.0 * n - 29.0) / 90.0
    assert out["Mono"]["z_e6"] == round(1e6 * (0 - exp) / math.sqrt(var))
    assert out["Alt"]["z_e6"] == round(1e6 * ((n - 2) - exp) / math.sqrt(var))
    assert out["Mono"]["z_e6"] < 0 < out["Alt"]["z_e6"]


def test_esd_unmasks_second_outlier(spark):
    """The classic masking demo: two big spikes inflate the sd so the
    single-pass z of the SECOND spike looks tame; after ESD removes
    the first, round 2's recomputed score for the second spike rises
    above its round-1 score — the un-masking the iteration exists
    for. Ties and exits are pinned too: a constant series yields no
    rounds at all."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    # a gently varying plateau (so the series survives to round 3 —
    # an all-constant remainder exits the cascade, tested below via
    # Const) with two big spikes
    vals = [10.0 + (h % 3) for h in range(20)]
    vals[5], vals[13] = 200.0, 190.0
    rows = [("S", t0 + timedelta(hours=h), v) for h, v in enumerate(vals)]
    rows += [("Const", t0 + timedelta(hours=h), 4.0) for h in range(8)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = analytics.esd_outliers(df, key_col="k", rounds=3).collect()
    by = {(r["series_id"], r["round"]): r for r in out}
    assert not [r for r in out if r["series_id"] == "Const"]
    r1, r2, r3 = by[("S", 1)], by[("S", 2)], by[("S", 3)]
    assert r1["epoch"] == int((t0 + timedelta(hours=5)).timestamp())
    assert r1["v_e3"] == 200_000
    assert r2["epoch"] == int((t0 + timedelta(hours=13)).timestamp())
    assert r2["n_used"] == 19 and r1["n_used"] == 20

    # round-1 score OF THE SECOND SPIKE (single-pass view), by hand
    m0 = sum(vals) / 20
    sd0 = math.sqrt(sum((v - m0) ** 2 for v in vals) / 20)
    z13_pass1 = abs(190.0 - m0) / sd0
    assert r2["score_e6"] > round(1e6 * z13_pass1)  # un-masked
    # round 3 falls back to the 10.0 plateau: score far below round 2
    assert r3["score_e6"] < r2["score_e6"]


def test_char_entropy_pins(spark):
    from tokens_ts import textops

    rows = [
        (1, "aaaa"),                 # one symbol: H = 0
        (2, "ab" * 8),               # two equiprobable: H = 1 bit
        (3, "abcd"),                 # four equiprobable: H = 2 bits
        (4, "!!!?"),                 # nothing in alphabet: null
        (5, "  a b  "),              # trim strips OUTER spaces only:
                                     # 'a b' -> a,b,space each 1/3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.char_entropy(df).collect()}
    assert out[1]["entropy_e6"] == 0 and out[1]["n_distinct_chars"] == 1
    assert out[2]["entropy_e6"] == 1_000_000
    assert out[3]["entropy_e6"] == 2_000_000
    assert out[4]["n_counted"] == 0 and out[4]["entropy_e6"] is None
    assert out[5]["n_counted"] == 3
    assert out[5]["entropy_e6"] == round(1e6 * math.log2(3))


def test_pareto_front_dominance_semantics(spark):
    """Hand fixture pinning every dominance branch: strict-both
    dominated, equal-x-higher-y dominates, equal-y-higher-x dominates,
    incomparable points coexist, and exact duplicates (no strict
    coordinate) BOTH survive."""
    from tokens_ts import analytics

    rows = [
        # (id, x, y)  group g
        (1, 10, 100),  # frontier (best y at max x)
        (2, 10, 90),   # dominated: same x, lower y
        (3, 9, 100),   # dominated: same y as 1, lower x
        (4, 8, 200),   # frontier: incomparable with 1 (less x, more y)
        (5, 8, 200),   # exact duplicate of 4 -> both survive
        (6, 1, 1),     # dominated by everything
        (7, 12, 50),   # frontier: max x overall
    ]
    df = spark.createDataFrame(
        [("g", i, x, y) for i, x, y in rows], "g string, id int, x int, y int"
    )
    out = analytics.pareto_front(df, ["g"], "x", "y")
    assert sorted(r["id"] for r in out.collect()) == [1, 4, 5, 7]


def test_pareto_front_no_dominance_self_join(spark):
    """The plan must stay reduce + bounded-window + join-back: exactly
    the joins the construction declares, no cartesian/broadcast-nested-
    loop dominance pass."""
    from tokens_ts import analytics

    df = spark.range(100).select(
        F.lit("g").alias("g"),
        (F.col("id") % 10).cast("int").alias("x"),
        (F.col("id") % 7).cast("int").alias("y"),
    )
    plan = analytics.pareto_front(df, ["g"], "x", "y")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_fixed_numpy_replay_and_dangling(spark):
    """Independent numpy replay of the identical integer recurrence on
    a 4-node graph WITH a dangling sink, plus the semantic pin: the
    hub every node feeds must out-rank everything."""
    from tokens_ts import analytics

    edges = [
        ("a", "hub", 3), ("b", "hub", 2), ("c", "hub", 5),
        ("hub", "sink", 1), ("a", "b", 1),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, n long")
    got = {
        r["node"]: (r["out_n"], r["rank_e12"])
        for r in analytics.pagerank_fixed(df, iters=3).collect()
    }
    # numpy replay (pure-python ints — the same floor-div recurrence)
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    nn = len(nodes)
    out = {v: 0 for v in nodes}
    for s, _, n in edges:
        out[s] += n
    e12 = 10**12
    r = {v: e12 // nn for v in nodes}
    for _ in range(3):
        inflow = {v: 0 for v in nodes}
        for s, d, n in edges:
            inflow[d] += (r[s] * n) // out[s]
        dang = sum(r[v] for v in nodes if out[v] == 0)
        r = {
            v: (3 * e12) // (20 * nn)
            + (17 * (inflow[v] + dang // nn)) // 20
            for v in nodes
        }
    assert {v: (out[v], r[v]) for v in nodes} == got
    ranks = {v: got[v][1] for v in nodes}
    assert max(ranks, key=ranks.get) in ("hub", "sink")
    assert ranks["hub"] > ranks["a"] and ranks["hub"] > ranks["c"]
    # dangling sink fed by the hub still collects mass
    assert ranks["sink"] > min(ranks.values())


# ---------------------------------------------------------------------------
# kruskal_dow: Kruskal-Wallis H across weekday groups
# ---------------------------------------------------------------------------


def test_kruskal_dow_hand_worked_and_degenerates(spark):
    import datetime as dt

    def ev(series, day, hour, value):
        return (series, dt.datetime(2024, 1, day, hour, 0, 0), value)

    rows = [
        # series "a": Mon(1st)/Tue(2nd)/Wed(3rd) 2024-01, two hourly
        # buckets each, values 1..6 strictly increasing by day — no
        # ties, ranks 1..6, R_g = (3, 7, 11):
        # H = 12/(6*7) * (9/2 + 49/2 + 121/2) - 3*7 = 32/7
        ev("a", 1, 0, 1.0), ev("a", 1, 1, 2.0),
        ev("a", 2, 0, 3.0), ev("a", 2, 1, 4.0),
        ev("a", 3, 0, 5.0), ev("a", 3, 1, 6.0),
        # series "b": every bucket identical -> H = 0 exactly, tie
        # correction C = 0 -> corrected H is null (honest)
        ev("b", 1, 0, 5.0), ev("b", 1, 1, 5.0),
        ev("b", 2, 0, 5.0), ev("b", 2, 1, 5.0),
    ]
    df = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    out = {
        r["series_id"]: r
        for r in analytics.kruskal_dow(df, keys=["series_id"]).collect()
    }
    a, b = out["a"], out["b"]
    assert (a["n_buckets"], a["n_groups"]) == (6, 3)
    assert a["h_e6"] == round(32 / 7 * 1e6)  # 4571429
    assert a["h_corr_e6"] == a["h_e6"]  # no ties -> C = 1
    assert (b["n_buckets"], b["n_groups"], b["h_e6"], b["h_corr_e6"]) == (
        4, 2, 0, None,
    )
    # partial ties inflate the corrected statistic: C < 1 -> H/C > H
    rows_t = [
        ev("c", 1, 0, 1.0), ev("c", 1, 1, 2.0),
        ev("c", 2, 0, 2.0), ev("c", 2, 1, 4.0),
        ev("c", 3, 0, 5.0), ev("c", 3, 1, 6.0),
    ]
    dft = spark.createDataFrame(
        rows_t, "series_id string, ts timestamp, value double"
    )
    c = analytics.kruskal_dow(dft, keys=["series_id"]).collect()[0]
    assert c["h_e6"] > 0 and c["h_corr_e6"] > c["h_e6"]


# ---------------------------------------------------------------------------
# friedman_dayparts: blocked rank test across dayparts
# ---------------------------------------------------------------------------


def test_friedman_dayparts_hand_worked(spark):
    import datetime as dt

    def ev(series, day, hour, value):
        return (series, dt.datetime(2024, 1, day, hour, 0, 0), value)

    rows = [
        # series "a": 2 complete blocks (days) x 3 dayparts (hours
        # 0/6/12 -> segs 0/1/2), values ranked identically (1,2,3) in
        # each block -> no ties, R2 = (4,8,12), N2 = 32, A2 = 112,
        # D2 = 112 - 2*3*16 = 16, Q = 2*32/16 = 4, W = Q/(n(k-1)) = 1
        ev("a", 1, 0, 1.0), ev("a", 1, 6, 2.0), ev("a", 1, 12, 3.0),
        ev("a", 2, 0, 4.0), ev("a", 2, 6, 5.0), ev("a", 2, 12, 6.0),
        # day 3 is INCOMPLETE (2 of the 3 observed dayparts) and must
        # be excluded without perturbing the complete-block answer
        ev("a", 3, 0, 100.0), ev("a", 3, 6, 200.0),
        # series "b": every daypart identical within both blocks ->
        # all-tied ranks, D2 = 0 -> honest null Q
        ev("b", 1, 0, 5.0), ev("b", 1, 6, 5.0),
        ev("b", 2, 0, 5.0), ev("b", 2, 6, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.friedman_dayparts(df, keys=["series_id"]).collect()
    }
    a, b = out["a"], out["b"]
    assert (a["k_treatments"], a["n_blocks"]) == (3, 2)
    assert a["q_e6"] == 4_000_000
    assert a["w_e6"] == 1_000_000  # perfect concordance
    assert (b["k_treatments"], b["n_blocks"], b["q_e6"], b["w_e6"]) == (
        2, 2, None, None,
    )


def test_friedman_dayparts_discordant_blocks(spark):
    import datetime as dt

    # two blocks ranking the two dayparts OPPOSITELY -> R2 equal for
    # both treatments -> N2 = 0 -> Q = 0 (no consistent ordering)
    rows = [
        ("c", dt.datetime(2024, 1, 1, 0), 1.0),
        ("c", dt.datetime(2024, 1, 1, 6), 2.0),
        ("c", dt.datetime(2024, 1, 2, 0), 2.0),
        ("c", dt.datetime(2024, 1, 2, 6), 1.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    r = analytics.friedman_dayparts(df, keys=["series_id"]).collect()[0]
    assert (r["q_e6"], r["w_e6"]) == (0, 0)


# ---------------------------------------------------------------------------
# brown_forsythe_dow: variance homogeneity across weekday groups
# ---------------------------------------------------------------------------


def test_brown_forsythe_hand_worked_and_constant(spark):
    import datetime as dt

    # 2024-01-01 is a Monday (epoch day 19723; (19723+3) % 7 == 0).
    rows = [
        # Monday hours 0-3: values 1,3,5,7 -> group median 4,
        # |z| = 3,1,1,3; Tuesday: constant 4 -> |z| = 0 everywhere.
        # z-means: Mon 2, Tue 0, grand 1 -> SSB = 4+4 = 8, SSW = 4,
        # W = ((8-2)/(2-1)) * 8/4 = 12
        ("a", dt.datetime(2024, 1, 1, 0), 1.0),
        ("a", dt.datetime(2024, 1, 1, 1), 3.0),
        ("a", dt.datetime(2024, 1, 1, 2), 5.0),
        ("a", dt.datetime(2024, 1, 1, 3), 7.0),
        ("a", dt.datetime(2024, 1, 2, 0), 4.0),
        ("a", dt.datetime(2024, 1, 2, 1), 4.0),
        ("a", dt.datetime(2024, 1, 2, 2), 4.0),
        ("a", dt.datetime(2024, 1, 2, 3), 4.0),
        # constant series: SSW = SSB = 0 -> honest null W
        ("b", dt.datetime(2024, 1, 1, 0), 9.0),
        ("b", dt.datetime(2024, 1, 1, 1), 9.0),
        ("b", dt.datetime(2024, 1, 2, 0), 9.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.brown_forsythe_dow(df, keys=["series_id"]).collect()
    }
    a, b = out["a"], out["b"]
    assert (a["n_buckets"], a["k_groups"]) == (8, 2)
    # e3 grid: z2 units are 2e3-scaled -> SSW_m = 1000*sum(z2^2) - T1
    assert a["ssw_m"] == 16_000_000_000 and a["ssb_m"] == 32_000_000_000
    assert a["w_e6"] == 12_000_000
    assert (b["ssw_m"], b["ssb_m"], b["w_e6"]) == (0, 0, None)


def test_brown_forsythe_equal_dispersion_is_zero(spark):
    import datetime as dt

    # both weekdays have the same spread around their own medians ->
    # z-populations identical (4, 0, 1 each) -> SSB = 0 -> W = 0
    # exactly, while SSW > 0 keeps the statistic defined
    rows = [
        ("c", dt.datetime(2024, 1, 1, 0), 1.0),
        ("c", dt.datetime(2024, 1, 1, 1), 5.0),
        ("c", dt.datetime(2024, 1, 1, 2), 6.0),
        ("c", dt.datetime(2024, 1, 2, 0), 101.0),
        ("c", dt.datetime(2024, 1, 2, 1), 105.0),
        ("c", dt.datetime(2024, 1, 2, 2), 106.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    r = analytics.brown_forsythe_dow(df, keys=["series_id"]).collect()[0]
    # ssb_m carries the documented <= 0.5-quantum-per-group
    # pre-quantization noise (deterministic, identical cross-engine);
    # the finished statistic still reads 0 at the e6 grain
    assert abs(r["ssb_m"]) <= 1 and r["w_e6"] == 0


# ---------------------------------------------------------------------------
# gini_hours: temporal volume concentration
# ---------------------------------------------------------------------------


def test_gini_hours_equality_and_max_concentration(spark):
    import datetime as dt

    rows = []
    # series "a": one event in each of 4 consecutive hours -> perfect
    # equality, G = 0; top-decile window is ceil-derived floor((4+9)/10)
    # = 1 busiest hour -> share 1/4
    for hh in range(4):
        rows.append(("a", dt.datetime(2024, 1, 1, hh, 30)))
    # series "b": 5 events all in hour 0 of a 4-hour span (one sentinel
    # event in hour 3 would change m; instead span forced by events at
    # h0 and h3) -> counts [4, 1] over n=4 grid hours, z=2
    for _ in range(4):
        rows.append(("b", dt.datetime(2024, 1, 1, 0, 15)))
    rows.append(("b", dt.datetime(2024, 1, 1, 3, 45)))
    df = spark.createDataFrame(rows, "series_id string, ts timestamp")
    out = {
        r["series_id"]: r
        for r in analytics.gini_hours(df, keys=["series_id"]).collect()
    }
    a, b = out["a"], out["b"]
    assert (a["n_hours"], a["n_active"], a["gini_e6"]) == (4, 4, 0)
    assert a["top_decile_share_e6"] == 250_000
    # b: sorted asc with zeros [0,0,1,4], ranks of nonzero (shifted by
    # z=2): T = 3*1 + 4*4 = 19, S = 5, n = 4
    # G = (2*19 - 5*5)/(4*5) = 13/20 = 0.65
    assert (b["n_hours"], b["n_active"]) == (4, 2)
    assert b["gini_e6"] == 650_000
    assert b["top_decile_share_e6"] == 800_000  # busiest hour holds 4/5


def test_gini_hours_single_hour_series(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [("c", dt.datetime(2024, 1, 1, 0, 5)), ("c", dt.datetime(2024, 1, 1, 0, 6))],
        "series_id string, ts timestamp",
    )
    r = analytics.gini_hours(df, keys=["series_id"]).collect()[0]
    # n = 1 grid hour: no inequality is measurable -> G pinned to 0,
    # the single hour IS the top decile
    assert (r["n_hours"], r["n_active"], r["gini_e6"]) == (1, 1, 0)
    assert r["top_decile_share_e6"] == 1_000_000


# ---------------------------------------------------------------------------
# welch_drift: Welch t / Welch-Satterthwaite df / Cohen's d
# ---------------------------------------------------------------------------


def test_welch_drift_python_replay_and_degenerates(spark):
    import datetime as dt

    vals = [10.0, 12.0, 11.0, 13.0, 30.0, 34.0, 31.0, 29.0]
    rows = [
        ("a", dt.datetime(2024, 1, 1, h), v) for h, v in enumerate(vals)
    ]
    # constant series: both halves zero-variance -> null t/df/d
    rows += [("b", dt.datetime(2024, 1, 1, h), 7.0) for h in range(4)]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.welch_drift(df, keys=["series_id"]).collect()
    }
    a = out["a"]
    # exact replay of the documented IEEE tree on the e3 grid
    xs = [v * 1000 for v in vals[:4]]
    ys = [v * 1000 for v in vals[4:]]
    na, nb = 4.0, 4.0
    sa, sb = float(sum(xs)), float(sum(ys))
    da2 = float(4 * sum(x * x for x in xs) - sum(xs) ** 2)
    db2 = float(4 * sum(y * y for y in ys) - sum(ys) ** 2)
    va, vb = da2 / (na * (na - 1)), db2 / (nb * (nb - 1))
    se2 = va / na + vb / nb
    diff = sa / na - sb / nb
    t = diff / math.sqrt(se2)
    dfw = se2 * se2 / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    d = diff / math.sqrt((da2 / na + db2 / nb) / (na + nb - 2))
    assert (a["n_a"], a["n_b"]) == (4, 4)
    assert a["t_e6"] == round(t * 1e6)
    assert a["df_e6"] == round(dfw * 1e6)
    assert a["cohen_d_e6"] == round(d * 1e6)
    assert a["t_e6"] < -10_000_000  # strongly negative: mean jumped up
    b = out["b"]
    assert (b["t_e6"], b["df_e6"], b["cohen_d_e6"]) == (None, None, None)


def test_welch_drift_scipy_style_sanity(spark):
    import datetime as dt

    # equal halves -> t = 0 and d = 0 exactly
    vals = [5.0, 9.0, 7.0, 5.0, 9.0, 7.0]
    rows = [("c", dt.datetime(2024, 1, 1, h), v) for h, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    r = analytics.welch_drift(df, keys=["series_id"]).collect()[0]
    assert (r["t_e6"], r["cohen_d_e6"]) == (0, 0)
    # identical half-variances -> Welch df = n - 2 = 4 exactly
    assert r["df_e6"] == 4_000_000


# ---------------------------------------------------------------------------
# chi2_independence: contingency association + Cramér's V
# ---------------------------------------------------------------------------


def test_chi2_independence_and_perfect_association(spark):
    # perfectly independent 2x2: every cell expected == observed
    rows = (
        [("r0", "c0")] * 10 + [("r0", "c1")] * 20
        + [("r1", "c0")] * 30 + [("r1", "c1")] * 60
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = analytics.chi2_independence(df, "a", "b").collect()[0]
    assert (r["n_obs"], r["n_rows"], r["n_cols"], r["dof"]) == (120, 2, 2, 1)
    assert r["chi2_e6"] == 0 and r["cramers_v_e6"] == 0
    # perfect diagonal association: chi2 = N, V = 1 exactly
    rows2 = [("r0", "c0")] * 25 + [("r1", "c1")] * 25
    df2 = spark.createDataFrame(rows2, "a string, b string")
    r2 = analytics.chi2_independence(df2, "a", "b").collect()[0]
    assert r2["chi2_e6"] == 50_000_000  # chi2 == N == 50
    assert r2["cramers_v_e6"] == 1_000_000


def test_chi2_independence_degenerate_single_row(spark):
    df = spark.createDataFrame(
        [("only", "c0")] * 3 + [("only", "c1")] * 4, "a string, b string"
    )
    r = analytics.chi2_independence(df, "a", "b").collect()[0]
    # one row category: dof 0, chi2 0, V undefined -> honest null
    assert (r["dof"], r["chi2_e6"], r["cramers_v_e6"]) == (0, 0, None)


# ---------------------------------------------------------------------------
# longest_run: regime persistence lengths
# ---------------------------------------------------------------------------


def test_longest_run_hand_sequence(spark):
    import datetime as dt

    # hourly values 1,9,8,7,2,3,9 -> median (n=7) = 7 -> cut drops the
    # exact-tie bucket (7): signs of the rest in time order:
    # 1:-, 9:+, 8:+, 2:-, 3:-, 9:+ -> runs [-][++][--][+]
    vals = [1.0, 9.0, 8.0, 7.0, 2.0, 3.0, 9.0]
    rows = [("a", dt.datetime(2024, 1, 1, h), v) for h, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    r = analytics.longest_run(df, keys=["series_id"]).collect()[0]
    assert (r["n_kept"], r["n_runs"]) == (6, 4)
    assert (r["longest_up"], r["longest_down"]) == (2, 2)


def test_longest_run_one_sided_and_alltied(spark):
    import datetime as dt

    rows = [
        # strictly increasing: below-half then above-half, both runs
        # n//2 long (even n median splits cleanly)
        ("b", dt.datetime(2024, 1, 1, 0), 1.0),
        ("b", dt.datetime(2024, 1, 1, 1), 2.0),
        ("b", dt.datetime(2024, 1, 1, 2), 3.0),
        ("b", dt.datetime(2024, 1, 1, 3), 4.0),
        # all-tied -> every bucket ties the cut -> series vanishes
        ("c", dt.datetime(2024, 1, 1, 0), 5.0),
        ("c", dt.datetime(2024, 1, 1, 1), 5.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {r["series_id"]: r for r in analytics.longest_run(df, keys=["series_id"]).collect()}
    assert set(out) == {"b"}
    assert (out["b"]["longest_up"], out["b"]["longest_down"]) == (2, 2)
    assert out["b"]["n_runs"] == 2


# ---------------------------------------------------------------------------
# extremal_index: POT runs declustering
# ---------------------------------------------------------------------------


def test_extremal_index_storm_vs_scattered(spark):
    import datetime as dt

    def series(name, spikes):
        rows = []
        for h in range(20):
            rows.append((name, dt.datetime(2024, 1, 1, h), spikes.get(h, 1.0)))
        return rows

    # "storm": the two strict exceedances are ADJACENT hours -> one
    # cluster, theta = 1/2; rank-18 threshold value is 8.0
    rows = series("storm", {3: 9.0, 4: 9.5, 10: 8.0})
    # "scattered": same magnitudes, hours apart -> two clusters,
    # theta = 1
    rows += series("scat", {3: 9.0, 10: 9.5, 15: 8.0})
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.extremal_index(df, keys=["series_id"]).collect()
    }
    st, sc = out["storm"], out["scat"]
    assert (st["n_exceed"], st["n_clusters"], st["max_cluster"]) == (2, 1, 2)
    assert st["theta_e6"] == 500_000
    assert (sc["n_exceed"], sc["n_clusters"], sc["max_cluster"]) == (2, 2, 1)
    assert sc["theta_e6"] == 1_000_000


def test_extremal_index_short_or_flat_series_dropped(spark):
    import datetime as dt

    rows = [("tiny", dt.datetime(2024, 1, 1, h), float(h)) for h in range(5)]
    rows += [("flat", dt.datetime(2024, 1, 1, h), 3.0) for h in range(12)]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    # n<10 -> threshold is the max -> no strict exceedance; flat ->
    # tied top -> no strict exceedance: both series vanish
    assert analytics.extremal_index(df, keys=["series_id"]).count() == 0


# ---------------------------------------------------------------------------
# record_counts: record-breaking statistics
# ---------------------------------------------------------------------------


def test_record_counts_monotone_and_expectation(spark):
    import datetime as dt

    rows = [
        # strictly increasing: EVERY bucket is an up-record, only the
        # first is a down-record
        ("up", dt.datetime(2024, 1, 1, h), float(h)) for h in range(5)
    ] + [
        # constant: ties never break records -> exactly one of each
        ("flat", dt.datetime(2024, 1, 1, h), 3.0) for h in range(4)
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.record_counts(df, keys=["series_id"]).collect()
    }
    u, f = out["up"], out["flat"]
    assert (u["n_records_up"], u["n_records_down"]) == (5, 1)
    # H_5 pre-quantized: 1e9 + 5e8 + round(1e9/3) + 25e7 + 2e8
    h5 = 1_000_000_000 + 500_000_000 + 333_333_333 + 250_000_000 + 200_000_000
    assert u["expected_e9"] == h5
    assert u["up_ratio_e6"] == round(5 / (h5 / 1e9) * 1e6)
    assert (f["n_records_up"], f["n_records_down"]) == (1, 1)
    assert f["expected_e9"] == 1_000_000_000 + 500_000_000 + 333_333_333 + 250_000_000


# ---------------------------------------------------------------------------
# qq_drift: decile-level distribution shift
# ---------------------------------------------------------------------------


def test_qq_drift_level_shift_signature(spark):
    import datetime as dt

    # first half 1..10, second half 101..110 (hours 0..19): every
    # decile shifts by exactly +100 (e6-grid: +1e8); decile d of ten
    # values = value at nearest-rank-upper ceil(d*10/10) = d
    rows = [
        ("a", dt.datetime(2024, 1, 1, h), float(h + 1)) for h in range(10)
    ] + [
        ("a", dt.datetime(2024, 1, 1, 10 + h), float(101 + h)) for h in range(10)
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {r["decile"]: r for r in analytics.qq_drift(df, keys=["series_id"]).collect()}
    assert set(out) == set(range(1, 10))
    for d in range(1, 10):
        assert out[d]["q_first_e6"] == d * 1_000_000
        assert out[d]["q_second_e6"] == (100 + d) * 1_000_000
        assert out[d]["shift_e6"] == 100_000_000


def test_qq_drift_tail_only_shift(spark):
    import datetime as dt

    # identical halves except the second half's maximum explodes:
    # only decile 9 (and above-median ranks mapping to the max) moves
    first = [1.0, 2.0, 3.0, 4.0, 5.0]
    second = [1.0, 2.0, 3.0, 4.0, 500.0]
    rows = [
        ("t", dt.datetime(2024, 1, 1, h), v) for h, v in enumerate(first)
    ] + [
        ("t", dt.datetime(2024, 1, 1, 5 + h), v) for h, v in enumerate(second)
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {r["decile"]: r for r in analytics.qq_drift(df, keys=["series_id"]).collect()}
    # m = 5 per half: decile d picks rank ceil(d/2): deciles 1-8 ->
    # ranks 1..4 identical, decile 9 -> rank 5 (the max)
    for d in range(1, 9):
        assert out[d]["shift_e6"] == 0, d
    assert out[9]["shift_e6"] == 495_000_000


# ---------------------------------------------------------------------------
# vol_clustering: ARCH effect on absolute changes
# ---------------------------------------------------------------------------


def test_vol_clustering_numpy_parity_and_gap(spark):
    import datetime as dt

    import numpy as np

    vals = [0.0, 1.0, 0.0, 9.0, 0.0, 1.0, 2.0, 11.0, 2.0, 3.0]
    rows = [("a", dt.datetime(2024, 1, 1, h), v) for h, v in enumerate(vals)]
    # linear ramp -> |delta| constant -> zero variance -> honest null
    rows += [("lin", dt.datetime(2024, 1, 1, h), float(2 * h)) for h in range(6)]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.vol_clustering(df, keys=["series_id"]).collect()
    }
    rr = np.abs(np.diff(np.round(np.array(vals) * 1000))).astype(np.int64)
    x, y = rr[:-1].astype(float), rr[1:].astype(float)
    n = len(x)
    num = n * (x * y).sum() - x.sum() * y.sum()
    den = math.sqrt(
        (n * (x * x).sum() - x.sum() ** 2) * (n * (y * y).sum() - y.sum() ** 2)
    )
    assert out["a"]["n_pairs"] == n
    assert out["a"]["arch_r_e6"] == round(num / den * 1e6)
    assert out["lin"]["arch_r_e6"] is None

    # gap-correctness: removing hour 4 must drop the delta pairs that
    # cross it (deltas at hours 4 and 5 vanish; pairs shrink by 3)
    rows_g = [
        ("g", dt.datetime(2024, 1, 1, h), v)
        for h, v in enumerate(vals) if h != 4
    ]
    dfg = spark.createDataFrame(
        rows_g, "series_id string, ts timestamp, value double"
    )
    g = analytics.vol_clustering(dfg, keys=["series_id"]).collect()[0]
    assert g["n_pairs"] == n - 3


# ---------------------------------------------------------------------------
# effective_sample_size: the CI correction factor
# ---------------------------------------------------------------------------


def test_ess_alternating_and_persistent(spark):
    import datetime as dt

    # strict alternation: odd-lag rho = -1, even-lag rho = +1 exactly
    # -> over lags 1..6 the quantized sum cancels to 0 -> ESS == n
    rows = [
        ("alt", dt.datetime(2024, 1, 1, 0) + dt.timedelta(hours=h),
         1.0 if h % 2 == 0 else -1.0)
        for h in range(40)
    ]
    # persistent ramp: all rhos positive -> ESS well below n
    ramp = [float(h) for h in range(30)]
    rows += [
        ("ramp", dt.datetime(2024, 1, 1, 0) + dt.timedelta(hours=h), v)
        for h, v in enumerate(ramp)
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.effective_sample_size(
            df, keys=["series_id"]
        ).collect()
    }
    alt = out["alt"]
    assert alt["rho_sum_e6"] == 0
    assert alt["ess_e3"] == 40_000 and alt["ess_ratio_e6"] == 1_000_000

    # python replay of the documented pipeline for the ramp
    def rho(vals, k):
        x, y = vals[:-k], vals[k:]
        n = float(len(x))
        sx, sy = sum(x), sum(y)
        sxy = sum(a * b for a, b in zip(x, y))
        sxx = sum(a * a for a in x)
        syy = sum(b * b for b in y)
        return round(
            (n * sxy - sx * sy)
            / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            * 1e6
        )

    rho_sum = sum(rho(ramp, k) for k in range(1, 7))
    r = out["ramp"]
    assert r["rho_sum_e6"] == rho_sum and rho_sum > 4_000_000
    denom = 1_000_000 + 2 * rho_sum
    assert r["ess_e3"] == round(30 * 1e6 / denom * 1e3)
    assert r["ess_e3"] < 4_000  # far fewer effective samples than 30


# ---------------------------------------------------------------------------
# conformal_interval: split-conformal band + measured coverage
# ---------------------------------------------------------------------------


def test_conformal_hand_ranks_and_coverage(spark):
    import datetime as dt

    # 21 hourly buckets -> 20 residuals -> cal = first 10, test = 10.
    # values chosen so |dv| over the cal half is 1..10 (hours 0-10)
    # and the test half alternates 2 and 50
    vals = [0.0]
    cur = 0.0
    for d in [1, -2, 3, -4, 5, -6, 7, -8, 9, -10]:
        cur += d
        vals.append(cur)
    for d in [2, -50, 2, -50, 2, -50, 2, -50, 2, -50]:
        cur += d
        vals.append(cur)
    rows = [
        ("a", dt.datetime(2024, 1, 1, 0) + dt.timedelta(hours=h), v)
        for h, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    r = analytics.conformal_interval(df, keys=["series_id"]).collect()[0]
    # conformal rank ceil(11*0.9) = 10 (clipped at m=10): qhat = the
    # LARGEST calibration residual = 10
    assert (r["n_cal"], r["n_test"]) == (10, 10)
    assert r["qhat_e6"] == 10_000_000
    # test residuals: five 2s (covered) and five 50s (not)
    assert r["n_covered"] == 5
    assert r["coverage_e6"] == 500_000


def test_conformal_exchangeable_coverage_holds(spark):
    import datetime as dt

    # identical halves -> every test residual equals some calibration
    # residual <= qhat except the ones above rank 10's value; with
    # residuals 1..10 in both halves and qhat = 10, coverage = 100%
    vals = [0.0]
    cur = 0.0
    for _ in range(2):
        for d in [1, -2, 3, -4, 5, -6, 7, -8, 9, -10]:
            cur += d
            vals.append(cur)
    rows = [
        ("b", dt.datetime(2024, 1, 1, 0) + dt.timedelta(hours=h), v)
        for h, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    r = analytics.conformal_interval(df, keys=["series_id"]).collect()[0]
    assert r["coverage_e6"] == 1_000_000


# ---------------------------------------------------------------------------
# page_trend: Page's L ordered-alternative test
# ---------------------------------------------------------------------------


def test_page_trend_hand_worked_and_antitrend(spark):
    import datetime as dt

    def ev(series, day, hour, value):
        return (series, dt.datetime(2024, 1, day, hour, 0, 0), value)

    rows = [
        # series "inc": 2 complete blocks, values increase WITH the
        # daypart order -> ranks (1,2,3) each block, R = (2,4,6),
        # L = 28, E[L] = 24, sd = 2 -> z = +2 exactly
        ev("inc", 1, 0, 1.0), ev("inc", 1, 6, 2.0), ev("inc", 1, 12, 3.0),
        ev("inc", 2, 0, 4.0), ev("inc", 2, 6, 5.0), ev("inc", 2, 12, 6.0),
        # series "dec": same magnitudes AGAINST the order -> z = -2
        ev("dec", 1, 0, 3.0), ev("dec", 1, 6, 2.0), ev("dec", 1, 12, 1.0),
        ev("dec", 2, 0, 6.0), ev("dec", 2, 6, 5.0), ev("dec", 2, 12, 4.0),
        # all-tied: midranks equal -> L2 = E[L2] -> z = 0
        ev("tie", 1, 0, 7.0), ev("tie", 1, 6, 7.0),
        ev("tie", 2, 0, 7.0), ev("tie", 2, 6, 7.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.page_trend(df, keys=["series_id"]).collect()
    }
    assert out["inc"]["l2"] == 56 and out["inc"]["z_e6"] == 2_000_000
    assert out["dec"]["z_e6"] == -2_000_000
    assert out["tie"]["z_e6"] == 0
    # Friedman CANNOT separate inc from dec (any permutation scores
    # the same) -- Page exists precisely for this
    fr = {
        r["series_id"]: r["q_e6"]
        for r in analytics.friedman_dayparts(df, keys=["series_id"]).collect()
    }
    assert fr["inc"] == fr["dec"]


def test_friedman_and_page_share_complete_blocks(spark):
    """Both daypart tests read one complete-block frame: e6 cell means
    of the non-null values, blocks missing a segment dropped, doubled
    midranks m2 = 2·rank + t − 1 within each block."""
    day, seg = 86400, 21600

    def ev(series, d, s, value):
        return (series, d * day + s * seg, value)

    rows = [
        # day 0, ranks 1..4 -> m2 (2, 4, 6, 8); segment 0's cell is the
        # mean of 0.5 and 1.5, and its null value is ignored
        ev("a", 0, 0, 0.5), ev("a", 0, 0, 1.5), ev("a", 0, 0, None),
        ev("a", 0, 1, 2.0), ev("a", 0, 2, 3.0), ev("a", 0, 3, 4.0),
        # day 1, a tie at rank 2 (t = 2) -> m2 (2, 5, 5, 8)
        ev("a", 1, 0, 10.0), ev("a", 1, 1, 20.0), ev("a", 1, 2, 20.0),
        ev("a", 1, 3, 40.0),
        # day 2 misses segment 3: dropped, though it would reorder ranks
        ev("a", 2, 0, 50.0), ev("a", 2, 1, 1.0), ev("a", 2, 2, 30.0),
        # one observed segment: k = 1, dropped by both tests
        ev("one", 0, 0, 1.0), ev("one", 1, 0, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, t long, value double"
    ).select("series_id", F.timestamp_seconds("t").alias("ts"), "value")
    # n = 2, k = 4: R2 = (4, 9, 11, 16), A2 = 120 + 118 = 238
    fr = analytics.friedman_dayparts(df, keys=["series_id"]).collect()
    assert [r["series_id"] for r in fr] == ["a"]
    # Q = (k−1)·Σ(R2 − n(k+1))² / (A2 − n·k·(k+1)²) = 3·74/38,
    # W = Q / (n(k−1))
    assert (fr[0]["k_treatments"], fr[0]["n_blocks"]) == (4, 2)
    assert (fr[0]["q_e6"], fr[0]["w_e6"]) == (5_842_105, 973_684)
    pt = analytics.page_trend(df, keys=["series_id"]).collect()
    assert [r["series_id"] for r in pt] == ["a"]
    # L2 = Σ j·R2_j = 119, E[L2] = n·k(k+1)²/2 = 100,
    # Var[L] = n·k²(k+1)(k²−1)/144 = 50/3 -> z = 19 / (2·sqrt(50/3))
    assert (pt[0]["k_treatments"], pt[0]["n_blocks"]) == (4, 2)
    assert (pt[0]["l2"], pt[0]["z_e6"]) == (119, 2_327_015)


# ---------------------------------------------------------------------------
# yule_walker_ar2: the AR(2) oscillation detector
# ---------------------------------------------------------------------------


def _yw_replay(vals):
    """Python replay of the documented yule_walker_ar2 pipeline over a
    gap-free hourly series (bucket means = the values)."""
    def rho_e6(k):
        x, y = vals[:-k], vals[k:]
        n = float(len(x))
        sx, sy = sum(x), sum(y)
        sxy = sum(a * b for a, b in zip(x, y))
        sxx = sum(a * a for a in x)
        syy = sum(b * b for b in y)
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        if n < 2 or vx <= 0 or vy <= 0:
            return None
        return round((n * sxy - sx * sy) / math.sqrt(vx * vy) * 1e6)

    r1, r2 = rho_e6(1), rho_e6(2)
    if r1 is None or r2 is None:
        return dict(r1=r1, r2=r2, ok=False)
    d = 10**12 - r1 * r1
    if d <= 0:
        return dict(r1=r1, r2=r2, ok=False)
    a = r1 * (10**6 - r2)
    b = r2 * 10**6 - r1 * r1
    disc = a * a + 4 * b * d          # exact python int
    phi1, phi2 = float(a) / float(d), float(b) / float(d)
    out = dict(
        r1=r1, r2=r2, ok=True,
        phi1=round(phi1 * 1e6), phi2=round(phi2 * 1e6),
        stationary=int(b + d > 0 and a + b < d and b - a < d),
        oscillatory=int(disc < 0),
    )
    out["cos_theta"] = (
        round(phi1 / (2.0 * math.sqrt(-phi2)) * 1e6) if disc < 0 else None
    )
    return out


def test_yule_walker_oscillator_decay_degenerate(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0)
    # period-3 oscillator: complex roots, ringing cosine ~ -0.5
    osc = [[2.0, 0.0, 1.0][h % 3] for h in range(19)]
    # noisy geometric decay: real roots, stationary, no oscillation
    # (a NOISELESS decay is an exact AR(1): lag-1 Pearson = 1 exactly
    # and the fit degenerates -- the deterministic jitter keeps D > 0)
    dec = [100.0 * 0.6 ** h + ((h * 37) % 5) for h in range(12)]
    # a true 3-point line: Pearson is EXACTLY 1 -> D = 0 -> nulls
    lin = [1.0, 2.0, 3.0]
    rows = (
        [("osc", t0 + dt.timedelta(hours=h), v) for h, v in enumerate(osc)]
        + [("dec", t0 + dt.timedelta(hours=h), v) for h, v in enumerate(dec)]
        + [("lin", t0 + dt.timedelta(hours=h), v) for h, v in enumerate(lin)]
    )
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.yule_walker_ar2(df, keys=["series_id"]).collect()
    }

    for name, vals in (("osc", osc), ("dec", dec)):
        exp = _yw_replay(vals)
        got = out[name]
        assert got["r1_e6"] == exp["r1"] and got["r2_e6"] == exp["r2"], name
        assert got["phi1_e6"] == exp["phi1"], name
        assert got["phi2_e6"] == exp["phi2"], name
        assert got["stationary"] == exp["stationary"], name
        assert got["oscillatory"] == exp["oscillatory"], name
        assert got["cos_theta_e6"] == exp["cos_theta"], name

    # the period-3 pattern MUST read oscillatory with cos(theta) near
    # -1/2 (theta ~ 2*pi/3 <-> period ~ 3 buckets); the decay must not
    assert out["osc"]["oscillatory"] == 1
    assert abs(out["osc"]["cos_theta_e6"] + 500_000) < 40_000
    assert out["dec"]["oscillatory"] == 0 and out["dec"]["stationary"] == 1

    # degenerate: exact line -> rho1 = 1e6 exactly -> D = 0 -> honest
    # nulls for the whole fit (never a divide-by-zero)
    lin_row = out["lin"]
    assert lin_row["r1_e6"] == 1_000_000
    for c in ("phi1_e6", "phi2_e6", "stationary", "oscillatory",
              "cos_theta_e6"):
        assert lin_row[c] is None, c


def test_yule_walker_gap_correct_pairing(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0)
    vals = [float((h * 37) % 11) for h in range(20)]
    rows = [
        ("g", t0 + dt.timedelta(hours=h), v)
        for h, v in enumerate(vals) if h != 7
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    got = analytics.yule_walker_ar2(df, keys=["series_id"]).collect()[0]
    # replay with epoch pairing: lag-1 pairs skip (6,7) and (7,8)
    def rho_gapped(k):
        pres = {h: v for h, v in enumerate(vals) if h != 7}
        pairs = [(pres[h], pres[h + k]) for h in pres if h + k in pres]
        x = [p[0] for p in pairs]
        y = [p[1] for p in pairs]
        n = float(len(pairs))
        sx, sy, sxy = sum(x), sum(y), sum(a * b for a, b in zip(x, y))
        sxx, syy = sum(a * a for a in x), sum(b * b for b in y)
        return len(pairs), round(
            (n * sxy - sx * sy)
            / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6
        )
    n1, r1 = rho_gapped(1)
    assert got["n_pairs1"] == n1 == 17   # 19 present buckets, 2 broken pairs
    assert got["r1_e6"] == r1


# ---------------------------------------------------------------------------
# markov_entropy: next-event predictability per state
# ---------------------------------------------------------------------------


def test_markov_entropy_deterministic_split_and_gap(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0)

    def ev(uid, seq, start_min=0, step_min=1):
        return [
            (uid, f"e{uid}-{i}", s, t0 + dt.timedelta(minutes=start_min + i * step_min))
            for i, s in enumerate(seq)
        ]

    # u1: a -> b always, b -> a always (both states deterministic)
    rows = ev(1, ["a", "b", "a", "b", "a", "b"])
    # u2: b -> a and b -> c exactly 50/50
    rows += ev(2, ["b", "a", "b", "c", "b", "a", "b", "c"], start_min=100)
    # u3: one transition broken by a 2 h gap -> must NOT count
    rows += ev(3, ["z", "z"], start_min=300, step_min=120)
    df = spark.createDataFrame(
        rows, "user_id long, event_id string, event_type string, ts timestamp"
    )
    out = {
        r["from_type"]: r for r in analytics.markov_entropy(df).collect()
    }

    # python replay of the documented pipeline
    import collections
    cnt = collections.Counter()
    streams = {
        1: ["a", "b", "a", "b", "a", "b"],
        2: ["b", "a", "b", "c", "b", "a", "b", "c"],
    }
    for seq in streams.values():
        for x, y in zip(seq, seq[1:]):
            cnt[(x, y)] += 1
    froms = collections.defaultdict(list)
    for (x, y), n in cnt.items():
        froms[x].append(n)
    for state, ns in froms.items():
        nf = sum(ns)
        h = sum(round(n / nf * math.log(nf / n) * 1e6) for n in ns)
        r = out[state]
        assert r["n_from"] == nf and r["k_next"] == len(ns), state
        assert r["h_e6"] == h, state
        if len(ns) > 1:
            assert r["norm_h_e6"] == round(h / math.log(len(ns))), state
        else:
            assert r["norm_h_e6"] is None, state

    # the pins the replay proves: deterministic states read exactly 0;
    # 'b' pools BOTH users (u1: b->a x2; u2: b->a x2, b->c x2), so
    # h = round(4/6·ln(6/4)·1e6) + round(2/6·ln(3)·1e6) = 636514
    assert out["a"]["h_e6"] == 0 and out["a"]["norm_h_e6"] is None
    assert out["b"]["h_e6"] == 636_514
    assert out["b"]["n_from"] == 6 and out["b"]["k_next"] == 2
    # the gapped z -> z transition never formed: no 'z' from-state row
    assert "z" not in out


# ---------------------------------------------------------------------------
# kaplan_meier: right-censored survival of inter-event waits
# ---------------------------------------------------------------------------


def test_kaplan_meier_hand_curve_censoring_and_zero(spark):
    """Hand-built cohort at minute buckets. Type 'x': three users with
    waits 1m, 2m (deaths) and one censored wait; KM must keep the
    censored user at risk through t=1 and t=2. Type 'z': single user,
    one death, n=d at the only death time -> S = 0 exactly."""
    import datetime as dt
    import math as m

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # observation end anchor: a 'pad' event fixes oend = t0+10m
    rows.append((99, "e-pad", "pad", t0 + dt.timedelta(minutes=10)))
    # u1: x at 0m and 1m  -> death at t=1
    rows += [(1, "e1a", "x", t0), (1, "e1b", "x", t0 + dt.timedelta(minutes=1))]
    # u2: x at 0m and 2m  -> death at t=2
    rows += [(2, "e2a", "x", t0), (2, "e2b", "x", t0 + dt.timedelta(minutes=2))]
    # u3: x at 4m only    -> censored at oend: gap 6m (at risk at 1,2)
    rows += [(3, "e3a", "x", t0 + dt.timedelta(minutes=4))]
    # z: one user, events at 0m and 3m -> one death, then censored tail
    rows += [(4, "e4a", "z", t0), (4, "e4b", "z", t0 + dt.timedelta(minutes=3))]
    df = spark.createDataFrame(
        rows, "user_id long, event_id string, event_type string, ts timestamp"
    )
    out = {
        (r["event_type"], r["t"]): r
        for r in analytics.kaplan_meier(df).collect()
    }

    # type x carries exactly FIVE waits: u1 -> death t=1 + censored
    # tail 9m, u2 -> death t=2 + censored tail 8m, u3 -> censored 6m.
    # At t=1 every wait is still at risk (n=5, d=1); at t=2 the t=1
    # death has left (n=4, d=1).
    r1 = out[("x", 1)]
    assert (r1["d"], r1["n_risk"]) == (1, 5)
    r2 = out[("x", 2)]
    assert (r2["d"], r2["n_risk"]) == (1, 4)
    t1 = round(m.log(4 / 5) * 1e6)
    t2 = round(m.log(3 / 4) * 1e6)
    assert r1["logs_e6"] == t1
    assert r2["logs_e6"] == t1 + t2
    assert r1["s_e6"] == round(m.exp(t1 / 1e6) * 1e6)
    assert r2["s_e6"] == round(m.exp((t1 + t2) / 1e6) * 1e6)
    # censoring kept u3 + the tails at risk: S(2) = (4/5)(3/4) = 0.6
    # EXACTLY at e6; a deaths-only estimate (waits {1m, 2m}) would
    # read (1/2)(0/1) = 0 -- the bias the estimator exists to remove
    assert r2["s_e6"] == 600_000

    # type z: death at t=3 where n_risk includes the censored second
    # wait (3m gap from 3m-event to pad-anchor oend at 10m -> 7m), so
    # n=2, d=1 -> survival 1/2; no everyone-dies row here
    rz = out[("z", 3)]
    assert (rz["d"], rz["n_risk"]) == (1, 2)

    # everyone-dies: isolate with a type whose only wait is a death
    rows2 = [
        (7, "f1", "w", t0),
        (7, "f2", "w", t0 + dt.timedelta(minutes=5)),
    ]
    # make the second event the LAST observation so its censored gap
    # is 0 and lands at t=0 as a censored (non-death) wait... instead
    # keep it simple: single wait, observation ends AT the second
    # event -> censored gap 0 still counts at risk only for t=0; the
    # death at t=5 then has n_risk = d = 1 -> S = 0, logs null
    df2 = spark.createDataFrame(
        rows2, "user_id long, event_id string, event_type string, ts timestamp"
    )
    rw = {r["t"]: r for r in analytics.kaplan_meier(df2).collect()}
    assert rw[5]["d"] == 1 and rw[5]["n_risk"] == 1
    assert rw[5]["logs_e6"] is None and rw[5]["s_e6"] == 0


# ---------------------------------------------------------------------------
# kpss_test: level-stationarity eta, the complementary null to ADF
# ---------------------------------------------------------------------------


def test_kpss_hand_values_and_directional_split(spark):
    """Hand-worked eta on two 4-6 bucket series. Trend [1,2,3,4]:
    demeaned residuals ±1500/±500 at e3 → den = 5e6; partial sums
    n·S_t = −6000,−8000,−6000,0 → num = 2,125,000 → eta = 0.425
    exactly. Alternation [1,2]×3: den = 1.5e6, num = 3·round(5e5²/6)
    = 125,001 → eta = 0.083334 — the trend reads 5× higher, the
    directional contract (drift rejects level-stationarity, noise
    does not). Constant series → den = 0 → honest null, row kept."""
    rows = [("trend", i * 3600, float(v))
            for i, v in enumerate([1, 2, 3, 4])]
    rows += [("alt", i * 3600, float(v))
             for i, v in enumerate([1, 2, 1, 2, 1, 2])]
    rows += [("const", i * 3600, 7.0) for i in range(5)]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out = {r["series_id"]: r for r in analytics.kpss_test(
        df, key_col="key", ts_col="ts").collect()}
    assert out["trend"]["n_obs"] == 4
    assert out["trend"]["kpss_e6"] == 425_000
    assert out["alt"]["kpss_e6"] == round(125_001 / 1_500_000 * 1e6)
    assert out["alt"]["kpss_e6"] == 83_334
    assert out["const"]["n_obs"] == 5 and out["const"]["kpss_e6"] is None
    # four-quadrant contract vs ADF on the same buckets: the trend
    # series' KPSS rejects stationarity while alternation's does not
    assert out["trend"]["kpss_e6"] > 4 * out["alt"]["kpss_e6"]


def test_kpss_ordinal_in_time_and_order_invariance(spark):
    """Partial sums follow BUCKET TIME order, not insertion order —
    shuffled input rows land identically; a missing hour compresses
    the sequence (the records/runs_test convention), pinned by eta
    equality between the gapped series and its compressed twin."""
    vals = [5.0, 1.0, 4.0, 2.0, 8.0, 3.0]
    rows = [("shuf", i * 3600, v) for i, v in enumerate(vals)]
    rows_rev = list(reversed(rows))
    rows2 = [("gap", t * 3600, v) for (t, v) in
             zip([0, 1, 2, 5, 6, 9], vals)]   # holes at 3,4,7,8
    rows3 = [("dense", i * 3600, v) for i, v in enumerate(vals)]
    base = spark.createDataFrame(
        rows + rows2 + rows3, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out = {r["series_id"]: r for r in analytics.kpss_test(
        base, key_col="key", ts_col="ts").collect()}
    shuffled = spark.createDataFrame(
        rows_rev, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out_s = analytics.kpss_test(shuffled, key_col="key",
                                ts_col="ts").collect()[0]
    assert out_s["kpss_e6"] == out["shuf"]["kpss_e6"]
    assert out["gap"]["kpss_e6"] == out["dense"]["kpss_e6"]


# ---------------------------------------------------------------------------
# anova_dow: one-way weekday ANOVA with eta^2
# ---------------------------------------------------------------------------


def test_anova_dow_hand_f_and_eta2(spark):
    """Two weekday groups, two hourly buckets each. Series 'f':
    group means {1,3} vs {5,7} at e3 → SSW_m = 4e9, SSB_m = 1.6e10,
    F = 2·4 = 8 exactly, eta² = 0.8 exactly. Series 'p': perfect
    separation {1,1} vs {3,3} → SSW = 0 → honest-null F with
    eta² = 1 exactly. Series 'c': constant → both nulls, row kept."""
    def day_hours(day, vals):
        return [(day * 86400 + i * 3600, float(v))
                for i, v in enumerate(vals)]

    rows = [("f", t, v) for t, v in day_hours(0, [1, 3]) + day_hours(1, [5, 7])]
    rows += [("p", t, v) for t, v in day_hours(0, [1, 1]) + day_hours(1, [3, 3])]
    rows += [("c", t, v) for t, v in day_hours(0, [2, 2]) + day_hours(1, [2, 2])]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out = {r["key"]: r for r in analytics.anova_dow(
        df, keys=["key"], ts_col="ts").collect()}

    rf = out["f"]
    assert (rf["n_buckets"], rf["k_groups"]) == (4, 2)
    assert (rf["ssw_m"], rf["ssb_m"]) == (4_000_000_000, 16_000_000_000)
    assert rf["f_e6"] == 8_000_000
    assert rf["eta2_e6"] == 800_000

    rp = out["p"]
    assert rp["ssw_m"] == 0 and rp["f_e6"] is None
    assert rp["eta2_e6"] == 1_000_000

    rc = out["c"]
    assert rc["f_e6"] is None and rc["eta2_e6"] is None


def test_anova_dow_weekday_grouping_is_epoch_arithmetic(spark):
    """Buckets 7 days apart land in the SAME group (one k=1 series is
    dropped — no test exists across one group), and the dow formula
    pins Monday: epoch day 4 (1970-01-05) is Monday → g = 0."""
    rows = [("one", d * 7 * 86400, float(v)) for d, v in enumerate([1, 5, 9])]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    assert analytics.anova_dow(df, keys=["key"], ts_col="ts").count() == 0
    # formula pin, no Spark needed: (4 + 3) % 7 == 0 (Monday)
    assert (4 + 3) % 7 == 0


# ---------------------------------------------------------------------------
# attribution_linear: multi-touch credit with pinned window boundaries
# ---------------------------------------------------------------------------


def test_attribution_linear_hand_credit_and_boundaries(spark):
    """u1: clicks at 0s and 600s, purchase at 900s → k=2, each click
    hour-0 credit 500000, first = the 0s click, last = the 600s one.
    u3: click exactly AT the purchase → in (k=1, credit 1e6, both
    first and last). u4: click exactly W before → OUT. u2: purchase
    2h after the click → no match. Boundary rule (tc > tp−W ∧
    tc ≤ tp) pinned by u3/u4 together."""
    rows = [
        (1, "c1a", "click", 0), (1, "c1b", "click", 600),
        (1, "p1", "purchase", 900),
        (2, "c2", "click", 0), (2, "p2", "purchase", 7200),
        (3, "c3", "click", 5000), (3, "p3", "purchase", 5000),
        (4, "c4", "click", 0), (4, "p4", "purchase", 3600),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id string, event_type string, t long"
    ).select("user_id", "event_id", "event_type",
             F.timestamp_seconds("t").alias("ts"))
    out = {r["touch_hour_ep"]: r for r in
           analytics.attribution_linear(df).collect()}
    # hour 0: u1's two clicks only (u4's click is excluded exactly)
    h0 = out[0]
    assert (h0["n_touch"], h0["credit_e6"]) == (2, 1_000_000)
    assert (h0["n_first"], h0["n_last"]) == (1, 1)
    # hour 3600 (5000s bucket): u3's at-conversion click
    h1 = out[3600]
    assert (h1["n_touch"], h1["credit_e6"]) == (1, 1_000_000)
    assert (h1["n_first"], h1["n_last"]) == (1, 1)
    assert set(out) == {0, 3600}


def test_attribution_linear_tie_break_and_remainder(spark):
    """Duplicate-timestamp touches: first/last resolve by event_id —
    exactly one of each per conversion. k=3 credit remainder:
    3·round(1e6/3) = 999999 (deterministic, both engines)."""
    rows = [
        (9, "a", "click", 100), (9, "b", "click", 100),
        (9, "c", "click", 100), (9, "p", "purchase", 200),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id string, event_type string, t long"
    ).select("user_id", "event_id", "event_type",
             F.timestamp_seconds("t").alias("ts"))
    r = analytics.attribution_linear(df).collect()[0]
    assert r["n_touch"] == 3
    assert r["credit_e6"] == 999_999
    assert r["n_first"] == 1 and r["n_last"] == 1


def test_attribution_linear_first_and_last_touch_hours_differ(spark):
    """W = 2h: clicks at 1000s (hour 0) and 4000s and 4000s (hour 1)
    before a purchase at 5000s. First touch lands in hour 0, last touch
    in hour 1 — the tie at 4000s resolves to the larger event_id,
    exactly one last touch."""
    rows = [
        (1, "a", "click", 1000), (1, "b", "click", 4000),
        (1, "c", "click", 4000), (1, "p", "purchase", 5000),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id string, event_type string, t long"
    ).select("user_id", "event_id", "event_type",
             F.timestamp_seconds("t").alias("ts"))
    out = {r["touch_hour_ep"]: r for r in
           analytics.attribution_linear(df, window_s=7200).collect()}
    assert (out[0]["n_touch"], out[0]["n_first"], out[0]["n_last"]) == (1, 1, 0)
    assert (out[3600]["n_touch"], out[3600]["n_first"], out[3600]["n_last"]) == (2, 0, 1)


# ---------------------------------------------------------------------------
# autoperiod: smallest strict local ACF peak
# ---------------------------------------------------------------------------


def test_autoperiod_fundamental_beats_harmonics_and_trend(spark):
    """Period-3 series [0,5,10]×14: lags 3, 6, 9, … all read rho = 1e6
    — harmonics tie, and the struct-max tie rule elects the
    FUNDAMENTAL 3; peaks at every multiple of 3 in 3..27 → n_peaks =
    9. Period-2 alternation reads 2. A monotone trend has a
    decreasing ACF with no interior peak: null period, n_peaks = 0 —
    the pin that a plain argmax (which would elect lag 1) cannot
    deliver."""
    rows = [("p3", i * 3600, float([0, 5, 10][i % 3])) for i in range(42)]
    rows += [("p2", i * 3600, float([0, 10][i % 2])) for i in range(42)]
    rows += [("tr", i * 3600, float(i)) for i in range(42)]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out = {r["key"]: r for r in analytics.autoperiod(
        df, keys=["key"], ts_col="ts", trunc="hour", max_lag=30
    ).collect()}
    assert out["p3"]["period_lag"] == 3
    assert out["p3"]["period_rho_e6"] == 1_000_000
    assert out["p3"]["n_peaks"] == 9
    assert out["p2"]["period_lag"] == 2
    assert out["p2"]["n_peaks"] == 14
    assert out["tr"]["period_lag"] is None and out["tr"]["n_peaks"] == 0
    assert out["tr"]["n_lags"] == 30


def test_autoperiod_gap_disqualifies_unverifiable_peak(spark):
    """If the lag-(k−1) neighbor has no pairs (every bucket pair at
    that lag broken), lag k cannot certify as a peak — null never
    certifies strictness. Built by spacing buckets 2h apart: odd lags
    have zero pairs, so even-lag peaks have no verifiable neighbors
    and the series reads no peak at all."""
    rows = [("g", i * 7200, float([0, 10][i % 2])) for i in range(40)]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    r = analytics.autoperiod(
        df, keys=["key"], ts_col="ts", trunc="hour", max_lag=30
    ).collect()[0]
    # even hourly lags exist (lag 2 = adjacent samples), odd lags have
    # no rows at all -> adjacency check fails everywhere
    assert r["n_peaks"] == 0 and r["period_lag"] is None
    assert r["n_lags"] > 0


# ---------------------------------------------------------------------------
# did_pairs: difference-in-differences at the shared midpoint
# ---------------------------------------------------------------------------


def test_did_hand_effect_and_t(spark):
    """A: pre {9,11} → post {19,21} (Δ=10); B: pre {4,6} → post {6,8}
    (Δ=2). Effect = 8 exactly; each cell's s² = 2e6 at e3 with n = 2
    → SE = 2000 → t = 4 exactly. The common +2 shock in B is netted
    out — a naive half-split Welch on A alone would read 10."""
    # four hourly buckets: hours 0,1 pre / 2,3 post (mid = 5400)
    a_vals = [9.0, 11.0, 19.0, 21.0]
    b_vals = [4.0, 6.0, 6.0, 8.0]
    rows = [("A", i * 3600, v) for i, v in enumerate(a_vals)]
    rows += [("B", i * 3600, v) for i, v in enumerate(b_vals)]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    r = analytics.did_pairs(df, key_col="key", ts_col="ts").collect()
    assert len(r) == 1
    r = r[0]
    assert (r["series_a"], r["series_b"]) == ("A", "B")
    assert r["boundary_ep"] == 5400
    assert (r["n_a0"], r["n_a1"], r["n_b0"], r["n_b1"]) == (2, 2, 2, 2)
    assert r["effect_e6"] == 8_000_000
    assert r["t_e6"] == 4_000_000


def test_did_boundary_rule_and_degenerate_groups(spark):
    """A bucket exactly AT the midpoint is POST (ep >= mid). A pair
    whose control has no pre-phase buckets has no DiD — dropped; n=1
    groups keep the effect but null the t."""
    # 'C' spans only the post half of the union span with 'D'
    rows = [("C", t * 3600, 5.0) for t in (6, 7)]
    rows += [("D", t * 3600, float(v)) for t, v in
             [(0, 1), (1, 1), (6, 3), (7, 3)]]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out = analytics.did_pairs(df, key_col="key", ts_col="ts").collect()
    assert out == []  # C has no pre buckets -> no row at all

    # midpoint membership: span 0..2h -> mid = 3600; the bucket AT
    # 3600 is post, so pre = {hour 0} (n=1) -> effect kept, t null
    rows2 = [("E", t * 3600, float(v)) for t, v in [(0, 1), (1, 5), (2, 7)]]
    rows2 += [("G", t * 3600, float(v)) for t, v in [(0, 2), (1, 2), (2, 2)]]
    df2 = spark.createDataFrame(
        rows2, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    r2 = analytics.did_pairs(df2, key_col="key", ts_col="ts").collect()[0]
    assert (r2["n_a0"], r2["n_a1"]) == (1, 2)
    # effect = (6 - 1) - (2 - 2) = 5
    assert r2["effect_e6"] == 5_000_000
    assert r2["t_e6"] is None


# ---------------------------------------------------------------------------
# binseg2: two-changepoint binary segmentation
# ---------------------------------------------------------------------------


def test_binseg2_perfect_double_step_hand_worked(spark):
    """0,0,0,10,10,10,20,20,20 hourly: level-1 gains at k=3 and k=6
    tie at exactly 450 (raw units²) — earliest epoch wins, k1=3; the
    second split recovers k2=6 with gain 150; the three shelf means
    read 0/10/20 exactly and the two-break R² is exactly 1 (a
    piecewise-constant-3 model fully explains a double step)."""
    vals = [0, 0, 0, 10, 10, 10, 20, 20, 20]
    rows = [("s", i * 3600, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    r = analytics.binseg2(df, key_col="key", ts_col="ts").collect()[0]
    assert (r["k1"], r["k2"]) == (3, 6)
    assert r["cp1_epoch"] == 2 * 3600 and r["cp2_epoch"] == 5 * 3600
    assert r["gain1_e6"] == 450_000_000
    assert r["gain2_e6"] == 150_000_000
    assert r["strength2_e6"] == 1_000_000
    assert (r["mean_seg1_e3"], r["mean_seg2_e3"], r["mean_seg3_e3"]) == (
        0, 10_000, 20_000)


def test_binseg2_rollback_shape_and_degenerates(spark):
    """Deploy+rollback 5,5,9,9,5,5: the two breaks bracket the spike
    (k ∈ {2, 4}) and segment means read 5/9/5. Constant series →
    null strength (SST=0) but breaks still emitted; n=2 series has
    no two-break model → dropped."""
    rows = [("rb", i * 3600, float(v))
            for i, v in enumerate([5, 5, 9, 9, 5, 5])]
    rows += [("const", i * 3600, 4.0) for i in range(5)]
    rows += [("tiny", i * 3600, float(v)) for i, v in enumerate([1, 9])]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out = {r["series_id"]: r for r in
           analytics.binseg2(df, key_col="key", ts_col="ts").collect()}
    rb = out["rb"]
    assert sorted([rb["k1"], rb["k2"]]) == [2, 4]
    assert (rb["mean_seg1_e3"], rb["mean_seg2_e3"], rb["mean_seg3_e3"]) == (
        5_000, 9_000, 5_000)
    assert rb["strength2_e6"] == 1_000_000
    c = out["const"]
    assert c["strength2_e6"] is None and c["gain1_e6"] == 0
    assert "tiny" not in out


# ---------------------------------------------------------------------------
# memory_coefficient: the ordering axis of the (B, M) phase diagram
# ---------------------------------------------------------------------------


def test_memory_coefficient_alternation_and_user_isolation(spark):
    """Alternating gaps 1,9,1,9,1 read M = −1 exactly (every long gap
    follows a short one); the SAME gaps sorted (1,1,9,9,...) read
    M > 0 — the ordering signal burstiness is blind to. Pairs never
    straddle users: two users with 2 gaps each yield exactly 1 pair
    per user. Constant gaps → honest null."""
    def stream(key, uid, gaps, t0=0):
        ts, out = t0, [(key, uid, t0)]
        for g in gaps:
            ts += g
            out.append((key, uid, ts))
        return out

    rows = stream("alt", 1, [1, 9, 1, 9, 1])
    rows += stream("srt", 1, [1, 1, 1, 9, 9])
    rows += stream("iso", 1, [3, 5]) + stream("iso", 2, [7, 2], t0=1000)
    rows += stream("const", 1, [4, 4, 4, 4])
    df = spark.createDataFrame(
        rows, "key string, uid long, t long"
    ).select("key", F.col("uid").alias("user_id"),
             F.timestamp_seconds("t").alias("ts"),
             F.monotonically_increasing_id().alias("event_id"))
    out = {r["key"]: r for r in analytics.memory_coefficient(
        df, keys=["key"], user_col="user_id", ts_col="ts",
        order_cols=["event_id"]).collect()}
    assert out["alt"]["n_pairs"] == 4
    assert out["alt"]["memory_e6"] == -1_000_000
    assert out["srt"]["memory_e6"] > 0
    assert out["iso"]["n_pairs"] == 2  # 1 per user, never straddling
    assert out["const"]["memory_e6"] is None and out["const"]["n_pairs"] == 3


# ---------------------------------------------------------------------------
# jarque_bera: the normality gate behind the z-score alarms
# ---------------------------------------------------------------------------


def test_jarque_bera_hand_moments(spark):
    """[1,2,3]: m3 cancels to exactly 0 (symmetric), m2 = 2/3,
    m4 = 2/3 → excess kurtosis exactly −1.5, JB = 3·(2.25/24) =
    0.28125 exactly. An asymmetric heavy-tail fixture reads positive
    skew and large JB; constant series → all nulls, row kept."""
    rows = [("sym", i * 3600, float(v)) for i, v in enumerate([1, 2, 3])]
    rows += [("tail", i * 3600, float(v))
             for i, v in enumerate([1, 1, 1, 1, 1, 1, 1, 1, 1, 100])]
    rows += [("const", i * 3600, 7.0) for i in range(4)]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out = {r["series_id"]: r for r in analytics.jarque_bera(
        df, key_col="key", ts_col="ts").collect()}
    s = out["sym"]
    assert s["skew_e6"] == 0
    assert s["exkurt_e6"] == -1_500_000
    assert s["jb_e6"] == 281_250
    t = out["tail"]
    assert t["skew_e6"] > 2_000_000  # one far outlier -> strong skew
    assert t["jb_e6"] > 10_000_000
    c = out["const"]
    assert c["skew_e6"] is None and c["jb_e6"] is None


# ---------------------------------------------------------------------------
# logrank_pairs: two-sample survival comparison
# ---------------------------------------------------------------------------


def test_logrank_hand_risk_sets_and_censoring(spark):
    """Two types, one user each. A: death at t=1 + censored tail 4;
    B: death at t=5 + censored 0. Pooled death times 1 and 5: at t=1
    the risk sets are na=2 (A's censored tail still at risk), nb=1
    (B's 0-wait already gone) → E-term 2/3, V-term 2/9, both at e6;
    t=5 has n=1 → no variance (classic convention). Full replay of
    z from the quantized integers."""
    import datetime as dt
    import math as m

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, eid, ty, minutes):
        return (uid, eid, ty, t0 + dt.timedelta(minutes=minutes))

    rows = [
        ev(1, "a1", "A", 0), ev(1, "a2", "A", 1),
        ev(2, "b1", "B", 0), ev(2, "b2", "B", 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id string, event_type string, ts timestamp"
    )
    out = analytics.logrank_pairs(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["type_a"], r["type_b"]) == ("A", "B")
    assert r["n_death_times"] == 2
    assert r["o_a"] == 1
    et1 = round(1 * 2 / 3 * 1e6)
    vt1 = round(1 * (2 / 3) * (1 / 3) * (3 - 1) / (3 - 1) * 1e6)
    assert r["e_a_e6"] == et1          # t=5 contributes E-term 0
    assert r["v_e6"] == vt1            # and no variance (n=1)
    z = (1_000_000 - et1) / (m.sqrt(vt1) * 1e3)
    assert r["z_e6"] == round(z * 1e6)


def test_logrank_identical_groups_read_null_balance(spark):
    """Two types with identical wait structures, both dying at the
    same pooled time: O·1e6 = E exactly (the exact-null balance) and
    the hypergeometric variance term is 0 because n_t = d_t — z is
    an honest null, not a fake zero. Adding a second, staggered
    death per side restores variance and reads z = 0 exactly by
    symmetry."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for ty, uid in (("X", 1), ("Y", 2)):
        rows += [
            (uid, f"{ty}1", ty, t0),
            (uid, f"{ty}2", ty, t0 + dt.timedelta(minutes=2)),
        ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id string, event_type string, ts timestamp"
    )
    r = analytics.logrank_pairs(df).collect()[0]
    assert r["o_a"] == 1 and r["e_a_e6"] == 1_000_000
    assert r["v_e6"] == 0 and r["z_e6"] is None

    # staggered symmetric deaths: users 3/4 die at t=7 on each side
    rows2 = rows + [
        (3, "X3", "X", t0), (3, "X4", "X", t0 + dt.timedelta(minutes=7)),
        (4, "Y3", "Y", t0), (4, "Y4", "Y", t0 + dt.timedelta(minutes=7)),
    ]
    df2 = spark.createDataFrame(
        rows2, "user_id long, event_id string, event_type string, ts timestamp"
    )
    r2 = analytics.logrank_pairs(df2).collect()[0]
    assert r2["o_a"] * 1_000_000 == r2["e_a_e6"]  # exact-null balance
    assert r2["v_e6"] > 0 and r2["z_e6"] == 0


# ---------------------------------------------------------------------------
# leadlag: who-moves-first verdict over the ccf table
# ---------------------------------------------------------------------------


def test_leadlag_shifted_copy_and_tie_rules(spark):
    """B is A delayed by 2 hours (a copy of A's values, shifted):
    the winning lag must be +2 with rho = 1e6 exactly — A leads. A
    pair of identical series reads lag 0 (closest-to-zero beats the
    equally-perfect harmonic alignments of a periodic input only via
    the tie rule, so use aperiodic values to isolate the shift)."""
    vals = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0, 6.0, 2.5,
            8.5, 1.5, 9.5, 3.5, 7.5]
    rows = [("A", i * 3600, v) for i, v in enumerate(vals)]
    rows += [("B", (i + 2) * 3600, v) for i, v in enumerate(vals)]
    rows += [("C", i * 3600, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "key string, t long, value double"
    ).select("key", F.timestamp_seconds("t").alias("ts"), "value")
    out = {(r["series_a"], r["series_b"]): r for r in analytics.leadlag(
        df, key_col="key", ts_col="ts", trunc="hour", max_lag=6
    ).collect()}
    ab = out[("A", "B")]
    assert ab["best_lag"] == 2 and ab["best_ccf_e6"] == 1_000_000
    ac = out[("A", "C")]
    assert ac["best_lag"] == 0 and ac["best_ccf_e6"] == 1_000_000
    # B lags C by 2 -> from (B, C)'s perspective C's value now matches
    # B's value 2h earlier: winning lag is -2 (B trails)
    bc = out[("B", "C")]
    assert bc["best_lag"] == -2 and bc["best_ccf_e6"] == 1_000_000


# ---------------------------------------------------------------------------
# user_gini: who sends the volume
# ---------------------------------------------------------------------------


def test_user_gini_uniform_vs_whale(spark):
    """Four users at 5 events each: G = 0 exactly. One whale sending
    16 of 19 events vs three onesies: G = (2·(1+2+3+4·16) −
    5·19)/(4·19) and the top-decile (⌈4/10⌉ = 1 busiest user) share
    = 16/19. Single-user series reads G = 0 with share 1."""
    rows = [("u", uid, i) for uid in range(4) for i in range(5)]
    rows += [("w", 9, i) for i in range(16)]
    rows += [("w", 1, 100), ("w", 2, 101), ("w", 3, 102)]
    rows += [("solo", 5, 0)]
    df = spark.createDataFrame(
        [(k, u) for k, u, _ in rows], "key string, user_id long"
    )
    out = {r["key"]: r for r in analytics.user_gini(
        df, keys=["key"]).collect()}
    assert out["u"]["gini_e6"] == 0
    g = (2 * (1 + 2 + 3 + 4 * 16) - 5 * 19) / (4 * 19)
    assert out["w"]["gini_e6"] == round(g * 1e6)
    assert out["w"]["top_decile_share_e6"] == round(16 / 19 * 1e6)
    assert out["solo"]["gini_e6"] == 0
    assert out["solo"]["top_decile_share_e6"] == 1_000_000


# ---------------------------------------------------------------------------
# stickiness: DAU / WAU with exact support-explosion WAU
# ---------------------------------------------------------------------------


def test_stickiness_inactive_user_still_in_wau(spark):
    """u1 active day 0 only; u2 active days 0 and 3. Day 0: dau 2,
    wau 2 → 1.0. Day 3: dau 1 but wau 2 — u1 is inactive on day 3
    yet within the trailing week, the semantics a naive
    distinct-on-the-day cannot produce → stickiness 0.5 exactly.
    Day 8 (u2 again): u1's support expired (day 0 + 6 < 8) → wau 1."""
    rows = [(1, 0), (2, 0), (2, 3 * 86400), (2, 8 * 86400)]
    df = spark.createDataFrame(
        rows, "user_id long, t long"
    ).select("user_id", F.timestamp_seconds("t").alias("ts"))
    out = {r["day_ep"] // 86400: r for r in
           analytics.stickiness(df).collect()}
    assert (out[0]["dau"], out[0]["wau"]) == (2, 2)
    assert out[0]["stickiness_e6"] == 1_000_000
    assert (out[3]["dau"], out[3]["wau"]) == (1, 2)
    assert out[3]["stickiness_e6"] == 500_000
    assert (out[8]["dau"], out[8]["wau"]) == (1, 1)
    # only observed days emit rows
    assert set(out) == {0, 3, 8}
