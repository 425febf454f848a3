"""Tier rollup + cascade vs oracle; cascade associativity; salting parity."""

import math

import pandas as pd
import pytest

import pyspark.sql.functions as F

from tests import oracle
from tokens_ts import extract, tiers

REL = 1e-12


@pytest.fixture(scope="module")
def raw(spark, seq_tiny):
    wide = extract.full_stats(seq_tiny, stats=["mean", "max"])
    df = extract.to_raw(wide)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def raw_pd(seq_tiny_pd):
    rows = []
    for _, r in seq_tiny_pd.iterrows():
        v = oracle.masked(r["tokens"])
        for sid, st in (("full_mean", "mean"), ("full_max", "max")):
            rows.append(
                {
                    "source": r["source"],
                    "series_id": sid,
                    "event_ts": r["event_ts"],
                    "value": oracle.stat(v, st),
                }
            )
    return pd.DataFrame(rows)


def _cmp_tier(got_df, exp_pd, cols=("cnt", "sum", "min", "max", "sum_sq")):
    got = got_df.orderBy("source", "series_id", "window_start").collect()
    assert len(got) == len(exp_pd), (len(got), len(exp_pd))
    for g, (_, e) in zip(got, exp_pd.iterrows()):
        assert g["source"] == e["source"] and g["series_id"] == e["series_id"]
        assert g["window_start"] == e["window_start"].to_pydatetime().replace(tzinfo=None)
        for c in cols:
            gv, ev = g[c], e[c]
            if gv is None or (isinstance(gv, float) and math.isnan(gv)):
                assert ev is None or (isinstance(ev, float) and math.isnan(ev)), (c, g, e)
            else:
                # std amplifies summation-order ulps by ~mean²/var via the
                # one-pass cancellation — 1e-9 instead of 1e-12 there
                rel = 1e-9 if c == "std" else REL
                assert math.isclose(float(gv), float(ev), rel_tol=rel, abs_tol=1e-9), (c, g, e)


def test_rollup_1m(raw, raw_pd):
    _cmp_tier(tiers.rollup(raw, "1m"), oracle.rollup(raw_pd, "1m"))


def test_cascade_1h_1d(raw, raw_pd):
    t = tiers.build_all_tiers(raw)
    e1m = oracle.rollup(raw_pd, "1m")
    _cmp_tier(t["1h"], oracle.cascade(e1m, "1h"))
    _cmp_tier(t["1d"], oracle.cascade(oracle.cascade(e1m, "1h"), "1d"))


def test_cascade_associativity(raw):
    """roll(1h, raw) == cascade(roll(1m, raw), '1h') — exact."""
    direct = tiers.rollup(raw, "1h")
    cascaded = tiers.cascade(tiers.rollup(raw, "1m"), "1h")
    d = {tuple(r[:3]): r for r in direct.collect()}
    c = {tuple(r[:3]): r for r in cascaded.collect()}
    assert d.keys() == c.keys()
    def eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(a, b, rel_tol=REL)

    for k in d:
        assert d[k]["cnt"] == c[k]["cnt"]
        assert eq(d[k]["sum"], c[k]["sum"])
        assert d[k]["min"] == c[k]["min"] and d[k]["max"] == c[k]["max"]
        assert eq(d[k]["sum_sq"], c[k]["sum_sq"])


def test_finish(raw, raw_pd):
    got = tiers.finish(tiers.rollup(raw, "1h"))
    exp = oracle.finish(oracle.rollup(raw_pd, "1h"))
    _cmp_tier(got, exp, cols=("cnt", "mean", "std"))


def test_exact_quantiles(raw, raw_pd):
    got = tiers.exact_quantiles(raw, "1h", percentiles=(0.5, 0.95))
    exp = oracle.exact_quantiles(raw_pd, "1h", percentiles=(0.5, 0.95))
    _cmp_tier(got, exp, cols=("median", "p95"))


def test_salted_rollup_identical(raw):
    """Salted two-phase agg must be bit-identical to the plain rollup."""
    plain = {tuple(r[:3]): r for r in tiers.rollup(raw, "1m").collect()}
    salted = {tuple(r[:3]): r for r in tiers.rollup_salted(raw, "1m", nsalt=8).collect()}
    assert plain.keys() == salted.keys()
    for k in plain:
        assert plain[k]["cnt"] == salted[k]["cnt"]
        assert plain[k]["min"] == salted[k]["min"]
        assert plain[k]["max"] == salted[k]["max"]
        assert math.isclose(plain[k]["sum"], salted[k]["sum"], rel_tol=1e-12)


def test_salted_plan_two_stage(raw):
    """The salted plan must contain two shuffle-separated aggregations."""
    plan = tiers.rollup_salted(raw, "1m")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") >= 2


def test_salted_hot_rollup_identical_and_partial(spark, seq_tiny):
    """Partial salting == plain rollup in values, and the salt fan-out
    applies ONLY to the detected hot keys (cold keys keep one salt
    group per window — no merge-stage inflation for them)."""
    import math

    import pyspark.sql.functions as F

    from tokens_ts import extract, tiers

    raw = extract.to_raw(extract.full_stats(seq_tiny, stats=["mean", "max"]))
    plain = {
        (r["source"], r["series_id"], r["window_start"]): (r["cnt"], r["sum"])
        for r in tiers.rollup(raw, "1h").collect()
    }
    salted = {
        (r["source"], r["series_id"], r["window_start"]): (r["cnt"], r["sum"])
        for r in tiers.rollup_salted_hot(raw, "1h", nsalt=8, top_k=2).collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        assert plain[k][0] == salted[k][0]
        a, b = plain[k][1], salted[k][1]
        if a is None or b is None:
            assert a is None and b is None
        else:
            assert math.isclose(a, b, rel_tol=1e-12)

    # phase-1 salt cardinality: >1 only for hot keys
    hot = {
        (r["source"], r["series_id"])
        for r in tiers.detect_hot_keys(raw, top_k=2).collect()
    }
    assert len(hot) == 2
    tagged = raw.join(
        F.broadcast(
            tiers.detect_hot_keys(raw, top_k=2).withColumn("_hot", F.lit(True))
        ),
        ["source", "series_id"],
        "left",
    )
    salt = F.when(
        F.col("_hot").isNotNull(),
        F.pmod(F.xxhash64("event_ts", F.coalesce("value", F.lit(0.0))), F.lit(8)),
    ).otherwise(F.lit(0))
    per_key_salts = (
        tagged.groupBy("source", "series_id")
        .agg(F.countDistinct(salt).alias("nsalts"))
        .collect()
    )
    for r in per_key_salts:
        key = (r["source"], r["series_id"])
        if key in hot:
            assert r["nsalts"] > 1, key
        else:
            assert r["nsalts"] == 1, key


def test_approx_quantiles_honor_gk_rank_bound(spark):
    """The flagged-approximate web-scale path: percentile_approx must
    return a data point whose empirical rank is within n/accuracy (+1
    discrete slack) of p·n, per window — quantified on a skewed
    distribution (exp-like tail) where naive sketches drift."""
    import datetime as dt

    import pyspark.sql.functions as F

    from tokens_ts import tiers

    t0 = dt.datetime(2026, 1, 1)
    n = 20_000
    rows = [
        (
            "s0",
            f"series{i % 3}",
            t0 + dt.timedelta(seconds=(i % 7200)),
            float(((i * 104729) % 1000) ** 2),  # skewed: quadratic tail
        )
        for i in range(n)
    ]
    raw = spark.createDataFrame(
        rows, "source string, series_id string, event_ts timestamp, value double"
    )
    acc = 100
    qx = tiers.approx_quantiles(raw, "1h", (0.5, 0.95), accuracy=acc)
    j = raw.withColumn(
        "window_start", F.date_trunc("hour", "event_ts")
    ).join(qx, ["source", "series_id", "window_start"])
    checked = j.groupBy("series_id", "window_start").agg(
        F.count("value").alias("n"),
        F.sum((F.col("value") <= F.col("median")).cast("long")).alias("le_m"),
        F.sum((F.col("value") < F.col("median")).cast("long")).alias("lt_m"),
        F.sum((F.col("value") <= F.col("p95")).cast("long")).alias("le_p"),
        F.sum((F.col("value") < F.col("p95")).cast("long")).alias("lt_p"),
    ).collect()
    assert checked
    worst = 0.0
    for r in checked:
        tol = r["n"] / acc + 1
        for p, le, lt in ((0.5, r["le_m"], r["lt_m"]), (0.95, r["le_p"], r["lt_p"])):
            assert le >= p * r["n"] - tol, (r["series_id"], p)
            assert lt <= p * r["n"] + tol, (r["series_id"], p)
            # measured deviation, in rank fraction — recorded via the
            # assertion bound; track the worst for the sanity floor
            dev = max(p * r["n"] - le, lt - p * r["n"]) / r["n"]
            worst = max(worst, dev)
    # the bound is 1/acc = 0.01 (+discrete slack); the measured worst
    # deviation must sit inside it with real margin, not at the edge
    assert worst <= 0.011, worst


def test_downsample_ohlc_known_answers(spark):
    """open/close are first/last BY TIME (not extremes); duplicate
    timestamps tie-break to the smaller value in both positions."""
    import datetime as dt

    from tokens_ts import tiers

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", "a", t0 + dt.timedelta(minutes=1), 4.0),   # open
        ("s", "a", t0 + dt.timedelta(minutes=2), 9.0),   # high
        ("s", "a", t0 + dt.timedelta(minutes=3), 1.0),   # low
        ("s", "a", t0 + dt.timedelta(minutes=9), 6.0),   # close (tie ts)
        ("s", "a", t0 + dt.timedelta(minutes=9), 7.0),   # close tie, larger
        ("s", "a", t0 + dt.timedelta(minutes=5), None),
    ]
    df = spark.createDataFrame(
        rows, "source string, series_id string, event_ts timestamp, value double"
    )
    r = tiers.downsample_ohlc(df, "1h").collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"]) == (4.0, 9.0, 1.0, 6.0)
    assert r["cnt"] == 5


def test_lttb_keeps_spikes_and_endpoints(spark):
    """Hand-worked: 10 hourly points with one spike per middle bucket
    (v=5 at h3, v=7 at h7), n_out=4 → 2 middle buckets. LTTB must
    keep both endpoints and pick exactly the spikes (largest triangle
    vs neighbor-bucket centroids)."""
    from datetime import datetime, timedelta

    from tokens_ts import tiers

    t0 = datetime(2026, 1, 1)
    vals = [0.0, 0.0, 0.0, 5.0, 0.0, 0.0, 0.0, 7.0, 0.0, 0.0]
    rows = [("S", t0 + timedelta(hours=h), v) for h, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "sid string, wts timestamp, v double")
    out = sorted(
        tiers.downsample_lttb(
            df, n_out=4, keys=["sid"], ts_col="wts", value_col="v"
        ).collect(),
        key=lambda r: r["event_ts"],
    )
    got = [(r["event_ts"].hour, r["value"], r["bucket"]) for r in out]
    assert got == [(0, 0.0, -1), (3, 5.0, 0), (7, 7.0, 1), (9, 0.0, 2)]


def test_lttb_short_series_passthrough(spark):
    """A series with ≤ n_out points comes back complete (every middle
    point wins its own bucket)."""
    from datetime import datetime, timedelta

    from tokens_ts import tiers

    t0 = datetime(2026, 1, 1)
    rows = [("S", t0 + timedelta(hours=h), float(h)) for h in range(5)]
    df = spark.createDataFrame(rows, "sid string, wts timestamp, v double")
    out = tiers.downsample_lttb(
        df, n_out=16, keys=["sid"], ts_col="wts", value_col="v"
    ).collect()
    assert sorted(r["value"] for r in out) == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_lttb_sequential_anchor_picks_spikes(spark):
    """anchor='selected' (true Steinarsson recursion: left anchor =
    previously picked point) on the same fixture still keeps the
    spikes and endpoints."""
    from datetime import datetime, timedelta

    from tokens_ts import tiers

    t0 = datetime(2026, 1, 1)
    vals = [0.0, 0.0, 0.0, 5.0, 0.0, 0.0, 0.0, 7.0, 0.0, 0.0]
    rows = [("S", t0 + timedelta(hours=h), v) for h, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "sid string, wts timestamp, v double")
    out = sorted(
        tiers.downsample_lttb(
            df, n_out=4, keys=["sid"], ts_col="wts", value_col="v",
            anchor="selected",
        ).collect(),
        key=lambda r: r["event_ts"],
    )
    assert [(r["event_ts"].hour, r["value"]) for r in out] == [
        (0, 0.0), (3, 5.0), (7, 7.0), (9, 0.0),
    ]


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
@pytest.mark.parametrize("anchor", ["centroid", "selected"])
def test_lttb_non_utc_session_equals_utc(kolkata, ts_type, anchor):
    """Under Asia/Kolkata, LTTB picks the same points as under UTC, for
    LTZ and NTZ input: LTZ timestamps cross the Python boundary in the
    session zone and must come back as the same instants."""
    from datetime import datetime, timedelta

    from tokens_ts import tiers

    t0 = datetime(2026, 1, 1, 3, 10)
    rows = [
        (sid, t0 + timedelta(minutes=37 * i), float((i * 7919 + k) % 23))
        for k, sid in enumerate("AB")
        for i in range(40)
    ]
    df = kolkata.createDataFrame(rows, f"sid string, wts {ts_type}, v double")
    ts_key = (
        F.unix_micros("event_ts")
        if ts_type == "timestamp"
        else F.col("event_ts").cast("string")
    )

    def picks(session_tz):
        kolkata.conf.set("spark.sql.session.timeZone", session_tz)
        out = tiers.downsample_lttb(
            df, n_out=8, keys=["sid"], ts_col="wts", value_col="v", anchor=anchor
        )
        assert out.schema["event_ts"].dataType == df.schema["wts"].dataType
        return sorted(map(tuple, out.select("sid", "bucket", ts_key, "value").collect()))

    utc = picks("UTC")
    assert len(utc) == 16
    assert picks("Asia/Kolkata") == utc


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_lttb_empty_input(kolkata, ts_type):
    """Empty input returns 0 rows with the declared schema."""
    from tokens_ts import tiers

    df = kolkata.createDataFrame(
        [], f"source string, series_id string, event_ts {ts_type}, value double"
    )
    out = tiers.downsample_lttb(df, n_out=8)
    assert out.columns == ["source", "series_id", "bucket", "event_ts", "value"]
    assert out.schema["event_ts"].dataType == df.schema["event_ts"].dataType
    assert out.count() == 0


def test_zorder_layout_rectangle_bound_and_partition(spark):
    """The z-curve guarantee as a test: with 8-bit keys and a 6-bit
    prefix, every bucket pins the top 3 bits of BOTH dims, so u_span
    and h_span are < 2^5 = 32 in every bucket; counts partition the
    input; and a time-only layout on the same input could not bound
    u_span (users are spread across the full 0..255 range per hour)."""
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for i in range(2048):
        rows.append((i % 256, t0 + dt.timedelta(hours=i // 8, minutes=i % 8)))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = tiers.zorder_layout(ev).collect()
    assert sum(r["n"] for r in out) == 2048
    for r in out:
        assert r["u_span"] == r["u_max"] - r["u_min"] < 32, r
        assert r["h_span"] == r["h_max"] - r["h_min"] < 32, r
    # hour-sorted layout: within one hour the user ids span ~the whole
    # range -> z-order strictly dominates for user-filtered pruning
    users_per_hour = 8 * 32  # construction above
    assert users_per_hour > 32


def test_histogram_tier_merge_equals_direct(spark):
    """The continuous-aggregate contract for the histogram tier:
    hourly tier rows merged up to the series ≡ histogramming raw
    directly (exact integer counts, any split)."""
    import datetime as dt

    from tokens_ts import tiers

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", "a", t0 + dt.timedelta(minutes=7 * i), float((i * 37) % 520) - 5.0)
        for i in range(200)
    ] + [("s", "a", t0, None)]
    df = spark.createDataFrame(
        rows, "source string, series_id string, event_ts timestamp, value double"
    )
    hourly = tiers.histogram_tier(df, "1h")
    merged = {
        (r["series_id"], r["bucket"]): r["cnt"]
        for r in tiers.histogram_merge(hourly, ["series_id"]).collect()
    }
    direct = {
        (r["series_id"], r["bucket"]): r["cnt"]
        for r in tiers.histogram_merge(
            tiers.histogram_tier(df, "1d"), ["series_id"]
        ).collect()
    }
    # direct histogram over raw (no windowing at all)
    from pyspark.sql import functions as F2

    flat = {
        (r["series_id"], r["bucket"]): r["cnt"]
        for r in df.where(F2.col("value").isNotNull())
        .groupBy(
            "series_id",
            F2.width_bucket("value", F2.lit(0.0), F2.lit(500.0), F2.lit(10)).alias(
                "bucket"
            ),
        )
        .agg(F2.count("*").alias("cnt"))
        .collect()
    }
    assert merged == direct == flat and sum(merged.values()) == 200


def test_histogram_quantile_bound_and_clamp(spark):
    """Served quantiles sit within one bucket width of the exact
    quantile; quantiles landing in the unbounded under/overflow
    buckets clamp to lo/hi."""
    import datetime as dt

    from tokens_ts import tiers

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", "a", t0 + dt.timedelta(minutes=i), float((i * 13) % 490) + 0.5)
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "source string, series_id string, event_ts timestamp, value double"
    )
    m = tiers.histogram_merge(tiers.histogram_tier(df, "1h"), ["series_id"])
    got = {r["qname"]: r["value"] for r in tiers.histogram_quantile(m).collect()}
    vals = sorted(float((i * 13) % 490) + 0.5 for i in range(500))
    for qname, num, den in (("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100)):
        exact = vals[max(1, -(-num * 500 // den)) - 1]
        assert abs(got[qname] - exact) <= 50.0, (qname, got[qname], exact)

    # clamp: all mass below lo → p50 = lo; all above hi → p50 = hi
    low = spark.createDataFrame(
        [("s", "lo", t0, -3.0), ("s", "lo", t0, -9.0)],
        "source string, series_id string, event_ts timestamp, value double",
    )
    hi = spark.createDataFrame(
        [("s", "hi", t0, 900.0), ("s", "hi", t0, 777.0)],
        "source string, series_id string, event_ts timestamp, value double",
    )
    for df2, want in ((low, 0.0), (hi, 500.0)):
        m2 = tiers.histogram_merge(tiers.histogram_tier(df2, "1h"), ["series_id"])
        g2 = {r["qname"]: r["value"] for r in tiers.histogram_quantile(m2).collect()}
        assert g2["p50"] == want and g2["p99"] == want


def test_histogram_quantile_hand_interpolation(spark):
    """Hand-worked interpolation: 10 values in bucket 1 (0-50) and 10
    in bucket 3 (100-150) → p50 rank ceil(0.5·20)=10 lands at the TOP
    of bucket 1: 0 + 50·(10-0)/10 = 50; p95 rank 19 → bucket 3,
    100 + 50·(19-10)/10 = 145."""
    import datetime as dt

    from tokens_ts import tiers

    t0 = dt.datetime(2024, 1, 1)
    rows = [("s", "a", t0 + dt.timedelta(minutes=i), 10.0) for i in range(10)]
    rows += [("s", "a", t0 + dt.timedelta(minutes=30 + i), 120.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "source string, series_id string, event_ts timestamp, value double"
    )
    m = tiers.histogram_merge(tiers.histogram_tier(df, "1h"), ["series_id"])
    got = {r["qname"]: r["value"] for r in tiers.histogram_quantile(m).collect()}
    assert got["p50"] == 50.0
    assert got["p95"] == 145.0


# ---------------------------------------------------------------------------
# coherence_audit: cross-tier cascade-invariant audit
# ---------------------------------------------------------------------------


def _mk_tier(spark, rows):
    """rows: (source, series_id, window_start_str, cnt, sum, min, max, sum_sq)"""
    df = spark.createDataFrame(
        rows,
        "source string, series_id string, window_start string, "
        "cnt long, sum double, min double, max double, sum_sq double",
    )
    return df.withColumn("window_start", F.to_timestamp("window_start"))


def test_coherence_audit_all_verdict_branches(spark):
    # finer tier: two 1m windows inside hour H1, one inside H2
    t1m = _mk_tier(
        spark,
        [
            ("s", "a", "2024-01-01 10:00:00", 2, 10.0, 4.0, 6.0, 52.0),
            ("s", "a", "2024-01-01 10:01:00", 1, 3.0, 3.0, 3.0, 9.0),
            ("s", "a", "2024-01-01 11:00:00", 1, 7.0, 7.0, 7.0, 49.0),
        ],
    )
    stored = _mk_tier(
        spark,
        [
            # H1 correct (cascade: cnt 3, sum 13, min 3, max 6, sq 61) -> ok
            ("s", "a", "2024-01-01 10:00:00", 3, 13.0, 3.0, 6.0, 61.0),
            # H2 corrupt cnt -> mismatch with cnt_diff +1
            ("s", "a", "2024-01-01 11:00:00", 2, 7.0, 7.0, 7.0, 49.0),
            # window the finer tier cannot produce -> orphan
            ("s", "a", "2024-01-01 12:00:00", 1, 1.0, 1.0, 1.0, 1.0),
        ],
    )
    out = {
        (r["window_start"].strftime("%H"), r["status"], r["cnt_diff"])
        for r in tiers.coherence_audit(stored, t1m, "1h").collect()
    }
    assert out == {
        ("10", "ok", 0),
        ("11", "mismatch", 1),
        ("12", "orphan", None),
    }
    # missing: drop H2 from stored entirely
    out2 = {
        (r["window_start"].strftime("%H"), r["status"])
        for r in tiers.coherence_audit(
            stored.where(F.hour("window_start") != 11), t1m, "1h"
        ).collect()
    }
    assert ("11", "missing") in out2


def test_coherence_audit_grain_tolerance(spark):
    t1m = _mk_tier(
        spark, [("s", "a", "2024-01-01 10:00:00", 1, 5.0, 5.0, 5.0, 25.0)]
    )
    # sum off by exactly one e4 grain unit (1e-4): within tol -> ok
    near = _mk_tier(
        spark, [("s", "a", "2024-01-01 10:00:00", 1, 5.0001, 5.0, 5.0, 25.0)]
    )
    # sum off by two grain units: beyond tol -> mismatch
    far = _mk_tier(
        spark, [("s", "a", "2024-01-01 10:00:00", 1, 5.0002, 5.0, 5.0, 25.0)]
    )
    assert (
        tiers.coherence_audit(near, t1m, "1h").collect()[0]["status"] == "ok"
    )
    assert (
        tiers.coherence_audit(far, t1m, "1h").collect()[0]["status"]
        == "mismatch"
    )
    # min/max compare exactly: a min shifted far below any sum grain
    # is still corruption (no arithmetic touches min through cascade)
    badmin = _mk_tier(
        spark, [("s", "a", "2024-01-01 10:00:00", 1, 5.0, 4.999999999, 5.0, 25.0)]
    )
    assert (
        tiers.coherence_audit(badmin, t1m, "1h").collect()[0]["status"]
        == "mismatch"
    )


def test_repair_tier_recomputes_only_flagged_windows(spark):
    t1m = _mk_tier(
        spark,
        [
            ("s", "a", "2024-01-01 10:00:00", 2, 10.0, 4.0, 6.0, 52.0),
            ("s", "a", "2024-01-01 11:00:00", 1, 7.0, 7.0, 7.0, 49.0),
            ("s", "a", "2024-01-01 12:00:00", 1, 2.0, 2.0, 2.0, 4.0),
        ],
    )
    stored = _mk_tier(
        spark,
        [
            # healthy but with a SUB-GRAIN sum difference (5e-5 < one
            # e4 grain unit): verdict ok -> must pass through UNTOUCHED
            ("s", "a", "2024-01-01 10:00:00", 2, 10.00005, 4.0, 6.0, 52.0),
            # corrupted cnt -> recomputed from the finer tier
            ("s", "a", "2024-01-01 11:00:00", 9, 7.0, 7.0, 7.0, 49.0),
            # orphan -> dropped
            ("s", "a", "2024-01-01 13:00:00", 1, 1.0, 1.0, 1.0, 1.0),
            # hour 12 missing -> materialized from the finer tier
        ],
    )
    rep = tiers.repair_tier(stored, t1m, "1h")
    rows = {r["window_start"].strftime("%H"): r for r in rep.collect()}
    assert set(rows) == {"10", "11", "12"}
    # pass-through keeps the stored double bit-for-bit
    assert rows["10"]["sum"] == 10.00005 and rows["10"]["cnt"] == 2
    # mismatch recomputed, missing materialized
    assert rows["11"]["cnt"] == 1 and rows["11"]["sum"] == 7.0
    assert rows["12"]["cnt"] == 1 and rows["12"]["sum"] == 2.0
    # idempotence: auditing the repaired tier finds nothing bad, and a
    # second repair is a no-op (same row set)
    aud2 = tiers.coherence_audit(rep, t1m, "1h")
    assert aud2.where(F.col("status") != "ok").count() == 0
    rep2 = tiers.repair_tier(rep, t1m, "1h")
    assert sorted(map(str, rep2.collect())) == sorted(map(str, rep.collect()))
