"""Gap-fill (align/ffill/interp) vs pandas oracle; as-of join vs merge_asof."""

import math

import numpy as np
import pandas as pd
import pytest

from tests import oracle
from tokens_ts import extract, gapfill, grid


@pytest.fixture(scope="module")
def raw(spark, seq_tiny):
    return extract.to_raw(extract.point(seq_tiny, 7)).cache()


@pytest.fixture(scope="module")
def raw_pd(seq_tiny_pd):
    rows = []
    for _, r in seq_tiny_pd.iterrows():
        rows.append(
            {
                "source": r["source"],
                "series_id": "point_p7",
                "event_ts": r["event_ts"],
                "value": oracle.sel_point(oracle.masked(r["tokens"]), 7),
            }
        )
    return pd.DataFrame(rows)


def _nan_eq(a, b):
    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    return b is not None and math.isclose(float(a), float(b), rel_tol=1e-12, abs_tol=1e-12)


def test_gapfill_matches_pandas(spark, raw, raw_pd):
    g = grid.full_grid(spark, k_total=400, n_sources=4)
    got = gapfill.gapfill(g, raw).orderBy("source", "series_id", "event_ts").collect()
    exp = oracle.gapfill(oracle.full_grid(400, 4), raw_pd)
    assert len(got) == len(exp)
    for gr, (_, er) in zip(got, exp.iterrows()):
        assert gr["source"] == er["source"]
        assert gr["event_ts"] == er["event_ts"].to_pydatetime().replace(tzinfo=None)
        for c in ("value", "ffill", "interp"):
            assert _nan_eq(gr[c], er[c]), (c, gr, er)


def test_interp_no_extrapolation(spark, raw):
    """Slots before first / after last observation stay null."""
    g = grid.full_grid(spark, k_total=400, n_sources=4)
    out = gapfill.gapfill(g, raw)
    import pyspark.sql.functions as F

    first_bad = out.where(
        F.col("interp").isNotNull() & F.col("ffill").isNull()
    ).count()
    assert first_bad == 0  # interp never fills where even ffill has no prior


def test_asof_join_matches_merge_asof(spark, raw, raw_pd):
    """Probe = every grid slot; build = observed points per (source,series)."""
    import pyspark.sql.functions as F

    g = grid.full_grid(spark, k_total=100, n_sources=2).withColumn(
        "series_id", F.lit("point_p7")
    )
    got = gapfill.asof_join(
        g,
        raw,
        keys=["source", "series_id"],
        left_ts="event_ts",
        right_ts="event_ts",
        value_cols=["value"],
    )
    got_rows = {
        (r["source"], r["event_ts"]): r["asof_value"]
        for r in got.collect()
    }
    gp = oracle.full_grid(100, 2)
    gp["series_id"] = "point_p7"
    exp = pd.merge_asof(
        gp.sort_values("event_ts"),
        raw_pd.dropna(subset=["value"]).sort_values("event_ts"),
        on="event_ts",
        by=["source", "series_id"],
        direction="backward",
    )
    for _, er in exp.iterrows():
        k = (er["source"], er["event_ts"].to_pydatetime().replace(tzinfo=None))
        assert _nan_eq(got_rows[k], er["value"]), (k, got_rows[k], er["value"])


def test_gapfill_bucketed_identical_to_single_window(spark, raw):
    """Range-bucketed gap-fill (1h buckets → many buckets per series)
    must be bit-identical to the single-window path, including carries
    across empty buckets and edge buckets with no interior data."""
    import pyspark.sql.functions as F

    g = grid.full_grid(spark, k_total=400, n_sources=4)
    ref = {
        (r["source"], r["series_id"], r["event_ts"]): (r["value"], r["ffill"], r["interp"])
        for r in gapfill.gapfill(g, raw).collect()
    }
    got = {
        (r["source"], r["series_id"], r["event_ts"]): (r["value"], r["ffill"], r["interp"])
        for r in gapfill.gapfill_bucketed(g, raw, bucket="1h").collect()
    }
    assert got.keys() == ref.keys()
    n_buckets = (
        gapfill.align(g, raw)
        .select("source", "series_id", F.date_trunc("hour", "event_ts"))
        .distinct()
        .count()
    )
    n_series = raw.select("source", "series_id").distinct().count()
    assert n_buckets > 3 * n_series, "fixture must span many buckets"
    for k in ref:
        for a, b in zip(got[k], ref[k]):
            assert _nan_eq(a, b), (k, got[k], ref[k])


def test_gapfill_bucketed_windows_are_bucket_partitioned(spark, raw):
    """No single task owns a whole series: every row-level Window in
    the bucketed plan is partitioned by (source, series_id, _bkt)."""
    g = grid.full_grid(spark, k_total=400, n_sources=4)
    plan = gapfill.gapfill_bucketed(g, raw, bucket="1d")._jdf.queryExecution().executedPlan().toString()
    specs = [seg.split(")")[0] for seg in plan.split("windowspecdefinition(")[1:]]
    assert specs, "plan must contain window specs"
    row_level = [s for s in specs if "event_ts" in s]  # ordered by event_ts → row-level pass
    assert row_level and all("_bkt" in s for s in row_level)


def _final_plan(df) -> str:
    """The executed AQE plan's final section (without the initial one)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


def test_interp_one_sort_one_window(spark, raw):
    """Look-ahead (lead … IGNORE NULLS) and look-behind (cumulative
    last) read the same ascending order: with_interp plans exactly one
    Sort and one Window, and the ffill+interp gapfill one Sort."""
    import re

    g = grid.full_grid(spark, k_total=400, n_sources=4)
    plan = _final_plan(gapfill.with_interp(gapfill.align(g, raw)))
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    plan = _final_plan(gapfill.gapfill(g, raw))
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan


def test_gapfill_bucketed_no_descending_window(spark, raw):
    """The bucketed local pass and the spine carry take their
    look-ahead from ascending order: no window spec orders DESC."""
    g = grid.full_grid(spark, k_total=400, n_sources=4)
    plan = gapfill.gapfill_bucketed(g, raw, bucket="1h")._jdf.queryExecution().executedPlan().toString()
    specs = [seg.split(")")[0] for seg in plan.split("windowspecdefinition(")[1:]]
    assert specs, "plan must contain window specs"
    assert not [s for s in specs if "DESC" in s], specs


def test_interp_hand_runs_and_quoted_value_col(spark):
    """Hand-worked look-ahead over 20-minute slots, observed values i²
    at slots 1, 5, 13 and 16 (so a wrong neighbour changes the answer):
    a leading null (no extrapolation), an interior run of 3, a run of
    7 that spans two all-null 1h buckets, an observed NaN (not null:
    an endpoint, so the slot after it is NaN too) and a trailing null.
    The value column name needs backtick quoting in the lead
    expression. bucketed_fill over 1h buckets (three slots each) gives
    the same interp, with the look-ahead both inside a bucket and
    through the spine carry."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    nan = float("nan")
    vals = [None] * 18
    for i in (1, 5, 13, 16):
        vals[i] = float(i * i)
    vals[14] = nan
    rows = [("s", "a", t0 + dt.timedelta(minutes=20 * i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "source string, series_id string, event_ts timestamp, `obs value` double"
    )
    want = (
        [None, 1.0, 7.0, 13.0, 19.0, 25.0]
        + [25.0 + 18.0 * k for k in range(1, 8)]
        + [169.0, nan, nan, 256.0, None]
    )
    got = {
        r["event_ts"]: r["interp"]
        for r in gapfill.with_interp(df, value_col="obs value").collect()
    }
    bkt = {
        r["event_ts"]: r["interp"]
        for r in gapfill.bucketed_fill(
            df.withColumnRenamed("obs value", "value"), bucket="1h"
        ).collect()
    }
    for i, w in enumerate(want):
        t = t0 + dt.timedelta(minutes=20 * i)
        assert _nan_eq(got[t], w), (i, got[t], w)
        assert _nan_eq(bkt[t], w), (i, bkt[t], w)


def test_interval_join_semantics(spark):
    """Half-open [start, end): boundary exclusivity, multi-interval
    overlap, empty interval, and unaligned boundaries vs the bucket."""
    import datetime as dt

    import pyspark.sql.functions as F
    from tokens_ts import gapfill

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    events = spark.createDataFrame(
        [("k", ts(m), float(m)) for m in (0, 29, 30, 75, 200)],
        "key string, event_ts timestamp, value double",
    )
    intervals = spark.createDataFrame(
        [
            ("k", "a", ts(-30), ts(30)),   # covers 0, 29; NOT 30 (exclusive)
            ("k", "b", ts(29), ts(76)),    # covers 29, 30, 75 (overlaps a)
            ("k", "c", ts(100), ts(100)),  # empty → matches nothing
            ("x", "d", ts(-30), ts(300)),  # wrong key → matches nothing
        ],
        "key string, iv string, start timestamp, end timestamp",
    )
    out = gapfill.interval_join(
        events, intervals, keys=["key"], left_ts="event_ts", bucket="1h"
    )
    got = sorted((r["iv"], int(r["value"])) for r in out.collect())
    assert got == [("a", 0), ("a", 29), ("b", 29), ("b", 30), ("b", 75)]


def test_interval_join_plan_is_equi_shuffle(spark):
    """The range join must plan as a hash equi-join on (keys, bucket),
    never a nested-loop/cartesian over the inequality."""
    import datetime as dt

    from tokens_ts import gapfill

    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [("k", t0, 1.0)], "key string, event_ts timestamp, value double"
    )
    intervals = spark.createDataFrame(
        [("k", t0, t0 + dt.timedelta(hours=2))],
        "key string, start timestamp, end timestamp",
    )
    plan = (
        gapfill.interval_join(events, intervals, keys=["key"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ffill_limit_bounds_carry(spark):
    """limit=3: a value carries at most 3 slots; staler slots stay
    null — matches pandas Series.ffill(limit=3) exactly."""
    import datetime as dt

    import pandas as pd

    from tokens_ts import gapfill

    t0 = dt.datetime(2024, 1, 1)
    vals = [5.0, None, None, None, None, None, 7.0, None, None, None, None]
    rows = [
        ("s", "a", t0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "source string, series_id string, event_ts timestamp, value double"
    )
    out = {
        r["event_ts"]: r["ffill"]
        for r in gapfill.with_ffill(df, limit=3).collect()
    }
    got = [out[t0 + dt.timedelta(minutes=i)] for i in range(len(vals))]
    want = list(pd.Series(vals).ffill(limit=3))
    for g, w in zip(got, want):
        assert (g is None and w != w) or g == w, (got, want)
    # and the unbounded variant still fills everything after the first
    ub = {r["event_ts"]: r["ffill"] for r in gapfill.with_ffill(df).collect()}
    assert ub[t0 + dt.timedelta(minutes=5)] == 5.0


def test_downsample_minmax_ties_and_nulls(spark):
    """Extreme points carry their true timestamps; value ties break to
    the EARLIEST ts; null values contribute no plot point."""
    import datetime as dt

    from tokens_ts import tiers

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", "a", t0 + dt.timedelta(minutes=1), 3.0),
        ("s", "a", t0 + dt.timedelta(minutes=2), 9.0),   # max, earliest
        ("s", "a", t0 + dt.timedelta(minutes=3), 9.0),   # max tie, later
        ("s", "a", t0 + dt.timedelta(minutes=4), 1.0),   # min, earliest
        ("s", "a", t0 + dt.timedelta(minutes=5), 1.0),   # min tie, later
        ("s", "a", t0 + dt.timedelta(minutes=6), None),  # no plot point
    ]
    df = spark.createDataFrame(
        rows, "source string, series_id string, event_ts timestamp, value double"
    )
    r = tiers.downsample_minmax(df, "1h").collect()
    assert len(r) == 1
    row = r[0]
    assert row["cnt"] == 5
    assert row["min_v"] == 1.0 and row["max_v"] == 9.0
    assert row["min_ts"] == t0 + dt.timedelta(minutes=4)
    assert row["max_ts"] == t0 + dt.timedelta(minutes=2)


def test_asof_join_directions_match_pandas(spark):
    """forward and nearest must reproduce pd.merge_asof exactly,
    including tie→backward for 'nearest' and exact-match visibility."""
    import datetime as dt

    import pandas as pd

    from tokens_ts import gapfill

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left = [("k", ts(5)), ("k", ts(10)), ("k", ts(22)), ("k", ts(100))]
    right = [("k", ts(0), 1.0), ("k", ts(10), 2.0), ("k", ts(30), 3.0)]
    ldf = spark.createDataFrame(left, "key string, event_ts timestamp")
    rdf = spark.createDataFrame(right, "key string, event_ts timestamp, v double")
    lp = pd.DataFrame(left, columns=["key", "event_ts"])
    rp = pd.DataFrame(right, columns=["key", "event_ts", "v"])

    for direction in ("backward", "forward", "nearest"):
        got = {
            r["event_ts"]: r["asof_v"]
            for r in gapfill.asof_join(
                ldf, rdf, ["key"], direction=direction
            ).collect()
        }
        want_df = pd.merge_asof(
            lp.sort_values("event_ts"),
            rp.sort_values("event_ts"),
            on="event_ts",
            by="key",
            direction=direction,
        )
        want = {
            r.event_ts.to_pydatetime(): (None if pd.isna(r.v) else r.v)
            for r in want_df.itertuples()
        }
        assert got == want, direction
    # tolerance applies on |dt| in every direction
    fwd_tol = {
        r["event_ts"]: r["asof_v"]
        for r in gapfill.asof_join(
            ldf, rdf, ["key"], direction="forward", tolerance_seconds=5
        ).collect()
    }
    assert fwd_tol[ts(5)] == 2.0     # 5 s ahead: within
    assert fwd_tol[ts(22)] is None   # 8 s ahead: beyond tolerance
    assert fwd_tol[ts(100)] is None  # no later build row


def test_asof_join_duplicate_right_ts_deterministic(spark):
    """Build rows sharing (key, ts) must resolve to the SAME match on
    every run/direction — the window ordering carries a content-hash
    tie-break, so the pick is a pure function of the data."""
    import pyspark.sql.functions as F

    left = spark.createDataFrame(
        [("k", 10), ("k", 25)], "key string, t int"
    ).select("key", F.timestamp_seconds("t").alias("event_ts"))
    right = spark.createDataFrame(
        [("k", 10, 1.0), ("k", 10, 2.0), ("k", 20, 5.0), ("k", 20, 6.0)],
        "key string, t int, v double",
    ).select("key", F.timestamp_seconds("t").alias("event_ts"), "v")
    runs = set()
    for _ in range(3):
        for direction in ("backward", "forward", "nearest"):
            got = tuple(
                (r["t"], r["asof_v"])
                for r in gapfill.asof_join(
                    left.withColumn("t", F.col("event_ts").cast("long")),
                    right,
                    ["key"],
                    direction=direction,
                )
                .orderBy("t")
                .collect()
            )
            runs.add((direction, got))
    # one distinct outcome per direction across repeated runs
    assert len(runs) == 3, runs
    by_dir = dict((d, g) for d, g in runs)
    # exact-ts duplicate at t=10: both directions must agree on the pick
    assert by_dir["backward"][0] == by_dir["forward"][0]
