"""Gap-fill over per-source event-time grids (SURVEY.md §2.5 G1-G5).

geomatics assumes a complete time grid from its input files (reference:
geomatics/timeseries.py per-file loop, UNVERIFIED); our per-source
grids have deterministic holes, and the north rule (BASELINE.json:6)
mandates forward-fill and linear interpolation over them.

Semantics pinned to pandas (tests/oracle.py):
  ffill  ≡ Series.ffill()
  interp ≡ Series.interpolate('time', limit_area='inside')
           — interior-only, NO extrapolation at either edge, linear in
           event time (equals index-space interp on uniform grids).

All fills are window functions over (source, series_id) ordered by
event_ts — one shuffle to co-locate each series, then a single sorted
pass; no Python. At 10^12 scale each (source, series_id) partition is
one task's sort — series that outgrow a task should be range-bucketed
by time with one-slot overlap (the ffill carry value), which composes
from these same primitives.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def align(
    grid: DataFrame, raw: DataFrame, series: DataFrame | None = None
) -> DataFrame:
    """Left-join observed raw points onto the full per-source grid (G2).

    grid: (source, event_ts [, k]); raw: (source, series_id, event_ts,
    value). Every series gets every grid slot of its source — built as
    grid × series dim then a left join.

    `series` (source, series_id) can be injected from an existing dim
    (the lineage/metrics tables already materialize it); when omitted
    it is derived with a distinct. Join strategy is left to AQE either
    way: at sandbox scale the dim lands under the broadcast threshold
    and AQE broadcasts it at runtime; at 10^12 rows a forced
    F.broadcast of an unbounded distinct would be the bug, not the
    optimization."""
    if series is None:
        series = raw.select("source", "series_id").distinct()
    slots = grid.select("source", "event_ts").join(series, "source")
    return slots.join(raw, ["source", "series_id", "event_ts"], "left")


def _w_series():
    return Window.partitionBy("source", "series_id").orderBy("event_ts")


def _w_prev():
    return _w_series().rowsBetween(Window.unboundedPreceding, 0)


def _lead_nn(sql: str, w):
    """`lead(sql) IGNORE NULLS` over `w`: the next non-null value
    strictly after each row (PySpark's F.lead has no ignoreNulls)."""
    return F.expr(f"lead({sql}) IGNORE NULLS").over(w)


def _next_obs(value_col: str, w):
    """(value, epoch seconds) of the next observation after each row,
    read with lead over the SAME ascending order the look-behind uses —
    one sort serves both sides. (An unbounded-following frame would
    rescan per row, O(n²).)"""
    v = f"`{value_col}`"
    t = f"CASE WHEN {v} IS NOT NULL THEN CAST(event_ts AS DOUBLE) END"
    return _lead_nn(v, w), _lead_nn(t, w)


def with_ffill(
    aligned: DataFrame, value_col: str = "value", limit: int | None = None
) -> DataFrame:
    """Forward-fill: last non-null value at or before each slot (G3).

    limit: maximum number of consecutive slots a value may be carried
    forward (pandas `ffill(limit=)` / TimescaleDB locf max-gap). The
    carry distance is computed with the SAME cumulative O(n) frame as
    the fill itself (row_number minus the last observed row_number),
    so the bounded variant adds no extra pass; slots farther than
    `limit` rows from the last observation stay null."""
    filled = F.last(value_col, ignorenulls=True).over(_w_prev())
    if limit is None:
        return aligned.withColumn("ffill", filled)
    aligned = aligned.withColumn("_rn", F.row_number().over(_w_series()))
    obs_rn = F.last(
        F.when(F.col(value_col).isNotNull(), F.col("_rn")), ignorenulls=True
    ).over(_w_prev())
    return aligned.withColumn(
        "ffill",
        F.when((F.col("_rn") - obs_rn) <= limit, filled),
    ).drop("_rn")


def with_interp(aligned: DataFrame, value_col: str = "value") -> DataFrame:
    """Interior linear interpolation in event time (G4).

    v(t) = v_p + (v_n − v_p) · (t − t_p) / (t_n − t_p) between the
    nearest non-null neighbors; slots before the first / after the last
    observation stay null (no extrapolation).
    """
    v = F.col(value_col)
    ts = F.col("event_ts").cast("double")
    prev_v = F.last(v, ignorenulls=True).over(_w_prev())
    prev_t = F.last(F.when(v.isNotNull(), ts), ignorenulls=True).over(_w_prev())
    next_v, next_t = _next_obs(value_col, _w_series())
    interp = (
        F.when(v.isNotNull(), v)
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * (ts - prev_t) / (next_t - prev_t),
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return aligned.withColumn("interp", interp)


def gapfill(grid: DataFrame, raw: DataFrame) -> DataFrame:
    """align + ffill + interp in one pass (one sort: every fill window
    shares the ascending (source, series_id) event-time order)."""
    return with_interp(with_ffill(align(grid, raw)))


def gapfill_bucketed(grid: DataFrame, raw: DataFrame, bucket: str = "1d") -> DataFrame:
    """gapfill for series longer than one task's sort (G3/G4 at 100×).

    The plain window spec sorts a whole (source, series_id) in one
    task; a decade-long 1-second series is ~300M rows in one sort
    buffer. This variant range-buckets the series by time and keeps
    every window partitioned by (source, series_id, bucket):

      1. local pass: prev (cumulative last) and next (lead … IGNORE
         NULLS) non-null (value, ts) within each bucket — one bounded
         ascending sort;
      2. bucket spine: one row per (series, bucket) with its first/
         last non-null observation (an aggregate, not a sort);
      3. carry pass: windows over the SPINE (rows = #buckets, tiny)
         give each bucket the last observation before it and the
         first after it;
      4. final: coalesce(local, carried) feeds the exact ffill/interp
         formulas — bit-identical to the single-window gapfill
         (asserted by tests/test_gapfill.py).

    The carry join is spine-sized (one row per series-bucket) — tiny
    relative to the data, but its absolute size is unbounded, so the
    join strategy is left to the optimizer rather than forced to
    broadcast."""
    return bucketed_fill(align(grid, raw), bucket)


def bucketed_fill(aligned: DataFrame, bucket: str = "1d") -> DataFrame:
    """The bucketed ffill+interp core over an already-aligned frame
    (source, series_id, event_ts, value) — the bucketed analog of
    with_ffill/with_interp for callers that build their own grid
    (e.g. per-series bounds instead of per-source)."""
    from tokens_ts import config as C

    trunc = C.TIER_TRUNC[bucket]
    v = F.col("value")
    ts = F.col("event_ts").cast("double")
    aligned = aligned.withColumn("_bkt", F.date_trunc(trunc, "event_ts"))

    w = Window.partitionBy("source", "series_id", "_bkt").orderBy("event_ts")
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    lnv, lnt = _next_obs("value", w)
    loc = aligned.select(
        "*",
        F.last(v, ignorenulls=True).over(wp).alias("_lpv"),
        F.last(F.when(v.isNotNull(), ts), ignorenulls=True).over(wp).alias("_lpt"),
        lnv.alias("_lnv"),
        lnt.alias("_lnt"),
    )

    # spine: every bucket of every series (including all-null buckets —
    # they still need a carry), with its boundary observations
    spine = aligned.groupBy("source", "series_id", "_bkt").agg(
        F.max_by(v, F.when(v.isNotNull(), ts)).alias("_bl_v"),
        F.max(F.when(v.isNotNull(), ts)).alias("_bl_t"),
        F.min_by(v, F.when(v.isNotNull(), ts)).alias("_bf_v"),
        F.min(F.when(v.isNotNull(), ts)).alias("_bf_t"),
    )
    wb = Window.partitionBy("source", "series_id").orderBy("_bkt")
    wbp = wb.rowsBetween(Window.unboundedPreceding, -1)
    carries = spine.select(
        "source",
        "series_id",
        "_bkt",
        F.last("_bl_v", ignorenulls=True).over(wbp).alias("_cpv"),
        F.last("_bl_t", ignorenulls=True).over(wbp).alias("_cpt"),
        _lead_nn("_bf_v", wb).alias("_cnv"),
        _lead_nn("_bf_t", wb).alias("_cnt"),
    )

    # no broadcast hint: the spine is one row per (series, bucket) —
    # small relative to the data but UNBOUNDED in absolute terms
    # (1M series × 10y of 1d buckets ≈ 3.6B rows); the optimizer/AQE
    # picks broadcast when it actually fits
    out = loc.join(carries, ["source", "series_id", "_bkt"], "left")
    prev_v = F.coalesce("_lpv", "_cpv")
    prev_t = F.coalesce("_lpt", "_cpt")
    next_v = F.coalesce("_lnv", "_cnv")
    next_t = F.coalesce("_lnt", "_cnt")
    interp = (
        F.when(v.isNotNull(), v)
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * (ts - prev_t) / (next_t - prev_t),
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return out.select(
        "source",
        "series_id",
        "event_ts",
        "value",
        prev_v.alias("ffill"),
        interp.alias("interp"),
    )


def interval_join(
    left: DataFrame,
    intervals: DataFrame,
    keys: list[str],
    left_ts: str = "event_ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket: str = "1h",
) -> DataFrame:
    """Explicit range/interval join (SURVEY.md J4): match each left row
    to every interval [start, end) sharing `keys`.

    Scalable shape — never an inequality-only join (which Spark plans
    as BroadcastNestedLoop / cartesian at scale): each interval is
    exploded into the `bucket` grid cells it covers, both sides
    equi-join on (keys, cell) — ONE hash shuffle — and the exact
    half-open range predicate filters within matched cells. Per-
    interval fanout = ceil(length / bucket); pick `bucket` near the
    typical interval length. A cell pairs a row with an interval at
    most once, so no post-dedup is needed. Empty/negative intervals
    (end ≤ start) match nothing by construction."""
    from tokens_ts import config as C

    trunc = C.TIER_TRUNC[bucket]
    step = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}[bucket]
    iv = intervals.where(F.col(end_col) > F.col(start_col)).withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.date_trunc(trunc, F.col(start_col)),
                # end is exclusive: an interval ending exactly on a cell
                # boundary does not cover that cell
                F.date_trunc(
                    trunc, F.expr(f"{end_col} - interval 1 microsecond")
                ),
                F.expr(f"interval {step}"),
            )
        ),
    )
    lv = left.withColumn("_bkt", F.date_trunc(trunc, F.col(left_ts)))
    matched = lv.join(iv, keys + ["_bkt"]).where(
        (F.col(left_ts) >= F.col(start_col)) & (F.col(left_ts) < F.col(end_col))
    )
    return matched.drop("_bkt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "event_ts",
    right_ts: str = "event_ts",
    value_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join with pd.merge_asof's three directions.

    Native union+window form (SURVEY.md G5/J5): tag both sides, union,
    and carry the build side's values over a per-key sorted cumulative
    window — one shuffle, no Python, no row explosion. Ties (equal
    timestamps) match, like merge_asof's allow_exact_matches=True.

    direction='backward' (default): nearest build row at-or-before the
    probe. 'forward': nearest at-or-after (the same cumulative frame
    over DESCENDING time — O(n), not an O(n²) following frame).
    'nearest': both carries, pick the smaller |Δt|; ties → backward,
    exactly pandas' rule."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")
    value_cols = value_cols or [
        c for c in right.columns if c not in keys + [right_ts]
    ]
    l_tagged = (
        left.withColumn("_side", F.lit(1))
        .withColumn("_ts", F.col(left_ts))
        .withColumn("_tie", F.lit(0).cast("long"))
    )
    r_tagged = (
        right.select(
            *keys,
            F.col(right_ts).alias("_ts"),
            *[F.col(c).alias(f"_r_{c}") for c in value_cols],
        )
        .withColumn("_side", F.lit(0))
        # deterministic order among build rows sharing (keys, _ts): a
        # content hash of the carried values. Without it, F.last picks
        # whichever duplicate the shuffle happened to sort last — the
        # matched value would vary run to run. With it, the max-hash
        # duplicate wins in BOTH directions (same tie column, ascending
        # in both windows), so backward/forward/nearest stay mutually
        # consistent. (merge_asof itself keeps right-input order; with
        # duplicate right timestamps any stable rule is equally valid.)
        .withColumn(
            "_tie",
            F.xxhash64(*[F.col(f"_r_{c}").cast("string") for c in value_cols]),
        )
    )
    for c in l_tagged.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None))
    for c in r_tagged.columns:
        if c not in l_tagged.columns:
            l_tagged = l_tagged.withColumn(c, F.lit(None))
    u = l_tagged.unionByName(r_tagged.select(l_tagged.columns))
    # build rows (_side=0) sort before probe rows at equal _ts in BOTH
    # directions → exact matches are always visible to the probe row
    w_back = (
        Window.partitionBy(*keys)
        .orderBy("_ts", "_side", "_tie")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.desc("_ts"), "_side", "_tie")
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def _carry(w, suffix):
        cols = [
            F.last(F.when(F.col("_side") == 0, F.col(f"_r_{c}")), ignorenulls=True)
            .over(w)
            .alias(f"_{suffix}_{c}")
            for c in value_cols
        ]
        ts = (
            F.last(F.when(F.col("_side") == 0, F.col("_ts")), ignorenulls=True)
            .over(w)
            .alias(f"_{suffix}_ts")
        )
        return cols + [ts]

    if direction == "backward":
        out = u.select("*", *_carry(w_back, "b")).where(F.col("_side") == 1)
        pick_b = F.lit(True)
    elif direction == "forward":
        out = u.select("*", *_carry(w_fwd, "b")).where(F.col("_side") == 1)
        pick_b = F.lit(True)
    else:  # nearest
        out = u.select(
            "*", *_carry(w_back, "b"), *_carry(w_fwd, "f")
        ).where(F.col("_side") == 1)
        d_b = F.abs(F.col("_ts").cast("double") - F.col("_b_ts").cast("double"))
        d_f = F.abs(F.col("_f_ts").cast("double") - F.col("_ts").cast("double"))
        # backward wins ties and wherever forward has no match
        pick_b = F.col("_f_ts").isNull() | (
            F.col("_b_ts").isNotNull() & (d_b <= d_f)
        )
    for c in value_cols:
        chosen = (
            F.col(f"_b_{c}")
            if direction != "nearest"
            else F.when(pick_b, F.col(f"_b_{c}")).otherwise(F.col(f"_f_{c}"))
        )
        out = out.withColumn(f"asof_{c}", chosen)
    asof_ts = (
        F.col("_b_ts")
        if direction != "nearest"
        else F.when(pick_b, F.col("_b_ts")).otherwise(F.col("_f_ts"))
    )
    out = out.withColumn("_asof_ts", asof_ts)
    if tolerance_seconds is not None:
        within = (
            F.abs(F.col("_ts").cast("double") - F.col("_asof_ts").cast("double"))
            <= tolerance_seconds
        )
        for c in value_cols:
            out = out.withColumn(
                f"asof_{c}", F.when(within, F.col(f"asof_{c}"))
            )
    drop = (
        ["_side", "_ts", "_tie", "_asof_ts", "_b_ts", "_f_ts"]
        + [f"_r_{c}" for c in value_cols]
        + [f"_b_{c}" for c in value_cols]
        + [f"_f_{c}" for c in value_cols]
    )
    return out.drop(*[c for c in drop if c in out.columns])
