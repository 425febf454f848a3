"""Cascading continuous aggregates: raw → 1m → 1h → 1d retention tiers.

The geomatics analog is its per-time-step statistics list (reference:
geomatics/timeseries.py `_array_to_stat_list`-style helper, UNVERIFIED —
SURVEY.md §2.3); the north rule (BASELINE.json:14) lifts those stats
into tumbling-window rollups with *algebraic partial state* so coarser
tiers merge exactly from finer ones without touching raw data:

    state  = (cnt, sum, min, max, sum_sq)
    merge  = (Σcnt, Σsum, min(min), max(max), Σsum_sq)      -- exact
    finish = mean = sum/cnt ; std = sqrt(sum_sq/cnt − mean²)  (ddof=0)

Median/percentiles are NOT mergeable (SURVEY.md §7.3#1) — they are
computed per tier straight from raw with Spark 4's exact F.median /
F.percentile.

Window start is `date_trunc(unit, ts)` — left-closed, left-labeled,
UTC — identical semantics to pandas resample and DuckDB date_trunc,
which is what makes the three-way oracle comparison exact.

Scale notes (SURVEY.md §4): groupBy here is a hash aggregate with
map-side partial combine; the explicit salted two-phase variant
(`rollup_salted`) exists for Zipf-skewed sources where a single
(source, window) key would overload one reducer at 10^12 rows.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tokens_ts import config as C

KEYS = ["source", "series_id"]
STATE_COLS = ["cnt", "sum", "min", "max", "sum_sq"]

# A stored tier table as a read sees it: data columns, then the
# (source, day) partition columns. Declared reads use it to skip
# parquet schema inference.
TIER_SCHEMA = StructType(
    [
        StructField("series_id", StringType()),
        StructField("window_start", TimestampType()),
        StructField("cnt", LongType()),
        StructField("sum", DoubleType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
        StructField("sum_sq", DoubleType()),
        StructField("source", StringType()),
        StructField("day", DateType()),
    ]
)


def _trunc(tier: str):
    return C.TIER_TRUNC[tier]


def _phase1_aggs():
    """The algebraic partial state from raw values — THE single source
    of truth for the state shape. rollup and both salted variants use
    this list; cascade/_merge_aggs must mirror it field-for-field."""
    return [
        F.count("value").alias("cnt"),
        F.sum("value").alias("sum"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.sum(F.col("value") * F.col("value")).alias("sum_sq"),
    ]


def _merge_aggs():
    """Exact merge of partial states (the cascade/salt-phase-2 agg)."""
    return [
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.sum("sum_sq").alias("sum_sq"),
    ]


def _row_salt(nsalt: int):
    """Deterministic per-row salt in [0, nsalt): a hash of the row."""
    return F.pmod(
        F.xxhash64(F.col("event_ts"), F.coalesce(F.col("value"), F.lit(0.0))),
        F.lit(nsalt),
    )


def _two_phase(raw: DataFrame, tier: str, salt) -> DataFrame:
    """Phase 1 groups by (keys, window, salt); phase 2 merges the
    per-salt partial states to the tier's (keys, window)."""
    w = F.date_trunc(_trunc(tier), F.col("event_ts")).alias("window_start")
    phase1 = raw.groupBy(*KEYS, w, salt.alias("_salt")).agg(*_phase1_aggs())
    return phase1.groupBy(*KEYS, "window_start").agg(*_merge_aggs())


def rollup(raw: DataFrame, tier: str = "1m") -> DataFrame:
    """raw (source, series_id, event_ts, value) → tier partial state."""
    w = F.date_trunc(_trunc(tier), F.col("event_ts")).alias("window_start")
    return raw.groupBy(*KEYS, w).agg(*_phase1_aggs())


def rollup_interval(raw: DataFrame, every: str = "5 minutes") -> DataFrame:
    """Arbitrary-interval tumbling rollup — the continuous-aggregate
    surface beyond the three fixed tiers (TimescaleDB's
    time_bucket(INTERVAL, ts) analog). F.window gives the same
    epoch-aligned left-closed buckets as date_trunc for whole-unit
    widths, so rollup_interval(raw, '1 minute') ≡ rollup(raw, '1m')
    (pytest-pinned); any width divides out of the same one-shuffle
    hash-aggregate plan. Emits the SAME algebraic partial state, so
    cascade/finish/salting compose unchanged."""
    return (
        raw.groupBy(*KEYS, F.window("event_ts", every).alias("w"))
        .agg(*_phase1_aggs())
        .select(
            *KEYS, F.col("w.start").alias("window_start"),
            *[F.col(c) for c in STATE_COLS],
        )
    )


def cascade(tier_df: DataFrame, tier: str) -> DataFrame:
    """Merge a finer tier's partial states into a coarser tier (A3).

    Exact for all algebraic stats — the cascade-associativity property
    roll(1h, raw) == cascade(roll(1m, raw), '1h') is pinned by tests.
    """
    w = F.date_trunc(_trunc(tier), F.col("window_start")).alias("window_start")
    return tier_df.groupBy(*KEYS, w).agg(*_merge_aggs())


def finish(tier_df: DataFrame) -> DataFrame:
    """Attach derived finishers mean / std (population, ddof=0).

    cnt=0 windows (all values null) finish to null — note
    F.greatest(null, 0.0) would silently yield 0.0, hence the guard.
    """
    mean = F.col("sum") / F.col("cnt")
    var = F.when(
        F.col("cnt") > 0,
        F.greatest(F.col("sum_sq") / F.col("cnt") - mean * mean, F.lit(0.0)),
    )
    return tier_df.withColumn("mean", mean).withColumn("std", F.sqrt(var))


def exact_quantiles(
    raw: DataFrame, tier: str, percentiles: Sequence[float] = (0.5,)
) -> DataFrame:
    """Per-tier exact median/percentiles straight from raw (A4).

    Spark 4's F.median / F.percentile use linear interpolation — the
    same method as np.nanpercentile(method='linear') and DuckDB
    quantile_cont. `percentile_approx` is reserved for the explicitly
    approximate web-scale path (not used on the correctness path).
    """
    w = F.date_trunc(_trunc(tier), F.col("event_ts")).alias("window_start")
    aggs = [F.median("value").alias("median")]
    for p in percentiles:
        if p == 0.5:
            continue
        aggs.append(F.percentile("value", p).alias(f"p{int(round(p * 100)):02d}"))
    return raw.groupBy(*KEYS, w).agg(*aggs)


def approx_quantiles(
    raw: DataFrame,
    tier: str,
    percentiles: Sequence[float] = (0.5, 0.95),
    accuracy: int = 10000,
) -> DataFrame:
    """FLAGGED-APPROXIMATE per-tier percentiles — the web-scale path
    (SURVEY.md §2.3 A4 reserves percentile_approx for exactly this).

    Greenwald-Khanna sketch with declared bound: the returned value is
    an ACTUAL data point whose rank differs from p·n by at most
    n/accuracy. Unlike exact_quantiles (which must see every raw value
    per window on one reducer), the sketch state is mergeable — the
    shuffle carries fixed-size sketches with map-side partial
    aggregation, so at 10^12 rows this is the only percentile whose
    cost scales like the algebraic rollups. Column names mirror
    exact_quantiles so the two paths are drop-in swappable.
    """
    w = F.date_trunc(_trunc(tier), F.col("event_ts")).alias("window_start")
    aggs = []
    for p in percentiles:
        name = "median" if p == 0.5 else f"p{int(round(p * 100)):02d}"
        aggs.append(
            F.percentile_approx("value", p, accuracy).alias(name)
        )
    return raw.groupBy(*KEYS, w).agg(*aggs)


def rollup_salted(raw: DataFrame, tier: str = "1m", nsalt: int = C.DEFAULT_NSALT) -> DataFrame:
    """Explicit salted two-phase rollup for skewed sources (A8).

    Phase 1 groups by (keys, window, salt) — the hot key's rows spread
    over `nsalt` reducers; phase 2 merges the (tiny) per-salt partial
    states. Result is bit-identical to `rollup` because the state is
    algebraic. Salt is a deterministic hash of the row so reruns are
    reproducible (no rand()).
    """
    return _two_phase(raw, tier, _row_salt(nsalt))


def detect_hot_keys(raw: DataFrame, top_k: int = 2) -> DataFrame:
    """The top-k heaviest (source, series_id) keys by row count — the
    skew-detection input for partial salting (W1 feeding A8). Scale-
    free (a rank, not an absolute threshold); one map-side-combined
    count aggregation, then orderBy+limit, which Spark plans as a
    distributed TakeOrderedAndProject (per-partition top-k merged on
    the driver) — a global row_number window here would funnel every
    distinct key through ONE task, the very skew shape this module
    exists to avoid."""
    return (
        raw.groupBy(*KEYS)
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), *[F.asc(k) for k in KEYS])
        .limit(top_k)
        .select(*KEYS)
    )


def rollup_salted_hot(
    raw: DataFrame,
    tier: str = "1m",
    nsalt: int = C.DEFAULT_NSALT,
    hot_keys: DataFrame | None = None,
    top_k: int = 2,
) -> DataFrame:
    """Partial salting: only detected HOT keys get spread over `nsalt`
    reducers; cold keys keep salt 0 and skip the extra merge fan-in.

    Salting every key (rollup_salted) multiplies the phase-2 input by
    nsalt for the 99% of keys that never needed it; at 10^12 rows the
    production pattern is to salt exactly the keys skew detection
    flags. The hot set is tiny (top-k keys) → broadcast left-semi-style
    tagging join, and the result stays bit-identical to the plain
    rollup because the partial state is algebraic."""
    hot = hot_keys if hot_keys is not None else detect_hot_keys(raw, top_k)
    tagged = raw.join(
        F.broadcast(hot.select(*KEYS).withColumn("_hot", F.lit(True))),
        KEYS,
        "left",
    )
    salt = F.when(F.col("_hot").isNotNull(), _row_salt(nsalt)).otherwise(F.lit(0))
    return _two_phase(tagged, tier, salt)


def downsample_minmax(raw: DataFrame, tier: str = "1h") -> DataFrame:
    """Min-max downsampling (plot decimation): per (key, window) keep
    the extreme points WITH their timestamps — the standard reduction
    that preserves spikes a mean-based tier would flatten. One
    map-side-combined aggregation; ties on value break to the earliest
    timestamp via struct comparators, so the result is deterministic
    and cross-engine checkable. Null values carry no plot point and are
    filtered first."""
    pts = raw.where(F.col("value").isNotNull())
    w = F.date_trunc(_trunc(tier), F.col("event_ts")).alias("window_start")
    # unix_micros needs TIMESTAMP; the driver's parquet carries NTZ —
    # cast under the pinned-UTC session so both types order identically
    ts_us = F.unix_micros(F.col("event_ts").cast("timestamp"))
    return pts.groupBy(*KEYS, w).agg(
        F.count("value").alias("cnt"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.min_by(
            "event_ts", F.struct(F.col("value"), ts_us.alias("ts_us"))
        ).alias("min_ts"),
        F.max_by(
            "event_ts", F.struct(F.col("value"), (-ts_us).alias("neg_ts"))
        ).alias("max_ts"),
    )


def downsample_ohlc(raw: DataFrame, tier: str = "1h") -> DataFrame:
    """OHLC downsampling: per (key, window) the first (open) and last
    (close) values by event time plus the extremes — the financial-
    style bar rollup, same one-pass ordered-aggregate shape as
    downsample_minmax. Identical timestamps within a series tie-break
    to the smaller value (struct comparator) so the result stays
    deterministic even on data with duplicate stamps; nulls carry no
    point."""
    pts = raw.where(F.col("value").isNotNull())
    w = F.date_trunc(_trunc(tier), F.col("event_ts")).alias("window_start")
    ts_us = F.unix_micros(F.col("event_ts").cast("timestamp"))
    return pts.groupBy(*KEYS, w).agg(
        F.count("value").alias("cnt"),
        F.min_by(
            "value", F.struct(ts_us.alias("t"), F.col("value").alias("v"))
        ).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by(
            "value", F.struct(ts_us.alias("t"), (-F.col("value")).alias("nv"))
        ).alias("close"),
    )


def histogram_tier(
    raw: DataFrame,
    tier: str = "1h",
    lo: float = 0.0,
    hi: float = 500.0,
    nbins: int = 10,
) -> DataFrame:
    """Mergeable fixed-bin histogram tier: one (keys, window, bucket,
    cnt) row per non-empty bucket — the stored state that lets
    quantile queries be SERVED from a tier instead of rescanning raw
    (the gap A4 leaves: exact percentiles are not mergeable, the GK
    sketch is opaque; a fixed-boundary histogram is both mergeable —
    merge is integer cnt addition — and inspectable).

    Bucket ids follow width_bucket semantics: 0 = underflow (< lo),
    nbins+1 = overflow (>= hi), else 1 + floor((v-lo)/(hi-lo)*nbins).
    Empty buckets are canonically ABSENT (0 is the merge identity),
    so tier size is bounded by occupied buckets, never nbins.

    Scale shape: the single corpus-sized operation is this one
    map-side-combined count agg; at 10^12 rows the tier itself is
    (#keys × #windows × ≤nbins+2) rows — control-plane sized — and
    every downstream quantile read touches only the tier."""
    pts = raw.where(F.col("value").isNotNull())
    w = F.date_trunc(_trunc(tier), F.col("event_ts")).alias("window_start")
    b = F.width_bucket(
        "value", F.lit(float(lo)), F.lit(float(hi)), F.lit(nbins)
    ).alias("bucket")
    return pts.groupBy(*KEYS, w, b).agg(F.count("*").alias("cnt"))


def histogram_merge(tier_df: DataFrame, keys: Sequence[str] = ("series_id",)) -> DataFrame:
    """Merge histogram tier rows up to coarser keys — exact integer
    addition per bucket, the continuous-aggregate contract (merging
    hourly histograms ≡ histogramming raw directly; pinned in pytest)."""
    return tier_df.groupBy(*keys, "bucket").agg(F.sum("cnt").alias("cnt"))


def histogram_quantile(
    merged: DataFrame,
    quantiles: Sequence[tuple[str, int, int]] = (
        ("p50", 1, 2),
        ("p95", 19, 20),
        ("p99", 99, 100),
    ),
    lo: float = 0.0,
    hi: float = 500.0,
    nbins: int = 10,
    keys: Sequence[str] = ("series_id",),
) -> DataFrame:
    """Quantiles served from a merged histogram (the Prometheus
    histogram_quantile shape, made cross-engine exact).

    Rank is the INTEGER ceil(q·N) with q a rational q_num/q_den, so
    rank selection never touches a float; the located bucket is the
    first whose cumulative count reaches rank (cum ≥ rank > cum−cnt,
    exactly one row per key×quantile by construction). The returned
    value interpolates linearly inside that bucket —
    lo + (b−1)·w + w·(rank−below)/cnt_b — one shared IEEE tree whose
    only rounding is the final division of exact integers, identical
    in any engine. Underflow/overflow buckets have no finite edge to
    interpolate against: they clamp to lo / hi (the Prometheus rule).
    Max error vs the exact quantile is one bucket width — the
    declared bound, asserted in pytest.

    Scale: every window here partitions by `keys` over ≤ nbins+2 rows
    — bounded frames regardless of corpus size; the quantile dim is a
    broadcast literal."""
    spark = merged.sparkSession
    kcols = list(keys)
    width = (float(hi) - float(lo)) / nbins
    qdim = F.broadcast(
        spark.createDataFrame(
            [(name, num, den) for name, num, den in quantiles],
            "qname string, q_num bigint, q_den bigint",
        )
    )
    win = Window.partitionBy(*kcols).orderBy("bucket")
    full = Window.partitionBy(*kcols)
    cum = merged.select(
        *kcols,
        "bucket",
        "cnt",
        F.sum("cnt").over(win).alias("cum"),
        F.sum("cnt").over(full).alias("total"),
    )
    j = cum.join(qdim)
    # integer ceil-division: float-divide-then-truncate would lose
    # exactness once q_num·total exceeds 2^53 — real at 10^12 rows
    rank = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("(q_num * total + q_den - 1) div q_den"),
    )
    j = j.withColumn("rank", rank).where(
        (F.col("cum") >= F.col("rank")) & (F.col("cum") - F.col("cnt") < F.col("rank"))
    )
    below = F.col("cum") - F.col("cnt")
    interp = (
        F.lit(float(lo))
        + (F.col("bucket") - F.lit(1)) * F.lit(width)
        + F.lit(width) * (F.col("rank") - below) / F.col("cnt")
    )
    val = (
        F.when(F.col("bucket") == 0, F.lit(float(lo)))
        .when(F.col("bucket") == nbins + 1, F.lit(float(hi)))
        .otherwise(interp)
    )
    return j.select(*kcols, "qname", F.col("total").alias("cnt"), val.alias("value"))


def retention_filter(
    tier_df: DataFrame, now_expr, keep: str | None
) -> DataFrame:
    """Retention enforcement: keep only windows newer than now − keep.

    The dual of downsampling — raw ages out fastest, 1d lives forever.
    On parquet/Iceberg this filter is a partition-pruned delete (the
    (source, day) layout maps retention to whole-partition drops, no
    row rewrite). keep=None → keep everything.
    """
    if keep is None:
        return tier_df
    cutoff = F.to_timestamp(F.lit(now_expr)) - F.expr(f"interval {keep}")
    return tier_df.where(F.col("window_start") >= cutoff)


def build_all_tiers(raw: DataFrame) -> dict[str, DataFrame]:
    """raw → {'1m': ..., '1h': ..., '1d': ...} partial-state frames.

    The three are lazy frames over one plan: 1h is `cascade` over the
    1m frame and 1d over the 1h frame, so the values are the cascade's,
    but each frame evaluated (or written) on its own re-runs the raw →
    1m aggregation. It is the pure-frame API (query pairs, tests); the
    write path that cascades from the *written* finer tier — raw
    aggregated once, each step reading ~60× less data than the tier
    below it — is pipeline._write_tiers.
    """
    t1m = rollup(raw, "1m")
    t1h = cascade(t1m, "1h")
    t1d = cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def enforce_retention(
    spark,
    cat,
    policies: dict[str, str | None],
    now: str,
    run_id: str | None = None,
) -> dict:
    """Write-side retention enforcement: age out whole (source, day)
    partitions per tier keep-policy, with a lineage record per table.

    `policies` maps table name → keep interval, e.g.
        {"raw": "7 days", "t1m": "90 days", "t1h": "2 years", "t1d": None}
    (None / absent = keep forever — the classic shape: raw ages out
    fastest, the 1d tier lives forever). `now` is an EXPLICIT timestamp
    string — the enforcement time is an input, not a hidden clock, so
    runs are deterministic and testable.

    Granularity is the partition: a (source, day) directory is dropped
    only when the ENTIRE day is past the cutoff (day < date(cutoff)).
    A mid-day cutoff therefore leaves its boundary day in place — the
    enforced table is always a SUPERSET of the read-side
    retention_filter view, never dropping a window that filter would
    still serve. No row rewrite happens anywhere: parquet deletes
    partition directories via the Hadoop FS API, Iceberg issues one
    partition-aligned DELETE (Catalog.drop_partitions).

    Each enforced table appends one manifest row
    (partition_id='retention:<table>', rows_in=#partitions dropped,
    max_event_us=cutoff µs) — the audit trail for "why is this data
    gone", queryable with the same lineage_report as ingest rows. The
    ':'-prefixed id keeps these rows out of the resume anti-join and
    the auto-salting baseline (both consider only plain-source ids).

    Returns {table: [(source, day), ...]} of dropped partitions.
    """
    from tokens_ts import checkpoint

    dropped: dict[str, list] = {}
    run_id = run_id or checkpoint.new_run_id()
    attempts = {
        r["partition_id"]: r["attempt"]
        for r in checkpoint.read_manifest(spark, cat)
        .where(F.col("partition_id").startswith("retention:"))
        .groupBy("partition_id")
        .agg(F.max("attempt").alias("attempt"))
        .collect()
    }
    for table, keep in policies.items():
        if keep is None or not cat.exists(spark, table):
            continue
        cutoff = F.to_timestamp(F.lit(now)) - F.expr(f"interval {keep}")
        # partition-column-only scan: distinct (source, day) older than
        # the cutoff's date — file listing + partition pruning, no data
        # columns read
        old = (
            cat.read(spark, table)
            .select("source", "day")
            .where(F.col("day") < F.to_date(cutoff))
            .distinct()
            .orderBy("source", "day")
            .collect()
        )
        keys = [{"source": r["source"], "day": r["day"]} for r in old]
        n = cat.drop_partitions(spark, table, keys)
        dropped[table] = [(k["source"], str(k["day"])) for k in keys]
        cutoff_us = spark.sql(
            f"SELECT unix_micros(to_timestamp('{now}') - interval {keep}) AS c"
        ).collect()[0]["c"]
        checkpoint.record_done(
            spark,
            cat,
            [
                {
                    "partition_id": f"retention:{table}",
                    "rows_in": n,
                    "max_event_us": cutoff_us,
                }
            ],
            run_id,
            attempts,
        )
    return dropped


_TIER_WIDTH_S = {t: C.TRUNC_S[u] for t, u in C.TIER_TRUNC.items()}
_UTC_ZONES = frozenset({"UTC", "Etc/UTC", "GMT", "Etc/GMT"})


def route_tier(resolution_s: int) -> str:
    """Pick the COARSEST stored tier whose width divides the requested
    resolution — the continuous-aggregate router rule: a 15-minute
    request reads t1m (60 | 900), a 6-hour request reads t1h, a 2-day
    request reads t1d. Coarser tier = fewer rows scanned; divisibility
    guarantees exactness (whole windows nest, partial state merges)."""
    best = None
    for tier, w in _TIER_WIDTH_S.items():
        if resolution_s % w == 0 and (best is None or w > _TIER_WIDTH_S[best]):
            best = tier
    if best is None:
        raise ValueError(
            f"resolution {resolution_s}s is not a multiple of any stored "
            f"tier width {sorted(_TIER_WIDTH_S.values())} — serve it from "
            "raw with rollup_interval instead"
        )
    return best


def query_windows(
    spark,
    cat,
    start,
    end,
    resolution_s: int = 3600,
) -> DataFrame:
    """Serve a windowed-stats query from the CHEAPEST tier (the reason
    the tier store exists): route_tier picks the coarsest exact tier,
    the scan (declared TIER_SCHEMA, no inference job) filters
    window_start ∈ [start, end) — with `day` in the predicate so
    (source, day) partition pruning kicks in — and the stored partial
    states cascade-merge to the requested resolution, finished to
    mean/std. Result is EXACTLY what rollup_interval over raw would
    produce (algebraic state; pinned by pytest), at a scan cost of
    resolution/tier-width fewer rows than raw.

    At the tier's own width under a UTC session every stored row is
    already one output window (date_trunc and the epoch-aligned
    F.window agree in UTC), so the rows are finished as stored: no
    merge and no shuffle. Any other session time zone keeps the merge,
    since its date_trunc windows are local and need not line up with
    F.window."""
    tier = route_tier(resolution_s)
    t = cat.read(spark, TIER_NAME_BY_WIDTH[tier], TIER_SCHEMA)
    lo, hi = F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp")
    scan = t.where(
        (F.col("window_start") >= lo)
        & (F.col("window_start") < hi)
        # partition-pruning twin of the window predicate: day spans at
        # most one day beyond the window bounds on either side
        & (F.col("day") >= F.to_date(lo))
        & (F.col("day") <= F.to_date(hi))
    )
    if (
        resolution_s == _TIER_WIDTH_S[tier]
        and spark.conf.get("spark.sql.session.timeZone") in _UTC_ZONES
    ):
        return finish(scan.select(*KEYS, "window_start", *STATE_COLS))
    merged = (
        scan.groupBy(
            *KEYS,
            F.window("window_start", f"{resolution_s} seconds").alias("w"),
        )
        .agg(*_merge_aggs())
        .select(
            *KEYS,
            F.col("w.start").alias("window_start"),
            *[F.col(c) for c in STATE_COLS],
        )
    )
    return finish(merged)


TIER_NAME_BY_WIDTH = {"1m": "t1m", "1h": "t1h", "1d": "t1d"}


def downsample_lttb(
    raw: DataFrame,
    n_out: int = 64,
    keys: Sequence[str] | None = None,
    ts_col: str = "event_ts",
    value_col: str = "value",
    anchor: str = "centroid",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets plot decimation: per key, keep
    the first and last points plus — from each of n_out−2 equal
    row-count buckets — the point forming the largest triangle.

    anchor='centroid' (default): both triangle anchors are the
    NEIGHBORING BUCKETS' CENTROIDS, making every bucket's pick
    independent and the result expressible in plain SQL — this is the
    variant the cross-engine oracle pins. anchor='selected' is
    Steinarsson's sequential rule (left anchor = the previously
    selected point); picks differ only on near-ties. Both keep
    extremes; ties in e6-rounded area break to the earlier timestamp
    (half-up rounding, matching SQL ROUND).

    Physical shape — the reason this is an Arrow stage and not a
    DataFrame composition: the declarative form needs the corpus-sized
    binned frame in FOUR places (count, centroids, candidates,
    endpoints), and Spark plans that as four separate scans of the
    input (no exchange reuse across window/agg branches — measured).
    One applyInArrow = ONE scan, ONE shuffle on the key, then a
    vectorized numpy pass over the group's Arrow columns whose state
    is the key's own series — bounded by the tier calendar (decimate
    tiers, not raw corpora; same per-key-memory contract as
    holt_linear). Output is ≤ n_out rows per key, with event_ts of the
    input's type."""
    import pyarrow as pa

    if anchor not in ("centroid", "selected"):
        raise ValueError(f"anchor must be centroid/selected, got {anchor!r}")
    keys = list(keys) if keys is not None else list(KEYS)
    m = n_out - 2
    pts = raw.where(F.col(value_col).isNotNull()).select(
        *keys, F.col(ts_col).alias("_ts"), F.col(value_col).cast("double").alias("_v")
    )
    ts_type = dict(raw.dtypes)[ts_col]
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pts.select(*keys).schema.fields
    )
    schema = f"{key_fields}, bucket bigint, event_ts {ts_type}, value double"
    sequential = anchor == "selected"
    # Spark hands LTZ in as the session zone but reads it back as UTC
    ts_out = pa.timestamp("us", tz=None if ts_type == "timestamp_ntz" else "UTC")

    def _lttb(tbl):
        import numpy as np

        # micros to match unix_micros/epoch_us in the SQL oracle —
        # the e6-rounded area ranking must see identical doubles
        us = tbl.column("_ts").cast(pa.int64()).to_numpy()
        order = np.argsort(us, kind="mergesort")
        x = us[order].astype("float64")
        v = tbl.column("_v").to_numpy()[order]
        n = x.size
        idx = np.arange(n)
        g = np.empty(n, dtype="int64")
        if n <= 2:
            g[:] = [-1, m][:n]
        else:
            g[1:-1] = np.floor((idx[1:-1] - 1) * float(m) / (n - 2)).astype(
                "int64"
            )
            g[-1] = m
            g[0] = -1
        # per-bucket centroids, buckets shifted to [0, m+2)
        gs = g + 1
        cnt = np.bincount(gs, minlength=m + 2).astype("float64")
        sx = np.bincount(gs, weights=x, minlength=m + 2)
        sv = np.bincount(gs, weights=v, minlength=m + 2)
        with np.errstate(invalid="ignore"):
            cx = np.where(cnt > 0, sx / np.maximum(cnt, 1.0), np.nan)
            cy = np.where(cnt > 0, sv / np.maximum(cnt, 1.0), np.nan)
        picks = [0]
        ax, ay = cx[0], cy[0]
        for b in range(m):
            cand = np.nonzero(g == b)[0]
            if cand.size == 0:
                continue
            if not sequential:
                ax, ay = cx[b], cy[b]  # centroid of bucket b-1 (shifted)
            # next anchor: first non-empty bucket centroid after b
            nb = b + 2
            while nb < m + 2 and cnt[nb] == 0:
                nb += 1
            if nb < m + 2:
                bx, by = cx[nb], cy[nb]
            else:
                bx, by = ax, ay
            area = np.abs(
                (ax - bx) * (v[cand] - ay) - (ax - x[cand]) * (by - ay)
            )
            r = np.floor(area * 1e6 + 0.5)  # SQL ROUND (half-up)
            best = cand[int(np.argmax(r))]  # first max = earliest ts
            picks.append(best)
            if sequential:
                ax, ay = x[best], v[best]
        if n >= 2:
            picks.append(n - 1)
        sel = np.array(sorted(set(picks)), dtype="int64")
        return (
            tbl.select(keys)
            .take(order[sel])
            .append_column("bucket", pa.array(g[sel]))
            .append_column("event_ts", pa.array(us[order[sel]], ts_out))
            .append_column("value", pa.array(v[sel]))
        )

    return pts.groupBy(*keys).applyInArrow(_lttb, schema=schema)


def zorder_key(
    user_col="user_id",
    ts_col="ts",
    bits: int = 8,
):
    """Morton (Z-order) clustering key over (user, hour): interleave
    the low `bits` of user_id with the low `bits` of the hour index —
    user bit i lands at position 2i, hour bit i at 2i+1. Writing files
    sorted by this key gives every file a bounded RECTANGLE in
    (user, time) space, so min/max column stats prune scans filtered
    on EITHER dimension — the multi-dimensional layout a plain
    (source, day) partitioning can't give (its user-filtered scans
    read every file of the day). This is the sort key to hand the
    table format's file-rewrite/cluster action; the expression is pure
    integer bit arithmetic, row-local, whole-stage codegen."""
    uid = F.col(user_col).cast("bigint")
    hour = (F.unix_timestamp(F.col(ts_col)) / 3600).cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(uid, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(hour, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z, (uid.bitwiseAND(F.lit((1 << bits) - 1))), (
        hour.bitwiseAND(F.lit((1 << bits) - 1))
    )


def zorder_layout(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bits: int = 8,
    prefix_bits: int = 6,
) -> DataFrame:
    """Z-order layout audit: bucket rows by the top `prefix_bits` of
    their Morton key (one bucket ≈ one file under a z-sorted write)
    and report each bucket's row count plus its bounding rectangle in
    (user, hour) space. The z-curve guarantee made measurable: a
    prefix of p bits pins ceil(p/2) high user bits and floor(p/2)
    high hour bits, so every bucket's user span is < 2^(bits−ceil(p/2))
    and hour span < 2^(bits−floor(p/2)) — the test and the oracle
    both check the engine against that closed form. Compare with a
    time-only sort: identical hour spans but user spans covering the
    whole key range (nothing prunable on user).

    Scale shape: the key is a row-local expression; the audit is ONE
    map-side-combined groupBy on a 2^prefix_bits-bounded frame. The
    operational use at 100 TB is sorting/clustering writes by z —
    which shuffles once on z ranges, exactly what a sorted table
    write already costs."""
    z, ulow, hlow = zorder_key(user_col, ts_col, bits)
    b = events.select(
        F.shiftright(z, 2 * bits - prefix_bits).alias("bucket"),
        ulow.alias("u"),
        hlow.alias("h"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("u").cast("bigint").alias("u_min"),
        F.max("u").cast("bigint").alias("u_max"),
        F.min("h").cast("bigint").alias("h_min"),
        F.max("h").cast("bigint").alias("h_max"),
        (F.max("u") - F.min("u")).cast("bigint").alias("u_span"),
        (F.max("h") - F.min("h")).cast("bigint").alias("h_span"),
    )


def coherence_audit(
    stored: DataFrame,
    finer: DataFrame,
    tier: str,
    keys: Sequence[str] = KEYS,
    sum_e: int = 4,
    sumsq_e: int = 2,
    tol: int = 1,
) -> DataFrame:
    """Cross-tier cascade-invariant audit: does a STORED coarse tier
    still equal the re-cascade of the finer tier below it?

    Continuous aggregates earn their keep only while the invariant
    stored(T) == cascade(tier(T-1), T) actually holds; a bad backfill,
    a partial overwrite, or a lost window silently breaks it and every
    downstream read serves wrong numbers. This operator is that
    invariant as a runtime check (the TimescaleDB analog is a
    caggs-vs-real-time-view diff): it re-derives the expected coarse
    state from the finer tier and full-outer-joins it against the
    stored rows, emitting one verdict per (keys, window):

        ok        stored state equals expected at the declared grains
        mismatch  both present, any state field differs
        missing   expected window absent from the stored tier
        orphan    stored window the finer tier cannot produce

    Equality rules, per state field: cnt and min/max compare EXACTLY
    (cnt is an integer; min/max pass through cascade with no
    arithmetic, so they are bit-identical when the tier is healthy).
    sum and sum_sq compare at the engine's canonical rounding grains
    (10^-sum_e / 10^-sumsq_e) with a ±tol grain-unit slack: cascade
    re-sums partial sums in a DIFFERENT order than the stored tier's
    original aggregation, so the two healthy doubles differ by
    ~n·eps·magnitude — raw equality would flag that ulp noise as
    corruption, and even grain rounding can split it across a .5
    boundary on single windows. ±1 grain unit absorbs every
    reordering artifact (noise is orders of magnitude below one grain
    at any realistic window magnitude) while real corruption moves
    thousands of grain units.

    Scale shape: ONE cascade aggregation (map-side combined) + ONE
    equi full-outer join on (keys, window_start) — both frames are
    tier-sized (windows, not raw points), so the audit costs a tier
    read, never a raw-data scan. cnt comes from count() and is never
    null on a present row, which is what makes the null-side tests a
    sound missing/orphan detector."""
    exp = cascade(finer, tier)

    def canon(df: DataFrame, pfx: str) -> DataFrame:
        def g(c: str, k: int):
            return F.round(F.col(c) * F.lit(float(10 ** k))).cast("bigint")

        return df.select(
            *keys,
            "window_start",
            F.col("cnt").cast("bigint").alias(f"{pfx}_cnt"),
            g("sum", sum_e).alias(f"{pfx}_sum"),
            F.col("min").alias(f"{pfx}_min"),
            F.col("max").alias(f"{pfx}_max"),
            g("sum_sq", sumsq_e).alias(f"{pfx}_sumsq"),
        )

    s = canon(stored, "st")
    e = canon(exp, "ex")
    j = s.join(e, [*keys, "window_start"], "full_outer")
    both = F.col("st_cnt").isNotNull() & F.col("ex_cnt").isNotNull()

    def near(a: str, b: str):
        return F.abs(F.col(a) - F.col(b)) <= F.lit(tol)

    equal = (
        F.col("st_cnt").eqNullSafe(F.col("ex_cnt"))
        & near("st_sum", "ex_sum")
        & F.col("st_min").eqNullSafe(F.col("ex_min"))
        & F.col("st_max").eqNullSafe(F.col("ex_max"))
        & near("st_sumsq", "ex_sumsq")
    )
    status = (
        F.when(F.col("st_cnt").isNull(), F.lit("missing"))
        .when(F.col("ex_cnt").isNull(), F.lit("orphan"))
        .when(equal, F.lit("ok"))
        .otherwise(F.lit("mismatch"))
    )
    return j.select(
        *keys,
        "window_start",
        status.alias("status"),
        F.when(both, F.col("st_cnt") - F.col("ex_cnt")).alias("cnt_diff"),
        F.when(both, F.col("st_sum") - F.col("ex_sum")).alias("sum_diff"),
    )


def repair_tier(
    stored: DataFrame,
    finer: DataFrame,
    tier: str,
    keys: Sequence[str] = KEYS,
    sum_e: int = 4,
    sumsq_e: int = 2,
    tol: int = 1,
) -> DataFrame:
    """Repair a stored coarse tier in place of a full rebuild: recompute
    ONLY the windows coherence_audit flags, keep every healthy stored
    row byte-for-byte, drop orphans.

    The contract (pinned by the ts_tier_repair oracle end-to-end):
    repair(stored, finer, T) is value-equal to cascade(finer, T) at the
    canonical grains — but unlike a rebuild it never rewrites healthy
    windows, so at 10^12 scale a single corrupted backfill day costs a
    day-sized MERGE, not a tier-wide rewrite. Healthy rows pass through
    with their ORIGINAL doubles (sub-grain ulp differences from the
    cascade are preserved, not "fixed" — pytest pins this), which is
    what makes the repair idempotent and cheap: auditing again right
    after repairing finds zero bad windows and a second repair writes
    nothing.

    Scale shape: one coherence_audit (cascade agg + equi join) + one
    left-anti + one left-semi join, every frame tier-sized. The output
    feeds Catalog MERGE/partition-overwrite exactly like any other
    tier write."""
    on = [*keys, "window_start"]
    aud = coherence_audit(stored, finer, tier, keys, sum_e, sumsq_e, tol)
    bad = aud.where(F.col("status") != "ok").select(*on)
    need = aud.where(F.col("status").isin("mismatch", "missing")).select(*on)
    kept = stored.join(bad, on, "left_anti")
    recomputed = cascade(finer, tier).join(need, on, "left_semi")
    return kept.unionByName(recomputed)
