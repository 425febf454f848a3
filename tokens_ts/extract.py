"""Extraction operators: point / box / mask / full-array stats.

The complete geomatics extraction surface (reference:
geomatics/timeseries.py::{point,bounding_box,polygons,full_array_stats},
UNVERIFIED — SURVEY.md §2.2-2.3 P1-P4/A1), re-expressed over the
token-position axis:

    spatial point (lat,lon)  →  token position p        (F.get)
    bounding box             →  position slice [lo,hi)  (F.slice)
    polygon mask             →  position index set      (F.filter (x,i))
    fill_value=-9999 → NaN   →  PAD_ID → null           (F.when)

Every statistic is a *within-row* array aggregation (F.aggregate /
array_min / array_sort) — row-local, shuffle-free, whole-stage-codegen
eligible. Stats honor numpy nan-semantics with ddof=0 (np.nanstd
default; Spark's sample `stddev` is NEVER used — SURVEY.md §1.2).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from tokens_ts import config as C
from tokens_ts import grid

STATS = ("mean", "median", "max", "min", "sum", "std", "cnt")


def masked(arr: Column, pad_id: int = C.PAD_ID) -> Column:
    """PAD sentinel → null, promote to double (geomatics fill_value mask)."""
    return F.transform(
        arr,
        lambda t: F.when(t == F.lit(pad_id), F.lit(None)).otherwise(
            t.cast("double")
        ),
    )


# ---- within-row statistics (A1) -------------------------------------------

def arr_cnt(arr: Column) -> Column:
    return F.size(F.array_compact(arr)).cast("bigint")


def arr_sum(arr: Column) -> Column:
    s = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + F.coalesce(x, F.lit(0.0))
    )
    return F.when(arr_cnt(arr) > 0, s)          # empty → null (np.nansum of all-nan)


def arr_min(arr: Column) -> Column:
    return F.array_min(arr)


def arr_max(arr: Column) -> Column:
    return F.array_max(arr)


def arr_mean(arr: Column) -> Column:
    return arr_sum(arr) / arr_cnt(arr)


def arr_std(arr: Column) -> Column:
    """Population std (ddof=0), matching np.nanstd.

    Two-pass (mean first, then squared deviations) — numerically stable
    like numpy's, unlike the naive sum_sq/n − mean² form which loses
    ~log10(mean²/var) digits to cancellation. Within a row this costs
    nothing; the *tier* std necessarily uses the algebraic sum_sq form
    because partial states must merge (tiers.finish).
    """
    n = arr_cnt(arr)
    mean = arr_sum(arr) / n
    ssd = F.aggregate(
        arr,
        F.lit(0.0),
        lambda acc, x: acc + F.coalesce((x - mean) * (x - mean), F.lit(0.0)),
    )
    return F.when(n > 0, F.sqrt(ssd / n))


def arr_percentile(arr: Column, p: float) -> Column:
    """Exact linear-interpolation percentile within a row's array.

    Matches np.nanpercentile(..., method='linear'): with sorted non-null
    values s[0..n-1], pos = p*(n-1), v = s[lo]*(1-frac) + s[lo+1]*frac.
    """
    s = F.array_sort(F.array_compact(arr))
    n = F.size(s)
    pos = F.lit(p) * (n - F.lit(1)).cast("double")
    lo = F.floor(pos).cast("int")
    frac = pos - lo.cast("double")
    v_lo = F.element_at(s, lo + 1)
    v_hi = F.element_at(s, F.least(lo + 2, n))
    return F.when(n == 0, F.lit(None)).otherwise(
        v_lo * (F.lit(1.0) - frac) + v_hi * frac
    )


def arr_median(arr: Column) -> Column:
    return arr_percentile(arr, 0.5)


_STAT_FN = {
    "cnt": arr_cnt,
    "sum": arr_sum,
    "min": arr_min,
    "max": arr_max,
    "mean": arr_mean,
    "std": arr_std,
    "median": arr_median,
}


def stat_col(arr: Column, stat: str) -> Column:
    """Dispatch a stat name; '<p>%' percentiles like geomatics ('25%')."""
    if stat.endswith("%"):
        return arr_percentile(arr, float(stat[:-1]) / 100.0)
    return _STAT_FN[stat](arr)


# ---- spatial-axis selectors (P1-P3) ----------------------------------------

def select_point(arr: Column, p: int) -> Column:
    """tokens[p], 0-based; null when p >= n_tok (geomatics nearest-cell
    lookup degenerates to exact index on the 1-D position axis)."""
    return F.get(arr, p)


def select_box(arr: Column, lo: int, hi: int) -> Column:
    """tokens[lo:hi) — F.slice is 1-based, length-clipped like numpy."""
    return F.slice(arr, lo + 1, max(hi - lo, 0))


def select_mask(arr: Column, positions: Sequence[int]) -> Column:
    """Arbitrary position index-set mask (polygon-mask analog)."""
    pos = F.array(*[F.lit(int(p)) for p in sorted(set(positions))])
    return F.filter(arr, lambda x, i: F.array_contains(pos, i))


# ---- extraction entry points (DataFrame → wide stats frame) ----------------

def _prep(df: DataFrame) -> DataFrame:
    if "event_ts" not in df.columns:
        df = grid.with_event_time(df)
    return df.withColumn("_m", masked(F.col("tokens")))


def point(df: DataFrame, p: int) -> DataFrame:
    """Value at one token position per sequence → raw-tier-ready frame."""
    out = _prep(df).select(
        "source",
        "doc_id",
        "event_ts",
        select_point(F.col("_m"), p).alias("value"),
    )
    return out.withColumn("series_id", F.lit(f"point_p{p}"))


def points(df: DataFrame, ps: Sequence[int]) -> DataFrame:
    """Multiple token positions at once — the reference's point()
    accepts a LIST of coordinates and emits one value column per
    point (SURVEY.md P1); same here, in one row-local projection
    (single scan, no shuffle). Out-of-range positions yield null,
    matching the oracle's NaN."""
    return _prep(df).select(
        "source",
        "doc_id",
        "event_ts",
        *[select_point(F.col("_m"), p).alias(f"point_p{p}") for p in ps],
    )


def _stats_frame(df: DataFrame, sel: Column, name: str, stats: Sequence[str]) -> DataFrame:
    # r5 fused ONE struct-accumulator traversal for the algebraic
    # stats; r6 measured the per-stat forms 2x FASTER at corpus
    # volume (1.06 s -> 0.55 s for mean+max over 19M tokens): the
    # per-element 4-field struct allocation in the fold costs more
    # than the extra passes, which are cheap native collection ops
    # (array_compact / array_min / array_max / scalar-accumulator
    # aggregate). Values are bit-identical (same adds, same order) —
    # A/B and row-for-row equality in OPTIMIZATION_r06.md.
    base = _prep(df).withColumn("_sel", sel)
    cols = [stat_col(F.col("_sel"), st).alias(f"{name}_{st}") for st in stats]
    return base.select("source", "doc_id", "event_ts", *cols)


def box_stats(df: DataFrame, lo: int, hi: int, stats: Sequence[str] = ("mean",)) -> DataFrame:
    return _stats_frame(
        df, select_box(F.col("_m"), lo, hi), f"box_{lo}_{hi}", stats
    )


def mask_stats(df: DataFrame, positions: Sequence[int], stats: Sequence[str] = ("mean",)) -> DataFrame:
    return _stats_frame(df, select_mask(F.col("_m"), positions), "mask", stats)


def full_stats(df: DataFrame, stats: Sequence[str] = ("mean", "min", "max", "sum", "std")) -> DataFrame:
    return _stats_frame(df, F.col("_m"), "full", stats)


def to_raw(wide: DataFrame, value_cols: Sequence[str] | None = None) -> DataFrame:
    """Melt a wide stats frame into the raw tier
    (source, series_id, event_ts, value) — one series per stat column."""
    if value_cols is None:
        value_cols = [
            c for c in wide.columns
            if c not in ("source", "doc_id", "event_ts", "series_id")
        ]
    if "series_id" in wide.columns:
        return wide.select("source", "series_id", "event_ts", "value")
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    stacked = wide.select(
        "source",
        "event_ts",
        F.expr(f"stack({len(value_cols)}, {pairs}) as (series_id, value)"),
    )
    return stacked.select("source", "series_id", "event_ts", "value")
