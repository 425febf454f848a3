"""Event-time derivation: doc_id → per-source event-time grid.

Reference analog: geomatics' time decode (t_var CF-units decode /
strp_filename strptime / ordinal fallback — geomatics/timeseries.py
entry-fn kwargs, UNVERIFIED, SURVEY.md S4). Here the grid index ``k``
is embedded in ``doc_id`` (``{source}-{k:012d}``) and the event time is
``t0 + k * step(source)``.

Per-source grid parameters (t0, step, budget) come from the SOURCE
REGISTRY (tokens_ts/registry.py — the single construction site):
pass ``specs=[SourceSpec(...)]`` for arbitrary source names (the
registry dim is broadcast and equi-joined), or omit it for the default
``srcNN`` registry, whose compiled expression form keeps the hot path
join-free so Catalyst can constant-fold and push partition filters
through it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from tokens_ts import config as C
from tokens_ts.registry import (
    SourceSpec,
    default_event_ts,
    default_specs,
    default_step_col,
    registry_dim,
)

DOC_K_PATTERN = r"-(\d{12})$"


def k_from_doc_id(doc_id: Column = None) -> Column:
    """Grid index k parsed from doc_id (strp_filename analog) —
    registry-independent: every source embeds k the same way."""
    doc_id = F.col("doc_id") if doc_id is None else doc_id
    return F.regexp_extract(doc_id, DOC_K_PATTERN, 1).cast("bigint")


def step_seconds_col(source: Column = None) -> Column:
    """Default-registry step expression (registry.default_step_col)."""
    return default_step_col(source)


def event_ts(doc_id: Column = None, source: Column = None) -> Column:
    """event_ts = t0 + k * step_s under the DEFAULT registry (UTC,
    exact integer seconds)."""
    return default_event_ts(k_from_doc_id(doc_id), source)


def with_event_time(
    df: DataFrame, specs: list[SourceSpec] | None = None
) -> DataFrame:
    """Attach (k, event_ts) to a sequences-shaped DataFrame.

    specs=None → default srcNN registry, compiled as pure column
    expressions (no join; the common driver-pair path — plan unchanged
    from pre-registry rounds). With specs, the registry dim is
    broadcast and equi-joined on source — arbitrary source names, one
    BroadcastHashJoin, no shuffle of the fact side."""
    out = df.withColumn("k", k_from_doc_id())
    if specs is None:
        return out.withColumn("event_ts", event_ts())
    dim = registry_dim(df.sparkSession, specs).select("source", "t0", "step")
    return (
        out.join(F.broadcast(dim), "source")
        .withColumn(
            "event_ts",
            F.timestamp_seconds(F.col("t0") + F.col("k") * F.col("step")),
        )
        .drop("t0", "step")
    )


def full_grid(
    spark,
    k_total: int,
    n_sources: int = C.DEFAULT_SOURCES,
    specs: list[SourceSpec] | None = None,
) -> DataFrame:
    """The complete per-source grid (no gaps): one row per (source, slot).

    Used by gap-fill (SURVEY.md G1) to left-join observed points onto.
    ONE spark.range × a broadcast bucket dim — plan size is O(1) in
    the source count AND the join is an EQUI BroadcastHashJoin, not a
    nested loop. (A bare `k < budget` condition plans as
    BroadcastNestedLoopJoin: max_budget × n_sources predicate pairs
    for sum(budgets) output rows — a ~n/ln(n) waste factor under Zipf
    budgets.) Bucketing: each k hashes to bucket k div G; the dim
    holds one row per (source, covered bucket), so each k is probed
    only against sources whose budget actually reaches its bucket,
    plus one boundary bucket trimmed by the residual filter. G is
    sized so the dim stays ≤ ~1k rows per source scale — driver-built
    and broadcast-tiny; the k fan-out stays fully distributed.

    specs override the default registry: each spec supplies its own
    (t0, step, budget); k_total/n_sources are then ignored."""
    if specs is None:
        specs = default_specs(k_total, n_sources)
    max_budget = max(s.budget for s in specs)
    granule = max(1, max_budget // 1024)
    dim = spark.createDataFrame(
        [
            (sp.source, b, sp.budget, sp.step, sp.t0)
            for sp in specs
            for b in range(-(-sp.budget // granule))
        ],
        "source string, b bigint, budget bigint, step bigint, t0 bigint",
    )
    return (
        spark.range(0, max_budget)
        .withColumnRenamed("id", "k")
        .withColumn("b", F.expr(f"k div {granule}"))
        .join(F.broadcast(dim), "b")
        .where(F.col("k") < F.col("budget"))
        .select(
            "k",
            "source",
            F.timestamp_seconds(
                F.col("t0") + F.col("k") * F.col("step")
            ).alias("event_ts"),
        )
    )
