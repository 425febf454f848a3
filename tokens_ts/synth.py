"""Deterministic synthesizer for the north-rule input table.

Generates ``sequences(doc_id string, tokens array<int>, n_tok int,
source string)`` (BASELINE.json:15) fully inside Spark — a union of
``spark.range`` slices, one per source, so generation itself is
distributed and scales linearly with cores (no driver-side data).

The same recurrences are implemented in numpy by tests/oracle.py and in
SQL by __spark_entry__.oracle_sql(); all three must agree bit-for-bit
(FIXTURES.md §1).

Reference analog: geomatics/data.py sample-data download (UNVERIFIED,
SURVEY.md S5) — replaced by this synthesizer because the sandbox has no
network and the task forbids external data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from tokens_ts import config as C


def sequences(
    spark: SparkSession,
    k_total: int,
    n_sources: int = C.DEFAULT_SOURCES,
    with_gaps: bool = True,
    parallelism: int | None = None,
    specs=None,
) -> DataFrame:
    """Build the deterministic ``sequences`` table.

    k_total is the grid-slot budget of the heaviest source (src00);
    source s gets ceil(k_total/(s+1)) slots (Zipf-ish skew, FIXTURES.md).
    ~15% of slots are deterministically omitted when with_gaps=True.

    specs (list[registry.SourceSpec]) overrides the default srcNN
    registry: each spec synthesizes spec.budget slots under its own
    source NAME (token recurrence params come from the spec's index in
    the list, so the generator stays deterministic for any naming).
    k_total/n_sources are then ignored.

    parallelism is the TOTAL number of generator partitions, split
    across sources in proportion to their budgets (each source gets at
    least one) — not a per-source count. None = 2 × the session's
    default parallelism. Generated content does not depend on it.
    """
    if specs is None:
        from tokens_ts.registry import default_specs

        specs = default_specs(k_total, n_sources)
    # r6: slice the TOTAL ~2 tasks/core across sources proportionally
    # to their budgets instead of giving every source a full core's
    # worth of slices — the old layout emitted sources×parallelism
    # (e.g. 256) partitions, and every downstream query paid for it
    # in map-task count and M×R shuffle blocks (guide §2.2: fewer,
    # larger map tasks; measured: the backfill rollup alone dropped
    # 2.0 s → 0.9 s when its map side went 256 → 64 partitions).
    # Budget-proportional slicing keeps per-partition row counts
    # balanced; generated CONTENT is partitioning-independent.
    total_budget = max(1, sum(sp.budget for sp in specs))
    total_parts = parallelism or max(
        2, 2 * spark.sparkContext.defaultParallelism
    )
    parts = []
    for s, sp in enumerate(specs):
        a, b, c = C.src_params(s)
        budget = sp.budget
        numparts = max(1, round(total_parts * budget / total_budget))
        df = spark.range(0, budget, 1, min(numparts, max(1, budget)))
        df = df.withColumnRenamed("id", "k")
        if with_gaps:
            df = df.where((F.col("k") * F.lit(C.GAP_MULT)) % 1000 >= C.GAP_CUT)
        n_tok = (F.lit(C.NTOK_BASE) + (F.col("k") * C.NTOK_MULT) % C.NTOK_MOD).cast("int")
        tokens = F.transform(
            F.sequence(F.lit(0), F.col("n_tok") - 1).cast("array<bigint>").alias("i"),
            lambda i: F.when(
                ((F.lit(a) * F.col("k") + F.lit(b) * i + F.lit(c)) % C.V)
                < C.PAD_THRESHOLD,
                F.lit(C.PAD_ID),
            )
            .otherwise((F.lit(a) * F.col("k") + F.lit(b) * i + F.lit(c)) % C.V)
            .cast("int"),
        )
        df = (
            df.withColumn("n_tok", n_tok)
            .withColumn("tokens", tokens)
            .withColumn("source", F.lit(sp.source))
            .withColumn(
                "doc_id",
                F.concat(F.lit(f"{sp.source}-"), F.lpad(F.col("k").cast("string"), 12, "0")),
            )
            .select("doc_id", "tokens", "n_tok", "source")
        )
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_sequences(
    spark: SparkSession,
    path: str,
    k_total: int,
    n_sources: int = C.DEFAULT_SOURCES,
) -> None:
    """Materialize the fixture as parquet partitioned by source.

    At 10^12-sequence scale this layout maps to Iceberg partition
    transforms ``bucket(N, doc_id), days(event_ts)`` (SURVEY.md §4.2);
    in the sandbox we partition by source (see io/catalog.py).
    """
    df = sequences(spark, k_total, n_sources)
    df.write.mode("overwrite").partitionBy("source").parquet(path)
