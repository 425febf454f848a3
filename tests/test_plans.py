"""Physical-plan assertions: the plans we'd want at 100 TB, not just
plans that pass. Checks partition pruning, predicate pushdown, column
pruning, broadcast joins, and whole-stage codegen on the hot paths."""

import pyspark.sql.functions as F
import pytest

from tokens_ts import extract, gapfill, grid, synth, tiers


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def seq_path(spark, seq_tiny, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "seq")
    seq_tiny.write.mode("overwrite").partitionBy("source").parquet(p)
    return p


def test_partition_pruning(spark, seq_path):
    df = spark.read.parquet(seq_path).where(F.col("source") == "src01")
    plan = _plan(df)
    assert "PartitionFilters" in plan
    # the source predicate must be a partition filter, not a data filter
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "src01" in pf


def test_predicate_pushdown(spark, seq_path):
    df = spark.read.parquet(seq_path).where(F.col("n_tok") > 100)
    plan = _plan(df)
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "GreaterThan(n_tok,100)" in pushed


def test_column_pruning_metrics_never_reads_tokens(spark, seq_path):
    """The #1 foot-gun at 10^12 rows (SURVEY.md §4.2): a row-count /
    metrics query must not scan the token arrays."""
    df = spark.read.parquet(seq_path).groupBy("source").agg(
        F.count("*").alias("cnt"), F.avg("n_tok").alias("avg_len")
    )
    plan = _plan(df)
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in rs
    assert "n_tok" in rs


def test_extraction_is_shuffle_free(spark, seq_tiny):
    """Point/box/full extraction is row-local: no Exchange at all."""
    for df in (
        extract.point(seq_tiny, 7),
        extract.box_stats(seq_tiny, 8, 32, stats=["mean", "std"]),
        extract.full_stats(seq_tiny, stats=["mean", "max"]),
    ):
        assert "Exchange" not in _plan(df)


def test_rollup_single_shuffle_with_partial_agg(spark, seq_tiny):
    """raw→1m is one shuffle with map-side partial aggregation."""
    raw = extract.to_raw(extract.full_stats(seq_tiny, stats=["mean"]))
    df = tiers.rollup(raw, "1m")
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan and "HashAggregate" in plan
    # '*(n)' node prefixes are the codegen markers in plan toString
    assert "*(" in plan


def test_full_grid_is_equi_hash_join(spark):
    """Grid generation must plan as an EQUI BroadcastHashJoin on the
    bucket key — a bare k<budget condition would plan a nested loop
    evaluating max_budget × n_sources predicate pairs."""
    plan = _plan(grid.full_grid(spark, 400, 4))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_gapfill_align_broadcasts_series_dim(spark, seq_tiny):
    """The series dim is broadcast because the OPTIMIZER sizes it so
    (estimates / AQE), not because the code forces F.broadcast on an
    unbounded distinct — at 10^12 rows the dim may exceed the
    threshold and must be allowed to shuffle."""
    raw = extract.to_raw(extract.point(seq_tiny, 7))
    g = grid.full_grid(spark, 400, 4)
    plan = _plan(gapfill.align(g, raw))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_gapfill_align_accepts_injected_series_dim(spark, seq_tiny):
    """With a precomputed (source, series_id) dim injected, align must
    not re-derive it: no distinct/aggregate over raw in the plan's
    dim branch (the dim already exists in the lineage tables)."""
    raw = extract.to_raw(extract.point(seq_tiny, 7))
    g = grid.full_grid(spark, 400, 4)
    dim = spark.createDataFrame(
        [(f"src{s:02d}", "point_p7") for s in range(4)],
        "source string, series_id string",
    )
    plan = _plan(gapfill.align(g, raw, series=dim))
    derived = _plan(gapfill.align(g, raw))
    # injected: exactly the raw-side aggregates; derived adds the
    # distinct's HashAggregate pair
    assert plan.count("HashAggregate") < derived.count("HashAggregate")


def test_cascade_reuses_partial_state_no_raw_rescan(spark, seq_tiny):
    """1m→1h reads the (tiny) 1m frame, not raw: the cascade plan's
    aggregate input is the t1m aggregate, with exactly one extra
    exchange for the coarser key."""
    raw = extract.to_raw(extract.full_stats(seq_tiny, stats=["mean"]))
    t1m = tiers.rollup(raw, "1m")
    plan = _plan(tiers.cascade(t1m, "1h"))
    assert plan.count("Exchange") == 2  # t1m shuffle + cascade shuffle


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    """Synthetic events parquet in the driver-table shape, with MANY
    distinct users/types so plan-shape regressions are visible."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            t0 + dt.timedelta(minutes=i % 5000),
            i % 997,
            f"type{i % 12:02d}",
            float(i % 83) / 7.0,
            "{}",
        )
        for i in range(6000)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    p = str(tmp_path_factory.mktemp("plans_ev"))
    df.write.mode("overwrite").parquet(p + "/events.parquet")
    return p


def test_topk_users_distributed_take_ordered(spark, events_path):
    """W1 top-k must plan as TakeOrderedAndProject (per-partition top-k
    merged on the driver), NOT a global row_number window that funnels
    every distinct user through one task. The only Window allowed is
    the post-limit rank over exactly k rows."""
    from tokens_ts.queries_driver import QUERIES

    df = QUERIES["ts_topk_users"](spark, events_path)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    # the window (rank attach) must sit ABOVE the take-ordered — i.e.
    # operate on the already-limited rows, not on the full aggregate
    if "Window" in plan:
        assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_series_corr_pair_generation_bounded(spark, events_path):
    """The corr self-join's inputs are bounded to the top-k active
    series: with 12 synthetic series and k=8, no output series may
    fall outside the top-8 set, and the candidate pair count is ≤ k²."""
    import pyspark.sql.functions as F

    from tokens_ts.queries_driver import CORR_TOP_K, QUERIES, ts_series_corr

    out = QUERIES["ts_series_corr"](spark, events_path).collect()
    ev = spark.read.parquet(events_path + "/events.parquet")
    top = {
        r["event_type"]
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("event_type"))
        .limit(CORR_TOP_K)
        .collect()
    }
    assert len(top) == CORR_TOP_K  # 12 series in the fixture, k=8
    seen = {r["series_a"] for r in out} | {r["series_b"] for r in out}
    assert seen and seen <= top
    assert len(out) <= CORR_TOP_K * (CORR_TOP_K - 1) // 2
    # tighter bound survives: k=3 emits at most 3 pairs
    out3 = ts_series_corr(spark, events_path, top_k=3).collect()
    assert 0 < len(out3) <= 3


def test_ivf_assignment_never_shuffles_corpus(spark):
    """IVF coarse assignment is a corpus scan × broadcast centroid
    array with a row-local argmax: the only exchanges allowed are the
    tiny centroid-side SinglePartition + BroadcastExchange — never a
    hash shuffle of corpus rows (a window/groupBy argmax would shuffle
    N or N×C rows for nothing)."""
    from tokens_ts import simsearch

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)], 0) for i in range(50)],
        "vec_id long, embedding array<float>, label int",
    )
    plan = _plan(simsearch.ivf_assign(emb, n_centroids=4))
    assert "Exchange hashpartitioning" not in plan


def test_token_freq_topk_take_ordered(spark):
    """The corpus heavy-hitter top-20 must plan as a distributed
    TakeOrderedAndProject over the partial-aggregated counts, never a
    global window over every distinct token."""
    from tokens_ts.queries_driver import QUERIES
    import tokens_ts.queries_data  # noqa: F401

    plan = _plan(QUERIES["seq_token_freq_topk"](spark, ""))
    assert "TakeOrderedAndProject" in plan, plan


def test_bucketed_join_skips_shuffle(spark, tmp_path_factory):
    """Co-located joins via bucketing (SURVEY.md §4.2): two tables
    bucketed on the join key by the same bucket count join WITHOUT a
    shuffle on either side — the pre-partitioning strategy for big
    recurring joins at 10^12 rows. (AQE/broadcast disabled for the
    assertion so the sort-merge path is what's planned.)"""
    wh = tmp_path_factory.mktemp("bucketed")
    rows = [(i, f"src{i % 8:02d}", float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, v double")
    for name in ("bt_a", "bt_b"):
        (
            df.write.mode("overwrite")
            .option("path", str(wh / name))
            .bucketBy(8, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(name)
        )
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bt_a").join(spark.table("bt_b"), "doc_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # bucketing replaces the shuffle
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_seasonal_zscore_broadcasts_profile(spark, events_path):
    """The hour-of-day profile is keys×24 rows — it must come back as
    a BroadcastHashJoin, never a shuffled sort-merge join of the fact
    table against its own aggregate."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    df = analytics.seasonal_zscore(ev, ["event_type"], ts_col="ts")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_twa_and_trend_single_agg_shuffle(spark, events_path):
    """time_weighted_avg = one window exchange + one partial-agg
    exchange; trend = ONE exchange total (bucket agg, no window), and
    both must show map-side partial aggregation."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    twa_plan = _plan(
        analytics.time_weighted_avg(ev, ["event_type"], ts_col="ts")
    )
    assert twa_plan.count("Exchange") <= 2
    assert "partial_" in twa_plan  # map-side combine present
    trend_plan = _plan(analytics.trend(ev, ["event_type"], ts_col="ts"))
    assert trend_plan.count("Exchange") == 1
    assert "partial_" in trend_plan


def test_top_n_per_group_no_global_sort(spark, events_path):
    """Rank-filter must stay per-group: a hash-partitioned window, no
    global Sort/Exchange SinglePartition funnel."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    counts = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).agg(F.count("*").alias("n"))
    df = analytics.top_n_per_group(counts, ["day"], "n", n=3, tie_cols=["user_id"])
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(day" in plan


def test_level_shift_uses_bounded_running_frames(spark, events_path):
    """Both frames must be bounded ROWS specs (O(n) sliding buffer);
    an unbounded following frame would re-scan per row."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    df = analytics.with_level_shift(
        ev, ["event_type"], ts_col="ts", width=16, order_cols=["event_id"]
    )
    plan = _plan(df)
    assert "unboundedfollowing" not in plan.lower()
    assert "specifiedwindowframe(RowFrame, -15, currentrow$())" in plan
    assert "specifiedwindowframe(RowFrame, 1, 16)" in plan


def test_dist_drift_no_window_all_partial_aggs(spark):
    """JSD drift is joins+aggs ONLY: no Window operator anywhere (the
    prev-bucket pairing is epoch arithmetic, not lag), and the
    corpus-sized explode→count shows map-side partial aggregation."""
    from tokens_ts import textops

    df = spark.createDataFrame(
        [("s0", None, [1, 2])], "source string, event_ts timestamp, tokens array<int>"
    )
    plan = _plan(textops.dist_drift(df))
    assert "Window" not in plan, plan
    assert "partial_" in plan


def test_vocab_growth_window_stays_per_group(spark):
    """The cumulative-vocab running sum must partition by the group
    key — never a SinglePartition global funnel."""
    from tokens_ts import textops

    df = spark.createDataFrame(
        [("s0", None, [1, 2])], "source string, event_ts timestamp, tokens array<int>"
    )
    plan = _plan(textops.vocab_growth(df))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(source" in plan


def test_sax_stats_join_broadcasts(spark, events_path):
    """Per-key mean/std is a keys-bounded frame — it must come back as
    a BroadcastHashJoin against the PAA frame, and the hourly word
    assembly must not funnel into a single partition (segment order is
    restored row-locally by array_sort)."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.sax_symbols(ev, ["event_type"], ts_col="ts"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan


def test_acf_no_window_function(spark, events_path):
    """ACF pairs via bucket-epoch equi-join on the buckets-bounded
    frame: no Window operator (row-lag would be gap-incorrect), and
    both the bucket agg and the final Pearson agg are map-side
    combinable."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.acf(ev, ["event_type"], ts_col="ts", max_lag=3))
    assert "Window" not in plan, plan
    assert "partial_" in plan


def test_ccf_no_window_function(spark, events_path):
    """CCF pairs via bucket-epoch equi-join with the a<b filter: no
    Window operator, bucket agg map-side combinable."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.ccf(ev, "event_type", ts_col="ts", max_lag=2))
    assert "Window" not in plan, plan
    assert "partial_" in plan


def test_seasonal_naive_error_no_window(spark, events_path):
    """Backtest is two self-equi-joins on the buckets-bounded frame:
    no Window operator anywhere."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(
        analytics.seasonal_naive_error(ev, ["event_type"], ts_col="ts")
    )
    assert "Window" not in plan, plan


def test_turnover_burst_windows_stay_bounded(spark):
    """topk_turnover ranks within (group, bucket) and token_burst
    within group — neither may plan a SinglePartition window."""
    from tokens_ts import textops

    df = spark.createDataFrame(
        [("s0", None, [1, 2])], "source string, event_ts timestamp, tokens array<int>"
    )
    for out in (
        textops.topk_turnover(df),
        textops.token_burst(df),
    ):
        plan = _plan(out)
        assert "SinglePartition" not in plan, plan
        assert "hashpartitioning(source" in plan


def test_holt_single_key_shuffle(spark, events_path):
    """Holt's Arrow stage shuffles ONCE on the series key after the
    bucket agg — FlatMapGroupsInPandas over hashpartitioning(key),
    never SinglePartition."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.holt_linear(ev, ["event_type"], ts_col="ts"))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(event_type" in plan


def test_cusum_no_python_no_join_window_stats(spark, events_path):
    """CUSUM via the reflection identity stays pure Catalyst: no
    Arrow/Python stage anywhere and no join — the per-key mean/σ are
    a Window over the same hashpartitioning on the key that the two
    cumulative RunningWindow passes use — never SinglePartition."""
    import re

    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.cusum(ev, ["event_type"], ts_col="ts"))
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan, plan
    assert re.search(
        r"Window \[avg\(v#\d+\) windowspecdefinition\(event_type#\d+, "
        r"specifiedwindowframe", plan
    ), plan
    assert re.search(r"Exchange hashpartitioning\(event_type#\d+, \d+\)", plan), plan
    assert "SinglePartition" not in plan, plan


def test_bigram_pmi_no_cache_one_totals_join(spark, seq_path):
    """bigram_pmi_topk leaves caching to exchange reuse (no
    InMemoryTableScan) and fetches both totals from ONE keyless agg:
    exactly one BroadcastNestedLoopJoin."""
    from tokens_ts import textops

    plan = _plan(textops.bigram_pmi_topk(spark.read.parquet(seq_path)))
    assert "InMemoryTableScan" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_kendall_matrix_no_cache(spark, events_path):
    """kendall_matrix's bucket agg and alignment join each feed two
    sides through exchange reuse, not a cache."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.kendall_matrix(ev, ["event_type"], ts_col="ts"))
    assert "InMemoryTableScan" not in plan, plan


def test_attribution_linear_no_descending_window(spark, events_path):
    """Last touch is row_number == count over the first-touch order,
    so no window orders DESC (one sort fewer than a descending spec)."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(
        analytics.attribution_linear(ev, touch_type="type00", conv_type="type01")
    )
    specs = [seg.split(")")[0] for seg in plan.split("windowspecdefinition(")[1:]]
    assert specs, plan
    assert not [s for s in specs if "DESC" in s], specs


def test_robust_zscore_broadcast_joins_only(spark, events_path):
    """Both median/MAD frames join back broadcast — the fact side is
    never shuffled for a join (only the two keys-bounded aggs
    exchange), and no sort-merge join appears."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.robust_zscore(ev, ["event_type"]))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_lttb_single_scan_single_shuffle(spark, events_path):
    """LTTB reads its input exactly ONCE: the Arrow stage replaces the
    4-branch declarative form whose centroid/count/candidate/endpoint
    legs each rescanned the corpus (no exchange reuse across
    window/agg branches — the measured defect that motivated the
    rewrite). Shuffle is hashpartitioning on the key, never
    SinglePartition."""
    from tokens_ts import tiers

    ev = spark.read.parquet(events_path + "/events.parquet")
    hourly = ev.groupBy(
        F.col("event_type").alias("sid"),
        F.date_trunc("hour", "ts").alias("wts"),
    ).agg(F.avg("value").alias("v"))
    plan = _plan(
        tiers.downsample_lttb(
            hourly, n_out=16, keys=["sid"], ts_col="wts", value_col="v"
        )
    )
    assert plan.count("Scan parquet") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(sid" in plan, plan


def test_bm25_no_vocab_shuffle_and_take_ordered(spark, events_path):
    """bm25_topk: tf is ROW-LOCAL (no corpus word explode→groupBy);
    the only aggs are query-terms-/1-row-bounded; final top-k is
    TakeOrderedAndProject, never a global Sort."""
    from tokens_ts import textops

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " * (i % 5 + 1)) for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan(textops.bm25_topk(docs, ["alpha", "beta"], k=5))
    assert "TakeOrderedAndProject" in plan
    # the corpus-sized side must not explode WORDS — the only Generate
    # allowed is the |terms|-wide per-doc fan-out (it appears once per
    # consumer branch: df-count and score — still ×2, never ×vocab)
    assert plan.count("Generate") <= 2
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_winnowing_is_shuffle_free(spark):
    """Winnowing fingerprints are row-local array expressions: the
    whole plan runs without any Exchange."""
    from tokens_ts import dedup

    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz")], "doc_id long, text string"
    )
    assert "Exchange" not in _plan(dedup.winnowing_fingerprints(docs))


def test_run_length_is_shuffle_free(spark, seq_tiny):
    from tokens_ts import textops

    assert "Exchange" not in _plan(textops.run_length_stats(seq_tiny))


def test_pettitt_no_self_join(spark, events_path):
    """Pettitt uses the midrank identity: window passes only, never a
    pair-level self-join of the bucket frame."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(
        analytics.pettitt(ev, ["event_type"], ts_col="ts", trunc="hour")
    )
    # exactly one join (the keys-bounded k_stat attach), no cartesian
    assert plan.count("Join") <= 2
    assert "Cartesian" not in plan


def test_spectral_broadcast_mean_join(spark, events_path):
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(
        analytics.spectral_power(
            ev, ["event_type"], [86400], ts_col="ts", trunc="hour"
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dtw_collect_is_bounded_and_arrow(spark, events_path):
    """dtw_daily: the Python stage is an ArrowEvalPython (vectorized
    scalar pandas_udf), not a row-at-a-time BatchEvalPython; vectors
    are built per (key, day) group — no corpus-wide collect_list."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(
        analytics.dtw_daily(ev, ["event_type"], ts_col="ts")
    )
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_kalman_single_key_shuffle(spark, events_path):
    """Kalman rides the same sanctioned-stateful shape as Holt: ONE
    FlatMapGroupsInPandas over hashpartitioning(key), never
    SinglePartition."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.kalman_level(ev, ["event_type"], ts_col="ts"))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(event_type" in plan


def test_variance_ratio_ar1_pure_catalyst(spark, events_path):
    """The memory diagnostics (VR, AR(1)) are one window pass + one
    keys-bounded agg: no Python stage, no join at all."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    for df in (
        analytics.variance_ratio(ev, ["event_type"], ts_col="ts"),
        analytics.ar1_half_life(ev, ["event_type"], ts_col="ts"),
    ):
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "Join" not in plan, plan
        assert "SinglePartition" not in plan, plan


def test_keyness_no_second_corpus_pass(spark, seq_path):
    """G² keyness re-aggregates word totals from the (group, word)
    counts: the corpus parquet is scanned ONCE; the totals come back
    as broadcast/vocab-bounded joins, never a corpus self-join."""
    from tokens_ts import textops

    docs = spark.read.parquet(seq_path).selectExpr(
        "source", "CAST(doc_id AS STRING) AS text"
    )
    plan = _plan(textops.keyness_g2(docs, top_k=5))
    # the (group, word) count frame is cached: every FileScan in the
    # printed plan is the REPRINT inside an InMemoryTableScan build
    # (each InMemoryTableScan node re-prints its cached child), so at
    # runtime the corpus parquet is read exactly once
    assert plan.count("InMemoryTableScan") >= 1, plan
    assert plan.count("Scan parquet") == plan.count("InMemoryTableScan"), plan


def test_benford_no_python_broadcast_spine(spark, events_path):
    """Benford: row-local digit projection, digit spine and chi2 both
    broadcast back — no sort-merge join, no Python."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet").withColumnRenamed(
        "event_type", "series_id"
    )
    plan = _plan(analytics.benford_digits(ev, keys=["series_id"]))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_mmr_corpus_scanned_once_broadcast_queries(spark):
    """MMR touches the corpus exactly once (the candidate-pool scan);
    every unrolled selection round joins candidate-bounded frames.
    The query side is broadcast (BroadcastNestedLoopJoin, the
    cosine_topk shape)."""
    from tokens_ts import simsearch

    rows = [(i, [float(i % 7)] * 8) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = str(spark.range(0).sparkSession.conf.get("spark.sql.warehouse.dir"))
    del p  # warehouse not needed; write a parquet to count scans
    import tempfile

    path = tempfile.mkdtemp(prefix="plans_mmr_") + "/emb"
    emb.write.mode("overwrite").parquet(path)
    emb2 = spark.read.parquet(path)
    plan = _plan(simsearch.mmr_topk(emb2, sample_mod=7, k=3, pool=5))
    assert "BroadcastNestedLoopJoin" in plan, plan
    # candidate/pair frames are cached after the single corpus pass:
    # every remaining FileScan line is a cache-build REPRINT inside an
    # InMemoryTableScan (2 file scans per build: corpus + query side)
    assert plan.count("InMemoryTableScan") >= 1, plan
    assert plan.count("Scan parquet") <= 2 * plan.count("InMemoryTableScan"), plan


# ---------------------------------------------------------------------------
# round-5h/5i operator plan shapes
# ---------------------------------------------------------------------------


def test_span_corruption_cdc_jl_are_shuffle_free(spark, seq_tiny):
    """The per-sequence token planners (span corruption, CDC chunking)
    and the JL projection are pure row-local expressions: no Exchange
    anywhere — map-only stages at any corpus size."""
    from tokens_ts import simsearch, textops

    for df in (
        textops.span_corruption_plan(seq_tiny),
        textops.cdc_chunks(seq_tiny),
    ):
        assert "Exchange" not in _plan(df)
    rows = [(i, [float(i)] * 64) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert "Exchange" not in _plan(simsearch.jl_project(emb))


def test_hard_negatives_broadcast_queries_no_corpus_self_join(spark):
    """Hard-negative mining broadcasts the query sample over ONE
    corpus scan (BroadcastNestedLoopJoin) and reduces via a partial
    (map-side) aggregate — never a corpus self-join or corpus-wide
    window."""
    from tokens_ts import simsearch

    rows = [(i, [float(i % 5)] * 16, i % 3) for i in range(60)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    plan = _plan(simsearch.hard_negatives(emb))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "partial_max_by" in plan or "HashAggregate" in plan


def test_pq_error_single_scan_broadcast_codebook(spark):
    """PQ assignment is row-local inside one corpus scan with the
    codebook as a broadcast single-row relation: the only join is the
    broadcast crossJoin, no shuffle of corpus rows (the final plan has
    exactly the codebook-build exchange, never a corpus Exchange)."""
    import tempfile

    from tokens_ts import simsearch

    rows = [(i, [float((i * 7 + j) % 11) for j in range(64)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = tempfile.mkdtemp(prefix="plans_pq_") + "/emb"
    emb.write.mode("overwrite").parquet(path)
    plan = _plan(simsearch.pq_error(spark.read.parquet(path)))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_zorder_layout_single_partial_agg(spark, events_path):
    """The z-order audit is ONE map-side-combined aggregation over a
    row-local key expression: exactly one shuffle (the agg exchange),
    no window, no join."""
    from tokens_ts import tiers

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(tiers.zorder_layout(ev))
    assert plan.count("Exchange") <= 2  # partial->final agg (+AQE read)
    assert "Join" not in plan and "Window" not in plan


def test_dispersion_and_burn_rate_bounded_frames(spark, events_path):
    """dispersion_stats: two chained aggs, no joins/windows at all;
    burn_rate: the only Window sits ABOVE the hourly aggregate (the
    calendar-bounded frame), with the corpus reduced first."""
    from tokens_ts import analytics

    ev = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.dispersion_stats(ev, ["event_type"]))
    assert "Join" not in plan and "Window" not in plan
    plan2 = _plan(analytics.burn_rate(ev))
    assert "Join" not in plan2
    # the window input is the aggregated hourly frame: the Window node
    # must appear only after a HashAggregate in the plan tree string
    w_at = plan2.index("Window")
    assert "HashAggregate" in plan2[w_at:]


def test_centroid_drift_no_corpus_broadcast_or_window(spark):
    """Centroid drift reduces the corpus with ONE (label, parity)
    partial agg; the self-join afterwards is labels-bounded (broadcast
    or tiny SMJ is fine) — but no Window and no corpus-side
    BroadcastNestedLoopJoin may appear."""
    from tokens_ts import simsearch

    rows = [(i, [float(i % 5)] * 64, i % 4) for i in range(80)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    plan = _plan(simsearch.centroid_drift(emb))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_token_bucket_single_key_shuffle_arrow_stage(spark, events_path):
    """token_bucket plans exactly one exchange (the user-key
    hash-partitioning), an in-partition (key, ts, id) sort, and one
    whole-batch MapInPandas Arrow stage (r6: per-group
    FlatMapGroupsInPandas framed every ~67-event user as its own
    Arrow batch) — no window, no join, no second shuffle."""
    from tokens_ts import analytics

    df = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.token_bucket(df, keys=["user_id"], ts_col="ts"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Sort" in plan
    assert "Window" not in plan and "Join" not in plan


def test_dow_hour_pivot_two_bounded_aggs_no_join(spark, events_path):
    """Pivot with DECLARED values plans as exactly two aggregation
    pairs — the corpus-reducing (group, hour, dow) count (map-side
    combined) and the pivotfirst re-agg over the bounded frame — with
    no join, no window, and no distinct-values pre-job (which undeclared
    values would add as a separate collect)."""
    from tokens_ts import analytics

    df = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.dow_hour_pivot(df))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan and "pivotfirst" in plan
    assert "Join" not in plan and "Window" not in plan


def test_fim_plan_is_shuffle_free(spark, seq_tiny):
    """FIM planning is row-local: zero exchanges at any corpus size."""
    from tokens_ts import textops

    plan = _plan(textops.fim_plan(seq_tiny))
    assert "Exchange" not in plan
    assert "Window" not in plan and "Join" not in plan


def test_mutual_info_corpus_reduced_before_pairs(spark, events_path):
    """mutual_info touches the corpus in ONE count aggregation; the
    pair/binning/entropy stages run on the bounded hour×type frame —
    no window anywhere, and no join against raw events (the only
    joins combine the pair-level entropy aggregates)."""
    from tokens_ts import analytics

    df = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.mutual_info(df))
    assert "Window" not in plan
    # the corpus feeds ONE cached (hour, type) count agg; every pair/
    # entropy branch reads the cache, never the parquet again — and
    # the joins combining the pair-level aggregates are broadcasts.
    # every pair/entropy branch reads the cached frame (the FileScan
    # strings inside InMemoryRelation descriptions are lineage, not
    # re-scans: executing the plan hits the cache).
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan


def test_curriculum_no_single_partition_window(spark):
    """The curriculum window partitions by (rung, source) — no
    SinglePartition anywhere despite the global step output; the
    offsets join is a broadcast."""
    from tokens_ts import packing

    rows = [(f"d{i:04d}", f"src{i % 3}", 16 + i % 200) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tok int")
    plan = _plan(packing.curriculum(df))
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_basket_lift_pairs_expand_row_locally_no_items_self_join(spark, events_path):
    """basket_lift expands each basket's pairs with a row-local
    nested transform — the plan must contain NO SortMergeJoin (the
    support joins are broadcasts on the types-bounded frames)."""
    from tokens_ts import analytics

    df = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.basket_lift(df))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_session_nll_matrix_broadcast_single_lag_lineage(spark, events_path):
    """session_nll joins the types²-bounded matrix back via broadcast;
    the corpus-side lineage is one user-key window (cached) — no
    SortMergeJoin anywhere."""
    from tokens_ts import analytics

    df = spark.read.parquet(events_path + "/events.parquet")
    plan = _plan(analytics.session_nll(df))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_broadcasts_filter(spark):
    """The Bloom filter side is words-bounded, so the probe join must
    be a BroadcastHashJoin — a shuffled join here would shuffle the
    probe corpus at ingest scale."""
    from tokens_ts import sketch

    items = spark.range(200).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("item"),
        F.lit("g").alias("g"),
    )
    bloom = sketch.bloom_build(items, "item", ["g"], m_bits=960, k=4)
    out = sketch.bloom_probe(bloom, items, "item", ["g"], m_bits=960, k=4)
    p = _plan(out)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dim_filter_prunes_tier_partitions_dynamically(spark, tmp_path_factory):
    """Dynamic partition pruning on the tier layout: when a tier table
    partitioned by source is joined to a registry dim filtered on a
    NON-key column, the fact scan must carry a dynamicpruning partition
    filter — at 10^12 rows the alternative is a full-table scan whose
    rows are thrown away by the join. (Static pruning can't help: the
    surviving source set is only known from the dim rows.)"""
    root = str(tmp_path_factory.mktemp("dpp"))
    fact = spark.range(0, 5000).select(
        F.concat(F.lit("src"), F.format_string("%02d", F.col("id") % 16)).alias(
            "source"
        ),
        F.col("id").alias("v"),
    )
    fact.write.mode("overwrite").partitionBy("source").parquet(root + "/t1h")
    dim = spark.createDataFrame(
        [(f"src{i:02d}", "gold" if i < 3 else "bulk") for i in range(16)],
        "source string, tier_class string",
    )
    out = (
        spark.read.parquet(root + "/t1h")
        .join(F.broadcast(dim.where(F.col("tier_class") == "gold")), "source")
        .groupBy("source")
        .agg(F.sum("v").alias("sv"))
    )
    plan = _plan(out)
    assert "dynamicpruning" in plan, plan
    # and it is attached to the fact scan's PARTITION filters
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "dynamicpruning" in pf


def test_bucketed_tables_join_and_agg_without_exchange(spark, tmp_path_factory):
    """write_bucketed co-locates a stable join key: two tables bucketed
    the same way must SortMergeJoin with NO Exchange on either side,
    and a groupBy on the bucket key of one table must hash-aggregate
    with no shuffle — the recurring-join contract at 10^12 rows."""
    import uuid

    from tokens_ts.io.catalog import read_bucketed, write_bucketed

    # spark.sql.warehouse.dir is static per-session; managed tables
    # land under the session default and are dropped (with data) below
    sfx = uuid.uuid4().hex[:8]
    ta, tb = f"bk_a_{sfx}", f"bk_b_{sfx}"
    rows = spark.range(0, 1000).select(
        (F.col("id") % 50).alias("series_id"), F.col("id").alias("v")
    )
    try:
        write_bucketed(rows, ta, "series_id", n_buckets=8)
        write_bucketed(
            rows.withColumn("v", F.col("v") * 2), tb, "series_id", n_buckets=8
        )
        a, b = read_bucketed(spark, ta), read_bucketed(spark, tb)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = a.join(b, "series_id")
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert j.count() == 1000 * 20  # 50 keys x 20 x 20 matches
            g = a.groupBy("series_id").agg(F.sum("v").alias("s"))
            gplan = _plan(g)
            assert "Exchange" not in gplan, gplan
            assert g.count() == 50
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # a plain path read of the same files DISCARDS the bucket
        # spec -- the read_bucketed contract exists for a reason
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {ta}")
            .where(F.col("col_name") == "Location")
            .collect()[0]["data_type"]
        )
        raw = spark.read.parquet(loc.replace("file:", ""))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            rplan = _plan(raw.join(raw.withColumnRenamed("v", "w"), "series_id"))
            assert "Exchange" in rplan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_orc_partition_layout_prunes(spark, tmp_path_factory):
    """The ORC source pair's layout claim: a read filtered to two
    event_type values must carry static PartitionFilters on the
    partition column (2/5 of the directories listed, zero data files
    of the other three touched) — the same pruning contract the
    parquet tier layout is held to, proven on the second format."""
    root = str(tmp_path_factory.mktemp("orcsrc"))
    df = spark.range(0, 1000).select(
        F.col("id").alias("v"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
            "event_type"
        ),
    )
    df.write.mode("overwrite").partitionBy("event_type").orc(root + "/e")
    back = (
        spark.read.orc(root + "/e")
        .where(F.col("event_type").isin("t1", "t3"))
        .groupBy("event_type")
        .agg(F.sum("v").alias("sv"))
    )
    plan = _plan(back)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_type" in pf and "t1" in pf, plan
    assert back.count() == 2
