"""Backfill / resume / increment end-to-end over a temp warehouse."""

import math

import pyspark.sql.functions as F
import pytest

from tokens_ts import checkpoint, grid, pipeline, tiers
from tokens_ts.io.catalog import Catalog


def _tier_snapshot(spark, root, name):
    return _frame_snapshot(Catalog(root).read(spark, name))


def _frame_snapshot(df):
    rows = df.drop("day").collect()
    out = {}
    for r in rows:
        out[(r["source"], r["series_id"], r["window_start"])] = (
            r["cnt"],
            r["sum"],
            r["min"],
            r["max"],
            r["sum_sq"],
        )
    return out


def _same(a, b):
    assert a.keys() == b.keys()
    for k in a:
        for x, y in zip(a[k], b[k]):
            if x is None or y is None:
                assert x is None and y is None, k
            elif isinstance(x, float):
                assert math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12), (k, x, y)
            else:
                assert x == y, (k, x, y)


def test_backfill_resume_identical(spark, seq_tiny, tmp_path):
    seq = grid.with_event_time(seq_tiny)

    # single-shot reference run
    ref_root = str(tmp_path / "ref")
    r = pipeline.run_backfill(spark, seq, ref_root)
    assert sorted(r["partitions"]) == ["src00", "src01", "src02", "src03"]

    # interrupted run: 2 partitions, then resume
    root = str(tmp_path / "resumed")
    r1 = pipeline.run_backfill(spark, seq, root, max_partitions=2)
    assert len(r1["partitions"]) == 2
    r2 = pipeline.run_backfill(spark, seq, root)
    assert sorted(r1["partitions"] + r2["partitions"]) == [
        "src00", "src01", "src02", "src03",
    ]
    # third run: nothing pending, nothing reprocessed
    r3 = pipeline.run_backfill(spark, seq, root)
    assert r3["skipped"]

    for name in ("t1m", "t1h", "t1d"):
        _same(_tier_snapshot(spark, root, name), _tier_snapshot(spark, ref_root, name))

    # lineage: every partition exactly one 'done' attempt, checksums match input
    m = checkpoint.read_manifest(spark, str(tmp_path / "resumed" / "_lineage"))
    per = {r["partition_id"]: r for r in m.collect()}
    assert len(per) == 4
    assert all(r["attempt"] == 1 for r in per.values())
    cs = {
        r["partition_id"]: (r["token_checksum"], r["rows_in"])
        for r in checkpoint.token_checksum_by_partition(seq).collect()
    }
    for p, r in per.items():
        assert (r["token_checksum"], r["rows_in"]) == cs[p], p
    assert all(r["points_raw"] > 0 and r["points_1m"] > 0 for r in per.values())


def test_backfill_crash_between_commits_resumes_remainder(spark, seq_tiny, tmp_path):
    """Lineage is partition-granular: kill a 4-partition backfill after
    2 per-partition commits; the rerun processes ONLY the remaining 2,
    the end state is identical to a single-shot run, and each manifest
    row carries its own measured wall_ms (not an invocation average)."""
    seq = grid.with_event_time(seq_tiny)
    ref_root = str(tmp_path / "ref")
    pipeline.run_backfill(spark, seq, ref_root)

    root = str(tmp_path / "crashy")
    with pytest.raises(RuntimeError, match="injected crash after 2 commits"):
        pipeline.run_backfill(spark, seq, root, _crash_after_commits=2)

    m1 = checkpoint.read_manifest(spark, str(tmp_path / "crashy" / "_lineage"))
    committed = sorted(r["partition_id"] for r in m1.collect())
    assert committed == ["src00", "src01"]  # exactly the 2 pre-crash commits

    r2 = pipeline.run_backfill(spark, seq, root)
    assert sorted(r2["partitions"]) == ["src02", "src03"]  # only the remainder

    for name in ("t1m", "t1h", "t1d"):
        _same(_tier_snapshot(spark, root, name), _tier_snapshot(spark, ref_root, name))

    m = checkpoint.read_manifest(spark, str(tmp_path / "crashy" / "_lineage"))
    per = {r["partition_id"]: r for r in m.collect()}
    assert len(per) == 4 and all(r["attempt"] == 1 for r in per.values())
    walls = [r["wall_ms"] for r in per.values()]
    assert all(w > 0 for w in walls)
    # per-partition measurement: four independently-timed waves can't
    # all collide on the same float millisecond
    assert len(set(walls)) > 1
    # every row carries the watermark carrier
    assert all(r["max_event_us"] is not None for r in per.values())


def test_manifest_compaction_preserves_consumers(spark, seq_tiny, tmp_path):
    """compact_manifest folds history to one row per partition while
    preserving everything consumers derive: done set, attempt counts,
    high-watermark, latest metrics."""
    path = str(tmp_path / "m")
    for attempt_round in range(5):
        checkpoint.record_done(
            spark,
            path,
            [
                {
                    "partition_id": f"batch:e{attempt_round}",
                    "rows_in": 10 + attempt_round,
                    "max_event_us": 1_000_000 * (attempt_round + 1),
                },
                {"partition_id": "src00", "rows_in": 7, "wall_ms": 1.5},
            ],
            f"run{attempt_round}",
            {"src00": attempt_round},  # src00 re-attempted each round
        )
    before_done = {
        r["partition_id"]
        for r in checkpoint.done_partitions(spark, path).collect()
    }
    before_wm = checkpoint.watermark_us(spark, path)
    assert checkpoint.read_manifest(spark, path).count() == 10

    n = checkpoint.compact_manifest(spark, path)
    assert n == 6  # 5 epochs + src00
    m = checkpoint.read_manifest(spark, path)
    assert m.count() == 6
    assert {
        r["partition_id"] for r in checkpoint.done_partitions(spark, path).collect()
    } == before_done
    assert checkpoint.watermark_us(spark, path) == before_wm == 5_000_000
    src = {r["partition_id"]: r for r in m.collect()}["src00"]
    assert src["attempt"] == 5 and src["rows_in"] == 7
    # still done/appendable afterwards: the gate keeps working
    assert checkpoint.is_done(spark, path, "batch:e3")
    assert not checkpoint.is_done(spark, path, "batch:e9")


def test_manifest_points_match_tables_after_backfill_and_increment(
    spark, seq_tiny, tmp_path
):
    """Each manifest row's points_raw/1m/1h/1d equal its source's row
    counts in the four tables and max_event_us equals the raw maximum —
    pins the counts observed on the wave's writes, with two sources per
    wave so the per-source split is exercised. The increment folds a new
    source, so the backfill rows must still match afterwards, and its
    batch row carries that source's raw maximum."""
    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "w")
    pipeline.run_backfill(
        spark, seq.where(F.col("source") != "src03"), root, commit_batch=2
    )
    pipeline.run_increment(
        spark, seq.where(F.col("source") == "src03"), root, batch_id="e1"
    )
    cat = Catalog(root)
    want = {}
    for t, name in (("raw", "raw"), *pipeline.TIER_NAMES.items()):
        for r in cat.read(spark, name).groupBy("source").count().collect():
            want.setdefault(r["source"], {})[f"points_{t}"] = r["count"]
    for r in (
        cat.read(spark, "raw")
        .groupBy("source")
        .agg(F.max(F.unix_micros("event_ts")).alias("m"))
        .collect()
    ):
        want[r["source"]]["max_event_us"] = r["m"]

    rows = checkpoint.read_manifest(spark, cat).collect()
    assert sorted(r["partition_id"] for r in rows) == [
        "batch:e1", "src00", "src01", "src02",
    ]
    for r in rows:
        if r["partition_id"] == "batch:e1":
            assert r["max_event_us"] == want["src03"]["max_event_us"]
            continue
        got = {k: r[k] for k in want[r["partition_id"]]}
        assert got == want[r["partition_id"]], r["partition_id"]


def test_written_tiers_equal_build_all_tiers(spark, seq_tiny, tmp_path):
    """The tiers _write_tiers lands (1m rolled up from raw, 1h/1d
    cascaded from the written finer tier) equal tiers.build_all_tiers
    over the stored raw — after the backfill, and again after an
    increment touching a single day."""
    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "s")
    cat = Catalog(root)

    def check():
        frames = tiers.build_all_tiers(
            cat.read(spark, "raw").drop("day", "batch_id")
        )
        for t, name in pipeline.TIER_NAMES.items():
            _same(_tier_snapshot(spark, root, name), _frame_snapshot(frames[t]))

    pipeline.run_backfill(
        spark, seq.where(F.col("k") < 300), root, commit_batch=4
    )
    check()

    inc = pipeline.run_increment(
        spark, seq.where(F.col("k") >= 300), root, batch_id="e1"
    )
    assert len(inc["touched"]) == 1  # one (source, day) partition
    check()


def test_grid_bounds_every_1m_group(spark, seq_tiny, tmp_path):
    """Why the 1m rollup needs no salt: on the registry grid (one
    document per slot, integer step ≥ 1 s) a (source, series_id, 1m
    window) group holds at most ceil(60 / step) raw points, so no
    reduce group can grow with a hot source — it spreads over its
    minutes. At the default 60/120/180 s steps every group holds one
    point: t1m has exactly as many rows as raw. If extraction ever
    emits many points per slot, this fails where salting might pay."""
    from tokens_ts import config as C

    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "g")
    pipeline.run_backfill(spark, seq, root, commit_batch=4)
    cat = Catalog(root)
    raw = cat.read(spark, "raw")
    per_source = (
        raw.groupBy(
            "source", "series_id", F.date_trunc("minute", "event_ts")
        )
        .count()
        .groupBy("source")
        .agg(F.max("count").alias("m"))
        .collect()
    )
    assert len(per_source) == 4
    for r in per_source:
        step = C.step_seconds(int(r["source"][3:]))
        assert r["m"] <= math.ceil(60 / step), (r["source"], r["m"])
    assert cat.read(spark, "t1m").count() == raw.count()


def test_record_done_roundtrips_edge_values(spark, tmp_path):
    """The Arrow-built manifest append keeps MANIFEST_SCHEMA's types and
    values: a negative token_checksum, a None max_event_us and an
    incremented attempt read back unchanged, in one file per commit —
    also when a column is None in every row of the commit."""
    import glob

    path = str(tmp_path / "m")
    checkpoint.record_done(
        spark,
        path,
        [
            {
                "partition_id": "src00",
                "rows_in": 5,
                "points_raw": 15,
                "token_checksum": -(2**63),
                "wall_ms": 2.5,
                "max_event_us": None,
            }
        ],
        "run1",
        {"src00": 2},
    )
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    # the file's own schema, not the one read_manifest imposes
    assert [(f.name, f.dataType) for f in spark.read.parquet(path).schema] == [
        (f.name, f.dataType) for f in checkpoint.MANIFEST_SCHEMA
    ]
    checkpoint.record_done(
        spark, path, [{"partition_id": "batch:x", "rows_in": -1, "max_event_us": 7}], "run2"
    )
    per = {r["partition_id"]: r for r in checkpoint.read_manifest(spark, path).collect()}
    src = per["src00"]
    assert src["token_checksum"] == -(2**63)
    assert src["max_event_us"] is None
    assert src["attempt"] == 3
    assert (src["status"], src["rows_in"], src["points_raw"], src["points_1d"]) == (
        "done", 5, 15, 0,
    )
    assert (src["wall_ms"], src["job_run_id"]) == (2.5, "run1")
    b = per["batch:x"]
    assert (b["rows_in"], b["max_event_us"], b["attempt"]) == (-1, 7, 1)
    assert b["token_checksum"] == 0 and b["job_run_id"] == "run2"


def _merge_into_pandas(target, source, keys):
    """Reference MERGE INTO semantics (the Iceberg branch this sandbox
    cannot execute): matched-on-keys target rows are REPLACED by their
    source row, unmatched source rows are inserted, everything else in
    the target is untouched."""
    import pandas as pd

    if target is None or len(target) == 0:
        return source.copy()
    skeys = set(map(tuple, source[keys].itertuples(index=False)))
    unmatched = target[
        [tuple(r) not in skeys for r in target[keys].itertuples(index=False)]
    ]
    return pd.concat([unmatched, source], ignore_index=True)


def _raw_batch(spark, rows):
    """rows = (source, series_id, event_ts_iso, value, batch_id)."""
    import datetime as dt

    data = [
        (
            s,
            sid,
            dt.datetime.fromisoformat(ts),
            v,
            dt.date.fromisoformat(ts[:10]),
            b,
        )
        for (s, sid, ts, v, b) in rows
    ]
    return spark.createDataFrame(
        data,
        "source string, series_id string, event_ts timestamp, "
        "value double, day date, batch_id string",
    )


def _canon_spark(cat, spark):
    return sorted(
        (r["source"], r["series_id"], r["event_ts"].isoformat(),
         r["value"], str(r["day"]), r["batch_id"])
        for r in cat.read(spark, "raw").collect()
    )


def _canon_pandas(df):
    return sorted(
        (r.source, r.series_id, r.event_ts.isoformat(),
         r.value, str(r.day), r.batch_id)
        for r in df.itertuples(index=False)
    )


def test_upsert_raw_matches_merge_into_semantics(spark, tmp_path):
    """The offline-testable half of the Iceberg risk: the parquet
    read-filter-union fallback and real MERGE INTO (keyed on
    RAW_MERGE_KEYS, simulated exactly in pandas) must produce
    identical row sets across the interleavings production sees:
    fresh apply → retry → second overlapping batch → late retry of
    the first batch → partial-apply crash then retry."""
    from tokens_ts.pipeline import RAW_MERGE_KEYS, _upsert_raw

    cat = Catalog(str(tmp_path / "wh"))
    state = None  # the pandas "Iceberg table"

    A = [
        ("s1", "m", "2024-01-01T00:00:30", 1.0, "A"),
        ("s1", "m", "2024-01-01T00:01:30", 2.0, "A"),
        ("s1", "m", "2024-01-02T00:00:30", 3.0, "A"),
        ("s2", "m", "2024-01-01T00:00:30", 4.0, "A"),
    ]
    # B overlaps A's partitions AND collides on (series_id, event_ts)
    # with A's first row — batch_id in the key keeps both
    B = [
        ("s1", "m", "2024-01-01T00:00:30", 9.0, "B"),
        ("s1", "m", "2024-01-01T00:02:30", 5.0, "B"),
    ]
    # C touches a disjoint day — must never disturb other partitions
    C = [("s1", "m", "2024-03-01T00:00:30", 7.0, "C")]

    def apply(batch, bid):
        nonlocal state
        df = _raw_batch(spark, batch)
        srcs = sorted({r[0] for r in batch})
        days = sorted({r[2][:10] for r in batch})
        sel = F.col("source").isin(srcs) & F.col("day").isin(days)
        _upsert_raw(spark, cat, df, sel, bid)
        state = _merge_into_pandas(state, df.toPandas(), RAW_MERGE_KEYS)
        assert _canon_spark(cat, spark) == _canon_pandas(state), bid

    apply(A, "A")          # 1. fresh apply
    apply(A, "A")          # 2. retry — must be a no-op
    apply(B, "B")          # 3. overlapping second batch
    apply(A, "A")          # 4. late retry of A after B landed
    apply(C, "C")          # 5. disjoint partition
    apply(B, "B")          # 6. retry of B after C

    # 7. partial-apply crash then retry, on a fresh warehouse: the
    # table holds half of A (as if the writer died mid-batch); the
    # deterministic rerun ships the FULL batch and both engines
    # converge to the exact single-shot state
    cat2 = Catalog(str(tmp_path / "wh2"))
    state2 = None

    def apply2(batch, bid):
        nonlocal state2
        df = _raw_batch(spark, batch)
        srcs = sorted({r[0] for r in batch})
        days = sorted({r[2][:10] for r in batch})
        sel = F.col("source").isin(srcs) & F.col("day").isin(days)
        _upsert_raw(spark, cat2, df, sel, bid)
        state2 = _merge_into_pandas(state2, df.toPandas(), RAW_MERGE_KEYS)
        assert _canon_spark(cat2, spark) == _canon_pandas(state2), bid

    apply2(A[:2], "A")     # partial (crashed) apply
    apply2(A, "A")         # full retry converges
    single_shot = Catalog(str(tmp_path / "wh3"))
    df = _raw_batch(spark, A)
    _upsert_raw(
        spark, single_shot, df,
        F.col("source").isin(["s1", "s2"])
        & F.col("day").isin(["2024-01-01", "2024-01-02"]),
        "A",
    )
    assert _canon_spark(cat2, spark) == _canon_spark(single_shot, spark)


def test_manifest_compaction_crash_between_append_and_delete(
    spark, tmp_path, monkeypatch
):
    """Crash-injection for the append-then-delete compaction: dying
    after the compacted file lands but before (or midway through) the
    old-file deletes must leave every consumer-visible quantity intact
    — duplicates only, no lost rows, no watermark reset — and the next
    compaction must converge."""
    path = str(tmp_path / "m")
    for i in range(4):
        checkpoint.record_done(
            spark,
            path,
            [
                {"partition_id": f"batch:e{i}", "rows_in": i,
                 "max_event_us": 1_000_000 * (i + 1)},
                {"partition_id": "src00", "rows_in": 7},
            ],
            f"run{i}",
            {"src00": i},
        )
    before_done = {
        r["partition_id"]
        for r in checkpoint.done_partitions(spark, path).collect()
    }
    before_wm = checkpoint.watermark_us(spark, path)

    # crash #1: immediately after append, before any delete
    def _boom(spark_, paths):
        raise RuntimeError("injected crash before delete")

    monkeypatch.setattr(checkpoint, "_delete_files", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        checkpoint.compact_manifest(spark, path)
    monkeypatch.undo()

    m = checkpoint.read_manifest(spark, path)
    assert m.count() > 5  # originals + compacted rows coexist
    assert {
        r["partition_id"] for r in checkpoint.done_partitions(spark, path).collect()
    } == before_done
    assert checkpoint.watermark_us(spark, path) == before_wm
    src = [r for r in m.collect() if r["partition_id"] == "src00"]
    assert max(r["attempt"] for r in src) == 4

    # crash #2: midway through the deletes (half removed, then die)
    real_delete = checkpoint._delete_files

    def _half_then_boom(spark_, paths):
        real_delete(spark_, paths[: len(paths) // 2])
        raise RuntimeError("injected crash mid-delete")

    monkeypatch.setattr(checkpoint, "_delete_files", _half_then_boom)
    with pytest.raises(RuntimeError, match="mid-delete"):
        checkpoint.compact_manifest(spark, path)
    monkeypatch.undo()
    assert {
        r["partition_id"] for r in checkpoint.done_partitions(spark, path).collect()
    } == before_done
    assert checkpoint.watermark_us(spark, path) == before_wm

    # recovery: a clean compaction converges to one row per partition
    n = checkpoint.compact_manifest(spark, path)
    assert n == 5
    m2 = checkpoint.read_manifest(spark, path)
    assert m2.count() == 5
    assert checkpoint.watermark_us(spark, path) == before_wm
    src = {r["partition_id"]: r for r in m2.collect()}["src00"]
    assert src["attempt"] == 4
    assert checkpoint.is_done(spark, path, "batch:e2")


def test_increment_manifest_row_carries_watermark(spark, seq_tiny, tmp_path):
    """The fold's completion row IS the watermark advance: its
    max_event_us equals the batch's true max event time (no separate
    watermark write to lose in a crash). The batch spans three sources
    whose max event times differ, so the maximum is taken over every
    touched partition, not read off one of them."""
    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "w")
    pipeline.run_backfill(spark, seq.where(F.col("k") < 100), root)
    new = seq.where(F.col("k") >= 100)
    pipeline.run_increment(spark, new, root, batch_id="e1")
    m = checkpoint.read_manifest(spark, str(tmp_path / "w" / "_lineage"))
    row = [r for r in m.collect() if r["partition_id"] == "batch:e1"]
    assert len(row) == 1
    expected = new.agg(
        F.max(F.unix_micros("event_ts")).alias("m")
    ).collect()[0]["m"]
    assert row[0]["max_event_us"] == expected
    assert checkpoint.watermark_us(spark, Catalog(root)) == expected


def test_increment_matches_full_backfill(spark, seq_tiny, tmp_path):
    seq = grid.with_event_time(seq_tiny)
    old = seq.where(F.col("k") < 300)
    new = seq.where(F.col("k") >= 300)

    full_root = str(tmp_path / "full")
    pipeline.run_backfill(spark, seq, full_root)

    inc_root = str(tmp_path / "inc")
    pipeline.run_backfill(spark, old, inc_root)
    res = pipeline.run_increment(spark, new, inc_root)
    assert res["touched"]

    for name in ("t1m", "t1h", "t1d"):
        _same(
            _tier_snapshot(spark, inc_root, name),
            _tier_snapshot(spark, full_root, name),
        )


def test_declared_read_schemas_match_inferred(spark, seq_tiny, tmp_path):
    """Every schema a read declares is the one Spark infers from the
    written files, after a backfill and an increment: raw (the written
    raw frame's schema), the three tiers (TIER_SCHEMA) and the manifest
    (MANIFEST_SCHEMA). A writer that drifts from its reader fails here
    instead of reading a column as null."""
    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "w")
    pipeline.run_backfill(spark, seq.where(F.col("k") < 300), root)
    pipeline.run_increment(spark, seq.where(F.col("k") >= 300), root)
    cat = Catalog(root)
    declared = {
        "raw": pipeline._raw_rows(seq, "b").schema,
        **{name: tiers.TIER_SCHEMA for name in ("t1m", "t1h", "t1d")},
        "_lineage": checkpoint.MANIFEST_SCHEMA,
    }
    for name, schema in declared.items():
        inferred = [(f.name, f.dataType) for f in cat.read(spark, name).schema]
        assert sorted(inferred) == sorted(
            (f.name, f.dataType) for f in schema
        ), name
        read = cat.read(spark, name, schema).schema
        assert [(f.name, f.dataType) for f in read] == inferred, name


def test_declared_read_starts_no_job(spark, seq_tiny, tmp_path):
    """A declared Catalog.read (and read_manifest) plans without a
    Spark job; the inferred read of the same table runs one — the
    footer-inference job the declared reads avoid."""
    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "w")
    pipeline.run_backfill(spark, seq.where(F.col("source") == "src00"), root)
    cat = Catalog(root)
    raw_schema = pipeline._raw_rows(seq, "b").schema
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-declared-read-" + checkpoint.new_run_id()
    sc.setJobGroup(group, "declared reads")
    try:
        cat.read(spark, "raw", raw_schema)
        cat.read(spark, "t1h", tiers.TIER_SCHEMA)
        checkpoint.read_manifest(spark, cat)
        declared_jobs = list(tracker.getJobIdsForGroup(group))
        cat.read(spark, "t1h")
        inferred_jobs = list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert declared_jobs == []
    assert inferred_jobs


def test_increment_converges_on_raw_without_batch_id(spark, seq_tiny, tmp_path):
    """A raw table written before raw rows carried batch_id: the
    declared raw read fills the column with null, so the upsert keeps
    those rows, and the increment converges to the state of a
    warehouse that always had the column."""
    seq = grid.with_event_time(seq_tiny)
    old = seq.where(F.col("k") < 300)
    new = seq.where(F.col("k") >= 300)

    ref_root = str(tmp_path / "ref")
    pipeline.run_backfill(spark, old, ref_root)
    pipeline.run_increment(spark, new, ref_root)

    root = str(tmp_path / "legacy")
    pipeline.run_backfill(spark, old, root)
    cat = Catalog(root)
    legacy = cat.read(spark, "raw").drop("batch_id").localCheckpoint(eager=True)
    legacy.write.mode("overwrite").partitionBy("source", "day").parquet(
        cat.path("raw")
    )
    assert "batch_id" not in cat.read(spark, "raw").columns

    res = pipeline.run_increment(spark, new, root)
    assert res["touched"] and not res.get("skipped")
    _same(_raw_snapshot(spark, root), _raw_snapshot(spark, ref_root))
    for name in ("t1m", "t1h", "t1d"):
        _same(_tier_snapshot(spark, root, name), _tier_snapshot(spark, ref_root, name))


def _raw_snapshot(spark, root):
    rows = Catalog(root).read(spark, "raw").collect()
    out = {}
    for r in rows:
        k = (r["source"], r["series_id"], r["event_ts"])
        assert k not in out, f"duplicate raw point {k}"
        out[k] = (r["value"],)
    return out


def test_increment_crash_rerun_identical(spark, seq_tiny, tmp_path):
    """Kill an increment between the raw write and the tier/manifest
    writes; rerunning the same batch must converge to the single-shot
    state — no double-counted raw points, identical tiers."""
    seq = grid.with_event_time(seq_tiny)
    old = seq.where(F.col("k") < 300)
    new = seq.where(F.col("k") >= 300)

    ref_root = str(tmp_path / "ref")
    pipeline.run_backfill(spark, old, ref_root)
    pipeline.run_increment(spark, new, ref_root)

    root = str(tmp_path / "crashy")
    pipeline.run_backfill(spark, old, root)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipeline.run_increment(spark, new, root, _crash_after_raw=True)
    # rerun after the crash: same batch content → same batch id
    res = pipeline.run_increment(spark, new, root)
    assert res["touched"] and not res.get("skipped")

    _same(_raw_snapshot(spark, root), _raw_snapshot(spark, ref_root))
    for name in ("t1m", "t1h", "t1d"):
        _same(_tier_snapshot(spark, root, name), _tier_snapshot(spark, ref_root, name))

    # replaying the now-completed batch is a manifest-level no-op
    res2 = pipeline.run_increment(spark, new, root)
    assert res2.get("skipped") and res2["touched"] == []
    _same(_raw_snapshot(spark, root), _raw_snapshot(spark, ref_root))


def test_increment_replay_skipped_by_batch_id(spark, seq_tiny, tmp_path):
    """An already-applied batch (at-least-once delivery replay) is
    skipped outright — tiers stay byte-identical."""
    seq = grid.with_event_time(seq_tiny)
    old = seq.where(F.col("k") < 300)
    new = seq.where(F.col("k") >= 300)
    root = str(tmp_path / "w")
    pipeline.run_backfill(spark, old, root)
    r1 = pipeline.run_increment(spark, new, root, batch_id="epoch-7")
    snap = {n: _tier_snapshot(spark, root, n) for n in ("t1m", "t1h", "t1d")}
    r2 = pipeline.run_increment(spark, new, root, batch_id="epoch-7")
    assert r1["touched"] and r2.get("skipped")
    for n in ("t1m", "t1h", "t1d"):
        _same(_tier_snapshot(spark, root, n), snap[n])


def test_backfill_single_manifest_scan(spark, seq_tiny, tmp_path, monkeypatch):
    """The manifest is read ONCE per invocation: with 4 pending
    partitions at commit_batch=1 (4 waves), the number of
    read_manifest calls must not grow with the wave count."""
    calls = {"n": 0}
    real = checkpoint.read_manifest

    def counting(spark_, cat_):
        calls["n"] += 1
        return real(spark_, cat_)

    monkeypatch.setattr(pipeline.checkpoint, "read_manifest", counting)
    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "one_scan")
    r = pipeline.run_backfill(spark, seq, root, commit_batch=1)
    monkeypatch.undo()  # count run_backfill's calls only
    assert len(r["partitions"]) == 4
    assert {
        row["partition_id"]
        for row in checkpoint.done_partitions(
            spark, pipeline.Catalog(root, "parquet")
        ).collect()
    } == {"src00", "src01", "src02", "src03"}
    # resume set and attempt bases share ONE read
    assert calls["n"] == 1, calls["n"]


def test_backfill_collects_twice(spark, seq_tiny, tmp_path, monkeypatch):
    """A backfill collects twice however many waves it runs: the
    manifest's partition summary and the pending sources. Each wave's
    lineage (rows_in, token_checksum, points, max event time) is
    observed on its writes, never collected."""
    calls = {"n": 0}
    cls = type(seq_tiny)
    real = cls.collect

    def counting(self):
        calls["n"] += 1
        return real(self)

    monkeypatch.setattr(cls, "collect", counting)
    seq = grid.with_event_time(seq_tiny)
    r = pipeline.run_backfill(spark, seq, str(tmp_path / "w"), commit_batch=1)
    monkeypatch.undo()
    assert len(r["partitions"]) == 4
    assert calls["n"] == 2, calls["n"]


def test_default_extraction_equals_union_of_operators(spark, seq_tiny):
    """The one-projection extraction emits exactly the rows of the
    two-branch union it replaces — full_stats mean/max melted, plus
    point p7 — edge documents included, and one row per series for
    every input row (the backfill's input observation needs every row
    to reach the write)."""
    from tokens_ts import config as C
    from tokens_ts import extract

    pad = C.PAD_ID
    # one document per edge: fewer than 8 tokens, PAD at position 7,
    # all PAD, and an empty token array
    edge = spark.createDataFrame(
        [
            ("src00-000000900000", [5, 6, 7], "src00"),
            ("src00-000000900001", [1, 2, 3, 4, 5, 6, 7, pad, 9], "src00"),
            ("src01-000000900002", [pad] * 10, "src01"),
            ("src01-000000900003", [], "src01"),
        ],
        "doc_id string, tokens array<int>, source string",
    ).withColumn("n_tok", F.size("tokens"))
    seq = grid.with_event_time(
        seq_tiny.unionByName(edge.select(*seq_tiny.columns))
    )
    got = pipeline.default_extraction(seq)
    want = extract.to_raw(extract.full_stats(seq, ["mean", "max"])).unionByName(
        extract.to_raw(extract.point(seq, 7))
    )

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    assert got.columns == want.columns
    g = rows(got)
    assert g == rows(want)
    assert len(g) == 3 * seq.count()
    edge_raw = pipeline.default_extraction(seq.where(F.col("k") >= 900000))
    # the short and PAD-at-7 documents have a mean and max but no p7;
    # the all-PAD and empty ones still emit all three, as nulls
    assert sorted(
        (r["series_id"], r["value"] is None) for r in edge_raw.collect()
    ) == sorted(
        [("full_mean", False), ("full_max", False), ("point_p7", True)] * 2
        + [("full_mean", True), ("full_max", True), ("point_p7", True)] * 2
    )


def test_raw_rows_plan_scans_input_once(spark, seq_tiny, tmp_path):
    """The raw rows' optimized plan reads the input through exactly one
    scan, with no Union; the physical plan has no Exchange."""
    path = str(tmp_path / "seq")
    seq_tiny.write.parquet(path)
    raw = pipeline._raw_rows(grid.with_event_time(spark.read.parquet(path)), "b")
    qe = raw._jdf.queryExecution()
    assert qe.optimizedPlan().collectLeaves().size() == 1
    assert "Union" not in qe.optimizedPlan().toString()
    assert "Exchange" not in qe.executedPlan().toString()


def _file_hashes(root_dir):
    import hashlib
    import os

    out = {}
    for dirpath, _, files in os.walk(root_dir):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root_dir)] = hashlib.md5(
                    fh.read()
                ).hexdigest()
    return out


def _multiday_warehouse(spark, root):
    """raw + t1m spanning 4 days × 2 sources, hive-partitioned like the
    pipeline writes them (the seq_tiny fixture spans one day only)."""
    from tokens_ts import tiers

    rows = []
    for d in range(1, 5):
        for s in ("srcA", "srcB"):
            for h in (0, 6, 12):
                rows.append((s, "mean", f"2026-01-0{d} {h:02d}:00:00", float(d * 100 + h)))
    raw = (
        spark.createDataFrame(
            rows, "source string, series_id string, ts string, value double"
        )
        .select(
            "source",
            "series_id",
            F.to_timestamp("ts").alias("event_ts"),
            "value",
        )
        .withColumn("day", F.to_date("event_ts"))
    )
    cat = Catalog(root)
    cat.overwrite_partitions(raw, "raw", ["source", "day"])
    t1m = tiers.rollup(raw.drop("day"), "1m").withColumn(
        "day", F.to_date("window_start")
    )
    cat.overwrite_partitions(t1m, "t1m", ["source", "day"])
    return cat


def test_enforce_retention_drops_old_partitions_only(spark, tmp_path):
    """Write-side retention: partitions older than the cutoff date are
    GONE from disk, kept partitions are byte-identical (no rewrite),
    the manifest records the enforcement, and a second run is an
    idempotent no-op with an incremented attempt."""
    from tokens_ts import tiers

    root = str(tmp_path / "ret")
    cat = _multiday_warehouse(spark, root)
    days = [f"2026-01-0{d}" for d in range(1, 5)]

    # now = Jan 4 12:00, keep 2 days → cutoff Jan 2 12:00 (MID-day):
    # Jan 1 drops whole; Jan 2 is a boundary day and must survive
    before = _file_hashes(f"{root}/raw")
    dropped = tiers.enforce_retention(
        spark, cat, {"raw": "2 days"}, now="2026-01-04 12:00:00"
    )
    assert {d for _, d in dropped["raw"]} == {"2026-01-01"}
    assert {s for s, _ in dropped["raw"]} == {"srcA", "srcB"}

    after = _file_hashes(f"{root}/raw")
    kept_before = {p: h for p, h in before.items() if "day=2026-01-01" not in p}
    assert after == kept_before  # kept partitions byte-identical
    remaining = {
        str(r["day"])
        for r in cat.read(spark, "raw").select("day").distinct().collect()
    }
    assert remaining == set(days[1:])

    m = checkpoint.read_manifest(spark, cat).where(
        F.col("partition_id") == "retention:raw"
    )
    row = m.collect()[0]
    assert row["rows_in"] == 2 and row["attempt"] == 1  # 2 dirs dropped
    # cutoff travels as max_event_us: Jan 2 12:00 UTC
    assert row["max_event_us"] == 1_767_355_200_000_000

    # idempotent rerun: nothing left to drop, attempt increments
    dropped2 = tiers.enforce_retention(
        spark, cat, {"raw": "2 days"}, now="2026-01-04 12:00:00"
    )
    assert dropped2["raw"] == []
    atts = sorted(
        r["attempt"]
        for r in checkpoint.read_manifest(spark, cat)
        .where(F.col("partition_id") == "retention:raw")
        .collect()
    )
    assert atts == [1, 2]
    # t1m had no policy: untouched
    assert cat.exists(spark, "t1m")
    assert len(_file_hashes(f"{root}/t1m")) > 0


def test_enforce_retention_multi_tier_and_read_side_parity(spark, tmp_path):
    """One call enforces per-tier policies (raw fastest, t1m slower,
    keep-forever absent); for a day-boundary cutoff the enforced table
    contents equal the read-side retention_filter over the pre-
    enforcement table — write-side and read-side agree on whole days."""
    from tokens_ts import tiers

    root = str(tmp_path / "ret2")
    cat = _multiday_warehouse(spark, root)

    pre = tiers.retention_filter(
        cat.read(spark, "t1m"), "2026-01-04 00:00:00", "2 days"
    ).collect()
    dropped = tiers.enforce_retention(
        spark,
        cat,
        {"raw": "1 days", "t1m": "2 days", "t1d": None},
        now="2026-01-04 00:00:00",
    )
    # raw cutoff Jan 3 00:00 → days 1,2 drop; t1m cutoff Jan 2 → day 1
    assert {d for _, d in dropped["raw"]} == {"2026-01-01", "2026-01-02"}
    assert {d for _, d in dropped["t1m"]} == {"2026-01-01"}
    assert "t1d" not in dropped  # keep-forever/absent tier untouched

    post = cat.read(spark, "t1m").collect()
    key = lambda r: (r["source"], r["series_id"], r["window_start"])
    assert sorted(map(key, post)) == sorted(map(key, pre))
    # manifest: one enforcement row per enforced table
    ids = {
        r["partition_id"]
        for r in checkpoint.read_manifest(spark, cat)
        .where(F.col("partition_id").startswith("retention:"))
        .collect()
    }
    assert ids == {"retention:raw", "retention:t1m"}


def test_token_tier_increment_exactly_once(spark, tmp_path):
    """Two batches folded into the materialized token tier equal the
    full-corpus histogram; replaying a batch (same batch_id) is a
    no-op via the manifest gate AND converges even with the gate
    bypassed (partition-identity idempotence, not add-to-existing)."""
    from datetime import datetime

    from tokens_ts import pipeline, textops

    root = str(tmp_path / "wh")
    rows = [
        ("s0", datetime(2026, 1, 1, h % 3, 0, 0), [1, 2, 2, h + 1])
        for h in range(6)
    ]
    df = spark.createDataFrame(
        rows, "source string, event_ts timestamp, tokens array<int>"
    )
    b1 = df.where("tokens[3] <= 3")
    b2 = df.where("tokens[3] > 3")

    r1 = pipeline.run_token_tier_increment(spark, b1, root, batch_id="b1")
    r2 = pipeline.run_token_tier_increment(spark, b2, root, batch_id="b2")
    assert not r1["skipped"] and not r2["skipped"]

    served = pipeline.read_token_tier(spark, root)
    full = textops.token_histogram(df)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, full.collect())
    )

    # replay hits the manifest gate
    r1b = pipeline.run_token_tier_increment(spark, b1, root, batch_id="b1")
    assert r1b["skipped"]

    # even a gate-bypassing retry (crash before the marker committed)
    # converges: rewrite b1's partitions directly and recheck equality
    from tokens_ts import checkpoint as cp
    from tokens_ts.io.catalog import Catalog
    import pyspark.sql.functions as F

    cat = Catalog(root, "parquet")
    hist = (
        textops.token_histogram(b1)
        .withColumn("day", F.to_date(F.timestamp_seconds(F.col("ep"))))
        .withColumn("batch_id", F.lit("b1"))
    )
    cat.overwrite_partitions(hist, "tok_hist", ["source", "day", "batch_id"])
    served2 = pipeline.read_token_tier(spark, root)
    assert sorted(map(tuple, served2.collect())) == sorted(
        map(tuple, full.collect())
    )

    # the served tier feeds the monitors' counts= path directly
    # (served2: re-read AFTER the overwrite — the pre-overwrite frame
    # holds a stale file listing by design of dynamic overwrite)
    direct = sorted(map(tuple, textops.dist_drift(df).collect()))
    via_tier = sorted(
        map(tuple, textops.dist_drift(None, counts=served2).collect())
    )
    assert via_tier == direct


def test_token_tier_snapshot_read_asof_and_orphans(spark, tmp_path):
    """read_token_tier_asof: (1) an orphan batch — partitions written,
    marker never committed (the crash shape) — is INVISIBLE; (2)
    asof_ts pins the tier to a past manifest state (time travel); (3)
    with all markers committed and no cutoff it equals the plain
    read."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from tokens_ts import pipeline, textops
    from tokens_ts.io.catalog import Catalog

    root = str(tmp_path / "wh")
    rows = [
        ("s0", datetime(2026, 1, 1, h % 3, 0, 0), [1, 2, 2, h + 1])
        for h in range(9)
    ]
    df = spark.createDataFrame(
        rows, "source string, event_ts timestamp, tokens array<int>"
    )
    b = [df.where(f"tokens[3] % 3 = {i}") for i in range(3)]

    pipeline.run_token_tier_increment(spark, b[0], root, batch_id="b0")
    from tokens_ts import checkpoint as cp

    cat = Catalog(root, "parquet")
    t_after_b0 = (
        cp.read_manifest(spark, cat)
        .agg(F.max("ts").alias("m"))
        .collect()[0]["m"]
    )
    pipeline.run_token_tier_increment(spark, b[1], root, batch_id="b1")

    # orphan: b2 data lands, marker never does
    orphan = (
        textops.token_histogram(b[2])
        .withColumn("day", F.to_date(F.timestamp_seconds(F.col("ep"))))
        .withColumn("batch_id", F.lit("b2"))
    )
    cat.overwrite_partitions(orphan, "tok_hist", ["source", "day", "batch_id"])

    def key(frame):
        return sorted(map(tuple, frame.collect()))

    committed = pipeline.read_token_tier_asof(spark, root)
    want_01 = textops.token_histogram(b[0].unionByName(b[1]))
    assert key(committed) == key(want_01)  # orphan invisible

    asof = pipeline.read_token_tier_asof(spark, root, asof_ts=t_after_b0)
    assert key(asof) == key(textops.token_histogram(b[0]))  # time travel

    # commit b2 for real: now snapshot == plain read == full corpus
    pipeline.run_token_tier_increment(spark, b[2], root, batch_id="b2")
    assert key(pipeline.read_token_tier_asof(spark, root)) == key(
        pipeline.read_token_tier(spark, root)
    )
    assert key(pipeline.read_token_tier_asof(spark, root)) == key(
        textops.token_histogram(df)
    )


def test_token_tier_changes_additivity_and_orphans(spark, tmp_path):
    """read_token_tier_changes: the incremental scan between manifest
    states. Pins the snapshot algebra that makes it consumable without
    a tier rescan — asof(until) == asof(since) ⊕ changes(since, until]
    — plus orphan invisibility and the empty-interval identity."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from tokens_ts import checkpoint as cp
    from tokens_ts import pipeline, textops
    from tokens_ts.io.catalog import Catalog

    root = str(tmp_path / "wh")
    rows = [
        ("s0", datetime(2026, 1, 1, h % 3, 0, 0), [1, 2, 2, h + 1])
        for h in range(9)
    ]
    df = spark.createDataFrame(
        rows, "source string, event_ts timestamp, tokens array<int>"
    )
    b = [df.where(f"tokens[3] % 3 = {i}") for i in range(3)]
    cat = Catalog(root, "parquet")

    def commit_ts(marker):
        return (
            cp.read_manifest(spark, cat)
            .where(F.col("partition_id") == marker)
            .agg(F.max("ts").alias("m"))
            .collect()[0]["m"]
        )

    pipeline.run_token_tier_increment(spark, b[0], root, batch_id="b0")
    t0 = commit_ts("tok:b0")
    pipeline.run_token_tier_increment(spark, b[1], root, batch_id="b1")
    t1 = commit_ts("tok:b1")
    # orphan: data without a marker must never appear in any delta
    orphan = (
        textops.token_histogram(b[2])
        .withColumn("day", F.to_date(F.timestamp_seconds(F.col("ep"))))
        .withColumn("batch_id", F.lit("b2"))
    )
    cat.overwrite_partitions(orphan, "tok_hist", ["source", "day", "batch_id"])

    def key(frame):
        return sorted(map(tuple, frame.collect()))

    # the delta (t0, t1] is exactly batch 1
    delta = pipeline.read_token_tier_changes(spark, root, t0, t1)
    assert key(delta) == key(textops.token_histogram(b[1]))

    # additivity: asof(t1) == asof(t0) ⊕ changes(t0, t1]
    merged = (
        pipeline.read_token_tier_asof(spark, root, asof_ts=t0)
        .unionByName(delta)
        .groupBy("source", "ep", "t")
        .agg(F.sum("c").alias("c"))
    )
    assert key(merged) == key(
        pipeline.read_token_tier_asof(spark, root, asof_ts=t1)
    )

    # empty interval → empty delta; open until → everything after t0
    assert pipeline.read_token_tier_changes(spark, root, t1, t1).count() == 0
    assert key(pipeline.read_token_tier_changes(spark, root, t0)) == key(
        textops.token_histogram(b[1])
    )


def test_forget_series_equals_recompute_without_them(spark, seq_tiny, tmp_path):
    """Store-wide right-to-be-forgotten: after forget_series, every
    tier must equal the tiers rebuilt from raw WITHOUT the series —
    the delete is indistinguishable from never having ingested it —
    and the enforcement leaves an auditable lineage row."""
    from tokens_ts import tiers

    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "store")
    pipeline.run_backfill(spark, seq, root)
    cat = Catalog(root)
    victim = sorted(
        r["series_id"]
        for r in cat.read(spark, "raw").select("series_id").distinct().collect()
    )[0]
    survivors_raw = (
        cat.read(spark, "raw")
        .where(F.col("series_id") != victim)
        .drop("day", "batch_id")
    )
    # materialize the reference BEFORE the delete: copy-on-write
    # replaces files in place, so plans over pre-delete listings go
    # stale (the delete_where docstring's documented caveat)
    ref_root = str(tmp_path / "ref")
    rcat = Catalog(ref_root)
    frames = tiers.build_all_tiers(survivors_raw)
    for t, name in pipeline.TIER_NAMES.items():
        rcat.overwrite_partitions(
            frames[t].withColumn("day", F.to_date("window_start")),
            name,
            ["source", "day"],
        )

    rep = pipeline.forget_series(spark, root, [victim])
    assert rep["rows_deleted"] > 0
    assert cat.read(spark, "raw").where(F.col("series_id") == victim).count() == 0
    for name in ("t1m", "t1h", "t1d"):
        _same(_tier_snapshot(spark, root, name), _tier_snapshot(spark, ref_root, name))

    # auditable lineage: one manifest row carrying the deletion count
    m = checkpoint.read_manifest(spark, cat)
    row = m.where(F.col("partition_id") == rep["marker"]).collect()
    assert len(row) == 1 and row[0]["rows_in"] == rep["rows_deleted"]

    # idempotent rerun: nothing left to delete, still auditable
    rep2 = pipeline.forget_series(spark, root, [victim])
    assert rep2["rows_deleted"] == 0
