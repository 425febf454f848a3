"""Backfill / increment orchestration (SURVEY.md §3.2, §4.3-4.4).

run_backfill: sequences → extraction → raw tier → 1m → 1h → 1d, one
partition-pruned distributed job per invocation, resumable at input-
partition granularity via the checkpoint manifest. Rerunning after a
crash reprocesses only pending partitions; completed partitions are
skipped (the manifest's done set, read once per invocation) and their
tier output is untouched (writes are idempotent dynamic partition
overwrites). Each wave reads its input once: the raw write is the only
job that scans it, and the wave's lineage (rows_in, token_checksum,
points per table, max event time) is observed on the writes
themselves (DataFrame.observe), not collected by jobs of its own.

run_increment: append-only micro-batch — recomputes exactly the
(source, day) tier partitions touched by the new rows, reading back
only those slices of raw (partition/row-group pruning does the rest).

Both paths write their tiers through _write_tiers, the batch-incremental
realization of "cascading continuous aggregates" (BASELINE.json:14):
1m is rolled up from the raw slice, 1h merges the 1m partials read back
from the just-written 1m table, and 1d merges the written 1h partials —
so raw is aggregated once per wave or batch, not once per tier.

All tables live under a Catalog root:
  sequences                     (input; partitioned by source)
  raw     (source, day)         extraction output points
  t1m/t1h/t1d (source, day)     partial-state tier tables
  _lineage                      checkpoint manifest
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from tokens_ts import checkpoint, extract, tiers
from tokens_ts.io.catalog import Catalog

TIER_NAMES = {"1m": "t1m", "1h": "t1h", "1d": "t1d"}


def default_extraction(seq: DataFrame) -> DataFrame:
    """Flagship extraction: full-array mean/max + point p7 per sequence.

    One row-local projection melted into raw rows, so the input is
    scanned once: the same expressions and series ids as
    to_raw(full_stats(seq, ["mean", "max"])) ∪ to_raw(point(seq, 7)),
    whose two branches would each scan it. Every input row reaches the
    output, which the backfill's input observation relies on."""
    m = F.col("_m")
    wide = extract._prep(seq).select(
        "source",
        "event_ts",
        extract.arr_mean(m).alias("full_mean"),
        extract.arr_max(m).alias("full_max"),
        extract.select_point(m, 7).alias("point_p7"),
    )
    return extract.to_raw(wide)


def _with_day(df: DataFrame, ts_col: str) -> DataFrame:
    return df.withColumn("day", F.to_date(F.col(ts_col)))


def _raw_rows(seq: DataFrame, batch_id: str) -> DataFrame:
    """The raw table's rows for `seq`: extracted points with their day
    partition and producing batch id (the backfill run id, or the
    increment's batch id — the key the upsert dedups on). Raw reads
    declare this frame's schema."""
    return _with_day(default_extraction(seq), "event_ts").withColumn(
        "batch_id", F.lit(batch_id)
    )


def _observe_by_source(
    df: DataFrame, sources: list[str], **metrics: Callable[[Column], Column]
) -> tuple[DataFrame, Callable[[], dict[str, dict]]]:
    """Attach per-source aggregates to `df`'s next action, with no job
    of their own: metrics[name](in_p) aggregates the rows of source p,
    in_p being the predicate source = p. Returns the observed frame and
    a reader that gives {source: {name: value}} once the action ran.

    Callers observe only where no Exchange lies between the aggregate
    and the action's result (the write), so a retried map task cannot
    count twice."""
    obs = Observation()
    observed = df.observe(
        obs,
        *[
            fn(F.col("source") == p).alias(f"{name}_{i}")
            for name, fn in metrics.items()
            for i, p in enumerate(sources)
        ],
    )

    def read() -> dict[str, dict]:
        got = obs.get
        return {
            p: {name: got[f"{name}_{i}"] for name in metrics}
            for i, p in enumerate(sources)
        }

    return observed, read


def run_backfill(
    spark: SparkSession,
    seq: DataFrame,
    out_root: str,
    max_partitions: int | None = None,
    fmt: str = "parquet",
    commit_batch: int = 1,
    _crash_after_commits: int | None = None,
) -> dict:
    """Process pending input partitions end-to-end; returns a summary.

    max_partitions bounds how many pending partitions this invocation
    takes (used by the kill/resume test and by production to shape
    batch size); None = all pending.

    Lineage is PARTITION-granular: partitions are processed in
    `commit_batch`-sized waves and each wave's manifest rows commit as
    the wave completes, with the wave's measured wall_ms (per-partition
    measured at the default commit_batch=1; averaged within a wave
    otherwise). A crash mid-invocation therefore loses at most one
    wave — the rerun's resume set skips everything committed so
    far. At 10^12 scale each input partition is itself a large
    distributed job, so one wave per partition keeps the cluster
    saturated; the sandbox default matches that production shape.

    Each wave is one pass over its input: the raw write is the only
    job that scans it, and the manifest row's values are observed on
    the writes (_observe_by_source) — rows_in and token_checksum on the
    wave input, points_raw and max_event_us on the raw rows, points_1m/
    1h/1d on the tier rows (_write_tiers) — so no wave runs a lineage
    job of its own.

    The 1m rollup needs no salt: the window is in its key, so a hot
    series spreads over its minutes, and with one document per grid
    slot of at least 1 s no 1m group holds more than 60 points.

    _crash_after_commits is a test hook: abort after that many wave
    commits (before the invocation completes), simulating a mid-run
    failure between manifest commits.
    """
    cat = Catalog(out_root, fmt)
    run_id = checkpoint.new_run_id()

    # ONE manifest read per invocation: resume set and attempt bases
    # both come from this collect
    summary = checkpoint.partition_summary(checkpoint.read_manifest(spark, cat))
    # sorted driver-side: an orderBy would add a sampling job and a
    # range shuffle to this collect
    part_ids = sorted(
        r["source"]
        for r in seq.select("source").distinct().collect()
        if not summary.get(r["source"], {}).get("done")
    )
    if max_partitions is not None:
        part_ids = part_ids[:max_partitions]
    if not part_ids:
        return {"run_id": run_id, "partitions": [], "skipped": True}
    attempts = {p: r["attempt"] for p, r in summary.items()}

    t_start = time.time()
    n_commits = 0
    done_ids: list[str] = []
    for i in range(0, len(part_ids), max(commit_batch, 1)):
        group = part_ids[i : i + max(commit_batch, 1)]
        t_wave = time.time()
        in_wave = F.col("source").isin(group)

        # the wave's lineage rides on its writes: the input side (row
        # counts + token checksums, the invariant carrier) and the raw
        # side (point counts + max event time, the watermark carrier)
        # are both observed by the raw write, the only input scan
        batch, lineage_in = _observe_by_source(
            seq.where(in_wave),
            group,
            rows_in=F.count_if,
            token_checksum=checkpoint.token_checksum,
        )
        raw, lineage_raw = _observe_by_source(
            _raw_rows(batch, run_id),
            group,
            points_raw=F.count_if,
            max_event_us=lambda in_p: F.max(
                F.when(in_p, F.unix_micros("event_ts"))
            ),
        )
        cat.overwrite_partitions(raw, "raw", ["source", "day"])

        raw_wave = (
            cat.read(spark, "raw", raw.schema)
            .where(in_wave)
            .drop("day", "batch_id")
        )
        points = _write_tiers(spark, cat, raw_wave, in_wave, group)
        lin_in, lin_raw = lineage_in(), lineage_raw()

        wave_ms = (time.time() - t_wave) * 1000.0
        rows = [
            {
                "partition_id": p,
                "wall_ms": wave_ms / len(group),
                **lin_in[p],
                **lin_raw[p],
                **points[p],
            }
            for p in group
        ]
        checkpoint.record_done(spark, cat, rows, run_id, attempts)
        done_ids.extend(group)
        n_commits += 1
        if (
            _crash_after_commits is not None
            and n_commits >= _crash_after_commits
            and len(done_ids) < len(part_ids)
        ):
            raise RuntimeError(f"injected crash after {n_commits} commits")

    # per-wave commits write one small manifest file each; a large
    # backfill (thousands of partitions) compacts once at its quiet
    # end so later resume scans stay O(partitions), not O(commits)
    if n_commits >= 64:
        checkpoint.compact_manifest(spark, cat)

    wall_ms = (time.time() - t_start) * 1000.0
    return {
        "run_id": run_id,
        "partitions": done_ids,
        "skipped": False,
        "wall_ms": wall_ms,
    }


def _write_tiers(
    spark: SparkSession, cat: Catalog, raw: DataFrame, sel, sources: list[str]
) -> dict[str, dict[str, int]]:
    """Write the three tiers of a raw slice as a true cascade: 1m is
    rolled up from `raw`, 1h merges the 1m slice read back from the
    just-written table, and 1d merges the written 1h slice. Returns
    {source: {points_1m, points_1h, points_1d}}: the rows each write
    landed per source in `sources`, observed on the write itself (the
    count sits above the rollup's Exchange, in the write's result
    stage), so counting costs no job.

    `sel` must select whole (source, day) partitions — the backfill
    wave's sources, the increment's touched (source, day) set — and
    `raw` must be that slice of the raw table. Every tier window nests
    inside one day, so each read-back slice holds complete windows and
    the cascade equals tiers.build_all_tiers over the same raw. Rows
    are also filtered by `sel` before each write, so no overwrite can
    reach a partition outside the slice."""
    frame = tiers.rollup(raw, "1m")
    points: dict[str, dict[str, int]] = {p: {} for p in sources}
    for i, (tier, name) in enumerate(TIER_NAMES.items()):
        if i:
            frame = tiers.cascade(frame, tier)
        out, observed = _observe_by_source(
            _with_day(frame, "window_start").where(sel),
            sources,
            **{f"points_{tier}": F.count_if},
        )
        cat.overwrite_partitions(out, name, ["source", "day"])
        for p, n in observed().items():
            points[p].update(n)
        frame = cat.read(spark, name, tiers.TIER_SCHEMA).where(sel)
    return points


def _batch_id_and_count(new_seq: DataFrame) -> tuple[str, int]:
    """Deterministic batch id from the batch's own content (an xor-fold
    of xxhash64(doc_id, tokens) plus the row count — a replayed batch
    maps to the same id, the basis for exactly-once), together with the
    row count so callers never rescan the input just for rows_in."""
    r = new_seq.agg(
        checkpoint.token_checksum().alias("cs"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"{(r['cs'] or 0) & ((1 << 64) - 1):016x}-{r['n']}", int(r["n"])


RAW_MERGE_KEYS = ["source", "day", "batch_id", "series_id", "event_ts"]


def _upsert_raw(spark, cat: Catalog, new_raw: DataFrame, sel, bid: str) -> None:
    """Fold one batch's raw rows into the raw table, format-dispatched.

    Iceberg (existing table): Catalog.merge_upsert — MERGE INTO keyed
    on RAW_MERGE_KEYS. Extraction is deterministic, so a retry of a
    partially-applied batch produces the identical row set: matched
    rows update in place, missing rows insert, and the result is
    exactly the single-shot state. batch_id in the key makes
    concurrent folds of different batches non-conflicting.

    Parquet, or first write on either format: (existing rows in the
    touched partitions minus this batch's) ∪ (this batch's rows),
    written with dynamic partition overwrite — same convergence,
    single-writer only. The existing rows are read with new_raw's
    schema, so a table written before raw rows carried batch_id reads
    it as null and keeps those rows.
    """
    if cat.fmt == "iceberg" and cat.exists(spark, "raw"):
        cat.merge_upsert(new_raw, "raw", RAW_MERGE_KEYS)
        return
    upsert = new_raw
    if cat.exists(spark, "raw"):
        existing = cat.read(spark, "raw", new_raw.schema)
        keep = (
            existing.where(sel)
            .where(F.col("batch_id").isNull() | (F.col("batch_id") != bid))
            # snapshot before the overwrite below replaces these files
            .localCheckpoint(eager=True)
        )
        upsert = keep.unionByName(new_raw.select(keep.columns))
    cat.overwrite_partitions(upsert, "raw", ["source", "day"])


def run_increment(
    spark: SparkSession,
    new_seq: DataFrame,
    out_root: str,
    fmt: str = "parquet",
    batch_id: str | None = None,
    _crash_after_raw: bool = False,
) -> dict:
    """Fold an append-only batch of new sequences into raw + all tiers,
    recomputing only the touched (source, day) tier partitions: 1m from
    the touched raw slice, then 1h and 1d each cascaded from the finer
    tier's just-written slice (_write_tiers).

    Steady-state job floor: one collect over the cached new raw rows
    yields both the touched (source, day) set and the batch's max event
    time, and every table read (manifest gate, raw, tier read-backs)
    declares its schema, so no read starts a parquet inference job.

    Retry-idempotent (exactly-once per batch):
    - each batch carries a `batch_id` (caller-supplied — e.g. the
      streaming epoch id — or derived from the batch's content hash);
    - a manifest row `batch:<id>` marks completion; rerunning a
      completed batch is a no-op;
    - raw rows are tagged with their batch_id, and the touched raw
      state is upserted so a crash anywhere between the raw write and
      the manifest commit leaves a rerun that converges to the exact
      single-shot state, never double-counting.

    The raw upsert is format-dispatched (_upsert_raw):
    - iceberg: MERGE INTO keyed on (source, day, batch_id, series_id,
      event_ts) — one snapshot-isolated commit; concurrent writers
      folding different batches never match each other's rows, so
      this branch is concurrent-writer-safe;
    - parquet (sandbox): read-filter-union + dynamic partition
      overwrite (the read pinned with localCheckpoint before the
      overwrite replaces its files) — converging and retry-idempotent,
      but it assumes a single writer per (source, day) partition set
      (the scheduler's job on the sandbox format).

    _crash_after_raw is a test hook: abort after the raw write,
    before any tier write or manifest commit, simulating a mid-flight
    failure."""
    cat = Catalog(out_root, fmt)
    if batch_id is None:
        bid, n_in = _batch_id_and_count(new_seq)
    else:
        bid, n_in = batch_id, -1  # counted lazily below only if needed
    marker = f"batch:{bid}"

    # one-bit server-side probe, not a full done-set collect — the
    # manifest grows one row per epoch forever; see checkpoint.is_done
    if checkpoint.is_done(spark, cat, marker):
        return {"touched": [], "batch_id": bid, "skipped": True}

    new_raw = _raw_rows(new_seq, bid)
    new_raw.cache()
    # one collect gives the touched partitions and, folded driver-side,
    # the batch's max event time (the watermark its manifest row carries)
    parts = (
        new_raw.groupBy("source", "day")
        .agg(F.max(F.unix_micros("event_ts")).alias("us"))
        .collect()
    )
    touched = [(r["source"], r["day"]) for r in parts]
    if not touched:
        new_raw.unpersist()
        return {"touched": [], "batch_id": bid}
    srcs = sorted({s for s, _ in touched})
    days = sorted({d for _, d in touched})
    sel = F.col("source").isin(srcs) & F.col("day").isin([str(d) for d in days])

    _upsert_raw(spark, cat, new_raw, sel, bid)
    if _crash_after_raw:
        new_raw.unpersist()
        raise RuntimeError("injected crash after raw write")

    raw_touched = (
        cat.read(spark, "raw", new_raw.schema).where(sel).drop("day", "batch_id")
    )
    _write_tiers(spark, cat, raw_touched, sel, srcs)
    if n_in < 0:
        n_in = new_seq.count()
    # the batch's max event time rides IN the completion row: the fold
    # commit and the watermark advance are one atomic manifest append
    wm = max((r["us"] for r in parts if r["us"] is not None), default=None)
    checkpoint.record_done(
        spark,
        cat,
        [{"partition_id": marker, "rows_in": n_in, "max_event_us": wm}],
        checkpoint.new_run_id(),
    )
    new_raw.unpersist()
    return {"touched": touched, "batch_id": bid}


def run_token_tier_increment(
    spark: SparkSession,
    new_seq: DataFrame,
    out_root: str,
    fmt: str = "parquet",
    batch_id: str | None = None,
    trunc: str = "hour",
    by: str = "source",
) -> dict:
    """Incrementally maintain the MATERIALIZED token-histogram tier
    (textops.token_histogram) — the corpus-sized explode+count behind
    every distribution monitor — one append-only batch at a time.

    Counts are additive, but naive add-to-existing double-counts on
    replay. Instead the tier stores PER-BATCH partial states
    partitioned by (group, day, batch_id): folding a batch writes
    exactly its own partitions (dynamic partition overwrite), so a
    crashed/retried batch CONVERGES instead of double-counting —
    idempotence comes from partition identity, with a manifest marker
    (`tok:<batch_id>`) as the fast replay gate, the same exactly-once
    contract as run_increment. Readers re-sum across batch_id
    (read_token_tier), which costs nothing extra: every monitor
    aggregates the tier anyway. A compaction that merges old batches
    into one keeps partition counts bounded (same append-then-delete
    shape as checkpoint.compact_manifest).

    Requires new_seq to carry event_ts (grid.with_event_time)."""
    from tokens_ts import textops

    cat = Catalog(out_root, fmt)
    if batch_id is None:
        batch_id, _ = _batch_id_and_count(new_seq)
    marker = f"tok:{batch_id}"
    if checkpoint.is_done(spark, cat, marker):
        return {"batch_id": batch_id, "skipped": True}

    hist = (
        textops.token_histogram(new_seq, by=by, trunc=trunc)
        .withColumn("day", F.to_date(F.timestamp_seconds(F.col("ep"))))
        .withColumn("batch_id", F.lit(batch_id))
    )
    cat.overwrite_partitions(hist, "tok_hist", [by, "day", "batch_id"])
    checkpoint.record_done(
        spark,
        cat,
        [{"partition_id": marker, "rows_in": -1}],
        job_run_id=f"tok-{batch_id}",
    )
    return {"batch_id": batch_id, "skipped": False}


def read_token_tier(
    spark: SparkSession, out_root: str, fmt: str = "parquet", by: str = "source"
) -> DataFrame:
    """The monitor-facing view of the materialized token tier: re-sum
    the per-batch partial states to (group, ep, t, c) — directly
    consumable via the monitors' `counts=` parameter."""
    cat = Catalog(out_root, fmt)
    return (
        cat.read(spark, "tok_hist")
        .groupBy(by, "ep", "t")
        .agg(F.sum("c").alias("c"))
    )


def read_token_tier_asof(
    spark: SparkSession,
    out_root: str,
    fmt: str = "parquet",
    by: str = "source",
    asof_ts: float | None = None,
) -> DataFrame:
    """Snapshot read of the token tier: re-sum ONLY batches whose
    `tok:<batch_id>` manifest marker is committed (and, with
    `asof_ts`, committed at manifest time ≤ asof_ts) — the
    Iceberg-snapshot rule re-expressed on the parquet fallback: the
    MANIFEST defines table state, data files never do. Two things the
    plain read cannot give:

    - **orphan invisibility**: a crash between the partition write
      and the marker append leaves data files with no manifest row;
      this read excludes them, so a half-committed batch can never
      leak into a monitor (the replayed batch then converges by
      partition identity as usual);
    - **time travel**: `asof_ts` pins the tier to any past manifest
      state — the audit/debug read ("what did the distribution
      monitor see before batch X landed?").

    The committed-batch set is manifest-sized (control plane), so the
    filter is a broadcast semi-join; the re-sum is the same bounded
    agg as read_token_tier."""
    return _read_committed_tokens(spark, out_root, fmt, by, None, asof_ts)


def read_token_tier_changes(
    spark: SparkSession,
    out_root: str,
    since_ts: float,
    until_ts: float | None = None,
    fmt: str = "parquet",
    by: str = "source",
) -> DataFrame:
    """Incremental consumption between two manifest states: the token
    tier DELTA contributed by batches committed in (since_ts, until_ts]
    — Iceberg's incremental snapshot scan re-expressed on the parquet
    fallback. Because the tier stores additive PER-BATCH partial
    states, the delta between two snapshots IS the re-sum over the
    batch subset: a downstream consumer folds it into its own state
    without rescanning the tier, and
    tier(asof=until) == tier(asof=since) ⊕ changes(since, until]
    holds exactly (pinned by pytest). Uncommitted orphans are invisible
    here for the same reason they are in read_token_tier_asof: the
    manifest defines table state, data files never do. Same broadcast
    semi-join + bounded re-sum shape as the snapshot read."""
    return _read_committed_tokens(spark, out_root, fmt, by, since_ts, until_ts)


def _read_committed_tokens(
    spark: SparkSession,
    out_root: str,
    fmt: str,
    by: str,
    since_ts: float | None,
    until_ts: float | None,
) -> DataFrame:
    """Re-sum the token tier over batches whose `tok:<batch_id>` marker
    is committed at manifest time in (since_ts, until_ts] (None = open
    end): the manifest-sized committed set filters the tier through a
    broadcast left-semi join, then the bounded (group, ep, t) re-sum."""
    cat = Catalog(out_root, fmt)
    m = checkpoint.read_manifest(spark, cat).where(
        (F.col("status") == "done")
        & F.col("partition_id").startswith("tok:")
    )
    if since_ts is not None:
        m = m.where(F.col("ts") > F.lit(float(since_ts)))
    if until_ts is not None:
        m = m.where(F.col("ts") <= F.lit(float(until_ts)))
    committed = m.select(
        F.expr("substring(partition_id, 5)").alias("batch_id")
    ).distinct()
    return (
        cat.read(spark, "tok_hist")
        .join(F.broadcast(committed), "batch_id", "left_semi")
        .groupBy(by, "ep", "t")
        .agg(F.sum("c").alias("c"))
    )


def forget_series(
    spark: SparkSession,
    out_root: str,
    series_ids: list[str],
    source: str | None = None,
    fmt: str = "parquet",
) -> dict:
    """Right-to-be-forgotten across the WHOLE store: one row-level
    DELETE per existing table (raw + every tier), each through
    Catalog.delete_where's crash-safe copy-on-write rewrite, then ONE
    manifest lineage row recording the enforcement.

    Works at every level without recomputation because each tier keys
    on (source, series_id, window): deleting a series' rows from a
    rollup IS re-rolling the filtered raw — the pytest pins the
    store-wide identity forget(store, s) == backfill(input − s),
    table by table. Scale: each table pays one pushed-down scan to
    find touched partitions (pruned to `source` when given) plus
    rewrites of only partitions containing the series; untouched
    partitions stay byte-identical. The lineage row makes the
    enforcement auditable and idempotently re-runnable (a rerun finds
    zero matching rows and reports 0)."""
    import hashlib

    cat = Catalog(out_root, fmt)
    quoted = ", ".join(
        "'" + s.replace("'", "''") + "'" for s in sorted(series_ids)
    )
    pred = f"series_id IN ({quoted})"
    if source is not None:
        pred += f" AND source = '{source}'"
    tables: dict[str, list] = {}
    total = 0
    for name in ("raw", *TIER_NAMES.values()):
        if not cat.exists(spark, name):
            continue
        rep = cat.delete_where(
            spark, name, pred, partition_cols=["source", "day"]
        )
        tables[name] = rep
        total += sum(x["rows_deleted"] for x in rep)
    marker = "forget:" + hashlib.md5(pred.encode()).hexdigest()[:12]
    checkpoint.record_done(
        spark,
        cat,
        [{"partition_id": marker, "rows_in": total}],
        job_run_id=checkpoint.new_run_id(),
    )
    return {
        "predicate": pred,
        "marker": marker,
        "rows_deleted": total,
        "tables": tables,
    }
