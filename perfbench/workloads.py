"""The two workloads: `pipeline` (backfill, then a closed loop of
increments and tier reads) and `operators` (first calls, then steady
rounds on disjoint slices). Each returns its end-to-end figures and
raises `Mismatch` when an output check fails."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from perfbench import inputs
from perfbench.trace import median, parquet_files, tail

CATALOG_TABLES = ("raw", "t1m", "t1h", "t1d", "_lineage")
TIER_TABLES = {"1m": "t1m", "1h": "t1h", "1d": "t1d"}
RES_TIER = {60: "1m", 3600: "1h", 86400: "1d"}

BASE_SLOTS = 2400  # grid slots of the backfilled corpus
BASE_SOURCES = 2
COLD_SOURCE = "src01"  # the smaller Zipf budget: backfilled by the first call
MAX_BATCHES = 24
MIN_ITERATIONS = 2

N_SLICES = 4  # one for first calls, the rest for steady rounds
SLICE_SLOTS = 440  # same slot budget as the registered sequence fixture
SLICE_EVENTS = 1000  # events rows of an sf0.001 table


class Mismatch(Exception):
    """An output check failed: the run is not a valid measurement."""


class Run:
    """Shared state of one benchmark run: session, work dir, tracer and
    the attempted/failed accounting of timed calls."""

    def __init__(self, spark, sampler, work, seed, seconds, tracer, traced):
        self.spark, self.work, self.seed = spark, work, seed
        self.sampler = sampler
        self.peak_rss_mb = None
        self.seconds, self.tracer, self.traced = seconds, tracer, traced
        self.attempted = self.failed = 0
        self.layer: dict[str, float] = {}
        self.report: list[tuple[str, float, str, str]] = []
        self._ab: dict[str, tuple[list[float], list[float]]] = {}

    def end_timed(self) -> None:
        """Close the timed phase: tracing off, memory high-water mark
        taken before the output checks run."""
        self.tracer.enabled = False
        self.peak_rss_mb = self.sampler.peak_kb / 1024.0

    def timed(self, fn):
        """Time one call as (seconds, result); an exception counts as a
        failed attempt, gives (None, None) and the run continues."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            self.failed += 1
            print(f"failed call: {type(e).__name__}: {e}"[:400], flush=True)
            return None, None
        return time.perf_counter() - t, out

    def ab(self, key: str, traced: bool, dt: float | None) -> None:
        """Record one steady call of a traced run, tagged traced or plain."""
        if self.traced and dt is not None:
            self._ab.setdefault(key, ([], []))[0 if traced else 1].append(dt)

    def tracing_overhead(self) -> float:
        """Sum over call kinds of median(traced) - median(plain). Traced
        runs alternate tracing per call kind, so both sides see the same
        mix of slices and positions in the run."""
        return sum(median(t) - median(p) for t, p in self._ab.values() if t and p)

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def note(self, name, value, unit, extra=""):
        self.report.append((name, value, unit, extra))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _close(got: pd.DataFrame, exp: pd.DataFrame, keys, what: str):
    cols = [c for c in exp.columns if c not in keys]
    got = got.sort_values(keys).reset_index(drop=True)
    exp = exp.sort_values(keys).reset_index(drop=True)
    if len(got) != len(exp):
        raise Mismatch(f"{what}: {len(got)} rows, oracle has {len(exp)}")
    for k in keys:
        if not (got[k].astype(str).values == exp[k].astype(str).values).all():
            raise Mismatch(f"{what}: key column {k} differs from the oracle")
    for c in cols:
        a = got[c].to_numpy(dtype=np.float64)
        b = exp[c].to_numpy(dtype=np.float64)
        if not np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True):
            i = int(np.argmax(~np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)))
            raise Mismatch(f"{what}: column {c} row {i}: {a[i]} != oracle {b[i]}")


# ---------------------------------------------------------------------------
# pipeline: run_backfill, then increments each followed by tier reads
# ---------------------------------------------------------------------------


def pipeline_setup(run: Run) -> dict:
    from tokens_ts import config as C

    rng = np.random.default_rng(run.seed)
    model = inputs.TokenModel(rng)
    budgets = inputs.zipf_budgets(rng, BASE_SOURCES, BASE_SLOTS)
    d = run.work
    base = inputs.sequences(rng, model, {s: (0, b) for s, b in enumerate(budgets)})
    pq.write_table(base, f"{d}/base.parquet")
    batches = inputs.increment_batches(rng, budgets, MAX_BATCHES)
    for i, b in enumerate(batches):
        pq.write_table(inputs.sequences(rng, model, b), f"{d}/batch{i:02d}.parquet")
    span_s = max(b * C.step_seconds(s) for s, b in enumerate(budgets))
    reads = inputs.query_windows(rng, span_s, MAX_BATCHES)
    n_tok = int(base.column("n_tok").to_numpy().sum())
    print(
        f"input: {base.num_rows} sequences, {n_tok} tokens, "
        f"{3 * base.num_rows} raw points (base corpus); "
        f"{len(batches)} increment batches available",
        flush=True,
    )
    # reading the input's schema is the session's first Spark job
    seq = run.spark.read.parquet(f"{d}/base.parquet")
    return {"seq": seq, "reads": reads, "n_batches": len(batches)}


def pipeline_run(run: Run, st: dict) -> dict:
    from tokens_ts import pipeline, tiers
    from tokens_ts.io.catalog import Catalog

    spark, d, tr = run.spark, run.work, run.tracer
    root = f"{d}/cat"
    cat = Catalog(root)
    tr.enabled = run.traced
    t_start = time.perf_counter()
    seq = st["seq"]
    # the first call into the program is a cold one-partition backfill,
    # so its JIT and codegen land there; the second call resumes the
    # catalog with the remaining partition and gives the throughput
    cold = seq.where(F.col("source") == COLD_SOURCE)
    first_s, _ = run.timed(lambda: pipeline.run_backfill(spark, cold, root))
    bf_s, bf = run.timed(lambda: pipeline.run_backfill(spark, seq, root))
    if first_s is None or bf_s is None:
        raise Mismatch("run_backfill failed; nothing to measure")
    print(f"phase backfills {first_s:.2f} {bf_s:.2f} s at {time.perf_counter() - t_start:.2f}", flush=True)

    iters, incs, queries = [], [], []
    i = 0
    while i < st["n_batches"] and (
        i < MIN_ITERATIONS or time.perf_counter() - t_start < run.seconds
    ):
        # a traced run traces the increment of even iterations and the
        # reads of odd ones; the rest run plain (see Run.tracing_overhead)
        on = i % 2 == 0
        t_it = time.perf_counter()
        tr.enabled = run.traced and on
        batch = spark.read.parquet(f"{d}/batch{i:02d}.parquet")
        dt, _ = run.timed(lambda: pipeline.run_increment(spark, batch, root))
        run.ab("run_increment", on, dt)
        if dt is not None:
            incs.append(dt)
        tr.enabled = run.traced and not on
        for lo, hi, res in st["reads"][i]:
            with tr.span("read.query_windows"):
                dq, _ = run.timed(
                    lambda: _noop(tiers.query_windows(spark, cat, lo, hi, res))
                )
            run.ab(f"query_windows@{res}", not on, dq)
            if dq is not None:
                queries.append(dq)
        iters.append(time.perf_counter() - t_it)
        i += 1
    run.end_timed()
    print(f"phase iterations {' '.join(f'{x:.2f}' for x in iters)} s at {time.perf_counter() - t_start:.2f}", flush=True)

    t_check = time.perf_counter()
    bf_points, n_raw = _check_pipeline(run, st, root, bf["partitions"])
    print(f"phase checks {time.perf_counter() - t_check:.2f} s", flush=True)
    nbytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for t in CATALOG_TABLES
        for dp, _, fs in os.walk(f"{root}/{t}")
        for f in fs
        if not f.startswith((".", "_"))
    )
    if run.traced:
        run.layer["io.catalog.files"] = sum(
            len(parquet_files(f"{root}/{t}")) for t in CATALOG_TABLES
        )
        run.layer["trace.overhead_s"] = run.tracing_overhead()

    inc_tail, inc_p = tail(incs)
    q_tail, q_p = tail(queries)
    print(
        f"backfill: {bf_points} raw points in {bf_s:.3f} s; "
        f"stored {nbytes} B over {n_raw} raw points"
    )
    run.note("increment_p50_s", median(incs), "s", f"n={len(incs)}")
    run.note("increment_tail_s", inc_tail, "s", f"p{inc_p} n={len(incs)}" if inc_p else f"n={len(incs)}: fewer than 11 samples")
    run.note("query_p50_s", median(queries), "s", f"n={len(queries)}")
    run.note("query_tail_s", q_tail, "s", f"p{q_p} n={len(queries)}" if q_p else f"n={len(queries)}: fewer than 11 samples")
    return {
        "points_per_s": bf_points / bf_s,
        "first_s": first_s,
        "steady_s": median(iters),
        "bytes_per_point": nbytes / n_raw,
    }


def _oracle():
    from tests import oracle

    return oracle


def _check_pipeline(run: Run, st: dict, root: str, timed_parts: list[str]) -> int:
    """Replay, tier-vs-oracle, manifest-checksum and query checks.
    Returns the raw points the timed backfill wrote (from the manifest)
    and the raw points now stored."""
    from tokens_ts import checkpoint, pipeline, tiers
    from tokens_ts.io.catalog import Catalog

    oracle = _oracle()
    spark, d = run.spark, run.work
    cat = Catalog(root)

    def files():
        return {t: parquet_files(f"{root}/{t}") for t in ("raw", *TIER_TABLES.values())}

    before = files()
    again = pipeline.run_increment(spark, spark.read.parquet(f"{d}/batch00.parquet"), root)
    if not again.get("skipped"):
        raise Mismatch("replayed batch was not skipped")
    if files() != before:
        raise Mismatch("replayed batch rewrote table files")

    raw = (
        cat.read(spark, "raw")
        .select("source", "series_id", "event_ts", "value")
        .toPandas()
    )
    keys = ["source", "series_id", "window_start"]
    state = ["cnt", "sum", "min", "max", "sum_sq"]
    exp = {"1m": oracle.rollup(raw, "1m")}
    exp["1h"] = oracle.cascade(exp["1m"], "1h")
    exp["1d"] = oracle.cascade(exp["1h"], "1d")
    for tier, name in TIER_TABLES.items():
        got = cat.read(spark, name).select(*keys, *state).toPandas()
        _close(got, exp[tier], keys, f"tier {name}")

    man = checkpoint.read_manifest(spark, cat).where(~F.col("partition_id").contains(":"))
    latest = (
        man.groupBy("partition_id")
        .agg(F.max_by(F.struct("token_checksum", "points_raw"), F.struct("ts", "attempt")).alias("m"))
        .select("partition_id", "m.token_checksum", "m.points_raw")
        .toPandas()
        .set_index("partition_id")
    )
    want = {
        r["source"]: r["cs"]
        for r in spark.read.parquet(f"{d}/base.parquet")
        .groupBy("source")
        .agg(F.bit_xor(F.xxhash64("doc_id", "tokens")).alias("cs"))
        .collect()
    }
    if sorted(latest.index) != sorted(want):
        raise Mismatch(f"manifest partitions {sorted(latest.index)} != input {sorted(want)}")
    for src, cs in want.items():
        if int(latest.loc[src, "token_checksum"]) != int(cs):
            raise Mismatch(f"manifest token_checksum of {src} differs from the input")

    for lo, hi, res in st["reads"][0]:
        got = tiers.query_windows(spark, cat, lo, hi, res).toPandas()
        sel = raw[(raw.event_ts >= pd.Timestamp(lo)) & (raw.event_ts < pd.Timestamp(hi))]
        want_q = oracle.finish(oracle.rollup(sel, RES_TIER[res]))
        _close(got[want_q.columns], want_q, keys, f"query_windows at {res} s")
    return int(latest.loc[timed_parts, "points_raw"].sum()), len(raw)


# ---------------------------------------------------------------------------
# operators: registered pairs on seeded sf0.001-sized slices
# ---------------------------------------------------------------------------

# (pair, layer name, input table) in bench.py's order: the operators
# that create caches run before cusum and lttb
OPERATORS = [
    ("codec_roundtrip_events", "codec.segments_roundtrip", "events"),
    ("ts_gapfill_interp", "gapfill.gapfill", "events"),
    ("seq_bigram_pmi", "textops.bigram_pmi_topk", "seq"),
    ("ts_cusum", "analytics.cusum", "events"),
    ("ts_lttb", "tiers.downsample_lttb", "events"),
    ("ts_kendall_matrix", "analytics.kendall_matrix", "events"),
]


def _seq_cte(path: str) -> str:
    """DuckDB stand-in for the fixture CTE of the sequence pairs: the
    same `seq` and `vals` relations, read from a generated slice."""
    from tokens_ts import config as C

    return f"""
    WITH seq AS (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS BIGINT) AS s,
             CAST(substr(doc_id, -12) AS BIGINT) AS k,
             CAST(n_tok AS BIGINT) AS n_tok,
             CAST(tokens AS BIGINT[]) AS tokens,
             {C.T0_EPOCH} + CAST(substr(doc_id, -12) AS BIGINT) * 60
               * (1 + CAST(substr(source, 4) AS BIGINT) % 3) AS epoch_s
      FROM read_parquet('{path}')
    ),
    vals AS (
      SELECT *,
             list_transform(tokens,
               x -> CASE WHEN x = {C.PAD_ID} THEN NULL ELSE CAST(x AS DOUBLE) END) AS v
      FROM seq
    )
    """


def _collect(df):
    return df.columns, df.toArrow()


def _rows(tbl):
    """Arrow table → row tuples with the value types a Spark collect gives."""
    import datetime as dt

    out = []
    for r in tbl.to_pylist():
        row = []
        for v in r.values():
            if isinstance(v, dt.datetime) and v.tzinfo is not None:
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            row.append(v)
        out.append(tuple(row))
    return out


def operators_setup(run: Run) -> dict:
    import duckdb

    import tokens_ts.queries_data as qd
    from tokens_ts import grid

    rng = np.random.default_rng(run.seed)
    model = inputs.TokenModel(rng)
    slices, rows = [], {"events": 0, "seq": 0}
    n_tok = 0
    for i in range(N_SLICES):
        sd = f"{run.work}/slice{i}"
        os.makedirs(sd)
        ev = inputs.events(rng, SLICE_EVENTS, f"2024-{i + 1:02d}-01", 7)
        pq.write_table(ev, f"{sd}/events.parquet")
        budgets = inputs.zipf_budgets(rng, 3, SLICE_SLOTS)
        lo = 1000 * i
        seq = inputs.sequences(
            rng, model, {s: (lo, lo + b) for s, b in enumerate(budgets)}
        )
        pq.write_table(seq, f"{sd}/seq.parquet")
        slices.append(sd)
        if i == 0:
            rows = {"events": ev.num_rows, "seq": seq.num_rows}
        n_tok += int(seq.column("n_tok").to_numpy().sum())
    print(
        f"input: {N_SLICES} slices of {SLICE_EVENTS} events and ~{rows['seq']} "
        f"sequences each; {n_tok} tokens in all",
        flush=True,
    )
    current = {"seq": None}
    # the sequence pairs read their input through queries_data._seq;
    # point it at the slice being timed
    qd._seq = lambda spark: grid.with_event_time(spark.read.parquet(current["seq"]))
    import __spark_entry__ as entry

    return {
        "slices": slices,
        "current": current,
        "queries": entry.queries(),
        "oracles": entry.oracle_sql(),
        "duck": duckdb.connect(),
        "rows": rows,
        "prefix": qd._synth_cte(),
    }


def _check_op(st: dict, pair: str, sd: str, cols, rows):
    from tools.verify_oracle import frame_sig

    sql = st["oracles"][pair]
    if sql.startswith(st["prefix"]):
        sql = _seq_cte(f"{sd}/seq.parquet") + sql[len(st["prefix"]) :]
    con = st["duck"]
    con.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{sd}/events.parquet')"
    )
    res = con.execute(sql)
    dcols = [c[0] for c in res.description]
    sc, sn, sh, sl = frame_sig(cols, rows)
    dc, dn, dh, dl = frame_sig(dcols, res.fetchall())
    if sc != dc:
        raise Mismatch(f"{pair}: schema {sc} != oracle {dc}")
    if sn != dn:
        raise Mismatch(f"{pair}: {sn} rows, oracle has {dn}")
    if sh != dh:
        diff = [(a, b) for a, b in zip(sl, dl) if a != b][:2]
        raise Mismatch(f"{pair}: values differ from the oracle, first: {diff}")


def operators_run(run: Run, st: dict) -> dict:
    spark, tr = run.spark, run.tracer
    first: dict[str, float] = {}
    steady: dict[str, list[float]] = {p: [] for p, _, _ in OPERATORS}
    leaked: dict[str, int] = {p: 0 for p, _, _ in OPERATORS}
    round_walls = []
    check_s = 0.0
    t_start = time.perf_counter()
    min_rounds = 3 if run.traced else 2
    r = 0
    while r < len(st["slices"]) and (
        r < min_rounds or time.perf_counter() - t_start < run.seconds
    ):
        sd = st["slices"][r]
        st["current"]["seq"] = f"{sd}/seq.parquet"
        t_round = time.perf_counter()
        for j, (pair, layer, _) in enumerate(OPERATORS):
            # first calls are all traced; steady calls alternate per
            # operator and round (see Run.tracing_overhead)
            on = r == 0 or (r + j) % 2 == 1
            tr.enabled = run.traced and on
            fn = st["queries"][pair]
            n0 = run.persisted_rdds()
            with tr.span(f"op.{layer}"):
                dt, out = run.timed(lambda: _collect(fn(spark, sd)))
            leaked[pair] += run.persisted_rdds() - n0
            if dt is None:
                continue
            if r:
                steady[pair].append(dt)
                run.ab(pair, on, dt)
            else:
                first[pair] = dt
            t = time.perf_counter()
            _check_op(st, pair, sd, out[0], _rows(out[1]))
            check_s += time.perf_counter() - t
        round_walls.append(time.perf_counter() - t_round)
        r += 1
    run.end_timed()
    print(f"phase rounds {' '.join(f'{w:.2f}' for w in round_walls)} s, checks {check_s:.2f} s", flush=True)

    ops_first = sum(first.values())
    ops_steady = sum(median(v) for v in steady.values() if v)
    per_round_rows = sum(st["rows"][t] for _, _, t in OPERATORS)
    bpp = _codec_bytes_per_point(spark, st["slices"][0])
    if run.traced:
        for pair, layer, _ in OPERATORS:
            run.layer[f"{layer}.leaked_rdds"] = leaked[pair]
            if pair in first:
                run.layer[f"{layer}.first_s"] = first[pair]
            if steady[pair]:
                run.layer[f"{layer}.steady_s"] = median(steady[pair])
        run.layer["trace.overhead_s"] = run.tracing_overhead()
    run.note("ops_first_s", ops_first, "s", f"{len(first)} operators")
    run.note("ops_steady_s", ops_steady, "s", f"median of {r - 1} steady rounds per operator")
    run.note("codec_bytes_per_point", bpp, "B/point", "Gorilla segments of slice 0")
    for pair, layer, _ in OPERATORS:
        run.note(f"{layer}.first_s", first.get(pair), "s")
        run.note(f"{layer}.steady_s", median(steady[pair]), "s", f"n={len(steady[pair])}")
    return {
        "points_per_s": per_round_rows / ops_steady,
        "first_s": ops_first,
        "steady_s": ops_steady,
        "bytes_per_point": bpp,
    }


def _codec_bytes_per_point(spark, sd: str) -> float:
    from tokens_ts import codec

    raw = spark.read.parquet(f"{sd}/events.parquet").select(
        F.lit("events").alias("source"),
        F.col("event_type").alias("series_id"),
        F.col("ts").alias("event_ts"),
        "value",
    )
    r = codec.encode_segments(raw, "1d").agg(
        F.sum("enc_bytes").alias("b"), F.sum("n").alias("n")
    ).collect()[0]
    return float(r["b"]) / float(r["n"])
