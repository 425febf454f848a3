"""Structured Streaming surface (SURVEY.md §2.9, stretch M8).

The north rule's refresh path is incremental *batch* (pipeline.
run_increment); this module wraps the same logic in Structured
Streaming so new sequence files flow into the tiers continuously:

- `stream_increment`: file-source stream → foreachBatch →
  pipeline.run_increment. Each micro-batch recomputes exactly the
  touched (source, day) tier partitions. foreachBatch is at-least-once;
  exactly-once comes from run_increment's batch-id discipline: the
  streaming epoch id is passed as the batch_id, a replayed epoch is
  skipped via the `batch:<id>` manifest row, and a *partially applied*
  epoch is converged by the batch-keyed raw upsert (pipeline.py).
  Optionally routes late rows (event_ts older than the observed
  high-watermark minus `lateness`) to a `dead_letter` table instead
  of folding them into tiers (SURVEY.md §2.9 dead-letter variant).
- `stream_window_agg`: the pure-streaming alternative — watermarked
  tumbling-window partial-state aggregation (same algebraic state as
  tiers.rollup) with late data beyond the watermark dropped to the
  configured lateness bound; append-mode sink emits each window once,
  when it finalizes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from tokens_ts import pipeline

SEQ_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),
    ]
)


def read_sequence_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(SEQ_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def stream_increment(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    lateness: str | None = None,
    compact_every: int | None = 64,
):
    """Micro-batch tier refresh: every new file batch folds into
    raw/t1m/t1h/t1d via the touched-window incremental path.

    With `lateness` (e.g. "2 hours"), rows whose event_ts is older than
    the high-watermark minus the bound are routed to the `dead_letter`
    table with the rejection context instead of silently mutating
    long-closed tier windows. The high-watermark is NOT a separate
    table: each committed fold's manifest row carries the batch's max
    event time (checkpoint.watermark_us reads max over them), so the
    fold commit and the watermark advance are one atomic append — a
    crash can never commit the fold but lose the advance.

    Replay discipline (foreachBatch is at-least-once; every attempt of
    epoch N must converge to the same state):
      1. epoch gate — a completed epoch (manifest `batch:epoch-N`) is
         skipped entirely, so replays never duplicate DLQ side effects;
      2. the late/on-time split uses the watermark as of the epoch's
         FIRST attempt — the watermark only advances when the fold's
         manifest row commits (step 4), so retries of a crashed
         attempt classify rows identically;
      3. dead-letter rows are written with dynamic partition overwrite
         keyed on dl_batch_id — rewriting, not appending, on retry —
         and BEFORE the fold, so a crash after the fold cannot lose
         them (layout note: dead_letter is PARTITIONED by dl_batch_id;
         it is not compatible with a table written by a pre-partition
         layout — start a fresh dead_letter path when upgrading);
      4. the fold itself is exactly-once via run_increment's batch-id
         manifest + batch-keyed raw upsert, and that same manifest row
         carries max_event_us (the watermark advance).

    compact_every: every N epochs the manifest is compacted to one row
    per partition/batch (checkpoint.compact_manifest) — without it a
    long-lived stream's epoch gate scans one small parquet file per
    epoch forever. None disables."""
    import hashlib
    import os

    from tokens_ts.io.catalog import Catalog

    from tokens_ts import checkpoint, grid

    stream = read_sequence_stream(spark, input_path)
    cat = Catalog(out_root)
    # epoch ids are only unique WITHIN one streaming checkpoint lineage;
    # namespace them so a different checkpoint against the same
    # warehouse can never silently match an old epoch's marker.
    # (Re-processing the same input under a fresh checkpoint then
    # duplicates into the sink — the standard Structured Streaming
    # contract: exactly-once requires keeping the checkpoint.)
    # realpath-normalized: '/a/ckpt', '/a/ckpt/', and symlinked
    # spellings of the SAME lineage must map to the same namespace,
    # or a restart under a different spelling breaks replay convergence
    ns = hashlib.sha256(
        os.path.realpath(checkpoint_dir).encode()
    ).hexdigest()[:8]

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        epoch = f"epoch-{ns}-{batch_id}"
        if lateness is not None:
            # the gate protects the DLQ/watermark side effects below;
            # without lateness there are none and run_increment's own
            # marker check already makes replays no-ops. One-bit
            # server-side probe (checkpoint.is_done), not a full
            # done-set collect: the manifest grows one row per epoch,
            # so the old set-collect cost O(total-epochs) per epoch.
            if checkpoint.is_done(sp, cat, f"batch:{epoch}"):
                return  # replay of a committed epoch: all effects done
        # cache: the micro-batch is re-read otherwise for every step
        # below (emptiness probes, DLQ write, extraction, watermark agg)
        cached = grid.with_event_time(batch_df).cache()
        timed = cached
        try:
            if lateness is not None:
                bound = None
                wm_us = checkpoint.watermark_us(sp, cat)
                if wm_us is not None:
                    bound = F.timestamp_micros(F.lit(wm_us)) - F.expr(
                        f"interval {lateness}"
                    )
                if bound is not None:
                    late = timed.where(F.col("event_ts") < bound)
                    if not late.isEmpty():
                        cat.overwrite_partitions(
                            late.withColumn("dl_batch_id", F.lit(epoch))
                            .withColumn("dl_reason", F.lit("beyond_watermark"))
                            .withColumn("dl_bound", bound),
                            "dead_letter",
                            ["dl_batch_id"],
                        )
                    timed = timed.where(~(F.col("event_ts") < bound))
                if timed.isEmpty():
                    return
            # run_increment's completion row carries this batch's max
            # event time — the watermark advances atomically with the
            # fold commit, never in a separate (losable) write
            pipeline.run_increment(sp, timed, out_root, batch_id=epoch)
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                checkpoint.compact_manifest(sp, cat)
        finally:
            cached.unpersist()

    w = stream.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint"
)
SESSION_STATE_SCHEMA = (
    "starts array<long>, ends array<long>, ns array<long>"
)


def stream_sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
):
    """Custom stateful streaming operator via applyInPandasWithState
    (SURVEY.md §2.9 / task brief): per-user sessionization with a gap
    rule, the streaming twin of the batch ts_sessionize query.

    State per user = ALL sessions not yet safe to emit, as interval
    lists in epoch-µs. Each micro-batch's (sorted) events merge into
    the list by interval distance ≤ gap — including backwards: an
    out-of-order event EARLIER than a held session's start extends or
    prepends correctly, which a single-open-session design gets wrong.
    A session is emitted only once the event-time watermark passes
    session_end + gap: by the watermark contract no event that could
    still merge into it can arrive after that, so output is exactly the
    batch sessionization of the full event-time stream regardless of
    arrival order. Arrow-batched per group; no per-row Python."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def _merge(sessions, ts_sorted):
        """Merge sorted event times into interval sessions (≤ gap)."""
        ivs = [list(s) for s in sessions] + [[t, t, 1] for t in ts_sorted]
        ivs.sort(key=lambda x: x[0])
        out = []
        for iv in ivs:
            if out and iv[0] - out[-1][1] <= gap_us:
                out[-1][1] = max(out[-1][1], iv[1])
                out[-1][2] += iv[2]
            else:
                out.append(iv)
        return out

    def _flush(state, sessions, wm_ms):
        """Emit sessions the watermark has sealed; hold the rest.

        Seal condition is STRICT in µs: end + gap < wm. Spark keeps
        events with event_ts == watermark, so at end+gap == wm a
        mergeable event can still arrive; and the comparison happens
        in µs because truncating end to ms would seal up to 999 µs
        early."""
        wm_us = wm_ms * 1000
        emit = [s for s in sessions if s[1] + gap_us < wm_us]
        keep = [s for s in sessions if s[1] + gap_us >= wm_us]
        if keep:
            state.update(
                (
                    [s[0] for s in keep],
                    [s[1] for s in keep],
                    [s[2] for s in keep],
                )
            )
            # earliest ms watermark that seals something:
            # smallest wm' with end+gap < wm'*1000
            t_next = min((s[1] + gap_us) // 1000 + 1 for s in keep)
            state.setTimeoutTimestamp(max(t_next, wm_ms + 1))
        elif state.exists:
            state.remove()
        return emit

    def fn(key, pdf_iter, state: GroupState):
        (user,) = key
        sessions = []
        if state.exists:
            starts, ends, ns = state.get
            sessions = [list(t) for t in zip(starts, ends, ns)]
        if not state.hasTimedOut:
            ts_us = []
            for pdf in pdf_iter:
                ts_us.extend(
                    (pdf[ts_col].astype("datetime64[us]").astype("int64")).tolist()
                )
            ts_us.sort()
            sessions = _merge(sessions, ts_us)
        emit = _flush(state, sessions, state.getCurrentWatermarkMs())
        if emit:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(emit),
                    "session_start": pd.to_datetime([s[0] for s in emit], unit="us"),
                    "session_end": pd.to_datetime([s[1] for s in emit], unit="us"),
                    "n_events": [int(s[2]) for s in emit],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_window_agg(
    seq_stream: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 minute",
):
    """Watermarked tumbling-window rollup of the streaming extraction.

    Emits the same algebraic partial state as tiers.rollup in append
    mode; rows later than `watermark` are dropped (the dead-letter
    variant would route them via a second stream with a filter on
    event_ts < watermark bound)."""
    from tokens_ts import extract, grid

    raw = extract.to_raw(
        extract.full_stats(grid.with_event_time(seq_stream), stats=["mean"])
    )
    return (
        raw.withWatermark("event_ts", watermark)
        .groupBy(
            F.window("event_ts", window).alias("w"),
            "source",
            "series_id",
        )
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.sum(F.col("value") * F.col("value")).alias("sum_sq"),
        )
        .select(
            "source",
            "series_id",
            F.col("w.start").alias("window_start"),
            "cnt",
            "sum",
            "min",
            "max",
            "sum_sq",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream event-time interval join — the attribution shape
    (every right event joined to the same-key left events it follows
    within `within`), run as a REAL stream-stream join so buffered
    state is bounded and late rows age out.

    Both sides carry a watermark and the join condition carries the
    time-range bound; TOGETHER they let Spark evict buffered rows once
    no future match is possible — a stream-stream join without a range
    condition must buffer both streams forever. Output columns are the
    key plus `l_`/`r_`-prefixed payloads (the two stream sides need
    unambiguous names).

    Late-data semantics: once the global watermark passes, a right row
    older than watermark − `within` can no longer match and is dropped
    — so the completed output equals the batch interval join over the
    watermark-surviving input. The pytest pins both the drop and an
    on-time match across checkpointed restarts; the driver pair runs
    the single-batch case where the output is the exact batch join."""
    l = left.withWatermark(left_ts, watermark).select(
        F.col(key),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c != key
        ],
    )
    r = right.withWatermark(right_ts, watermark).select(
        F.col(key).alias("_rkey"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c != key
        ],
    )
    cond = (
        (F.col(key) == F.col("_rkey"))
        & (F.col(f"r_{right_ts}") >= F.col(f"l_{left_ts}"))
        & (
            F.col(f"r_{right_ts}")
            <= F.col(f"l_{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, "inner").drop("_rkey")


def stream_dedup(
    docs_stream: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ingest_ts",
    text_col: str = "text",
):
    """Streaming exact dedup: emit only the FIRST arrival of each
    content hash, with state bounded by the watermark.

    `dropDuplicatesWithinWatermark` keys on the content hash and keeps
    per-key state only until the watermark passes it — the streaming
    analog of `dedup.exact_groups` that a continuous ingestion pipeline
    runs before anything else. Without the watermark bound the dedup
    state would grow with every distinct document forever; with it,
    re-crawls inside the window dedup exactly, re-crawls beyond the
    window become the batch dedup's job (which holds the full corpus
    index). Pure built-in operator — no custom state code to get
    wrong."""
    hashed = docs_stream.withColumn(
        "content_hash", F.md5(F.col(text_col))
    ).withWatermark(ts_col, watermark)
    return hashed.dropDuplicatesWithinWatermark(["content_hash"])


BUCKET_OUT_SCHEMA = (
    "user_id bigint, event_id bigint, ep bigint, "
    "level_after bigint, admitted bigint"
)
BUCKET_STATE_SCHEMA = (
    "prev_ep long, level long, pend_ep array<long>, pend_id array<long>"
)


def stream_token_bucket(
    events: DataFrame,
    cap: int = 86400,
    cost: int = 28800,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
):
    """Streaming twin of analytics.token_bucket: the same per-user
    admission recurrence (bucket starts FULL, refill 1 unit/s,
    rejected events consume nothing, (ep, id) processing order)
    evaluated continuously over an event-time stream.

    The recurrence is order-sensitive, so out-of-order arrivals are
    BUFFERED in state and an event is decided only once the watermark
    seals it (strictly: ep_µs < wm_µs — Spark keeps events AT the
    watermark, the stream_sessionize convention), at which point no
    earlier event can still arrive and the decision equals the batch
    replay's. Persistent state per user = (prev_ep, level) — two
    ints, the entire bucket history — plus the pending buffer, which
    the watermark bounds to the lateness horizon. An event-time
    timeout fires when the watermark passes the earliest pending
    event, so sealed decisions flush even if the user never sends
    another event. Output therefore equals analytics.token_bucket on
    the sealed event-time prefix regardless of arrival order —
    pinned by the pytest equivalence harness."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        (user,) = key
        prev_ep, level = -1, cap
        pend = []
        if state.exists:
            prev_ep, level, p_ep, p_id = state.get
            pend = [list(t) for t in zip(p_ep, p_id)]
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                eps = (
                    pdf[ts_col].astype("datetime64[us]").astype("int64")
                    // 1_000_000
                ).tolist()
                ids = pdf[id_col].astype("int64").tolist()
                pend.extend([e, i] for e, i in zip(eps, ids))
        pend.sort()
        wm_s = state.getCurrentWatermarkMs() // 1000  # floor
        # strict µs seal → ep < wm at whole-second grain iff ep_s < wm_s
        sealed = [p for p in pend if p[0] < wm_s]
        pend = [p for p in pend if p[0] >= wm_s]
        out = []
        for ep, eid in sealed:
            pre = cap if prev_ep < 0 else min(cap, level + (ep - prev_ep))
            adm = 1 if pre >= cost else 0
            level = pre - cost * adm
            prev_ep = ep
            out.append((user, eid, ep, level, adm))
        state.update(
            (
                prev_ep,
                level,
                [p[0] for p in pend],
                [p[1] for p in pend],
            )
        )
        if pend:
            # fire once the watermark passes the earliest pending event
            t_next = pend[0][0] * 1000 + 1000
            state.setTimeoutTimestamp(
                max(t_next, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "event_id", "ep", "level_after",
                         "admitted"],
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=BUCKET_OUT_SCHEMA,
            stateStructType=BUCKET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


GAPFILL_OUT_SCHEMA = (
    "series_id string, slot_epoch bigint, src_slot_epoch bigint, "
    "sum_e3 bigint, cnt bigint, filled boolean"
)
GAPFILL_STATE_SCHEMA = (
    "last_src long, last_sum long, last_cnt long, last_emitted long, "
    "pend_slot array<long>, pend_v array<long>"
)


def stream_gapfill(
    events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
):
    """Streaming forward-fill onto the per-series minute grid — the
    continuous twin of gapfill.ffill: as the watermark seals each
    minute slot, every grid minute from the series' first observed
    slot to its last SEALED observed slot is emitted exactly once,
    carrying the most recent observed slot's aggregate. A dashboard
    reading this stream sees the same dense series the batch
    operator would build, minus only the unsealed tail.

    Seal rule: slot m is complete iff m+60 ≤ watermark — every
    possible event in [m, m+60) is then strictly older than the
    watermark, so Spark guarantees none can still arrive; gap slots
    BETWEEN a sealed observed slot and a later not-yet-sealed one
    stay unemitted until the later slot seals (their fill source
    could otherwise change — emission is once and final, append
    semantics). Out-of-order arrivals buffer in state (the
    stream_token_bucket convention) and an event-time timeout fires
    when the watermark passes the earliest pending slot's seal
    point, so fills flush even for series that go quiet.

    Exactness: quantization happens in SPARK expressions before the
    stateful loop (slot = date_trunc minute, v_e3 = round(value·1e3)
    — the batch pairs' conventions), so the Python state machine
    touches ONLY exact ints and emits (sum_e3, cnt) per slot: no
    float exists anywhere downstream of the projection, and the
    final output is hash-comparable against a batch SQL oracle.

    State per series: 4 ints + the watermark-bounded pending buffer.
    Scale: one shuffle on series key; state size is O(lateness
    horizon), independent of stream length."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # the watermark column must be TIMESTAMP (LTZ); the session TZ is
    # pinned to UTC repo-wide, so the NTZ->LTZ cast is offset-free
    pre = events.where(F.col(value_col).isNotNull()).select(
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(key_col).cast("string").alias("series_id"),
        F.unix_timestamp(F.date_trunc("minute", F.col(ts_col)))
        .cast("long")
        .alias("slot"),
        F.round(F.col(value_col) * 1000.0).cast("long").alias("v_e3"),
    )

    def fn(key, pdf_iter, state: GroupState):
        (sid,) = key
        last_src, last_sum, last_cnt, last_emitted = -1, 0, 0, -1
        pend = []
        if state.exists:
            last_src, last_sum, last_cnt, last_emitted, p_s, p_v = state.get
            pend = [list(t) for t in zip(p_s, p_v)]
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                pend.extend(
                    [int(s), int(v)]
                    for s, v in zip(pdf["slot"], pdf["v_e3"])
                )
        wm_s = state.getCurrentWatermarkMs() // 1000
        sealed = [p for p in pend if p[0] + 60 <= wm_s]
        pend = [p for p in pend if p[0] + 60 > wm_s]
        out = []
        if sealed:
            slots: dict[int, list[int]] = {}
            for s, v in sealed:
                agg = slots.setdefault(s, [0, 0])
                agg[0] += v
                agg[1] += 1
            for s in sorted(slots):
                sm, ct = slots[s]
                if last_emitted >= 0:
                    g = last_emitted + 60
                    while g < s:
                        out.append(
                            (sid, g, last_src, last_sum, last_cnt, True)
                        )
                        g += 60
                out.append((sid, s, s, sm, ct, False))
                last_src, last_sum, last_cnt = s, sm, ct
                last_emitted = s
        state.update(
            (
                last_src,
                last_sum,
                last_cnt,
                last_emitted,
                [p[0] for p in pend],
                [p[1] for p in pend],
            )
        )
        if pend:
            seal_ms = (min(p[0] for p in pend) + 60) * 1000
            state.setTimeoutTimestamp(
                max(seal_ms, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "series_id", "slot_epoch", "src_slot_epoch",
                    "sum_e3", "cnt", "filled",
                ],
            )

    return (
        pre.withWatermark(ts_col, watermark)
        .groupBy("series_id")
        .applyInPandasWithState(
            fn,
            outputStructType=GAPFILL_OUT_SCHEMA,
            stateStructType=GAPFILL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
