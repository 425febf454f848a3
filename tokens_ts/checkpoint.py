"""Checkpoint manifest: per-partition lineage + metrics + resume.

North rule: "resumable from checkpoint with per-partition lineage and
metrics" (BASELINE.json:14; SURVEY.md §4.4). The unit of work is an
input partition — `source` in the sandbox, `(source_bucket, day)` at
10^12 scale; the manifest schema carries both via a string id.

Resume = pending partitions minus the status='done' manifest ids
(SURVEY.md J3): run_backfill collects one control-plane-sized
partition_summary and takes the difference driver-side; filter_pending
is the same rule as a broadcast anti-join. Manifest writes are parquet
appends of a handful of rows per completed batch — atomic enough per
partition-file; on Iceberg the same append is a snapshot commit.

The token-array-equality invariant travels as `token_checksum`: an
xor-fold of xxhash64(doc_id, tokens) per partition (order-independent,
overflow-free) — recomputable at any later stage to prove no rewrite
touched a token.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MANIFEST_SCHEMA = StructType(
    [
        StructField("partition_id", StringType(), False),
        StructField("status", StringType(), False),
        StructField("rows_in", LongType()),
        StructField("points_raw", LongType()),
        StructField("points_1m", LongType()),
        StructField("points_1h", LongType()),
        StructField("points_1d", LongType()),
        StructField("token_checksum", LongType()),
        StructField("wall_ms", DoubleType()),
        StructField("attempt", LongType()),
        StructField("job_run_id", StringType()),
        StructField("ts", DoubleType()),
        # max folded event time (unix µs) — the streaming high-watermark
        # travels IN the same manifest row as the epoch marker, so the
        # fold commit and the watermark advance are one atomic append
        # (a separate watermark table could lose the advance in a crash
        # between two writes, silently laxening the late-row bound)
        StructField("max_event_us", LongType()),
    ]
)


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def token_checksum(where: Column | None = None) -> Column:
    """The token_checksum aggregate: xor-fold of xxhash64(doc_id, tokens)
    over the rows where `where` holds (every row when None); null over
    no rows."""
    h = F.xxhash64("doc_id", "tokens")
    return F.bit_xor(h if where is None else F.when(where, h))


def token_checksum_by_partition(seq: DataFrame, partition_col: str = "source") -> DataFrame:
    """(partition_id, rows_in, token_checksum) — the invariant carrier."""
    return seq.groupBy(F.col(partition_col).alias("partition_id")).agg(
        F.count("*").alias("rows_in"),
        token_checksum().alias("token_checksum"),
    )


MANIFEST_TABLE = "_lineage"


def read_manifest(spark: SparkSession, where) -> DataFrame:
    """`where` is a Catalog (format-aware: parquet path OR iceberg
    table identifier) or, for backward compatibility with tests and
    ad-hoc inspection, a plain parquet path string. The manifest must
    go through the same format dispatch as the data tables — a
    filesystem path under an iceberg root like 'lake.db' would resolve
    against the driver's working directory and silently break the
    exactly-once batch gate.

    Only a MISSING manifest degrades to an empty frame (first run).
    Any other read failure re-raises: a transiently unreadable
    manifest must abort the job — treating it as empty would make
    every replay gate see 'nothing done' and re-execute committed
    batches with side effects (DLQ/watermark reclassification),
    diverging silently instead of failing loudly."""
    from pyspark.errors import AnalysisException

    try:
        # parquet reads declare MANIFEST_SCHEMA: no footer-inference job,
        # and columns absent from older files read as null
        if isinstance(where, str):
            return spark.read.schema(MANIFEST_SCHEMA).parquet(where)
        df = where.read(spark, MANIFEST_TABLE, MANIFEST_SCHEMA)
        return _align_schema(df) if where.fmt == "iceberg" else df
    except (AnalysisException, FileNotFoundError) as e:
        # classify "missing table" (→ empty frame, first run) vs any
        # other failure (→ re-raise). Primary signal is the structured
        # error CLASS — message text is Spark-version/catalog-dependent
        # and a reworded message must not abort first runs; the
        # substring probes remain only as a fallback for exceptions
        # raised without a class.
        missing = isinstance(e, FileNotFoundError)
        if not missing and isinstance(e, AnalysisException):
            cls = None
            try:
                cls = e.getErrorClass()
            except Exception:
                cls = None
            if cls is not None:
                missing = cls in (
                    "PATH_NOT_FOUND",
                    "TABLE_OR_VIEW_NOT_FOUND",
                    "UNABLE_TO_INFER_SCHEMA",  # empty dir left by a dropped table
                )
            else:
                msg = str(e)
                missing = (
                    "PATH_NOT_FOUND" in msg
                    or "TABLE_OR_VIEW_NOT_FOUND" in msg
                    or "Path does not exist" in msg
                )
        if missing:
            return _local_manifest(spark, [])
        raise


def _local_manifest(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Manifest rows as an Arrow-built local relation: no Python RDD and
    no Python worker, and an empty one plans to zero jobs downstream
    (a first run's resume collect is free)."""
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(MANIFEST_SCHEMA))
    )


def _align_schema(df: DataFrame) -> DataFrame:
    """Project an Iceberg manifest onto MANIFEST_SCHEMA: a table created
    before a column was added (e.g. max_event_us) reads it as null. The
    parquet reads get the same projection from their declared schema."""
    for f in MANIFEST_SCHEMA.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df.select(*[f.name for f in MANIFEST_SCHEMA.fields])


def watermark_us(spark: SparkSession, where) -> int | None:
    """High-watermark: max event time (unix µs) across all committed
    folds — read from the manifest itself, so it can never run ahead
    of or behind what actually committed."""
    r = (
        read_manifest(spark, where)
        .where(F.col("status") == "done")
        .agg(F.max("max_event_us").alias("m"))
        .collect()[0]
    )
    return None if r["m"] is None else int(r["m"])


def done_partitions(spark: SparkSession, where) -> DataFrame:
    """Distinct partition ids already completed (any attempt)."""
    return (
        read_manifest(spark, where)
        .where(F.col("status") == "done")
        .select("partition_id")
        .distinct()
    )


def partition_summary(manifest: DataFrame) -> dict[str, dict]:
    """partition_id → {attempt, done} in ONE collect of a manifest
    frame: the highest attempt and whether any attempt completed.
    Control-plane sized: one row per partition id."""
    return {
        r["partition_id"]: r.asDict()
        for r in manifest.groupBy("partition_id")
        .agg(
            F.max("attempt").alias("attempt"),
            F.bool_or(F.col("status") == "done").alias("done"),
        )
        .collect()
    }


def is_done(spark: SparkSession, where, partition_id: str) -> bool:
    """Server-side membership probe for ONE partition/batch marker.

    The hot-path replay gate (run_increment per batch, streaming._fold
    per epoch) needs exactly one bit — collecting the full done-set to
    the driver costs O(total-epochs) per epoch on a manifest that
    grows forever. The filter + limit(1) shape pushes the predicate
    into the scan (parquet row-group stats / Iceberg file pruning) and
    ships back at most one row."""
    return (
        not read_manifest(spark, where)
        .where((F.col("partition_id") == partition_id) & (F.col("status") == "done"))
        .limit(1)
        .isEmpty()
    )


def filter_pending(
    df: DataFrame, done: DataFrame, partition_col: str = "source"
) -> DataFrame:
    """Drop rows whose partition already completed — broadcast anti-join
    (the done set is tiny: one row per partition, not per data row)."""
    return df.join(
        F.broadcast(done.withColumnRenamed("partition_id", partition_col)),
        partition_col,
        "left_anti",
    )


def record_done(
    spark: SparkSession,
    where,
    lineage_rows: list[dict],
    job_run_id: str,
    attempt_base: dict[str, int] | None = None,
) -> None:
    """Append one 'done' row per lineage dict (attempt = base + 1) as
    one coalesced file, built as a local relation (_local_manifest)."""
    now = time.time()
    attempt_base = attempt_base or {}
    rows = [
        {
            "partition_id": r["partition_id"],
            "status": "done",
            "rows_in": int(r.get("rows_in", 0)),
            "points_raw": int(r.get("points_raw", 0)),
            "points_1m": int(r.get("points_1m", 0)),
            "points_1h": int(r.get("points_1h", 0)),
            "points_1d": int(r.get("points_1d", 0)),
            "token_checksum": int(r.get("token_checksum") or 0),
            "wall_ms": float(r.get("wall_ms", 0.0)),
            "attempt": int(attempt_base.get(r["partition_id"], 0)) + 1,
            "job_run_id": job_run_id,
            "ts": now,
            "max_event_us": (
                None
                if r.get("max_event_us") is None
                else int(r["max_event_us"])
            ),
        }
        for r in lineage_rows
    ]
    df = _local_manifest(spark, rows).coalesce(1)
    if isinstance(where, str):
        df.write.mode("append").parquet(where)
    else:
        where.append(df, MANIFEST_TABLE)


def compact_manifest(spark: SparkSession, where) -> int:
    """Rewrite the manifest to ONE row per partition_id.

    The manifest grows one small parquet file per commit forever —
    correct, but a long-lived stream pays an O(total-epochs)
    many-small-files scan on every epoch gate. Compaction folds each
    partition's history into its latest row while preserving every
    derived quantity consumers read: the done set (latest status),
    attempt counts (max), the high-watermark (max max_event_us), and
    the latest metrics/lineage fields.

    Atomicity: on Iceberg the rewrite is a snapshot-atomic
    createOrReplace. On sandbox parquet the rewrite is APPEND-then-
    delete-old: the compacted rows land as a new file in the same
    directory first, and only then are the superseded files deleted —
    so there is NO point at which the manifest is missing or has lost
    information. A crash before the append changes nothing; a crash
    between append and deletes (or mid-delete) leaves duplicate rows,
    which every consumer already folds idempotently (done set is
    DISTINCT, watermark/attempt are MAX, metrics are max_by(ts) and
    the compacted row ties the latest original at the same ts with
    identical values) and which the next compaction removes. Returns
    the compacted row count.
    """
    m = read_manifest(spark, where)
    # both parquet shapes (plain path and parquet-format Catalog) take
    # the append-then-delete path; only Iceberg gets the snapshot swap
    parquet_path = (
        where
        if isinstance(where, str)
        else (where.path(MANIFEST_TABLE) if where.fmt == "parquet" else None)
    )
    old_files: list[str] = []
    if parquet_path is not None:
        # the exact files whose rows were folded — deleted only after
        # the compacted file is durably appended (fs-agnostic via the
        # scan's own file attribution, no directory-listing race with
        # a concurrent record_done appender)
        old_files = [
            r["f"]
            for r in m.select(F.input_file_name().alias("f")).distinct().collect()
            if r["f"]
        ]
    latest = F.struct("ts", "attempt")
    compacted = (
        m.groupBy("partition_id")
        .agg(
            F.max_by("status", latest).alias("status"),
            F.max_by("rows_in", latest).alias("rows_in"),
            F.max_by("points_raw", latest).alias("points_raw"),
            F.max_by("points_1m", latest).alias("points_1m"),
            F.max_by("points_1h", latest).alias("points_1h"),
            F.max_by("points_1d", latest).alias("points_1d"),
            F.max_by("token_checksum", latest).alias("token_checksum"),
            F.max_by("wall_ms", latest).alias("wall_ms"),
            F.max("attempt").alias("attempt"),
            F.max_by("job_run_id", latest).alias("job_run_id"),
            F.max("ts").alias("ts"),
            F.max("max_event_us").alias("max_event_us"),
        )
        .select(*[f.name for f in MANIFEST_SCHEMA.fields])
        # pin before the overwrite below replaces the files being read
        .localCheckpoint(eager=True)
    )
    n = compacted.count()
    if parquet_path is not None:
        compacted.coalesce(1).write.mode("append").parquet(parquet_path)
        _delete_files(spark, old_files)
    else:
        where.replace(compacted.coalesce(1), MANIFEST_TABLE)
    return n


def _delete_files(spark: SparkSession, paths: list[str]) -> None:
    """Best-effort delete of superseded manifest files via the Hadoop
    FS API (scheme-agnostic). Called only AFTER the replacement rows
    are durably appended; a partial delete leaves harmless duplicates
    (see compact_manifest)."""
    if not paths:
        return
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        jpath.getFileSystem(hconf).delete(jpath, False)
