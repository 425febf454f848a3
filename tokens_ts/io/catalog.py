"""Table-format abstraction: Iceberg in production, parquet in sandbox.

The north rule targets Iceberg tables (BASELINE.json:14), but this
sandbox has no iceberg-spark-runtime jar and no network (SURVEY.md §0),
so the format is isolated here — the ONLY format-aware module.

Production configuration (real cluster, documented for operators):

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.1_2.13:1.8.x \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=<warehouse-uri>

with table layout
    CREATE TABLE lake.db.sequences (doc_id string, tokens array<int>,
      n_tok int, source string)
    PARTITIONED BY (bucket(256, doc_id), source)
and tier tables partitioned by (source, days(window_start)). Tier
refresh uses MERGE INTO / replaceWhere on the touched windows; on the
parquet fallback the same idempotence comes from dynamic partition
overwrite (spark.sql.sources.partitionOverwriteMode=dynamic), which
this module sets per-write.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class Catalog:
    """Minimal write/read/exists facade over a warehouse root."""

    def __init__(self, root: str, fmt: str = "parquet"):
        if fmt not in ("parquet", "iceberg"):
            raise ValueError(f"unsupported format: {fmt}")
        self.root = root.rstrip("/")
        self.fmt = fmt

    def path(self, name: str) -> str:
        """Filesystem path (parquet) — slash-joined under the root."""
        return f"{self.root}/{name}"

    def ident(self, name: str) -> str:
        """Catalog table identifier (iceberg) — DOT-joined: Spark parses
        multipart identifiers on '.', so a root of 'lake.db' yields
        'lake.db.t1m'. A slash-joined 'lake.db/t1m' would parse as
        table name 'db/t1m' and fail on any real catalog."""
        return f"{self.root}.{name}"

    def exists(self, spark: SparkSession, name: str) -> bool:
        if self.fmt == "iceberg":
            return spark.catalog.tableExists(self.ident(name))
        p = self.path(name)
        return os.path.isdir(p) and any(
            f for f in os.listdir(p) if not f.startswith(("_", "."))
        )

    def read(
        self, spark: SparkSession, name: str, schema: StructType | None = None
    ) -> DataFrame:
        """Scan a table. With `schema` the parquet fallback reads with
        that declared schema instead of inferring one from the file
        footers, which costs a Spark job per read; the declared read
        starts no job, prunes columns the files carry beyond it and
        reads its columns missing from older files as null. Iceberg
        ignores `schema`: the table metadata already carries one."""
        if self.fmt == "iceberg":
            return spark.read.table(self.ident(name))
        if schema is not None:
            return spark.read.schema(schema).parquet(self.path(name))
        return spark.read.parquet(self.path(name))

    def read_evolved(
        self,
        spark: SparkSession,
        name: str,
        target_schema: str,
        defaults: dict[str, object] | None = None,
    ) -> DataFrame:
        """Read a table whose files span SCHEMA GENERATIONS — Iceberg's
        add-column / drop-column evolution re-expressed on the parquet
        fallback. A long-lived incremental table WILL change shape
        (a new quality flag, a retired debug column); without this,
        the first mixed-generation scan either crashes or silently
        serves whichever footer Spark sampled first.

        `target_schema` (DDL string) is the contract every consumer
        sees, whatever generation wrote each file:

        - column in target but absent from old files → read as null
          via mergeSchema, then filled from `defaults` if provided;
        - column in files but dropped from target → pruned;
        - column order → exactly the target's, regardless of file
          layout.

        Iceberg: the table's own metadata already resolves evolution
        (field-id based, so renames work too); this projects/casts to
        the target for the same consumer contract. Parquet fallback
        semantics, stated honestly: (1) name-based matching — renames
        are NOT supported (Iceberg-only, field ids); (2) `defaults`
        apply as value-level COALESCE — the fallback cannot tell a
        pre-evolution row from an explicitly-written null, where
        Iceberg's write-time defaults can (divergence pinned in
        tests); (3) type WIDENING across generations raises inside
        mergeSchema rather than mis-reading (Iceberg-only)."""
        fields = spark.createDataFrame([], target_schema).schema.fields
        if self.fmt == "iceberg":
            df = spark.read.table(self.ident(name))
        else:
            df = (
                spark.read.option("mergeSchema", "true")
                .parquet(self.path(name))
            )
        defaults = defaults or {}
        cols = []
        for f in fields:
            if f.name in df.columns:
                c = F.col(f.name).cast(f.dataType)
                if f.name in defaults:
                    c = F.coalesce(
                        c, F.lit(defaults[f.name]).cast(f.dataType)
                    )
            else:
                c = F.lit(defaults.get(f.name)).cast(f.dataType)
            cols.append(c.alias(f.name))
        return df.select(*cols)

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_cols: list[str]
    ) -> None:
        """Idempotently replace exactly the partitions present in df.

        Iceberg: overwritePartitions() (snapshot-atomic). Parquet:
        dynamic partition overwrite — same per-partition idempotence,
        weaker (non-snapshot) atomicity, fine for the sandbox."""
        if self.fmt == "iceberg":
            df.writeTo(self.ident(name)).overwritePartitions()
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(self.path(name))
        )

    def replace(self, df: DataFrame, name: str) -> None:
        """Full-table replace. Iceberg: createOrReplace — one
        snapshot-atomic swap. Parquet: plain overwrite, non-atomic —
        which is why checkpoint.compact_manifest routes parquet
        manifests through its own append-then-delete path and calls
        this only on the Iceberg branch."""
        if self.fmt == "iceberg":
            df.writeTo(self.ident(name)).createOrReplace()
            return
        df.write.mode("overwrite").parquet(self.path(name))

    def merge_upsert(
        self, df: DataFrame, name: str, key_cols: list[str]
    ) -> None:
        """Concurrent-writer-safe row-level upsert (Iceberg only).

        MERGE INTO <table> keyed on `key_cols`: matched rows are
        replaced, new rows inserted, in ONE snapshot-isolated commit.
        Because the key includes batch_id, concurrent writers folding
        DIFFERENT batches never match each other's rows — Iceberg's
        optimistic concurrency retries the metadata swap and both
        commits land, which is exactly what the parquet
        read-union-overwrite fallback cannot promise (it assumes a
        single writer per partition set; pipeline.run_increment
        documents that caveat and selects this branch on fmt=iceberg).

        Keys must be non-null (raw's source/day/batch_id/series_id/
        event_ts all are): plain `=` in the ON clause, so Iceberg can
        push the join keys into its file-level pruning.

        The staging view name is unique per call and dropped after the
        MERGE: temp views are session-scoped, so a fixed name would
        race between two concurrent folds in the SAME SparkSession
        (one MERGE consuming the other's source rows); cross-session /
        cross-application concurrency was already safe via Iceberg's
        optimistic commit.
        """
        if self.fmt != "iceberg":
            raise NotImplementedError(
                "merge_upsert requires iceberg; parquet callers use the "
                "single-writer read-union-overwrite path"
            )
        import uuid as _uuid

        view = f"_merge_src_{name}_{_uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
            df.sparkSession.sql(
                f"MERGE INTO {self.ident(name)} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            df.sparkSession.catalog.dropTempView(view)

    def drop_partitions(
        self, spark: SparkSession, name: str, keys: list[dict]
    ) -> int:
        """Delete whole partitions by partition-column values.

        `keys` = one dict per partition, each mapping partition column →
        value in the table's partition order, e.g.
        {"source": "src00", "day": "2024-01-01"}.

        Iceberg: ONE `DELETE FROM <ident> WHERE (…) OR (…)` statement —
        predicates on partition columns only, so the engine executes it
        as a metadata-only partition drop (no row rewrite, one snapshot
        commit; same call-shape-pinning testability as merge_upsert).
        Parquet: remove the hive-layout partition directories through
        the Hadoop FileSystem API (NOT os.remove — the same code path
        must work when the warehouse root is hdfs:// or s3a://).

        Returns the number of partition directories actually removed
        (parquet) or len(keys) (iceberg — one statement, the table's
        own metadata decides what matched). Values are rendered with
        str(); partition values in this engine are source names and ISO
        dates, which need no hive escaping."""
        if not keys:
            return 0
        if self.fmt == "iceberg":
            conds = " OR ".join(
                "("
                + " AND ".join(f"{c} = '{v}'" for c, v in k.items())
                + ")"
                for k in keys
            )
            spark.sql(f"DELETE FROM {self.ident(name)} WHERE {conds}")
            return len(keys)
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        HPath = jvm.org.apache.hadoop.fs.Path
        base = HPath(self.path(name))
        fs = base.getFileSystem(hconf)
        n = 0
        for k in keys:
            p = HPath(base, "/".join(f"{c}={v}" for c, v in k.items()))
            if fs.exists(p):
                fs.delete(p, True)
                n += 1
        return n

    def append(
        self, df: DataFrame, name: str, partition_cols: list[str] | None = None
    ) -> None:
        if self.fmt == "iceberg":
            df.writeTo(self.ident(name)).append()
            return
        w = df.write.mode("append")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self.path(name))

    def compact_partitions(
        self,
        spark: SparkSession,
        name: str,
        keys: list[dict],
        target_mb: int = 128,
    ) -> list[dict]:
        """Rewrite each listed partition's many small files into
        ceil(bytes / target_mb) files — the small-file compaction every
        long-lived incremental table needs (streaming/increment waves
        append a few files per commit; after thousands of commits the
        scan's task count and the namenode/S3 listing cost are
        file-bound, not data-bound).

        Iceberg: ONE `CALL <catalog>.system.rewrite_data_files` with a
        partition-aligned `where` per key set — snapshot-atomic,
        statement shape pinned the same way as merge_upsert /
        drop_partitions. Parquet: per partition, (1) write compacted
        files to `<dir>.compacting` with the SAME schema, (2) verify
        the row count matches, (3) swap via two renames
        (dir → `<dir>.trash`, tmp → dir), (4) delete the trash.
        Crash semantics, pinned: a crash before (3) leaves the
        partition untouched (plus a stale tmp a rerun overwrites); a
        crash between the renames leaves the partition ABSENT but the
        trash intact (operator restores by renaming back; rerunning the
        job re-backfills) — the window is never DUPLICATED data, which
        is the failure mode consumers cannot detect. A row-count
        mismatch aborts before any rename.

        Returns one dict per partition: files_before/files_after/rows.
        """
        out: list[dict] = []
        if not keys:
            return out
        if self.fmt == "iceberg":
            cat = self.root.split(".")[0]
            for k in keys:
                where = " AND ".join(f"{c} = '{v}'" for c, v in k.items())
                spark.sql(
                    f"CALL {cat}.system.rewrite_data_files("
                    f"table => '{self.ident(name)}', "
                    f"where => \"{where}\", "
                    f"options => map('target-file-size-bytes', "
                    f"'{target_mb * 1024 * 1024}'))"
                )
                out.append({"partition": k, "rewritten": True})
            return out
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        HPath = jvm.org.apache.hadoop.fs.Path
        base = HPath(self.path(name))
        fs = base.getFileSystem(hconf)
        for k in keys:
            rel = "/".join(f"{c}={v}" for c, v in k.items())
            part = HPath(base, rel)
            if not fs.exists(part):
                continue
            files = [
                f
                for f in fs.listStatus(part)
                if f.isFile() and not f.getPath().getName().startswith(("_", "."))
            ]
            size = sum(f.getLen() for f in files)
            n_target = max(1, -(-size // (target_mb * 1024 * 1024)))
            df = spark.read.parquet(str(part))
            rows_before = df.count()
            tmp = HPath(str(part) + ".compacting")
            if fs.exists(tmp):
                fs.delete(tmp, True)
            df.coalesce(int(n_target)).write.mode("overwrite").parquet(str(tmp))
            rows_after = spark.read.parquet(str(tmp)).count()
            if rows_after != rows_before:
                fs.delete(tmp, True)
                raise RuntimeError(
                    f"compact_partitions: row count changed for {rel} "
                    f"({rows_before} -> {rows_after}); aborting before swap"
                )
            trash = HPath(str(part) + ".trash")
            if fs.exists(trash):
                fs.delete(trash, True)
            fs.rename(part, trash)
            fs.rename(tmp, part)
            fs.delete(trash, True)
            n_after = len(
                [
                    f
                    for f in fs.listStatus(part)
                    if f.isFile()
                    and not f.getPath().getName().startswith(("_", "."))
                ]
            )
            out.append(
                {
                    "partition": dict(k),
                    "files_before": len(files),
                    "files_after": n_after,
                    "rows": rows_before,
                }
            )
        return out

    def delete_where(
        self,
        spark: SparkSession,
        name: str,
        predicate: str,
        partition_cols: list[str] | None = None,
    ) -> list[dict]:
        """Row-level DELETE — the right-to-be-forgotten op that
        partition drops cannot express (the doomed rows live INSIDE
        partitions, interleaved with rows that must survive
        byte-exact).

        `predicate` is a SQL boolean expression; rows where it is TRUE
        are deleted, rows where it is false or null survive (ANSI
        DELETE semantics). Iceberg: ONE `DELETE FROM <ident> WHERE …`
        statement — the engine picks merge-on-read or copy-on-write
        from table properties. Parquet: copy-on-write at partition
        granularity:

        1. one pruned scan finds the TOUCHED partition set (the
           predicate pushes down, so a predicate that constrains
           partition columns only scans matching partitions; the
           result is partition-count bounded — control plane);
        2. each touched partition is read WITH its partition values
           (basePath), filtered to survivors, and rewritten through
           the same crash-safe tmp-write → verify → two-rename swap as
           compact_partitions — a crash never leaves doubled or
           half-deleted data visible, and a partition whose rows are
           all deleted is removed entirely;
        3. untouched partitions are never opened, never rewritten —
           byte-identical files (pinned by test).

        Returns one dict per touched partition:
        {partition, rows_deleted, rows_kept}."""
        if self.fmt == "iceberg":
            spark.sql(
                f"DELETE FROM {self.ident(name)} WHERE {predicate}"
            )
            return [{"partition": None, "statement": True}]
        if not partition_cols:
            raise ValueError(
                "delete_where on parquet needs partition_cols "
                "(the rewrite unit)"
            )
        pred = F.expr(predicate)
        full = spark.read.parquet(self.path(name))
        touched = [
            {c: r[c] for c in partition_cols}
            for r in full.where(pred)
            .select(*partition_cols)
            .distinct()
            .collect()
        ]
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        HPath = jvm.org.apache.hadoop.fs.Path
        base = HPath(self.path(name))
        fs = base.getFileSystem(hconf)
        out: list[dict] = []
        for k in sorted(touched, key=lambda d: tuple(str(v) for v in d.values())):
            rel = "/".join(f"{c}={v}" for c, v in k.items())
            part = HPath(base, rel)
            df = (
                spark.read.option("basePath", self.path(name))
                .parquet(str(part))
            )
            rows_before = df.count()
            keep = df.where(~F.coalesce(pred, F.lit(False))).drop(
                *partition_cols
            )
            kept_expected = keep.count()
            deleted = rows_before - kept_expected
            if deleted == 0:
                continue
            if kept_expected == 0:
                fs.delete(part, True)
                out.append(
                    {"partition": dict(k), "rows_deleted": rows_before,
                     "rows_kept": 0}
                )
                continue
            tmp = HPath(str(part) + ".deleting")
            if fs.exists(tmp):
                fs.delete(tmp, True)
            keep.write.mode("overwrite").parquet(str(tmp))
            kept_actual = spark.read.parquet(str(tmp)).count()
            if kept_actual != kept_expected:
                fs.delete(tmp, True)
                raise RuntimeError(
                    f"delete_where: survivor count drifted for {rel} "
                    f"({kept_expected} -> {kept_actual}); aborting "
                    "before swap"
                )
            trash = HPath(str(part) + ".trash")
            if fs.exists(trash):
                fs.delete(trash, True)
            fs.rename(part, trash)
            fs.rename(tmp, part)
            fs.delete(trash, True)
            out.append(
                {"partition": dict(k), "rows_deleted": deleted,
                 "rows_kept": kept_expected}
            )
        if out:
            # the rewrite replaced files in place; invalidate Spark's
            # cached listing for the path so subsequent reads re-list
            # instead of failing on the vanished old files. (DataFrames
            # planned BEFORE the delete are stale by construction —
            # copy-on-write without snapshots cannot keep them valid;
            # Iceberg's snapshot isolation is the production answer.)
            spark.catalog.refreshByPath(self.path(name))
        return out


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Write `df` as a BUCKETED catalog table: rows are hash-split on
    `key` into `n_buckets` files per partition write, with the bucket
    spec recorded in the session catalog. This is the shuffle-removal
    lever for repeated joins/aggregations on a stable key: two tables
    bucketed the same way join with NO Exchange on either side (the
    bucketing IS the required hash partitioning), and a one-sided
    bucket read feeds a groupBy on the key without a shuffle — at
    10^12 rows that converts every recurring series/doc join from a
    full-corpus shuffle into a local zipper merge.

    Iceberg equivalent (documented, same as the module header's
    layout): PARTITIONED BY (bucket(N, key)) — storage-partitioned
    joins via spark.sql.sources.v2.bucketing.enabled. The sandbox path
    uses Spark's native parquet bucketing (saveAsTable — bucket
    metadata lives in the session catalog, so readers must come from
    spark.table(), not spark.read.parquet()).

    sort_col additionally sorts within each bucket file (sortBy),
    which lets the SortMergeJoin skip its sort too."""
    w = df.write.format("parquet").mode("overwrite")
    if sort_col is not None:
        w = w.bucketBy(n_buckets, key).sortBy(sort_col)
    else:
        w = w.bucketBy(n_buckets, key)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read that preserves the bucket spec (spark.table —
    a path read would discard the bucketing metadata)."""
    return spark.table(table)
