"""Catalog contract tests.

The parquet branch runs everywhere (exercised by every pipeline test);
identifiers are DOT-joined for iceberg (Spark parses multipart names on
'.') and slash-joined paths for parquet;
the iceberg branch cannot execute in this sandbox (no
iceberg-spark-runtime jar, no network — SURVEY.md §0), so its CALL
SHAPES are pinned against fakes: the exact writeTo(...).X() chains and
catalog lookups Iceberg's Spark integration expects. If the branch
drifts (e.g. someone switches to save() or forgets
overwritePartitions), these fail without needing the jar.
"""

import pyspark.sql.functions as F
import pytest

from tokens_ts.io.catalog import Catalog


class _FakeWriteTo:
    def __init__(self, log, target):
        self.log, self.target = log, target

    def overwritePartitions(self):
        self.log.append(("writeTo", self.target, "overwritePartitions"))

    def append(self):
        self.log.append(("writeTo", self.target, "append"))


class _FakeDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, target):
        return _FakeWriteTo(self.log, target)


class _FakeCatalogAPI:
    def __init__(self, log, exists=True):
        self.log, self._exists = log, exists

    def tableExists(self, name):
        self.log.append(("tableExists", name))
        return self._exists


class _FakeReader:
    def __init__(self, log):
        self.log = log

    def table(self, name):
        self.log.append(("read.table", name))
        return "df-sentinel"


class _FakeSpark:
    def __init__(self, log, exists=True):
        self.catalog = _FakeCatalogAPI(log, exists)
        self.read = _FakeReader(log)


def test_iceberg_overwrite_partitions_call_shape():
    log = []
    cat = Catalog("lake.db", "iceberg")
    cat.overwrite_partitions(_FakeDF(log), "t1m", ["source", "day"])
    assert log == [("writeTo", "lake.db.t1m", "overwritePartitions")]


def test_iceberg_append_call_shape():
    log = []
    cat = Catalog("lake.db", "iceberg")
    cat.append(_FakeDF(log), "raw", ["source", "day"])
    assert log == [("writeTo", "lake.db.raw", "append")]


def test_iceberg_exists_and_read_call_shape():
    log = []
    cat = Catalog("lake.db", "iceberg")
    spark = _FakeSpark(log, exists=True)
    assert cat.exists(spark, "t1d") is True
    assert cat.read(spark, "t1d") == "df-sentinel"
    assert log == [("tableExists", "lake.db.t1d"), ("read.table", "lake.db.t1d")]


class _FakeMergeDF:
    """Captures the exact temp-view registration + MERGE SQL text."""

    def __init__(self, log):
        self.log = log
        self.sparkSession = self
        self.catalog = self  # sparkSession.catalog.dropTempView

    def createOrReplaceTempView(self, name):
        self.log.append(("view", name))

    def sql(self, text):
        self.log.append(("sql", text))

    def dropTempView(self, name):
        self.log.append(("dropview", name))


def test_iceberg_merge_upsert_statement_shape():
    """The concurrent-writer-safe increment branch: the exact MERGE
    statement Iceberg's Spark extension parses — keyed on the full raw
    row key including batch_id, UPDATE SET * / INSERT *. If anyone
    reorders the clauses or drops batch_id from the key, this fails
    without needing the jar. The staging view is unique per call (two
    concurrent folds in one SparkSession must not share it) and is
    dropped afterwards."""
    import re

    from tokens_ts.pipeline import RAW_MERGE_KEYS

    log = []
    cat = Catalog("lake.db", "iceberg")
    cat.merge_upsert(_FakeMergeDF(log), "raw", RAW_MERGE_KEYS)
    kind0, view = log[0]
    assert kind0 == "view"
    assert re.fullmatch(r"_merge_src_raw_[0-9a-f]{12}", view), view
    kind, sql = log[1]
    assert kind == "sql"
    assert sql == (
        f"MERGE INTO lake.db.raw t USING {view} s "
        "ON t.source = s.source AND t.day = s.day "
        "AND t.batch_id = s.batch_id AND t.series_id = s.series_id "
        "AND t.event_ts = s.event_ts "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert log[2] == ("dropview", view)
    # two calls never share a staging view
    log2 = []
    cat.merge_upsert(_FakeMergeDF(log2), "raw", RAW_MERGE_KEYS)
    assert log2[0][1] != view


def test_merge_upsert_rejected_on_parquet():
    with pytest.raises(NotImplementedError, match="merge_upsert requires iceberg"):
        Catalog("/tmp/x", "parquet").merge_upsert(None, "raw", ["source"])


def test_upsert_raw_routes_by_format(spark):
    """run_increment's raw fold: iceberg + existing table → MERGE
    branch; iceberg first write → partition overwrite (no table to
    merge into); parquet → the single-writer read-union-overwrite
    (pinned end-to-end by test_pipeline, routing pinned here)."""
    from tokens_ts import pipeline

    class _Cat:
        def __init__(self, fmt, exists):
            self.fmt, self._exists, self.log = fmt, exists, []

        def exists(self, sp, name):
            return self._exists

        def merge_upsert(self, df, name, keys):
            self.log.append(("merge", name, tuple(keys)))

        def overwrite_partitions(self, df, name, cols):
            self.log.append(("overwrite", name, tuple(cols)))

    df = spark.range(0)  # never executed: routing only
    ice = _Cat("iceberg", True)
    pipeline._upsert_raw(spark, ice, df, None, "b1")
    assert ice.log == [("merge", "raw", tuple(pipeline.RAW_MERGE_KEYS))]

    ice0 = _Cat("iceberg", False)
    pipeline._upsert_raw(spark, ice0, df, None, "b1")
    assert ice0.log == [("overwrite", "raw", ("source", "day"))]


def test_unsupported_format_rejected():
    with pytest.raises(ValueError, match="unsupported format"):
        Catalog("/tmp/x", "delta")


def test_iceberg_manifest_routing_call_shape(spark):
    """The exactly-once manifest goes through the same format dispatch
    as the data tables: on an iceberg Catalog, record_done must
    writeTo('root._lineage').append() and read_manifest must
    read.table it — a filesystem path under 'lake.db' would resolve
    against the driver's cwd and silently defeat the batch gate."""
    from tokens_ts import checkpoint

    log = []
    cat = Catalog("lake.db", "iceberg")

    class _CatProxy:
        fmt = "iceberg"

        def append(self, df, name, partition_cols=None):
            log.append(("append", cat.ident(name)))

        def read(self, sp, name, schema=None):
            log.append(("read", cat.ident(name), schema))
            raise FileNotFoundError("no table yet")

    proxy = _CatProxy()
    checkpoint.record_done(
        spark, proxy, [{"partition_id": "batch:x", "rows_in": 1}], "run"
    )
    empty = checkpoint.read_manifest(spark, proxy)
    assert ("append", "lake.db._lineage") in log
    # the manifest read declares its schema (parquet skips inference)
    assert ("read", "lake.db._lineage", checkpoint.MANIFEST_SCHEMA) in log
    assert empty.count() == 0  # unreadable manifest → empty frame, no crash


class _FakeSqlSpark:
    def __init__(self, log):
        self.log = log

    def sql(self, text):
        self.log.append(("sql", text))


def test_iceberg_drop_partitions_statement_shape():
    """Retention enforcement on Iceberg: ONE DELETE statement with
    partition-column-only predicates (metadata-only partition drop —
    no row rewrite), OR-joined across the partitions to drop."""
    log = []
    cat = Catalog("lake.db", "iceberg")
    n = cat.drop_partitions(
        _FakeSqlSpark(log),
        "raw",
        [
            {"source": "srcA", "day": "2026-01-01"},
            {"source": "srcB", "day": "2026-01-01"},
        ],
    )
    assert n == 2
    assert log == [
        (
            "sql",
            "DELETE FROM lake.db.raw WHERE "
            "(source = 'srcA' AND day = '2026-01-01') OR "
            "(source = 'srcB' AND day = '2026-01-01')",
        )
    ]
    # empty key list: no statement at all
    log2 = []
    assert cat.drop_partitions(_FakeSqlSpark(log2), "raw", []) == 0
    assert log2 == []


def test_iceberg_compact_partitions_statement_shape():
    """Compaction on Iceberg: one rewrite_data_files CALL per
    partition with a partition-aligned where and the target file
    size, nothing else."""
    log = []
    cat = Catalog("lake.db", "iceberg")
    out = cat.compact_partitions(
        _FakeSqlSpark(log),
        "raw",
        [{"source": "srcA", "day": "2026-01-01"}],
        target_mb=64,
    )
    assert out == [
        {"partition": {"source": "srcA", "day": "2026-01-01"}, "rewritten": True}
    ]
    assert log == [
        (
            "sql",
            "CALL lake.system.rewrite_data_files("
            "table => 'lake.db.raw', "
            "where => \"source = 'srcA' AND day = '2026-01-01'\", "
            "options => map('target-file-size-bytes', '67108864'))",
        )
    ]
    assert cat.compact_partitions(_FakeSqlSpark([]), "raw", []) == []


def test_compact_partitions_parquet_swap(spark, tmp_path):
    """Parquet compaction: a partition written as many small files
    collapses to one file with byte-identical rows; untouched
    partitions keep their exact files; rerun is a no-op-shaped
    idempotent rewrite."""
    import os

    root = str(tmp_path / "wh")
    cat = Catalog(root, "parquet")
    df = spark.range(2000).selectExpr(
        "CAST(id % 2 AS STRING) AS source", "id AS v"
    )
    # force many small files per partition
    df.repartition(8).write.partitionBy("source").mode("overwrite").parquet(
        cat.path("raw")
    )
    part0 = os.path.join(cat.path("raw"), "source=0")
    part1 = os.path.join(cat.path("raw"), "source=1")
    files_of = lambda p: sorted(  # noqa: E731
        f for f in os.listdir(p) if f.endswith(".parquet")
    )
    before0, before1 = files_of(part0), files_of(part1)
    assert len(before0) > 1
    rows_before = sorted(
        r["v"] for r in spark.read.parquet(cat.path("raw")).where("source = 0").collect()
    )
    out = cat.compact_partitions(spark, "raw", [{"source": "0"}], target_mb=1024)
    assert len(out) == 1
    assert out[0]["files_before"] == len(before0)
    assert out[0]["files_after"] == 1
    assert out[0]["rows"] == 1000
    assert len(files_of(part0)) == 1
    assert files_of(part1) == before1  # untouched partition keeps its files
    rows_after = sorted(
        r["v"] for r in spark.read.parquet(cat.path("raw")).where("source = 0").collect()
    )
    assert rows_after == rows_before
    # no leftover tmp/trash dirs
    assert not os.path.exists(part0 + ".compacting")
    assert not os.path.exists(part0 + ".trash")
    # idempotent rerun: still 1 file, same rows
    out2 = cat.compact_partitions(spark, "raw", [{"source": "0"}], target_mb=1024)
    assert out2[0]["files_after"] == 1 and out2[0]["rows"] == 1000
    # missing partition: skipped silently
    assert cat.compact_partitions(spark, "raw", [{"source": "9"}]) == []


# ---------------------------------------------------------------------------
# read_evolved: mixed-schema-generation scans (Iceberg evolution on the
# parquet fallback)
# ---------------------------------------------------------------------------


def _write_two_generations(spark, cat):
    """gen1 lacks `quality` and `event_type`; gen2 has both plus the
    legacy `extra` column the target has since dropped."""
    gen1 = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "id bigint, v double"
    )
    gen2 = spark.createDataFrame(
        [(3, 3.0, "a", 7, "legacy"), (4, 4.0, None, None, "legacy")],
        "id bigint, v double, event_type string, quality int, extra string",
    )
    gen1.write.mode("overwrite").parquet(cat.path("t"))
    gen2.write.mode("append").parquet(cat.path("t"))


def test_read_evolved_defaults_prune_and_order(spark, tmp_path):
    from tokens_ts.io.catalog import Catalog

    cat = Catalog(str(tmp_path))
    _write_two_generations(spark, cat)
    df = cat.read_evolved(
        spark,
        "t",
        "id bigint, event_type string, quality int, v double",
        defaults={"event_type": "unknown", "quality": 0},
    )
    # column order is the TARGET's, dropped `extra` is pruned
    assert df.columns == ["id", "event_type", "quality", "v"]
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 4
    # gen1 rows: both evolved columns served from defaults
    assert rows[1]["event_type"] == "unknown" and rows[1]["quality"] == 0
    assert rows[2]["event_type"] == "unknown" and rows[2]["quality"] == 0
    # gen2 row with real values: untouched
    assert rows[3]["event_type"] == "a" and rows[3]["quality"] == 7
    # documented fallback divergence: an EXPLICIT null in a new-gen row
    # is indistinguishable from a pre-evolution row, so it coalesces to
    # the default too (Iceberg write-time defaults would keep the null)
    assert rows[4]["event_type"] == "unknown" and rows[4]["quality"] == 0


def test_read_evolved_no_defaults_serves_nulls(spark, tmp_path):
    from tokens_ts.io.catalog import Catalog

    cat = Catalog(str(tmp_path))
    _write_two_generations(spark, cat)
    df = cat.read_evolved(spark, "t", "id bigint, quality int")
    rows = {r["id"]: r["quality"] for r in df.collect()}
    assert rows == {1: None, 2: None, 3: 7, 4: None}


def test_read_evolved_type_conflict_fails_loud(spark, tmp_path):
    """Two generations disagreeing on a column's PHYSICAL type must
    raise in the scan, never silently serve one footer's reading
    (type widening is an Iceberg-only evolution; the fallback refuses)."""
    import pytest as _pytest

    from tokens_ts.io.catalog import Catalog

    cat = Catalog(str(tmp_path))
    spark.createDataFrame([(1, 10)], "id bigint, q int").write.mode(
        "overwrite"
    ).parquet(cat.path("t"))
    spark.createDataFrame([(2, 20)], "id bigint, q bigint").write.mode(
        "append"
    ).parquet(cat.path("t"))
    with _pytest.raises(Exception, match="[Mm]erge|[Ff]ailed"):
        cat.read_evolved(spark, "t", "id bigint, q bigint").collect()


# ---------------------------------------------------------------------------
# delete_where: row-level DELETE via copy-on-write partition rewrite
# ---------------------------------------------------------------------------


def _file_sig(path):
    import os as _os

    out = {}
    for root, _, files in _os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = _os.path.join(root, f)
            st = _os.stat(p)
            out[_os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def test_delete_where_rewrites_only_touched_partitions(spark, tmp_path):
    from tokens_ts.io.catalog import Catalog

    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame(
        [
            ("a", 1, 1.0), ("a", 2, None), ("a", 3, 9.0),
            ("b", 4, 9.0), ("b", 5, 9.0),      # every b row doomed
            ("c", 6, 1.0), ("c", 7, 2.0),      # untouched
        ],
        "p string, id bigint, v double",
    )
    df.write.mode("overwrite").partitionBy("p").parquet(cat.path("t"))
    before_c = _file_sig(str(tmp_path / "t" / "p=c"))

    report = cat.delete_where(
        spark, "t", "v > 5.0", partition_cols=["p"]
    )
    by_part = {r["partition"]["p"]: r for r in report}
    assert by_part["a"] == {
        "partition": {"p": "a"}, "rows_deleted": 1, "rows_kept": 2
    }
    assert by_part["b"]["rows_kept"] == 0
    assert "c" not in by_part  # never opened, never reported

    left = {(r["p"], r["id"]) for r in cat.read(spark, "t").collect()}
    # null predicate rows SURVIVE (ANSI DELETE: only TRUE deletes)
    assert left == {("a", 1), ("a", 2), ("c", 6), ("c", 7)}
    import os as _os

    assert not _os.path.exists(str(tmp_path / "t" / "p=b"))  # emptied → gone
    assert _file_sig(str(tmp_path / "t" / "p=c")) == before_c  # byte-identical
    # no tmp/trash residue on the rewritten partition
    assert not _os.path.exists(str(tmp_path / "t" / "p=a.deleting"))
    assert not _os.path.exists(str(tmp_path / "t" / "p=a.trash"))
    # idempotent rerun: nothing matches any more
    assert cat.delete_where(spark, "t", "v > 5.0", partition_cols=["p"]) == []


def test_delete_where_predicate_on_partition_col(spark, tmp_path):
    from tokens_ts.io.catalog import Catalog

    cat = Catalog(str(tmp_path))
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "p string, id bigint"
    ).write.mode("overwrite").partitionBy("p").parquet(cat.path("t"))
    report = cat.delete_where(
        spark, "t", "p = 'b' AND id > 0", partition_cols=["p"]
    )
    assert [r["partition"]["p"] for r in report] == ["b"]
    assert {r["p"] for r in cat.read(spark, "t").collect()} == {"a"}


def test_delete_where_parquet_requires_partition_cols(spark, tmp_path):
    import pytest as _pytest

    from tokens_ts.io.catalog import Catalog

    with _pytest.raises(ValueError, match="partition_cols"):
        Catalog(str(tmp_path)).delete_where(spark, "t", "1=1")


def test_iceberg_delete_where_statement_shape():
    """Row-level delete on Iceberg: ONE DELETE FROM with the caller's
    predicate verbatim (the engine picks merge-on-read vs copy-on-write
    from table properties — no client-side rewrite)."""
    log = []
    cat = Catalog("lake.db", "iceberg")
    out = cat.delete_where(
        _FakeSqlSpark(log), "raw", "series_id IN ('u1', 'u2')"
    )
    assert log == [
        ("sql", "DELETE FROM lake.db.raw WHERE series_id IN ('u1', 'u2')")
    ]
    assert out == [{"partition": None, "statement": True}]


# ---------------------------------------------------------------------------
# layout: skipping audit + compaction policy
# ---------------------------------------------------------------------------


def test_skipping_audit_finds_prunable_files(spark, tmp_path):
    from tokens_ts.io import layout

    p = str(tmp_path / "t")
    # 3 files with disjoint id ranges via partition dirs
    df = spark.range(300).select(
        (F.col("id") / 100).cast("int").cast("string").alias("b"),
        F.col("id").alias("v"),
    )
    df.repartition(F.col("b")).write.partitionBy("b").parquet(p)
    out = {
        r["file"].split("b=")[1].split("/")[0]: (
            r["n"], r["vmin"], r["vmax"], r["skippable"]
        )
        for r in layout.skipping_audit(spark, p, "v", 120.0, 180.0).collect()
    }
    assert out["0"] == (100, 0, 99, True)     # whole file below range
    assert out["1"] == (100, 100, 199, False)  # overlaps
    assert out["2"] == (100, 200, 299, True)  # whole file above range


def test_compaction_candidates_policy(spark, tmp_path):
    from tokens_ts.io import layout
    from tokens_ts.io.catalog import Catalog

    cat = Catalog(str(tmp_path))
    big = spark.range(1000).select(
        F.lit("a").alias("p"), F.col("id").alias("v")
    )
    # partition a: 12 tiny files (over max_files AND under min_avg_mb)
    big.repartition(12).write.mode("overwrite").parquet(
        cat.path("t") + "/p=a"
    )
    # partition b: 1 file — healthy
    big.coalesce(1).write.mode("overwrite").parquet(cat.path("t") + "/p=b")
    cand = layout.compaction_candidates(
        spark, cat, "t", max_files=8, min_avg_mb=0.0
    )
    assert [c["partition"] for c in cand] == [{"p": "a"}]
    assert cand[0]["n_files"] == 12
    # the report feeds compact_partitions directly
    rep = cat.compact_partitions(
        spark, "t", [c["partition"] for c in cand], target_mb=1024
    )
    assert rep[0]["files_after"] == 1
    assert layout.compaction_candidates(spark, cat, "t", max_files=8, min_avg_mb=0.0) == []
    # missing table: empty, no error
    assert layout.compaction_candidates(spark, cat, "nope") == []
