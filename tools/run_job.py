"""spark-submit entrypoint for the tokens_ts pipeline jobs.

The north-rule launch shape (BASELINE.json): jobs run via

    spark-submit --master <cluster> --py-files tokens_ts.zip \\
        tools/run_job.py backfill --sequences <path> --out <root> \\
        [--fmt parquet|iceberg] [--commit-batch N]

Subcommands:
  backfill   process all pending input partitions (resumable — rerun
             after a crash and only pending partitions run)
  increment  fold one append-only batch exactly-once
             (--batch-id <id> for replay-stable epochs)
  retention  enforce per-tier keep policies
             (--policy raw=7days,t1m=90days --now "YYYY-MM-DD HH:MM:SS")
  report     print tier summary + freshness + lineage rollup

All Spark configuration (master, executors, memory, shuffle
partitions, Iceberg catalog) comes from spark-submit --conf; this
script only builds the session that spark-submit prepared. Exercised
end-to-end by tests/test_submit.py through a REAL spark-submit
--py-files launch.
"""

from __future__ import annotations

import argparse
import json
import sys


def _session():
    from pyspark.sql import SparkSession

    return SparkSession.builder.getOrCreate()


def cmd_backfill(args) -> dict:
    from tokens_ts import grid, pipeline

    spark = _session()
    seq = grid.with_event_time(spark.read.parquet(args.sequences))
    return pipeline.run_backfill(
        spark,
        seq,
        args.out,
        fmt=args.fmt,
        commit_batch=args.commit_batch,
        max_partitions=args.max_partitions,
    )


def cmd_increment(args) -> dict:
    from tokens_ts import grid, pipeline

    spark = _session()
    seq = grid.with_event_time(spark.read.parquet(args.new))
    return pipeline.run_increment(
        spark, seq, args.out, fmt=args.fmt, batch_id=args.batch_id
    )


def cmd_retention(args) -> dict:
    from tokens_ts import tiers
    from tokens_ts.io.catalog import Catalog

    spark = _session()
    policies = {}
    for part in args.policy.split(","):
        table, keep = part.split("=", 1)
        # "7days" / "90 days" both accepted
        keep = keep.strip()
        if keep and not keep[0].isdigit():
            raise SystemExit(f"bad policy term: {part}")
        num = "".join(c for c in keep if c.isdigit())
        unit = keep[len(num):].strip() or "days"
        policies[table.strip()] = f"{num} {unit}"
    dropped = tiers.enforce_retention(
        spark, Catalog(args.out, args.fmt), policies, now=args.now
    )
    return {t: len(v) for t, v in dropped.items()}


def cmd_report(args) -> dict:
    from tokens_ts import sql as tsql

    spark = _session()
    views = tsql.register_views(spark, args.out, fmt=args.fmt)
    out = {"views": views}
    if any(v in views for v in ("t1m", "t1h", "t1d")):
        out["tiers"] = [r.asDict() for r in tsql.tier_summary(spark).collect()]
    if "raw" in views:
        out["freshness"] = [
            r.asDict() for r in tsql.freshness(spark).collect()
        ]
    if "lineage" in views:
        out["lineage_rows"] = tsql.lineage_report(spark).count()
    return out


def main(argv=None):
    p = argparse.ArgumentParser(prog="run_job")
    sub = p.add_subparsers(dest="cmd", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--out", required=True, help="warehouse root")
    common.add_argument("--fmt", default="parquet", choices=["parquet", "iceberg"])

    b = sub.add_parser("backfill", parents=[common])
    b.add_argument("--sequences", required=True)
    b.add_argument("--commit-batch", type=int, default=1)
    b.add_argument("--max-partitions", type=int, default=None)
    b.set_defaults(fn=cmd_backfill)

    i = sub.add_parser("increment", parents=[common])
    i.add_argument("--new", required=True)
    i.add_argument("--batch-id", default=None)
    i.set_defaults(fn=cmd_increment)

    r = sub.add_parser("retention", parents=[common])
    r.add_argument("--policy", required=True, help="raw=7days,t1m=90days")
    r.add_argument("--now", required=True)
    r.set_defaults(fn=cmd_retention)

    rep = sub.add_parser("report", parents=[common])
    rep.set_defaults(fn=cmd_report)

    args = p.parse_args(argv)
    result = args.fn(args)
    # ONE machine-readable line on stdout — what a scheduler parses
    print(json.dumps({"cmd": args.cmd, "result": result}, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
