"""Full-registry gate artifact (verdict-r4 item 2).

Runs EVERY __spark_entry__.queries() pair against its DuckDB oracle at
BOTH sf0.01 and sf0.1 (the driver samples ~50; this covers all of
them, so no rotation can leave pairs unaudited) and writes GATES_rN.json:

  {"sf0.01": {pair: {status, rows, wall_s}}, "sf0.1": {...},
   "summary": {...}}

Usage: python tools/run_gates.py ROUND_TAG   (e.g. r7 → GATES_r7.json)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

from tools.verify_oracle import TABLES, frame_sig  # noqa: E402


def run_sf(spark, sf_dir: str) -> dict:
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    out = {}
    for name, fn in queries.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            out[name] = {
                "status": "spark_error",
                "err": str(e)[:300],
                "wall_s": round(time.time() - t0, 2),
            }
            print(f"ERR  {name}: {e}", flush=True)
            continue
        if name not in oracles:
            out[name] = {
                "status": "rows_only",
                "rows": len(srows),
                "wall_s": round(time.time() - t0, 2),
            }
            print(f"ROWS {name}: {len(srows)}", flush=True)
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            out[name] = {
                "status": "oracle_error",
                "err": str(e)[:300],
                "wall_s": round(time.time() - t0, 2),
            }
            print(f"ERR  {name}: duckdb: {e}", flush=True)
            continue
        sc, sn, sh, _ = frame_sig(scols, srows)
        dc, dn, dh, _ = frame_sig(dcols, drows)
        ok = sc == dc and sn == dn and sh == dh
        out[name] = {
            "status": "pass" if ok else "fail",
            "rows": sn,
            "oracle_rows": dn,
            "wall_s": round(time.time() - t0, 2),
        }
        print(f"{'PASS' if ok else 'FAIL'} {name}: {sn}", flush=True)
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: python tools/run_gates.py ROUND_TAG  (e.g. r7)")
    tag = sys.argv[1]
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    gates = {}
    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        key = sf_dir.rsplit("/", 1)[-1]
        print(f"=== {key} ===", flush=True)
        gates[key] = run_sf(spark, sf_dir)
    summary = {}
    for key, res in gates.items():
        statuses = [r["status"] for r in res.values()]
        summary[key] = {
            "pairs": len(statuses),
            "pass": statuses.count("pass"),
            "fail": statuses.count("fail"),
            "rows_only": statuses.count("rows_only"),
            "errors": statuses.count("spark_error") + statuses.count("oracle_error"),
            "wall_s": round(sum(r["wall_s"] for r in res.values()), 1),
        }
    gates["summary"] = summary
    path = ROOT / f"GATES_{tag}.json"
    path.write_text(json.dumps(gates, indent=1))
    print(json.dumps(summary))
    spark.stop()
    bad = any(s["fail"] or s["errors"] for s in summary.values())
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
