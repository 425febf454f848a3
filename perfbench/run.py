"""tokens_ts benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload {pipeline,operators} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from --seed, the
Spark session is local[nproc] with a fixed driver heap sized to this
host's RAM, and every table, Spark scratch file and temp file lives in
a fresh work directory under perfbench/out/ that is removed at the end.

Every workload reports the same end-to-end figures for its own timed
calls: first_s (the session's first, cold call: pipeline's cold
one-partition run_backfill, or the sum of the operators' first calls),
steady_s (median of the warm repeats: one increment plus its three
reads, or the sum of each operator's median repeat), points_per_s,
bytes_per_point and peak_rss_mb. The gated timings are those divided
by calib_s, the median time of a fixed Spark job that uses none of the
program and runs in setup (see `calibrate`).

The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics, taken
from spans around calls into the program and the Spark event log
(written to perfbench/out/eventlog/). The lines above the JSON print
every figure by name, including the workload-specific ones (increment
and query latencies with their tail percentile and sample count,
per-operator first/steady times, failed_ratio), and a traced run
writes its full per-layer table, with the layer-to-metric map, to
perfbench/out/trace-<workload>-<seed>.json.

An output that does not match its oracle prints the JSON with
"correct": false and exits 1. A checkout without the program exits 2
before starting Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"

# which end-to-end metric each layer's figures should move, on which
# workload (the prediction a change to that layer is judged against)
LAYER_MAP = {
    "pipeline.run_backfill": "points_per_s on pipeline",
    "pipeline.run_increment": "steady_s (increment_p50_s) on pipeline",
    "io.catalog.write": "points_per_s and steady_s on pipeline; nothing on operators",
    "checkpoint": "points_per_s and steady_s on pipeline",
    "tiers.query_windows": "steady_s (query_p50_s) and bytes_per_point on pipeline",
    "io.catalog.files": "steady_s (query_p50_s) and bytes_per_point on pipeline",
    "extract.build_s": "nothing (guard)",
    "tiers.build_s": "nothing (guard)",
    "<module>.<op>": "first_s and steady_s on operators; nothing on pipeline",
    "session": "first_s and steady_s on operators; points_per_s and steady_s on pipeline",
    "trace": "nothing: the cost of tracing itself",
}

# the workload-generic end-to-end figures every workload reports
E2E_UNITS = {
    "points_per_s": "points/s",
    "first_s": "s",
    "steady_s": "s",
    "first_calib": "calib",
    "steady_calib": "calib",
    "points_per_calib": "points/calib",
    "bytes_per_point": "B/point",
}


CALIB_ROUNDS = 7


def calibrate(run) -> float:
    """Median seconds of a fixed Spark job that uses none of the program:
    an aggregation with a shuffle, a partitioned parquet write and a
    read-back. It tracks how fast this host runs Spark at the moment;
    the gated timings are divided by it, because the speed of a shared
    host drifts by more than the bounds between runs."""
    import pyspark.sql.functions as F

    spark = run.spark
    path = f"{run.work}/calib"
    walls = []
    for _ in range(CALIB_ROUNDS):
        t = time.perf_counter()
        df = spark.range(0, 200_000, 1, 4).select(
            (F.col("id") % 8).alias("p"), (F.col("id") % 997).alias("k"), "id"
        )
        df.groupBy("p", "k").agg(F.sum("id").alias("s")).write.mode(
            "overwrite"
        ).partitionBy("p").parquet(path)
        spark.read.parquet(path).groupBy("p").agg(F.max("s")).collect()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["pipeline", "operators"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def heap_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: leaves room for the
    Python workers and for whatever else shares the host."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1024, min(4096, total_kb // 4096))


def start_session(work: Path, event_log: Path | None):
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    heap = heap_mb()
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tokens_ts-perfbench")
        .config("spark.driver.memory", f"{heap}m")
        # a fixed-size heap keeps the memory figure comparable across runs
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap}m -XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        )
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.executorEnv.PYTHONPATH", str(ROOT))
    )
    if event_log is not None:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def layer_metrics(run, tracer, groups) -> dict[str, float]:
    """The per-layer figures: span aggregates named
    <module>.<function>[.<table>].<metric>, plus session totals."""
    from perfbench.trace import MB, summarize
    from perfbench.workloads import OPERATORS

    agg = summarize(tracer, groups)
    out: dict[str, float] = {}

    def g(name, key):
        return float(agg.get(name, {}).get(key, 0.0))

    # every traced function of the program, generically
    for name, a in sorted(agg.items()):
        if name.startswith(("op.", "read.")):
            continue
        out[f"{name}.calls"] = a["calls"]
        out[f"{name}.wall_s"] = a["wall_s"]
        out[f"{name}.self_s"] = a["self_s"]
        out[f"{name}.jobs"] = a["jobs"]
        out[f"{name}.self_jobs"] = a["self_jobs"]
    for fn in ("run_backfill", "run_increment"):
        for k in ("wall_s", "self_s", "self_jobs"):
            out[f"pipeline.{fn}.{k}"] = g(f"pipeline.{fn}", k)
    for t in ("raw", "t1m", "t1h", "t1d"):
        n = f"io.catalog.write.{t}"
        out[f"{n}.wall_s"] = g(n, "wall_s")
        out[f"{n}.jobs"] = g(n, "jobs")
        out[f"{n}.shuffle_write_mb"] = g(n, "shuffle_write_b") / MB
        out[f"{n}.files_written"] = g(n, "files_written")
    for fn in ("record_done", "is_done", "read_manifest"):
        for k in ("calls", "wall_s", "jobs"):
            out[f"checkpoint.{fn}.{k}"] = g(f"checkpoint.{fn}", k)
    q = "read.query_windows"
    out["tiers.query_windows.wall_s"] = g(q, "wall_s")
    out["tiers.query_windows.jobs"] = g(q, "jobs")
    out["tiers.query_windows.scan_mb"] = g(q, "input_b") / MB
    out["tiers.query_windows.files_read"] = g(q, "files_read")
    for mod in ("extract", "tiers"):
        out[f"{mod}.build_s"] = sum(
            a["self_s"] for n, a in agg.items() if n.startswith(f"{mod}.") and n.count(".") == 1
        )
    for _, layer, _ in OPERATORS:
        n = f"op.{layer}"
        out[f"{layer}.jobs"] = g(n, "jobs")
        out[f"{layer}.shuffle_write_mb"] = g(n, "shuffle_write_b") / MB
        for k in ("first_s", "steady_s", "leaked_rdds"):
            out[f"{layer}.{k}"] = float(run.layer.get(f"{layer}.{k}", 0.0))
    tot = {}
    for acc in groups.values():
        for k, v in acc.items():
            tot[k] = tot.get(k, 0.0) + v
    out["session.jobs"] = tot.get("jobs", 0.0)
    out["session.stages"] = tot.get("stages", 0.0)
    out["session.tasks"] = tot.get("tasks", 0.0)
    out["session.gc_s"] = tot.get("gc_ms", 0.0) / 1000.0
    out["session.spill_mb"] = tot.get("spill_b", 0.0) / MB
    out["session.python_s"] = tot.get("python_ms", 0.0) / 1000.0
    out["session.python_boot_s"] = tot.get("python_boot_ms", 0.0) / 1000.0
    out["session.python_sent_mb"] = tot.get("python_sent_b", 0.0) / MB
    out["trace.overhead_s"] = float(run.layer.get("trace.overhead_s", 0.0))
    out["io.catalog.files"] = float(run.layer.get("io.catalog.files", 0.0))
    return out


def main() -> int:
    args = parse_args()
    if not (ROOT / "tokens_ts" / "__init__.py").is_file() or not (
        ROOT / "tests" / "oracle.py"
    ).is_file():
        print("perfbench: tokens_ts/ or tests/oracle.py not found next to perfbench/", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Spark, py4j and the Python workers all write temp files: keep them
    # in the work dir, and let the workers import the program from here
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    event_log = None
    if args.trace:
        event_log = OUT / "eventlog" / f"{args.workload}-{args.seed}-{os.getpid()}"
        event_log.mkdir(parents=True)

    from perfbench import trace, workloads

    spark = sampler = jvm = None
    try:
        signal.signal(signal.SIGTERM, on_sigterm)
        spark = start_session(work, event_log)
        print(f"phase session_start {time.perf_counter() - T_PROCESS:.2f} s", flush=True)
        jvm = spark.sparkContext._gateway.proc
        sampler = trace.RssSampler(jvm.pid)
        sampler.start()
        tracer = trace.Tracer(spark.sparkContext)
        if args.trace:
            tracer.instrument()
        run = workloads.Run(
            spark, sampler, str(work), args.seed, args.seconds, tracer, bool(args.trace)
        )
        setup_fn, run_fn = {
            "pipeline": (workloads.pipeline_setup, workloads.pipeline_run),
            "operators": (workloads.operators_setup, workloads.operators_run),
        }[args.workload]
        st = setup_fn(run)
        calib_s = calibrate(run)
        setup_s = time.perf_counter() - T_PROCESS
        print(f"phase setup {setup_s:.2f} s", flush=True)
        correct = True
        try:
            e2e = run_fn(run, st)
        except workloads.Mismatch as e:
            print(f"OUTPUT MISMATCH: {e}", flush=True)
            correct, e2e = False, {}
        print(f"phase run_and_checks {time.perf_counter() - T_PROCESS - setup_s:.2f} s", flush=True)
        peak_run = sampler.stop()
        sampler = None
        e2e.update(setup_s=setup_s, peak_rss_mb=run.peak_rss_mb)
        if correct:
            e2e.update(
                first_calib=e2e["first_s"] / calib_s,
                steady_calib=e2e["steady_s"] / calib_s,
                points_per_calib=e2e["points_per_s"] * calib_s,
            )
        run.note("calib_s", calib_s, "s", f"median of {CALIB_ROUNDS} calibration jobs")
        run.note("setup_s", setup_s, "s")
        run.note(
            "peak_rss_mb",
            run.peak_rss_mb,
            "MB",
            f"Spark JVM plus Python workers, to the end of the timed phase; {peak_run:.0f} MB with the checks",
        )
        run.note(
            "failed_ratio",
            run.failed / max(run.attempted, 1),
            "ratio",
            f"{run.failed} of {run.attempted} timed calls",
        )
        for k, unit in E2E_UNITS.items():
            if k in e2e:
                run.note(k, e2e[k], unit, f"{args.workload} definition, see BENCHMARK.json")
        for name, value, unit, extra in run.report:
            v = "n/a" if value is None else f"{value:.6g}"
            print(f"{args.workload} {name} = {v} {unit}  {extra}".rstrip(), flush=True)

        if args.trace:
            spark.stop()  # flushes the event log
            spark = None
            groups = trace.parse_event_log(str(event_log))
            layers = layer_metrics(run, tracer, groups)
            path = OUT / f"trace-{args.workload}-{args.seed}.json"
            path.write_text(
                json.dumps({"metrics": layers, "moves": LAYER_MAP}, indent=1, sort_keys=True)
            )
            for k in sorted(layers):
                print(f"layer {k} = {layers[k]:.6g}")
            print(f"trace written to {path.relative_to(ROOT)}", flush=True)
            wanted = spec["per_layer"]
            metrics = {
                m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                for m in wanted
            }
        else:
            metrics = {
                m["name"]: {"value": e2e.get(m["name"]), "unit": m["unit"]}
                for m in spec["end_to_end"]
            }
            if correct and any(v["value"] is None for v in metrics.values()):
                print("a metric has no samples", flush=True)
                correct = False
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0 if correct else 1
    finally:
        if sampler is not None:
            sampler.stop()
        try:
            if spark is not None:
                spark.stop()
        finally:
            if jvm is not None:
                stop_jvm(jvm)
            shutil.rmtree(work, ignore_errors=True)


def on_sigterm(*_) -> None:
    """Stop every process this run started (the JVM may still be
    starting, before its handle exists), then unwind through `finally`
    so the work dir goes too."""
    from perfbench.trace import descendants

    pids = descendants(os.getpid())[1:]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.2)
    sys.exit(143)


def stop_jvm(jvm) -> None:
    """The gateway JVM exits when its stdin closes; wait for it so no
    process outlives the run, and kill it if it does not exit."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()

if __name__ == "__main__":
    sys.exit(main())
