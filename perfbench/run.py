#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 30 --trace 0

Run from the repository root. One run is one fresh process on
``local[<cpus>]``: it generates its inputs from ``--seed`` under a
scratch directory in the checkout (``.perfbench_work/``, removed at
exit), sets the session up three times (the last one serves the
workload), measures about ``--seconds`` of work (serve: a request script
of that nominal length; batch: one pass), checks every answer outside
the timed region and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics. A traced run reports the difference in ``wall_s``
from an untraced run of the same workload and seed as its tracing
overhead. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve", "batch")
SCALE_FACTOR = 0.01
SETUPS = 3
# serve sends a fixed request script sized to --seconds at this nominal
# pace (4-core VM). With a time window a slower host fitted fewer, colder
# reads: a 17% slower host read as a 70% slower median.
SECONDS_PER_REQUEST = 3.75
DRIVER_MEMORY = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: Path) -> None:
    """Keep every file Spark, the engine and Python workers write under
    ``work``, and let workers import the package from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    confs = {
        "spark.local.dir": work / "spark",
        "spark.sql.warehouse.dir": work / "warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": 100000,
        "spark.ui.retainedStages": 100000,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def warm_up(spark) -> None:
    """First-use costs every fresh session pays before its first query:
    code generation, a shuffle, a broadcast join, a window and the Python
    worker pool. Synthetic data only; no engine code."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    a = spark.range(100_000).withColumn("k", F.pmod("id", F.lit(1000)))
    b = spark.range(1_000).withColumn("k", F.pmod("id", F.lit(1000)))
    (
        a.join(F.broadcast(b), "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        .withColumn("r", F.row_number().over(Window.orderBy(F.desc("n"), "k")))
        .filter(F.col("r") <= 10).collect()
    )
    a.select("k").distinct().join(b.select("k"), "k", "left_anti").count()
    spark.createDataFrame(spark.sparkContext.parallelize([(1, 0)], 1), "a long, b int").collect()


def set_up(import_s: float):
    """Start the session SETUPS times (the first launches the JVM); the
    last session is returned for the workload. Each sample is session
    start plus warm-up; the first also counts process start-up."""
    from distributed_graph_database_spark.session import get_spark

    spark, starts, warms = None, [], []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_up(spark)
        starts.append(t1 - t0 + (import_s if i == 0 else 0.0))
        warms.append(time.perf_counter() - t1)
    return spark, starts, warms


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(live heap after a full GC, peak resident set) of the Spark JVM."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    live = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return live / 2**20, hwm / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def measure(workload: str, seed: int, seconds: float, trace: bool, work: Path,
            import_s: float, baseline_wall: float | None = None,
            sf: float = SCALE_FACTOR, batch=None) -> dict:
    """One measured run; returns the result object (both metric sets).
    ``import_s`` is the process start-up already spent importing;
    ``baseline_wall`` is the untraced wall_s a traced run compares with."""
    import __spark_entry__
    import datagen
    import workloads as wl
    from checks import mismatch, oracle_frames
    from distributed_graph_database_spark.catalog import TABLES
    from tracing import Tracer

    # ---- staging (not part of set-up time)
    requests = max(4, round(seconds / SECONDS_PER_REQUEST))
    script = datagen.ServeScript(seed, requests) if workload == "serve" else None
    if script is not None:
        data_dir = str(work / "catalog")
        wl.stage_catalog(data_dir, script)
    else:
        data_dir = datagen.write_tables(str(work / "data"), seed, sf)

    spark, starts, warms = set_up(import_s)
    tracer = Tracer(spark, trace)
    try:
        if script is not None:
            ops = wl.run_serve(spark, tracer, data_dir, script)
        else:
            ops = wl.run_batch(spark, tracer, batch or wl.BATCH, data_dir)
        memory = jvm_memory_mb(spark) if trace else None

        # ---- correctness gate, outside the timed region
        if script is not None:
            failures = {i: wl.serve_failure(op) for i, op in enumerate(ops)}
        else:
            oracle_sql = __spark_entry__.oracle_sql()
            want = oracle_frames({op.name: oracle_sql[op.name] for op in ops}, data_dir, TABLES)
            failures = {
                i: op.error or mismatch(op.answer, want[op.name])
                for i, op in enumerate(ops)
            }
        for op in ops:
            print(f"{op.name} {op.seconds:.3f}s", file=sys.stderr)
        failed = [(ops[i].name, why) for i, why in failures.items() if why]
        for name, why in failed:
            print(f"FAILED {name}: {why}", file=sys.stderr)

        attempted = len(ops)
        wall_s = sum(op.seconds for op in ops)
        end_to_end = {
            "setup_s": (statistics.median([s + w for s, w in zip(starts, warms)]), "s"),
            "wall_s": (wall_s, "s"),
            "ok_frac": (1.0 - len(failed) / attempted, "fraction"),
        }
        per_layer = {}
        if trace:
            per_layer = layer_metrics(tracer, ops)
            per_layer["session.start_s"] = (statistics.median(starts), "s")
            per_layer["warm_up_s"] = (statistics.median(warms), "s")
            per_layer["jvm.live_heap_mb"] = (memory[0], "MB")
            per_layer["jvm.peak_rss_mb"] = (memory[1], "MB")
            per_layer["trace.wall_s"] = (wall_s, "s")
            per_layer["trace.hook_s"] = (tracer.hook_s, "s")
            per_layer["trace.overhead_frac"] = (wall_s / baseline_wall - 1.0, "fraction")
        tracer.close()
    finally:
        stop_spark(spark)
    return {
        "attempted": attempted,
        "failed": len(failed),
        "end_to_end": end_to_end,
        "per_layer": per_layer,
    }


def layer_metrics(tracer, ops) -> dict:
    """Per-layer metrics of a traced run; layers a workload does not
    exercise read 0."""
    import workloads as wl

    spans, tags = tracer.span_metrics(
        wl.SERVE_SPANS + wl.GRAPH_KEYS + ["relational", "streaming"]
    )
    requests = [op for op in ops if op.req is not None]
    reads = [op for op in requests if op.req.kind in ("bfs", "dfs")]
    lat = {kind: [op.seconds for op in reads if op.req.kind == kind] for kind in ("bfs", "dfs")}
    scans = [
        sum(tags.get(f"{span}#{op.req.seq}", {}).get("input_bytes", 0)
            for span in wl.SERVE_SPANS) / op.catalog_bytes
        for op in reads
    ]
    span_tags = {tag for _, tag, _, _ in tracer.spans}

    def med(values):
        return statistics.median(values) if values else 0.0

    return {
        **spans,
        "traversal.rounds": (statistics.fmean(op.req.rounds for op in reads) if reads else 0.0, "count"),
        "matrix.scans_per_read": (med(scans), "ratio"),
        "serve.refused": (sum(op.req.kind == "bad" and wl.serve_failure(op) is None
                              for op in requests), "count"),
        "serve.reads": (len(reads), "count"),
        "serve.bfs_p50_s": (med(lat["bfs"]), "s"),
        "serve.dfs_p50_s": (med(lat["dfs"]), "s"),
        "cache.stored_bytes": (tracer.stored_bytes, "bytes"),
        "spark_jobs": (sum(rec["jobs"] for tag, rec in tags.items() if tag in span_tags), "count"),
        **tracer.streaming_metrics(),
    }


def untraced_wall(args) -> float:
    """wall_s of the same workload, seed and length untraced: from this
    checkout's saved result if there is one, else from a fresh child
    process (which saves it)."""
    path = results_path(args.workload, args.seed, args.seconds, trace=0)
    if not path.exists():
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=170, check=True)
    return json.loads(path.read_text())["metrics"]["wall_s"]["value"]


def results_path(workload: str, seed: int, seconds: float, trace: int) -> Path:
    return ROOT / ".perfbench_results" / f"{workload}-seed{seed}-{seconds:g}s-trace{trace}.json"


def report(result: dict, trace: bool) -> dict:
    metrics = result["per_layer" if trace else "end_to_end"]
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import __spark_entry__  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - _T_PROCESS
    baseline = untraced_wall(args) if args.trace else None
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work)
    os.chdir(work)
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace),
                         work, import_s, baseline)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    line = json.dumps(report(result, bool(args.trace)))
    path = results_path(args.workload, args.seed, args.seconds, args.trace)
    path.parent.mkdir(exist_ok=True)
    path.write_text(line + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
