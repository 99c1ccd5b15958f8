"""Benchmark of the catalog's public query surface, end to end and per layer.

    python3 perfbench/run.py --workload spine --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  One run:

1. setup: writes a seeded sf0.1 input directory (``datagen.py``), starts a
   Spark session on ``local[nproc]``, times ``spark.floor_s`` (an empty
   ``spark.range(1)`` noop write), and warms up with one whole pass over
   the workload, which pays the JIT and codegen cold start;
2. timed window: whole passes, in a seeded order per pass, until
   ``--seconds`` have elapsed.  A call is ``catalog.QUERIES[name](spark,
   dir)`` (build) then a noop write of the returned frame (run); the
   persist release after it is timed apart.  Later passes keep getting
   faster for a while (JIT), so every figure is a median over passes;
3. check: every query once more, collected and compared with its DuckDB
   oracle on the same files (``tools/check.py``'s ``canon_rows``).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones, which are read between calls from Spark's DAG scheduler and status
store and from a census of the fixture scratch root.  The last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the full record goes to ``.perfbench/records/``.  Everything
the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import census
from workloads import PER_QUERY, STREAMING, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SCRATCH = os.path.join(WORK, "io")  # the catalog's fixture scratch root

FLOOR_REPS = 5
SF = 0.1
# A fixed young generation (and initial heap) keeps the driver JVM's peak
# RSS a function of live data: with G1's adaptive sizing it ranged
# 1.9-3.7 GiB between runs of one workload.
JVM_OPTIONS = "-Xms1g -Xmn512m"


def parse(argv):
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare(nproc: int) -> None:
    """Empty the work area and point every writer of the run into it:
    Spark's local dirs, the JVM's and Python's temp dirs, the metastore
    (cwd) and, later, the catalog's fixture scratch root.  Workers get the
    checkout on PYTHONPATH, which ``sys.path`` alone does not reach."""
    for sub in ("io", "tmp", "data"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    for d in (SCRATCH, os.path.join(tmp, "spark-local"), os.path.join(WORK, "records")):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["TMPDIR"] = tmp
    env["SPARK_GRAFT_VENDOR_DIR"] = os.path.join(WORK, "vendor")
    # every JVM (the launcher too) keeps its temp files in the work area
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{JVM_OPTIONS}" pyspark-shell'
    sys.path.insert(0, ROOT)
    os.chdir(WORK)


class Runner:
    """Times calls into the program; with ``trace`` also takes each call's
    job census, stage metrics, driver residual and write census."""

    def __init__(self, spark, data_dir: str, trace: bool):
        from rust_dataframe_spark import catalog
        from rust_dataframe_spark.operators.cache import release

        self.spark, self.sc = spark, spark.sparkContext
        self.data_dir, self.trace = data_dir, trace
        self.queries, self.release = catalog.QUERIES, release
        self.next_job = census.job_counter(self.sc)
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}

    def call(self, name: str) -> dict:
        self.attempted += 1
        rec: dict = {"name": name, "ok": False}
        pc, now_ms = time.perf_counter, lambda: time.time_ns() // 1_000_000
        try:
            # file mtimes come from the kernel's coarse clock, which may lag
            since = time.time_ns() - 20_000_000
            j0, w0 = self.next_job(), now_ms()
            t0 = pc()
            df = self.queries[name](self.spark, self.data_dir)
            t1 = pc()
            j1, w1 = self.next_job(), now_ms()
            if self.trace:
                rec["files_written"], rec["bytes_written_mb"] = census.files_written(SCRATCH, since)
            w2 = now_ms()
            t2 = pc()
            df.write.format("noop").mode("overwrite").save()
            t3 = pc()
            j2, w3 = self.next_job(), now_ms()
            rec.update(build_s=t1 - t0, run_s=t3 - t2, wall_s=t1 - t0 + t3 - t2,
                       build_jobs=j1 - j0, run_jobs=j2 - j1, ok=True)
            if self.trace:
                rec["persist_mb"] = census.storage_mb(self.sc)
        except Exception as e:  # a failing query is counted, not fatal
            self.failed += 1
            self.errors.setdefault(name, f"{type(e).__name__}: {e}"[:300])
        t4 = pc()
        self.release(blocking=True)
        self.spark.catalog.clearCache()
        rec["release_s"] = pc() - t4
        if self.trace and rec["ok"]:
            jobs = census.read_jobs(self.sc, j0, j2)
            spans = jobs.pop("spans")
            covered = census.covered_ms(spans, w0, w1) + census.covered_ms(spans, w2, w3)
            rec.update(jobs, residual_s=max(0, (w1 - w0) + (w3 - w2) - covered) / 1e3)
        return rec

    def run_pass(self, names: list[str]) -> list[dict]:
        return [self.call(n) for n in names]


def floor_s(spark) -> float:
    """Median wall of an empty plan's noop write: the per-job floor."""
    times = []
    for _ in range(FLOOR_REPS):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit, so that no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def check(spark, data_dir: str, runner: Runner, names: list[str]) -> dict[str, str]:
    """Collect each query once more and compare it with its DuckDB oracle;
    returns ``{name: problem}`` for each mismatch or error."""
    import duckdb

    from rust_dataframe_spark import catalog

    saved = list(sys.path)  # tools/ is a directory of scripts, not a package
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from check import TABLES, canon_rows
    finally:
        sys.path[:] = saved
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    problems: dict[str, str] = {}
    for name in names:
        runner.attempted += 1
        try:
            df = catalog.QUERIES[name](spark, data_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            res = con.execute(catalog.ORACLE[name])
            dcols, drows = [d[0] for d in res.description], res.fetchall()
        except Exception as e:  # counted as a failed query
            runner.failed += 1
            problems[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        finally:
            runner.release(blocking=True)
            spark.catalog.clearCache()
        if sorted(cols) != sorted(dcols):
            problems[name] = f"columns {sorted(cols)} != oracle {sorted(dcols)}"
        elif canon_rows(cols, rows) != canon_rows(dcols, drows):
            problems[name] = f"values differ from oracle ({len(rows)} vs {len(drows)} rows)"
        runner.failed += name in problems
    con.close()
    return problems


def pass_median(passes: list[list[dict]], key: str, agg=sum) -> float:
    """Median over passes of ``agg`` over the pass's successful calls."""
    vals = [agg([r[key] for r in p if r["ok"]] or [0]) for p in passes]
    return statistics.median(vals)


def query_medians(passes: list[list[dict]], key: str) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for p in passes:
        for r in p:
            if r["ok"]:
                by.setdefault(r["name"], []).append(r[key])
    return {n: statistics.median(v) for n, v in by.items()}


def end_to_end(passes, setup_s: float, rss_mb: float, ok_share: float) -> dict:
    per_query = query_medians(passes, "wall_s")
    return {
        "wall_s": (sum(per_query.values()), "s"),
        "query_p50_s": (statistics.median(per_query.values()), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MiB"),
        "ok_share": (ok_share, "share"),
    }


def per_layer(passes, floor: float) -> dict:
    m = {
        "catalog.build_s": (pass_median(passes, "build_s"), "s"),
        "catalog.build_jobs": (pass_median(passes, "build_jobs"), "count"),
        "spark.run_s": (pass_median(passes, "run_s"), "s"),
        "spark.run_jobs": (pass_median(passes, "run_jobs"), "count"),
        "spark.stages": (pass_median(passes, "stages"), "count"),
        "spark.tasks": (pass_median(passes, "tasks"), "count"),
    }
    for key in ("executor_run_s", "executor_cpu_s", "gc_s"):
        m[f"spark.{key}"] = (pass_median(passes, key), "s")
    for key in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = (pass_median(passes, key), "MiB")
    stream = [[r for r in p if r["name"] in STREAMING] for p in passes]
    m.update({
        "spark.floor_s": (floor, "s"),
        "driver.residual_s": (pass_median(passes, "residual_s"), "s"),
        "sources.files_written": (pass_median(passes, "files_written"), "count"),
        "sources.bytes_written_mb": (pass_median(passes, "bytes_written_mb"), "MiB"),
        "streaming.build_s": (pass_median(stream, "build_s"), "s"),
        "cache.persist_mb": (pass_median(passes, "persist_mb", max), "MiB"),
        "cache.release_s": (pass_median(passes, "release_s"), "s"),
        "trace.wall_s": (sum(query_medians(passes, "wall_s").values()), "s"),
    })
    for key, unit in (("build_jobs", "count"), ("run_jobs", "count"), ("build_s", "s")):
        med = query_medians(passes, key)
        for q in PER_QUERY:
            m[f"{q.split('_')[0]}.{key}"] = (med.get(q, 0), unit)
    return m


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "rust_dataframe_spark", "catalog.py")):
        print(f"perfbench: no rust_dataframe_spark package under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    prepare(nproc)
    import datagen

    t0 = time.perf_counter()
    data_dir = datagen.write_dir(os.path.join(WORK, "data", f"sf{SF}"), args.seed, SF)
    phases = {"inputs_s": time.perf_counter() - t0}
    t0 = time.perf_counter()
    from rust_dataframe_spark import catalog_sources
    from rust_dataframe_spark.context import get_spark

    catalog_sources._SCRATCH = SCRATCH
    from bench import _box_load

    load = _box_load()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    names = list(WORKLOADS[args.workload])
    rng = random.Random(args.seed)
    runner = Runner(spark, data_dir, bool(args.trace))
    floor = floor_s(spark)

    def shuffled() -> list[str]:
        order = names[:]
        rng.shuffle(order)
        return order

    phases["session_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    runner.run_pass(shuffled())  # cold pass
    phases["cold_pass_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start

    passes: list[list[dict]] = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < args.seconds:
        passes.append(runner.run_pass(shuffled()))
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = census.vm_hwm_mb(jvm_pid) + census.vm_hwm_mb()

    t0 = time.perf_counter()
    problems = {**runner.errors, **check(spark, data_dir, runner, shuffled())}
    phases["check_s"] = time.perf_counter() - t0
    ok_share = 1 - len(problems) / len(names)

    if args.trace:
        metrics = per_layer(passes, floor)
    else:
        metrics = end_to_end(passes, setup_s, rss_mb, ok_share)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "queries": names,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "nproc": nproc, "box_load": load, "floor_s": floor,
        "phases": phases, "timed_passes": len(passes),
        "failed_share": 1 - ok_share, "problems": problems,
        "metrics": {k: v for k, (v, _u) in metrics.items()},
        "calls": passes,
    }
    t0 = time.perf_counter()
    stop(spark)
    phases["stop_s"] = time.perf_counter() - t0
    path = os.path.join(WORK, "records",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k, (v, unit) in metrics.items():
        print(f"{k:<28} {v:>14.4f} {unit}")
    print(f"{'failed_share':<28} {1 - ok_share:>14.4f} share")
    for name, why in sorted(problems.items()):
        print(f"FAILED {name}: {why}")
    print(f"record: {path}")
    print(json.dumps({
        "correct": not problems,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
