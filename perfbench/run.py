"""Benchmark entry point.

    python3 perfbench/run.py --workload tile-assign --seed 1 --seconds 6 --trace 0

Run from the repository root. One process drives one Spark
``local[nproc]`` session in a closed loop (each job or cycle starts
when the previous one ends). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.perfbench/``
in the repository root; spans of a traced run are kept there as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3  # the program's set-up is repeated and its median reported
HELD_OUT_SEED = 9173  # reserved for checking a claimed gain


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tile-assign", "ksj-convert", "append-cycle"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_session(work: str):
    """A Spark session sized for this machine, with every scratch
    directory under ``work``; Python workers are spawned and warmed."""
    from pyspark.sql import SparkSession

    nproc = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.default.parallelism", str(nproc))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def ident(batches):
        yield from batches

    spark.range(0, 4 * nproc, 1, nproc).mapInPandas(ident, "id long").count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and every worker it forked."""
    from perfbench.measure import descendants

    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def measure(wl, seconds: float):
    """The workload's warm-up jobs, then a closed loop of timed jobs:
    at least ``wl.min_jobs``, at most ``wl.max_jobs``, and otherwise
    until ``seconds`` have passed. A job started runs to completion."""
    from perfbench.measure import RssSampler

    results, failures = [], []
    groups = []
    sc = wl.spark.sparkContext
    for i in range(wl.warm_jobs):
        wl.job(i)
    wl.jobs.clear()
    t_start = time.perf_counter()
    with RssSampler(os.getpid()) as rss:
        i = 0
        while True:
            sc.setJobGroup(f"job-{i}", f"job-{i}")
            groups.append(f"job-{i}")
            try:
                results.append(wl.job(wl.warm_jobs + i))
            except Exception:
                failures.append(traceback.format_exc())
            i += 1
            if i >= (wl.max_jobs or i + 1):
                break
            if i >= wl.min_jobs and time.perf_counter() - t_start >= seconds:
                break
    wall = time.perf_counter() - t_start
    sc.setLocalProperty("spark.jobGroup.id", None)
    return results, failures, wall, rss.peak, groups


def end_to_end(results, wall, peak_rss, setup_s) -> tuple[dict, tuple]:
    """The end-to-end metrics, and the freshness tail's (percentile,
    value, n). Freshness is the time from a job's input being in place
    to its output being committed: one append→tiles cycle on
    append-cycle, the whole batch job on the other two workloads."""
    from perfbench.measure import median, tail_percentile

    lat = [r.seconds for r in results]
    tail = tail_percentile(lat)
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (sum(r.rows_in for r in results) / wall, "rows/s"),
        "freshness_s_p50": (median(lat), "s"),
        "freshness_s_tail": (tail[1], "s"),
        "output_bytes_per_row": (
            sum(r.bytes_out for r in results) / max(sum(r.rows_out for r in results), 1),
            "bytes",
        ),
        "worker_rss_mb": (peak_rss, "MiB"),
    }, tail


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if not os.path.isdir(os.path.join(ROOT, "ksj2gp_spark")):
        print(f"error: no ksj2gp_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(OUT_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None

    from perfbench import measure as M
    from perfbench.workloads import WORKLOADS, traced_metrics

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        t0 = time.perf_counter()
        wl.generate(os.path.join(work, "fixtures"))
        gen_s = time.perf_counter() - t0
        reps = 1 if args.trace else SETUP_REPS
        setup_times = []
        for r in range(reps):
            t0 = time.perf_counter()
            wl.setup(os.path.join(work, f"setup-{r}"))
            setup_times.append(time.perf_counter() - t0)
        setup_s = session_s + gen_s + M.median(setup_times)

        failed = 0
        attempted = 0
        if args.trace:
            tr = M.Tracer(spark.sparkContext, "job")
            metrics, checks = traced_metrics(wl, tr)
            attempted += len(wl.jobs)
            tr.dump(os.path.join(
                OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
            out = {k: (float(v), unit_of(k))
                   for k, v in metrics.items()}
        else:
            results, failures, wall, peak, groups = measure(wl, args.seconds)
            attempted += len(results) + len(failures)
            failed += len(failures)
            for f in failures:
                print(f, file=sys.stderr)
            if not results:
                raise RuntimeError("every timed job failed")
            checks = wl.checks()
            out, tail = end_to_end(results, wall, peak, setup_s)
            counts = M.SparkCounts()
            for g in groups:
                counts += M.group_counts(spark.sparkContext, g)
            print(
                f"info: jobs={len(results)} spark_jobs={counts.jobs} "
                f"spark_tasks={counts.tasks} failed_tasks={counts.failed_tasks} "
                f"setup_reps={[round(s, 3) for s in setup_times]} "
                f"session_s={session_s:.3f} gen_s={gen_s:.3f} latencies="
                f"{[round(r.seconds, 3) for r in results]} "
                f"freshness_tail=p{tail[0]:.1f} of n={tail[2]}",
                file=sys.stderr,
            )
        attempted += len(checks)
        for name, errs in checks:
            if errs:
                failed += 1
                print(f"check {name} FAILED: {errs}", file=sys.stderr)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"info: failed_share={failed / attempted:.4f} "
          f"({failed} of {attempted})", file=sys.stderr)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "us_per" in name:
        return "us"
    if "ns_per" in name:
        return "ns"
    if "ms_per" in name:
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_share", "_ratio")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
