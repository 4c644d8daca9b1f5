"""Iceberg-layer planning-scale probe: does scan planning cost stay
proportional to MATCHING files as the table grows to O(10k) data files?

Table shape per size F: one snapshot, F data files (identity-partitioned
by a bucket column, one file per partition), each file holding a
disjoint ``ts`` range [i·ROWS_PER_FILE, (i+1)·ROWS_PER_FILE) — so both
partition pruning and column-stats pruning are live.

Measured per size:
* plan_narrow_sec — wall time of ``scan(bounds= a ~10-file ts window)``
  up to DataFrame construction (NO action): manifest parse + prune +
  per-file plan for the selected files only.
* plan_full_sec — same with no bounds (lower bound: manifest parse +
  full per-file plan).
* files_read / files_total from the scan counters (the pruning proof).

Honest accounting: the manifest is one JSON per snapshot listing every
live file, so planning always pays an O(files_total) parse (~ms at
10k); the claim under test is that everything AFTER the parse — file
opens, per-file Spark plans — is O(matching), so the narrow-window
numbers stay flat while the table grows 10×.

Usage: python bench/iceberg_planning.py [sizes...] → one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROWS_PER_FILE = 10


def build_table(spark, path: str, n_files: int) -> float:
    from pyspark.sql import functions as F

    from ksj2gp_spark.sinks import iceberg

    df = (
        spark.range(n_files * ROWS_PER_FILE)
        .select(
            (F.col("id") / ROWS_PER_FILE).cast("long").alias("bucket"),
            F.col("id").alias("ts"),
            (F.col("id") * 3 % 1000).alias("val"),
        )
        .repartition(1)
    )
    t0 = time.time()
    iceberg.append(df, path, partition_by=["bucket"])
    return time.time() - t0


def probe(spark, path: str, n_files: int) -> dict:
    from ksj2gp_spark.sinks import iceberg

    # a ~10-file window in the middle of the table
    lo = (n_files // 2) * ROWS_PER_FILE
    hi = lo + 10 * ROWS_PER_FILE - 1
    bounds = {"ts": (lo, hi)}

    t0 = time.time()
    df, info = iceberg.scan(spark, path, bounds=bounds)
    plan_narrow = time.time() - t0
    n_rows = df.filter(f"ts between {lo} and {hi}").count()
    assert n_rows == 10 * ROWS_PER_FILE, (n_rows, lo, hi)

    t0 = time.time()
    _, info_full = iceberg.scan(spark, path)
    plan_full = time.time() - t0

    return {
        "files_total": info["files_total"],
        "files_read_narrow": info["files_read"],
        "files_read_full": info_full["files_read"],
        "plan_narrow_sec": round(plan_narrow, 3),
        "plan_full_sec": round(plan_full, 3),
    }


def main() -> None:
    from bench import build_spark

    sizes = [int(a) for a in sys.argv[1:]] or [1000, 4000, 10000]
    spark = build_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    base = tempfile.mkdtemp(prefix="iceberg_planning_")
    try:
        for n in sizes:
            path = os.path.join(base, f"tbl_{n}")
            build_sec = build_table(spark, path, n)
            r = {"n_files": n, "build_sec": round(build_sec, 1)}
            r.update(probe(spark, path, n))
            results.append(r)
            print(json.dumps(r), file=sys.stderr)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()
    print(json.dumps({"probe": "iceberg_planning", "results": results,
                      "loadavg_1m": round(os.getloadavg()[0], 2),
                      "ts": int(time.time())}))


if __name__ == "__main__":
    main()
