"""Multi-JVM scaling probe for the iterative-shuffle connected-components
operator — the round-4 verdict's open question #1.

BENCH_SCALING.md documents that on ONE local-mode JVM the cc lane's
4→16-core efficiency lands at 0.18–0.47 for EVERY algorithmic variant,
and attributes it to the shared block-manager/Arrow transport path
(the metadata-only-join control saturates the same way at 0.32). That
attribution was an argument; this probe tests it in-sandbox with
Spark's ``local-cluster[W,C,MB]`` master — W genuinely separate worker
JVMs × C cores each, every executor owning its own block manager,
shuffle server and Python worker pool, exactly the resource topology
of a real cluster node set.

Levels (same total-core ladder as the single-JVM sweep):

* ``lc1x4``  = local-cluster[1,4]   — N executors (baseline)
* ``lc4x4``  = local-cluster[4,4]   — 4N executors, 4× the JVMs
* ``local16``= local[16]            — same 16 cores, ONE JVM (control)

The N→4N executor efficiency ``(thr_4x4 / thr_1x4) / 4`` is the
north_rule-shaped number; ``local16`` vs ``lc4x4`` at equal cores
isolates the single-JVM transport term directly (multi-JVM faster ⇒
ceiling confirmed as a local-mode artifact, not an algorithmic limit).

The job is byte-identical across levels: it pins
``num_partitions=64`` and the planted-census assertion from
bench/cc_scaling.py. The package reaches executor Python workers via
PYTHONPATH (the probe also works with the dist/ksj2gp_spark.zip
--py-files artifact; bench/package.py builds it).

Usage::

    python bench/multijvm_scaling.py            # cc 8M edges
    CC_N=32000000 python bench/multijvm_scaling.py

→ a ``# done:`` line per run + one JSON summary line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION = """
import json, os, sys, time
import pyspark
os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
from pyspark.sql import SparkSession, functions as F

master = sys.argv[1]
builder = (
    SparkSession.builder.master(master)
    .appName("multijvm-probe")
    # pinned so every level runs the IDENTICAL plan: only the
    # executor topology varies
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.default.parallelism", "64")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    .config("spark.ui.enabled", "false")
)
if master.startswith("local-cluster"):
    builder = (
        builder.config("spark.executor.memory", "8g")
        .config("spark.driver.memory", "8g")
    )
else:
    builder = builder.config("spark.driver.memory", "24g")
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
"""

CC_RUNNER = _SESSION + """
from ksj2gp_spark.operators.graph import connected_components

n = int(sys.argv[2])
chains = (
    spark.range(1, n)
    .filter(F.col("id") % 64 != 0)
    .select((F.col("id") - 1).alias("src"), F.col("id").alias("dst"))
)
star = (
    spark.range(1, 10_000)
    .select((F.col("id") * 64).alias("src"), F.lit(0).alias("dst"))
)
edges = chains.union(star)
n_edges = edges.count()  # materialize input cost outside the timer

t0 = time.time()
comp = connected_components(edges, max_iter=20, num_partitions=64)
census = (
    comp.groupBy("component").count()
    .groupBy("count").agg(F.count("*").alias("n_comps"))
    .collect()
)
wall = time.time() - t0
sizes = {int(r["count"]): int(r["n_comps"]) for r in census}
print(json.dumps({
    "master": master, "n_nodes": n, "n_edges": n_edges,
    "wall_sec": round(wall, 3),
    "edges_per_sec": round(n_edges / wall, 1), "census": sizes,
}))
spark.stop()
"""

_ALL_LEVELS = {
    "lc1x4": "local-cluster[1,4,10240]",
    "lc4x4": "local-cluster[4,4,10240]",
    "local16": "local[16]",
}
# MJVM_LEVELS=lc1x4,lc4x4 selects a subset (bigger-n runs skip the
# single-JVM control once its equality with lc4x4 is established)
LEVELS = {
    k: _ALL_LEVELS[k]
    for k in os.environ.get(
        "MJVM_LEVELS", ",".join(_ALL_LEVELS)
    ).split(",")
}


def run(runner: str, master: str, args: list[str]) -> dict:
    env = dict(os.environ)
    # executors are separate JVMs whose Python workers must import
    # ksj2gp_spark themselves — driver-side sys.path does not propagate
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "-c", runner, master, *args],
        capture_output=True, text=True, cwd=REPO, env=env,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"runner failed (master={master})")
    r = json.loads(out.stdout.strip().splitlines()[-1])
    print(f"# done: {r}", flush=True)
    return r


def probe(name: str, runner: str, args: list[str], repeats: int) -> dict:
    runs: dict[str, list[dict]] = {k: [] for k in LEVELS}
    for _ in range(repeats):
        for key, master in LEVELS.items():
            runs[key].append(run(runner, master, args))
            time.sleep(8)  # let worker JVMs die fully
    best = {k: min(v, key=lambda r: r["wall_sec"]) for k, v in runs.items()}
    answers = {json.dumps(v["census"], sort_keys=True) for v in
               best.values()}
    assert len(answers) == 1, "executor topology changed the answer"
    res = {
        "probe": name,
        "levels": best,
        "raw_sec": {k: [r["wall_sec"] for r in v] for k, v in runs.items()},
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "ts": int(time.time()),
    }
    if "lc1x4" in best and "lc4x4" in best:
        res["executor_scaling_efficiency_1x4_to_4x4"] = round(
            (best["lc1x4"]["wall_sec"] / best["lc4x4"]["wall_sec"]) / 4.0,
            3,
        )
    if "local16" in best and "lc4x4" in best:
        res["multi_jvm_speedup_vs_single_jvm_16c"] = round(
            best["local16"]["wall_sec"] / best["lc4x4"]["wall_sec"], 3
        )
    print(json.dumps(res), flush=True)
    return res


def main() -> None:
    cc_n = int(os.environ.get("CC_N", "8000000"))
    repeats = int(os.environ.get("SCALE_REPEATS", "2"))
    probe("connected_components", CC_RUNNER, [str(cc_n)], repeats)


if __name__ == "__main__":
    main()
