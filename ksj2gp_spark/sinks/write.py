"""Partitioned tile sink with per-partition lineage manifests and
resumable, idempotent commits (BASELINE north_rule: "resumes from the
last committed checkpoint after executor loss without reprocessing
completed partitions").

Design (SURVEY.md §2.8): a batch job with an explicit commit log — the
Spark-native equivalent of an Iceberg snapshot at the granularity the
driver controls. The job is split into logical **chunks** (input key
ranges, dataset partitions, …). Each chunk is processed end-to-end and
written with ``mode=overwrite`` into its own subdirectory (idempotent:
a crashed half-written chunk is simply rewritten), and only then is the
chunk's lineage manifest committed via atomic rename. On restart,
chunks with a committed manifest are skipped without touching data.

Manifest contents per chunk: row count, approx distinct cells,
per-admin-code histogram, an HLL sketch of ``image_id``, wall time,
engine version — the "per-partition lineage manifests and row-count +
cell-assignment metrics" of the north_star. A chunk commit is ONE
Spark job: the two sketches are observed on the frame as it is written
(``DataFrame.observe``), and the row count and histogram come from the
chunk's own parquet files on the driver, so nothing re-reads the chunk
through Spark. :func:`run_resumable` keeps up to
``defaultParallelism`` chunk writes in flight at once.
"""

from __future__ import annotations

import base64
import json
import os
import time
from collections import Counter
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from typing import Callable, Iterable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, functions as F

from .. import __version__

MANIFEST_DIR = "_lineage"


def _manifest_path(base: str, chunk: str) -> str:
    return os.path.join(base, MANIFEST_DIR, f"{chunk}.json")


def committed_chunks(base: str) -> set[str]:
    d = os.path.join(base, MANIFEST_DIR)
    if not os.path.isdir(d):
        return set()
    return {f[:-5] for f in os.listdir(d) if f.endswith(".json")}


def _write_manifest(base: str, chunk: str, payload: dict) -> None:
    d = os.path.join(base, MANIFEST_DIR)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{chunk}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f, ensure_ascii=False, indent=1)
    os.replace(tmp, _manifest_path(base, chunk))  # atomic commit


def tile_metrics(out: str, observed: dict) -> dict:
    """The manifest metrics of the chunk written under ``out``.

    * ``rows``: the sum of the row counts in the footers of the chunk's
      parquet files.
    * ``admin_histogram``: one Arrow ``value_counts`` over the
      ``admin_code`` column of those files (``{}`` when the chunk has no
      such column; null codes count under ``None``).
    * ``approx_cells`` and ``image_hll_b64``: taken from ``observed``,
      the ``approx_count_distinct(cell)`` and ``hll_sketch_agg(image_id)``
      results :func:`write_chunk` observes during the write. Both are
      sketches that ignore duplicates, so a retried task cannot inflate
      them. The HLL sketch is MERGEABLE: per-chunk sketches union into
      a global distinct estimate without re-reading any data — see
      :func:`global_distinct_images`.

    All of it is driver-side: footers and one column, no Spark job.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = 0
    codes = []
    for d, _, names in os.walk(out):
        for n in sorted(names):
            if not n.endswith(".parquet") or n.startswith((".", "_")):
                continue
            pf = pq.ParquetFile(os.path.join(d, n))
            rows += pf.metadata.num_rows
            if "admin_code" in pf.schema_arrow.names:
                codes += pf.read(columns=["admin_code"]).column(0).chunks
    hist = {
        c["values"]: c["counts"]
        for c in pa.chunked_array(codes).value_counts().to_pylist()
    } if codes else {}
    metrics = {
        "rows": rows,
        "approx_cells": observed["approx_cells"],
        "admin_histogram": hist,
    }
    if observed.get("image_hll") is not None:
        metrics["image_hll_b64"] = base64.b64encode(
            bytes(observed["image_hll"])
        ).decode("ascii")
    return metrics


def global_distinct_images(spark, base: str) -> int:
    """Union the per-chunk HLL sketches recorded in the committed
    manifests → global approx-distinct image count. Reads ONLY the
    manifest JSONs (bytes, not data) — the incremental-metrics path for
    a 100 TB output: each new chunk contributes its sketch once, and
    the global estimate is a driver-side merge."""
    sketches = []
    for c in sorted(committed_chunks(base)):
        with open(_manifest_path(base, c)) as f:
            m = json.load(f)
        if "image_hll_b64" in m:
            sketches.append(base64.b64decode(m["image_hll_b64"]))
    if not sketches:
        return 0
    df = spark.createDataFrame(
        [(bytearray(s),) for s in sketches], "sketch binary"
    )
    row = df.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n")
    ).collect()[0]
    return int(row["n"])


def write_chunk(
    df: DataFrame,
    base: str,
    chunk: str,
    cell_col: str = "cell",
    partition_cols: tuple[str, ...] = (),
) -> dict:
    """Write one chunk idempotently and commit its manifest.
    ``partition_cols`` (e.g. ``("admin_code",)``) produces hive-style
    subdirectories inside the chunk so downstream per-admin reads
    prune at the directory level. Partitioning happens on derived
    ``_p_<col>`` copies, so the data columns keep their exact types
    and every file still carries the full row schema.

    The write is the chunk's only Spark job. ``approx_count_distinct``
    of ``cell_col`` and ``hll_sketch_agg`` of ``image_id`` (when the
    frame has one) are observed on the written rows; the row count and
    the admin histogram are read from the written files on the driver
    (see :func:`tile_metrics`). The manifest is renamed into place
    only after the write has succeeded, so a failed write leaves no
    manifest and the chunk is rewritten on the next run."""
    t0 = time.time()
    out = os.path.join(base, f"chunk={chunk}")
    sketches = [F.approx_count_distinct(cell_col).alias("approx_cells")]
    if "image_id" in df.columns:
        sketches.append(F.hll_sketch_agg("image_id").alias("image_hll"))
    observation = Observation()
    writer_df = df.observe(observation, *sketches)
    for c in partition_cols:
        writer_df = writer_df.withColumn(f"_p_{c}", F.col(c))
    writer = writer_df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*[f"_p_{c}" for c in partition_cols])
    writer.parquet(out)
    payload = {
        "chunk": chunk,
        "engine_version": __version__,
        "path": out,
        "partition_cols": list(partition_cols),
        "elapsed_sec": round(time.time() - t0, 3),
        **tile_metrics(out, observation.get),
    }
    _write_manifest(base, chunk, payload)
    return payload


def run_resumable(
    base: str,
    chunks: Iterable[str],
    process: Callable[[str], DataFrame],
    cell_col: str = "cell",
    partition_cols: tuple[str, ...] = (),
) -> dict:
    """Process chunks, skipping committed ones. Returns a run summary
    {chunk: manifest} in chunk order, with skipped chunks loaded from
    their manifests.

    ``process(chunk)`` runs on the caller's thread, in chunk order, so
    whatever it builds lazily is built once and by one thread. Each
    chunk's :func:`write_chunk` then runs on a thread pool, with at most
    ``defaultParallelism`` chunk writes in flight; the caller waits for
    a free slot before processing the next chunk. Pool threads inherit
    the caller's Spark local properties (job group, description) and
    job tags as they were at submission, so every chunk job belongs to
    the caller's job group. A single chunk goes through the same pool.

    On the first failure, from ``process`` or from a chunk write, no
    further chunk is processed; the writes already in flight run to
    their commit, and then the failure is raised (a ``process`` failure
    first, else the failed write that comes first in chunk order). A
    failed chunk leaves no manifest, so the next run redoes exactly the
    chunks without one. Chunk ids must be distinct: two writes of one
    id would race on one directory."""
    chunks = list(chunks)
    repeated = sorted(c for c, n in Counter(chunks).items() if n > 1)
    if repeated:
        raise ValueError(f"chunk ids repeat: {repeated}")
    done = committed_chunks(base)
    summary: dict[str, dict | Future] = {}
    in_flight: set[Future] = set()
    pool: ThreadPoolExecutor | None = None
    width = 0
    try:
        for chunk in chunks:
            if chunk in done:
                with open(_manifest_path(base, chunk)) as f:
                    summary[chunk] = json.load(f)
                summary[chunk]["skipped"] = True
                continue
            if len(in_flight) >= width > 0:
                wait(in_flight, return_when=FIRST_COMPLETED)
            finished = {f for f in in_flight if f.done()}
            in_flight -= finished
            if any(f.exception() is not None for f in finished):
                break
            df = process(chunk)
            if pool is None:
                width = max(1, df.sparkSession.sparkContext.defaultParallelism)
                pool = ThreadPoolExecutor(width, thread_name_prefix="write_chunk")
            target = inheritable_thread_target(df.sparkSession)(write_chunk)
            summary[chunk] = pool.submit(
                target, df, base, chunk, cell_col, partition_cols
            )
            in_flight.add(summary[chunk])
    finally:
        if pool is not None:
            pool.shutdown(wait=True)
    return {
        c: m.result() if isinstance(m, Future) else m
        for c, m in summary.items()
    }


def _chunk_layout(base: str, chunk: str) -> tuple[str, ...]:
    """Partition layout of a committed chunk. Preferred source is the
    manifest's ``partition_cols`` record; manifests written before that
    field existed fall back to detecting ``_p_<col>=`` directory levels
    under the chunk (driver-side listdir — bytes, not data)."""
    with open(_manifest_path(base, chunk)) as f:
        m = json.load(f)
    if "partition_cols" in m:
        return tuple(m["partition_cols"])
    cols: list[str] = []
    d = os.path.join(base, f"chunk={chunk}")
    while os.path.isdir(d):
        subs = [
            n
            for n in os.listdir(d)
            if n.startswith("_p_") and "=" in n
            and os.path.isdir(os.path.join(d, n))
        ]
        if not subs:
            break
        cols.append(subs[0].split("=", 1)[0][len("_p_"):])
        d = os.path.join(d, subs[0])
    return tuple(cols)


def read_tiles(spark, base: str) -> DataFrame:
    """Read back all committed chunks (uncommitted ones are excluded —
    their data may be partial). One multi-path scan PER PARTITION
    LAYOUT, not a union per chunk: a union chain builds an
    O(n_chunks)-deep plan that stalls Catalyst at the 10³⁺ chunks a
    season of incremental runs produces. Chunks written with different
    ``partition_cols`` (run_resumable accepts them per run) cannot
    share one scan — Spark's partition discovery rejects a conflicting
    layout — so chunks are grouped by the layout recorded in their
    lineage manifests and the (few) per-layout scans are unioned; plan
    depth is O(n_layouts), which is O(1) in practice."""
    done = sorted(committed_chunks(base))
    if not done:
        raise FileNotFoundError(f"no committed chunks under {base}")
    by_layout: dict[tuple[str, ...], list[str]] = {}
    for c in done:
        by_layout.setdefault(_chunk_layout(base, c), []).append(c)
    frames = []
    for chunks in by_layout.values():
        paths = [os.path.join(base, f"chunk={c}") for c in chunks]
        # basePath=base makes chunk= (and any _p_*) partition
        # directories resolve against ONE table root, so only the
        # committed chunk paths are scanned and the discovered
        # partition columns drop cleanly.
        df = spark.read.option("basePath", base).parquet(*paths)
        frames.append(
            df.drop("chunk", *[c for c in df.columns if c.startswith("_p_")])
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
