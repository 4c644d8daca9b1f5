"""Public pipeline API — the engine's equivalent of the reference's
entry surface (SURVEY.md §2.9): ``ingest_polygons`` → ``index_images``
→ ``spatial_join`` → ``write_tiles``, plus ``run_tile_pipeline``, the
resumable end-to-end production job.

Resume unit = **data files**, not key ranges: the images table's files
(from the Iceberg-style manifest, sinks/iceberg.py, or a parquet
directory listing) are grouped into chunks; each chunk reads only its
own files, joins, and commits a lineage manifest (sinks/write.py).
A restart skips committed chunks without rescanning anything — the
"resumes from the last committed checkpoint after executor loss
without reprocessing completed partitions" contract, with zero
re-read amplification (a WHERE-hash chunking would rescan the full
table per chunk; file-aligned chunking reads each byte exactly once).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from .operators import cells, ingest, spatial
from .sinks import iceberg, write


def ingest_polygons(
    spark: SparkSession,
    zip_paths: str,
    translate: bool = True,
    admin_code_attr: str = "行政区域コード",
    strategy: str = "auto",
) -> DataFrame:
    """KSJ ZIPs → polygon layer DataFrame
    ``(polygon_id, admin_code → attr, geometry WKB, crs)``.

    ``strategy``: "auto" (default — probe the source and split
    member-heavy bundles into per-member tasks, see
    ``ingest.ingest_zips_auto``), "zip" (one task per archive), or
    "member" (one task per archive member). Row sets are identical on
    every route; only task granularity / skew bound differs."""
    if strategy == "auto":
        raw = ingest.ingest_zips_auto(spark, zip_paths, translate=translate)
    elif strategy == "member":
        raw = ingest.ingest_zip_members(spark, zip_paths, translate=translate)
    elif strategy == "zip":
        raw = ingest.ingest_zips(spark, zip_paths, translate=translate)
    else:
        raise ValueError(f"strategy must be auto|zip|member, got {strategy!r}")
    return ingest.polygons_from_ingest(raw, admin_code_attr=admin_code_attr)


def index_images(
    images: DataFrame, scheme: str = "hex", res: int | None = None
) -> DataFrame:
    """Attach the cell index column to an image table (vectorized)."""
    res = res if res is not None else spatial.DEFAULT_RES[scheme]
    return cells.with_cell(images, scheme, res)


# Polygon layers up to this count are collected to the driver and
# broadcast (the fast KSJ-scale path: the national admin layer is
# ~10^5 polygons); above it, the join auto-routes to the fully
# distributed cover + shuffle-candidate + cogroup-refine plan and the
# layer never touches the driver. Override per call via
# ``max_broadcast_polygons``.
MAX_BROADCAST_POLYGONS = 250_000


def spatial_join(
    images: DataFrame,
    polygons: DataFrame | pd.DataFrame,
    max_broadcast_polygons: int = MAX_BROADCAST_POLYGONS,
    **opts,
) -> DataFrame:
    """Tile assignment join. ``polygons`` may be a pandas layer, a
    broadcastable Spark layer (collected to the driver below
    ``max_broadcast_polygons`` rows — the KSJ-scale fast path), or a
    LARGE Spark layer: above the threshold the join switches to
    :func:`spatial.spatial_join_tiles_dist`, which keeps the layer
    distributed end-to-end (cover via mapInPandas, shuffle candidate
    join, cogroup PIP refine) — a parcel-scale layer never lands on
    the driver."""
    if not isinstance(polygons, DataFrame):
        return spatial.spatial_join_tiles(images, polygons, **opts)
    # Bounded size probe: limit(n+1) short-circuits the scan once n+1
    # rows exist. It is persisted so that, below the threshold, the
    # collect reads the probed rows instead of computing a lazy layer
    # (an ingest) a second time.
    head = polygons.limit(max_broadcast_polygons + 1).persist()
    try:
        if head.count() <= max_broadcast_polygons:
            return spatial.spatial_join_tiles(images, head.toPandas(), **opts)
    finally:
        head.unpersist()
    dist_opts = dict(opts)
    dist_opts.pop("strategy", None)  # always shuffle when distributed
    for k in ("extra_cols", "simplify_tol"):
        if k in dist_opts:
            raise ValueError(
                f"{k!r} is not supported on the distributed "
                f"large-layer path (layer exceeds "
                f"max_broadcast_polygons={max_broadcast_polygons}); "
                "raise the threshold if the layer fits the driver"
            )
    return spatial.spatial_join_tiles_dist(images, polygons, **dist_opts)


def _polygons_for_fused(
    polygons: DataFrame | pd.DataFrame, max_broadcast_polygons: int
) -> pd.DataFrame:
    """Driver-side layer for the fused assignment+ocean-kNN lane, with
    the size guard: a layer above ``max_broadcast_polygons`` refuses
    loudly (naming the knob) instead of OOMing the driver — the
    distributed assignment path is pipeline.spatial_join /
    spatial.spatial_join_tiles_dist."""
    if isinstance(polygons, DataFrame):
        # one bounded pass: a lazy layer (an ingest) is read once
        polygons = polygons.limit(max_broadcast_polygons + 1).toPandas()
        if len(polygons) > max_broadcast_polygons:
            raise ValueError(
                "polygon layer exceeds max_broadcast_polygons="
                f"{max_broadcast_polygons}: the fused assignment + "
                "ocean-kNN pipeline holds the layer on the driver. For "
                "parcel-scale layers use pipeline.spatial_join (auto-"
                "routes to the distributed cover + shuffle candidate "
                "join) and handle the ocean lane separately, or raise "
                "max_broadcast_polygons if the layer fits driver memory."
            )
    return polygons


def write_tiles(tiles: DataFrame, path: str, chunk: str = "all") -> dict:
    """Write tile assignments with a lineage manifest (idempotent)."""
    return write.write_chunk(tiles, path, chunk)


def _prune_bbox(
    metas: list[dict],
    bbox: tuple[float, float, float, float] | None,
    crs: str | None = None,
) -> list[dict]:
    """Drop file manifests whose (lon, lat) stats provably miss bbox.

    ``bbox`` is in WGS84 (the frame the join runs in); file stats are
    in the table's source datum, so with a ``crs`` the bbox is first
    padded by the largest datum shift — a file within the shift of the
    bbox edge is never wrongly pruned."""
    if bbox is None:
        return metas
    minx, miny, maxx, maxy = bbox
    if crs:
        # Tokyo→WGS84 moves points ≤ ~0.0047° anywhere over Japan;
        # 0.01° is a safe bound (still prunes all but edge files).
        pad = 0.01
        minx, miny, maxx, maxy = minx - pad, miny - pad, maxx + pad, maxy + pad
    kept = []
    for f in metas:
        flo, fhi = f["min"], f["max"]
        if (
            flo.get("lon") is not None
            and fhi.get("lon") is not None
            and flo.get("lat") is not None
            and fhi.get("lat") is not None
            and (
                fhi["lon"] < minx
                or flo["lon"] > maxx
                or fhi["lat"] < miny
                or flo["lat"] > maxy
            )
        ):
            continue  # provably outside the region
        kept.append(f)
    return kept


def _image_file_chunks(
    spark: SparkSession,
    images_path: str,
    n_chunks: int,
    bbox: tuple[float, float, float, float] | None = None,
    crs: str | None = None,
) -> list[list[str]]:
    """Group the image table's data files into resume chunks. With an
    Iceberg-style table and a ``bbox``, files whose (lon, lat) manifest
    stats don't overlap the region are pruned before any read — a
    region-scoped job over a spatially-sorted 100 TB table opens only
    the region's files."""
    if iceberg.current_version(images_path):
        meta = iceberg._load_metadata(images_path)
        if any(
            s["transform"] == "identity"
            for s in iceberg._spec_of(meta)
        ):
            # raw-path chunk reads would silently LOSE identity
            # partition columns (they live in directory names, not in
            # the parquet bytes) — refuse loudly; hidden transforms
            # are fine (nothing to re-attach)
            raise ValueError(
                "identity-partitioned image tables are not supported "
                "as pipeline input: chunk file reads cannot re-attach "
                "partition columns; use iceberg.read/scan or an "
                "unpartitioned / hidden-partitioned image table"
            )
        metas = iceberg._live_files(images_path)
        metas = _prune_bbox(metas, bbox, crs)
        files = [os.path.join(images_path, f["path"]) for f in metas]
        if not files:
            return []
    else:
        files = sorted(
            os.path.join(images_path, n)
            for n in os.listdir(images_path)
            if n.endswith(".parquet")
        )
        if not files:  # nested parquet dir (spark layout)
            raise FileNotFoundError(f"no parquet files in {images_path}")
    n_chunks = max(1, min(n_chunks, len(files)))
    return [files[i::n_chunks] for i in range(n_chunks)]


def write_images_table(
    df: DataFrame,
    path: str,
    sort_scheme: str = "grid",
    sort_res: int = 6,
    files_per_commit: int | None = None,
) -> int:
    """Append an image table spatially sorted by cell id. Sorting makes
    each data file's (lon, lat) footer stats tight, which is what turns
    the Iceberg manifest's min/max into an effective spatial index —
    ``run_tile_pipeline(bbox=...)`` then opens only the region's files.
    Returns the new snapshot id."""
    sorted_df = cells.with_cell(df, sort_scheme, sort_res)
    n_files = files_per_commit or max(
        df.sparkSession.sparkContext.defaultParallelism, 1
    )
    sorted_df = (
        sorted_df.repartitionByRange(n_files, "cell")
        .sortWithinPartitions("cell")
        .drop("cell")
    )
    return iceberg.append(sorted_df, path)


# the image columns the fused join reads
_PROBE_COLS = ("image_id", "lon", "lat")


def _read_chunk(spark: SparkSession, files: list[str]) -> DataFrame:
    """The probe columns of a chunk's image files, with their Spark
    schema taken from the first file's parquet footer on the driver, so
    the read starts no schema-inference Spark job."""
    footer = pq.read_schema(files[0])
    missing = [c for c in _PROBE_COLS if footer.get_field_index(c) < 0]
    if missing:
        raise ValueError(
            f"image file {files[0]} has no column(s) {missing}; the tile "
            f"join reads {list(_PROBE_COLS)}"
        )
    schema = from_arrow_schema(
        pa.schema([footer.field(c) for c in _PROBE_COLS])
    )
    return spark.read.schema(schema).parquet(*files)


def _tile_chunks(
    spark: SparkSession,
    file_map: dict[str, list[str]],
    polys_pdf: pd.DataFrame,
    out_path: str,
    scheme: str,
    res: int,
    k_ocean: int,
    crs: str | None,
    partition_cols: tuple[str, ...],
) -> dict:
    """Tile each uncommitted chunk of ``file_map`` ({chunk id: image
    files}) into ``out_path``, one Spark job per chunk. The polygon index
    is built and broadcast once, on the first chunk that needs it, and
    released on return.
    ``process`` runs on this thread (``write.run_resumable`` calls it in
    chunk order), so the lazy build is never raced; the chunk writes run
    concurrently, and ``run_resumable`` returns only after every write
    it started has finished, so the release never pulls the broadcast
    from a running chunk job."""
    built: list[spatial.PolygonIndex] = []

    def process(chunk_id: str) -> DataFrame:
        if not built:
            built.append(
                spatial.PolygonIndex.build(spark, polys_pdf, scheme, res)
            )
        return spatial.fused_assign_or_knn(
            _read_chunk(spark, file_map[chunk_id]), built[0],
            scheme=scheme, res=res, k=k_ocean, crs=crs,
        )

    try:
        return write.run_resumable(
            out_path, list(file_map), process, partition_cols=partition_cols
        )
    finally:
        for index in built:
            index.release()


def run_tile_pipeline(
    spark: SparkSession,
    images_path: str,
    polygons: DataFrame | pd.DataFrame,
    out_path: str,
    scheme: str = "hex",
    res: int | None = None,
    k_ocean: int = 3,
    n_chunks: int = 16,
    bbox: tuple[float, float, float, float] | None = None,
    crs: str | None = None,
    partition_cols: tuple[str, ...] = (),
    max_broadcast_polygons: int = MAX_BROADCAST_POLYGONS,
) -> dict:
    """End-to-end resumable job: image table (Iceberg-style or parquet
    dir) × polygon layer → ``(image_id, cell, polygon_id, admin_code,
    rank, distance)`` tiles under ``out_path``, one committed chunk +
    lineage manifest per file group. Fused single-pass join (assignment
    + ocean kNN lane); re-invocation after a crash skips committed
    chunks. Returns the run summary {chunk: manifest}.

    ``bbox`` is interpreted in WGS84 (the post-reprojection frame the
    join runs in). File manifest stats, however, are recorded in the
    table's *source* datum; when ``crs`` is set the pruning bbox is
    padded by the maximum datum-shift magnitude so a file within the
    shift of the bbox edge is never wrongly pruned."""
    polys_pdf = _polygons_for_fused(polygons, max_broadcast_polygons)
    res = res if res is not None else spatial.DEFAULT_RES[scheme]
    chunks = _image_file_chunks(spark, images_path, n_chunks, bbox=bbox, crs=crs)
    if not chunks:
        return {}
    chunk_ids = [f"{i:05d}" for i in range(len(chunks))]
    return _tile_chunks(
        spark, dict(zip(chunk_ids, chunks)), polys_pdf, out_path, scheme,
        res, k_ocean, crs, partition_cols,
    )


def committed_pipeline_files(table_path: str) -> set[str]:
    """Source files (relative to the images table) whose tiles are
    already committed — the pipeline's RESUME LEDGER. Recorded per
    chunk in the snapshot summary, atomic with the chunk's data."""
    if not iceberg.current_version(table_path):
        return set()
    meta = iceberg._load_metadata(table_path)
    out: set[str] = set()
    for s in meta["snapshots"]:
        out.update(s.get("summary", {}).get("pipeline_files", []))
    carried = iceberg._carried_summaries(meta)
    out.update(carried.get("pipeline_files") or [])
    return out


def run_tile_pipeline_iceberg(
    spark: SparkSession,
    images_path: str,
    polygons: DataFrame | pd.DataFrame,
    table_path: str,
    scheme: str = "hex",
    res: int | None = None,
    k_ocean: int = 3,
    n_chunks: int = 16,
    bbox: tuple[float, float, float, float] | None = None,
    crs: str | None = None,
    partition_by=None,
    max_broadcast_polygons: int = MAX_BROADCAST_POLYGONS,
) -> dict:
    """The resumable tile pipeline writing a (optionally PARTITIONED)
    Iceberg table. Each chunk commits as ONE snapshot whose summary
    records the chunk's SOURCE FILE LIST — atomically with the data,
    under the table's commit lock. Resume is therefore file-exact: a
    re-run joins only files the table does not yet cover, so source
    files that appeared between crash and resume (which re-stripe any
    positional chunking) are neither skipped nor double-processed.
    ``partition_by`` (e.g. ``[("admin_code", "truncate[2]")]``) fixes
    the table's partition spec on the first commit; later chunks and
    re-runs inherit it. (north_rule: "written as partitioned Iceberg
    ... resumes from the last committed checkpoint without
    reprocessing completed partitions".)

    Returns {chunk_id: snapshot_id} for the chunks committed by THIS
    invocation, plus {"skipped_files": n} when the ledger skipped any.
    """
    polys_pdf = _polygons_for_fused(polygons, max_broadcast_polygons)
    res = res if res is not None else spatial.DEFAULT_RES[scheme]
    chunks = _image_file_chunks(spark, images_path, n_chunks, bbox=bbox, crs=crs)
    all_files = sorted(f for c in chunks for f in c)
    committed = committed_pipeline_files(table_path)
    pending = [
        f
        for f in all_files
        if os.path.relpath(f, images_path) not in committed
    ]
    done: dict[str, object] = {}
    if len(pending) < len(all_files):
        done["skipped_files"] = len(all_files) - len(pending)
    if not pending:
        return done
    n = max(1, min(n_chunks, len(pending)))
    groups = [pending[i::n] for i in range(n)]
    index = spatial.PolygonIndex.build(spark, polys_pdf, scheme, res)
    try:
        for i, group in enumerate(groups):
            cid = f"{i:05d}"
            tiles = spatial.fused_assign_or_knn(
                _read_chunk(spark, group), index,
                scheme=scheme, res=res, k=k_ocean, crs=crs,
            )
            done[cid] = iceberg.append(
                tiles,
                table_path,
                summary_extra={
                    "pipeline_files": sorted(
                        os.path.relpath(f, images_path) for f in group
                    ),
                },
                partition_by=partition_by,
            )
    finally:
        index.release()
    return done
