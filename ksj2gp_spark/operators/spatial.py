"""Spatial join + kNN operators — the engine's core (SURVEY.md §2.4).

Design (BASELINE north_star): candidate pairs come from a cell-keyed
equi-join between point cells and polygon cell covers; exact refinement
is vectorized point-in-polygon inside ``mapInPandas``; kNN is a
vectorized distance top-k. Two physical strategies:

* ``broadcast`` — polygon covers are broadcast (KSJ admin layers are
  MB-scale): **zero shuffle** of the image table; the only exchange is
  the final write. This is the 100 TB path: a 10^12-row probe side
  streams through map tasks.
* ``shuffle`` — for polygon layers too big to broadcast: shuffle hash
  join on cell, with explicit **salting** of hot cells (Tokyo/Osaka
  skew): probe rows get ``salt = pmod(xxhash64(image_id), S)`` and the
  build side replicates hot-cell rows S times, flattening partition
  sizes. AQE skew-join remains on as a backstop.

Refinement receives the polygon layer via a Spark broadcast variable
(its polygon ids and flat edge index, ``geo/edges.py``) so candidate
rows never carry geometry bytes through the join. Every broadcast-layer
join tests PIP and distance with that one index.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo import geom, wkb
from ..geo.cover import _ragged_index
from ..geo.edges import EdgeIndex
from .cells import (
    normalize_polygons,
    polygon_cover_pdf,
    simplify_polygons,
    with_cell,
)

DEFAULT_RES = {"hex": 7, "s2": 12, "grid": 10}


def candidate_join(
    images: DataFrame,
    cover: DataFrame,
    strategy: str = "broadcast",
    n_salt: int = 8,
    hot_cells: list[int] | None = None,
) -> DataFrame:
    """Cell-keyed candidate equi-join. ``images`` must carry ``cell``."""
    if strategy == "broadcast":
        return images.join(F.broadcast(cover), "cell")
    if strategy != "shuffle":
        raise ValueError(f"unknown join strategy: {strategy}")

    if not hot_cells:
        # Plain shuffle hash join; AQE skew handling applies.
        return images.join(cover, "cell")

    spark = images.sparkSession
    hot_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"cell": np.asarray(hot_cells, dtype=np.int64)})
        ).withColumn("is_hot", F.lit(True))
    )
    probe = (
        images.join(hot_df, "cell", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("is_hot"),
                F.pmod(F.xxhash64(F.col("image_id")), F.lit(n_salt)),
            ).otherwise(F.lit(0)),
        )
        .drop("is_hot")
    )
    build = (
        cover.join(hot_df, "cell", "left")
        .withColumn(
            "salt",
            F.explode(
                F.when(
                    F.col("is_hot"),
                    F.sequence(F.lit(0), F.lit(n_salt - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("is_hot")
    )
    return probe.join(build, ["cell", "salt"]).drop("salt")


def find_hot_cells(
    images_with_cell: DataFrame, threshold_ratio: float = 4.0, max_cells: int = 10_000
) -> list[int]:
    """Data-driven hot-cell detection: cells whose row count exceeds
    ``threshold_ratio`` × the mean cell load. One aggregation pass; the
    result is tiny (cell ids only) and broadcast back."""
    counts = images_with_cell.groupBy("cell").count()
    stats = counts.agg(F.avg("count").alias("mean")).collect()[0]
    if stats["mean"] is None:
        return []
    hot = (
        counts.filter(F.col("count") > threshold_ratio * float(stats["mean"]))
        .orderBy(F.desc("count"))
        .limit(max_cells)
        .select("cell")
        .collect()
    )
    return [r["cell"] for r in hot]


def hot_polygon_ids(
    pts_with_cell: DataFrame,
    cover: DataFrame,
    max_group_rows: int,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """Predict which polygons would exceed ``max_group_rows`` candidate
    rows in a cell-keyed candidate join — WITHOUT materializing the
    pair join: one map-side-combinable point-per-cell count, joined to
    the (polygon_id, cell) cover and summed per polygon. At
    ``sample_fraction=1`` the count is exact (every cover cell
    contributes its full point count, which is precisely the candidate
    rows the equi-join would emit) but costs a full probe-table scan;
    at a fraction < 1 the probe is sampled and counts scaled by 1/f —
    a hot polygon is ≥``max_group_rows`` rows by definition, so even a
    1% sample sees ~20k of them (Poisson noise <1%), and
    mis-classification is correctness-neutral either way (splitting a
    cold polygon just unions more sub-groups; the output row set is
    split-invariant). Returns a LAZY (polygon_id) frame of the hot
    polygons only — broadcast-sized by construction and never
    collected to the driver."""
    if not (0.0 < sample_fraction <= 1.0):
        raise ValueError(
            f"sample_fraction must be in (0, 1], got {sample_fraction}"
        )
    if sample_fraction < 1.0:
        pts_with_cell = pts_with_cell.sample(
            fraction=sample_fraction, seed=42
        )
    scale = 1.0 / sample_fraction
    cell_counts = pts_with_cell.groupBy("cell").agg(
        (F.count("*") * F.lit(scale)).alias("_n")
    )
    return (
        cover.join(cell_counts, "cell")
        .groupBy("polygon_id")
        .agg(F.sum("_n").alias("_cand"))
        .filter(F.col("_cand") > int(max_group_rows))
        .select("polygon_id")
    )


def refine_pip(
    candidates: DataFrame,
    polygons_pdf: pd.DataFrame,
    out_cols: list[str],
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Exact point-in-polygon refinement over candidate pairs.

    The layer travels as one broadcast of its polygon ids and its edge
    index, not through the join. Per Arrow batch, the candidates'
    ``polygon_id`` map to polygon numbers in one lookup and every pair
    is tested in one :meth:`~ksj2gp_spark.geo.edges.EdgeIndex.contains`
    call. A ``polygon_id`` that repeats in the layer would name two
    geometries, so it raises ``ValueError``.
    """
    ids = pd.Index(polygons_pdf["polygon_id"])
    if not ids.is_unique:
        repeated = ids[ids.duplicated()].unique().tolist()
        raise ValueError(f"polygon_id repeats in the layer: {repeated}")
    index = EdgeIndex.build(
        [wkb.loads(bytes(buf)) for buf in polygons_pdf["geometry"]]
    )
    shipped = candidates.sparkSession.sparkContext.broadcast((ids, index))
    schema = candidates.select(*out_cols).schema

    def refine(batches):
        ids, index = shipped.value
        for pdf in batches:
            if pdf.empty:
                continue
            keep = index.contains(
                pdf[lon_col].to_numpy(dtype=np.float64),
                pdf[lat_col].to_numpy(dtype=np.float64),
                ids.get_indexer(pdf["polygon_id"]),
            )
            yield pdf.loc[keep, out_cols]

    return candidates.mapInPandas(refine, schema=schema)


def spatial_join_tiles(
    images: DataFrame,
    polygons_pdf: pd.DataFrame,
    scheme: str = "hex",
    res: int | None = None,
    strategy: str = "broadcast",
    n_salt: int = 8,
    hot_cells: list[int] | None = None,
    crs: str | None = None,
    extra_cols: tuple[str, ...] = ("行政区域コード",),
    admin_col: str = "行政区域コード",
    simplify_tol: float | None = None,
) -> DataFrame:
    """images(lon, lat, image_id, …) × polygon layer → tile assignments
    ``(image_id, cell, admin_code, polygon_id)``.

    Strategies: ``fused`` (:func:`fused_assign_or_knn` without its
    ocean lane: one Arrow pass, zero shuffles — fastest for
    broadcast-sized layers), ``broadcast`` (Catalyst-visible
    BroadcastHashJoin of the cover + :func:`refine_pip` pass),
    ``shuffle`` (+ optional hot-cell salting) for polygon layers too
    large to broadcast. Every strategy tests PIP with the layer's edge
    index.

    ``simplify_tol`` (opt-in) Douglas-Peucker-simplifies the polygon
    layer before the cover/refine broadcast — an approximation with
    deviation bounded by the tolerance: only points within ``tol`` of a
    boundary can change assignment. Use tolerances well below the cell
    size to shrink survey-resolution coastline rings.
    """
    res = res if res is not None else DEFAULT_RES[scheme]
    polys = normalize_polygons(polygons_pdf)
    if simplify_tol:
        polys = simplify_polygons(polys, simplify_tol)
    if strategy == "fused":
        return fused_assign_or_knn(
            images, polys, scheme, res, k=0, admin_col=admin_col, crs=crs
        ).select("image_id", "cell", "polygon_id", "admin_code")
    spark = images.sparkSession
    cover_pdf = polygon_cover_pdf(polys, scheme, res, extra_cols=extra_cols)
    if strategy == "auto":
        # Broadcast while the exploded cover fits comfortably under the
        # default 8g driver/executor budget (~48 bytes/cover row in the
        # hashed relation); beyond that, shuffle with salting readiness.
        strategy = "broadcast" if len(cover_pdf) <= 5_000_000 else "shuffle"
    cover = spark.createDataFrame(cover_pdf)

    # Project the probe side down to the join-relevant columns before
    # anything moves through Arrow: image payload bytes must never ride
    # through the candidate join or the refine UDF.
    probe = images.select("image_id", "lon", "lat")
    pts = with_cell(probe, scheme, res, crs=crs)
    cand = candidate_join(pts, cover, strategy, n_salt, hot_cells)
    out_cols = ["image_id", "cell", "polygon_id", *extra_cols]
    refined = refine_pip(cand, polys, out_cols)
    return refined.withColumnRenamed(admin_col, "admin_code")


def _reproject_points(df: DataFrame, crs_name: str) -> DataFrame:
    """Rewrite lon/lat to WGS84 in one Arrow pass (schema unchanged)."""
    from ..geo import transform as _tf

    schema = df.schema

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                yield pdf
                continue
            lo, la = _tf.to_wgs84(
                pdf["lon"].to_numpy(dtype=np.float64),
                pdf["lat"].to_numpy(dtype=np.float64),
                crs_name,
            )
            yield pdf.assign(lon=lo, lat=la)

    return df.mapInPandas(run, schema=schema)


def spatial_join_tiles_dist(
    images: DataFrame,
    polygons: DataFrame,
    scheme: str = "hex",
    res: int | None = None,
    n_salt: int = 8,
    hot_cells: list[int] | None = None,
    crs: str | None = None,
    admin_col: str = "行政区域コード",
    max_group_rows: int | None = 2_000_000,
    n_sub: int = 16,
    detect_fraction: float = 1.0,
) -> DataFrame:
    """Tile assignment for polygon layers too large to hold on the
    driver: the layer stays a DataFrame end-to-end — NOTHING is
    collected or broadcast to the driver (the hot-polygon id frame
    below is a JVM-side broadcast exchange of ids only, never a
    driver materialization).

    Plan shape (the honest big-layer cost, all key-sized rows):

    1. distributed CRS normalization + cell cover
       (:func:`cells.polygon_cover_df`, one ``mapInPandas`` pass over
       the layer, parallel by polygon),
    2. shuffle candidate equi-join on ``cell`` (optional hot-cell
       salting; AQE skew-join as backstop),
    3. exact PIP refine via ``groupBy(polygon_id).cogroup(layer)`` —
       each polygon's geometry bytes cross the Arrow boundary ONCE per
       polygon (not once per candidate row, which a geometry re-join
       would replicate), and its candidate points arrive as one
       vectorized batch.

    Hot-polygon auto-split (metro skew): a single hot polygon (Tokyo
    ward holding half the images) would concentrate ALL its candidate
    rows in one cogroup task. Per-polygon candidate counts are
    predicted WITHOUT materializing the pair join
    (:func:`hot_polygon_ids` — one map-side-combinable point-per-cell
    count joined to the cover and summed, kept LAZY and broadcast
    JVM-side, no driver action). The count pass scans the probe table
    once more and re-runs the cover's Arrow pass; at 10^12-point scale
    set ``detect_fraction`` (e.g. 0.01) to sample the probe for the
    detection — hot polygons are ≥``max_group_rows`` rows by
    definition so a 1% sample still sees ~20k of each, and
    mis-detection is correctness-neutral (the output row set is
    split-invariant, pinned in TestDistJoinHotSplit). Polygons whose
    predicted count exceeds ``max_group_rows`` have their candidate
    rows salted by ``xxhash64(image_id)`` into ``n_sub`` sub-groups,
    the geometry row replicated to each sub-key (``n_sub × n_hot``
    extra rows), each sub-group PIP-refined against the same geometry
    and unioned — max task input is bounded by ~count/n_sub and the
    row set is EXACTLY the unsalted path's (pinned in
    tests/test_spatial_spark.py::TestDistJoinHotSplit).
    ``max_group_rows=None`` disables detection (and its extra
    cover-sized pass).

    Same output contract as :func:`spatial_join_tiles`
    ``(image_id, cell, polygon_id, admin_code)``; row-set equality with
    the broadcast path is pinned in tests/test_pipeline_api.py.
    """
    res = res if res is not None else DEFAULT_RES[scheme]
    if n_sub < 1:
        # pmod(hash, 0) is NULL: every hot polygon's candidates would
        # silently vanish from the cogroup instead of erroring
        raise ValueError(f"n_sub must be >= 1, got {n_sub}")
    from .cells import polygon_cover_df

    polys = _normalize_layer_df(polygons).select(
        "polygon_id", "geometry", F.col(admin_col).alias("_admin")
    )
    cover = polygon_cover_df(
        polys.select("polygon_id", "geometry"), scheme, res
    )
    probe = images.select("image_id", "lon", "lat")
    if crs:
        probe = _reproject_points(probe, crs)
    pts = with_cell(probe, scheme, res)
    cand = candidate_join(pts, cover, "shuffle", n_salt, hot_cells)

    group_keys = ["polygon_id"]
    if max_group_rows is not None:
        group_keys = ["polygon_id", "_sub"]
        hot_df = F.broadcast(
            hot_polygon_ids(
                pts, cover, max_group_rows, sample_fraction=detect_fraction
            ).withColumn("_hot", F.lit(True))
        )
        cand = (
            cand.join(hot_df, "polygon_id", "left")
            .withColumn(
                "_sub",
                F.when(
                    F.col("_hot"),
                    F.pmod(F.xxhash64(F.col("image_id")), F.lit(n_sub)),
                ).otherwise(F.lit(0)),
            )
            .drop("_hot")
        )
        polys = (
            polys.join(hot_df, "polygon_id", "left")
            .withColumn(
                "_sub",
                F.explode(
                    F.when(
                        F.col("_hot"),
                        F.sequence(F.lit(0), F.lit(n_sub - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hot")
        )

    out_schema = (
        "image_id string, cell long, polygon_id string, admin_code string"
    )

    def refine(key, cand_pdf, geo_pdf):
        if cand_pdf.empty or geo_pdf.empty:
            return pd.DataFrame(
                {"image_id": [], "cell": [], "polygon_id": [],
                 "admin_code": []}
            )
        g = wkb.loads(bytes(geo_pdf["geometry"].iloc[0]))
        keep = geom.geometry_contains(
            cand_pdf["lon"].to_numpy(dtype=np.float64),
            cand_pdf["lat"].to_numpy(dtype=np.float64),
            g,
        )
        hit = cand_pdf.loc[keep]
        return pd.DataFrame(
            {
                "image_id": hit["image_id"].to_numpy(),
                "cell": hit["cell"].to_numpy(),
                "polygon_id": key[0],
                "admin_code": geo_pdf["_admin"].iloc[0],
            }
        )

    return (
        cand.groupBy(*group_keys)
        .cogroup(polys.groupBy(*group_keys))
        .applyInPandas(refine, schema=out_schema)
    )


def knn_join(
    images: DataFrame,
    polygons_pdf: pd.DataFrame,
    k: int = 3,
    lon_col: str = "lon",
    lat_col: str = "lat",
    admin_col: str = "行政区域コード",
) -> DataFrame:
    """k nearest polygons per image point (planar degrees), fully
    vectorized: a points×polygons distance matrix per Arrow batch with
    deterministic (distance, admin_code, polygon_id) tie-breaking —
    the same total order as knn_join_pruned and fused_assign_or_knn.

    The polygon side is broadcast. This brute-force kernel is the
    reference the bound-pruned ``knn_join_pruned`` is tested against.
    """
    spark = images.sparkSession
    payload = _payload(normalize_polygons(polygons_pdf), admin_col)
    b = spark.sparkContext.broadcast(payload)
    images = images.select("image_id", lon_col, lat_col)

    def topk(batches):
        geos = None
        for pdf in batches:
            if pdf.empty:
                continue
            if geos is None:
                geos = [
                    (pid, code, wkb.loads(buf)) for pid, code, buf in b.value
                ]
                # (admin_code, polygon_id) tie order — identical across
                # knn_join / knn_join_pruned / fused_assign_or_knn.
                order = np.lexsort(
                    (
                        np.array([p for p, _, _ in geos], dtype=object),
                        np.array([c for _, c, _ in geos], dtype=object),
                    )
                )
                geos = [geos[i] for i in order]
            lons = pdf[lon_col].to_numpy(dtype=np.float64)
            lats = pdf[lat_col].to_numpy(dtype=np.float64)
            dmat = np.stack(
                [geom.distance_to_geometry(lons, lats, g) for _, _, g in geos],
                axis=1,
            )
            # stable argsort on distance; admin_code order pre-applied
            top = np.argsort(dmat, axis=1, kind="stable")[:, :k]
            n = len(pdf)
            rows = {
                "image_id": np.repeat(pdf["image_id"].to_numpy(), k),
                "rank": np.tile(np.arange(1, k + 1), n),
                "polygon_id": np.array(
                    [geos[j][0] for j in top.ravel()], dtype=object
                ),
                "admin_code": np.array(
                    [geos[j][1] for j in top.ravel()], dtype=object
                ),
                "distance": np.take_along_axis(dmat, top, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    return images.mapInPandas(
        topk,
        schema=(
            "image_id string, rank int, polygon_id string, "
            "admin_code string, distance double"
        ),
    )


def _payload(polys: pd.DataFrame, admin_col: str) -> list[tuple]:
    """[(polygon_id, admin_code, wkb)] in layer order."""
    return list(
        zip(polys["polygon_id"], polys[admin_col], map(bytes, polys["geometry"]))
    )


def _polygon_side(
    polys: pd.DataFrame, admin_col: str, geoms: list | None = None
) -> tuple[np.ndarray, np.ndarray, EdgeIndex]:
    """Per polygon, in layer order: its id and admin code, and the edge
    index of the layer (``geoms``: the decoded geometries, if at hand)
    with kNN ties ranked in (admin_code, polygon_id) order, the tie
    order ``knn_join`` uses."""
    pids = polys["polygon_id"].to_numpy(dtype=object)
    admins = polys[admin_col].to_numpy(dtype=object)
    tie = np.empty(len(polys), dtype=np.int32)
    tie[np.lexsort((pids, admins))] = np.arange(len(polys))
    if geoms is None:
        geoms = [wkb.loads(bytes(buf)) for buf in polys["geometry"]]
    return pids, admins, EdgeIndex.build(geoms, tie)


def knn_join_pruned(
    images: DataFrame,
    polygons_pdf: pd.DataFrame,
    k: int = 3,
    res: int = 8,
    lon_col: str = "lon",
    lat_col: str = "lat",
    admin_col: str = "行政区域コード",
) -> DataFrame:
    """kNN through the layer's flat edge index — the large-layer path.
    ``knn_join`` evaluates every polygon per point; here
    :meth:`~ksj2gp_spark.geo.edges.EdgeIndex.knn` computes exact
    distances only to the polygons whose bbox lies within a k-th
    distance bound, found through STR-packed bbox leaves.

    ``res`` is kept for callers; it no longer changes the result.

    Output contract is identical to ``knn_join``: the same rows, the
    same distances bit for bit, and the same (distance, admin_code,
    polygon_id) order (tested against it).
    """
    spark = images.sparkSession
    polys = normalize_polygons(polygons_pdf)
    k = min(k, len(polys))
    shipped = spark.sparkContext.broadcast(_polygon_side(polys, admin_col))
    images = images.select("image_id", lon_col, lat_col)

    def topk(batches):
        pids, admins, index = shipped.value
        for pdf in batches:
            if pdf.empty:
                continue
            poly, dist = index.knn(
                pdf[lon_col].to_numpy(dtype=np.float64),
                pdf[lat_col].to_numpy(dtype=np.float64),
                k,
            )
            yield pd.DataFrame(
                {
                    "image_id": np.repeat(pdf["image_id"].to_numpy(), k),
                    "rank": np.tile(np.arange(1, k + 1), len(pdf)),
                    "polygon_id": pids[poly.ravel()],
                    "admin_code": admins[poly.ravel()],
                    "distance": dist.ravel(),
                }
            )

    return images.mapInPandas(
        topk,
        schema=(
            "image_id string, rank int, polygon_id string, "
            "admin_code string, distance double"
        ),
    )


@dataclass(frozen=True)
class PolygonIndex:
    """The polygon side of the tile join, built once per pipeline call
    and shipped to the executors as two broadcasts of numpy arrays.

    Polygons are numbered in layer order. ``cover`` holds
    ``(cells, cell_poly)``: the scheme cover's cells, sorted, and the
    polygon number of each (int32). ``polygons`` holds
    ``(polygon_id, admin_code, edges)``: one string of each per polygon
    and the layer's flat edge index for the exact PIP and the kNN ocean
    lane. ``release`` destroys both broadcasts."""

    cover: Broadcast
    polygons: Broadcast
    n_polygons: int
    scheme: str
    res: int

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        polygons_pdf: pd.DataFrame,
        scheme: str = "grid",
        res: int | None = None,
        admin_col: str = "行政区域コード",
    ) -> "PolygonIndex":
        """Build and broadcast both halves at once: the edge index on a
        pool thread, shipped there as soon as it is ready, and the
        cover on this thread (through the module's
        ``polygon_cover_pdf``). The two share the decoded layer and
        read it only."""
        res = res if res is not None else DEFAULT_RES[scheme]
        polys = normalize_polygons(polygons_pdf)
        geoms = [wkb.loads(bytes(buf)) for buf in polys["geometry"]]
        sc = spark.sparkContext
        with ThreadPoolExecutor(1, thread_name_prefix="polygon_side") as pool:
            side = pool.submit(
                lambda: sc.broadcast(_polygon_side(polys, admin_col, geoms))
            )
            try:
                cover = polygon_cover_pdf(
                    polys.assign(_poly=np.arange(len(polys))), scheme, res,
                    id_col="_poly", geoms=geoms,
                )
                cells = cover["cell"].to_numpy()
                order = np.argsort(cells, kind="stable")
                cell_poly = cover["_poly"].to_numpy()[order].astype(np.int32)
                shipped = sc.broadcast((cells[order], cell_poly))
            except BaseException:
                if side.exception() is None:
                    side.result().destroy()
                raise
        try:
            polygons = side.result()
        except BaseException:
            shipped.destroy()
            raise
        return cls(shipped, polygons, len(polys), scheme, res)

    def release(self) -> None:
        """Destroy both broadcasts."""
        self.cover.destroy()
        self.polygons.destroy()


def fused_assign_or_knn(
    images: DataFrame,
    polygons_pdf: pd.DataFrame | PolygonIndex,
    scheme: str = "grid",
    res: int | None = None,
    k: int = 3,
    admin_col: str = "行政区域コード",
    crs: str | None = None,
) -> DataFrame:
    """Single-pass tile assignment WITH the ocean/kNN fallback lane.

    The relational composition (tile join → left_anti on image_id →
    kNN) shuffles the full probe table twice just to find the ~% of
    rows that matched nothing. This operator fuses all three into ONE
    ``mapInPandas`` pass with zero shuffles. Per Arrow batch:

    1. the points' cells;
    2. one ``np.searchsorted`` probe of the index's sorted cover cells,
       giving every (point, candidate polygon) pair;
    3. one exact PIP over all those pairs
       (:meth:`~ksj2gp_spark.geo.edges.EdgeIndex.contains`);
    4. one kNN (:meth:`~ksj2gp_spark.geo.edges.EdgeIndex.knn`) over the
       rows no polygon covers.

    Matched rows emit ``rank = 0``; ocean rows emit ranks ``1..k`` with
    their distance.

    ``polygons_pdf`` is a pandas layer, or a :class:`PolygonIndex`
    built for the same ``scheme`` and ``res``: the pipelines build one
    per call and pass it to every chunk, so the cover and the edge
    index are built and broadcast once (``admin_col`` then comes from
    the index). A pandas layer gets its own index here, which is never
    released.

    Row-set contract: equal to
    ``spatial_join_tiles(...)  UNION  knn_join(unmatched, ...)``, with
    the same distances bit for bit (asserted in
    tests/test_spatial_spark.py, incl. a 2,000-polygon layer).
    """
    from .cells import _cell_fn

    res = res if res is not None else DEFAULT_RES[scheme]
    if isinstance(polygons_pdf, PolygonIndex):
        index = polygons_pdf
        if (index.scheme, index.res) != (scheme, res):
            raise ValueError(
                f"index built for {index.scheme} res {index.res}, "
                f"join asks for {scheme} res {res}"
            )
    else:
        index = PolygonIndex.build(
            images.sparkSession, polygons_pdf, scheme, res, admin_col
        )
    cover, polygons = index.cover, index.polygons
    knn_k = min(k, index.n_polygons)
    cell_fn = _cell_fn(scheme, res)
    crs_name = crs

    def run(batches):
        from ..geo import transform as _tf

        cells, cell_poly = cover.value
        pids, admins, poly_edges = polygons.value
        for pdf in batches:
            if pdf.empty:
                continue
            lons = pdf["lon"].to_numpy(dtype=np.float64)
            lats = pdf["lat"].to_numpy(dtype=np.float64)
            if crs_name:
                lons, lats = _tf.to_wgs84(lons, lats, crs_name)
            cells_v = cell_fn(lons, lats)
            # probe: each point's run of equal cells in the sorted cover
            lo = np.searchsorted(cells, cells_v, "left")
            n_cand = np.searchsorted(cells, cells_v, "right") - lo
            row = np.repeat(np.arange(len(pdf)), n_cand)
            pos = np.arange(len(row)) + np.repeat(
                lo - (np.cumsum(n_cand) - n_cand), n_cand
            )
            poly = cell_poly[pos]
            hit = poly_edges.contains(lons[row], lats[row], poly)
            row, poly = row[hit], poly[hit]
            # ocean lane: rows with zero polygon hits
            ocean = np.ones(len(pdf), dtype=bool)
            ocean[row] = False
            ocean = np.flatnonzero(ocean)
            o_poly, o_dist = poly_edges.knn(lons[ocean], lats[ocean], knn_k)
            rows = np.r_[row, np.repeat(ocean, knn_k)]
            poly = np.r_[poly, o_poly.ravel()]
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].to_numpy()[rows],
                    "cell": cells_v[rows],
                    "polygon_id": pids[poly],
                    "admin_code": admins[poly],
                    "rank": np.r_[
                        np.zeros(len(row), dtype=np.int32),
                        np.tile(np.arange(1, knn_k + 1, dtype=np.int32), len(ocean)),
                    ],
                    "distance": np.r_[np.zeros(len(row)), o_dist.ravel()],
                }
            )

    probe = images.select("image_id", "lon", "lat")
    return probe.mapInPandas(
        run,
        schema=(
            "image_id string, cell long, polygon_id string, "
            "admin_code string, rank int, distance double"
        ),
    )


def dwithin_join(
    images: DataFrame,
    polygons_pdf: pd.DataFrame,
    d: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    admin_col: str = "行政区域コード",
) -> DataFrame:
    """Distance-threshold spatial join: every (point, polygon) pair
    with planar distance <= ``d`` (0 for covered points) —
    ST_DWithin's join form, the buffer-less way to ask "which images
    are near which admin areas".

    One mapInPandas over the distributed point side; the polygon side
    broadcasts as the layer's edge index. Per Arrow batch, the
    candidate pairs are the points inside each polygon's bbox expanded
    by ``d``, found with one ``np.searchsorted`` over the x-sorted
    points; one :meth:`~ksj2gp_spark.geo.edges.EdgeIndex.distance`
    call over all of them gives the exact distances — never a dense
    points x polygons distance matrix. An empty polygon has no bbox
    and joins nothing.
    """
    if d < 0:
        raise ValueError("d must be non-negative")
    shipped = images.sparkSession.sparkContext.broadcast(
        _polygon_side(normalize_polygons(polygons_pdf), admin_col)
    )
    images = images.select("image_id", lon_col, lat_col)

    def within(batches):
        pids, admins, index = shipped.value
        xmin, ymin, xmax, ymax = index.bbox.T
        for pdf in batches:
            if pdf.empty:
                continue
            lons = pdf[lon_col].to_numpy(dtype=np.float64)
            lats = pdf[lat_col].to_numpy(dtype=np.float64)
            # each polygon's run of x-sorted points with
            # xmin - d <= lon <= xmax + d, then the same test on lat
            by_x = np.argsort(lons, kind="stable")
            lo = np.searchsorted(lons[by_x], xmin - d, "left")
            hi = np.searchsorted(lons[by_x], xmax + d, "right")
            poly, k = _ragged_index(np.maximum(hi - lo, 0))
            row = by_x[lo[poly] + k]
            box = (lats[row] >= ymin[poly] - d) & (lats[row] <= ymax[poly] + d)
            row, poly = row[box], poly[box]
            dist = index.distance(lons[row], lats[row], poly)
            near = dist <= d
            row, poly = row[near], poly[near]
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].to_numpy()[row],
                    "polygon_id": pids[poly],
                    "admin_code": admins[poly],
                    "dist": dist[near],
                }
            )

    return images.mapInPandas(
        within,
        schema=(
            "image_id string, polygon_id string, "
            "admin_code string, dist double"
        ),
    )


def dwithin_join_shuffle(
    images: DataFrame,
    polygons: DataFrame,
    d: float,
    res: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    admin_col: str = "行政区域コード",
) -> DataFrame:
    """Distance-threshold join for TWO DISTRIBUTED sides — the
    big × big shape :func:`dwithin_join` (broadcast-only) cannot
    serve: a parcel-scale polygon layer that fits no driver against a
    10^12-point table. Same output contract and exact same distances
    as the broadcast path (row-set equality pinned in
    tests/test_spatial_spark.py::TestDwithinShuffle).

    Plan shape — the ``polygon_overlap_join_shuffle`` recipe applied
    to the dwithin predicate (all candidate traffic is key-sized):

    1. polygon side: one ``mapInPandas`` pass emits each polygon's
       d-EXPANDED bbox cover as (polygon_id, cell) grid cells (every
       point within d of the polygon lies in a cell intersecting
       that expanded bbox — the cover is a proven superset), pruned
       to cells whose center is within d + cell-circumradius of the
       geometry so long thin polygons don't carpet their bbox;
    2. point side: the pure-Catalyst grid cell (one codegen'd floor);
    3. candidates: ONE shuffle equi-join on ``cell`` (a point has
       exactly one cell, so a pair appears at most once — no dedup
       shuffle needed; AQE skew-join handles hot metro cells);
    4. exact refine: ``cogroup`` by polygon_id — geometry bytes cross
       the Arrow boundary once per polygon, its candidates arrive as
       one vectorized batch for the segment-distance kernel.
    """
    if d < 0:
        raise ValueError("d must be non-negative")
    from ..geo import grid

    res = res if res is not None else DEFAULT_RES["grid"]
    size = grid.cell_size(res)
    dd = float(d)
    polys = _normalize_layer_df(polygons).select(
        "polygon_id", "geometry", F.col(admin_col).alias("_admin")
    )

    def cover_run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            pids: list[np.ndarray] = []
            cells_out: list[np.ndarray] = []
            for pid, buf in zip(pdf["polygon_id"], pdf["geometry"]):
                g = wkb.loads(bytes(buf))
                if not len(g.all_coords()):
                    continue  # an empty polygon has no bbox: no cells
                xmin, ymin, xmax, ymax = g.bounds()
                cells = grid.cover_bbox(
                    xmin - dd, ymin - dd, xmax + dd, ymax + dd, res
                )
                if len(cells) > 4:
                    cx, cy = grid.cell_center(cells)
                    dc = geom.distance_to_geometry(cx, cy, g)
                    cells = cells[
                        dc <= dd + size * np.sqrt(2.0) / 2.0 + 1e-12
                    ]
                pids.append(np.repeat(pid, len(cells)))
                cells_out.append(cells)
            yield pd.DataFrame(
                {
                    "polygon_id": np.concatenate(pids)
                    if pids
                    else np.array([], dtype=object),
                    "cell": np.concatenate(cells_out)
                    if cells_out
                    else np.array([], dtype=np.int64),
                }
            )

    cover = polys.select("polygon_id", "geometry").mapInPandas(
        cover_run, schema="polygon_id string, cell long"
    )
    pts = with_cell(
        images.select("image_id", lon_col, lat_col),
        "grid",
        res,
        lon_col=lon_col,
        lat_col=lat_col,
    )
    cand = pts.join(cover, "cell").select(
        "image_id", lon_col, lat_col, "polygon_id"
    )

    out_schema = (
        "image_id string, polygon_id string, admin_code string, dist double"
    )

    def refine(key, cand_pdf, geo_pdf):
        if cand_pdf.empty or geo_pdf.empty:
            return pd.DataFrame(
                {"image_id": [], "polygon_id": [], "admin_code": [],
                 "dist": []}
            )
        g = wkb.loads(bytes(geo_pdf["geometry"].iloc[0]))
        dist = geom.distance_to_geometry(
            cand_pdf[lon_col].to_numpy(dtype=np.float64),
            cand_pdf[lat_col].to_numpy(dtype=np.float64),
            g,
        )
        sel = dist <= dd
        hit = cand_pdf.loc[sel]
        return pd.DataFrame(
            {
                "image_id": hit["image_id"].to_numpy(),
                "polygon_id": key[0],
                "admin_code": geo_pdf["_admin"].iloc[0],
                "dist": dist[sel],
            }
        )

    return (
        cand.groupBy("polygon_id")
        .cogroup(polys.groupBy("polygon_id"))
        .applyInPandas(refine, schema=out_schema)
    )


def unmatched_images(
    images_with_cell: DataFrame, tiles: DataFrame
) -> DataFrame:
    """Anti-join lane: images that matched no polygon (ocean)."""
    return images_with_cell.join(
        tiles.select("image_id"), "image_id", "left_anti"
    )


def temporal_join_tiles(
    images: DataFrame,
    polygons_pdf: pd.DataFrame,
    scheme: str = "grid",
    res: int | None = None,
    ts_col: str = "ts",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    version_col: str | None = None,
    mode: str = "interval",
    admin_col: str = "行政区域コード",
    crs: str | None = None,
) -> DataFrame:
    """Spatial join against a TIME-VERSIONED polygon layer (admin
    boundaries change over the years; each row of ``polygons_pdf`` is
    one version with a validity window).

    Two temporal semantics:

    * ``mode="interval"`` — keep the version(s) whose
      ``valid_from <= ts < valid_to`` at the image's timestamp: the
      standard interval/range join, evaluated as a residual predicate
      on the cell-keyed candidate join (the broadcast cover carries the
      validity columns, so the time filter costs nothing extra — no
      second join, no shuffle).
    * ``mode="asof"`` — among versions with ``valid_from <= ts``, keep
      the LATEST per (image, ``version_col``): the as-of join, for
      layers that record revisions without closing old windows.
      Implemented as a window rank over the PIP-refined candidates —
      partition keys are (image, version lineage), so the window state
      per key is the handful of versions of one polygon, never the
      layer.

    Spark shape: with_cell → broadcast candidate join → exact PIP →
    temporal residual — identical physics to ``spatial_join_tiles``
    (zero probe-side shuffle in interval mode; as-of adds one
    hash-partitioned window over candidate-sized data only).
    """
    if mode not in ("interval", "asof"):
        raise ValueError(f"unknown temporal mode: {mode}")
    if mode == "asof" and version_col is None:
        raise ValueError("asof mode needs version_col (version lineage key)")
    res = res if res is not None else DEFAULT_RES[scheme]
    spark = images.sparkSession
    polys = normalize_polygons(polygons_pdf)
    extra = [admin_col, valid_from_col]
    if mode == "interval":
        extra.append(valid_to_col)
    if version_col:
        extra.append(version_col)
    cover_pdf = polygon_cover_pdf(polys, scheme, res, extra_cols=tuple(extra))
    cover = spark.createDataFrame(cover_pdf)

    probe = images.select("image_id", "lon", "lat", ts_col)
    pts = with_cell(probe, scheme, res, crs=crs)
    cand = candidate_join(pts, cover, "broadcast")
    out_cols = ["image_id", "cell", "polygon_id", *extra, ts_col]
    refined = refine_pip(cand, polys, out_cols)

    ts = F.col(ts_col)
    if mode == "interval":
        out = refined.filter(
            (ts >= F.col(valid_from_col)) & (ts < F.col(valid_to_col))
        )
    else:
        from pyspark.sql import Window as W

        w = W.partitionBy("image_id", version_col).orderBy(
            F.desc(valid_from_col), F.col("polygon_id")
        )
        out = (
            refined.filter(ts >= F.col(valid_from_col))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return out.withColumnRenamed(admin_col, "admin_code")


def polygon_overlap_join(
    left: DataFrame,
    right_pdf: pd.DataFrame,
    scheme: str = "grid",
    res: int | None = None,
    left_id: str = "polygon_id",
    right_id_out: str = "other_id",
) -> DataFrame:
    """Polygon × polygon spatial join (boundary-inclusive intersects):
    ``left`` is a distributed layer ``(left_id, geometry[, crs])``;
    ``right_pdf`` is a broadcast-small layer with the same columns.
    Output: one row per intersecting pair ``(left_id, right_id_out)``.

    Plan shape (the 100 TB path): ONE ``mapInPandas`` over the left
    layer — each task covers its polygons with cells, probes the
    broadcast right-cover (pandas hash-merge), dedupes candidate pairs
    in-batch, and refines with the exact segment/containment kernel
    (geo/geom.py::geometry_intersects). Zero shuffle; the right layer
    ships once per executor as (cover DataFrame + WKB dict). For a
    right side too large to broadcast, cover both sides with
    ``polygon_cover_df`` and equi-join on cell instead (the same
    refine applies) — that variant shuffles both covers.
    """
    from .cells import cover_fn

    res = res if res is not None else DEFAULT_RES[scheme]
    spark = left.sparkSession
    rpolys = normalize_polygons(right_pdf)
    rcover = polygon_cover_pdf(rpolys, scheme, res)
    rcover_b = spark.sparkContext.broadcast(rcover)
    rgeos_b = spark.sparkContext.broadcast(
        {
            row["polygon_id"]: bytes(row["geometry"])
            for _, row in rpolys.iterrows()
        }
    )
    cov = cover_fn(scheme, res)

    def run(batches):
        rcov = rcover_b.value
        parsed: dict[str, wkb.Geometry] = {}

        def rgeo(pid: str) -> wkb.Geometry:
            g = parsed.get(pid)
            if g is None:
                g = parsed[pid] = wkb.loads(rgeos_b.value[pid])
            return g

        for pdf in batches:
            pdf = normalize_polygons(pdf)  # per-row CRS → WGS84
            if pdf.empty:
                continue
            # candidate pairs for the whole Arrow batch in ONE hash
            # merge: concat all left covers, probe the broadcast right
            # cover, dedupe (left, right) — the per-pair exact kernel
            # then runs only on true cell-colocated candidates.
            geoms = [wkb.loads(bytes(b)) for b in pdf["geometry"]]
            covers = [cov(g) for g in geoms]
            li = np.repeat(
                np.arange(len(geoms)), [len(c) for c in covers]
            )
            cand = (
                pd.DataFrame(
                    {
                        "_li": li,
                        "cell": np.concatenate(covers)
                        if covers
                        else np.array([], dtype=np.int64),
                    }
                )
                .merge(rcov, on="cell", sort=False)[["_li", "polygon_id"]]
                .drop_duplicates()
            )
            out_l: list[str] = []
            out_r: list[str] = []
            lids = pdf[left_id].to_numpy()
            for i, rid in zip(
                cand["_li"].to_numpy(), cand["polygon_id"].to_numpy()
            ):
                if geom.geometry_intersects(geoms[i], rgeo(rid)):
                    out_l.append(lids[i])
                    out_r.append(rid)
            yield pd.DataFrame({left_id: out_l, right_id_out: out_r})

    probe_cols = [left_id, "geometry"] + (
        ["crs"] if "crs" in left.columns else []
    )
    probe = left.select(*probe_cols)
    return probe.mapInPandas(
        run, schema=f"{left_id} string, {right_id_out} string"
    )


def _normalize_layer_df(df: DataFrame) -> DataFrame:
    """Distributed CRS normalization of a polygon layer DataFrame:
    identity unless a ``crs`` column is present (then Tokyo rows are
    Helmert-reprojected per Arrow batch, structure-preserving)."""
    if "crs" not in df.columns:
        return df
    schema = df.schema

    def norm(batches):
        for pdf in batches:
            yield normalize_polygons(pdf)

    return df.mapInPandas(norm, schema=schema)


def polygon_overlap_join_shuffle(
    left: DataFrame,
    right: DataFrame,
    scheme: str = "grid",
    res: int | None = None,
    left_id: str = "polygon_id",
    right_id: str = "polygon_id",
    right_id_out: str = "other_id",
) -> DataFrame:
    """Polygon × polygon intersects join for TWO distributed layers —
    the shape for when neither side fits a broadcast (nation-scale ×
    nation-scale). Both layers are covered distributed
    (``polygon_cover_df``), candidates come from a shuffle equi-join
    on cell + distinct pair dedup, and the exact refine joins each
    pair back to its two geometries before one ``mapInPandas`` pass.

    Shuffle budget (the honest cost of big × big): cover equi-join,
    pair distinct, and two geometry re-joins — all on (id, cell) /
    (id, id) rows, never geometry bytes through the candidate join.
    Hot cells (dense metro areas) can skew the cell join: AQE skew
    handling applies, and lowering ``res`` bounds per-cell fan-out.
    Prefer ``polygon_overlap_join`` whenever one side broadcasts.
    """
    from .cells import polygon_cover_df

    res = res if res is not None else DEFAULT_RES[scheme]
    lnorm = _normalize_layer_df(left).select(left_id, "geometry")
    rnorm = _normalize_layer_df(right).select(
        F.col(right_id).alias("_rid"), "geometry"
    )
    lcov = polygon_cover_df(lnorm, scheme, res, id_col=left_id)
    rcov = polygon_cover_df(rnorm, scheme, res, id_col="_rid")
    pairs = (
        lcov.join(rcov, "cell")
        .select(left_id, "_rid")
        .distinct()
    )
    withgeo = (
        pairs.join(lnorm.withColumnRenamed("geometry", "_lg"), left_id)
        .join(rnorm.withColumnRenamed("geometry", "_rg"), "_rid")
    )

    def refine(batches):
        # Per batch: parse each DISTINCT geometry once (pairs replicate
        # the same polygon across many rows — re-parsing per pair was
        # the slowest loop in the repo at big×big candidate counts),
        # then a vectorized bbox prefilter across ALL pairs so the
        # exact segment kernel runs only on bbox-overlapping pairs.
        for pdf in batches:
            if pdf.empty:
                continue
            lids = pdf[left_id].to_numpy()
            rids = pdf["_rid"].to_numpy()
            lgv = pdf["_lg"].to_numpy()
            rgv = pdf["_rg"].to_numpy()
            lgeo: dict = {}
            rgeo: dict = {}
            lb: dict = {}
            rb: dict = {}
            for i in range(len(pdf)):
                k = lids[i]
                if k not in lgeo:
                    g = wkb.loads(bytes(lgv[i]))
                    lgeo[k] = g
                    lb[k] = g.bounds()
                k = rids[i]
                if k not in rgeo:
                    g = wkb.loads(bytes(rgv[i]))
                    rgeo[k] = g
                    rb[k] = g.bounds()
            lbb = np.array([lb[k] for k in lids], dtype=np.float64)
            rbb = np.array([rb[k] for k in rids], dtype=np.float64)
            cand = ~(
                (lbb[:, 2] < rbb[:, 0])
                | (rbb[:, 2] < lbb[:, 0])
                | (lbb[:, 3] < rbb[:, 1])
                | (rbb[:, 3] < lbb[:, 1])
            )
            keep = np.zeros(len(pdf), dtype=bool)
            for i in np.nonzero(cand)[0]:
                keep[i] = geom.geometry_intersects(
                    lgeo[lids[i]], rgeo[rids[i]]
                )
            yield pdf.loc[keep, [left_id, "_rid"]]

    out = withgeo.mapInPandas(
        refine, schema=f"{left_id} string, _rid string"
    )
    return out.withColumnRenamed("_rid", right_id_out)


def polygon_overlay_join(
    left: DataFrame,
    clips_pdf: pd.DataFrame,
    scheme: str = "grid",
    res: int | None = None,
    left_id: str = "polygon_id",
    clip_id: str = "polygon_id",
    right_id_out: str = "other_id",
    area_col: str = "intersection_area",
) -> DataFrame:
    """Overlay join: for every (left polygon, clip polygon) pair with
    positive intersection area, emit ``(left_id, right_id_out,
    intersection_area)``. The clip side must be broadcast-small and
    CONVEX (validated up front — Sutherland-Hodgman precondition,
    geo/geom.py::intersection_area_convex_clip); the left side may be
    concave, holed, or multi-part. Same zero-shuffle plan shape as
    ``polygon_overlap_join``: cell-cover candidates per Arrow batch,
    exact clipping only on cell-colocated pairs."""
    from .cells import cover_fn

    res = res if res is not None else DEFAULT_RES[scheme]
    spark = left.sparkSession
    clips = normalize_polygons(clips_pdf)
    parsed_clips = {
        row[clip_id]: wkb.loads(bytes(row["geometry"]))
        for _, row in clips.iterrows()
    }
    for cid, g in parsed_clips.items():
        if g.kind != wkb.POLYGON or len(g.coords) != 1 or not geom._is_convex_ring(
            g.coords[0]
        ):
            raise geom.ConvexClipError(
                f"clip polygon {cid!r} must be a convex single-ring Polygon"
            )
    ccover = polygon_cover_pdf(clips, scheme, res, id_col=clip_id)
    ccover = ccover.rename(columns={clip_id: "_cid"})
    ccover_b = spark.sparkContext.broadcast(ccover)
    cgeo_b = spark.sparkContext.broadcast(
        {cid: wkb.dumps(g) for cid, g in parsed_clips.items()}
    )
    cov = cover_fn(scheme, res)

    def run(batches):
        ccov = ccover_b.value
        cgeos = {k: wkb.loads(v) for k, v in cgeo_b.value.items()}
        for pdf in batches:
            pdf = normalize_polygons(pdf)
            if pdf.empty:
                continue
            geoms = [wkb.loads(bytes(b)) for b in pdf["geometry"]]
            covers = [cov(g) for g in geoms]
            li = np.repeat(np.arange(len(geoms)), [len(c) for c in covers])
            cand = (
                pd.DataFrame(
                    {
                        "_li": li,
                        "cell": np.concatenate(covers)
                        if covers
                        else np.array([], dtype=np.int64),
                    }
                )
                .merge(ccov, on="cell", sort=False)[["_li", "_cid"]]
                .drop_duplicates()
            )
            lids = pdf[left_id].to_numpy()
            out_l, out_r, out_a = [], [], []
            for i, cid in zip(
                cand["_li"].to_numpy(), cand["_cid"].to_numpy()
            ):
                a = geom.intersection_area_convex_clip(geoms[i], cgeos[cid])
                if a > 0.0:
                    out_l.append(lids[i])
                    out_r.append(cid)
                    out_a.append(a)
            yield pd.DataFrame(
                {left_id: out_l, right_id_out: out_r, area_col: out_a}
            )

    probe_cols = [left_id, "geometry"] + (
        ["crs"] if "crs" in left.columns else []
    )
    return left.select(*probe_cols).mapInPandas(
        run,
        schema=f"{left_id} string, {right_id_out} string, {area_col} double",
    )


def idw_interpolate(
    targets: DataFrame,
    stations: DataFrame,
    radius: float,
    power: float = 2.0,
    min_stations: int = 1,
    res: int | None = None,
    target_id: str = "target_id",
    station_id: str = "station_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    value_col: str = "value",
) -> DataFrame:
    """Inverse-distance-weighted interpolation (Shepard 1968, public):
    every target gets sum(v_i/d_i^p)/sum(1/d_i^p) over the stations
    within ``radius`` (planar degrees); targets with fewer than
    ``min_stations`` in range are dropped (the auditable no-coverage
    lane). Emits (target_id, n_stations, idw_value), idw_value rounded
    to 6 decimals (weight-sum order noise ~1e-15).

    Fully relational — zero Python in the plan:

    1. pick the finest grid resolution whose cell edge >= radius, so
       a station within ``radius`` of a target is ALWAYS in the
       target's 3x3 cell neighborhood (exactness guarantee of the
       prune);
    2. stations explode into their 9 neighbor cells (9x blowup on the
       SMALL side — the station layer; the target side, the big one at
       100 TB, gets one cell id in codegen and never duplicates);
    3. one equi-join on the packed cell key + the exact d^2 <= r^2
       refine (no sqrt needed), then a per-target aggregation — keyed
       on the target id, so no global hot key. A station-dense cell is
       the ordinary AQE skew-join case.

    ``power=2`` (the default and the common choice) needs no libm at
    all: w = 1/max(d^2, eps) — pure +,*,/ so the weights are
    bit-identical across engines; other powers use pow(d^2, p/2).
    ``eps`` floors exact hits (d=0): a station closer than ~1e-9 deg
    (~0.1 mm) dominates the sum, the documented behavior.
    """
    import math

    if res is None:
        res = int(math.floor(math.log2(360.0 / radius)))
    res = max(0, min(res, 28))
    size = 360.0 / (1 << res)
    if size < radius:
        raise ValueError(
            f"grid res {res} has cell edge {size} < radius {radius}: "
            "the 3x3 prune would miss in-range stations"
        )

    def ij(lon, lat):
        i = F.floor((lon + F.lit(180.0)) / F.lit(size)).cast("long")
        j = F.floor((lat + F.lit(90.0)) / F.lit(size)).cast("long")
        return i, j

    ti, tj = ij(F.col(lon_col), F.col(lat_col))
    t = targets.select(
        F.col(target_id),
        F.col(lon_col).alias("t_lon"),
        F.col(lat_col).alias("t_lat"),
        (ti * F.lit(1 << 31) + tj).alias("_cell"),
    )
    si, sj = ij(F.col(lon_col), F.col(lat_col))
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    s = stations.select(
        F.col(station_id),
        F.col(lon_col).alias("s_lon"),
        F.col(lat_col).alias("s_lat"),
        F.col(value_col).alias("_v"),
        si.alias("_si"),
        sj.alias("_sj"),
        F.explode(offsets).alias("_o"),
    ).select(
        station_id,
        "s_lon",
        "s_lat",
        "_v",
        (
            (F.col("_si") + F.col("_o.di")) * F.lit(1 << 31)
            + (F.col("_sj") + F.col("_o.dj"))
        ).alias("_cell"),
    )
    dx = F.col("t_lon") - F.col("s_lon")
    dy = F.col("t_lat") - F.col("s_lat")
    d2 = dx * dx + dy * dy
    eps = F.lit(1e-18)
    if power == 2.0:
        w = F.lit(1.0) / F.greatest(d2, eps)
    else:
        w = F.lit(1.0) / F.greatest(
            F.pow(d2, F.lit(float(power) / 2.0)), eps
        )
    return (
        t.join(s, "_cell")
        .filter(d2 <= F.lit(float(radius) * float(radius)))
        .groupBy(target_id)
        .agg(
            F.count(F.lit(1)).alias("n_stations"),
            F.round(F.sum(w * F.col("_v")) / F.sum(w), 6).alias("idw_value"),
        )
        .filter(F.col("n_stations") >= F.lit(int(min_stations)))
    )


def focal_mean(
    cells_df: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "value",
    include_center: bool = True,
) -> DataFrame:
    """Focal (neighborhood) statistics over a sparse grid raster — the
    map-algebra smoothing pass (Tomlin 1990, public): every PRESENT
    cell gets the mean of ``value_col`` over the existing cells of its
    3x3 Moore neighborhood. Absent neighbors contribute nothing (sparse
    semantics — the mean is over cells that exist, the usual choice for
    incomplete coverages). Emits (cell, n_neighbors, focal_mean),
    rounded to 6 decimals.

    Fully relational scatter-gather, zero Python: each input cell
    scatters its value to its 9 (or 8) neighbor centers by integer
    cell-id arithmetic (the grid id packs res/i/j in one long —
    cells.with_cell's encoding), ONE groupBy on the neighbor center
    (map-side combinable), then a semi-join back to the present cells
    so absent centers never materialize. Both exchanges key on cell
    ids — uniform by construction; at 100 TB this is two shuffles of
    (8-byte key, partial sum) pairs, never the raster itself.
    """
    base = F.lit(int(res)) * F.lit(1 << 58)
    # exact integer decode: i/j are non-negative by construction
    # (with_cell packs floor((lon+180)/size) etc.), so a right shift
    # and a modulo recover them bit-exactly — double division would
    # lose precision above 2^53
    i = F.shiftright(F.col(cell_col) - base, 29)
    j = F.col(cell_col) % F.lit(1 << 29)
    deltas = [
        (di, dj)
        for di in (-1, 0, 1)
        for dj in (-1, 0, 1)
        if include_center or (di, dj) != (0, 0)
    ]
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di, dj in deltas]
    )
    scattered = cells_df.select(
        F.col(value_col).alias("_v"),
        i.alias("_i"),
        j.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        (
            base
            + (F.col("_i") + F.col("_o.di")) * F.lit(1 << 29)
            + (F.col("_j") + F.col("_o.dj"))
        ).alias(cell_col),
        "_v",
    )
    agg = scattered.groupBy(cell_col).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.round(F.avg("_v"), 6).alias("focal_mean"),
    )
    return agg.join(cells_df.select(cell_col).distinct(), cell_col)


def morans_i(
    cells_df: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Global Moran's I spatial autocorrelation (Moran 1950, public)
    over a sparse grid raster with binary 8-neighbor (Moore) adjacency
    weights: I = (n/S0) * sum_ij w_ij (x_i - xbar)(x_j - xbar) /
    sum_i (x_i - xbar)^2, S0 counting DIRECTED adjacent pairs (the
    symmetric standard). Emits ONE row (n, s0, morans_i), the statistic
    rounded to 6 decimals (mean/sum order noise ~1e-14). I > 0 means
    clustered values, < 0 dispersed, ~ -1/(n-1) random.

    Scale shape mirrors :func:`focal_mean`: the adjacency never
    materializes as a matrix — each cell scatters to its 8 neighbor
    centers by exact integer cell-id arithmetic and ONE equi-join to
    the present cells yields the (x_i, x_j) pairs; everything else is
    two scalar aggregations. The only driver collect is (n, xbar) —
    two numbers, the documented bounded-scalar pattern. Input is the
    aggregated raster (one row per cell), so the exchanges move 8-byte
    keys plus one double.
    """
    stats = cells_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).alias("xbar"),
        F.var_pop(value_col).alias("_var"),
    ).collect()[0]
    if int(stats["n"]) < 2:
        raise ValueError(
            f"morans_i needs at least 2 cells (got {int(stats['n'])})"
        )
    if not (float(stats["_var"] or 0.0) > 0.0):
        raise ValueError(
            "morans_i is undefined on a constant surface "
            "(zero variance denominator)"
        )
    n, xbar = int(stats["n"]), float(stats["xbar"])
    base = F.lit(int(res)) * F.lit(1 << 58)
    i = F.shiftright(F.col(cell_col) - base, 29)
    j = F.col(cell_col) % F.lit(1 << 29)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)]
    )
    scattered = cells_df.select(
        F.col(value_col).alias("_xi"),
        i.alias("_i"),
        j.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_xi",
        (
            base
            + (F.col("_i") + F.col("_o.di")) * F.lit(1 << 29)
            + (F.col("_j") + F.col("_o.dj"))
        ).alias(cell_col),
    )
    pairs = scattered.join(
        cells_df.select(cell_col, F.col(value_col).alias("_xj")), cell_col
    )
    num = pairs.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum(
            (F.col("_xi") - F.lit(xbar)) * (F.col("_xj") - F.lit(xbar))
        ).alias("num"),
    )
    den = cells_df.agg(
        F.sum(
            (F.col(value_col) - F.lit(xbar))
            * (F.col(value_col) - F.lit(xbar))
        ).alias("den")
    )
    return num.crossJoin(den).select(
        F.lit(n).cast("long").alias("n"),
        F.col("s0"),
        F.round(
            (F.lit(float(n)) / F.col("s0")) * F.col("num") / F.col("den"), 6
        ).alias("morans_i"),
    )


def local_morans_i(
    cells_df: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Local Moran's I (LISA — Anselin 1995, public): per-cell hotspot
    statistic I_i = ((x_i - xbar)/m2) * sum_{j in nbr(i)} (x_j - xbar)
    with m2 = sum_k (x_k - xbar)^2 / n and binary Moore adjacency.
    High positive I_i = a high (or low) value surrounded by the same —
    the hotspot/coldspot detector that pairs with the global
    :func:`morans_i`. Emits (cell, n_neighbors, local_i) for every
    present cell with at least one present neighbor, rounded to 6
    decimals.

    Scale shape is :func:`focal_mean`'s scatter-gather — the neighbor
    deviation sum is ONE map-side-combinable groupBy after the
    8-offset scatter, joined back to the present cells; (n, xbar, m2)
    are a bounded three-scalar driver collect.
    """
    stats = cells_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).alias("xbar"),
        F.var_pop(value_col).alias("m2"),
    ).collect()[0]
    xbar, m2 = float(stats["xbar"]), float(stats["m2"])
    base = F.lit(int(res)) * F.lit(1 << 58)
    i = F.shiftright(F.col(cell_col) - base, 29)
    j = F.col(cell_col) % F.lit(1 << 29)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)]
    )
    scattered = cells_df.select(
        (F.col(value_col) - F.lit(xbar)).alias("_zj"),
        i.alias("_i"),
        j.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        (
            base
            + (F.col("_i") + F.col("_o.di")) * F.lit(1 << 29)
            + (F.col("_j") + F.col("_o.dj"))
        ).alias(cell_col),
        "_zj",
    )
    nbr = scattered.groupBy(cell_col).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum("_zj").alias("_zsum"),
    )
    return (
        cells_df.select(cell_col, F.col(value_col).alias("_x"))
        .join(nbr, cell_col)
        .select(
            cell_col,
            "n_neighbors",
            F.round(
                (F.col("_x") - F.lit(xbar)) / F.lit(m2) * F.col("_zsum"), 6
            ).alias("local_i"),
        )
    )


def getis_ord_gi_star(
    cells_df: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Getis-Ord Gi* hotspot z-score (Getis & Ord 1992/1995, public;
    the "hot spot analysis" tool of desktop GIS) over a sparse grid
    raster with binary Moore weights INCLUDING self (the * variant):

        Gi* = (S_i - xbar*W_i) / (s * sqrt((n*W_i - W_i^2)/(n-1)))

    with S_i the value sum over the 3x3 neighborhood, W_i the count of
    present cells in it, xbar/s the global mean and population-sd.
    |Gi*| > 1.96 flags 5%-significant hot/cold spots. Emits
    (cell, w_i, gi_star) rounded to 6 decimals.

    Same scatter-gather shape as :func:`focal_mean` (self included in
    the offsets); (n, xbar, s) are the bounded scalar collect.
    """
    stats = cells_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).alias("xbar"),
        F.stddev_pop(value_col).alias("s"),
    ).collect()[0]
    n = int(stats["n"])
    xbar, s = float(stats["xbar"]), float(stats["s"])
    base = F.lit(int(res)) * F.lit(1 << 58)
    i = F.shiftright(F.col(cell_col) - base, 29)
    j = F.col(cell_col) % F.lit(1 << 29)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    scattered = cells_df.select(
        F.col(value_col).alias("_v"),
        i.alias("_i"),
        j.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        (
            base
            + (F.col("_i") + F.col("_o.di")) * F.lit(1 << 29)
            + (F.col("_j") + F.col("_o.dj"))
        ).alias(cell_col),
        "_v",
    )
    nbr = scattered.groupBy(cell_col).agg(
        F.count(F.lit(1)).alias("w_i"), F.sum("_v").alias("_si")
    )
    denom = F.lit(s) * F.sqrt(
        (F.lit(float(n)) * F.col("w_i") - F.col("w_i") * F.col("w_i"))
        / F.lit(float(n - 1))
    )
    return (
        cells_df.select(cell_col)
        .join(nbr, cell_col)
        .select(
            cell_col,
            "w_i",
            F.round(
                (F.col("_si") - F.lit(xbar) * F.col("w_i")) / denom, 6
            ).alias("gi_star"),
        )
    )


def geary_c(
    cells_df: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Global Geary's C spatial autocorrelation (Geary 1954, public)
    over a sparse grid raster with binary Moore (8-neighbor) weights:

        C = (n-1) * sum_ij w_ij (x_i - x_j)^2
            / (2 * S0 * sum_i (x_i - xbar)^2)

    The local-difference complement to :func:`morans_i` (C < 1
    clustered, > 1 dispersed, ~1 random; C is sensitive to
    neighbor-level contrast where I is to global covariance). Emits
    ONE row (n, s0, geary_c) rounded to 6 decimals.

    Identical scale shape to :func:`morans_i`: 8-offset integer
    cell-id scatter + one equi-join against present cells — the
    weight matrix never materializes; (n, xbar) is the bounded
    two-scalar driver collect; input is the already-aggregated
    raster so every exchange moves (8-byte id, double) pairs.
    """
    stats = cells_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).alias("xbar"),
        F.var_pop(value_col).alias("_var"),
    ).collect()[0]
    n = int(stats["n"])
    if n < 2:
        raise ValueError(f"geary_c needs at least 2 cells (got {n})")
    if not (float(stats["_var"] or 0.0) > 0.0):
        raise ValueError(
            "geary_c is undefined on a constant surface "
            "(zero variance denominator)"
        )
    xbar = float(stats["xbar"])
    base = F.lit(int(res)) * F.lit(1 << 58)
    i = F.shiftright(F.col(cell_col) - base, 29)
    j = F.col(cell_col) % F.lit(1 << 29)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)]
    )
    scattered = cells_df.select(
        F.col(value_col).alias("_xi"),
        i.alias("_i"),
        j.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_xi",
        (
            base
            + (F.col("_i") + F.col("_o.di")) * F.lit(1 << 29)
            + (F.col("_j") + F.col("_o.dj"))
        ).alias(cell_col),
    )
    pairs = scattered.join(
        cells_df.select(cell_col, F.col(value_col).alias("_xj")), cell_col
    )
    num = pairs.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum(
            (F.col("_xi") - F.col("_xj")) * (F.col("_xi") - F.col("_xj"))
        ).alias("num"),
    )
    den = cells_df.agg(
        F.sum(
            (F.col(value_col) - F.lit(xbar))
            * (F.col(value_col) - F.lit(xbar))
        ).alias("den")
    )
    return num.crossJoin(den).select(
        F.lit(n).cast("long").alias("n"),
        F.col("s0"),
        F.round(
            F.lit(float(n - 1))
            * F.col("num")
            / (F.lit(2.0) * F.col("s0") * F.col("den")),
            6,
        ).alias("geary_c"),
    )


def ripley_k(
    points: DataFrame,
    radii: list[float],
    area: float,
    x_col: str = "lon",
    y_col: str = "lat",
    id_col: str = "image_id",
) -> DataFrame:
    """Ripley's K point-pattern statistic (Ripley 1977, public) at the
    given radii, planar coordinates, no edge correction (the "raw"
    K̂(r) = area/(n(n-1)) * #{ordered pairs with d <= r}):
    one row per radius — (r, n_pairs [unordered], k_hat round 6),
    K̂(r) > pi*r^2 means clustering at range r, < means inhibition.

    Scale shape: the all-pairs distance matrix never exists. Points
    are bucketed into square cells of side max(radii); the probe side
    keys on its OWN cell while the build side scatters to its 3x3
    neighborhood (the IDW/focal scatter-gather shape) — every pair
    within max(radii) lands in exactly one (cell, di, dj) bucket, so
    the candidate join is a plain equi-join on two ints with
    candidate count ~ n * density, not n^2. One conditional
    aggregation (sum(d2 <= r^2) per radius) over the candidates ends
    the job. Dedup-by-construction: the unordered pair (a, b) appears
    once (id_a < id_b filter on the single scatter direction).

    The cell side is max(radii) * (1 + 1e-9): the epsilon guarantees
    a pair at EXACTLY max(radii) can never straddle two cells under
    FP division rounding — the oracle is a brute-force cross join, so
    a dropped boundary pair would hash-mismatch.

    Bounded driver collect: (n,) one scalar. `radii` is a plan-time
    Python list (one aggregate column each), never data.
    """
    if not radii:
        raise ValueError("ripley_k needs at least one radius")
    if any(float(r) <= 0 for r in radii):
        raise ValueError(f"every radius must be positive, got {radii}")
    rmax = float(max(radii))
    n = points.count()
    if n < 2:
        raise ValueError(
            f"ripley_k needs at least 2 points (got {n}): "
            "K̂'s 1/(n(n-1)) normalizer is undefined"
        )
    cell = rmax * (1.0 + 1e-9)
    ci = F.floor(F.col(x_col) / F.lit(cell))
    cj = F.floor(F.col(y_col) / F.lit(cell))
    left = points.select(
        F.col(id_col).alias("_ida"),
        F.col(x_col).alias("_xa"),
        F.col(y_col).alias("_ya"),
        ci.alias("_ci"),
        cj.alias("_cj"),
    )
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    right = points.select(
        F.col(id_col).alias("_idb"),
        F.col(x_col).alias("_xb"),
        F.col(y_col).alias("_yb"),
        ci.alias("_bi"),
        cj.alias("_bj"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_idb",
        "_xb",
        "_yb",
        (F.col("_bi") + F.col("_o.di")).alias("_ci"),
        (F.col("_bj") + F.col("_o.dj")).alias("_cj"),
    )
    d2 = (
        (F.col("_xa") - F.col("_xb")) * (F.col("_xa") - F.col("_xb"))
        + (F.col("_ya") - F.col("_yb")) * (F.col("_ya") - F.col("_yb"))
    )
    cand = (
        left.join(right, ["_ci", "_cj"])
        .filter(F.col("_ida") < F.col("_idb"))
        .select(d2.alias("_d2"))
    )
    aggs = cand.agg(
        *[
            F.sum(
                (F.col("_d2") <= F.lit(float(r) * float(r))).cast("long")
            ).alias(f"_c{k}")
            for k, r in enumerate(radii)
        ]
    )
    # unpivot the one-row aggregate into (r, n_pairs, k_hat) rows
    stack_expr = ", ".join(
        f"CAST({float(r)!r} AS DOUBLE), _c{k}" for k, r in enumerate(radii)
    )
    return aggs.selectExpr(
        f"stack({len(radii)}, {stack_expr}) AS (r, n_pairs)"
    ).select(
        "r",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.round(
            F.lit(float(area))
            * F.lit(2.0)
            * F.coalesce("n_pairs", F.lit(0))
            / F.lit(float(n) * float(n - 1)),
            6,
        ).alias("k_hat"),
    )


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "image_id",
    x_col: str = "lon",
    y_col: str = "lat",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact distributed DBSCAN (Ester et al. 1996, public), planar
    coordinates. One row per input point: (id, cluster, is_core,
    n_nbrs). ``n_nbrs`` counts eps-neighbors INCLUDING the point
    itself (an isolated point has n_nbrs = 1 — the textbook
    |N_eps(p)| with p in its own neighborhood); ``is_core`` =
    n_nbrs >= min_pts; ``cluster`` is the MINIMUM core-point id of
    the point's cluster — a deterministic canonical label any engine
    reproduces (the DuckDB oracle replays it with a recursive CTE).
    Border points (non-core within eps of >= 1 core) take the minimum
    cluster label among their in-range cores — the deterministic
    resolution of DBSCAN's only scan-order-dependent choice. Noise
    points keep the empty-string cluster (NULL for non-string ids) —
    auditable, never silently dropped.

    Scale shape — the n^2 distance matrix never exists:

    1. points bucket into square cells of side eps*(1+1e-9); the
       epsilon guarantees a pair at EXACTLY eps cannot straddle the
       3x3 neighborhood under FP division rounding (the brute-force
       oracle would hash-mismatch on one dropped boundary pair);
    2. the probe side keys on its own cell, the build side scatters
       to its 3x3 neighborhood (the IDW/Ripley scatter-gather): the
       candidate join is a two-int equi-join with ~ n * density
       candidates, the exact d2 <= eps^2 refine fused into it. A
       dense urban core is the ordinary AQE skew case on the cell
       key;
    3. neighbor counts are ONE map-side-combinable groupBy; core-core
       edges (self-pairs keep singleton cores present) feed
       :func:`~ksj2gp_spark.operators.graph.connected_components`
       (pointer-jumping contraction, O(log n) rounds); border labels
       are one more groupBy(min). Labels shuffle as (id, label)
       pairs only — geometry never rides the graph stage.

    The pair frame is lazily ``localCheckpoint``-ed so its three
    consumers (counts, core edges, border labels) reuse one
    materialization instead of recomputing the candidate join.
    ``checkpoint_dir``: when set, the pair frame AND the CC rounds use
    reliable ``checkpoint()`` into that shared directory instead, so
    an executor loss mid-job replays from files rather than failing
    (see graph._checkpointer; crash-injection-tested).
    """
    if eps <= 0:
        raise ValueError("eps must be positive")
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    from .graph import _checkpointer, connected_components

    cell = float(eps) * (1.0 + 1e-9)
    ci = F.floor(F.col(x_col) / F.lit(cell))
    cj = F.floor(F.col(y_col) / F.lit(cell))
    left = points.select(
        F.col(id_col).alias("_ida"),
        F.col(x_col).alias("_xa"),
        F.col(y_col).alias("_ya"),
        ci.alias("_ci"),
        cj.alias("_cj"),
    )
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    right = points.select(
        F.col(id_col).alias("_idb"),
        F.col(x_col).alias("_xb"),
        F.col(y_col).alias("_yb"),
        ci.alias("_bi"),
        cj.alias("_bj"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_idb",
        "_xb",
        "_yb",
        (F.col("_bi") + F.col("_o.di")).alias("_ci"),
        (F.col("_bj") + F.col("_o.dj")).alias("_cj"),
    )
    d2 = (
        (F.col("_xa") - F.col("_xb")) * (F.col("_xa") - F.col("_xb"))
        + (F.col("_ya") - F.col("_yb")) * (F.col("_ya") - F.col("_yb"))
    )
    pairs = (
        left.join(right, ["_ci", "_cj"])
        .filter(d2 <= F.lit(float(eps) * float(eps)))
        .select("_ida", "_idb")
    )
    if checkpoint_dir is None:
        pairs = pairs.localCheckpoint(eager=False)
    else:
        pairs = _checkpointer(points.sparkSession, checkpoint_dir)(pairs)
    cnt = pairs.groupBy("_ida").agg(F.count(F.lit(1)).alias("n_nbrs"))
    cores = cnt.filter(F.col("n_nbrs") >= F.lit(int(min_pts))).select(
        F.col("_ida").alias("_core")
    )
    core_edges = pairs.join(
        cores, pairs["_ida"] == cores["_core"], "left_semi"
    )
    core_edges = core_edges.join(
        cores, core_edges["_idb"] == cores["_core"], "left_semi"
    )
    comp = connected_components(
        core_edges, src="_ida", dst="_idb", checkpoint_dir=checkpoint_dir
    )
    nbr_label = (
        pairs.join(
            comp.select(
                F.col("node").alias("_idb"),
                F.col("component").alias("_c"),
            ),
            "_idb",
        )
        .groupBy("_ida")
        .agg(F.min("_c").alias("_bl"))
    )
    return (
        cnt.join(
            comp.select(
                F.col("node").alias("_ida"),
                F.col("component").alias("_cc"),
            ),
            "_ida",
            "left",
        )
        .join(nbr_label, "_ida", "left")
        .select(
            F.col("_ida").alias(id_col),
            (
                F.coalesce("_cc", "_bl", F.lit(""))
                if points.schema[id_col].dataType.simpleString() == "string"
                else F.coalesce("_cc", "_bl")
            ).alias("cluster"),
            (F.col("n_nbrs") >= F.lit(int(min_pts))).alias("is_core"),
            "n_nbrs",
        )
    )


def kde_heatmap(
    points: DataFrame,
    bandwidth: float,
    cell_size: float,
    x_col: str = "lon",
    y_col: str = "lat",
    weight_col: str | None = None,
) -> DataFrame:
    """Sparse-grid kernel-density heatmap (Epanechnikov kernel,
    public textbook statistic): every point splats
    w * max(0, 1 - d^2/h^2) onto each grid-cell CENTER strictly
    within bandwidth ``h``; emits one row per touched cell —
    (cell_x, cell_y, n_pts, kde), kde rounded to 6 decimals.
    ``kde`` is the raw kernel sum (the caller applies the
    normalization constant — it cancels in any argmax/thresholding
    use and keeps the arithmetic pure +,*,/ so any engine replays it
    bit-for-bit). Cells no point reaches never materialize: the
    raster stays sparse, sized by the data, not the domain.

    Scale shape — splatting, the reverse of the IDW gather:

    1. each point gets its integer cell (i, j) by one codegen'd
       floor; the splat radius R = ceil(h/cell_size) is a PLAN-TIME
       constant, so the per-point blowup is the fixed (2R+1)^2
       offset array (capped at R <= 8; a wider kernel wants a
       coarser grid, not a 1000-way explode);
    2. the exact d^2 < h^2 refine runs in the same codegen'd
       projection — rows that miss the kernel support never reach
       the exchange;
    3. ONE map-side-combinable groupBy on the packed cell id ends
       the job: the exchange moves (8-byte id, partial sum, partial
       count) — at 100 TB the splat never shuffles raw points, only
       pre-aggregated cell partials.

    No driver collect at all (the one operator in this family with
    zero scalar collects — the kernel sum needs no global moments).
    """
    if bandwidth <= 0:
        raise ValueError("bandwidth must be positive")
    if cell_size <= 0:
        raise ValueError("cell_size must be positive")
    import math

    radius = int(math.ceil(float(bandwidth) / float(cell_size)))
    if radius > 8:
        raise ValueError(
            f"splat radius {radius} cells > 8: widen cell_size or "
            "shrink bandwidth (a (2R+1)^2 explode must stay bounded)"
        )
    s = float(cell_size)
    h2 = float(bandwidth) * float(bandwidth)
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    pi = F.floor((F.col(x_col) + F.lit(180.0)) / F.lit(s)).cast("long")
    pj = F.floor((F.col(y_col) + F.lit(90.0)) / F.lit(s)).cast("long")
    offsets = F.array(
        *[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di in range(-radius, radius + 1)
            for dj in range(-radius, radius + 1)
        ]
    )
    splat = points.select(
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
        w.alias("_w"),
        pi.alias("_i"),
        pj.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_x",
        "_y",
        "_w",
        (F.col("_i") + F.col("_o.di")).alias("_ci"),
        (F.col("_j") + F.col("_o.dj")).alias("_cj"),
    )
    cx = (F.col("_ci") + F.lit(0.5)) * F.lit(s) - F.lit(180.0)
    cy = (F.col("_cj") + F.lit(0.5)) * F.lit(s) - F.lit(90.0)
    d2 = (F.col("_x") - cx) * (F.col("_x") - cx) + (
        F.col("_y") - cy
    ) * (F.col("_y") - cy)
    return (
        splat.withColumn("_d2", d2)
        .filter(F.col("_d2") < F.lit(h2))
        .groupBy("_ci", "_cj")
        .agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.round(
                F.sum(
                    F.col("_w")
                    * (F.lit(1.0) - F.col("_d2") / F.lit(h2))
                ),
                6,
            ).alias("kde"),
        )
        .select(
            ((F.col("_ci") + F.lit(0.5)) * F.lit(s) - F.lit(180.0)).alias(
                "cell_x"
            ),
            ((F.col("_cj") + F.lit(0.5)) * F.lit(s) - F.lit(90.0)).alias(
                "cell_y"
            ),
            "n_pts",
            "kde",
        )
    )


def stay_points(
    pings: DataFrame,
    max_step: float,
    min_pings: int = 2,
    min_duration_us: int = 0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Trajectory stay-point (stop) detection — the spatial
    gaps-and-islands: a stay is a MAXIMAL run of a user's
    time-consecutive pings where each step to the previous ping is
    <= ``max_step`` (planar distance); runs shorter than
    ``min_pings`` pings or ``min_duration_us`` microseconds are
    dropped. Emits one row per stay — (user, stay_seq, n_pings,
    start_ts, end_ts, duration_us, cx, cy) with the centroid rounded
    to 6 decimals (summation-order canon) and duration in exact
    integer microseconds. The step rule (distance to the PREVIOUS
    ping, not to the stay anchor) makes the segmentation a pure
    window computation — order-deterministic given unique (user, ts)
    pairs, which the caller must guarantee.

    The temporal complement of sessionization (events' time-gap
    islands): here the island boundary is a SPATIAL jump. Scale
    shape: ONE shuffle on the user key; both window passes (lag +
    running segment count) and the final groupBy ride the same
    partitioning; per-task memory is bounded by a single user's ping
    count. All codegen'd expressions — no UDF, no driver collect.
    """
    from pyspark.sql import Window

    if max_step <= 0:
        raise ValueError("max_step must be positive")
    w = Window.partitionBy(user_col).orderBy(ts_col)
    px = F.lag(x_col).over(w)
    py = F.lag(y_col).over(w)
    step2 = (F.col(x_col) - px) * (F.col(x_col) - px) + (
        F.col(y_col) - py
    ) * (F.col(y_col) - py)
    new_seg = F.when(
        px.isNull() | (step2 > F.lit(float(max_step) ** 2)), 1
    ).otherwise(0)
    seg = pings.withColumn("_seg", F.sum(new_seg).over(w))
    return (
        seg.groupBy(user_col, "_seg")
        .agg(
            F.count(F.lit(1)).alias("n_pings"),
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            (
                # cast handles TIMESTAMP_NTZ; the session-tz shift is
                # identical at both endpoints so the difference is exact
                F.unix_micros(F.max(ts_col).cast("timestamp"))
                - F.unix_micros(F.min(ts_col).cast("timestamp"))
            ).alias("duration_us"),
            F.round(F.avg(x_col), 6).alias("cx"),
            F.round(F.avg(y_col), 6).alias("cy"),
        )
        .filter(
            (F.col("n_pings") >= F.lit(int(min_pings)))
            & (F.col("duration_us") >= F.lit(int(min_duration_us)))
        )
        .select(
            user_col,
            F.col("_seg").alias("stay_seq"),
            "n_pings",
            "start_ts",
            "end_ts",
            "duration_us",
            "cx",
            "cy",
        )
    )


def od_matrix(
    pings: DataFrame,
    max_step: float,
    cell_size: float,
    min_pings: int = 2,
    min_duration_us: int = 0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Origin-destination flow matrix from raw trajectories — the
    classic mobility-analytics product: :func:`stay_points` segments
    each user's pings into stays, consecutive stays (by start time)
    form a trip, and trips aggregate into per-cell-pair flows.
    Emits (from_x, from_y, to_x, to_y, n_trips) where from/to are
    the ``cell_size`` grid-cell CENTERS containing the stay
    centroids (same-cell trips kept — an auditable "local move"
    flow, not silently dropped).

    Pure composition: the stay segmentation is stay_points verbatim
    (ONE user-key shuffle); the trip pairing is one more lag window
    over the SAME user partitioning (stays are user-bounded rows, so
    no new exchange of ping-sized data); the flow aggregation is a
    map-side-combinable groupBy on four small integers. Stay
    centroids are rounded to 6 decimals BEFORE cell assignment (the
    stay_points output contract), so the cell id is computed from
    engine-portable doubles.
    """
    from pyspark.sql import Window

    if cell_size <= 0:
        raise ValueError("cell_size must be positive")
    s = float(cell_size)
    stays = stay_points(
        pings,
        max_step=max_step,
        min_pings=min_pings,
        min_duration_us=min_duration_us,
        user_col=user_col,
        ts_col=ts_col,
        x_col=x_col,
        y_col=y_col,
    )
    ci = F.floor((F.col("cx") + F.lit(180.0)) / F.lit(s)).cast("long")
    cj = F.floor((F.col("cy") + F.lit(90.0)) / F.lit(s)).cast("long")
    w = Window.partitionBy(user_col).orderBy("start_ts")
    celled = stays.select(
        user_col, "start_ts", ci.alias("_ci"), cj.alias("_cj")
    ).select(
        user_col,
        F.lag("_ci").over(w).alias("_pi"),
        F.lag("_cj").over(w).alias("_pj"),
        "_ci",
        "_cj",
    )
    return (
        celled.filter(F.col("_pi").isNotNull())
        .groupBy("_pi", "_pj", "_ci", "_cj")
        .agg(F.count(F.lit(1)).alias("n_trips"))
        .select(
            ((F.col("_pi") + F.lit(0.5)) * F.lit(s) - F.lit(180.0)).alias(
                "from_x"
            ),
            ((F.col("_pj") + F.lit(0.5)) * F.lit(s) - F.lit(90.0)).alias(
                "from_y"
            ),
            ((F.col("_ci") + F.lit(0.5)) * F.lit(s) - F.lit(180.0)).alias(
                "to_x"
            ),
            ((F.col("_cj") + F.lit(0.5)) * F.lit(s) - F.lit(90.0)).alias(
                "to_y"
            ),
            "n_trips",
        )
    )


def emerging_hotspots(
    cells_df: DataFrame,
    res: int,
    cell_col: str = "cell",
    t_col: str = "t_bin",
    value_col: str = "value",
) -> DataFrame:
    """Emerging hot-spot analysis (the space-time composition of
    desktop GIS, public method: per-time-bin Getis-Ord Gi* z-scores +
    a Mann-Kendall monotone-trend test per cell). Input is a sparse
    (cell, t_bin, value) space-time raster; output one row per cell —
    (cell, n_bins, s_mk, trend) where s_mk = sum over bin pairs
    i < j of sign(z_j - z_i) (the exact-integer Mann-Kendall S) and
    trend is 'intensifying' / 'diminishing' / 'flat' by its sign.

    Determinism policy: the per-bin z-scores are rounded to 6
    decimals BEFORE the sign comparisons, so a cross-engine 1e-15
    summation difference can never flip a Mann-Kendall sign. Bins
    with fewer than 2 present cells or zero variance are dropped
    (degenerate Gi* denominator) — an explicit rule, not an NaN
    surprise.

    Scale shape: per-bin global stats are ONE map-side-combinable
    groupBy broadcast back (bins are few — a plan-time-scale
    dimension, never data-scale); the neighbor scatter is the
    focal/Gi* 8+self offset explode with t_bin riding the join key
    (so all bins process in ONE pass, not T jobs); the Mann-Kendall
    pair join is a self-equi-join on the cell id — T(T-1)/2 rows per
    cell with T = bins, a constant factor. No driver collect at all
    (the per-bin stats stay distributed, unlike single-raster
    gi_star's scalar collect).
    """
    stats = (
        cells_df.groupBy(t_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg(value_col).alias("_xbar"),
            F.stddev_pop(value_col).alias("_s"),
        )
        .filter((F.col("_n") >= 2) & (F.col("_s") > 0))
    )
    base = F.lit(int(res)) * F.lit(1 << 58)
    i = F.shiftright(F.col(cell_col) - base, 29)
    j = F.col(cell_col) % F.lit(1 << 29)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    scattered = cells_df.select(
        F.col(t_col).alias("_t"),
        F.col(value_col).alias("_v"),
        i.alias("_i"),
        j.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_t",
        (
            base
            + (F.col("_i") + F.col("_o.di")) * F.lit(1 << 29)
            + (F.col("_j") + F.col("_o.dj"))
        ).alias(cell_col),
        "_v",
    )
    nbr = scattered.groupBy("_t", cell_col).agg(
        F.count(F.lit(1)).alias("_wi"), F.sum("_v").alias("_si")
    )
    denom = F.col("_s") * F.sqrt(
        (
            F.col("_n").cast("double") * F.col("_wi")
            - F.col("_wi") * F.col("_wi")
        )
        / (F.col("_n") - F.lit(1)).cast("double")
    )
    z = (
        cells_df.select(F.col(t_col).alias("_t"), cell_col)
        .join(nbr, ["_t", cell_col])
        .join(
            F.broadcast(stats.withColumnRenamed(t_col, "_t")), "_t"
        )
        # w_i == n means the cell's neighborhood covers the ENTIRE
        # field for that bin — Gi*'s denominator is 0 and the score
        # undefined; drop explicitly (tiny fields), don't NaN/throw
        .filter(F.col("_wi") < F.col("_n"))
        .select(
            "_t",
            cell_col,
            F.round(
                (F.col("_si") - F.col("_xbar") * F.col("_wi")) / denom, 6
            ).alias("_z"),
        )
    )
    a = z.select(
        cell_col, F.col("_t").alias("_ta"), F.col("_z").alias("_za")
    )
    b = z.select(
        F.col(cell_col).alias("_c2"),
        F.col("_t").alias("_tb"),
        F.col("_z").alias("_zb"),
    )
    mk = (
        a.join(b, a[cell_col] == b["_c2"])
        .filter(F.col("_ta") < F.col("_tb"))
        .groupBy(cell_col)
        .agg(
            F.sum(F.signum(F.col("_zb") - F.col("_za")))
            .cast("long")
            .alias("s_mk")
        )
    )
    nbins = z.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n_bins"))
    return (
        nbins.join(mk, cell_col, "left")
        .select(
            cell_col,
            "n_bins",
            F.coalesce("s_mk", F.lit(0)).alias("s_mk"),
            F.when(F.col("s_mk") > 0, F.lit("intensifying"))
            .when(F.col("s_mk") < 0, F.lit("diminishing"))
            .otherwise(F.lit("flat"))
            .alias("trend"),
        )
    )


def areal_interpolate(
    left: DataFrame,
    clips_pdf: pd.DataFrame,
    value_col: str,
    scheme: str = "grid",
    res: int | None = None,
    left_id: str = "polygon_id",
    clip_id: str = "polygon_id",
) -> DataFrame:
    """Area-weighted areal interpolation (the standard GIS
    reaggregation of a value from source zones to arbitrary target
    zones, public textbook method): each target's estimate is

        est(t) = sum_src  v_src * A(src ∩ t) / A(src)

    — every source spreads its value uniformly over its own area, and
    a target collects the share falling inside it (counts/ totals are
    conserved across a partition of the plane). Emits (target_id,
    n_sources, est_value), est rounded to 6 decimals. Sources with
    zero area are dropped by explicit rule (their density is
    undefined), never NaN'd.

    Composition: the intersection areas come from
    :func:`polygon_overlay_join` (cell-cover candidates + exact
    Sutherland-Hodgman clip, zero shuffle of the polygon layer);
    source areas + values ride ONE vectorized Arrow pass over the
    source layer (zone-layer-sized, not data-sized) and join the
    pair-sized overlay on the source id; the final per-target
    aggregation is map-side-combinable.
    """
    ov = polygon_overlay_join(
        left,
        clips_pdf,
        scheme=scheme,
        res=res,
        left_id=left_id,
        clip_id=clip_id,
        right_id_out="_tgt",
    )
    id_t = left.schema[left_id].dataType.simpleString()

    def _areas(batches):
        for pdf in batches:
            # normalize BEFORE measuring: intersection areas from
            # polygon_overlay_join are computed on CRS-normalized
            # (WGS84) geometry, so the A(src∩t)/A(src) share must use
            # the same datum or totals stop conserving exactly.
            pdf = normalize_polygons(pdf)
            yield pd.DataFrame(
                {
                    left_id: pdf[left_id].to_numpy(),
                    "_v": pdf[value_col].to_numpy(dtype="float64"),
                    "_a": [
                        geom.geometry_area(wkb.loads(bytes(b)))
                        for b in pdf["geometry"]
                    ],
                }
            )

    src = left.mapInPandas(
        _areas, schema=f"{left_id} {id_t}, _v double, _a double"
    ).filter(F.col("_a") > 0)
    return (
        ov.join(src, left_id)
        .groupBy("_tgt")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.round(
                F.sum(
                    F.col("_v")
                    * F.col("intersection_area")
                    / F.col("_a")
                ),
                6,
            ).alias("est_value"),
        )
        .select(
            F.col("_tgt").alias("target_id"), "n_sources", "est_value"
        )
    )


def cross_k(
    points_a: DataFrame,
    points_b: DataFrame,
    radii: list[float],
    area: float,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Bivariate (cross-type) Ripley's K (Ripley 1977 / Lotwick &
    Silverman 1982, public): K_ab(r) = area/(n_a*n_b) * #{(a, b)
    pairs with d <= r} — the attraction/repulsion statistic between
    two point processes (K_ab > pi*r^2: type-b points cluster around
    type-a points). One row per radius: (r, n_pairs, k_ab round 6).

    Same scale shape as :func:`ripley_k` — 3x3 cell-bucket scatter
    join sized by max(radii) with the (1+1e-9) anti-straddle margin,
    ALL radii answered by one conditional aggregation over the
    candidate pairs; no ordered-pair halving (a-b pairs are already
    directed across the two sets). Bounded driver collects: the two
    set counts.
    """
    if not radii:
        raise ValueError("cross_k needs at least one radius")
    if any(float(r) <= 0 for r in radii):
        raise ValueError(f"every radius must be positive, got {radii}")
    rmax = float(max(radii))
    n_a = points_a.count()
    n_b = points_b.count()
    if n_a == 0 or n_b == 0:
        raise ValueError(
            f"cross_k needs non-empty point sets "
            f"(n_a={n_a}, n_b={n_b}): the 1/(n_a*n_b) normalizer "
            "is undefined"
        )
    cell = rmax * (1.0 + 1e-9)
    ca_i = F.floor(F.col(x_col) / F.lit(cell))
    ca_j = F.floor(F.col(y_col) / F.lit(cell))
    left = points_a.select(
        F.col(x_col).alias("_xa"),
        F.col(y_col).alias("_ya"),
        ca_i.alias("_ci"),
        ca_j.alias("_cj"),
    )
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    right = points_b.select(
        F.col(x_col).alias("_xb"),
        F.col(y_col).alias("_yb"),
        ca_i.alias("_bi"),
        ca_j.alias("_bj"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_xb",
        "_yb",
        (F.col("_bi") + F.col("_o.di")).alias("_ci"),
        (F.col("_bj") + F.col("_o.dj")).alias("_cj"),
    )
    d2 = (
        (F.col("_xa") - F.col("_xb")) * (F.col("_xa") - F.col("_xb"))
        + (F.col("_ya") - F.col("_yb")) * (F.col("_ya") - F.col("_yb"))
    )
    cand = left.join(right, ["_ci", "_cj"]).select(d2.alias("_d2"))
    aggs = cand.agg(
        *[
            F.sum(
                (F.col("_d2") <= F.lit(float(r) * float(r))).cast("long")
            ).alias(f"_c{k}")
            for k, r in enumerate(radii)
        ]
    )
    stack_expr = ", ".join(
        f"CAST({float(r)!r} AS DOUBLE), _c{k}" for k, r in enumerate(radii)
    )
    return aggs.selectExpr(
        f"stack({len(radii)}, {stack_expr}) AS (r, n_pairs)"
    ).select(
        "r",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.round(
            F.lit(float(area))
            * F.coalesce("n_pairs", F.lit(0))
            / F.lit(float(n_a) * float(n_b)),
            6,
        ).alias("k_ab"),
    )


def join_counts(
    cells_df: DataFrame,
    res: int,
    cell_col: str = "cell",
    label_col: str = "label",
) -> DataFrame:
    """Join-count statistics (Moran 1948 / Cliff & Ord, public) — the
    spatial-autocorrelation test for CATEGORICAL rasters: over the
    Moore-adjacency graph of present cells, count unordered neighbor
    pairs by label combination. Emits one row per observed
    (label_lo, label_hi) pair — (label_lo, label_hi, n_joins) with
    label_lo <= label_hi — plus the exact total join count implied by
    sum(n_joins). Same-label counts (the "BB/WW joins") measure
    clustering; cross-label ("BW") measures interspersion. Exact
    integers end to end — no FP canon anywhere.

    Scale shape: the focal/Moran scatter — each present cell
    scatters its label to its 8 neighbor centers, ONE equi-join
    against present cells yields every adjacent pair exactly twice
    (once per direction), and the canonical (lo, hi) groupBy halves
    it back deterministically. The weight matrix never exists; no
    driver collect at all.
    """
    base = F.lit(int(res)) * F.lit(1 << 58)
    i = F.shiftright(F.col(cell_col) - base, 29)
    j = F.col(cell_col) % F.lit(1 << 29)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)]
    )
    scattered = cells_df.select(
        F.col(label_col).alias("_la"),
        i.alias("_i"),
        j.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_la",
        (
            base
            + (F.col("_i") + F.col("_o.di")) * F.lit(1 << 29)
            + (F.col("_j") + F.col("_o.dj"))
        ).alias(cell_col),
    )
    pairs = scattered.join(
        cells_df.select(cell_col, F.col(label_col).alias("_lb")),
        cell_col,
    )
    return (
        pairs.groupBy(
            F.least("_la", "_lb").alias("label_lo"),
            F.greatest("_la", "_lb").alias("label_hi"),
        )
        .agg((F.count(F.lit(1)) / F.lit(2)).cast("long").alias("n_joins"))
    )


def knox_test(
    points: DataFrame,
    delta: float,
    tau_us: int,
    id_col: str = "event_id",
    x_col: str = "lon",
    y_col: str = "lat",
    ts_col: str = "ts",
) -> DataFrame:
    """Knox space-time interaction statistic (Knox 1964, public —
    the classic epidemiology test): over all unordered event pairs,
    count those close in SPACE (planar d <= delta), close in TIME
    (|t_a - t_b| <= tau microseconds), and close in BOTH. Emits ONE
    row: (n_pairs, n_space, n_time, n_spacetime, knox_ratio) where
    knox_ratio = n_spacetime / (n_space * n_time / n_pairs) — the
    observed-over-expected excess (> 1: space-time clustering, e.g.
    contagion), rounded to 6 decimals. All four counts are exact
    integers.

    Scale shape — three bucketed pair joins, never an all-pairs:

    * space: the ripley_k 3x3 cell-bucket scatter (cell side
      delta*(1+1e-9), anti-straddle margin);
    * time: the same trick in 1-D — tau-sized integer time bins,
      3-bin scatter;
    * space-time: the two keys COMBINED (3x3x3 = 27 plan-time
      offsets on the scatter side) — a pair close in both always
      shares a (cell_i, cell_j, time_bin) bucket.

    Each join dedups by construction (id_a < id_b on the single
    scatter direction). n_pairs = n(n-1)/2 from the one scalar
    collect. A burst hour in a dense block is the ordinary AQE
    skew case on the bucket key.
    """
    if delta <= 0:
        raise ValueError("delta must be positive")
    if tau_us <= 0:
        raise ValueError("tau_us must be positive")
    n = points.count()
    cell = float(delta) * (1.0 + 1e-9)
    d2max = float(delta) * float(delta)
    tau = int(tau_us)
    base = points.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t"),
        F.floor(F.col(x_col) / F.lit(cell)).alias("_ci"),
        F.floor(F.col(y_col) / F.lit(cell)).alias("_cj"),
    ).withColumn("_tb", F.floor(F.col("_t") / F.lit(tau)))

    def _pairs(keys_a, offsets_struct, cond):
        right = base.select(
            F.col("_id").alias("_idb"),
            F.col("_x").alias("_xb"),
            F.col("_y").alias("_yb"),
            F.col("_t").alias("_t2"),
            *[F.col(c).alias(f"_r{c}") for c in keys_a],
            F.explode(offsets_struct).alias("_o"),
        ).select(
            "_idb",
            "_xb",
            "_yb",
            "_t2",
            *[
                (F.col(f"_r{c}") + F.col(f"_o.{c}")).alias(c)
                for c in keys_a
            ],
        )
        return (
            base.join(right, keys_a)
            .filter(F.col("_id") < F.col("_idb"))
            .filter(cond)
            .count()
        )

    d2 = (F.col("_x") - F.col("_xb")) * (F.col("_x") - F.col("_xb")) + (
        F.col("_y") - F.col("_yb")
    ) * (F.col("_y") - F.col("_yb"))
    dt_ok = F.abs(F.col("_t") - F.col("_t2")) <= F.lit(tau)
    off2 = F.array(
        *[F.struct(F.lit(di).alias("_ci"), F.lit(dj).alias("_cj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    off1 = F.array(
        *[F.struct(F.lit(dt).alias("_tb")) for dt in (-1, 0, 1)]
    )
    off3 = F.array(
        *[
            F.struct(
                F.lit(di).alias("_ci"),
                F.lit(dj).alias("_cj"),
                F.lit(dt).alias("_tb"),
            )
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
            for dt in (-1, 0, 1)
        ]
    )
    n_space = _pairs(["_ci", "_cj"], off2, d2 <= F.lit(d2max))
    n_time = _pairs(["_tb"], off1, dt_ok)
    n_st = _pairs(
        ["_ci", "_cj", "_tb"], off3, (d2 <= F.lit(d2max)) & dt_ok
    )
    n_pairs = n * (n - 1) // 2
    spark = points.sparkSession
    expected = (
        float(n_space) * float(n_time) / float(n_pairs)
        if n_pairs and n_space and n_time
        else 0.0
    )
    ratio = round(float(n_st) / expected, 6) if expected > 0 else 0.0
    return spark.createDataFrame(
        [(n_pairs, n_space, n_time, n_st, ratio)],
        schema=(
            "n_pairs long, n_space long, n_time long, "
            "n_spacetime long, knox_ratio double"
        ),
    )


def quadrat_test(
    points: DataFrame,
    cell_size: float,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Quadrat-count test for complete spatial randomness (CSR,
    public textbook method): tile the points' bounding box with
    ``cell_size`` quadrats, O_q = per-quadrat count, E = n/k, and

        chi2 = sum_q (O_q - E)^2 / E      (over ALL k quadrats)

    Empty quadrats never materialize: their closed-form contribution
    (k - m) * E is added analytically (m = occupied quadrats). Emits
    ONE row (n, k, occupied, chi2 round 6); chi2 >> k-1 rejects CSR
    (clustering). Quadrat indexing is anchored at the bbox min so
    the tiling is data-deterministic.

    Scale shape: ONE map-side-combinable groupBy on the quadrat id
    plus two scalar aggregates (bbox, n); k is plan-side integer
    arithmetic on the bbox scalars. No pair joins at all.
    """
    if cell_size <= 0:
        raise ValueError("cell_size must be positive")
    import math

    s = float(cell_size)
    b = points.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(x_col).alias("x0"),
        F.max(x_col).alias("x1"),
        F.min(y_col).alias("y0"),
        F.max(y_col).alias("y1"),
    ).collect()[0]
    n = int(b["n"])
    if n == 0:
        raise ValueError("quadrat_test needs at least one point")
    x0, y0 = float(b["x0"]), float(b["y0"])
    kx = max(1, int(math.floor((float(b["x1"]) - x0) / s)) + 1)
    ky = max(1, int(math.floor((float(b["y1"]) - y0) / s)) + 1)
    k = kx * ky
    e = float(n) / float(k)
    qi = F.least(
        F.floor((F.col(x_col) - F.lit(x0)) / F.lit(s)).cast("long"),
        F.lit(kx - 1),
    )
    qj = F.least(
        F.floor((F.col(y_col) - F.lit(y0)) / F.lit(s)).cast("long"),
        F.lit(ky - 1),
    )
    occ = points.groupBy(
        (qi * F.lit(ky) + qj).alias("_q")
    ).agg(F.count(F.lit(1)).alias("_o"))
    agg = occ.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(
            (F.col("_o") - F.lit(e)) * (F.col("_o") - F.lit(e)) / F.lit(e)
        ).alias("_chi_occ"),
    )
    return agg.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.col("m").alias("occupied"),
        F.round(
            F.col("_chi_occ") + (F.lit(k) - F.col("m")) * F.lit(e), 6
        ).alias("chi2"),
    )


def std_ellipse(
    points: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Standard deviational ellipse (Lefever 1926, public — desktop
    GIS "directional distribution"): mean center, rotation theta
    (clockwise from north in the standard convention — computed here
    as 0.5*atan2(2*Sxy, Sxx - Syy) over centered second moments),
    and the two axis standard deviations along/across the rotation.
    Emits ONE row (n, cx, cy, theta, sx, sy) rounded to 6 decimals.

    All five sufficient statistics (n, sum x, sum y, sum x^2,
    sum y^2, sum xy) come from ONE map-side-combinable aggregation —
    a single reduce of six doubles regardless of input size; the
    closed-form solve is plan-side arithmetic on the collected
    scalars. Transcendentals (atan2/sqrt/cos/sin) run driver-side on
    engine-identical inputs; round-6 absorbs last-ulp libm noise.
    """
    import math

    b = points.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x_col).alias("sx"),
        F.sum(y_col).alias("sy"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("sxx"),
        F.sum(F.col(y_col) * F.col(y_col)).alias("syy"),
        F.sum(F.col(x_col) * F.col(y_col)).alias("sxy"),
    ).collect()[0]
    n = int(b["n"])
    if n < 3:
        raise ValueError("std_ellipse needs at least 3 points")
    cx = float(b["sx"]) / n
    cy = float(b["sy"]) / n
    mxx = float(b["sxx"]) / n - cx * cx
    myy = float(b["syy"]) / n - cy * cy
    mxy = float(b["sxy"]) / n - cx * cy
    theta = 0.5 * math.atan2(2.0 * mxy, mxx - myy)
    c, s = math.cos(theta), math.sin(theta)
    sx2 = mxx * c * c + 2.0 * mxy * s * c + myy * s * s
    sy2 = mxx * s * s - 2.0 * mxy * s * c + myy * c * c
    spark = points.sparkSession
    return spark.createDataFrame(
        [(
            n,
            round(cx, 6),
            round(cy, 6),
            round(theta, 6),
            round(math.sqrt(max(sx2, 0.0)), 6),
            round(math.sqrt(max(sy2, 0.0)), 6),
        )],
        schema="n long, cx double, cy double, theta double, "
               "sx double, sy double",
    )


def general_g(
    cells_df: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Getis-Ord General G (Getis & Ord 1992, public) — the GLOBAL
    high/low clustering statistic with binary Moore weights (the
    whole-map complement to the local Gi*):

        G = sum_ij w_ij x_i x_j / sum_{i != j} x_i x_j

    Emits ONE row (n, s0, general_g round 6). G above its
    expectation means high values cluster next to high values.
    Requires non-negative values (the statistic's own precondition).

    Scale shape: the numerator is the morans_i scatter-gather
    (value scatter + ONE equi-join, weight matrix never exists);
    the denominator is closed-form from two scalar aggregates
    ((sum x)^2 - sum x^2). Bounded collects only.
    """
    stats = cells_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).alias("sx"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("sxx"),
        F.min(value_col).alias("mn"),
    ).collect()[0]
    n = int(stats["n"])
    if stats["mn"] is not None and float(stats["mn"]) < 0:
        raise ValueError("general_g requires non-negative values")
    denom = (
        float(stats["sx"] or 0.0) * float(stats["sx"] or 0.0)
        - float(stats["sxx"] or 0.0)
    )
    if not (denom > 0.0):
        raise ValueError(
            f"general_g is undefined: sum_{{i!=j}} x_i x_j = {denom} "
            "(need >= 2 cells with at least two positive values)"
        )
    base = F.lit(int(res)) * F.lit(1 << 58)
    i = F.shiftright(F.col(cell_col) - base, 29)
    j = F.col(cell_col) % F.lit(1 << 29)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)]
    )
    scattered = cells_df.select(
        F.col(value_col).alias("_xi"),
        i.alias("_i"),
        j.alias("_j"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_xi",
        (
            base
            + (F.col("_i") + F.col("_o.di")) * F.lit(1 << 29)
            + (F.col("_j") + F.col("_o.dj"))
        ).alias(cell_col),
    )
    num = scattered.join(
        cells_df.select(cell_col, F.col(value_col).alias("_xj")), cell_col
    ).agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum(F.col("_xi") * F.col("_xj")).alias("_num"),
    )
    return num.select(
        F.lit(n).cast("long").alias("n"),
        "s0",
        F.round(F.col("_num") / F.lit(denom), 6).alias("general_g"),
    )


def _monotone_chain(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain (public textbook): CCW hull vertices,
    collinear points dropped, canonical start = lexicographic min."""
    p = np.unique(pts[:, :2], axis=0)
    if len(p) <= 2:
        return p

    def half(points):
        out = []
        for q in points:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                cross = (a[0] - o[0]) * (q[1] - o[1]) - (
                    a[1] - o[1]
                ) * (q[0] - o[0])
                if cross <= 0:
                    out.pop()
                else:
                    break
            out.append(q)
        return out

    lower = half(p)
    upper = half(p[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def convex_hull_per_group(
    points: DataFrame,
    group_col: str,
    x_col: str = "lon",
    y_col: str = "lat",
    n_shards: int = 64,
) -> DataFrame:
    """Per-group convex hull (Andrew monotone chain, public) — the
    two-level distributed formulation: hull(A ∪ B) =
    hull(hull(A) ∪ hull(B)), so stage 1 computes PARTIAL hulls per
    (group, shard) — output per task is hull-complexity-sized, never
    input-sized — and stage 2 merges the partial vertex sets per
    group. A group's stage-2 input is bounded by
    n_shards x partial-hull size, independent of the group's row
    count: the pattern that survives a 10^12-point group. Shards are
    engine-portable hashes of the coordinates (rerun-stable).

    Emits (group, n_vertices, area, hull vertices as a WKT POLYGON
    string) with area the exact shoelace of the hull (round 9) and
    the ring in CCW order starting at the lexicographically smallest
    vertex — a canonical form any engine can reproduce. Degenerate
    groups (all points collinear or fewer than 3 distinct) emit
    n_vertices < 3 with area 0 and an empty hull string — the
    explicit rule, not a crash.
    """
    from ..geo import wkt as wkt_mod

    shard = F.pmod(
        F.xxhash64(F.col(x_col), F.col(y_col)), F.lit(int(n_shards))
    )

    def partial(pdf):
        h = _monotone_chain(
            pdf[[x_col, y_col]].to_numpy(dtype="float64")
        )
        return pd.DataFrame(
            {
                group_col: pdf[group_col].iloc[0],
                x_col: h[:, 0],
                y_col: h[:, 1],
            }
        )

    gtype = points.schema[group_col].dataType.simpleString()
    stage1 = (
        points.select(group_col, x_col, y_col, shard.alias("_s"))
        .groupBy(group_col, "_s")
        .applyInPandas(
            lambda key, pdf: partial(pdf),
            schema=f"{group_col} {gtype}, {x_col} double, {y_col} double",
        )
    )

    def final(key, pdf):
        h = _monotone_chain(
            pdf[[x_col, y_col]].to_numpy(dtype="float64")
        )
        if len(h) < 3:
            return pd.DataFrame(
                {
                    group_col: [key[0]],
                    "n_vertices": [len(h)],
                    "area": [0.0],
                    "hull_wkt": [""],
                }
            )
        area = 0.0
        xs, ys = h[:, 0], h[:, 1]
        area = 0.5 * float(
            np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1))
        )
        ring = np.vstack([h, h[:1]])
        txt = wkt_mod.dumps(wkb.Geometry(wkb.POLYGON, [ring]))
        return pd.DataFrame(
            {
                group_col: [key[0]],
                "n_vertices": [len(h)],
                "area": [round(area, 9)],
                "hull_wkt": [txt],
            }
        )

    return stage1.groupBy(group_col).applyInPandas(
        final,
        schema=(
            f"{group_col} {gtype}, n_vertices int, area double, "
            "hull_wkt string"
        ),
    )


# ---------------------------------------------------------------------------
# Map matching: snap points to the nearest polyline segment
# ---------------------------------------------------------------------------


def line_segments(
    lines: DataFrame,
    id_col: str = "line_id",
    geometry_col: str = "geometry",
) -> DataFrame:
    """Explode WKB polylines into one row per segment —
    ``(line_id, seg_idx, x1, y1, x2, y2)``.

    The segment form is what :func:`snap_points` consumes: a road
    network becomes a flat, evenly-sized relation that partitions by
    row count instead of by (wildly skewed) per-line vertex count.
    ``seg_idx`` numbers segments consecutively across the parts of a
    MultiLineString, so (line_id, seg_idx) is a stable segment key.

    One ``mapInPandas`` pass (Arrow-batched WKB parse, the slow path
    only where a binary codec forces it); geometry bytes never leave
    this operator.
    """
    spark_cols = [id_col, geometry_col]
    src = lines.select(*spark_cols)
    id_type = dict(lines.dtypes)[id_col]

    def explode_segs(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_id, out_seg = [], []
            out_x1, out_y1, out_x2, out_y2 = [], [], [], []
            for lid, buf in zip(pdf[id_col], pdf[geometry_col]):
                g = wkb.loads(bytes(buf))
                if g.kind == wkb.LINESTRING:
                    parts = [np.asarray(g.coords)]
                elif g.kind == wkb.MULTILINESTRING:
                    parts = [np.asarray(p) for p in g.coords]
                else:
                    raise ValueError(
                        f"line_segments expects LineString/"
                        f"MultiLineString, got {g.name}"
                    )
                seg = 0
                for arr in parts:
                    n = len(arr) - 1
                    if n <= 0:
                        continue
                    out_id.extend([lid] * n)
                    out_seg.extend(range(seg, seg + n))
                    out_x1.extend(arr[:-1, 0])
                    out_y1.extend(arr[:-1, 1])
                    out_x2.extend(arr[1:, 0])
                    out_y2.extend(arr[1:, 1])
                    seg += n
            yield pd.DataFrame(
                {
                    id_col: out_id,
                    "seg_idx": out_seg,
                    "x1": out_x1,
                    "y1": out_y1,
                    "x2": out_x2,
                    "y2": out_y2,
                }
            )

    return src.mapInPandas(
        explode_segs,
        schema=(
            f"{id_col} {id_type}, seg_idx int, x1 double, y1 double, "
            "x2 double, y2 double"
        ),
    )


def _segment_cell_cover(
    segments: DataFrame,
    seg_cols: list,
    max_dist: float,
    cs: float,
) -> DataFrame:
    """Grid cells within ``max_dist`` of each segment, pure Catalyst,
    LINEAR in segment length: the segment is sub-split along its
    dominant axis into runs of at most one ``cell_size`` (lerp on
    k/n), and each run contributes the cells of its bbox expanded by
    ``max_dist``. A whole-bbox cover is quadratic on long diagonals —
    a 100-cell ferry segment would explode into 10,000 cells where
    the split emits ~100 × O(1). Coverage is exact for every
    cell_size: a point within max_dist of the segment is within
    max_dist of some sub-run, so it shares a cell with that run's
    padded bbox. The pad carries a +1e-9 guard absorbing the 1-ULP
    lerp rounding at sub-run ends (x1 + 1.0*(x2-x1) is not always
    exactly x2); over-covered candidates refine away on the exact
    distance filter.

    Emits one row per (segment row, covered cell) with the packed
    ``_cell`` key, DISTINCT per segment row: adjacent runs share
    ~2/3 of their padded cells, and the naive emit carries a ~4.5×
    duplicate factor straight into the candidate join (profiled on
    the map-matching lane — 7.7M candidate rows for 1.7M distinct,
    plus the dropDuplicates shuffle the consumer then needs). The
    dedup here is MAP-SIDE — the run→cell expansion happens inside
    nested ``transform`` higher-order functions so ``array_distinct``
    sees the whole segment's cells in one row, then a single explode
    streams the distinct set. No shuffle, and downstream (point,
    segment) candidate pairs are unique by construction because a
    point joins on exactly one cell. The transient per-row array is
    O(length / cell_size) entries — bounded by the same cell_size
    tuning the join fan-out already requires.
    """
    pad = F.lit(float(max_dist) + 1e-9)
    csl = F.lit(float(cs))
    dxs = F.col("x2") - F.col("x1")
    dys = F.col("y2") - F.col("y1")
    nsub = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.greatest(F.abs(dxs), F.abs(dys)) / csl),
    )

    def run_cells(k):
        t0 = k / F.col("_n")
        t1 = (k + F.lit(1)) / F.col("_n")
        ax = F.col("x1") + t0 * F.col("_dx")
        bx = F.col("x1") + t1 * F.col("_dx")
        ay = F.col("y1") + t0 * F.col("_dy")
        by = F.col("y1") + t1 * F.col("_dy")
        ci_lo = F.floor((F.least(ax, bx) - pad) / csl).cast("long")
        ci_hi = F.floor((F.greatest(ax, bx) + pad) / csl).cast("long")
        cj_lo = F.floor((F.least(ay, by) - pad) / csl).cast("long")
        cj_hi = F.floor((F.greatest(ay, by) + pad) / csl).cast("long")
        return F.flatten(
            F.transform(
                F.sequence(ci_lo, ci_hi),
                lambda ci: F.transform(
                    F.sequence(cj_lo, cj_hi),
                    lambda cj: ci * F.lit(1 << 26) + cj,
                ),
            )
        )

    cells = F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("_n") - 1),
                run_cells,
            )
        )
    )
    return segments.select(
        *seg_cols,
        dxs.alias("_dx"),
        dys.alias("_dy"),
        nsub.alias("_n"),
    ).select(*seg_cols, F.explode(cells).alias("_cell"))


def snap_points(
    points: DataFrame,
    segments: DataFrame,
    max_dist: float,
    cell_size: float | None = None,
    point_id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
    line_id_col: str = "line_id",
) -> DataFrame:
    """Map matching: snap every point to its nearest polyline segment
    within ``max_dist`` (planar), emitting one row per matched point —
    ``(point_id, line_id, seg_idx, snap_x, snap_y, snap_dist)`` with
    the snapped coordinate (closest point ON the segment) and distance
    rounded to 6 decimals. Unmatched points are simply absent (the
    caller left-antis if it wants the off-network lane). Ties break
    deterministically by (distance, line_id, seg_idx).

    Scale shape — ZERO Python in the hot path:

    * candidates: segment cell covers come from
      :func:`_segment_cell_cover` — LINEAR in segment length (a
      dominant-axis sub-split, not a whole-bbox cross product that
      goes quadratic on long diagonals, deduped map-side so each
      (segment, cell) is emitted once); points map to their own
      cell; candidate pairs are one shuffle hash equi-join on the
      packed cell key, unique per (point, segment) by construction.
      Both sides are arithmetic projections — whole-stage codegen
      end to end (the cover's array HOFs are JVM expressions).
    * refine: point-to-segment distance is scalar math
      (t = clamp(dot/len², 0, 1) then the hypotenuse), again codegen —
      no UDF, no geometry bytes through the join.
    * select: one ``row_number`` window per point over
      (dist, line_id, seg_idx) — the same point-keyed shuffle any
      per-point top-1 needs.

    Hot cells (a dense urban network) concentrate candidates exactly
    like the PIP join's Tokyo skew; the same data-driven salting
    applies if a profile shows it, and AQE skew-join is the backstop.
    ``cell_size`` defaults to ``max_dist`` — at 100 TB tune it to the
    network's segment length so the explode factor stays O(1) per
    segment.
    """
    from pyspark.sql import Window

    if max_dist <= 0:
        raise ValueError("max_dist must be positive")
    cs = float(cell_size if cell_size is not None else max_dist)
    if cs <= 0:
        raise ValueError("cell_size must be positive")

    px, py = F.col(x_col), F.col(y_col)
    pts = points.select(
        F.col(point_id_col),
        px.alias("_px"),
        py.alias("_py"),
        (
            F.floor(px / cs).cast("long") * F.lit(1 << 26)
            + F.floor(py / cs).cast("long")
        ).alias("_cell"),
    )

    d = F.lit(float(max_dist))
    segs = _segment_cell_cover(
        segments,
        [line_id_col, "seg_idx", "x1", "y1", "x2", "y2"],
        max_dist,
        cs,
    )

    cand = pts.join(segs, "_cell")
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    t_raw = (
        (F.col("_px") - F.col("x1")) * dx
        + (F.col("_py") - F.col("y1")) * dy
    )
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw / len2))
    )
    sx = F.col("x1") + t * dx
    sy = F.col("y1") + t * dy
    ddx = F.col("_px") - sx
    ddy = F.col("_py") - sy
    refined = (
        cand.withColumn("_sx", sx)
        .withColumn("_sy", sy)
        .withColumn("_dist", F.sqrt(ddx * ddx + ddy * ddy))
        .filter(F.col("_dist") <= d)
    )
    w = Window.partitionBy(point_id_col).orderBy(
        "_dist", line_id_col, "seg_idx"
    )
    return (
        refined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            point_id_col,
            line_id_col,
            "seg_idx",
            F.round("_sx", 6).alias("snap_x"),
            F.round("_sy", 6).alias("snap_y"),
            F.round("_dist", 6).alias("snap_dist"),
        )
    )


_EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius
_KM_PER_DEG = 111.19492664455873  # pi/180 * _EARTH_RADIUS_KM


def haversine_km(lon1, lat1, lon2, lat2):
    """Great-circle distance in km between two WGS84 (lon, lat)
    pairs, as a pure Catalyst column expression — sin/cos/asin inside
    whole-stage codegen, no UDF.

    Every other distance in the engine is planar degrees (the right
    parity contract for the reference's tile/refine outputs, which
    are degree-space); this is the geodesic lane for metric-radius
    questions ("images within 5 km of a station"), where degrees
    lie: at 35°N one longitude degree is ~91 km vs ~111 km per
    latitude degree. sqrt(a) is clamped to 1 against float drift on
    near-antipodal pairs (asin(>1) would be NaN).
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = (rlat2 - rlat1) / F.lit(2.0)
    dlon = (F.radians(lon2) - F.radians(lon1)) / F.lit(2.0)
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    )
    # NULL/NaN-preserving clamp: least(NULL, 1.0) would be 1.0
    # (Spark's least ignores NULLs) and NaN > 1.0 is TRUE under
    # Spark's NaN ordering — either would silently turn a missing
    # input (e.g. the first lag row of a trajectory) into a
    # 20015-km step instead of propagating.
    s = F.sqrt(a)
    return F.lit(2.0 * _EARTH_RADIUS_KM) * F.asin(
        F.when((s > F.lit(1.0)) & ~F.isnan(s), F.lit(1.0)).otherwise(s)
    )


def trajectory_stats(
    pings: DataFrame,
    min_pings: int = 2,
    user_col: str = "user_id",
    ts_col: str = "ts",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Per-user trajectory metrics over raw pings — the geodesic
    companion to :func:`stay_points` / :func:`od_matrix`: total
    great-circle distance travelled, longest single step, wall
    duration, and average speed. Emits ``(user, n_pings, total_km,
    max_step_km, duration_s, avg_kmh)``; users with fewer than
    ``min_pings`` rows drop; ``avg_kmh`` is NULL on zero duration
    (all pings in the same microsecond), ``max_step_km`` NULL for a
    single-ping user (only reachable with ``min_pings=1``).

    ONE user-key shuffle: the lag window and the per-user aggregate
    share the hash partitioning, so Catalyst plans a single Exchange
    (plan-pinned in tests). Step distances are :func:`haversine_km`
    — codegen trig, zero Python. Ties on ``ts`` within a user are
    broken by (x, y) so the step sequence is engine-portable.
    """
    from pyspark.sql import Window

    if min_pings < 1:
        raise ValueError("min_pings must be >= 1")
    w = Window.partitionBy(user_col).orderBy(ts_col, x_col, y_col)
    step = haversine_km(
        F.lag(x_col).over(w),
        F.lag(y_col).over(w),
        F.col(x_col),
        F.col(y_col),
    )
    stepped = pings.select(
        user_col,
        # cast NTZ -> timestamp first (session TZ UTC in tests/driver);
        # only the max-min DIFFERENCE is used, so the zone shift cancels
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        step.alias("_step"),
    )
    agg = stepped.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.coalesce(F.sum("_step"), F.lit(0.0)).alias("total_km"),
        F.max("_step").alias("max_step_km"),
        ((F.max("_us") - F.min("_us")) / F.lit(1e6)).alias("duration_s"),
    )
    return agg.filter(F.col("n_pings") >= min_pings).select(
        user_col,
        "n_pings",
        "total_km",
        "max_step_km",
        "duration_s",
        F.when(
            F.col("duration_s") > 0,
            F.col("total_km") / (F.col("duration_s") / F.lit(3600.0)),
        ).alias("avg_kmh"),
    )


def dwithin_join_geo(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    left_id_col: str = "image_id",
    right_id_col: str = "poi_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_deg: float | None = None,
) -> DataFrame:
    """Metric-radius point × point join for TWO DISTRIBUTED sides:
    every (left, right) pair within ``radius_km`` GREAT-CIRCLE km,
    emitting ``(left_id, right_id, dist_km)``. The planar
    :func:`dwithin_join` family answers degree-space questions; this
    is the "images within 5 km of any station" shape where a degree
    radius over-matches N-S and under-matches E-W (cos-latitude
    anisotropy) — at 100 TB that asymmetry is billions of wrong
    candidate pairs, so the prefilter itself must be
    latitude-aware.

    Plan shape — ZERO Python anywhere (plan-pinned in tests):

    1. right side maps to ONE grid cell: ``c = cell_deg or
       radius_km/111.195`` degrees, snapped to ``360/n`` so the
       longitude ring wraps exactly; the (ci, cj) pair packs into
       one long key (a codegen projection).
    2. left side explodes to its candidate cell window: latitude
       rows are the fixed ``±radius/111.195`` degree band, but the
       longitude span is PER-ROW — ``Δλ = 2·asin(sin(r/2R)/cos(φm))``
       with ``φm = |lat| + Δφ``, the tight spherical bound — so a
       Tokyo row probes ~3 cells while an equator row probes fewer,
       and polar rows degrade to a correct (wide) full ring instead
       of a wrong narrow one. ``array_distinct`` caps the ring at n
       cells. All of it is ``sequence``/``transform``/``explode``
       codegen arithmetic.
    3. candidates: ONE shuffle hash equi-join on the packed key (a
       right point lives in exactly one cell and the probe window is
       distinct, so each pair appears at most once — no dedup
       shuffle; AQE skew-join backstops hot metro cells).
    4. exact refine: ``haversine_km <= radius_km`` — codegen trig.

    Longitude wrap at ±180° is handled (pmod n on both sides, cell
    width snapped so a 360° shift is exactly n cells); latitudes
    must be in [-90, 90]. Explode factor at the default cell size is
    ~3×3 per left row at mid-latitudes — tune ``cell_deg`` upward if
    the right side is sparse relative to the radius.
    """
    import math

    if radius_km <= 0:
        raise ValueError("radius_km must be positive")
    if cell_deg is not None and cell_deg <= 0:
        raise ValueError("cell_deg must be positive")
    c_req = float(cell_deg if cell_deg is not None else
                  radius_km / _KM_PER_DEG)
    n = max(4, int(math.ceil(360.0 / c_req)))
    c = 360.0 / n  # snapped: a 360° lon shift is exactly n cells
    dlat_deg = radius_km / _KM_PER_DEG
    sin_half = math.sin(min(radius_km / (2.0 * _EARTH_RADIUS_KM),
                            math.pi / 2.0))

    def ci_raw(lon):
        return F.floor((lon + F.lit(180.0)) / F.lit(c)).cast("long")

    def cj_raw(lat):
        return F.floor((lat + F.lit(90.0)) / F.lit(c)).cast("long")

    def key(ci, cj):
        return (cj * F.lit(n) + ci).cast("long")

    r = right.select(
        F.col(right_id_col).alias("_rid"),
        F.col(lon_col).alias("_rlon"),
        F.col(lat_col).alias("_rlat"),
        key(
            F.pmod(ci_raw(F.col(lon_col)), F.lit(n)),
            cj_raw(F.col(lat_col)),
        ).alias("_cell"),
    )

    lat = F.col(lat_col)
    lon = F.col(lon_col)
    phim = F.radians(
        F.least(F.abs(lat) + F.lit(dlat_deg), F.lit(90.0))
    )
    # cos(phim) -> 0 near the pole gives ratio >= 1 (double inf is
    # fine) -> full 180° ring, which array_distinct caps at n cells.
    ratio = F.lit(sin_half) / F.cos(phim)
    dlon_deg = F.when(ratio >= 1.0, F.lit(180.0)).otherwise(
        F.degrees(F.lit(2.0) * F.asin(ratio))
    )
    ci_lo = ci_raw(lon - dlon_deg)
    ci_hi = ci_raw(lon + dlon_deg)
    cj_lo = F.greatest(cj_raw(lat - F.lit(dlat_deg)), F.lit(0).cast("long"))
    cj_hi = F.least(
        cj_raw(lat + F.lit(dlat_deg)),
        F.lit(int(math.floor(180.0 / c))).cast("long"),
    )
    cells = F.flatten(
        F.transform(
            F.sequence(cj_lo, cj_hi),
            lambda cj: F.array_distinct(
                F.transform(
                    F.sequence(ci_lo, ci_hi),
                    lambda ci: key(F.pmod(ci, F.lit(n)), cj),
                )
            ),
        )
    )
    lf = left.select(
        F.col(left_id_col).alias("_lid"),
        F.col(lon_col).alias("_llon"),
        F.col(lat_col).alias("_llat"),
        F.explode(cells).alias("_cell"),
    )
    dist = haversine_km(
        F.col("_llon"), F.col("_llat"), F.col("_rlon"), F.col("_rlat")
    )
    return (
        lf.join(r, "_cell")
        .withColumn("_d", dist)
        .filter(F.col("_d") <= F.lit(float(radius_km)))
        .select(
            F.col("_lid").alias(left_id_col),
            F.col("_rid").alias(right_id_col),
            F.col("_d").alias("dist_km"),
        )
    )


def _viterbi_kernel(
    sigma2: float,
    beta: float,
    max_step_gap,
    traj_col: str,
    out_cols: list,
):
    """Viterbi DP for :func:`hmm_map_match` over a BUCKET of
    trajectories (each kernel call decodes every trajectory whose
    hash landed in its bucket — one sort + boundary scan instead of
    one applyInPandas invocation per trajectory, which at 10^12 pings
    would pay the per-group Arrow/pandas setup ~5×10^10 times).

    Candidates arrive pre-sorted by (traj, step, line_id, seg_idx);
    numpy ``argmin`` takes the FIRST minimum, so tie-breaks are
    exactly ``ORDER BY cost, line_id, seg_idx`` — the same
    deterministic order the SQL oracle uses. All arithmetic is
    written in the same shape as the oracle (explicit sqrt of a sum
    of squares, left-to-right additions) so both engines see
    bit-identical doubles.

    The DP is TENSOR-shaped, vectorized ACROSS trajectories: a
    per-trajectory step loop would pay Python/numpy dispatch once per
    (trajectory, step) — millions of tiny |prev|×|cur| blocks per
    bucket, which profiling showed dominating the whole operator.
    Instead candidates pad to the bucket's max span width K (+inf
    emission on padding, so argmin semantics are untouched) and ONE
    step loop of length max-track-length advances every chain in the
    bucket simultaneously on (runs, K, K) blocks. Elementwise
    arithmetic is unchanged (same sqrt/abs/add shapes), so results
    stay bit-identical to the scalar form the oracle replays; np
    ``argmin`` still takes the first minimum, so tie-breaks remain
    ``ORDER BY cost, line_id, seg_idx``. Runs are processed in
    ceil-log2 (length, width) COHORTS so padding waste is bounded at
    2× per axis — one long track in a bucket of short ones can't
    inflate everyone's (runs, maxT, K) tensor — and absolute memory
    is bounded by the cell prefilter (K) and caller sessionization
    (maxT).
    """

    def match_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {
                    traj_col: pdf[traj_col],
                    "step": pdf["step"],
                    "line_id": pdf["line_id"],
                    "seg_idx": pdf["seg_idx"],
                    "snap_x": pd.Series(dtype="float64"),
                    "snap_y": pd.Series(dtype="float64"),
                    "snap_dist": pd.Series(dtype="float64"),
                }
            )[out_cols]
        pdf = pdf.sort_values(
            [traj_col, "step", "line_id", "seg_idx"], kind="mergesort"
        ).reset_index(drop=True)
        tvals = pdf[traj_col].to_numpy()
        steps_all = pdf["step"].to_numpy()
        sx = pdf["_sx"].to_numpy()
        sy = pdf["_sy"].to_numpy()
        px = pdf["_px"].to_numpy()
        py = pdf["_py"].to_numpy()
        emis = pdf["_d2"].to_numpy() / sigma2
        # one span per (traj, step): candidate rows for that ping
        new_span = np.r_[
            True,
            (tvals[1:] != tvals[:-1]) | (steps_all[1:] != steps_all[:-1]),
        ]
        span_lo = np.flatnonzero(new_span)
        span_hi = np.append(span_lo[1:], len(tvals))
        span_traj = tvals[span_lo]
        span_step = steps_all[span_lo]
        # a run = one Viterbi chain: break at trajectory changes and
        # (when max_step_gap is set) at step-numbering holes larger
        # than the gap — off-network excursions shouldn't anchor
        # route continuity across the hole
        brk = span_traj[1:] != span_traj[:-1]
        if max_step_gap is not None:
            brk = brk | (span_step[1:] - span_step[:-1] > max_step_gap)
        run_lo = np.flatnonzero(np.r_[True, brk])
        run_hi = np.append(run_lo[1:], len(span_lo))

        lens = run_hi - run_lo  # chain length (spans) per run
        widths = span_hi - span_lo  # candidates per span
        # per-run max candidate width (runs are contiguous span
        # ranges, so reduceat gives it in one pass)
        run_kmax = np.maximum.reduceat(widths, run_lo)
        # COHORTS by length power-of-two: padding a (runs, maxT, K)
        # tensor to the bucket-global maxima would let one 10k-step
        # track inflate every 20-step track's padding ~500×; within a
        # ceil-log2 cohort the waste is bounded at 2× on each axis
        cohort_key = (
            np.ceil(np.log2(np.maximum(lens, 2))).astype(np.int64) * 64
            + np.ceil(np.log2(np.maximum(run_kmax, 2))).astype(np.int64)
        )
        picked_parts = []
        for key in np.unique(cohort_key):
            rs = np.flatnonzero(cohort_key == key)
            lens_c = lens[rs]
            max_t = int(lens_c.max())
            kmax = int(run_kmax[rs].max())
            # span id per (run, t) within the cohort
            t_idx = np.arange(max_t)
            live = t_idx[None, :] < lens_c[:, None]  # (R, T)
            sid = np.where(live, run_lo[rs][:, None] + t_idx[None, :], 0)
            lo_rt = span_lo[sid]  # (R, T) first candidate row per span
            c_rt = np.where(live, widths[sid], 0)  # candidates per span
            # padded candidate row per (run, t, k); padding -> row 0
            k_idx = np.arange(kmax)
            kvalid = k_idx[None, None, :] < c_rt[:, :, None]  # (R, T, K)
            ridx = np.where(
                kvalid, lo_rt[:, :, None] + k_idx[None, None, :], 0
            )
            E = np.where(kvalid, emis[ridx], np.inf)  # padded emission
            SX = sx[ridx]
            SY = sy[ridx]
            # ping coords are span-level (same across a span's rows)
            PX = px[lo_rt]
            PY = py[lo_rt]

            best = E[:, 0, :].copy()  # (R, K); padded slots +inf
            n_c = len(rs)
            backptr = np.zeros((n_c, max_t, kmax), dtype=np.int64)
            for t in range(1, max_t):
                act = np.flatnonzero(live[:, t])
                if len(act) == 0:
                    break
                gx = PX[act, t] - PX[act, t - 1]
                gy = PY[act, t] - PY[act, t - 1]
                gap = np.sqrt(gx * gx + gy * gy)  # (A,)
                dxm = SX[act, t, None, :] - SX[act, t - 1, :, None]
                dym = SY[act, t, None, :] - SY[act, t - 1, :, None]
                route = np.sqrt(dxm * dxm + dym * dym)  # (A, Kp, Kc)
                tot = best[act, :, None] + np.abs(
                    route - gap[:, None, None]
                ) / beta
                bp = np.argmin(tot, axis=1)  # (A, Kc) first-min tie order
                backptr[act, t] = bp
                best[act] = (
                    np.take_along_axis(tot, bp[:, None, :], axis=1)[:, 0, :]
                    + E[act, t]
                )
            # backtrack, vectorized across runs: j tracks the winning
            # candidate slot per run from its LAST step down to 0
            # (best stopped updating when each run's chain ended, so
            # argmin on the final `best` is each run's own terminal
            # argmin; padded slots are +inf and never win)
            j = np.argmin(best, axis=1)  # (R,)
            picked_rows = np.empty((n_c, max_t), dtype=np.int64)
            for t in range(max_t - 1, 0, -1):
                act = live[:, t]
                picked_rows[act, t] = lo_rt[act, t] + j[act]
                j = np.where(act, backptr[np.arange(n_c), t, j], j)
            picked_rows[:, 0] = lo_rt[:, 0] + j
            picked_parts.append(picked_rows[live])
        picked = np.concatenate(picked_parts)
        sel = pdf.iloc[np.sort(picked)]
        return pd.DataFrame(
            {
                traj_col: sel[traj_col].to_numpy(),
                "step": sel["step"].to_numpy(),
                "line_id": sel["line_id"].to_numpy(),
                "seg_idx": sel["seg_idx"].to_numpy(),
                "snap_x": np.round(sel["_sx"].to_numpy(), 6),
                "snap_y": np.round(sel["_sy"].to_numpy(), 6),
                "snap_dist": np.round(
                    np.sqrt(sel["_d2"].to_numpy()), 6
                ),
            }
        )[out_cols]

    return match_bucket


def hmm_map_match(
    points: DataFrame,
    segments: DataFrame,
    max_dist: float,
    sigma: float | None = None,
    beta: float | None = None,
    cell_size: float | None = None,
    max_step_gap: int | None = None,
    bucket_count: int | None = None,
    traj_id_col: str = "traj_id",
    step_col: str = "step",
    x_col: str = "x",
    y_col: str = "y",
    line_id_col: str = "line_id",
) -> DataFrame:
    """HMM map matching (Newson & Krumm 2009 shape): assign every GPS
    ping of a trajectory to the road segment a Viterbi decode picks —
    the segment sequence that maximizes emission (closeness to the
    segment) AND transition (route continuity) likelihood jointly —
    instead of :func:`snap_points`'s independent nearest-segment
    choice, which zig-zags between a main road and its parallel side
    street on noisy pings. Emission cost is ``d²/σ²`` (snap distance
    to the candidate), transition cost ``|route − gap|/β`` where
    ``route`` is the straight-line distance between consecutive snap
    positions and ``gap`` the distance between the raw pings (a
    routing-graph route distance slots into the same cost without
    changing the plan). Emits one row per matched ping —
    ``(traj_id, step, line_id, seg_idx, snap_x, snap_y, snap_dist)``
    — pings with no segment within ``max_dist`` are absent, and a
    step-numbering gap larger than ``max_step_gap`` (when set)
    breaks the chain so an off-network excursion can't anchor
    continuity across the hole. (traj, step) pairs must be unique.

    Scale shape — candidates never leave Catalyst, DP touches only
    candidate rows:

    * candidate pairs reuse :func:`snap_points`'s machinery — the
      LINEAR dominant-axis segment cell cover joined to ping cells on
      a packed int64 key, then the codegen projection/clamp/distance
      refine — ONE shuffle, zero Python, the 10^12-ping side is one
      map pass before its shuffle.
    * the Viterbi DP runs via ``applyInPandas`` over trajectory-HASH
      BUCKETS (``bucket_count``, default 32 × shuffle width) — ONE
      bucket-keyed shuffle of candidate rows only (7 numeric columns,
      no geometry bytes), with an explicit ``repartition`` on the
      bucket key so AQE's size-based coalescing can't fold the small-
      byte DP exchange into a handful of tasks and serialize the
      Python stage. Each kernel call decodes every whole trajectory
      in its bucket with one sort + vectorized span scan, so the
      per-group Arrow/pandas setup amortizes over thousands of
      trajectories instead of being paid once per GPS track. Per-step
      work is a vectorized |prev|×|cur| numpy block over contiguous
      slices; candidate counts per ping are bounded by the cell
      prefilter, and trajectory length is bounded by the caller's
      sessionization (split by day/vehicle-shift at ingest — the same
      contract every per-key stateful op in this engine documents).
      Hot cells (dense urban networks) salt exactly like the PIP
      join's Tokyo skew if a profile shows it.

    Default ``sigma = max_dist / 2``, ``beta = max_dist / 5``.
    Tie-breaks are deterministic by (cost, line_id, seg_idx) at every
    argmin — the oracle replays the identical DP in SQL.
    """
    if max_dist <= 0:
        raise ValueError("max_dist must be positive")
    sg = float(sigma if sigma is not None else max_dist / 2.0)
    bt = float(beta if beta is not None else max_dist / 5.0)
    if sg <= 0 or bt <= 0:
        raise ValueError("sigma and beta must be positive")
    cs = float(cell_size if cell_size is not None else max_dist)
    if cs <= 0:
        raise ValueError("cell_size must be positive")

    ptypes = dict(points.dtypes)
    px, py = F.col(x_col), F.col(y_col)
    pts = points.select(
        F.col(traj_id_col),
        F.col(step_col).alias("step"),
        px.alias("_px"),
        py.alias("_py"),
        (
            F.floor(px / cs).cast("long") * F.lit(1 << 26)
            + F.floor(py / cs).cast("long")
        ).alias("_cell"),
    )
    segs = _segment_cell_cover(
        segments,
        [line_id_col, "seg_idx", "x1", "y1", "x2", "y2"],
        max_dist,
        cs,
    )

    cand = pts.join(segs, "_cell")
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    t_raw = (
        (F.col("_px") - F.col("x1")) * dx
        + (F.col("_py") - F.col("y1")) * dy
    )
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw / len2))
    )
    sx = F.col("x1") + t * dx
    sy = F.col("y1") + t * dy
    ddx = F.col("_px") - sx
    ddy = F.col("_py") - sy
    d2 = ddx * ddx + ddy * ddy
    refined = (
        cand.withColumn("_sx", sx)
        .withColumn("_sy", sy)
        .withColumn("_d2", d2)
        .filter(F.sqrt(F.col("_d2")) <= F.lit(float(max_dist)))
        # (ping, segment) candidate pairs are unique by construction:
        # the ping joins on its single cell and the cover emits each
        # (segment, cell) once (array_distinct inside
        # _segment_cell_cover) — no dedup shuffle needed before the DP
        .select(
            F.col(traj_id_col),
            "step",
            F.col(line_id_col).alias("line_id"),
            "seg_idx",
            "_px",
            "_py",
            "_sx",
            "_sy",
            "_d2",
        )
    )
    out_cols = [
        traj_id_col,
        "step",
        "line_id",
        "seg_idx",
        "snap_x",
        "snap_y",
        "snap_dist",
    ]
    kernel = _viterbi_kernel(sg * sg, bt, max_step_gap, traj_id_col, out_cols)
    ltype = dict(segments.dtypes)[line_id_col]
    schema = (
        f"{traj_id_col} {ptypes[traj_id_col]}, "
        f"step {ptypes[step_col]}, line_id {ltype}, seg_idx int, "
        "snap_x double, snap_y double, snap_dist double"
    )
    # group by a trajectory-hash BUCKET, not the trajectory: one
    # kernel call decodes ~(n_traj / n_buckets) whole trajectories
    # (each lands entirely in its bucket), amortizing the per-group
    # Arrow/pandas setup that a per-trajectory groupBy would pay once
    # per GPS track. Bucket count scales with the session's shuffle
    # width so a bucket's candidate rows stay a fraction of one
    # shuffle partition.
    sess = points.sparkSession
    shuffle_parts = int(
        sess.conf.get("spark.sql.shuffle.partitions", "200")
    )
    if bucket_count is None:
        bucket_count = 32 * shuffle_parts
    if bucket_count < 1:
        raise ValueError("bucket_count must be positive")
    bucketed = refined.withColumn(
        "_b", F.pmod(F.xxhash64(F.col(traj_id_col)), F.lit(bucket_count))
    )
    # pin the DP stage's width with an EXPLICIT repartition on the
    # bucket key: the candidate rows are 7 numeric columns, small
    # enough in bytes that AQE's size-based coalescing would fold the
    # groupBy exchange into a handful of tasks and serialize the
    # Python DP (the member-ingest lane measured exactly this trap).
    # HashPartitioning(_b, N) satisfies applyInPandas's clustered-
    # distribution requirement, so no second exchange is added, and
    # user-specified repartition counts are AQE-immune.
    n_parts = max(
        sess.sparkContext.defaultParallelism * 2, shuffle_parts
    )
    bucketed = bucketed.repartition(n_parts, "_b")
    return bucketed.groupBy("_b").applyInPandas(kernel, schema=schema)


def trajectory_hausdorff_join(
    points: DataFrame,
    max_dist: float,
    cell_size: float | None = None,
    traj_id_col: str = "traj_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Trajectory-similarity self-join: all unordered trajectory
    pairs whose discrete Hausdorff distance is at most ``max_dist``,
    with the exact distance. ``H(A,B) = max(h(A,B), h(B,A))`` where
    ``h(A,B) = max over a in A of min over b in B of euclid(a, b)``
    — the classic "every point of each track is near the other
    track" similarity used for route dedup and co-travel detection.
    Emits ``(traj_a, traj_b, hausdorff)`` with ``traj_a < traj_b``.

    Entirely Catalyst — joins and aggregations, zero Python:

    * candidate point pairs come from a grid-cell equi-join: one side
      keyed by its own cell, the other expanded to the
      ``ceil(max_dist / cell_size)``-ring neighborhood, so every
      cross-trajectory point pair within ``max_dist`` appears (in
      both directions) and nothing like an all-pairs product is ever
      formed. The exact distance filter runs inside the join's
      whole-stage codegen.
    * PRUNING IS EXACT: if ``H(A,B) <= max_dist`` then every point of
      A has its true nearest B-point within ``max_dist`` — inside
      the cell neighborhood — so per-point minima over captured
      pairs ARE the true minima for every surviving pair. A
      trajectory point with NO captured partner proves
      ``h > max_dist``, so the pair is dropped by the coverage test
      (per-direction captured-point count vs the trajectory's point
      count) before any value comparison.
    * aggregation ladder: per (ordered pair, source point) min →
      per unordered pair, per-direction conditional max + coverage
      count → filter. Three shuffles total on 8-byte-ish keys; the
      per-trajectory point-count side joins in by trajectory id
      (broadcast when small, shuffle otherwise).

    Dense-area skew concentrates candidate pairs in hot cells — the
    same data-driven hot-cell salting as the PIP join applies, and
    bounded track length (caller sessionization, same contract as
    :func:`hmm_map_match`) bounds per-pair work.
    """
    if max_dist <= 0:
        raise ValueError("max_dist must be positive")
    cs = float(cell_size if cell_size is not None else max_dist)
    if cs <= 0:
        raise ValueError("cell_size must be positive")
    reach = int(np.ceil(float(max_dist) / cs))

    pts = points.select(
        F.col(traj_id_col).alias("_t"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        F.floor(F.col(x_col) / cs).cast("long").alias("_ci"),
        F.floor(F.col(y_col) / cs).cast("long").alias("_cj"),
    )
    # distinct coordinates per trajectory (exact-coverage
    # denominator — duplicate pings at the same spot collapse in the
    # per-point min below, and min/max over a multiset equals the
    # set's, so coverage counts distinct positions on both sides)
    counts = pts.groupBy("_t").agg(
        F.count_distinct(F.col("_x"), F.col("_y")).alias("_n")
    )

    plain = pts.select(
        F.col("_t").alias("_tb"),
        F.col("_x").alias("_bx"),
        F.col("_y").alias("_by"),
        (F.col("_ci") * F.lit(1 << 26) + F.col("_cj")).alias("_cell"),
    )
    off = F.explode(
        F.flatten(
            F.transform(
                F.sequence(F.lit(-reach), F.lit(reach)),
                lambda di: F.transform(
                    F.sequence(F.lit(-reach), F.lit(reach)),
                    lambda dj: di * F.lit(1 << 26) + dj,
                ),
            )
        )
    ).alias("_off")
    expanded = pts.select(
        F.col("_t").alias("_ta"),
        F.col("_x").alias("_ax"),
        F.col("_y").alias("_ay"),
        (F.col("_ci") * F.lit(1 << 26) + F.col("_cj")).alias("_c0"),
        off,
    ).select(
        "_ta",
        "_ax",
        "_ay",
        (F.col("_c0") + F.col("_off")).alias("_cell"),
    )
    dx = F.col("_ax") - F.col("_bx")
    dy = F.col("_ay") - F.col("_by")
    dist = F.sqrt(dx * dx + dy * dy)
    pairs = (
        expanded.join(plain, "_cell")
        .filter(F.col("_ta") != F.col("_tb"))
        .select("_ta", "_tb", "_ax", "_ay", dist.alias("_d"))
        .filter(F.col("_d") <= F.lit(float(max_dist)))
    )
    # per (ordered pair, source point): true nearest-partner distance
    dmin = pairs.groupBy("_ta", "_tb", "_ax", "_ay").agg(
        F.min("_d").alias("_dmin")
    )
    lk = F.least(F.col("_ta"), F.col("_tb"))
    gk = F.greatest(F.col("_ta"), F.col("_tb"))
    fwd = F.col("_ta") < F.col("_tb")
    agg = (
        dmin.select(
            lk.alias("_lo"),
            gk.alias("_hi"),
            fwd.alias("_fwd"),
            "_ta",
            "_dmin",
        )
        .groupBy("_lo", "_hi")
        .agg(
            F.max(F.when(F.col("_fwd"), F.col("_dmin"))).alias("_h_ab"),
            F.max(F.when(~F.col("_fwd"), F.col("_dmin"))).alias("_h_ba"),
            F.count(F.when(F.col("_fwd"), F.lit(1))).alias("_cov_a"),
            F.count(F.when(~F.col("_fwd"), F.lit(1))).alias("_cov_b"),
        )
    )
    out = (
        agg.join(counts.withColumnRenamed("_t", "_lo"), "_lo")
        .withColumnRenamed("_n", "_na")
        .join(counts.withColumnRenamed("_t", "_hi"), "_hi")
        .withColumnRenamed("_n", "_nb")
        .filter(
            (F.col("_cov_a") == F.col("_na"))
            & (F.col("_cov_b") == F.col("_nb"))
        )
        .select(
            F.col("_lo").alias("traj_a"),
            F.col("_hi").alias("traj_b"),
            F.greatest(F.col("_h_ab"), F.col("_h_ba")).alias(
                "hausdorff"
            ),
        )
        .filter(F.col("hausdorff") <= F.lit(float(max_dist)))
    )
    return out


def empirical_variogram(
    points: DataFrame,
    max_lag: float,
    n_bins: int = 8,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    value_col: str = "value",
    res: int | None = None,
    sample_fraction: float | None = None,
    seed: int = 0,
) -> DataFrame:
    """Empirical (semi)variogram — the Matheron 1962 estimator, the
    standard first step of geostatistical interpolation (Cressie 1993,
    public): over all unordered point pairs with distance <= ``max_lag``
    (planar degrees), bin by distance into ``n_bins`` equal lags and
    emit per bin

        gamma(h) = avg((v_i - v_j)^2) / 2

    plus the pair count and mean pair distance. Output:
    (bin, n_pairs, avg_dist, gamma), rounded to 6 decimals (summation
    order noise ~1e-15; same convention as ``idw_interpolate``).

    Fully relational self-join, zero Python in the plan, same exactness
    argument as ``idw_interpolate``: pick the finest grid whose cell
    edge >= max_lag, explode ONE copy of the points into the 9-cell
    Moore neighborhood, equi-join on the packed cell key against the
    un-exploded copy, keep ``id_left < id_right``. A pair within
    ``max_lag`` appears for EXACTLY ONE neighbor offset (the one that
    shifts the right point's cell onto the left's), so no dedup shuffle
    is needed; the d2 <= max_lag^2 refine runs in codegen.

    Scale: pair counts grow with local density^2 — the classical
    variogram answer is pair sampling. ``sample_fraction`` thins the
    POINT table map-side (deterministic xxhash64 on the id, rerun
    stable) before the join, which thins pairs by ~fraction^2 without
    any extra pass; the estimator stays unbiased per bin. A dense-city
    cell is an ordinary AQE skew-join case (the join key is the cell).
    """
    import math

    if max_lag <= 0:
        raise ValueError("max_lag must be positive")
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    if res is None:
        res = int(math.floor(math.log2(360.0 / max_lag)))
    res = max(0, min(res, 28))
    size = 360.0 / (1 << res)
    if size < max_lag:
        raise ValueError(
            f"grid res {res} has cell edge {size} < max_lag {max_lag}: "
            "the 3x3 prune would miss in-range pairs"
        )
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError("sample_fraction must be in (0, 1]")
        keep = (
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 20))
            < F.lit(int(sample_fraction * (1 << 20)))
        )
        points = points.filter(keep)

    def ij(lon, lat):
        i = F.floor((lon + F.lit(180.0)) / F.lit(size)).cast("long")
        j = F.floor((lat + F.lit(90.0)) / F.lit(size)).cast("long")
        return i, j

    li, lj = ij(F.col(lon_col), F.col(lat_col))
    left = points.select(
        F.col(id_col).alias("_lid"),
        F.col(lon_col).alias("_llon"),
        F.col(lat_col).alias("_llat"),
        F.col(value_col).alias("_lv"),
        (li * F.lit(1 << 31) + lj).alias("_cell"),
    )
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    ri, rj = ij(F.col(lon_col), F.col(lat_col))
    right = points.select(
        F.col(id_col).alias("_rid"),
        F.col(lon_col).alias("_rlon"),
        F.col(lat_col).alias("_rlat"),
        F.col(value_col).alias("_rv"),
        ri.alias("_ri"),
        rj.alias("_rj"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_rid",
        "_rlon",
        "_rlat",
        "_rv",
        (
            (F.col("_ri") + F.col("_o.di")) * F.lit(1 << 31)
            + (F.col("_rj") + F.col("_o.dj"))
        ).alias("_cell"),
    )
    dx = F.col("_llon") - F.col("_rlon")
    dy = F.col("_llat") - F.col("_rlat")
    d2 = dx * dx + dy * dy
    d = F.sqrt(d2)
    width = float(max_lag) / int(n_bins)
    dv = F.col("_lv") - F.col("_rv")
    return (
        left.join(right, "_cell")
        .filter(
            (F.col("_lid") < F.col("_rid"))
            & (d2 <= F.lit(float(max_lag) * float(max_lag)))
        )
        .select(
            F.least(
                F.floor(d / F.lit(width)).cast("int"),
                F.lit(int(n_bins) - 1),
            ).alias("bin"),
            d.alias("_d"),
            (dv * dv).alias("_dv2"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("_d"), 6).alias("avg_dist"),
            F.round(F.avg("_dv2") / F.lit(2.0), 6).alias("gamma"),
        )
    )


def _variogram_gamma_np(
    d: np.ndarray, model: str, nugget: float, psill: float, vrange: float
) -> np.ndarray:
    """Variogram model gamma(d) (Cressie 1993): 0 at d=0 exactly, the
    nugget discontinuity appears for any d > 0."""
    d = np.asarray(d, dtype=np.float64)
    if model == "exponential":
        g = nugget + psill * (1.0 - np.exp(-d / vrange))
    elif model == "spherical":
        h = np.minimum(d / vrange, 1.0)
        g = nugget + psill * (1.5 * h - 0.5 * h * h * h)
    elif model == "gaussian":
        g = nugget + psill * (1.0 - np.exp(-(d * d) / (vrange * vrange)))
    else:
        raise ValueError(f"unknown variogram model {model!r}")
    return np.where(d > 0.0, g, 0.0)


def ordinary_krige(
    targets: DataFrame,
    stations: DataFrame,
    radius: float,
    k: int = 8,
    model: str = "exponential",
    nugget: float = 0.0,
    psill: float = 1.0,
    vrange: float = 1.0,
    res: int | None = None,
    target_id: str = "target_id",
    station_id: str = "station_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    value_col: str = "value",
) -> DataFrame:
    """Ordinary kriging with a local moving neighborhood (Cressie 1993;
    the textbook local-OK estimator every geostat package exposes):
    each target is predicted from its ``k`` nearest stations within
    ``radius`` by solving the (n+1)x(n+1) ordinary-kriging system

        [Gamma 1; 1' 0] [w; mu] = [gamma_t; 1]

    with the fitted variogram model (nugget/psill/vrange — fit them
    from ``empirical_variogram`` upstream). Emits
    (target_id, n_used, krige_value, krige_var), rounded to 6 decimals.

    Physical plan, scale-first:

    1. candidate pairs from the SAME exact 3x3 cell prune as
       ``idw_interpolate`` (cell edge >= radius, so no in-range station
       is missed) — the target side (the 10^12-row one) never explodes;
    2. top-k nearest per target via one window keyed on the target id
       (tie-broken on station id, so the neighbor SET is deterministic);
    3. neighbors collapse to ONE row per target (``sort_array`` over a
       struct keeps kernel input deterministic), so the Python boundary
       moves k*(dim+1) doubles per target, never the station table;
    4. an Arrow-batched kernel solves ALL same-size systems in one
       stacked ``np.linalg.solve`` call — per-target Python never runs.
       Singular stacks (duplicate station coordinates) fall back to
       per-item least squares rather than failing the batch.

    The n=1 degenerate system reduces to w=1, mu=gamma_1t (prediction =
    the lone station's value, variance 2*gamma_1t) — kept, it's the
    sparse-coverage audit lane; targets with NO station in radius drop
    out, same contract as ``idw_interpolate``'s min_stations.
    """
    import math

    if radius <= 0:
        raise ValueError("radius must be positive")
    if k <= 0:
        raise ValueError("k must be positive")
    if vrange <= 0:
        raise ValueError("vrange must be positive")
    if nugget < 0 or psill < 0 or nugget + psill <= 0:
        raise ValueError("need nugget >= 0, psill >= 0, nugget+psill > 0")
    _variogram_gamma_np(np.array([1.0]), model, nugget, psill, vrange)
    if res is None:
        res = int(math.floor(math.log2(360.0 / radius)))
    res = max(0, min(res, 28))
    size = 360.0 / (1 << res)
    if size < radius:
        raise ValueError(
            f"grid res {res} has cell edge {size} < radius {radius}: "
            "the 3x3 prune would miss in-range stations"
        )

    def ij(lon, lat):
        i = F.floor((lon + F.lit(180.0)) / F.lit(size)).cast("long")
        j = F.floor((lat + F.lit(90.0)) / F.lit(size)).cast("long")
        return i, j

    ti, tj = ij(F.col(lon_col), F.col(lat_col))
    t = targets.select(
        F.col(target_id),
        F.col(lon_col).alias("_tlon"),
        F.col(lat_col).alias("_tlat"),
        (ti * F.lit(1 << 31) + tj).alias("_cell"),
    )
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    si, sj = ij(F.col(lon_col), F.col(lat_col))
    s = stations.select(
        F.col(station_id).alias("_sid"),
        F.col(lon_col).alias("_slon"),
        F.col(lat_col).alias("_slat"),
        F.col(value_col).cast("double").alias("_v"),
        si.alias("_si"),
        sj.alias("_sj"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_sid",
        "_slon",
        "_slat",
        "_v",
        (
            (F.col("_si") + F.col("_o.di")) * F.lit(1 << 31)
            + (F.col("_sj") + F.col("_o.dj"))
        ).alias("_cell"),
    )
    dx = F.col("_tlon") - F.col("_slon")
    dy = F.col("_tlat") - F.col("_slat")
    d2 = dx * dx + dy * dy
    from pyspark.sql.window import Window

    cand = (
        t.join(s, "_cell")
        .filter(d2 <= F.lit(float(radius) * float(radius)))
        .select(
            target_id,
            "_sid",
            "_slon",
            "_slat",
            "_v",
            d2.alias("_d2"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(target_id).orderBy("_d2", "_sid")
            ),
        )
        .filter(F.col("_rn") <= F.lit(int(k)))
    )
    grouped = cand.groupBy(target_id).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_d2").alias("d2"),
                    F.col("_sid").cast("string").alias("sid"),
                    F.col("_slon").alias("slon"),
                    F.col("_slat").alias("slat"),
                    F.col("_v").alias("v"),
                )
            )
        ).alias("_nb")
    )

    mdl, ngt, psl, vrg = model, float(nugget), float(psill), float(vrange)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tids = pdf[target_id].to_numpy()
            nbs = pdf["_nb"].tolist()
            sizes = np.array([len(nb) for nb in nbs], dtype=np.int64)
            out_id: list = []
            out_n: list = []
            out_val: list = []
            out_var: list = []
            for n in np.unique(sizes):
                idx = np.nonzero(sizes == n)[0]
                m = len(idx)
                lon = np.empty((m, n))
                lat = np.empty((m, n))
                val = np.empty((m, n))
                dt = np.empty((m, n))
                for row, gi in enumerate(idx):
                    nb = nbs[gi]
                    get = (
                        (lambda e, f: e[f])
                        if isinstance(nb[0], dict)
                        else (lambda e, f: getattr(e, f))
                    )
                    lon[row] = [get(e, "slon") for e in nb]
                    lat[row] = [get(e, "slat") for e in nb]
                    val[row] = [get(e, "v") for e in nb]
                    dt[row] = np.sqrt([get(e, "d2") for e in nb])
                dss = np.sqrt(
                    (lon[:, :, None] - lon[:, None, :]) ** 2
                    + (lat[:, :, None] - lat[:, None, :]) ** 2
                )
                A = np.zeros((m, n + 1, n + 1))
                A[:, :n, :n] = _variogram_gamma_np(dss, mdl, ngt, psl, vrg)
                A[:, n, :n] = 1.0
                A[:, :n, n] = 1.0
                b = np.empty((m, n + 1))
                b[:, :n] = _variogram_gamma_np(dt, mdl, ngt, psl, vrg)
                b[:, n] = 1.0
                try:
                    x = np.linalg.solve(A, b[:, :, None])[:, :, 0]
                except np.linalg.LinAlgError:
                    x = np.stack(
                        [
                            np.linalg.lstsq(A[i], b[i], rcond=None)[0]
                            for i in range(m)
                        ]
                    )
                w, mu = x[:, :n], x[:, n]
                pred = (w * val).sum(axis=1)
                var = (w * b[:, :n]).sum(axis=1) + mu
                out_id.append(tids[idx])
                out_n.append(np.full(m, n, dtype=np.int32))
                out_val.append(np.round(pred, 6))
                out_var.append(np.round(var, 6))
            if out_id:
                yield pd.DataFrame(
                    {
                        target_id: np.concatenate(out_id),
                        "n_used": np.concatenate(out_n),
                        "krige_value": np.concatenate(out_val),
                        "krige_var": np.concatenate(out_var),
                    }
                )

    id_type = dict(grouped.dtypes)[target_id]
    return grouped.mapInPandas(
        kernel,
        schema=(
            f"{target_id} {id_type}, n_used int, "
            "krige_value double, krige_var double"
        ),
    )


def geometric_median(
    points: DataFrame,
    group_col: str = "group",
    iters: int = 3,
    lon_col: str = "lon",
    lat_col: str = "lat",
    eps: float = 1e-12,
) -> DataFrame:
    """Per-group geometric median (spatial central feature) via the
    Weiszfeld algorithm (Weiszfeld 1937, public) with a FIXED iteration
    count, so the whole computation is a finite Catalyst plan that an
    external SQL engine can replay iteration-for-iteration:

        m_0 = centroid;  m_{j+1} = sum(p_i/d_i) / sum(1/d_i),
        d_i = max(|p_i - m_j|, eps)

    Emits (group, n_points, med_lon, med_lat), rounded to 6 decimals.
    The median minimizes summed Euclidean distance — the right "central
    point" for dispatch/placement questions where the MEAN is skew-
    dragged (same motivation as std_ellipse's centrography lane).

    Scale shape: the points table is aggregated ``iters + 1`` times,
    each a map-side-combinable groupBy on the group key (partial
    aggregation does the heavy lifting; no pair blowup, no window). The
    per-group estimate frame (one row per group) re-enters each
    iteration through an explicit ``F.broadcast`` join, so the point
    table NEVER shuffles on anything but its group key. eps floors
    coincident points (the documented Weiszfeld singularity).
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    pts = points.select(
        F.col(group_col).alias("_g"),
        F.col(lon_col).cast("double").alias("_x"),
        F.col(lat_col).cast("double").alias("_y"),
    )
    est = pts.groupBy("_g").agg(
        F.avg("_x").alias("_mx"),
        F.avg("_y").alias("_my"),
        F.count(F.lit(1)).alias("_n"),
    )
    for _ in range(int(iters)):
        j = pts.join(F.broadcast(est.select("_g", "_mx", "_my")), "_g")
        dx = F.col("_x") - F.col("_mx")
        dy = F.col("_y") - F.col("_my")
        d = F.greatest(F.sqrt(dx * dx + dy * dy), F.lit(float(eps)))
        w = F.lit(1.0) / d
        est = j.groupBy("_g").agg(
            (F.sum(w * F.col("_x")) / F.sum(w)).alias("_mx"),
            (F.sum(w * F.col("_y")) / F.sum(w)).alias("_my"),
            F.count(F.lit(1)).alias("_n"),
        )
    return est.select(
        F.col("_g").alias(group_col),
        F.col("_n").alias("n_points"),
        F.round("_mx", 6).alias("med_lon"),
        F.round("_my", 6).alias("med_lat"),
    )


def gwr(
    targets: DataFrame,
    stations: DataFrame,
    bandwidth: float,
    radius: float | None = None,
    min_stations: int = 3,
    res: int | None = None,
    target_id: str = "target_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Geographically weighted regression (Brunsdon, Fotheringham &
    Charlton 1996; the classic local-coefficient-surface tool): at each
    target, a gaussian-distance-weighted simple OLS of station ``y`` on
    station ``x``:

        w_i = exp(-d_i^2 / (2 b^2)),  truncated at ``radius``
        (default 3b, where w < 0.012 — the documented approximation)

    solved in CLOSED FORM from six weighted sufficient statistics —
    slope = (Sw*Swxy - Swx*Swy) / (Sw*Swxx - Swx^2) etc. — so the whole
    operator is pure Catalyst: the idw cell prune (cell edge >= radius,
    provably lossless) + ONE target-keyed aggregation, zero Python,
    zero matrix solves. Emits (target_id, n_used, intercept, slope,
    local_r2), rounded to 6.

    Explicit degeneracy rules (mirroring stats.group_trend): targets
    with fewer than ``min_stations`` neighbors or zero weighted
    x-variance DROP (never NaN); constant-y targets emit local_r2 = 1.
    """
    import math

    if bandwidth <= 0:
        raise ValueError("bandwidth must be positive")
    if radius is None:
        radius = 3.0 * bandwidth
    if radius <= 0:
        raise ValueError("radius must be positive")
    if min_stations < 2:
        raise ValueError("min_stations must be >= 2")
    if res is None:
        res = int(math.floor(math.log2(360.0 / radius)))
    res = max(0, min(res, 28))
    size = 360.0 / (1 << res)
    if size < radius:
        raise ValueError(
            f"grid res {res} has cell edge {size} < radius {radius}: "
            "the 3x3 prune would miss in-range stations"
        )

    def ij(lon, lat):
        i = F.floor((lon + F.lit(180.0)) / F.lit(size)).cast("long")
        j = F.floor((lat + F.lit(90.0)) / F.lit(size)).cast("long")
        return i, j

    ti, tj = ij(F.col(lon_col), F.col(lat_col))
    t = targets.select(
        F.col(target_id),
        F.col(lon_col).alias("_tlon"),
        F.col(lat_col).alias("_tlat"),
        (ti * F.lit(1 << 31) + tj).alias("_cell"),
    )
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    si, sj = ij(F.col(lon_col), F.col(lat_col))
    s = stations.select(
        F.col(lon_col).alias("_slon"),
        F.col(lat_col).alias("_slat"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        si.alias("_si"),
        sj.alias("_sj"),
        F.explode(offsets).alias("_o"),
    ).select(
        "_slon",
        "_slat",
        "_x",
        "_y",
        (
            (F.col("_si") + F.col("_o.di")) * F.lit(1 << 31)
            + (F.col("_sj") + F.col("_o.dj"))
        ).alias("_cell"),
    )
    dx = F.col("_tlon") - F.col("_slon")
    dy = F.col("_tlat") - F.col("_slat")
    d2 = dx * dx + dy * dy
    w = F.exp(-d2 / F.lit(2.0 * float(bandwidth) * float(bandwidth)))
    x, y = F.col("_x"), F.col("_y")
    agg = (
        t.join(s, "_cell")
        .filter(d2 <= F.lit(float(radius) * float(radius)))
        .groupBy(target_id)
        .agg(
            F.count(F.lit(1)).alias("n_used"),
            F.sum(w).alias("_sw"),
            F.sum(w * x).alias("_swx"),
            F.sum(w * y).alias("_swy"),
            F.sum(w * x * x).alias("_swxx"),
            F.sum(w * x * y).alias("_swxy"),
            F.sum(w * y * y).alias("_swyy"),
        )
        .filter(F.col("n_used") >= F.lit(int(min_stations)))
    )
    sw = F.col("_sw")
    sxx_c = F.col("_swxx") - F.col("_swx") * F.col("_swx") / sw
    syy_c = F.col("_swyy") - F.col("_swy") * F.col("_swy") / sw
    sxy_c = F.col("_swxy") - F.col("_swx") * F.col("_swy") / sw
    slope = sxy_c / sxx_c
    intercept = (F.col("_swy") - slope * F.col("_swx")) / sw
    # the centered sums carry ~1e-16-relative rounding from the
    # irrational gaussian weights, so "zero variance" is a RELATIVE
    # test against the uncentered magnitude, never an exact == 0
    rel = F.lit(1e-12)
    y_const = syy_c <= rel * F.abs(F.col("_swyy"))
    x_const = sxx_c <= rel * F.abs(F.col("_swxx"))
    r2 = F.when(y_const, F.lit(1.0)).otherwise(
        sxy_c * sxy_c / (sxx_c * syy_c)
    )
    return (
        agg.filter(~x_const)
        .select(
            target_id,
            "n_used",
            F.round(intercept, 6).alias("intercept"),
            F.round(slope, 6).alias("slope"),
            F.round(r2, 6).alias("local_r2"),
        )
    )
