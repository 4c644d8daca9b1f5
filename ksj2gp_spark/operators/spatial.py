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

The module holds the tile job's joins and the joins built on the same
index: point-in-polygon tiles (broadcast and distributed), nearest-
polygon kNN for unmatched points (brute-force reference and pruned),
the fused assign-or-kNN pass over one ``PolygonIndex``, distance-within
joins, the temporal (validity-interval) tile join and polygon-polygon
overlap/overlay joins. After them come the point-pattern and areal
statistics (IDW, focal mean, Moran's I / LISA / Gi* / Geary's C /
General G / join counts, Ripley's K and cross-K, DBSCAN, KDE, emerging
hotspots, areal interpolation, Knox, quadrat test, standard deviational
ellipse, convex hulls), which the tile job does not use.
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
