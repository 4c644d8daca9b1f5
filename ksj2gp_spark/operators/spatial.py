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
overlap/overlay joins.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo import geom, wkb
from ..geo.cover import Rings, _ragged_index, flatten
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
    polys: pd.DataFrame, admin_col: str, geoms: list | Rings | None = None
) -> tuple[np.ndarray, np.ndarray, EdgeIndex]:
    """Per polygon, in layer order: its id and admin code, and the edge
    index of the layer (``geoms``: the decoded geometries or their
    flattened rings, if at hand) with kNN ties ranked in
    (admin_code, polygon_id) order, the tie order ``knn_join`` uses."""
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
        """Build and broadcast both halves from one decode and one
        flattening of the layer. The polygon side is built first; it is
        shipped on a pool thread (the JVM's share of a broadcast) while
        this thread builds and ships the cover (through the module's
        ``polygon_cover_pdf``)."""
        res = res if res is not None else DEFAULT_RES[scheme]
        polys = normalize_polygons(polygons_pdf)
        rings = flatten([wkb.loads(bytes(buf)) for buf in polys["geometry"]])
        side = _polygon_side(polys, admin_col, rings)
        sc = spark.sparkContext
        with ThreadPoolExecutor(1, thread_name_prefix="polygon_side") as pool:
            shipping = pool.submit(sc.broadcast, side)
            try:
                cover = polygon_cover_pdf(
                    polys.assign(_poly=np.arange(len(polys))), scheme, res,
                    id_col="_poly", geoms=rings,
                )
                cells = cover["cell"].to_numpy()
                order = np.argsort(cells, kind="stable")
                cell_poly = cover["_poly"].to_numpy()[order].astype(np.int32)
                shipped = sc.broadcast((cells[order], cell_poly))
            except BaseException:
                if shipping.exception() is None:
                    shipping.result().destroy()
                raise
        try:
            polygons = shipping.result()
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
