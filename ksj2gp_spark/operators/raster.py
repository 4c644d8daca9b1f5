"""Raster → vector: polygonize grid-cell rasters (north_star
"raster↔vector tile assignment", the inverse of the rasterize lane).

Given rows ``(cell, admin_code)`` on the square grid (geo/grid.py id
scheme), produce per-admin dissolved polygon rings:

* **Edge cancellation** (vectorized numpy): every cell contributes its
  4 directed CCW edges; an edge shared by two cells of the same admin
  appears once in each direction and cancels. Survivors are exactly
  the boundary.
* **Ring tracing** (loop over *boundary* edges only — O(perimeter),
  not O(area)): walk directed edges, at corner-touching vertices take
  the leftmost turn so rings stay simple and orientation-consistent.
  Outer rings come out CCW (positive shoelace area), holes CW
  (negative).

The signed ring areas therefore sum to exactly the cell count — which
makes the operator's correctness SQL-checkable: the DuckDB oracle
counts distinct raster cells per admin and must equal
``round(sum(area_cells))`` (see __spark_entry__ ``vectorize_admin``).

Distribution: ``applyInPandas`` grouped by ``admin_code`` — each admin
polygonizes independently; a 47-prefecture (or 10^5-admin) layer
parallelizes per group, and per-group work is bounded by the admin's
raster size. No driver-side geometry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..geo import grid, wkb

# turn preference: for incoming direction d, try left, straight, right.
_DIRS = ((1, 0), (0, 1), (-1, 0), (0, -1))  # E, N, W, S
_LEFT = {(1, 0): (0, 1), (0, 1): (-1, 0), (-1, 0): (0, -1), (0, -1): (1, 0)}
_RIGHT = {v: k for k, v in _LEFT.items()}


def boundary_edges(ii: np.ndarray, jj: np.ndarray):
    """Directed CCW boundary edges of the cell set. An edge lies on the
    boundary iff the neighbor across it is absent — four vectorized
    ``searchsorted`` membership probes over the packed cell keys
    (O(N log N), ~0.5 s for 2M cells; the naive 8M-directed-edge
    ``isin`` cancellation was 40× slower). Returns (ax, ay, bx, by)
    int64 arrays."""
    ii = np.asarray(ii, dtype=np.int64)
    jj = np.asarray(jj, dtype=np.int64)
    ox, oy = ii.min(), jj.min()
    m = np.int64(max(int(ii.max() - ox), int(jj.max() - oy)) + 3)
    keys = np.sort((ii - ox + 1) * m + (jj - oy + 1))

    def absent(ni: np.ndarray, nj: np.ndarray) -> np.ndarray:
        k = (ni - ox + 1) * m + (nj - oy + 1)
        pos = np.searchsorted(keys, k)
        pos_c = np.minimum(pos, len(keys) - 1)
        return keys[pos_c] != k

    # side → (neighbor offset, directed CCW edge endpoints)
    south = absent(ii, jj - 1)  # bottom: (i,j)→(i+1,j)
    east = absent(ii + 1, jj)   # right:  (i+1,j)→(i+1,j+1)
    north = absent(ii, jj + 1)  # top:    (i+1,j+1)→(i,j+1)
    west = absent(ii - 1, jj)   # left:   (i,j+1)→(i,j)
    ax = np.concatenate([ii[south], ii[east] + 1, ii[north] + 1, ii[west]])
    ay = np.concatenate([jj[south], jj[east], jj[north] + 1, jj[west] + 1])
    bx = np.concatenate([ii[south] + 1, ii[east] + 1, ii[north], ii[west]])
    by = np.concatenate([jj[south], jj[east] + 1, jj[north] + 1, jj[west]])
    return ax, ay, bx, by


def trace_rings(
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray
) -> list[np.ndarray]:
    """Assemble directed boundary edges into closed rings (leftmost-turn
    rule at degree-2 vertices). Returns rings as (n+1, 2) int arrays
    (first vertex repeated last)."""
    out_edges: dict[tuple[int, int], list[int]] = {}
    for e in range(len(ax)):
        out_edges.setdefault((int(ax[e]), int(ay[e])), []).append(e)
    used = np.zeros(len(ax), dtype=bool)
    rings: list[np.ndarray] = []
    for start in range(len(ax)):
        if used[start]:
            continue
        ring = [(int(ax[start]), int(ay[start]))]
        e = start
        while True:
            used[e] = True
            head = (int(bx[e]), int(by[e]))
            ring.append(head)
            if head == ring[0]:
                break
            cands = [c for c in out_edges.get(head, ()) if not used[c]]
            if not cands:
                raise ValueError("open ring — raster edges inconsistent")
            if len(cands) == 1:
                e = cands[0]
            else:
                # corner-touching cells: prefer leftmost turn
                din = (head[0] - int(ax[e]), head[1] - int(ay[e]))
                pref = (_LEFT[din], din, _RIGHT[din])
                by_dir = {
                    (int(bx[c]) - head[0], int(by[c]) - head[1]): c
                    for c in cands
                }
                e = next(by_dir[d] for d in pref if d in by_dir)
        rings.append(np.asarray(ring, dtype=np.int64))
    return rings


def _shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(
        np.sum(x[:-1] * y[1:] - x[1:] * y[:-1])
    )


def vectorize_cells(
    raster: DataFrame,
    res: int,
    admin_col: str = "admin_code",
    cell_col: str = "cell",
) -> DataFrame:
    """(cell, admin_code) raster → one row per boundary ring:
    ``(admin_code, ring_id, n_vertices, area_cells, geometry)`` with
    geometry as a WKB polygon of that ring in lon/lat degrees.
    ``area_cells`` is the signed shoelace area in cell units (outer
    rings positive, holes negative) — Σ area_cells = n distinct cells.
    """
    size = grid.cell_size(res)

    def polygonize(pdf: pd.DataFrame) -> pd.DataFrame:
        admin = pdf[admin_col].iloc[0]
        cells = np.unique(pdf[cell_col].to_numpy(dtype=np.int64))
        ii = (cells >> 29) & ((1 << 29) - 1)
        jj = cells & ((1 << 29) - 1)
        edges = boundary_edges(ii, jj)
        rings = trace_rings(*edges)
        rows = []
        for rid, ring in enumerate(rings):
            area = _shoelace(ring)
            lon = ring[:, 0] * size - 180.0
            lat = ring[:, 1] * size - 90.0
            geom_wkb = wkb.polygon(np.column_stack([lon, lat]))
            rows.append((admin, rid, len(ring) - 1, area, geom_wkb))
        return pd.DataFrame(
            rows,
            columns=[
                "admin_code",
                "ring_id",
                "n_vertices",
                "area_cells",
                "geometry",
            ],
        )

    return raster.groupBy(admin_col).applyInPandas(
        polygonize,
        schema=(
            "admin_code string, ring_id int, n_vertices int, "
            "area_cells double, geometry binary"
        ),
    )


# --- hierarchical cell compaction (H3-style compact/uncompact) --------
#
# compact: replace every complete 2×2 sibling group with its parent,
# repeatedly, producing the unique minimal mixed-resolution cover of
# the input cell set (promotion groups are disjoint per level, so the
# bottom-up closure is confluent — the result does not depend on
# promotion order). uncompact: the exact inverse back to a uniform
# resolution.
#
# Scale shape: ``compact_cells`` is ONE lazy plan of ``res`` map-side-
# combinable groupBys over geometrically shrinking data (no driver
# actions, no collect); ``uncompact_cells`` is a narrow explode chain
# (zero shuffle).

from pyspark.sql import functions as F

_RES_SHIFT = 58
_IJ_BITS = 29
_IJ_MASK = (1 << _IJ_BITS) - 1


def _decompose(df: DataFrame, cell_col: str) -> DataFrame:
    c = F.col(cell_col)
    return df.withColumns(
        {
            "_res": F.shiftright(c, _RES_SHIFT).cast("int"),
            "_i": F.shiftright(c, _IJ_BITS).bitwiseAND(F.lit(_IJ_MASK)),
            "_j": c.bitwiseAND(F.lit(_IJ_MASK)),
        }
    )


def _encode(res_expr, i_expr, j_expr):
    return (
        F.shiftleft(res_expr.cast("long"), _RES_SHIFT)
        + F.shiftleft(i_expr, _IJ_BITS)
        + j_expr
    ).alias("cell")


def compact_cells(
    df: DataFrame,
    res: int,
    group_cols: tuple[str, ...] = ("admin_code",),
    cell_col: str = "cell",
) -> DataFrame:
    """Compact a uniform-``res`` grid-cell set (geo/grid.py ids) into
    the minimal mixed-resolution cover, independently per
    ``group_cols`` group. Output: (*group_cols, cell) with mixed-res
    cell ids covering exactly the input area."""
    gc = list(group_cols)
    cur = _decompose(df.select(*gc, cell_col).distinct(), cell_col).select(
        *gc, "_i", "_j"
    )
    finals = []
    for r in range(res, 0, -1):
        agg = cur.groupBy(
            *gc,
            F.shiftright("_i", 1).alias("_pi"),
            F.shiftright("_j", 1).alias("_pj"),
        ).agg(
            F.count(F.lit(1)).alias("_n"),
            F.collect_list(F.struct("_i", "_j")).alias("_ch"),
        )
        incomplete = (
            agg.filter(F.col("_n") < 4)
            .select(*gc, F.explode("_ch").alias("_c"))
            .select(
                *gc,
                _encode(F.lit(r), F.col("_c._i"), F.col("_c._j")),
            )
        )
        finals.append(incomplete)
        cur = agg.filter(F.col("_n") == 4).select(
            *gc, F.col("_pi").alias("_i"), F.col("_pj").alias("_j")
        )
    finals.append(cur.select(*gc, _encode(F.lit(0), F.col("_i"), F.col("_j"))))
    out = finals[0]
    for f in finals[1:]:
        out = out.unionByName(f)
    return out


def uncompact_cells(
    df: DataFrame,
    target_res: int,
    group_cols: tuple[str, ...] = ("admin_code",),
    cell_col: str = "cell",
) -> DataFrame:
    """Expand mixed-resolution cells back to uniform ``target_res`` —
    the inverse of ``compact_cells``. Single pass: each cell at res r
    explodes directly into its 2^(target-r) × 2^(target-r) descendant
    block (two ``sequence`` explodes — one per axis), so the plan is
    ONE narrow Generate chain regardless of target_res. (A per-level
    loop that unions "done" and "expanded" branches re-references its
    own plan twice per level → 2^target_res source scans.)

    Cells already at or finer than ``target_res`` pass through
    unchanged (the compact loop's "done" semantics): the exponent is
    clamped at 0 so their block is 1×1 and the re-encode keeps their
    OWN resolution — an unclamped 2^(target-res) would cast to 0 and
    Spark's sequence(0, -1) counts DOWN, emitting garbage cells."""
    gc = list(group_cols)
    cur = _decompose(df.select(*gc, cell_col), cell_col).select(
        *gc, "_res", "_i", "_j"
    )
    side = F.pow(
        F.lit(2.0),
        F.greatest(F.lit(target_res) - F.col("_res"), F.lit(0)),
    ).cast("long")
    out_res = F.greatest(F.lit(target_res), F.col("_res"))
    return (
        cur.withColumn("_side", side)
        .withColumn(
            "_dx",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_side") - 1)),
        )
        .withColumn(
            "_dy",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_side") - 1)),
        )
        .select(
            *gc,
            _encode(
                out_res,
                F.col("_i") * F.col("_side") + F.col("_dx"),
                F.col("_j") * F.col("_side") + F.col("_dy"),
            ),
        )
    )


def cell_centers(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Add the cell's center point (``lon``, ``lat``) — works on mixed
    resolutions (each row uses its own cell size). Pure codegen
    arithmetic, exactly the inverse of geo/grid.py's floor binning."""
    d = _decompose(df, cell_col)
    size = F.lit(360.0) / F.pow(F.lit(2.0), F.col("_res"))
    return d.select(
        *df.columns,
        ((F.col("_i") + F.lit(0.5)) * size - F.lit(180.0)).alias("lon"),
        ((F.col("_j") + F.lit(0.5)) * size - F.lit(90.0)).alias("lat"),
    )


def zonal_stats(
    raster: DataFrame,
    polygons_pdf,
    value_col: str = "value",
    cell_col: str = "cell",
    scheme: str = "grid",
    res: int | None = None,
    admin_col: str = "行政区域コード",
) -> DataFrame:
    """Zonal statistics: aggregate a raster value field per polygon —
    each cell contributes to the polygon containing its CENTER (the
    standard zonal rule), assigned through the SAME exact-PIP join the
    tile lane uses (cell-keyed broadcast candidates → vectorized
    covers refine — concave/holed zones are exact, not bbox-approx).

    Returns (polygon_id, admin_code, n_cells, sum_val, min_val,
    max_val). The value rides THROUGH the candidate join and refine
    (refine_pip's out_cols), so there is no join-back of the
    raster-sized table afterwards — one broadcast join + one shuffle
    for the final per-zone aggregate.
    """
    from . import spatial as sp
    from .cells import normalize_polygons, polygon_cover_pdf, with_cell

    spark = raster.sparkSession
    if res is None:
        res = sp.DEFAULT_RES[scheme]
    polys = normalize_polygons(polygons_pdf)
    cover = spark.createDataFrame(
        polygon_cover_pdf(polys, scheme, res, extra_cols=(admin_col,))
    )
    pts = cell_centers(
        raster.select(
            F.col(cell_col).alias("_zcell"), F.col(value_col).alias("_zval")
        ),
        "_zcell",
    )
    cand = sp.candidate_join(with_cell(pts, scheme, res), cover)
    refined = sp.refine_pip(
        cand, polys, ["_zcell", "_zval", "polygon_id", admin_col]
    )
    return (
        refined.groupBy("polygon_id", admin_col)
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("_zval").alias("sum_val"),
            F.min("_zval").alias("min_val"),
            F.max("_zval").alias("max_val"),
        )
        .withColumnRenamed(admin_col, "admin_code")
    )


def rasterize_layer(
    spark,
    polygons_pdf,
    res: int,
    admin_col: str = "行政区域コード",
) -> DataFrame:
    """Exact polygon rasterization: every grid cell (geo/grid.py ids at
    ``res``) whose CENTER a polygon covers → (cell, polygon_id,
    admin_code). The cell grid spans the layer's bbox and is generated
    relationally (range × range — no driver-side cell list); center
    assignment goes through the same candidate-join + vectorized-covers
    refine as the tile lane, so concave/holed layers rasterize
    exactly."""
    from ..geo import wkb as _wkb
    from ..geo.cover import flatten
    from . import spatial as sp
    from .cells import normalize_polygons, polygon_cover_pdf, with_cell

    polys = normalize_polygons(polygons_pdf)
    size = 360.0 / (1 << res)
    # the layer extent over every ring vertex; empty polygons add none
    geoms = [_wkb.loads(bytes(b)) for b in polys["geometry"]]
    x, y = flatten(geoms)[:2]
    if not len(x):  # no polygon has area: empty result, not inf//size
        return spark.createDataFrame(
            [], "cell long, polygon_id string, admin_code string"
        )
    i0, i1 = int((x.min() + 180.0) // size), int((x.max() + 180.0) // size)
    j0, j1 = int((y.min() + 90.0) // size), int((y.max() + 90.0) // size)
    cells = (
        spark.range(i0, i1 + 1)
        .select(F.col("id").alias("_i"))
        .crossJoin(spark.range(j0, j1 + 1).select(F.col("id").alias("_j")))
        .select(
            _encode(F.lit(res), F.col("_i"), F.col("_j")).alias("_rcell"),
            ((F.col("_i") + F.lit(0.5)) * size - 180.0).alias("lon"),
            ((F.col("_j") + F.lit(0.5)) * size - 90.0).alias("lat"),
        )
    )
    join_res = sp.DEFAULT_RES["grid"]
    cover = spark.createDataFrame(
        polygon_cover_pdf(
            polys, "grid", join_res, extra_cols=(admin_col,), geoms=geoms
        )
    )
    cand = sp.candidate_join(with_cell(cells, "grid", join_res), cover)
    refined = sp.refine_pip(
        cand, polys, ["_rcell", "polygon_id", admin_col]
    )
    return refined.select(
        F.col("_rcell").alias("cell"),
        "polygon_id",
        F.col(admin_col).alias("admin_code"),
    )


def dissolve(
    spark,
    polygons_pdf,
    res: int,
    group_expr,
    admin_col: str = "行政区域コード",
) -> DataFrame:
    """Dissolve (merge) polygons by a group expression at grid
    resolution ``res``: rasterize the layer exactly (center-in), relabel
    each cell with ``group_expr`` (a Column over ``admin_code``), and
    polygonize per group — shared boundaries BETWEEN same-group
    polygons cancel in the edge-cancellation pass, so adjacent members
    fuse into one ring (the defining dissolve behavior). Returns
    vectorize_cells' ring rows keyed by the group value in
    ``admin_code``; Σ area_cells per group = the group's distinct cell
    count (the SQL-checkable invariant)."""
    ras = rasterize_layer(spark, polygons_pdf, res, admin_col=admin_col)
    regrouped = ras.select(
        group_expr.alias("admin_code"), "cell"
    ).dropDuplicates(["admin_code", "cell"])
    return vectorize_cells(regrouped, res)


def slope_aspect(
    raster: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Slope / aspect map algebra over a sparse grid raster — Horn's
    1981 third-order finite difference (the standard desktop-GIS
    terrain operator), distributed as a scatter-gather: every cell
    scatters its value to its 9-cell Moore neighborhood tagged with
    the receiver-relative offset, ONE
    map-side-combinable groupBy reassembles each center's 3x3 window
    via conditional sums, and ONLY cells with the full 9-cell window
    emit (the explicit exact-lane rule — edge cells drop rather than
    extrapolate). The weight matrix / dense raster never materializes;
    zero driver collects; zero Python.

    With i→x (lon, cell width 360/2^res deg) and j→y (lat):

        gx = ((z[+1,-1] + 2 z[+1,0] + z[+1,+1])
              - (z[-1,-1] + 2 z[-1,0] + z[-1,+1])) / (8 s)
        gy = ((z[-1,+1] + 2 z[0,+1] + z[+1,+1])
              - (z[-1,-1] + 2 z[0,-1] + z[+1,-1])) / (8 s)

    Output: (cell, dzdx, dzdy, slope_deg, aspect_deg), round 6.
    slope = atan(|∇z|) in degrees; aspect = atan2(gy, gx) in degrees —
    the UPHILL gradient direction, math convention (CCW from east),
    0 for exactly flat windows (atan2(0,0) = 0 in Spark and ANSI SQL
    alike, so the rule is engine-portable).
    """
    if not (0 <= res <= 28):
        raise ValueError("res must be in 0..28")
    size = 360.0 / (1 << res)
    d = _decompose(raster.select(cell_col, value_col), cell_col)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    )
    scat = d.select(
        F.col(value_col).alias("_v"),
        F.explode(offsets).alias("_o"),
        "_i",
        "_j",
    ).select(
        "_v",
        # receiver center; the value's offset AS SEEN FROM the center
        # is the negation of the scatter direction
        _encode(
            F.lit(int(res)),
            F.col("_i") + F.col("_o.di"),
            F.col("_j") + F.col("_o.dj"),
        ),
        (-F.col("_o.di")).alias("_di"),
        (-F.col("_o.dj")).alias("_dj"),
    )

    def z(di: int, dj: int):
        return F.sum(
            F.when(
                (F.col("_di") == di) & (F.col("_dj") == dj), F.col("_v")
            )
        )

    g = scat.groupBy("cell").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            z(di, dj).alias(f"_z_{di + 1}_{dj + 1}")
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
        ],
    )

    def zc(di: int, dj: int):
        return F.col(f"_z_{di + 1}_{dj + 1}")

    gx = (
        (zc(1, -1) + F.lit(2.0) * zc(1, 0) + zc(1, 1))
        - (zc(-1, -1) + F.lit(2.0) * zc(-1, 0) + zc(-1, 1))
    ) / F.lit(8.0 * size)
    gy = (
        (zc(-1, 1) + F.lit(2.0) * zc(0, 1) + zc(1, 1))
        - (zc(-1, -1) + F.lit(2.0) * zc(0, -1) + zc(1, -1))
    ) / F.lit(8.0 * size)
    deg = F.lit(180.0 / 3.141592653589793)
    return (
        g.filter(F.col("_n") == 9)
        .select(
            "cell",
            F.round(gx, 6).alias("dzdx"),
            F.round(gy, 6).alias("dzdy"),
            F.round(F.atan(F.sqrt(gx * gx + gy * gy)) * deg, 6).alias(
                "slope_deg"
            ),
            F.round(F.atan2(gy, gx) * deg, 6).alias("aspect_deg"),
        )
    )


def dilate_cells(
    df: DataFrame,
    rings: int,
    group_cols: tuple[str, ...] = (),
    cell_col: str = "cell",
) -> DataFrame:
    """Morphological DILATION of a uniform-res grid-cell set by
    ``rings`` Chebyshev rings — the cell-space buffer: a polygon's
    cover dilated by ceil(distance/cell_size) rings contains the true
    distance-buffer's cover (outer approximation, one cell of slack;
    the resolution, not the operator, sets the error bound). Explode
    each cell into its (2r+1)^2 neighborhood map-side, ONE distinct per
    group — the classic explode-then-dedup shape; per-cell fanout is a
    plan-time constant.
    """
    if rings < 0:
        raise ValueError("rings must be >= 0")
    if rings > 8:
        raise ValueError(
            "rings > 8 explodes >289x per cell: dilate at a coarser res "
            "instead (same geometry, bounded fanout)"
        )
    gc = list(group_cols)
    d = _decompose(df.select(*gc, cell_col).distinct(), cell_col)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in range(-rings, rings + 1)
          for dj in range(-rings, rings + 1)]
    )
    ni = F.col("_i") + F.col("_o.di")
    nj = F.col("_j") + F.col("_o.dj")
    i_n = F.expr("shiftleft(1L, _res)")
    j_n = F.greatest(F.expr("shiftleft(1L, _res - 1)"), F.lit(1).cast("long"))
    return (
        d.select(*gc, "_res", "_i", "_j", F.explode(offsets).alias("_o"))
        # off-grid neighbors are dropped, never wrapped or clamped
        .filter((ni >= 0) & (ni < i_n) & (nj >= 0) & (nj < j_n))
        .select(*gc, _encode(F.col("_res"), ni, nj))
        .distinct()
    )


def erode_cells(
    df: DataFrame,
    rings: int,
    group_cols: tuple[str, ...] = (),
    cell_col: str = "cell",
) -> DataFrame:
    """Morphological EROSION by ``rings`` Chebyshev rings: keep a cell
    iff its whole (2r+1)^2 neighborhood is present (per group). Same
    scatter as dilate_cells plus ONE count groupBy — a cell receives
    one token from each present neighbor, and survives on a full count.
    ``dilate_cells`` then ``erode_cells`` (closing) fills pinholes and
    channels narrower than 2*rings cells, the classic cleanup before
    ``vectorize_cells``.
    """
    if rings < 0:
        raise ValueError("rings must be >= 0")
    if rings > 8:
        raise ValueError(
            "rings > 8 explodes >289x per cell: erode at a coarser res "
            "instead (same geometry, bounded fanout)"
        )
    gc = list(group_cols)
    full = (2 * rings + 1) ** 2
    d = _decompose(df.select(*gc, cell_col).distinct(), cell_col)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in range(-rings, rings + 1)
          for dj in range(-rings, rings + 1)]
    )
    scat = d.select(
        *gc, "_res", "_i", "_j", F.explode(offsets).alias("_o")
    ).select(
        *gc,
        _encode(
            F.col("_res"),
            F.col("_i") + F.col("_o.di"),
            F.col("_j") + F.col("_o.dj"),
        ),
    )
    counts = scat.groupBy(*gc, "cell").agg(F.count(F.lit(1)).alias("_n"))
    present = d.select(*gc, _encode(F.col("_res"), F.col("_i"), F.col("_j")))
    return (
        counts.filter(F.col("_n") == F.lit(full))
        .join(present, gc + ["cell"], "left_semi")
        .select(*gc, "cell")
    )


def zonal_quantiles(
    raster: DataFrame,
    polygons_pdf,
    qs: list[float],
    value_col: str = "value",
    cell_col: str = "cell",
    scheme: str = "grid",
    res: int | None = None,
    admin_col: str = "行政区域コード",
) -> DataFrame:
    """EXACT zonal quantiles — the distributional complement to
    ``zonal_stats`` (a zone's median land value, p90 elevation):
    each cell assigns to the polygon containing its center through the
    SAME exact-PIP candidate join, then per-zone exact lower-quantile
    elements come from ``stats.exact_group_quantiles`` — BIGINT rank
    arithmetic, no float ceil drift, engine-portable by construction.
    Returns (polygon_id, admin_code, q, value). The per-zone window is
    the documented exact lane (rank needs a zone-keyed sort); an
    approximate-percentile path would trade that for one aggregation —
    the exact form is the oracle-checkable contract.
    """
    from . import spatial as spx
    from .cells import normalize_polygons, polygon_cover_pdf, with_cell
    from .stats import exact_group_quantiles

    spark = raster.sparkSession
    if res is None:
        res = spx.DEFAULT_RES[scheme]
    polys = normalize_polygons(polygons_pdf)
    cover = spark.createDataFrame(
        polygon_cover_pdf(polys, scheme, res, extra_cols=(admin_col,))
    )
    pts = cell_centers(
        raster.select(
            F.col(cell_col).alias("_zcell"), F.col(value_col).alias("_zval")
        ),
        "_zcell",
    )
    cand = spx.candidate_join(with_cell(pts, scheme, res), cover)
    refined = spx.refine_pip(
        cand, polys, ["_zval", "polygon_id", admin_col]
    )
    return exact_group_quantiles(
        refined.withColumnRenamed(admin_col, "admin_code"),
        ["polygon_id", "admin_code"],
        "_zval",
        qs,
    )


# --- marching-squares contours -----------------------------------------
#
# ONE case table drives BOTH engines: `contour_segments` unrolls it
# into Catalyst CASE expressions, `contour_pairs_sql_case` into the
# oracle's ANSI SQL — parity at the generator level, like geohash.
# Corner bits (set = value >= level): b0=v00 (SW), b1=v10 (SE),
# b2=v11 (NE), b3=v01 (NW). Edges: S (v00-v10), E (v10-v11),
# N (v01-v11), W (v00-v01). Saddles (cases 5 and 10) use the FIXED
# separate-the-inside-corners rule — deterministic, no center probe.

CONTOUR_CASES: dict[int, tuple[str, ...]] = {
    0: (), 15: (),
    1: ("WS",), 14: ("WS",),
    2: ("SE",), 13: ("SE",),
    3: ("WE",), 12: ("WE",),
    4: ("EN",), 11: ("EN",),
    6: ("SN",), 9: ("SN",),
    7: ("WN",), 8: ("WN",),
    5: ("WS", "EN"),
    10: ("SE", "NW"),
}
# normalize two-char codes: each segment joins two distinct edges;
# "NW" in case 10 is the (N, W) pair.


def contour_pairs_sql_case(case_expr: str, slot: int) -> str:
    """SQL CASE yielding the 2-char edge-pair code for segment
    ``slot`` (0 or 1) of a marching-squares case, or NULL."""
    arms = []
    for c, pairs in sorted(CONTOUR_CASES.items()):
        if len(pairs) > slot:
            arms.append(f"WHEN {c} THEN '{pairs[slot]}'")
    return f"CASE {case_expr} " + " ".join(arms) + " ELSE NULL END"


def contour_segments(
    raster: DataFrame,
    res: int,
    levels: list[float],
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Marching-squares contour extraction (Lorensen & Cline lineage,
    public-domain 2-D case) over a sparse grid raster: for every level
    and every 2x2 block whose FOUR corner cells are present (the
    explicit exact-lane rule — partial blocks drop, never extrapolate),
    emit the isoline segments with linear edge interpolation. Corners
    sit at cell centers. Output: (level, x1, y1, x2, y2), endpoints
    canonically ordered (lexicographic) and rounded to 6.

    Fully relational, zero Python: cells scatter to the <=4 blocks
    they corner (plan-time constant fanout), ONE map-side-combinable
    groupBy assembles (v00, v10, v01, v11), the per-level case id and
    edge-pair selection unroll from CONTOUR_CASES into codegen CASE
    expressions, and interpolation is +,-,*,/ only — every double is
    bit-identical in any IEEE engine, which is what lets the oracle
    replay segments VALUE-exactly, not just count-exactly.
    """
    if not levels:
        raise ValueError("levels must be non-empty")
    if not (0 <= res <= 28):
        raise ValueError("res must be in 0..28")
    size = 360.0 / (1 << res)
    d = _decompose(raster.select(cell_col, value_col), cell_col)
    offsets = F.array(
        *[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
          for di in (0, 1) for dj in (0, 1)]
    )
    scat = d.select(
        F.col(value_col).cast("double").alias("_v"),
        F.explode(offsets).alias("_o"),
        "_i",
        "_j",
    ).select(
        "_v",
        # block anchor = this cell minus its corner offset
        (F.col("_i") - F.col("_o.di")).alias("_bi"),
        (F.col("_j") - F.col("_o.dj")).alias("_bj"),
        F.col("_o.di").alias("_ci"),
        F.col("_o.dj").alias("_cj"),
    )

    def corner(ci: int, cj: int):
        return F.sum(
            F.when(
                (F.col("_ci") == ci) & (F.col("_cj") == cj), F.col("_v")
            )
        )

    blocks = scat.groupBy("_bi", "_bj").agg(
        F.count(F.lit(1)).alias("_n"),
        corner(0, 0).alias("_v00"),
        corner(1, 0).alias("_v10"),
        corner(0, 1).alias("_v01"),
        corner(1, 1).alias("_v11"),
    ).filter(F.col("_n") == 4)
    lv = blocks.select(
        "*", F.explode(F.array(*[F.lit(float(l)) for l in levels])).alias("_L")
    )
    L = F.col("_L")
    case_id = (
        (F.col("_v00") >= L).cast("int")
        + (F.col("_v10") >= L).cast("int") * 2
        + (F.col("_v11") >= L).cast("int") * 4
        + (F.col("_v01") >= L).cast("int") * 8
    )
    tagged = lv.select("*", case_id.alias("_case"))

    def pair_col(slot: int):
        expr = F.lit(None).cast("string")
        for c, pairs in sorted(CONTOUR_CASES.items()):
            if len(pairs) > slot:
                expr = F.when(F.col("_case") == c, F.lit(pairs[slot])).otherwise(expr)
        return expr

    seg = tagged.select(
        "*",
        F.explode(
            F.array(pair_col(0), pair_col(1))
        ).alias("_pair"),
    ).filter(F.col("_pair").isNotNull())

    cx = (F.col("_bi") + F.lit(0.5)) * F.lit(size) - F.lit(180.0)
    cy = (F.col("_bj") + F.lit(0.5)) * F.lit(size) - F.lit(90.0)
    s = F.lit(size)

    def endpoint(edge_char):
        # returns (x, y) expressions for the crossing on the edge
        tS = (L - F.col("_v00")) / (F.col("_v10") - F.col("_v00"))
        tE = (L - F.col("_v10")) / (F.col("_v11") - F.col("_v10"))
        tN = (L - F.col("_v01")) / (F.col("_v11") - F.col("_v01"))
        tW = (L - F.col("_v00")) / (F.col("_v01") - F.col("_v00"))
        x = (
            F.when(edge_char == F.lit("S"), cx + tS * s)
            .when(edge_char == F.lit("E"), cx + s)
            .when(edge_char == F.lit("N"), cx + tN * s)
            .otherwise(cx)
        )
        y = (
            F.when(edge_char == F.lit("S"), cy)
            .when(edge_char == F.lit("E"), cy + tE * s)
            .when(edge_char == F.lit("N"), cy + s)
            .otherwise(cy + tW * s)
        )
        return x, y

    e1 = F.substring("_pair", 1, 1)
    e2 = F.substring("_pair", 2, 1)
    ax, ay = endpoint(e1)
    bx, by = endpoint(e2)
    swap = (ax > bx) | ((ax == bx) & (ay > by))
    return seg.select(
        F.col("_L").alias("level"),
        F.round(F.when(swap, bx).otherwise(ax), 6).alias("x1"),
        F.round(F.when(swap, by).otherwise(ay), 6).alias("y1"),
        F.round(F.when(swap, ax).otherwise(bx), 6).alias("x2"),
        F.round(F.when(swap, ay).otherwise(by), 6).alias("y2"),
    )
