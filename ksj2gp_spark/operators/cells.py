"""Cell-indexing operators: attach H3-style hex / S2 / grid cell ids to
point DataFrames and build polygon cell covers.

Spark mapping (SURVEY.md §2, operators "Index"):
* point → cell is a vectorized pandas UDF (Arrow batches, numpy inside;
  no per-row Python) — except the grid scheme, which is pure Catalyst
  integer arithmetic (whole-stage codegen, no Python at all).
* polygon → cover is one vectorised pass over the whole layer
  (``geo/cover.py``: scanline fill plus a band around the rasterised
  rings, no per-polygon Python); the polygons side of the join is small
  (KSJ admin layers), so covers are built driver-side and broadcast. A
  distributed ``mapInPandas`` path runs the same kernel per batch for
  large layers.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..geo import geom as geom_mod
from ..geo import cover as cover_mod
from ..geo import grid, hexgrid, s2, transform, wkb

SCHEMES = ("hex", "s2", "grid")


def _cell_fn(scheme: str, res: int):
    if scheme == "hex":
        return lambda lon, lat: hexgrid.latlng_to_cell(lon, lat, res)
    if scheme == "s2":
        return lambda lon, lat: s2.latlng_to_cell(lon, lat, res)
    if scheme == "grid":
        return lambda lon, lat: grid.latlng_to_cell(lon, lat, res)
    raise ValueError(f"unknown cell scheme: {scheme}")


def with_cell(
    df: DataFrame,
    scheme: str,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    out_col: str = "cell",
    crs: str | None = None,
) -> DataFrame:
    """Add a cell-id column. ``crs`` (e.g. "Tokyo") reprojects to WGS84
    inside the same Arrow batch before indexing."""
    if scheme == "grid":
        # Pure Catalyst: identical arithmetic to grid.oracle_sql_expr.
        size = 360.0 / (1 << res)
        i = F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(size)).cast("long")
        j = F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(size)).cast("long")
        return df.withColumn(
            out_col,
            (F.lit(res) * F.lit(1 << 58) + i * F.lit(1 << 29) + j).cast("long"),
        )

    fn = _cell_fn(scheme, res)
    crs_name = crs

    @pandas_udf("long")
    def cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        if crs_name:
            lo, la = transform.to_wgs84(lo, la, crs_name)
        return pd.Series(fn(lo, la))

    return df.withColumn(out_col, cell_udf(F.col(lon_col), F.col(lat_col)))


def grid_parent_col(cell, base_res: int, parent_res: int):
    """Catalyst expression for :func:`ksj2gp_spark.geo.grid.
    cell_to_parent` — pure bit arithmetic on the packed (res, i, j)
    id, whole-stage-codegen'd, no Python. ``base_res`` is the
    resolution of every input id (homogeneous by construction of
    ``with_cell``; Spark's shift operators take literal amounts)."""
    if not 0 <= parent_res <= base_res:
        raise ValueError(
            f"parent_res must be in [0, {base_res}], got {parent_res}"
        )
    shift = base_res - parent_res
    mask29 = (1 << 29) - 1
    i = F.shiftright(cell, 29).bitwiseAND(F.lit(mask29))
    j = cell.bitwiseAND(F.lit(mask29))
    return (
        F.lit(parent_res << 58)
        .bitwiseOR(F.shiftleft(F.shiftright(i, shift), 29))
        .bitwiseOR(F.shiftright(j, shift))
    )


def s2_parent_col(cell, level: int):
    """Catalyst expression for :func:`ksj2gp_spark.geo.s2.parent`:
    ``(id & -lsb) | lsb`` with ``lsb = 1 << 2*(30-level)`` — two's-
    complement bit math, valid for face-4/5 ids that wrap negative in
    int64. ``level`` must be ≤ the input ids' level."""
    if not 0 <= level <= s2.MAX_LEVEL:
        raise ValueError(f"level must be in [0, {s2.MAX_LEVEL}], got {level}")
    lsb = 1 << (2 * (s2.MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def cell_pyramid(
    df: DataFrame,
    levels: Iterable[int],
    scheme: str = "grid",
    base_res: int | None = None,
    cell_col: str = "cell",
    count_col: str = "n_points",
    weight_cols: Iterable[str] = (),
) -> DataFrame:
    """Multi-zoom tile pyramid: one output row per (level, ancestor
    cell) with the point count — the map-tile rollup a tiling service
    serves z0..zN from, computed in ONE aggregation. Each name in
    ``weight_cols`` adds a ``sum_<name>`` measure column (bytes per
    tile for storage planning, pixel budgets, weighted densities);
    weights ride the same map-side explode and partial-aggregate, so
    the plan is unchanged — still one shuffle for the whole pyramid.

    Plan shape (the 100 TB story): each input cell id explodes
    map-side into its ancestor id at every requested level via pure
    Catalyst bit arithmetic (``grid_parent_col`` / ``s2_parent_col``
    — zero Python in the plan, whole-stage codegen), then a single
    ``groupBy(level, cell).count()`` runs with map-side partial
    aggregation. One shuffle for the WHOLE pyramid; the rows entering
    it are the per-partition distinct (level, ancestor) pairs, not
    len(levels) × input — partial aggregation collapses them before
    the exchange. A per-level loop would pay len(levels) shuffles
    and rescan the input each time.

    ``scheme``: "grid" (``base_res`` required — the input ids'
    resolution) or "s2" (level is embedded in the id; every requested
    level must be ≤ the ids' level). The hex scheme has no closed-form
    parent (cf. hexgrid.cell_to_parent's lat/lng round-trip) and is
    deliberately not offered here.
    """
    levels = list(levels)
    if not levels:
        raise ValueError("levels must be non-empty")
    c = F.col(cell_col)
    if scheme == "grid":
        if base_res is None:
            raise ValueError("grid pyramid requires base_res")
        branches = [
            F.struct(
                F.lit(lv).alias("level"),
                grid_parent_col(c, base_res, lv).alias(cell_col),
            )
            for lv in levels
        ]
    elif scheme == "s2":
        branches = [
            F.struct(
                F.lit(lv).alias("level"),
                s2_parent_col(c, lv).alias(cell_col),
            )
            for lv in levels
        ]
    else:
        raise ValueError(
            f"cell_pyramid supports grid|s2, got {scheme!r}"
        )
    weight_cols = list(weight_cols)
    return (
        df.select(
            F.explode(F.array(*branches)).alias("_p"),
            *[F.col(w) for w in weight_cols],
        )
        .select("_p.level", f"_p.{cell_col}", *weight_cols)
        .groupBy("level", cell_col)
        .agg(
            F.count(F.lit(1)).alias(count_col),
            *[F.sum(w).alias(f"sum_{w}") for w in weight_cols],
        )
    )


def cover_fn(scheme: str, res: int):
    """One-polygon cover function (the layer kernel on a single
    geometry)."""
    if scheme not in SCHEMES:
        raise ValueError(f"unknown cell scheme: {scheme}")
    return lambda g: cover_mod.cover_geometry(g, scheme, res)


def normalize_polygons(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reproject polygon WKB to WGS84 per the ``crs`` column (Tokyo →
    Helmert; JGD2000/2011 identity — reference semantics)."""
    if "crs" not in pdf.columns:
        return pdf
    out = pdf.copy()
    geoms = []
    for buf, crs in zip(out["geometry"], out["crs"]):
        if crs == "Tokyo":
            buf = wkb.dumps(
                transform.tokyo_geometry_to_wgs84(wkb.loads(buf))
            )
        geoms.append(buf)
    out["geometry"] = geoms
    out["crs"] = "WGS84"
    return out


def simplify_polygons(pdf: pd.DataFrame, tol: float) -> pd.DataFrame:
    """Douglas-Peucker-simplify the WKB ``geometry`` column (driver-side;
    the polygon layer is broadcast-small). Shrinks the vertex payload
    the spatial join ships to every executor — KSJ coastline/admin
    rings carry survey-resolution vertex counts, and at ``tol`` below
    the cell size the candidate-join cover is unchanged while the PIP
    refine only moves classifications within ``tol`` of the boundary
    (the DP deviation guarantee, geo/geom.py:simplify_chain)."""
    if tol <= 0.0:
        return pdf
    out = pdf.copy()
    out["geometry"] = [
        wkb.dumps(geom_mod.simplify_geometry(wkb.loads(buf), tol))
        for buf in out["geometry"]
    ]
    return out


def polygon_cover_pdf(
    polygons: pd.DataFrame,
    scheme: str,
    res: int,
    id_col: str = "polygon_id",
    extra_cols: Iterable[str] = (),
    geoms: list[wkb.Geometry] | cover_mod.Rings | None = None,
) -> pd.DataFrame:
    """Driver-side cover: long (cell, polygon_id, *extra) DataFrame,
    polygons in layer order, each polygon's cells ascending. Built by
    one vectorised pass over the whole layer
    (:func:`ksj2gp_spark.geo.cover.cover_layer`); every cell the
    per-polygon sampling rule would keep is in it. The polygons layer
    is assumed broadcast-small (KSJ scale). ``geoms``, when given, are
    the decoded ``geometry`` column or its
    :func:`~ksj2gp_spark.geo.cover.flatten` (a caller that needs them
    too decodes and flattens the layer once)."""
    if geoms is None:
        geoms = [wkb.loads(buf) for buf in polygons["geometry"]]
    poly, cells = cover_mod.cover_layer(geoms, scheme, res)
    data = {"cell": cells, id_col: polygons[id_col].to_numpy()[poly]}
    for c in extra_cols:
        data[c] = polygons[c].to_numpy()[poly]
    return pd.DataFrame(data)


def polygon_cover_df(
    polygons: DataFrame,
    scheme: str,
    res: int,
    id_col: str = "polygon_id",
) -> DataFrame:
    """Distributed cover for large polygon layers: one mapInPandas
    pass, output long (cell, polygon_id); each Arrow batch of polygons
    goes through the layer kernel at once."""
    if scheme not in SCHEMES:
        raise ValueError(f"unknown cell scheme: {scheme}")

    def explode(batches):
        for pdf in batches:
            yield polygon_cover_pdf(pdf, scheme, res, id_col)

    return polygons.mapInPandas(explode, schema=f"cell long, {id_col} string")


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_layout(precision: int):
    if not (1 <= precision <= 12):
        raise ValueError("geohash precision must be in 1..12")
    total = 5 * precision
    nlon = (total + 1) // 2
    nlat = total // 2
    return total, nlon, nlat


def geohash_col(lon, lat, precision: int = 6):
    """Geohash (Niemeyer 2008, public domain) of a lon/lat point as a
    PURE Catalyst string column — no UDF, whole-stage codegen end to
    end, so encoding 10^12 points is a map-only pass.

    The standard construction: quantize lon to ceil(5p/2) bits and lat
    to floor(5p/2) bits, interleave starting with lon (bit 0 = MSB),
    emit 5-bit groups through the base-32 alphabet. The bit extraction
    unrolls at plan-build time (5p shift-and-mask terms) — constant
    folding keeps it one codegen stage. ``geohash_sql`` emits the
    IDENTICAL arithmetic as ANSI SQL so an external engine reproduces
    the strings bit for bit (same floor/clamp, same alphabet)."""
    total, nlon, nlat = _geohash_layout(precision)
    lon_q = F.greatest(
        F.lit(0),
        F.least(
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << nlon))),
            F.lit((1 << nlon) - 1),
        ),
    )
    lat_q = F.greatest(
        F.lit(0),
        F.least(
            F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << nlat))),
            F.lit((1 << nlat) - 1),
        ),
    )
    alpha = F.array(*[F.lit(ch) for ch in GEOHASH_ALPHABET])
    chars = []
    for c in range(precision):
        val = F.lit(0)
        for b in range(5):
            g = 5 * c + b
            if g % 2 == 0:
                src, shift = lon_q, nlon - 1 - g // 2
            else:
                src, shift = lat_q, nlat - 1 - (g - 1) // 2
            bit = F.shiftright(src.cast("long"), shift).bitwiseAND(F.lit(1))
            val = val + bit * F.lit(1 << (4 - b))
        chars.append(F.element_at(alpha, val.cast("int") + F.lit(1)))
    return F.concat(*chars)


def geohash_sql(lon_expr: str, lat_expr: str, precision: int = 6) -> str:
    """The DuckDB/ANSI-SQL twin of ``geohash_col`` — generated from the
    SAME bit layout, used by oracle queries to replay the encoding."""
    total, nlon, nlat = _geohash_layout(precision)
    lon_q = (
        f"GREATEST(0, LEAST(CAST(floor(({lon_expr} + 180.0) / 360.0 * "
        f"{float(1 << nlon)}) AS BIGINT), {(1 << nlon) - 1}))"
    )
    lat_q = (
        f"GREATEST(0, LEAST(CAST(floor(({lat_expr} + 90.0) / 180.0 * "
        f"{float(1 << nlat)}) AS BIGINT), {(1 << nlat) - 1}))"
    )
    parts = []
    for c in range(precision):
        terms = []
        for b in range(5):
            g = 5 * c + b
            if g % 2 == 0:
                src, shift = "lonq", nlon - 1 - g // 2
            else:
                src, shift = "latq", nlat - 1 - (g - 1) // 2
            terms.append(f"(({src} >> {shift}) & 1) * {1 << (4 - b)}")
        val = " + ".join(terms)
        parts.append(
            f"substr('{GEOHASH_ALPHABET}', CAST({val} AS INT) + 1, 1)"
        )
    concat = " || ".join(parts)
    return (
        f"(SELECT {concat} FROM (SELECT {lon_q} AS lonq, {lat_q} AS latq) _gh)"
    )


def geohash_np(
    lon: np.ndarray, lat: np.ndarray, precision: int = 6
) -> np.ndarray:
    """Vectorized numpy geohash — the SAME bit layout as
    ``geohash_col`` / ``geohash_sql`` (quantize, clamp, interleave,
    base-32), used by the SQL-surface registration so ``spark.sql``
    and DataFrame results are identical by construction."""
    total, nlon, nlat = _geohash_layout(precision)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lon_q = np.clip(
        np.floor((lon + 180.0) / 360.0 * float(1 << nlon)).astype(np.int64),
        0,
        (1 << nlon) - 1,
    )
    lat_q = np.clip(
        np.floor((lat + 90.0) / 180.0 * float(1 << nlat)).astype(np.int64),
        0,
        (1 << nlat) - 1,
    )
    alpha = np.frombuffer(GEOHASH_ALPHABET.encode(), dtype=np.uint8)
    chars = np.empty((precision, len(lon)), dtype=np.uint8)
    for c in range(precision):
        val = np.zeros(len(lon), dtype=np.int64)
        for b in range(5):
            g = 5 * c + b
            if g % 2 == 0:
                bit = (lon_q >> (nlon - 1 - g // 2)) & 1
            else:
                bit = (lat_q >> (nlat - 1 - (g - 1) // 2)) & 1
            val += bit << (4 - b)
        chars[c] = alpha[val]
    return chars.T.copy().view(f"S{precision}")[:, 0].astype(str)
