"""Square lon/lat grid cells — the SQL-expressible index lane.

Cell at resolution ``r``: the lon/lat plane is divided into squares of
``360 / 2**r`` degrees. The id packs ``(r, i, j)`` into an int64 with
pure integer arithmetic so an ANSI-SQL oracle (DuckDB) can compute the
identical id:

    size = 360.0 / 2^r
    i = floor((lon + 180) / size)         -- 0 .. 2^r - 1
    j = floor((lat + 90)  / size)         -- 0 .. 2^(r-1)
    id = r * 2^58 + i * 2^29 + j

This is the join key used by the oracle-checked spatial queries; the
hex/S2 lanes provide the production-grade equal-area-ish indexes.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28


def cell_size(res: int) -> float:
    return 360.0 / (1 << res)


def latlng_to_cell(
    lons: np.ndarray, lats: np.ndarray, res: int
) -> np.ndarray:
    """Vectorized point → grid cell id."""
    size = cell_size(res)
    i = np.floor((np.asarray(lons, dtype=np.float64) + 180.0) / size).astype(
        np.int64
    )
    j = np.floor((np.asarray(lats, dtype=np.float64) + 90.0) / size).astype(
        np.int64
    )
    n = 1 << res
    i = np.clip(i, 0, n - 1)
    j = np.clip(j, 0, n - 1)
    return (int(res) << 58) | (i << 29) | j


def cell_to_parent(cells: np.ndarray, parent_res: int) -> np.ndarray:
    cells = np.asarray(cells, dtype=np.int64)
    res = (cells >> 58).astype(np.int64)
    i = (cells >> 29) & ((1 << 29) - 1)
    j = cells & ((1 << 29) - 1)
    shift = res - parent_res
    return (int(parent_res) << 58) | ((i >> shift) << 29) | (j >> shift)


def cell_center(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    cells = np.asarray(cells, dtype=np.int64)
    res = (cells >> 58).astype(np.int64)
    size = 360.0 / (1 << res)
    i = (cells >> 29) & ((1 << 29) - 1)
    j = cells & ((1 << 29) - 1)
    return (i + 0.5) * size - 180.0, (j + 0.5) * size - 90.0


def cover_bbox(
    minx: float, miny: float, maxx: float, maxy: float, res: int
) -> np.ndarray:
    """All cell ids intersecting a bbox (inclusive of edge cells)."""
    size = cell_size(res)
    i0 = int(np.floor((minx + 180.0) / size))
    i1 = int(np.floor((maxx + 180.0) / size))
    j0 = int(np.floor((miny + 90.0) / size))
    j1 = int(np.floor((maxy + 90.0) / size))
    ii, jj = np.meshgrid(
        np.arange(i0, i1 + 1, dtype=np.int64),
        np.arange(j0, j1 + 1, dtype=np.int64),
        indexing="ij",
    )
    return (int(res) << 58) | (ii.ravel() << 29) | jj.ravel()


def cover_geometry(geom, res: int) -> np.ndarray:
    """Cell ids forming a superset cover of a Polygon/MultiPolygon
    (ascending): the layer-wide kernel of :mod:`.cover` on one
    geometry, see there for the sampling rule and the superset proof."""
    from .cover import cover_geometry

    return cover_geometry(geom, "grid", res)


def oracle_sql_expr(lon_expr: str, lat_expr: str, res: int) -> str:
    """The DuckDB/ANSI-SQL expression computing the identical cell id."""
    size = f"(360.0 / {1 << res})"
    return (
        f"({res} * 288230376151711744 "  # 2^58
        f"+ CAST(floor(({lon_expr} + 180.0) / {size}) AS BIGINT) * 536870912 "
        f"+ CAST(floor(({lat_expr} + 90.0) / {size}) AS BIGINT))"
    )
