"""H3-style hexagonal cell index, from scratch in numpy.

The h3 library is not available in this environment, so the engine
implements its own hierarchical hex scheme with the same *operator
surface* H3 provides (latlng_to_cell, cell_to_parent, polygon_to_cells,
grid_disk, cell_to_latlng) and the same resolution scale: aperture-7
sizing where resolution ``r`` has hex edge ``10° / sqrt(7)**r`` — at
res 8 that is ~0.0042° ≈ 460 m, matching H3 res 8's ~461 m edge.

Geometry: pointy-top hexes in the lon/lat plane via axial coordinates
(q, r) with cube rounding (the standard hex-binning algorithm), packed
into an int64:

    id = (1 << 62) | (res << 54) | ((q + 2^26) << 27) | (r + 2^26)

Like real H3, parent/child containment is approximate (a child's area
may spill over its parent's boundary); the spatial-join design only
relies on same-resolution equality plus covering, never on exact
hierarchy, so this matches H3's own contract.
"""

from __future__ import annotations

import numpy as np

BASE_EDGE_DEG = 10.0
_SQRT3 = np.sqrt(3.0)
_OFF = 1 << 26
MAX_RES = 15


def edge_length(res: int) -> float:
    """Hex edge length in degrees at a resolution."""
    return BASE_EDGE_DEG / (7.0 ** (res / 2.0))


def _axial_round(qf: np.ndarray, rf: np.ndarray):
    """Cube-round fractional axial coords to the containing hex.

    Uses np.rint (banker's rounding, same as np.round with decimals=0
    but without the slow decimal-scaling path)."""
    sf = -qf - rf
    q = np.rint(qf)
    r = np.rint(rf)
    s = np.rint(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def latlng_to_cell(
    lons: np.ndarray, lats: np.ndarray, res: int
) -> np.ndarray:
    """Vectorized point → hex cell id."""
    size = edge_length(res)
    x = np.asarray(lons, dtype=np.float64) + 180.0
    y = np.asarray(lats, dtype=np.float64) + 90.0
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    q, r = _axial_round(qf, rf)
    return (
        (1 << 62)
        | (int(res) << 54)
        | ((q + _OFF) << 27)
        | (r + _OFF)
    )


def cell_components(cells: np.ndarray):
    cells = np.asarray(cells, dtype=np.int64)
    res = ((cells >> 54) & 0xFF).astype(np.int64)
    q = ((cells >> 27) & ((1 << 27) - 1)) - _OFF
    r = (cells & ((1 << 27) - 1)) - _OFF
    return res, q, r


def cell_to_latlng(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Hex center (lon, lat)."""
    res, q, r = cell_components(cells)
    size = BASE_EDGE_DEG / (7.0 ** (res / 2.0))
    x = size * _SQRT3 * (q + r / 2.0)
    y = size * 1.5 * r
    return x - 180.0, y - 90.0


def cell_resolution(cells: np.ndarray) -> np.ndarray:
    return ((np.asarray(cells, dtype=np.int64) >> 54) & 0xFF).astype(np.int64)


def cell_to_parent(cells: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarser hex containing this cell's center (H3-style approximate
    hierarchy)."""
    lon, lat = cell_to_latlng(cells)
    return latlng_to_cell(lon, lat, parent_res)


_AXIAL_NEIGHBORS = np.array(
    [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)], dtype=np.int64
)


def grid_disk(cell: int, k: int = 1) -> np.ndarray:
    """All cells within k hex steps of ``cell`` (incl. itself)."""
    res, q0, r0 = cell_components(np.array([cell]))
    res, q0, r0 = int(res[0]), int(q0[0]), int(r0[0])
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((q0 + dq, r0 + dr))
    arr = np.array(out, dtype=np.int64)
    return (
        (1 << 62)
        | (int(res) << 54)
        | ((arr[:, 0] + _OFF) << 27)
        | (arr[:, 1] + _OFF)
    )


def cover_geometry(geom, res: int) -> np.ndarray:
    """Cell ids forming a superset cover of a Polygon/MultiPolygon
    (ascending): the layer-wide kernel of :mod:`.cover` on one
    geometry, see there for the sampling rule and the superset proof."""
    from .cover import cover_geometry

    return cover_geometry(geom, "hex", res)


def cell_to_boundary(cell: int) -> np.ndarray:
    """Hex corner coords (6×2 lon/lat), for debugging/GeoJSON export."""
    res = int(cell_resolution(np.array([cell]))[0])
    size = edge_length(res)
    cx, cy = cell_to_latlng(np.array([cell]))
    angles = np.radians(np.arange(30, 360, 60))
    return np.column_stack(
        [cx[0] + size * np.sin(angles), cy[0] + size * np.cos(angles)]
    )
