"""S2 cell ids, from scratch in vectorized numpy.

Implements the public S2 geometry cell scheme (cube-face quadtree with
Hilbert-curve ordering and the quadratic st projection) sufficiently for
spatial indexing: point → cell id at any level 0..30, parent, token,
cell center, and polygon covering at a fixed level. The bit layout is
the standard one — 3 face bits, 2·level Hilbert position bits, then a
trailing 1 sentinel — so ids have the real S2 containment property:
``parent(id)`` strictly contains ``id`` and shares its bit prefix,
which is what the cell-keyed join relies on.

Reference: the published S2 geometry library design (s2geometry.io);
no S2 code available in this environment, re-derived from the public
algorithm description.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_SWAP = 1
_INVERT = 2

# Hilbert curve lookup tables (standard S2 construction):
# position-in-curve -> (i, j) sub-cell for each of the 4 orientations,
# and the orientation modifier each sub-cell applies.
_POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],  # canonical
        [0, 2, 3, 1],  # swap
        [3, 2, 0, 1],  # invert
        [3, 1, 0, 2],  # swap + invert
    ],
    dtype=np.int64,
)
_POS_TO_ORIENTATION = np.array([_SWAP, 0, 0, _SWAP | _INVERT], dtype=np.int64)

# ij -> pos (inverse permutation per orientation)
_IJ_TO_POS = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        _IJ_TO_POS[_o, _POS_TO_IJ[_o, _p]] = _p
# orientation modifier indexed by ij (what FromFaceIJ needs)
_IJ_TO_ORIENTATION = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        _IJ_TO_ORIENTATION[_o, _POS_TO_IJ[_o, _p]] = _POS_TO_ORIENTATION[_p]


def latlng_to_xyz(lons, lats):
    lon = np.radians(np.asarray(lons, dtype=np.float64))
    lat = np.radians(np.asarray(lats, dtype=np.float64))
    cos_lat = np.cos(lat)
    return cos_lat * np.cos(lon), cos_lat * np.sin(lon), np.sin(lat)


def xyz_to_face_uv(x, y, z):
    """Cube-face projection (canonical S2 face/uv conventions)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve) in enumerate(
        [
            (lambda: y / x, lambda: z / x),  # 0: +x
            (lambda: -x / y, lambda: z / y),  # 1: +y
            (lambda: -x / z, lambda: -y / z),  # 2: +z
            (lambda: z / x, lambda: y / x),  # 3: -x
            (lambda: z / y, lambda: -x / y),  # 4: -y
            (lambda: -y / z, lambda: -x / z),  # 5: -z
        ]
    ):
        m = face == f
        if m.any():
            with np.errstate(divide="ignore", invalid="ignore"):
                u[m] = ue()[m]
                v[m] = ve()[m]
    return face, u, v


def _uv_to_st(u):
    """Quadratic projection (the S2_QUADRATIC_PROJECTION default)."""
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0,
            0.5 * np.sqrt(1.0 + 3.0 * u),
            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u),
        )


def _st_to_uv(s):
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def latlng_to_cell(lons, lats, level: int) -> np.ndarray:
    """Vectorized point → S2 cell id at ``level``."""
    x, y, z = latlng_to_xyz(lons, lats)
    face, u, v = xyz_to_face_uv(x, y, z)
    smax = 1 << MAX_LEVEL
    i = np.clip(
        np.floor(_uv_to_st(u) * smax).astype(np.int64), 0, smax - 1
    )
    j = np.clip(
        np.floor(_uv_to_st(v) * smax).astype(np.int64), 0, smax - 1
    )
    return _from_face_ij(face, i, j, level)


# 4-levels-at-a-time Hilbert lookup (the standard S2 kLookupBits=4
# acceleration): key = (i4 << 6) | (j4 << 2) | orientation, value =
# (pos8 << 2) | new_orientation. Composed from the 1-level tables at
# import; turns the 30-iteration per-level walk into 2 + 7 steps.
_LOOKUP_POS = np.zeros(1 << 10, dtype=np.int64)
for _i4 in range(16):
    for _j4 in range(16):
        for _o in range(4):
            _orient = _o
            _pos8 = 0
            for _k in (3, 2, 1, 0):
                _ij = (((_i4 >> _k) & 1) << 1) | ((_j4 >> _k) & 1)
                _pos8 |= int(_IJ_TO_POS[_orient, _ij]) << (2 * _k)
                _orient ^= int(_IJ_TO_ORIENTATION[_orient, _ij])
            _LOOKUP_POS[(_i4 << 6) | (_j4 << 2) | _o] = (_pos8 << 2) | _orient


def _from_face_ij(face, i, j, level: int) -> np.ndarray:
    """Hilbert-order position from leaf (i, j), truncated to level."""
    n = face.astype(np.int64) << 60
    orient = face & _SWAP
    # top 2 of the 30 bits per-level, the rest in 4-bit chunks
    for k in (29, 28):
        ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
        n |= _IJ_TO_POS[orient, ij] << (2 * k)
        orient = orient ^ _IJ_TO_ORIENTATION[orient, ij]
    for k in range(6, -1, -1):
        key = (((i >> (4 * k)) & 15) << 6) | (((j >> (4 * k)) & 15) << 2) | orient
        val = _LOOKUP_POS[key]
        n |= (val >> 2) << (8 * k)
        orient = val & 3
    cell = (n << 1) | 1
    return parent(cell, level) if level < MAX_LEVEL else cell


def level_of(cells: np.ndarray) -> np.ndarray:
    """Level from the position of the trailing sentinel bit."""
    cells = np.asarray(cells, dtype=np.int64)
    lsb = cells & (-cells)
    return (MAX_LEVEL - (np.round(np.log2(lsb.astype(np.float64))) / 2)).astype(
        np.int64
    )


def parent(cells: np.ndarray, level: int) -> np.ndarray:
    cells = np.asarray(cells, dtype=np.int64)
    new_lsb = 1 << (2 * (MAX_LEVEL - level))
    return (cells & -new_lsb) | new_lsb


def token(cell: int) -> str:
    """Standard S2 token: 16-hex-digit id with trailing zeros stripped."""
    h = format(np.uint64(cell).item() if cell >= 0 else cell & 0xFFFFFFFFFFFFFFFF, "016x")
    return h.rstrip("0") or "X"


def cell_to_latlng(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Center (lon, lat) of cells (any level)."""
    cells = np.asarray(cells, dtype=np.int64)
    face = (cells >> 61) & 7
    # Recover leaf (i, j) by walking the Hilbert curve back down.
    pos = (cells >> 1) & ((1 << 60) - 1)
    orient = face & _SWAP
    i = np.zeros_like(cells)
    j = np.zeros_like(cells)
    for k in range(MAX_LEVEL - 1, -1, -1):
        p = (pos >> (2 * k)) & 3
        ij = _POS_TO_IJ[orient, p]
        i |= (ij >> 1) << k
        j |= (ij & 1) << k
        orient = orient ^ _POS_TO_ORIENTATION[p]
    lsb = cells & (-cells)
    # Center of the cell = leaf ij rounded to cell size + half cell.
    cell_size = np.sqrt(lsb.astype(np.float64)).astype(np.int64)
    cell_size = np.maximum(cell_size, 1)
    i = (i & ~(cell_size - 1)) + cell_size // 2
    j = (j & ~(cell_size - 1)) + cell_size // 2
    smax = float(1 << MAX_LEVEL)
    u = _st_to_uv((i.astype(np.float64) + 0.5) / smax)
    v = _st_to_uv((j.astype(np.float64) + 0.5) / smax)
    return _face_uv_to_latlng(face, u, v)


def _face_uv_to_latlng(face, u, v):
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, fn in enumerate(
        [
            lambda u, v: (np.ones_like(u), u, v),
            lambda u, v: (-u, np.ones_like(u), v),
            lambda u, v: (-u, -v, np.ones_like(u)),
            lambda u, v: (-np.ones_like(u), -v, -u),
            lambda u, v: (v, -np.ones_like(u), -u),
            lambda u, v: (v, u, -np.ones_like(u)),
        ]
    ):
        m = face == f
        if m.any():
            xx, yy, zz = fn(u[m], v[m])
            x[m], y[m], z[m] = xx, yy, zz
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lon, lat


def approx_edge_deg(level: int) -> float:
    """Conservative cell edge length in degrees at a level."""
    return 90.0 / (1 << level)


def cover_geometry(geom, level: int) -> np.ndarray:
    """Cell ids forming a superset cover of a Polygon/MultiPolygon
    (ascending): the layer-wide kernel of :mod:`.cover` on one
    geometry, see there for the sampling rule and the superset proof."""
    from .cover import cover_geometry

    return cover_geometry(geom, "s2", level)
