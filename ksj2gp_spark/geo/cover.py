"""Layer-wide polygon cell covers: one vectorised scanline pass over
every ring of a polygon layer (the Raptor raster-join idea, VLDB 2019:
find inside cells from scanline crossings, not point-by-vertex tests).

Each scheme samples a polygon's bbox on a square lattice of spacing
``step`` (its lattice is unchanged from the per-polygon covers):

* ``hex``: ``np.arange(minx - e, maxx + e + step, step)`` per axis,
  ``e`` the hex edge, ``step`` its inradius; threshold ``T = 2e``.
* ``s2``: the same with ``e`` the level's edge and ``step = e / 2``;
  ``T = 2·√2·e``.
* ``grid``: the centres of the cells the bbox touches, ``step`` the
  cell size; ``T = step / √2``.

The reference rule keeps a sample whose Euclidean distance to the
polygon is ≤ T (0 inside) and covers the cells of the kept samples.
This kernel keeps instead every sample that is

1. inside a polygon part by the even-odd rule — one crossing pass per
   lattice row, with the half-open crossing rule of
   ``geom.ring_contains`` applied in lattice units; or
2. within a Chebyshev band of ``B = ⌊(T + δ/2)/step + ½⌋`` lattice
   steps of a lattice node onto which a boundary point was rounded,
   after every ring edge is densified to points at most ``δ`` apart.

Why the result contains the reference cover: take a sample ``s`` the
reference keeps. If ``s`` is inside a part away from its boundary, (1)
keeps it (for the valid rings the even-odd parity of a part equals
"in the exterior and in no hole"; points on or numerically at the
boundary are within ``T`` of it and fall under (2)). Otherwise its
nearest boundary point ``q`` satisfies ``|s − q| ≤ T``. ``q`` lies on
an edge whose densified points are ≤ δ apart, so some densified point
``p`` has ``|q − p| ≤ δ/2``; ``p`` is rounded to the node ``r`` with
``|p − r|∞ ≤ step/2``. Hence ``|s − r|∞ ≤ T + δ/2 + step/2``: along
each axis ``s`` is at most ``(T + δ/2)/step + ½`` steps from ``r`` and,
both being lattice nodes, a whole number of steps, so at most ``B``;
(2) keeps it. Kept samples are a superset of the reference's
on the same lattice, so the cells are too. Cost is O(vertices + samples)
rather than O(samples × vertices), and memory is a few words per
lattice sample of the layer.
"""

from __future__ import annotations

import numpy as np

from . import grid, hexgrid, s2, wkb

# densify spacing as a fraction of the lattice step: small enough that
# the band is 2 steps at hex (T = 2.31 steps), 6 at S2, 1 on the grid
_DENSIFY = 0.25


def _scheme_params(scheme: str, res: int) -> tuple[float, float, float]:
    """(pad, step, T) of the scheme's sample lattice (the grid's lattice
    is its cell centres, with no pad)."""
    if scheme == "hex":
        size = hexgrid.edge_length(res)
        return size, size * np.sqrt(3.0) / 2.0, 2.0 * size + 1e-12
    if scheme == "s2":
        edge = s2.approx_edge_deg(res)
        return edge, edge / 2.0, 2.0 * edge * np.sqrt(2.0)
    if scheme == "grid":
        size = grid.cell_size(res)
        return 0.0, size, size * np.sqrt(2.0) / 2.0 + 1e-12
    raise ValueError(f"unknown cell scheme: {scheme}")


def _flatten(geoms: list[wkb.Geometry]):
    """Ring vertices of the whole layer as flat arrays: x, y, the ring
    and the part of each vertex, and the polygon of each part."""
    rings, ring_part, part_poly = [], [], []
    for p, g in enumerate(geoms):
        if g.kind == wkb.POLYGON:
            parts = [g.coords]
        elif g.kind == wkb.MULTIPOLYGON:
            parts = g.coords
        else:
            raise ValueError(f"cover of {g.name}")
        for part in parts:
            rings += part
            ring_part += [len(part_poly)] * len(part)
            part_poly.append(p)
    lens = np.array([len(r) for r in rings], dtype=np.int64)
    xy = (
        np.concatenate([np.asarray(r)[:, :2] for r in rings]).astype(np.float64)
        if lens.sum() else np.empty((0, 2))
    )
    ring_v = np.repeat(np.arange(len(rings)), lens)
    part_v = np.repeat(np.array(ring_part, dtype=np.int64), lens)
    return xy[:, 0], xy[:, 1], ring_v, part_v, np.array(part_poly, dtype=np.int64)


def _group_bounds(x, y, group, n):
    """Per-group (minx, miny, maxx, maxy) of vertices sorted by group;
    NaN for a group without vertices."""
    out = np.full((4, n), np.nan)
    if len(x):
        starts = np.flatnonzero(np.r_[True, group[1:] != group[:-1]])
        g = group[starts]
        out[0, g] = np.minimum.reduceat(x, starts)
        out[1, g] = np.minimum.reduceat(y, starts)
        out[2, g] = np.maximum.reduceat(x, starts)
        out[3, g] = np.maximum.reduceat(y, starts)
    return out


def _axis_lattice(lo, hi, pad, step):
    """Per polygon along one axis: first node, node spacing and node
    count of ``np.arange(lo - pad, hi + pad + step, step)``."""
    start = lo - pad
    stop = hi + pad + step
    n = np.ceil((stop - start) / step).astype(np.int64)
    # np.arange fills start + i * ((start + step) - start)
    return start, (start + step) - start, n


def _ragged_index(counts):
    """For groups of the given sizes laid end to end: each element's
    group and its index within the group."""
    group = np.repeat(np.arange(len(counts)), counts)
    return group, np.arange(len(group)) - (np.cumsum(counts) - counts)[group]


def cover_layer(
    geoms: list[wkb.Geometry], scheme: str, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """Superset cell covers of a whole layer of Polygon/MultiPolygon
    geometries (see the module docstring for the rule and its proof).

    Returns ``(poly, cell)``: for each polygon number in ``geoms``
    order, its unique cell ids ascending."""
    pad, step, thresh = _scheme_params(scheme, res)
    vx, vy, ring_v, part_v, part_poly = _flatten(geoms)
    poly_v = part_poly[part_v]
    n_poly, n_part = len(geoms), len(part_poly)

    # --- the sample lattice of every polygon, row-major end to end ----
    minx, miny, maxx, maxy = np.nan_to_num(_group_bounds(vx, vy, poly_v, n_poly))
    if scheme == "grid":  # centres of the cells the bbox touches
        i0 = np.floor((minx + 180.0) / step).astype(np.int64)
        j0 = np.floor((miny + 90.0) / step).astype(np.int64)
        nx = np.floor((maxx + 180.0) / step).astype(np.int64) - i0 + 1
        ny = np.floor((maxy + 90.0) / step).astype(np.int64) - j0 + 1
        x0 = (i0 + 0.5) * step - 180.0
        y0 = (j0 + 0.5) * step - 90.0
        dx = dy = np.full(n_poly, step)
    else:
        x0, dx, nx = _axis_lattice(minx, maxx, pad, step)
        y0, dy, ny = _axis_lattice(miny, maxy, pad, step)
    empty = np.bincount(poly_v, minlength=n_poly) == 0
    nx[empty] = ny[empty] = 0
    off = np.cumsum(nx * ny) - nx * ny
    s_poly, s_local = _ragged_index(nx * ny)
    s_ix, s_iy = s_local % nx[s_poly], s_local // nx[s_poly]
    # vertices in lattice units; edges join consecutive vertices of a ring
    u = (vx - x0[poly_v]) / dx[poly_v]
    w = (vy - y0[poly_v]) / dy[poly_v]
    e = np.flatnonzero(ring_v[:-1] == ring_v[1:])
    ua, wa, ub, wb = u[e], w[e], u[e + 1], w[e + 1]

    # --- (2) boundary band ---------------------------------------------
    kept = np.zeros(len(s_poly), dtype=bool)

    def mark(p, uu, ww):
        ix = np.clip(np.rint(uu).astype(np.int64), 0, nx[p] - 1)
        iy = np.clip(np.rint(ww).astype(np.int64), 0, ny[p] - 1)
        kept[off[p] + iy * nx[p] + ix] = True

    mark(poly_v, u, w)
    # edges longer than δ (δ = _DENSIFY steps) get interior points
    m = np.ceil(np.hypot(ub - ua, wb - wa) / _DENSIFY).astype(np.int64)
    le = np.flatnonzero(m > 1)
    j, t = _ragged_index(m[le] - 1)
    j = le[j]
    t = (t + 1) / m[j]
    mark(poly_v[e[j]], ua[j] + t * (ub[j] - ua[j]), wa[j] + t * (wb[j] - wa[j]))
    band = int(np.floor((thresh + _DENSIFY * step / 2.0) / step + 0.5 + 1e-9))
    # separable Chebyshev dilation: along x (stride 1), then y (stride nx)
    s_nx = nx[s_poly]
    for pos, n, stride in (
        (s_ix, s_nx, np.ones_like(s_nx)),
        (s_iy, ny[s_poly], s_nx),
    ):
        grown = kept.copy()
        for s in range(1, band + 1):
            lo = np.flatnonzero(pos >= s)
            grown[lo] |= kept[lo - s * stride[lo]]
            hi = np.flatnonzero(pos < n - s)
            grown[hi] |= kept[hi + s * stride[hi]]
        kept = grown

    # --- (1) even-odd scanline fill, in each part's lattice window -----
    pb = _group_bounds(u, w, part_v, n_part)
    q = part_poly
    cx0 = np.maximum(np.floor(np.nan_to_num(pb[0])).astype(np.int64) - 1, 0)
    cy0 = np.maximum(np.floor(np.nan_to_num(pb[1])).astype(np.int64) - 1, 0)
    cx1 = np.minimum(np.ceil(np.nan_to_num(pb[2])).astype(np.int64) + 1, nx[q] - 1)
    cy1 = np.minimum(np.ceil(np.nan_to_num(pb[3])).astype(np.int64) + 1, ny[q] - 1)
    wnx = np.maximum(cx1 - cx0 + 1, 0)
    wny = np.maximum(cy1 - cy0 + 1, 0)
    wnx[np.isnan(pb[0])] = 0
    woff = np.cumsum(wnx * wny) - wnx * wny
    # a vertex is at or below row r iff r >= ceil(w): an edge crosses the
    # rows between its ends' thresholds (the half-open rule)
    rv = np.ceil(w).astype(np.int64)
    ra, rb = rv[e], rv[e + 1]
    eq = part_v[e]
    r0 = np.maximum(np.minimum(ra, rb), cy0[eq])
    nr = np.maximum(np.minimum(np.maximum(ra, rb), cy1[eq] + 1) - r0, 0)
    c, row = _ragged_index(nr)
    row += r0[c]
    qc = eq[c]
    u_at = ua[c] + (row - wa[c]) * (ub[c] - ua[c]) / (wb[c] - wa[c])
    # the samples left of a crossing (ix < u_at) count it: +1 from the
    # row's first sample, -1 from the first sample at or past it
    k = np.clip(np.ceil(u_at).astype(np.int64) - cx0[qc], 0, wnx[qc])
    row_start = woff[qc] + (row - cy0[qc]) * wnx[qc]
    n_win = int((wnx * wny).sum())
    diff = np.bincount(row_start, minlength=n_win + 1) - np.bincount(
        row_start + k, minlength=n_win + 1
    )
    wq, wlocal = _ragged_index(wnx * wny)
    inside = (np.cumsum(diff[:n_win]) & 1).astype(bool)
    wq, wlocal = wq[inside], wlocal[inside]
    p = q[wq]
    kept[
        off[p] + (cy0[wq] + wlocal // wnx[wq]) * nx[p] + cx0[wq] + wlocal % wnx[wq]
    ] = True

    # --- kept samples → cells ------------------------------------------
    keys = np.flatnonzero(kept)
    p, ix, iy = s_poly[keys], s_ix[keys], s_iy[keys]
    if scheme == "grid":
        cells = (int(res) << 58) | ((i0[p] + ix) << 29) | (j0[p] + iy)
    else:
        fn = hexgrid.latlng_to_cell if scheme == "hex" else s2.latlng_to_cell
        cells = fn(x0[p] + ix * dx[p], y0[p] + iy * dy[p], res)
    order = np.lexsort((cells, p))
    p, cells = p[order], cells[order]
    first = np.ones(len(p), dtype=bool)
    first[1:] = (p[1:] != p[:-1]) | (cells[1:] != cells[:-1])
    return p[first], cells[first]


def cover_geometry(geom: wkb.Geometry, scheme: str, res: int) -> np.ndarray:
    """Cell ids covering one Polygon/MultiPolygon (ascending)."""
    return cover_layer([geom], scheme, res)[1]
