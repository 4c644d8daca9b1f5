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
rather than O(samples × vertices). The layer goes through in blocks of
whole polygons (a polygon's cover depends on it alone), so the working
memory is a few words per vertex and lattice sample of one block.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from . import grid, hexgrid, s2, wkb

# densify spacing as a fraction of the lattice step: small enough that
# the band is 2 steps at hex (T = 2.31 steps), 6 at S2, 1 on the grid
_DENSIFY = 0.25
_BLOCK = 1 << 17  # elements per numpy pass


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


class Rings(NamedTuple):
    """A polygon layer's ring vertices laid end to end (``flatten``):
    polygons hold parts, parts hold rings, rings hold vertices, each
    level a contiguous run of the next, in layer order."""

    x: np.ndarray  # vertex coordinates (float64)
    y: np.ndarray
    ring_off: np.ndarray  # vertex offsets of the rings (n_ring + 1)
    part_voff: np.ndarray  # vertex offsets of the parts (n_part + 1)
    poly_voff: np.ndarray  # vertex offsets of the polygons (n_poly + 1)
    part_poly: np.ndarray  # polygon of each part
    # (4, n) minx, miny, maxx, maxy of each part and polygon; NaN if empty
    part_box: np.ndarray
    poly_box: np.ndarray

    @property
    def n_poly(self) -> int:
        return len(self.poly_voff) - 1

    def edges(self) -> np.ndarray:
        """Per vertex but the last: whether it and the next one are an
        edge (both in one ring)."""
        edge = np.ones(max(len(self.x) - 1, 0), dtype=bool)
        start = self.ring_off[1:-1]
        edge[start[(start > 0) & (start < len(self.x))] - 1] = False
        return edge


def flatten(geoms: list[wkb.Geometry]) -> Rings:
    """The :class:`Rings` of a Polygon/MultiPolygon layer."""
    rings, part_rings, poly_parts = [], [], []
    for g in geoms:
        if g.kind == wkb.POLYGON:
            parts = [g.coords]
        elif g.kind == wkb.MULTIPOLYGON:
            parts = g.coords
        else:
            raise ValueError(f"cover of {g.name}")
        for part in parts:
            rings += part
            part_rings.append(len(part))
        poly_parts.append(len(parts))
    lens = np.array([len(r) for r in rings], dtype=np.int64)
    ring_off = np.r_[0, np.cumsum(lens)]
    part_voff = ring_off[np.r_[0, np.cumsum(part_rings, dtype=np.int64)]]
    part_poly = np.repeat(np.arange(len(geoms)), poly_parts)
    x, y = (
        np.concatenate([np.asarray(r)[:, c] for r in rings]).astype(np.float64)
        if lens.sum() else np.empty(0)
        for c in (0, 1)
    )
    poly_voff = part_voff[np.r_[0, np.cumsum(poly_parts, dtype=np.int64)]]
    return Rings(
        x, y, ring_off, part_voff, poly_voff, part_poly,
        _bounds(x, y, part_voff), _bounds(x, y, poly_voff),
    )


def _bounds(x, y, off):
    """Per run ``[off[i], off[i + 1])`` of the coordinates:
    (minx, miny, maxx, maxy); NaN for an empty run."""
    out = np.full((4, len(off) - 1), np.nan)
    full = np.flatnonzero(off[1:] > off[:-1])
    if len(full):
        starts = off[full]
        out[0, full] = np.minimum.reduceat(x, starts)
        out[1, full] = np.minimum.reduceat(y, starts)
        out[2, full] = np.maximum.reduceat(x, starts)
        out[3, full] = np.maximum.reduceat(y, starts)
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


def _ranges(cost: np.ndarray, block: int):
    """``[lo, hi)`` runs of consecutive items whose costs sum to at most
    ``block`` (one item at least)."""
    ends = np.cumsum(cost)
    lo = 0
    while lo < len(cost):
        base = ends[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(ends, base + block, "right")), lo + 1)
        yield lo, hi
        lo = hi


def _run_of(off, i):
    """The run ``[off[k], off[k + 1])`` holding each index ``i`` (the
    last such ``k``, so a non-empty run)."""
    return np.searchsorted(off, i, "right") - 1


def cover_layer(
    layer: list[wkb.Geometry] | Rings, scheme: str, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """Superset cell covers of a whole layer of Polygon/MultiPolygon
    geometries, or of their :func:`flatten` (see the module docstring
    for the rule and its proof).

    Returns ``(poly, cell)``: for each polygon number in layer order,
    its unique cell ids ascending."""
    pad, step, thresh = _scheme_params(scheme, res)
    rings = layer if isinstance(layer, Rings) else flatten(layer)
    vx, vy, poly_voff, part_voff = rings.x, rings.y, rings.poly_voff, rings.part_voff
    n_poly = rings.n_poly
    n_v = np.diff(poly_voff)

    # --- the sample lattice of every polygon ---------------------------
    minx, miny, maxx, maxy = np.nan_to_num(rings.poly_box)
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
    nx[n_v == 0] = ny[n_v == 0] = 0
    band = int(np.floor((thresh + _DENSIFY * step / 2.0) / step + 0.5 + 1e-9))
    edge = rings.edges()
    first_part = np.searchsorted(rings.part_poly, np.arange(n_poly + 1))

    def cover(a, b):
        """The covers of polygons ``a`` to ``b``: (polygon - a, cell)."""
        va, vb, nv = poly_voff[a], poly_voff[b], n_v[a:b]
        bx0, bdx, bnx = x0[a:b], dx[a:b], nx[a:b]
        by0, bdy, bny = y0[a:b], dy[a:b], ny[a:b]
        # the lattices row-major end to end
        off = np.cumsum(bnx * bny) - bnx * bny
        s_poly, s_local = _ragged_index(bnx * bny)
        s_nx, s_ny = bnx[s_poly], bny[s_poly]
        s_ix, s_iy = s_local % s_nx, s_local // s_nx
        # vertices in lattice units; vertex i and i + 1 are an edge if
        # ``ed[i]``
        u = (vx[va:vb] - np.repeat(bx0, nv)) / np.repeat(bdx, nv)
        w = (vy[va:vb] - np.repeat(by0, nv)) / np.repeat(bdy, nv)
        ed = edge[va:max(vb - 1, va)]

        # --- (2) boundary band -----------------------------------------
        kept = np.zeros(len(s_poly), dtype=bool)

        def mark(p, uu, ww):
            ix = np.clip(np.rint(uu).astype(np.int64), 0, bnx[p] - 1)
            iy = np.clip(np.rint(ww).astype(np.int64), 0, bny[p] - 1)
            kept[off[p] + iy * bnx[p] + ix] = True

        # a vertex on the node of the one before it in its polygon adds
        # no mark
        iu, iw = np.rint(u), np.rint(w)
        new = np.ones(len(u), dtype=bool)
        new[1:] = (iu[1:] != iu[:-1]) | (iw[1:] != iw[:-1])
        new[poly_voff[a:b][nv > 0] - va] = True
        v = np.flatnonzero(new)
        p_v = np.repeat(np.arange(b - a), nv)
        mark(p_v[v], iu[v], iw[v])
        # edges longer than δ (δ = _DENSIFY steps) get interior points;
        # their squared length screens them (its slack covers rounding)
        du, dw = np.diff(u), np.diff(w)
        e = np.flatnonzero(ed & (du * du + dw * dw > _DENSIFY**2 * (1 - 1e-9)))
        m = np.ceil(np.hypot(du[e], dw[e]) / _DENSIFY).astype(np.int64)
        j, t = _ragged_index(np.maximum(m - 1, 0))
        t = (t + 1) / m[j]
        j = e[j]
        mark(p_v[j], u[j] + t * (u[j + 1] - u[j]), w[j] + t * (w[j + 1] - w[j]))
        # separable Chebyshev dilation: along x (stride 1), then y
        # (stride nx)
        grown = kept.copy()
        for s in range(1, band + 1):
            grown[s:] |= kept[:-s] & (s_ix[s:] >= s)
            grown[:-s] |= kept[s:] & (s_ix[:-s] < s_nx[:-s] - s)
        kept = grown.copy()
        at = np.arange(len(kept))
        for s in range(1, band + 1):
            grown |= kept[np.where(s_iy >= s, at - s * s_nx, at)]
            grown |= kept[np.where(s_iy < s_ny - s, at + s * s_nx, at)]
        kept = grown

        # --- (1) even-odd scanline fill, in each part's lattice window -
        pa, pb = first_part[a], first_part[b]
        q = rings.part_poly[pa:pb] - a
        # a part's bounds in lattice units (u and w grow with x and y)
        box = (rings.part_box[:, pa:pb] - [bx0[q], by0[q], bx0[q], by0[q]]) / [
            bdx[q], bdy[q], bdx[q], bdy[q]
        ]
        cx0 = np.maximum(np.floor(np.nan_to_num(box[0])).astype(np.int64) - 1, 0)
        cy0 = np.maximum(np.floor(np.nan_to_num(box[1])).astype(np.int64) - 1, 0)
        cx1 = np.minimum(np.ceil(np.nan_to_num(box[2])).astype(np.int64) + 1, bnx[q] - 1)
        cy1 = np.minimum(np.ceil(np.nan_to_num(box[3])).astype(np.int64) + 1, bny[q] - 1)
        wnx = np.maximum(cx1 - cx0 + 1, 0)
        wny = np.maximum(cy1 - cy0 + 1, 0)
        wnx[np.isnan(box[0])] = 0
        woff = np.cumsum(wnx * wny) - wnx * wny
        # a vertex is at or below row r iff r >= ceil(w): an edge crosses
        # the rows between its ends' thresholds (the half-open rule), so
        # one whose ends share a threshold crosses none
        rv = np.ceil(w)
        c = np.flatnonzero(ed & (rv[1:] != rv[:-1]))
        ra, rb = rv[c].astype(np.int64), rv[c + 1].astype(np.int64)
        eq = _run_of(part_voff[pa:pb + 1] - va, c)
        r0 = np.maximum(np.minimum(ra, rb), cy0[eq])
        nr = np.maximum(np.minimum(np.maximum(ra, rb), cy1[eq] + 1) - r0, 0)
        j, row = _ragged_index(nr)
        row += r0[j]
        qc, c = eq[j], c[j]
        u_at = u[c] + (row - w[c]) * (u[c + 1] - u[c]) / (w[c + 1] - w[c])
        # the samples left of a crossing (ix < u_at) count it: +1 from
        # the row's first sample, -1 from the first sample at or past it
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
            off[p] + (cy0[wq] + wlocal // wnx[wq]) * bnx[p] + cx0[wq] + wlocal % wnx[wq]
        ] = True

        # --- kept samples → cells --------------------------------------
        keys = np.flatnonzero(kept)
        p, ix, iy = s_poly[keys], s_ix[keys], s_iy[keys]
        if scheme == "grid":
            cells = (int(res) << 58) | ((i0[a + p] + ix) << 29) | (j0[a + p] + iy)
        else:
            fn = hexgrid.latlng_to_cell if scheme == "hex" else s2.latlng_to_cell
            cells = fn(bx0[p] + ix * bdx[p], by0[p] + iy * bdy[p], res)
        # unique (p, cell) pairs by p, then cell: p ascends, so one sort
        # of p and each cell's rank among the block's cells orders them
        # (the samples of a row repeat a cell, so first drop repeats)
        new = np.ones(len(p), dtype=bool)
        new[1:] = (cells[1:] != cells[:-1]) | (p[1:] != p[:-1])
        p, cells = p[new], cells[new]
        uniq, rank = np.unique(cells, return_inverse=True)
        n = max(len(uniq), 1)
        key = np.unique(p * n + rank)
        return a + key // n, uniq[key % n]

    # whole polygons at a time, so that the arrays stay small
    out = [cover(a, b) for a, b in _ranges(n_v + nx * ny, _BLOCK)]
    if not out:
        return cover(0, 0)
    return tuple(np.concatenate(o) for o in zip(*out))


def cover_geometry(geom: wkb.Geometry, scheme: str, res: int) -> np.ndarray:
    """Cell ids covering one Polygon/MultiPolygon (ascending)."""
    return cover_layer([geom], scheme, res)[1]
