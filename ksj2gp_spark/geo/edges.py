"""Flat edge index of a polygon layer: exact point-in-polygon, point
distance and k-nearest-polygon search over arbitrary (point, polygon)
pairs, each a few whole-batch numpy passes (no Python call per polygon
or per cell).

Layout, built once per layer from the rings ``cover.flatten`` lays end
to end (every array is numpy; an edge is named by its first vertex):

* ``x``, ``y``: the ring vertices (float64). ``ring_off``: the vertex
  offsets of the rings; ``ring_part``: the part of each ring;
  ``ring_hole``: whether it is a hole; ``poly_voff``: the vertex range
  of each polygon.
* Per polygon ``q``, a y-binned CSR list of its edges: bin ``b`` holds
  the edges whose y-range, padded by 1e-15, meets
  ``[y0[q] + b·h[q], y0[q] + (b + 1)·h[q])``. Their int32 ids, ascending,
  are ``bin_edge[bin_ptr[s]:bin_ptr[s + 1]]`` with ``s = bin_off[q] + b``.
  ``h`` is 1.5 mean edge heights, so an edge lands in one or two bins.
* ``bbox`` per polygon, and a two-level STR packing: ``leaf_poly``
  lists the polygons in leaves of ``LEAF``, ``leaf_box`` bounds a leaf.

Why the results equal ``geom.geometry_contains`` and
``geom.distance_to_geometry`` bit for bit:

* ``contains`` evaluates, per (pair, edge), the expressions of
  ``geom.ring_contains`` on the same float64 operands, so every on-edge
  flag and every crossing is the reference's. It skips only edges
  outside the point's y-bin. An edge can be on-edge only if the point's
  y lies in the edge's y-range padded by 1e-15 (``in_box``), and can be
  crossed only if it lies in the unpadded range. The bin of a y,
  ``⌊(y − y0)/h⌋``, is monotone in y (float subtraction and division by
  ``h > 0`` round monotonically), so the bins of the padded ends bracket
  the point's bin and such an edge is in that bin's list. Per
  (pair, ring) the crossing parity and on-edge flag are therefore the
  reference's, and the reduction is ``polygon_contains``': a part covers
  the point if its exterior is on-edge or odd and every hole is
  ``~odd | on_edge``; a polygon covers it if any part does.
* ``distance`` evaluates ``dist_to_segments``' expressions per
  (pair, edge) over every edge of the polygon. Square root is monotone,
  so the root of the minimum over all edges is the minimum of the
  per-ring roots. Covered pairs are 0.
* ``knn`` ranks exact distances only. Points go in blocks, in STR
  order so that each block is compact. A block first drops the leaves
  whose box is farther from the block's box than the farthest-corner
  distance of the nearest leaves holding k non-empty polygons: every
  such polygon has a vertex in its leaf's box, so that distance bounds
  each point's k-th distance from above. Phase 1 then takes, per
  point, the k polygons with the lowest bbox bound among its nearest
  remaining leaves; the largest of their exact distances bounds its
  k-th distance from above. Phase 2 computes the exact distance to
  every other polygon whose bbox bound is within that bound, pruning
  leaves first, then polygons. The bbox bound is a lower bound of the
  distance, and both prunes keep a relative slack of 1e-9 against
  rounding (a superset is always safe), so all k nearest polygons and
  every exact tie of the k-th are ranked. The order is (distance,
  ``tie``), ``tie`` being the caller's rank of each polygon (the
  layer's (admin_code, polygon_id) order).

  The leaves matter at 10^4+ polygons: on a 20,000-polygon layer,
  ``knn`` of 30,000 points takes ~0.5 s against 33–39 s for one flat
  pass over every polygon's bbox (4-vCPU VM). On 400–500 points it is
  1.7–1.8× faster than that flat pass at 1,936 polygons, and
  up to 1.4× slower at 196.

Every pass runs in blocks of at most ``_BLOCK`` elements.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from . import wkb
from .cover import _BLOCK, Rings, _ragged_index, _ranges, _run_of, flatten

LEAF = 16  # polygons per STR leaf
_PAD = 1e-15  # geom.ring_contains' in_box pad
_BIN_EDGES = 1.5  # bin height, in mean edge heights of the polygon
_SLACK = 1e-9  # relative slack of the kNN prune
# vertices per block of the bin sort: its (slot, edge) keys fit 32 bits
_SORT_BLOCK = 1 << 15


def _box_bound(x0, y0, box, x1=None, y1=None):
    """Distance from points, or from boxes ``(x0, y0, x1, y1)``, to
    boxes ``(xmin, ymin, xmax, ymax)`` (broadcast): a lower bound of the
    distance from anything in the first to anything in the second."""
    x1 = x0 if x1 is None else x1
    y1 = y0 if y1 is None else y1
    dx = np.maximum(np.maximum(box[..., 0] - x1, x0 - box[..., 2]), 0.0)
    dy = np.maximum(np.maximum(box[..., 1] - y1, y0 - box[..., 3]), 0.0)
    return np.hypot(dx, dy)


def _str_order(cx, cy, size):
    """Sort-tile-recursive order of points: x slices of whole tiles,
    each sorted by y, so that each run of ``size`` is one compact tile."""
    n = len(cx)
    per_slice = max(int(np.ceil(np.sqrt(-(-n // size)))) * size, 1)
    order = np.argsort(cx, kind="stable")
    return order[np.lexsort((cy[order], np.arange(n) // per_slice))]


def _edge_terms(px, py, x0, y0, x1, y1):
    """``geom.ring_contains``' per-edge on-edge flag and crossing."""
    dx, dy = x1 - x0, y1 - y0
    cross = (px - x0) * dy - (py - y0) * dx
    on_line = np.abs(cross) <= 1e-12 * np.maximum(
        1.0, np.abs(dx) + np.abs(dy)
    )
    in_box = (
        (px >= np.minimum(x0, x1) - 1e-15)
        & (px <= np.maximum(x0, x1) + 1e-15)
        & (py >= np.minimum(y0, y1) - 1e-15)
        & (py <= np.maximum(y0, y1) + 1e-15)
    )
    cond = (y0 <= py) != (y1 <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = x0 + (py - y0) * dx / dy
    return on_line & in_box, cond & (px < x_at)


def _segment_d2(px, py, x0, y0, x1, y1):
    """``geom.dist_to_segments``' per-edge squared distance."""
    dx, dy = x1 - x0, y1 - y0
    seg_len2 = dx * dx + dy * dy
    seg_len2 = np.where(seg_len2 == 0, 1.0, seg_len2)
    t = ((px - x0) * dx + (py - y0) * dy) / seg_len2
    t = np.clip(t, 0.0, 1.0)
    cx = x0 + t * dx
    cy = y0 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def _starts(*keys):
    """Where a run of equal keys starts, in arrays sorted by them."""
    new = np.zeros(len(keys[0]), dtype=bool)
    new[:1] = True
    for key in keys:
        new[1:] |= key[1:] != key[:-1]
    return np.flatnonzero(new)


@dataclass
class EdgeIndex:
    """The flat edge index of a polygon layer (see the module
    docstring). Polygons are numbered in layer order."""

    x: np.ndarray
    y: np.ndarray
    ring_off: np.ndarray
    ring_part: np.ndarray
    ring_hole: np.ndarray
    poly_voff: np.ndarray
    bbox: np.ndarray
    bin_y0: np.ndarray
    bin_h: np.ndarray
    bin_off: np.ndarray
    bin_ptr: np.ndarray
    bin_edge: np.ndarray
    leaf_poly: np.ndarray
    leaf_box: np.ndarray
    tie: np.ndarray
    # per vertex: last of its ring (no edge starts there); made on use
    _ring_end: np.ndarray | None = field(default=None, repr=False)

    @classmethod
    def build(
        cls, layer: list[wkb.Geometry] | Rings, tie: np.ndarray | None = None
    ) -> "EdgeIndex":
        """Index Polygon/MultiPolygon geometries, or their
        :func:`~ksj2gp_spark.geo.cover.flatten`; ``tie`` ranks the
        polygons for kNN ties (default: layer order)."""
        rings = layer if isinstance(layer, Rings) else flatten(layer)
        x, y, n = rings.x, rings.y, rings.n_poly
        # rings up to the last one with a vertex; an empty ring takes
        # the part of the vertex after it
        full = np.flatnonzero(np.diff(rings.ring_off))
        ring_off = rings.ring_off[: full[-1] + 2 if len(full) else 1]
        first = np.minimum(ring_off[:-1], max(len(x) - 1, 0))
        ring_part = np.searchsorted(rings.part_voff, first, "right") - 1
        # a ring is a hole unless its part's first vertex is in it
        ring_hole = ring_off[:-1] != rings.part_voff[ring_part]
        poly_voff = rings.poly_voff

        bounds = rings.poly_box.copy()
        empty = np.isnan(bounds[0])
        centre = (bounds[:2] + bounds[2:]) / 2.0
        centre[:, empty] = np.inf  # empty polygons sort last
        bounds[:, empty] = np.array([[np.inf], [np.inf], [-np.inf], [-np.inf]])
        bbox = np.ascontiguousarray(bounds.T)

        # --- y-binned edge lists, in blocks of whole polygons -------------
        edge = rings.edges()
        bin_y0, bin_h = np.zeros(n), np.ones(n)
        n_bin = np.zeros(n, dtype=np.int64)
        # a ring of k vertices has k - 1 edges
        n_v = np.diff(poly_voff)
        starts = rings.ring_off[:-1][np.diff(rings.ring_off) > 0]
        n_edges = n_v - np.bincount(_run_of(poly_voff, starts), minlength=n)
        bin_edge, bin_count = [np.zeros(0, dtype=np.int32)], [np.zeros(0, dtype=np.int64)]
        for a, b in _ranges(n_v, _SORT_BLOCK):
            va, vb, n_edge = poly_voff[a], poly_voff[b], n_edges[a:b]
            yy, ed = y[va:vb], edge[va:max(vb - 1, va)]
            qs = np.flatnonzero(n_edge)
            if not len(qs):
                continue
            st = (np.cumsum(n_edge) - n_edge)[qs]
            lo = np.minimum(yy[:-1], yy[1:])[ed] - _PAD
            hi = np.maximum(yy[:-1], yy[1:])[ed] + _PAD
            y0 = np.minimum.reduceat(lo, st)
            height = np.maximum.reduceat(hi, st) - y0
            mean_dy = np.add.reduceat(np.abs(np.diff(yy))[ed], st) / n_edge[qs]
            # no more bins than edges, even for parts far apart
            h = np.maximum(_BIN_EDGES * mean_dy, height / n_edge[qs])
            h = np.where(h > 0, h, 1.0)
            bin_y0[a + qs], bin_h[a + qs] = y0, h
            y0, h = np.repeat(y0, n_edge[qs]), np.repeat(h, n_edge[qs])
            b_lo = np.floor((lo - y0) / h).astype(np.int64)
            b_hi = np.floor((hi - y0) / h).astype(np.int64)
            nb = n_bin[a:b]
            nb[qs] = np.maximum.reduceat(b_hi, st) + 1
            # each edge in the bins b_lo..b_hi of its polygon: one sort of
            # (slot, edge) keys of the block lists every bin's edges
            # ascending (an edge in one bin gets a second key past the
            # last slot, cut off after the sort)
            slot = np.repeat(np.cumsum(nb) - nb, n_edge) + b_lo
            span = b_hi - b_lo
            more = np.flatnonzero(span > 1)  # in three bins or more: few
            j, t = _ragged_index(span[more] - 1)
            j = more[j]
            e = np.flatnonzero(ed)
            shift = max(len(ed), 1).bit_length()
            n_slot = int(nb.sum())
            dtype = np.uint32 if shift + (n_slot + 1).bit_length() <= 32 else np.int64
            key = np.concatenate(
                [slot, np.where(span > 0, slot + 1, n_slot), slot[j] + t + 2]
            ).astype(dtype)
            key <<= shift
            key |= np.concatenate([e, e, e[j]]).astype(dtype)
            key.sort()
            key = key[: len(key) - np.count_nonzero(span == 0)]
            bin_edge.append((key & ((1 << shift) - 1)).astype(np.int32) + np.int32(va))
            bin_count.append(np.bincount(key >> shift, minlength=n_slot))
        bin_off = np.r_[0, np.cumsum(n_bin)]
        bin_edge = np.concatenate(bin_edge)
        bin_ptr = np.r_[0, np.cumsum(np.concatenate(bin_count))]

        # --- STR leaves: x slices of whole leaves, each sorted by y -------
        n_leaf = -(-n // LEAF)
        order = _str_order(centre[0], centre[1], LEAF)
        leaf_box = np.zeros((n_leaf, 4))
        if n:
            starts = np.arange(0, n, LEAF)
            for c, red in enumerate((np.minimum, np.minimum, np.maximum, np.maximum)):
                leaf_box[:, c] = red.reduceat(bbox[order, c], starts)

        return cls(
            np.ascontiguousarray(x), np.ascontiguousarray(y),
            ring_off, ring_part, ring_hole, poly_voff,
            bbox, bin_y0, bin_h, bin_off, bin_ptr.astype(np.int32), bin_edge,
            order.astype(np.int32), leaf_box,
            np.arange(n) if tie is None else np.asarray(tie),
        )

    def contains(self, xs, ys, poly) -> np.ndarray:
        """``geom.geometry_contains`` of each (point, polygon number) pair."""
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        poly = np.asarray(poly, dtype=np.int64)
        out = np.zeros(len(xs), dtype=bool)
        with np.errstate(invalid="ignore"):
            b = np.floor((ys - self.bin_y0[poly]) / self.bin_h[poly])
            live = np.flatnonzero(
                (b >= 0) & (b < self.bin_off[poly + 1] - self.bin_off[poly])
            )
        slot = self.bin_off[poly[live]] + b[live].astype(np.int64)
        first = self.bin_ptr[slot].astype(np.int64)
        count = self.bin_ptr[slot + 1] - first
        for lo, hi in _ranges(count, _BLOCK):
            pair, k = _ragged_index(count[lo:hi])
            if not len(pair):
                continue
            e = self.bin_edge[first[lo:hi][pair] + k]
            row = live[lo:hi][pair]
            on, crossed = _edge_terms(
                xs[row], ys[row], self.x[e], self.y[e], self.x[e + 1], self.y[e + 1]
            )
            # per (pair, ring): parity and on-edge (a bin lists its edges
            # ascending, so each pair's rings come in runs)
            ring = np.searchsorted(self.ring_off, e, "right") - 1
            st = _starts(pair, ring)
            odd = np.logical_xor.reduceat(crossed, st)
            on = np.logical_or.reduceat(on, st)
            ring, pair = ring[st], pair[st]
            hole = self.ring_hole[ring]
            exterior_in = ~hole & (on | odd)
            hole_out = hole & odd & ~on
            # per (pair, part): in the exterior and in no hole
            st = _starts(pair, self.ring_part[ring])
            any_of = np.logical_or.reduceat
            part_in = any_of(exterior_in, st) & ~any_of(hole_out, st)
            out[live[lo:hi][pair[st][part_in]]] = True
        return out

    def distance(self, xs, ys, poly) -> np.ndarray:
        """``geom.distance_to_geometry`` of each (point, polygon number)
        pair."""
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        poly = np.asarray(poly, dtype=np.int64)
        if self._ring_end is None:
            self._ring_end = np.zeros(len(self.x), dtype=bool)
            self._ring_end[self.ring_off[1:] - 1] = True
        first = self.poly_voff[poly]
        count = np.maximum(self.poly_voff[poly + 1] - first - 1, 0)
        d2 = np.full(len(xs), np.inf)
        for lo, hi in _ranges(count, _BLOCK):
            pair, k = _ragged_index(count[lo:hi])
            if not len(pair):
                continue
            v = first[lo:hi][pair] + k
            row = lo + pair
            seg = _segment_d2(
                xs[row], ys[row], self.x[v], self.y[v], self.x[v + 1], self.y[v + 1]
            )
            seg[self._ring_end[v]] = np.inf
            st = _starts(pair)
            d2[lo + pair[st]] = np.minimum.reduceat(seg, st)
        d = np.sqrt(d2)
        d[self.contains(xs, ys, poly)] = 0.0
        return d

    def knn(self, xs, ys, k: int) -> tuple[np.ndarray, np.ndarray]:
        """The ``min(k, polygons)`` nearest polygons of each point, by
        (distance, ``tie``): ``(polygon numbers, distances)``, each of
        shape (points, k)."""
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        n_poly = len(self.bbox)
        k = max(0, min(int(k), n_poly))
        out_p = np.zeros((len(xs), k), dtype=np.int64)
        out_d = np.zeros((len(xs), k))
        if not (k and len(xs)):
            return out_p, out_d
        n_leaf = len(self.leaf_box)
        leaves = np.full(n_leaf * LEAF, -1, dtype=np.int64)
        leaves[:n_poly] = self.leaf_poly
        leaves = leaves.reshape(n_leaf, LEAF)
        # non-empty polygons per leaf
        leaf_n = (np.isfinite(self.bbox[leaves, 0]) & (leaves >= 0)).sum(axis=1)
        # leaves enough to hold k polygons, however partial the last one
        m = min(n_leaf, -(-k // LEAF) + 1)
        step = max(1, _BLOCK // (n_leaf + m * LEAF))
        # blocks of points in STR order: each is compact, so one bound
        # per leaf, from the block's box, prunes the leaves of the block
        pts = _str_order(xs, ys, step)
        for s in range(0, len(xs), step):
            at = pts[s:s + step]
            px, py = xs[at], ys[at]
            c = len(px)
            # the block's k-th distance is at most the farthest corner
            # distance of the nearest leaves holding k non-empty polygons
            # (each such polygon has a vertex in its leaf's box)
            lo_x, lo_y, hi_x, hi_y = px.min(), py.min(), px.max(), py.max()
            box = self.leaf_box
            far = np.hypot(
                np.maximum(hi_x - box[:, 0], box[:, 2] - lo_x),
                np.maximum(hi_y - box[:, 1], box[:, 3] - lo_y),
            )
            by_far = np.argsort(far)
            nth = np.searchsorted(np.cumsum(leaf_n[by_far]), k)
            top = far[by_far[nth]] if nth < n_leaf else np.inf
            top = top + _SLACK * (1.0 + top)
            # NaN when a point is NaN: such a block keeps every leaf
            sub = np.flatnonzero(~(_box_bound(lo_x, lo_y, box, hi_x, hi_y) > top))
            leaf_lb = _box_bound(px[:, None], py[:, None], box[sub])
            # phase 1: the k lowest bbox bounds among each point's m
            # nearest leaves
            if m < len(sub):
                near = np.argpartition(leaf_lb, m - 1, axis=1)[:, :m]
            else:
                near = np.broadcast_to(np.arange(len(sub)), (c, len(sub)))
            cand = leaves[sub[near]].reshape(c, -1)
            pad = cand < 0
            lb = _box_bound(px[:, None], py[:, None], self.bbox[cand])
            # NaN sorts last; among equal bounds the pad flag puts the
            # leaf table's padding after every polygon
            lb[pad] = np.nan
            pick = np.lexsort((pad, lb), axis=1)[:, :k]
            p1 = np.take_along_axis(cand, pick, axis=1).ravel()
            r1 = np.repeat(np.arange(c), k)
            d1 = self.distance(px[r1], py[r1], p1)
            kth = d1.reshape(c, k).max(axis=1)
            bound = kth + _SLACK * (1.0 + kth)
            bound[np.isnan(bound)] = np.inf  # a NaN point ranks every polygon
            # phase 2: every other polygon whose bbox is within the bound,
            # pruned by leaf, then by polygon
            r2, j = np.nonzero(~(leaf_lb > bound[:, None]))
            p2 = leaves[sub[j]].ravel()
            r2 = np.repeat(r2, LEAF)[p2 >= 0]
            p2 = p2[p2 >= 0]
            keep = ~(_box_bound(px[r2], py[r2], self.bbox[p2]) > bound[r2])
            keep &= ~np.isin(r2 * n_poly + p2, r1 * n_poly + p1)
            r2, p2 = r2[keep], p2[keep]
            d2 = self.distance(px[r2], py[r2], p2)
            # rank each point's candidates; the first k are the answer
            rows, polys, dist = np.r_[r1, r2], np.r_[p1, p2], np.r_[d1, d2]
            order = np.lexsort((self.tie[polys], dist, rows))
            first = np.searchsorted(rows[order], np.arange(c))
            take = order[(first[:, None] + np.arange(k)).ravel()]
            out_p[at] = polys[take].reshape(c, k)
            out_d[at] = dist[take].reshape(c, k)
        return out_p, out_d
