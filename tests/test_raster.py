"""Raster→vector polygonization (operators/raster.py)."""

import numpy as np
import pandas as pd
import pytest

from ksj2gp_spark.geo import grid, wkb
from ksj2gp_spark.operators import raster


def _rings_for(ii, jj):
    edges = raster.boundary_edges(np.array(ii), np.array(jj))
    return raster.trace_rings(*edges)


def test_single_cell():
    rings = _rings_for([5], [7])
    assert len(rings) == 1
    r = rings[0]
    assert len(r) - 1 == 4
    assert raster._shoelace(r) == 1.0


def test_block_2x2_dissolves():
    rings = _rings_for([0, 1, 0, 1], [0, 0, 1, 1])
    assert len(rings) == 1
    assert raster._shoelace(rings[0]) == 4.0
    assert len(rings[0]) - 1 == 8  # unit steps around the 2x2 square


def test_donut_has_hole():
    ii, jj = np.meshgrid(np.arange(3), np.arange(3), indexing="ij")
    mask = ~((ii == 1) & (jj == 1))
    rings = _rings_for(ii[mask], jj[mask])
    areas = sorted(raster._shoelace(r) for r in rings)
    assert len(rings) == 2
    assert areas == [-1.0, 9.0]  # CW hole, CCW outer
    assert sum(areas) == 8.0  # == cell count


def test_corner_touching_checkerboard_stays_simple():
    rings = _rings_for([0, 1], [0, 1])
    assert len(rings) == 2
    assert sorted(raster._shoelace(r) for r in rings) == [1.0, 1.0]
    # each ring is simple: no repeated vertices except the closure
    for r in rings:
        body = [tuple(v) for v in r[:-1]]
        assert len(set(body)) == len(body)


def test_disconnected_components():
    rings = _rings_for([0, 10], [0, 10])
    assert len(rings) == 2
    assert all(raster._shoelace(r) == 1.0 for r in rings)


def test_l_shape_area():
    # L-shape: 3 wide, 3 tall, missing 2x2 upper-right block
    cells = [(i, j) for i in range(3) for j in range(3)
             if not (i >= 1 and j >= 1)]
    ii = [c[0] for c in cells]
    jj = [c[1] for c in cells]
    rings = _rings_for(ii, jj)
    assert len(rings) == 1
    assert raster._shoelace(rings[0]) == 5.0


def test_vectorize_cells_spark_roundtrip(spark):
    """rasterize (fixture layer) → vectorize → signed areas sum to the
    distinct-cell count per admin, and the traced polygons re-rasterize
    to the same cell set (full raster↔vector round trip)."""
    import __spark_entry__ as e

    res = 12
    ras = e.q_rasterize_admin(spark, "/root/testdata/sf0.001")
    vec = raster.vectorize_cells(ras, res).toPandas()

    truth = (
        ras.toPandas()
        .groupby("admin_code")["cell"]
        .nunique()
        .to_dict()
    )
    got = vec.groupby("admin_code")["area_cells"].sum().round().astype(int)
    assert got.to_dict() == truth

    # round trip: outer-ring polygons minus holes cover the cell centers
    size = grid.cell_size(res)
    ras_pdf = ras.toPandas()
    for admin, sub in vec.groupby("admin_code"):
        want = set(
            ras_pdf.loc[ras_pdf["admin_code"] == admin, "cell"].unique()
        )
        covered = set()
        holes = set()
        for _, row in sub.iterrows():
            g = wkb.loads(row["geometry"])
            minx, miny, maxx, maxy = g.bounds()
            cand = grid.cover_bbox(minx, miny, maxx, maxy, res)
            cx, cy = grid.cell_center(cand)
            from ksj2gp_spark.geo import geom as G

            inside = G.geometry_contains(cx, cy, g)
            tgt = covered if row["area_cells"] > 0 else holes
            tgt.update(cand[inside].tolist())
        assert covered - holes == want


class TestCompact:
    """compact_cells/uncompact_cells: exact inverse round-trip, aligned
    blocks collapse fully, groups stay independent."""

    def _cells(self, spark, rows):
        return spark.createDataFrame(rows, "admin_code string, cell long")

    @staticmethod
    def _mk(res, i, j):
        return (res << 58) | (i << 29) | j

    def test_aligned_block_collapses_to_one(self, spark):
        # an aligned 4x4 block at res 5 compacts to a single res-3 cell
        rows = [("a", self._mk(5, i, j))
                for i in range(96, 100) for j in range(64, 68)]
        comp = raster.compact_cells(self._cells(spark, rows), res=5).collect()
        assert len(comp) == 1
        assert comp[0]["cell"] == self._mk(3, 24, 16)

    def test_roundtrip_exact_and_minimal(self, spark):
        rows = [("a", self._mk(5, i, j))
                for i in range(100, 111) for j in range(40, 53)]
        rows += [("b", self._mk(5, i, j))
                 for i in range(200, 208) for j in range(60, 68)]
        df = self._cells(spark, rows)
        comp = raster.compact_cells(df, res=5).cache()
        assert comp.count() < len(rows)
        back = raster.uncompact_cells(comp, target_res=5)
        assert set(map(tuple, back.collect())) == set(rows)
        # no two compacted cells overlap: uncompact emits no duplicates
        assert back.count() == back.distinct().count()
        comp.unpersist()

    def test_lone_cells_pass_through(self, spark):
        rows = [("a", self._mk(7, 1000, 1000)), ("a", self._mk(7, 5000, 23))]
        comp = raster.compact_cells(self._cells(spark, rows), res=7)
        assert sorted(r["cell"] for r in comp.collect()) == sorted(
            r for _, r in rows
        )

    def test_groups_do_not_mix(self, spark):
        # same 2x2 sibling set split across two groups must NOT promote
        sibs = [(0, 0), (0, 1), (1, 0), (1, 1)]
        rows = [("a", self._mk(4, 10 + dx, 20 + dy)) for dx, dy in sibs[:2]]
        rows += [("b", self._mk(4, 10 + dx, 20 + dy)) for dx, dy in sibs[2:]]
        comp = raster.compact_cells(self._cells(spark, rows), res=4)
        assert comp.count() == 4  # nothing promoted


class TestZonalStats:
    def test_concave_zone_exact_not_bbox(self, spark):
        """An L-shaped zone with a hole: zonal counts/sums must equal a
        per-center ray-cast oracle — a bbox assignment would overcount
        (the L's notch and the hole fall inside its bbox)."""
        import pandas as pd

        from ksj2gp_spark.geo import wkb as W
        from ksj2gp_spark.operators.raster import cell_centers, zonal_stats

        ell = [
            (139.0, 35.0), (141.0, 35.0), (141.0, 35.6), (139.8, 35.6),
            (139.8, 36.4), (139.0, 36.4), (139.0, 35.0),
        ]
        hole = [
            (139.2, 35.15), (139.6, 35.15), (139.6, 35.45),
            (139.2, 35.45), (139.2, 35.15),
        ]
        polys = pd.DataFrame(
            {
                "polygon_id": ["L"],
                "行政区域コード": ["90001"],
                "geometry": [W.polygon(ell, hole)],
            }
        )
        res = 12
        size = 360.0 / (1 << res)
        i0, i1 = int((139.0 + 180) / size), int((141.2 + 180) / size)
        j0, j1 = int((35.0 + 90) / size), int((36.5 + 90) / size)
        ii, jj = np.meshgrid(
            np.arange(i0, i1 + 1), np.arange(j0, j1 + 1), indexing="ij"
        )
        ii, jj = ii.ravel(), jj.ravel()
        cells = (res << 58) + (ii.astype(np.int64) << 29) + jj
        vals = (ii * 3 + jj * 5) % 100
        raster = spark.createDataFrame(
            pd.DataFrame({"cell": cells, "value": vals})
        )
        got = zonal_stats(raster, polys).collect()

        # oracle: ray-cast each center against outer ring minus hole
        def inside(ring, px, py):
            r = False
            for k in range(len(ring) - 1):
                x0, y0 = ring[k]
                x1, y1 = ring[k + 1]
                if (y0 > py) != (y1 > py) and px < (x1 - x0) * (
                    py - y0
                ) / (y1 - y0) + x0:
                    r = not r
            return r

        cx = (ii + 0.5) * size - 180.0
        cy = (jj + 0.5) * size - 90.0
        mask = np.array(
            [
                inside(ell, x, y) and not inside(hole, x, y)
                for x, y in zip(cx, cy)
            ]
        )
        assert len(got) == 1
        row = got[0]
        assert row["admin_code"] == "90001"
        assert row["n_cells"] == int(mask.sum())
        assert row["sum_val"] == int(vals[mask].sum())
        assert row["min_val"] == int(vals[mask].min())
        assert row["max_val"] == int(vals[mask].max())
        # bbox would also sweep the notch + hole centers — ensure the
        # test is actually discriminating
        bbox_mask = (
            (cx >= 139.0) & (cx <= 141.0) & (cy >= 35.0) & (cy <= 36.4)
        )
        assert bbox_mask.sum() > mask.sum()


def test_uncompact_keeps_finer_cells_unchanged(spark):
    """Cells already at or finer than target_res pass through with
    their own resolution — a res-5 cell under target 4 must come back
    verbatim (an unclamped 2^(target-res) would emit garbage)."""
    from ksj2gp_spark.operators.raster import uncompact_cells

    res5 = (5 << 58) + (9 << 29) + 7
    res3 = (3 << 58) + (2 << 29) + 1
    df = spark.createDataFrame(
        [("a", res5), ("a", res3)], "admin_code string, cell long"
    )
    got = sorted(
        r["cell"] for r in uncompact_cells(df, target_res=4).collect()
    )
    # res-5 unchanged; res-3 expands into its 2x2 res-4 children
    kids = sorted(
        (4 << 58) + ((2 * 2 + dx) << 29) + (1 * 2 + dy)
        for dx in (0, 1)
        for dy in (0, 1)
    )
    assert got == sorted([res5] + kids)


def test_dissolve_merges_adjacent_same_group_polygons(spark):
    """Two adjacent rectangles in one group fuse into ONE outer ring
    (their shared boundary cancels); the same pair in different groups
    stays two rings. Cell-count invariant holds either way."""
    import pandas as pd

    from pyspark.sql import functions as F

    from ksj2gp_spark.geo import wkb as W
    from ksj2gp_spark.operators.raster import dissolve

    res = 12
    size = 360.0 / (1 << res)
    # two rectangles sharing the vertical edge x = 139 + 16*size,
    # each 16x8 cells, grid-aligned
    x0 = 139.0
    xm = x0 + 16 * size
    x1 = x0 + 32 * size
    y0, y1 = 35.0, 35.0 + 8 * size
    def rect(a, b):
        return W.polygon([(a, y0), (b, y0), (b, y1), (a, y1), (a, y0)])

    polys = pd.DataFrame(
        {
            "polygon_id": ["A", "B"],
            "行政区域コード": ["13101", "13202"],
            "geometry": [rect(x0, xm), rect(xm, x1)],
        }
    )
    merged = dissolve(
        spark, polys, res, F.substring("admin_code", 1, 2)
    ).toPandas()
    assert set(merged["admin_code"]) == {"13"}
    assert len(merged) == 1  # ONE fused ring, no hole
    assert round(merged["area_cells"].sum()) == 16 * 8 * 2

    split = dissolve(
        spark, polys, res, F.col("admin_code")
    ).toPandas()
    assert len(split) == 2  # separate groups keep separate rings
    assert sorted(round(a) for a in split["area_cells"]) == [128, 128]


def test_rasterize_layer_empty_input(spark):
    import pandas as pd

    from ksj2gp_spark.operators.raster import rasterize_layer

    empty = pd.DataFrame(
        columns=["polygon_id", "行政区域コード", "geometry"]
    )
    got = rasterize_layer(spark, empty, res=12)
    assert got.count() == 0
    assert got.columns == ["cell", "polygon_id", "admin_code"]


def test_rasterize_layer_skips_empty_polygon(spark):
    """An empty polygon in the layer adds no cells and no extent: the
    raster equals the same layer without that row."""
    import pandas as pd

    from ksj2gp_spark.geo import wkb as W
    from ksj2gp_spark.operators.raster import rasterize_layer

    tri = [(139.0, 35.0), (139.1, 35.0), (139.05, 35.08), (139.0, 35.0)]
    square = [(139.2, 35.1), (139.3, 35.1), (139.3, 35.2), (139.2, 35.2),
              (139.2, 35.1)]
    layer = pd.DataFrame(
        {
            "polygon_id": ["T", "E", "S"],
            "行政区域コード": ["13101", "13102", "13103"],
            "geometry": [W.polygon(tri), W.polygon(), W.polygon(square)],
        }
    )
    rows = lambda df: sorted(map(tuple, df.toPandas().to_numpy()))
    got = rows(rasterize_layer(spark, layer, res=12))
    want = rows(rasterize_layer(spark, layer[layer.polygon_id != "E"], res=12))
    assert got == want and got
    only_empty = layer[layer.polygon_id == "E"]
    assert rasterize_layer(spark, only_empty, res=12).count() == 0
