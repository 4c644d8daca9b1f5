"""Terrain map algebra (slope/aspect, contours) + cell morphology, each
pinned against an independent numpy / set-arithmetic reference."""

import numpy as np
import pandas as pd
import pytest

from ksj2gp_spark.operators.raster import (
    _RES_SHIFT,
    _IJ_BITS,
    dilate_cells,
    erode_cells,
    slope_aspect,
)


def _cell(res: int, i: int, j: int) -> int:
    return (res << _RES_SHIFT) + (i << _IJ_BITS) + j


class TestSlopeAspect:
    def test_matches_dense_horn(self, spark):
        res = 10
        size = 360.0 / (1 << res)
        rng = np.random.RandomState(3)
        H, W = 8, 9
        z = rng.rand(H, W) * 100
        i0, j0 = 900, 350
        rows = [
            {"cell": _cell(res, i0 + ii, j0 + jj), "value": float(z[ii, jj])}
            for ii in range(H)
            for jj in range(W)
        ]
        out = (
            slope_aspect(spark.createDataFrame(pd.DataFrame(rows)), res=res)
            .toPandas()
            .set_index("cell")
        )
        # interior count: (H-2)*(W-2)
        assert len(out) == (H - 2) * (W - 2)
        for ii in range(1, H - 1):
            for jj in range(1, W - 1):
                # i axis is the first index here (x), j the second (y)
                gx = (
                    (z[ii + 1, jj - 1] + 2 * z[ii + 1, jj] + z[ii + 1, jj + 1])
                    - (z[ii - 1, jj - 1] + 2 * z[ii - 1, jj] + z[ii - 1, jj + 1])
                ) / (8 * size)
                gy = (
                    (z[ii - 1, jj + 1] + 2 * z[ii, jj + 1] + z[ii + 1, jj + 1])
                    - (z[ii - 1, jj - 1] + 2 * z[ii, jj - 1] + z[ii + 1, jj - 1])
                ) / (8 * size)
                r = out.loc[_cell(res, i0 + ii, j0 + jj)]
                assert abs(r.dzdx - round(gx, 6)) < 2e-6
                assert abs(r.dzdy - round(gy, 6)) < 2e-6
                assert (
                    abs(
                        r.slope_deg
                        - round(
                            np.degrees(np.arctan(np.hypot(gx, gy))), 6
                        )
                    )
                    < 2e-6
                )
                assert abs(
                    r.aspect_deg - round(np.degrees(np.arctan2(gy, gx)), 6)
                ) < 2e-6

    def test_flat_plane_zero_slope(self, spark):
        res = 10
        rows = [
            {"cell": _cell(res, 900 + ii, 350 + jj), "value": 42.0}
            for ii in range(3)
            for jj in range(3)
        ]
        out = slope_aspect(
            spark.createDataFrame(pd.DataFrame(rows)), res=res
        ).toPandas()
        assert len(out) == 1
        assert out.slope_deg[0] == 0.0 and out.aspect_deg[0] == 0.0

    def test_tilted_plane_exact_gradient(self, spark):
        # z = 5 * i  (east-facing ramp): gx = 5/size, gy = 0
        res = 10
        size = 360.0 / (1 << res)
        rows = [
            {"cell": _cell(res, 900 + ii, 350 + jj), "value": 5.0 * ii}
            for ii in range(5)
            for jj in range(5)
        ]
        out = slope_aspect(
            spark.createDataFrame(pd.DataFrame(rows)), res=res
        ).toPandas()
        assert (out.dzdx == round(5.0 / size, 6)).all()
        assert (out.dzdy == 0.0).all()
        assert (out.aspect_deg == 0.0).all()  # uphill due east

    def test_edge_cells_drop_not_extrapolate(self, spark):
        res = 10
        rows = [
            {"cell": _cell(res, 900, 350 + jj), "value": 1.0}
            for jj in range(5)
        ]  # a 1-wide strip has no full window anywhere
        assert (
            slope_aspect(
                spark.createDataFrame(pd.DataFrame(rows)), res=res
            ).count()
            == 0
        )


class TestMorphology:
    def _cells_df(self, spark, ijs, res=10):
        return spark.createDataFrame(
            pd.DataFrame({"cell": [_cell(res, i, j) for i, j in ijs]})
        )

    def test_dilate_matches_set_reference(self, spark):
        ijs = {(100, 100), (100, 101), (105, 105)}
        out = {
            r.cell
            for r in dilate_cells(
                self._cells_df(spark, ijs), rings=2
            ).collect()
        }
        ref = {
            _cell(10, i + di, j + dj)
            for i, j in ijs
            for di in range(-2, 3)
            for dj in range(-2, 3)
        }
        assert out == ref

    def test_erode_inverse_of_dilate_on_solid_block(self, spark):
        ijs = {(i, j) for i in range(50, 60) for j in range(70, 80)}
        eroded = {
            r.cell
            for r in erode_cells(self._cells_df(spark, ijs), rings=1).collect()
        }
        ref = {
            _cell(10, i, j)
            for i in range(51, 59)
            for j in range(71, 79)
        }
        assert eroded == ref

    def test_closing_fills_pinhole(self, spark):
        ijs = {
            (i, j) for i in range(50, 57) for j in range(70, 77)
        } - {(53, 73)}
        closed = erode_cells(
            dilate_cells(self._cells_df(spark, ijs), rings=1), rings=1
        )
        assert _cell(10, 53, 73) in {r.cell for r in closed.collect()}

    def test_group_isolation(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "g": ["a", "b"],
                    "cell": [_cell(10, 100, 100), _cell(10, 100, 102)],
                }
            )
        )
        out = dilate_cells(df, rings=1, group_cols=("g",)).toPandas()
        # 9 cells each, no cross-group merge
        assert len(out) == 18
        assert set(out.g) == {"a", "b"}

    def test_domain_edges_drop(self, spark):
        out = dilate_cells(self._cells_df(spark, {(0, 0)}), rings=1).count()
        assert out == 4  # only the in-domain quadrant survives

    def test_validates_rings(self, spark):
        df = self._cells_df(spark, {(5, 5)})
        for fn in (dilate_cells, erode_cells):
            with pytest.raises(ValueError, match="rings"):
                fn(df, rings=-1)
            with pytest.raises(ValueError, match="explodes"):
                fn(df, rings=9)


class TestContourSegments:
    def _raster(self, spark, zfn, H=8, W=8, res=10, i0=900, j0=350):
        rows = [
            {"cell": _cell(res, i0 + ii, j0 + jj), "value": float(zfn(ii, jj))}
            for ii in range(H)
            for jj in range(W)
        ]
        return spark.createDataFrame(pd.DataFrame(rows))

    def test_tilted_plane_vertical_isoline(self, spark):
        from ksj2gp_spark.operators.raster import contour_segments

        res, H, W = 10, 6, 6
        size = 360.0 / (1 << res)
        out = contour_segments(
            self._raster(spark, lambda i, j: 2.0 * i, H=H, W=W, res=res),
            res=res,
            levels=[5.0],
        ).toPandas()
        # level 5 crosses between i=2 and i=3 at t=0.5: one vertical
        # segment per block row, W-1 of them, all at the same x
        assert len(out) == W - 1
        assert (out.x1 == out.x2).all()
        expected_x = round((900 + 2.5 + 0.5) * size - 180.0, 6)
        assert (out.x1 == expected_x).all()
        # segments chain: y-extents tile contiguously, each of height size
        ys = sorted(zip(out.y1, out.y2))
        for (a1, a2), (b1, b2) in zip(ys, ys[1:]):
            assert abs(a2 - b1) < 1e-9

    def test_peak_yields_closed_loop(self, spark):
        from ksj2gp_spark.operators.raster import contour_segments

        # radial bump: the level set is a closed loop — every endpoint
        # must appear exactly TWICE (loop closure), a topological
        # invariant independent of the case table
        out = contour_segments(
            self._raster(
                spark,
                lambda i, j: 100.0 - ((i - 3.5) ** 2 + (j - 3.5) ** 2),
                H=8,
                W=8,
            ),
            res=10,
            levels=[95.0],
        ).toPandas()
        assert len(out) > 0
        from collections import Counter

        pts = Counter()
        for _, r in out.iterrows():
            pts[(r.x1, r.y1)] += 1
            pts[(r.x2, r.y2)] += 1
        assert all(c == 2 for c in pts.values())

    def test_endpoints_lie_on_level(self, spark):
        from ksj2gp_spark.operators.raster import contour_segments

        # independent recompute: every endpoint sits on a block edge
        # whose linear interpolation at that point equals the level
        res = 10
        size = 360.0 / (1 << res)
        rng = np.random.RandomState(7)
        z = rng.rand(7, 7) * 10
        out = contour_segments(
            self._raster(spark, lambda i, j: z[i, j], H=7, W=7, res=res),
            res=res,
            levels=[5.0],
        ).toPandas()
        assert len(out) > 0

        def val_at(x, y):
            gi = (x + 180.0) / size - 0.5 - 900
            gj = (y + 90.0) / size - 0.5 - 350
            # endpoint is on a grid edge: one coordinate is integral
            if abs(gi - round(gi)) < 1e-6:
                i = int(round(gi))
                j0f = int(np.floor(gj))
                t = gj - j0f
                return (1 - t) * z[i, j0f] + t * z[i, j0f + 1]
            j = int(round(gj))
            i0f = int(np.floor(gi))
            t = gi - i0f
            return (1 - t) * z[i0f, j] + t * z[i0f + 1, j]

        for _, r in out.iterrows():
            assert abs(val_at(r.x1, r.y1) - 5.0) < 1e-4
            assert abs(val_at(r.x2, r.y2) - 5.0) < 1e-4

    def test_saddle_rule_deterministic(self, spark):
        from ksj2gp_spark.operators.raster import contour_segments

        # one block, A and C inside (case 5): exactly 2 segments
        out = contour_segments(
            self._raster(
                spark,
                lambda i, j: 9.0 if i == j else 1.0,
                H=2,
                W=2,
            ),
            res=10,
            levels=[5.0],
        ).toPandas()
        assert len(out) == 2

    def test_partial_blocks_drop_and_validation(self, spark):
        from ksj2gp_spark.operators.raster import contour_segments

        df = self._raster(spark, lambda i, j: float(i), H=1, W=5)
        assert contour_segments(df, res=10, levels=[0.5]).count() == 0
        with pytest.raises(ValueError, match="levels"):
            contour_segments(df, res=10, levels=[])
