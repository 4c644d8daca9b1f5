"""Geohash encoding (DataFrame expression, SQL function and numpy
kernel) and image sharpness scores.

Each operator is pinned against an independent brute-force reference
computed in numpy/pure Python inside the test (never against itself).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ksj2gp_spark.operators.cells import (
    GEOHASH_ALPHABET,
    geohash_col,
    geohash_sql,
)


def _points_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    return pd.DataFrame(
        {
            "point_id": np.arange(n),
            "lon": 139.0 + rng.rand(n) * 0.5,
            "lat": 35.0 + rng.rand(n) * 0.5,
            "value": rng.rand(n) * 50,
        }
    )


def _ref_geohash(lon: float, lat: float, p: int) -> str:
    lo, la, bits, even = [-180.0, 180.0], [-90.0, 90.0], [], True
    while len(bits) < 5 * p:
        rng = lo if even else la
        v = lon if even else lat
        mid = (rng[0] + rng[1]) / 2
        if v >= mid:
            bits.append(1)
            rng[0] = mid
        else:
            bits.append(0)
            rng[1] = mid
        even = not even
    return "".join(
        GEOHASH_ALPHABET[int("".join(map(str, bits[i : i + 5])), 2)]
        for i in range(0, 5 * p, 5)
    )


class TestGeohash:
    def test_matches_bisection_reference(self, spark):
        pts = _points_pdf(200)
        for p in (1, 5, 7, 12):
            out = (
                spark.createDataFrame(pts)
                .select(
                    "point_id",
                    geohash_col(F.col("lon"), F.col("lat"), p).alias("gh"),
                )
                .toPandas()
                .set_index("point_id")
                .sort_index()
            )
            for i in range(len(pts)):
                assert out.gh[i] == _ref_geohash(pts.lon[i], pts.lat[i], p)

    def test_known_value(self, spark):
        # widely-published example: geohash of (57.64911, 10.40744) is u4pruydqqvj
        out = spark.range(1).select(
            geohash_col(F.lit(10.40744), F.lit(57.64911), 11).alias("gh")
        ).collect()[0][0]
        assert out == "u4pruydqqvj"

    def test_sql_twin_identical(self, spark):
        import duckdb

        pts = _points_pdf(150, seed=5)
        sdf = (
            spark.createDataFrame(pts)
            .select(
                "point_id",
                geohash_col(F.col("lon"), F.col("lat"), 6).alias("gh"),
            )
            .toPandas()
            .sort_values("point_id")
        )
        con = duckdb.connect()
        con.register("pts", pts)
        ddf = con.sql(
            f"SELECT point_id, {geohash_sql('lon', 'lat', 6)} AS gh "
            "FROM pts ORDER BY point_id"
        ).df()
        assert (sdf.gh.values == ddf.gh.values).all()

    def test_edge_coordinates_clamped(self, spark):
        rows = spark.createDataFrame(
            pd.DataFrame(
                {"lon": [-180.0, 180.0, 0.0], "lat": [-90.0, 90.0, 0.0]}
            )
        ).select(geohash_col(F.col("lon"), F.col("lat"), 4).alias("gh"))
        vals = [r.gh for r in rows.collect()]
        assert all(len(v) == 4 for v in vals)
        assert vals[0] == "0000"  # all-zero bits at the SW corner

    def test_validates_precision(self):
        with pytest.raises(ValueError, match="precision"):
            geohash_sql("lon", "lat", 0)
        with pytest.raises(ValueError, match="precision"):
            geohash_col(F.lit(0.0), F.lit(0.0), 13)


class TestSharpnessScores:
    def test_exact_sums_vs_pixel_formula(self, spark):
        from ksj2gp_spark import fixtures
        from ksj2gp_spark.formats.imagecodec import make_test_image
        from ksj2gp_spark.operators.images import sharpness_scores

        imgs = fixtures.images_df(spark, 60, with_bytes=True).filter(
            F.col("fmt") == "png"
        )
        out = sharpness_scores(imgs).toPandas()
        assert len(out) == 40  # ids with i % 3 != 0
        for _, r in out.iterrows():
            i = int(r.image_id[3:])
            h, w = 8 + i % 9, 8 + (i * 3) % 9
            p = make_test_image(i, h, w).astype(np.int64)[:, :, 1]
            lap = (
                4 * p[1:-1, 1:-1]
                - p[:-2, 1:-1]
                - p[2:, 1:-1]
                - p[1:-1, :-2]
                - p[1:-1, 2:]
            )
            assert r.n_pix == h * w
            assert r.sum_p == p.sum()
            assert r.sum_p2 == (p * p).sum()
            assert r.lap_sq_sum == (lap * lap).sum()
            assert r.n_interior == (h - 2) * (w - 2)
            assert abs(
                r.sharpness - round((lap * lap).sum() / ((h - 2) * (w - 2)), 6)
            ) < 1e-9

    def test_flat_image_scores_zero(self, spark):
        from ksj2gp_spark.formats.imagecodec import encode_image
        from ksj2gp_spark.operators.images import sharpness_scores

        flat = np.full((10, 10, 3), 128, dtype=np.uint8)
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": ["flat"],
                    "bytes": [encode_image(flat, 'png')],
                    "fmt": ["png"],
                }
            )
        )
        out = sharpness_scores(df).toPandas()
        assert out.lap_sq_sum[0] == 0 and out.sharpness[0] == 0.0
        assert out.sum_p[0] == 128 * 100

    def test_tiny_and_undecodable(self, spark):
        from ksj2gp_spark.formats.imagecodec import encode_image
        from ksj2gp_spark.operators.images import sharpness_scores

        tiny = np.arange(4, dtype=np.uint8).reshape(2, 2)
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": ["tiny", "bad"],
                    "bytes": [encode_image(tiny, 'png'), b"garbage"],
                    "fmt": ["png", "png"],
                }
            )
        )
        out = sharpness_scores(df).toPandas()
        assert list(out.image_id) == ["tiny"]  # bad row skipped
        assert out.n_interior[0] == 0 and out.lap_sq_sum[0] == 0


class TestPlanShapes:
    """The intended physical plans, pinned (the repo's plan-assertion
    pattern): pure codegen where promised."""

    def _plan(self, df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_geohash_pure_codegen(self, spark):
        df = spark.createDataFrame(_points_pdf(10)).select(
            geohash_col(F.col("lon"), F.col("lat"), 6).alias("gh")
        )
        plan = self._plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestGeohashSqlSurface:
    def test_sql_function_equals_dataframe_expression(self, spark):
        from ksj2gp_spark.sql import register_sql_functions

        names = register_sql_functions(spark)
        assert "geohash" in names
        pts = _points_pdf(80, seed=11)
        spark.createDataFrame(pts).createOrReplaceTempView("gh_pts")
        via_sql = (
            spark.sql(
                "SELECT point_id, geohash(lon, lat, 7) AS gh "
                "FROM gh_pts ORDER BY point_id"
            )
            .toPandas()
        )
        via_df = (
            spark.createDataFrame(pts)
            .select(
                "point_id",
                geohash_col(F.col("lon"), F.col("lat"), 7).alias("gh"),
            )
            .toPandas()
            .sort_values("point_id")
            .reset_index(drop=True)
        )
        assert (via_sql.gh.values == via_df.gh.values).all()

    def test_sql_function_rejects_varying_precision(self, spark):
        """A precision column that varies within a batch is refused,
        not silently encoded at the first row's precision."""
        from ksj2gp_spark.sql import register_sql_functions

        register_sql_functions(spark)
        pts = _points_pdf(20, seed=17)
        pts["p"] = np.where(np.arange(len(pts)) % 2 == 0, 5, 7)
        spark.createDataFrame(pts).coalesce(1).createOrReplaceTempView(
            "gh_mixed"
        )
        with pytest.raises(Exception, match="precision must be constant"):
            spark.sql("SELECT geohash(lon, lat, p) AS gh FROM gh_mixed").collect()

    def test_numpy_kernel_matches_reference(self):
        from ksj2gp_spark.operators.cells import geohash_np

        pts = _points_pdf(60, seed=13)
        out = geohash_np(pts.lon.values, pts.lat.values, 8)
        for i in range(len(pts)):
            assert out[i] == _ref_geohash(pts.lon[i], pts.lat[i], 8)


class TestGeohashProperties:
    def test_prefix_property_exact(self):
        """Truncating a precision-8 geohash to 5 chars IS the
        precision-5 geohash — exact by construction (floor(x*2^20)>>7
        == floor(x*2^13)), a real invariant hierarchical tiling
        depends on (prefix joins between mixed-precision tables)."""
        from hypothesis import given, settings, strategies as st

        from ksj2gp_spark.operators.cells import geohash_np

        @settings(max_examples=300, deadline=None)
        @given(
            st.floats(min_value=-180.0, max_value=180.0,
                      allow_nan=False),
            st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
        )
        def check(lon, lat):
            g8 = geohash_np(np.array([lon]), np.array([lat]), 8)[0]
            g5 = geohash_np(np.array([lon]), np.array([lat]), 5)[0]
            assert g8[:5] == g5

        check()

    def test_neighbors_share_prefix_at_coarse_precision(self):
        # two points 1e-7 deg apart agree at short precision almost
        # everywhere; just pin a known pair (not a general invariant
        # at cell boundaries)
        from ksj2gp_spark.operators.cells import geohash_np

        a = geohash_np(np.array([139.70001]), np.array([35.70001]), 4)[0]
        b = geohash_np(np.array([139.70002]), np.array([35.70002]), 4)[0]
        assert a == b
