"""Geostatistics lane: empirical variogram, local ordinary kriging,
Weiszfeld geometric median, geohash encoding, image sharpness scores.

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
from ksj2gp_spark.operators.spatial import (
    _variogram_gamma_np,
    empirical_variogram,
    geometric_median,
    ordinary_krige,
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


class TestEmpiricalVariogram:
    def test_matches_bruteforce(self, spark):
        pts = _points_pdf(300)
        out = (
            empirical_variogram(
                spark.createDataFrame(pts), max_lag=0.1, n_bins=5
            )
            .toPandas()
            .sort_values("bin")
            .reset_index(drop=True)
        )
        xs, ys, vs = pts.lon.values, pts.lat.values, pts.value.values
        d = np.sqrt(
            (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
        )
        iu = np.triu_indices(len(pts), 1)
        dd, dv2 = d[iu], (vs[:, None] - vs[None, :])[iu] ** 2
        m = dd <= 0.1
        bins = np.minimum((dd[m] / 0.02).astype(int), 4)
        ref = (
            pd.DataFrame({"bin": bins, "d": dd[m], "g": dv2[m] / 2})
            .groupby("bin")
            .agg(
                n_pairs=("d", "size"),
                avg_dist=("d", "mean"),
                gamma=("g", "mean"),
            )
            .reset_index()
        )
        assert list(out["bin"]) == list(ref["bin"])
        assert list(out["n_pairs"]) == list(ref["n_pairs"])
        np.testing.assert_allclose(out.avg_dist, ref.avg_dist, atol=2e-6)
        np.testing.assert_allclose(out.gamma, ref.gamma, atol=2e-6)

    def test_sample_fraction_thins_pairs_deterministically(self, spark):
        df = spark.createDataFrame(_points_pdf(300))
        full = empirical_variogram(df, max_lag=0.1, n_bins=4)
        thin1 = empirical_variogram(
            df, max_lag=0.1, n_bins=4, sample_fraction=0.5, seed=7
        ).toPandas()
        thin2 = empirical_variogram(
            df, max_lag=0.1, n_bins=4, sample_fraction=0.5, seed=7
        ).toPandas()
        # rerun-stable (deterministic hash thinning) and genuinely thinner
        pd.testing.assert_frame_equal(
            thin1.sort_values("bin").reset_index(drop=True),
            thin2.sort_values("bin").reset_index(drop=True),
        )
        assert (
            thin1.n_pairs.sum() < full.toPandas().n_pairs.sum()
        )

    def test_validates_inputs(self, spark):
        df = spark.createDataFrame(_points_pdf(10))
        with pytest.raises(ValueError, match="max_lag"):
            empirical_variogram(df, max_lag=0.0)
        with pytest.raises(ValueError, match="n_bins"):
            empirical_variogram(df, max_lag=0.1, n_bins=0)
        with pytest.raises(ValueError, match="sample_fraction"):
            empirical_variogram(df, max_lag=0.1, sample_fraction=1.5)
        with pytest.raises(ValueError, match="cell edge"):
            empirical_variogram(df, max_lag=0.1, res=20)


def _ref_krige(tx, ty, xs, ys, vs, radius, k, gam):
    dd = np.sqrt((xs - tx) ** 2 + (ys - ty) ** 2)
    inr = np.nonzero(dd <= radius)[0]
    if len(inr) == 0:
        return None
    order = sorted(inr, key=lambda i: (dd[i] ** 2, i))[:k]
    n = len(order)
    sx, sy, sv, sd = xs[order], ys[order], vs[order], dd[order]
    A = np.zeros((n + 1, n + 1))
    dss = np.sqrt(
        (sx[:, None] - sx[None, :]) ** 2 + (sy[:, None] - sy[None, :]) ** 2
    )
    A[:n, :n] = gam(dss)
    A[n, :n] = 1.0
    A[:n, n] = 1.0
    b = np.r_[gam(sd), 1.0]
    x = np.linalg.solve(A, b)
    w, mu = x[:n], x[n]
    return n, float(w @ sv), float(w @ gam(sd) + mu)


class TestOrdinaryKrige:
    def test_matches_bruteforce_solve(self, spark):
        pts = _points_pdf(300)
        tg = _points_pdf(40, seed=9).rename(
            columns={"point_id": "target_id"}
        )[["target_id", "lon", "lat"]]
        out = (
            ordinary_krige(
                spark.createDataFrame(tg),
                spark.createDataFrame(
                    pts.rename(columns={"point_id": "station_id"})
                ),
                radius=0.08,
                k=6,
                model="exponential",
                nugget=0.1,
                psill=20.0,
                vrange=0.05,
            )
            .toPandas()
            .set_index("target_id")
            .sort_index()
        )

        def gam(d):
            return np.where(
                np.asarray(d) > 0, 0.1 + 20.0 * (1 - np.exp(-np.asarray(d) / 0.05)), 0.0
            )

        xs, ys, vs = pts.lon.values, pts.lat.values, pts.value.values
        n_found = 0
        for ti in range(40):
            ref = _ref_krige(
                tg.lon[ti], tg.lat[ti], xs, ys, vs, 0.08, 6, gam
            )
            if ref is None:
                assert ti not in out.index
                continue
            n_found += 1
            n, pv, vv = ref
            r = out.loc[ti]
            assert r.n_used == n
            assert abs(r.krige_value - round(pv, 6)) < 2e-6
            assert abs(r.krige_var - round(vv, 6)) < 2e-6
        assert n_found == len(out) > 0

    def test_single_station_degenerate(self, spark):
        # one in-range station: prediction = its value, var = 2*gamma_1t
        tg = spark.createDataFrame(
            pd.DataFrame({"target_id": [0], "lon": [139.0], "lat": [35.0]})
        )
        st = spark.createDataFrame(
            pd.DataFrame(
                {
                    "station_id": [0, 1],
                    "lon": [139.01, 150.0],
                    "lat": [35.0, 40.0],
                    "value": [7.5, 99.0],
                }
            )
        )
        out = ordinary_krige(
            tg, st, radius=0.05, k=4, nugget=0.2, psill=3.0, vrange=0.1
        ).toPandas()
        assert len(out) == 1 and out.n_used[0] == 1
        g = float(
            _variogram_gamma_np(
                np.array([0.01]), "exponential", 0.2, 3.0, 0.1
            )[0]
        )
        assert abs(out.krige_value[0] - 7.5) < 1e-9
        assert abs(out.krige_var[0] - round(2 * g, 6)) < 2e-6

    def test_spherical_and_gaussian_models(self, spark):
        pts = _points_pdf(120, seed=3)
        tg = _points_pdf(10, seed=4).rename(columns={"point_id": "target_id"})
        for model in ("spherical", "gaussian"):
            out = ordinary_krige(
                spark.createDataFrame(tg[["target_id", "lon", "lat"]]),
                spark.createDataFrame(
                    pts.rename(columns={"point_id": "station_id"})
                ),
                radius=0.1,
                k=4,
                model=model,
                nugget=0.05,
                psill=10.0,
                vrange=0.08,
            ).toPandas()
            assert len(out) > 0
            assert out.krige_value.notna().all()

    def test_validates_inputs(self, spark):
        df = spark.createDataFrame(_points_pdf(5))
        tg = df.withColumnRenamed("point_id", "target_id")
        st = df.withColumnRenamed("point_id", "station_id")
        with pytest.raises(ValueError, match="radius"):
            ordinary_krige(tg, st, radius=0.0)
        with pytest.raises(ValueError, match="k must"):
            ordinary_krige(tg, st, radius=0.1, k=0)
        with pytest.raises(ValueError, match="vrange"):
            ordinary_krige(tg, st, radius=0.1, vrange=-1.0)
        with pytest.raises(ValueError, match="unknown variogram"):
            ordinary_krige(tg, st, radius=0.1, model="cubic")


class TestGeometricMedian:
    def test_matches_unrolled_weiszfeld(self, spark):
        pts = _points_pdf(200)
        gdf = spark.createDataFrame(pts).withColumn(
            "group", (F.col("point_id") % 3).cast("int")
        )
        out = (
            geometric_median(gdf, group_col="group", iters=3)
            .toPandas()
            .set_index("group")
            .sort_index()
        )
        for g in range(3):
            sel = pts.point_id % 3 == g
            px, py = pts.lon.values[sel], pts.lat.values[sel]
            mx, my = px.mean(), py.mean()
            for _ in range(3):
                dd = np.maximum(
                    np.sqrt((px - mx) ** 2 + (py - my) ** 2), 1e-12
                )
                w = 1 / dd
                mx, my = (w * px).sum() / w.sum(), (w * py).sum() / w.sum()
            r = out.loc[g]
            assert r.n_points == sel.sum()
            assert abs(r.med_lon - round(mx, 6)) < 2e-6
            assert abs(r.med_lat - round(my, 6)) < 2e-6

    def test_median_beats_mean_on_skewed_cluster(self, spark):
        # 9 points at origin-ish + 1 far outlier: the median stays with
        # the cluster while the mean is dragged
        pdf = pd.DataFrame(
            {
                "group": ["a"] * 10,
                "lon": [139.0] * 9 + [145.0],
                "lat": [35.0] * 9 + [40.0],
            }
        )
        out = geometric_median(
            spark.createDataFrame(pdf), group_col="group", iters=8
        ).toPandas()
        assert abs(out.med_lon[0] - 139.0) < 0.01
        assert abs(out.med_lat[0] - 35.0) < 0.01

    def test_iters_zero_is_centroid(self, spark):
        pts = _points_pdf(50)
        gdf = spark.createDataFrame(pts).withColumn("group", F.lit(1))
        out = geometric_median(gdf, group_col="group", iters=0).toPandas()
        assert abs(out.med_lon[0] - round(pts.lon.mean(), 6)) < 2e-6
        with pytest.raises(ValueError, match="iters"):
            geometric_median(gdf, group_col="group", iters=-1)


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
    pattern): no cartesian blowups, pure codegen where promised."""

    def _plan(self, df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_variogram_no_cartesian_no_python(self, spark):
        df = spark.createDataFrame(_points_pdf(50))
        plan = self._plan(empirical_variogram(df, max_lag=0.1, n_bins=4))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan  # zero Python in the plan

    def test_krige_no_cartesian(self, spark):
        pts = _points_pdf(50)
        plan = self._plan(
            ordinary_krige(
                spark.createDataFrame(
                    pts.rename(columns={"point_id": "target_id"})
                ),
                spark.createDataFrame(
                    pts.rename(columns={"point_id": "station_id"})
                ),
                radius=0.05,
                k=3,
            )
        )
        assert "CartesianProduct" not in plan
        # the ONLY Python boundary is the post-collapse solve kernel
        assert plan.count("MapInPandas") == 1

    def test_median_broadcasts_estimates(self, spark):
        df = spark.createDataFrame(_points_pdf(50)).withColumn(
            "group", (F.col("point_id") % 2).cast("int")
        )
        plan = self._plan(geometric_median(df, group_col="group", iters=2))
        assert "BroadcastHashJoin" in plan  # estimate frame, never the points
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

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
