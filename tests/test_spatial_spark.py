"""End-to-end Spark spatial-join tests against the sequential oracle
(FIXTURES.md §5): row-set equality per scheme/strategy, skew salting,
Tokyo-datum lane, kNN lane, and parallelism-independence."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ksj2gp_spark import fixtures
from ksj2gp_spark.operators import cells, spatial

N = 4000


@pytest.fixture(scope="module")
def images(spark):
    df = fixtures.images_df(spark, N, with_bytes=False).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def expected():
    ids = np.arange(N, dtype=np.int64)
    lon, lat = fixtures.anchor_lonlat(ids)
    admin = fixtures.expected_admin_code(lon, lat)
    pdf = pd.DataFrame(
        {"image_id": [f"img{i:08d}" for i in ids], "admin_code": admin}
    )
    return pdf[pdf["admin_code"].notna()]


def _check_against_oracle(tiles_df, expected):
    got = (
        tiles_df.select("image_id", "admin_code")
        .toPandas()
        .sort_values(["image_id", "admin_code"])
        .reset_index(drop=True)
    )
    # An anchor on a shared polygon edge may legitimately match two
    # polygons; the fixture oracle assigns first-match, so compare sets
    # per image: the oracle's assignment must be among the matches, and
    # off-edge images must match exactly one polygon.
    by_img = got.groupby("image_id")["admin_code"].agg(set)
    exp = expected.set_index("image_id")["admin_code"]
    assert set(by_img.index) == set(exp.index)
    for img, code in exp.items():
        assert code in by_img[img], f"{img}: {code} not in {by_img[img]}"
    multi = (by_img.map(len) > 1).sum()
    assert multi <= len(exp) * 0.01  # edge hits are rare


@pytest.mark.parametrize("scheme", ["grid", "hex", "s2"])
def test_broadcast_join_matches_oracle(spark, images, expected, scheme):
    tiles = spatial.spatial_join_tiles(
        images, fixtures.polygon_layer(), scheme=scheme
    )
    _check_against_oracle(tiles, expected)


def test_shuffle_salted_join_matches_oracle(spark, images, expected):
    pts = cells.with_cell(images, "grid", 10)
    hot = spatial.find_hot_cells(pts, threshold_ratio=2.0)
    assert hot, "skewed fixture should produce hot cells"
    tiles = spatial.spatial_join_tiles(
        images,
        fixtures.polygon_layer(),
        scheme="grid",
        strategy="shuffle",
        n_salt=4,
        hot_cells=hot,
    )
    _check_against_oracle(tiles, expected)


def test_tokyo_datum_lane(spark, images, expected):
    """Polygon layer stored in Tokyo datum; engine must Helmert it back
    and produce identical assignments."""
    tiles = spatial.spatial_join_tiles(
        images, fixtures.polygon_layer_tokyo_datum(), scheme="grid"
    )
    _check_against_oracle(tiles, expected)


def test_ocean_images_unmatched(spark, images):
    tiles = spatial.spatial_join_tiles(
        images, fixtures.polygon_layer(), scheme="grid"
    )
    pts = cells.with_cell(images, "grid", 10)
    un = spatial.unmatched_images(pts, tiles)
    ids = [r["image_id"] for r in un.select("image_id").collect()]
    lon, lat = fixtures.anchor_lonlat(
        np.array([int(i[3:]) for i in ids], dtype=np.int64)
    )
    assert (lon > fixtures.LON1).all()  # exactly the ocean lane


def test_knn_lane(spark, images):
    tiles = spatial.spatial_join_tiles(
        images, fixtures.polygon_layer(), scheme="grid"
    )
    pts = cells.with_cell(images, "grid", 10)
    un = spatial.unmatched_images(pts, tiles)
    knn = spatial.knn_join(un, fixtures.polygon_layer(), k=3).toPandas()
    n_unmatched = un.count()
    assert len(knn) == 3 * n_unmatched
    # ocean anchors are east of the box: nearest polygons must be the
    # easternmost slice of some band, and distances non-decreasing
    for _, g in knn.groupby("image_id"):
        g = g.sort_values("rank")
        d = g["distance"].to_numpy()
        assert (np.diff(d) >= -1e-12).all()
        assert (d > 0).all()


def test_parallelism_independent_rowset(spark, expected):
    """Same input at different partition counts → identical row sets
    (the local[8]/local[32] determinism requirement)."""
    outs = []
    for parts in (2, 16):
        imgs = fixtures.images_df(spark, 1000, with_bytes=False, partitions=parts)
        tiles = spatial.spatial_join_tiles(
            imgs, fixtures.polygon_layer(), scheme="hex"
        )
        pdf = (
            tiles.select("image_id", "cell", "admin_code")
            .toPandas()
            .sort_values(["image_id", "cell", "admin_code"])
            .reset_index(drop=True)
        )
        outs.append(pdf)
    pd.testing.assert_frame_equal(outs[0], outs[1])


def test_salting_flattens_partitions(spark, images):
    """The salted build side replicates hot-cell rows n_salt times."""
    pts = cells.with_cell(images, "grid", 10)
    hot = spatial.find_hot_cells(pts, threshold_ratio=2.0)
    polys = cells.normalize_polygons(fixtures.polygon_layer())
    cover_pdf = cells.polygon_cover_pdf(polys, "grid", 10, extra_cols=())
    cover = spark.createDataFrame(cover_pdf)
    cand_plain = spatial.candidate_join(pts, cover, "shuffle")
    cand_salted = spatial.candidate_join(
        pts, cover, "shuffle", n_salt=4, hot_cells=hot
    )
    assert cand_plain.count() == cand_salted.count()
    # max per-(cell) probe groups exceed mean by construction (70% hot):
    per_cell = cand_plain.groupBy("cell").count().toPandas()["count"]
    assert per_cell.max() > 2 * per_cell.mean()


def test_fused_assign_or_knn_equals_two_pass(spark, images):
    """The fused single-pass operator's row set must equal
    spatial_join_tiles ∪ knn_join(unmatched) — same rows, no shuffle."""
    polys = fixtures.polygon_layer()
    fused = spatial.fused_assign_or_knn(
        images, polys, scheme="grid", res=10, k=3
    ).toPandas()

    tiles = spatial.spatial_join_tiles(images, polys, scheme="grid", res=10)
    pts = cells.with_cell(images.select("image_id", "lon", "lat"), "grid", 10)
    un = spatial.unmatched_images(pts, tiles)
    knn = spatial.knn_join(un, polys, k=3).toPandas()
    tiles_pdf = tiles.toPandas()

    got_assigned = fused[fused["rank"] == 0]
    key = ["image_id", "cell", "polygon_id", "admin_code"]
    a = set(map(tuple, got_assigned[key].itertuples(index=False)))
    b = set(map(tuple, tiles_pdf[key].itertuples(index=False)))
    assert a == b

    got_knn = fused[fused["rank"] > 0]
    kk = ["image_id", "rank", "polygon_id", "admin_code"]
    assert set(map(tuple, got_knn[kk].itertuples(index=False))) == set(
        map(tuple, knn[kk].itertuples(index=False))
    )
    # distances agree too, bit for bit
    m = got_knn.merge(knn, on=["image_id", "rank"], suffixes=("_f", "_r"))
    assert (m["distance_f"].to_numpy() == m["distance_r"].to_numpy()).all()


@pytest.mark.parametrize("scheme,res", [("hex", 7), ("grid", 10)])
def test_polygon_index_equals_sequential_build(spark, scheme, res):
    """``PolygonIndex.build`` makes the cover and the polygon side on two
    threads; its broadcasts hold exactly what a sequential
    ``polygon_cover_pdf`` + ``_polygon_side`` build gives, bit for bit."""
    from dataclasses import fields

    layer = fixtures.polygon_layer()
    index = spatial.PolygonIndex.build(spark, layer, scheme, res)
    try:
        got_cells, got_cell_poly = index.cover.value
        got_pids, got_admins, got_edges = index.polygons.value
    finally:
        index.release()

    polys = cells.normalize_polygons(layer)
    cover = cells.polygon_cover_pdf(
        polys.assign(_poly=np.arange(len(polys))), scheme, res, id_col="_poly"
    )
    order = np.argsort(cover["cell"].to_numpy(), kind="stable")
    pids, admins, edges = spatial._polygon_side(polys, "行政区域コード")

    def same(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return a.dtype == b.dtype and a.shape == b.shape and (
            a.tobytes() == b.tobytes() if a.dtype != object
            else a.tolist() == b.tolist()
        )

    assert index.n_polygons == len(polys)
    assert same(got_cells, cover["cell"].to_numpy()[order])
    assert same(got_cell_poly, cover["_poly"].to_numpy()[order].astype(np.int32))
    assert same(got_pids, pids) and same(got_admins, admins)
    for f in fields(edges):
        if not f.name.startswith("_"):
            assert same(getattr(got_edges, f.name), getattr(edges, f.name)), f.name


def test_polygon_index_failed_cover_leaves_no_broadcast(spark, monkeypatch):
    """A cover build that fails destroys the polygon side's broadcast,
    which the other thread shipped meanwhile."""
    from pyspark.broadcast import Broadcast

    destroyed = []
    destroy = Broadcast.destroy

    def counting_destroy(b, *a, **kw):
        destroyed.append(b)
        destroy(b, *a, **kw)

    def failing_cover(*a, **kw):
        raise RuntimeError("cover failed")

    monkeypatch.setattr(Broadcast, "destroy", counting_destroy)
    monkeypatch.setattr(spatial, "polygon_cover_pdf", failing_cover)
    with pytest.raises(RuntimeError, match="cover failed"):
        spatial.PolygonIndex.build(spark, fixtures.polygon_layer(), "grid", 10)
    assert len(destroyed) == 1


def test_auto_strategy_picks_broadcast_small_cover(spark, images, expected):
    got = spatial.spatial_join_tiles(
        images, fixtures.polygon_layer(), scheme="grid", strategy="auto"
    ).toPandas()
    assert set(zip(got["image_id"], got["admin_code"])) == set(
        zip(expected["image_id"], expected["admin_code"])
    )


@pytest.mark.parametrize("scheme,res", [("hex", 8), ("s2", 13), ("grid", 11)])
def test_join_concave_polygon_with_hole(spark, scheme, res):
    """End-to-end join against an L-shaped polygon with a hole plus a
    disjoint triangle, checked per-point against a slow ray-cast oracle
    (covers semantics: boundary handling may differ on exact edges, so
    probe points are kept off edges)."""
    import pandas as pd

    from ksj2gp_spark.geo import wkb as W

    ell = [
        (139.0, 35.0), (141.0, 35.0), (141.0, 35.6), (139.8, 35.6),
        (139.8, 36.4), (139.0, 36.4), (139.0, 35.0),
    ]
    hole = [
        (139.2, 35.15), (139.6, 35.15), (139.6, 35.45), (139.2, 35.45),
        (139.2, 35.15),
    ]
    tri = [(140.3, 36.0), (140.9, 36.0), (140.6, 36.5), (140.3, 36.0)]
    polys = pd.DataFrame(
        {
            "polygon_id": ["L", "T"],
            "行政区域コード": ["90001", "90002"],
            "geometry": [W.polygon(ell, hole), W.polygon(tri)],
        }
    )

    n = 3000
    ids = np.arange(n)
    rs = np.random.default_rng(7)
    lon = rs.uniform(138.9, 141.1, n)
    lat = rs.uniform(34.9, 36.6, n)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": [f"p{i:05d}" for i in ids], "lon": lon, "lat": lat}
        )
    )

    def slow_contains(ring, px, py):
        inside = False
        for k in range(len(ring) - 1):
            x0, y0 = ring[k]
            x1, y1 = ring[k + 1]
            if (y0 <= py) != (y1 <= py):
                if px < x0 + (py - y0) * (x1 - x0) / (y1 - y0):
                    inside = not inside
        return inside

    expected = set()
    for i in range(n):
        in_l = slow_contains(ell, lon[i], lat[i]) and not slow_contains(
            hole, lon[i], lat[i]
        )
        if in_l:
            expected.add((f"p{i:05d}", "L"))
        if slow_contains(tri, lon[i], lat[i]):
            expected.add((f"p{i:05d}", "T"))

    for strategy in ("broadcast", "fused", "shuffle"):
        got = spatial.spatial_join_tiles(
            pts, polys, scheme=scheme, res=res, strategy=strategy
        ).toPandas()
        assert (
            set(zip(got["image_id"], got["polygon_id"])) == expected
        ), f"{scheme}/{strategy}"


def test_broadcast_join_rejects_repeated_polygon_id(spark):
    """Two different squares under one polygon_id: the refine cannot
    tell which geometry a candidate came from, so the join refuses the
    layer instead of testing one square's candidates against the
    other."""
    from ksj2gp_spark.geo import wkb as W

    polys = pd.DataFrame({
        "polygon_id": ["A", "dup", "dup"],
        "行政区域コード": ["90001", "90002", "90003"],
        "geometry": [
            W.polygon([(139.0, 35.0), (139.5, 35.0), (139.5, 35.5),
                       (139.0, 35.5), (139.0, 35.0)]),
            W.polygon([(140.0, 35.0), (140.5, 35.0), (140.5, 35.5),
                       (140.0, 35.5), (140.0, 35.0)]),
            W.polygon([(141.0, 35.0), (141.5, 35.0), (141.5, 35.5),
                       (141.0, 35.5), (141.0, 35.0)]),
        ],
    })
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": ["a", "b"], "lon": [140.2, 141.2], "lat": [35.2, 35.2],
    }))
    with pytest.raises(ValueError, match="dup"):
        spatial.spatial_join_tiles(
            pts, polys, scheme="grid", res=10, strategy="broadcast"
        ).collect()


def _rect_layer(rs, n, size, box=(130, 31, 142, 43)):
    """``n`` random axis-aligned rectangles in ``box``, ids pg00000…"""
    from ksj2gp_spark.geo import wkb as W

    x = rs.uniform(box[0], box[2], n); y = rs.uniform(box[1], box[3], n)
    w = rs.uniform(*size, n); h = rs.uniform(*size, n)
    return pd.DataFrame({
        "polygon_id": [f"pg{i:05d}" for i in range(n)],
        "行政区域コード": [f"{10000 + i}" for i in range(n)],
        "geometry": [
            W.polygon([(a, b), (a + c, b), (a + c, b + d), (a, b + d), (a, b)])
            for a, b, c, d in zip(x, y, w, h)
        ],
    })


def _assert_same_knn(got, want):
    """Same (image, rank) rows, polygons, admin codes and distances, the
    distances bit for bit."""
    m = want.merge(got, on=["image_id", "rank"], suffixes=("_w", "_g"))
    assert len(m) == len(want) == len(got)
    assert (m["distance_w"].to_numpy() == m["distance_g"].to_numpy()).all()
    assert (m["polygon_id_w"] == m["polygon_id_g"]).all()
    assert (m["admin_code_w"] == m["admin_code_g"]).all()


def test_knn_pruned_equals_brute_force(spark):
    """Bound-pruned kNN ≡ brute-force ``knn_join`` on an 800-polygon
    layer plus two mirror-image squares and an empty polygon: identical
    neighbours and distances for points over the layer, points 0.75°
    offshore and a point equidistant from the mirror pair, whose tie
    resolves in admin_code order."""
    from ksj2gp_spark.geo import wkb as W

    rs = np.random.default_rng(3)
    NPT = 1200
    sq = [(0.0, -0.25), (0.25, -0.25), (0.25, 0.25), (0.0, 0.25)]
    extra = pd.DataFrame({
        "polygon_id": ["tieA", "tieB", "empty"],
        "行政区域コード": ["99999", "00001", "00000"],
        "geometry": [
            W.polygon([(145.75 - dx, 40.0 + dy) for dx, dy in sq]),
            W.polygon([(146.25 + dx, 40.0 + dy) for dx, dy in sq]),
            W.polygon(),
        ],
    })
    polys = pd.concat(
        [_rect_layer(rs, 800, (0.01, 0.08)), extra], ignore_index=True
    )
    lon = np.r_[rs.uniform(129.5, 142.5, NPT), np.full(40, 142.75), 146.0]
    lat = np.r_[rs.uniform(30.5, 43.5, NPT), rs.uniform(31.2, 42.8, 40), 40.0]
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"p{i:05d}" for i in range(len(lon))],
        "lon": lon, "lat": lat,
    }))
    brute = spatial.knn_join(pts, polys, k=3).toPandas()
    pruned = spatial.knn_join_pruned(pts, polys, k=3, res=8).toPandas()
    _assert_same_knn(pruned, brute)
    tie = pruned[pruned["image_id"] == f"p{len(lon) - 1:05d}"].sort_values("rank")
    assert list(tie["polygon_id"][:2]) == ["tieB", "tieA"]
    assert tie["distance"].iloc[0] == tie["distance"].iloc[1] == 0.25


def test_knn_pruned_k_beyond_layer(spark):
    """k larger than the layer returns every polygon, ranked as
    ``knn_join`` ranks them with k = the layer size; the polygon with no
    vertices comes last, at infinite distance."""
    from ksj2gp_spark.geo import wkb as W

    rs = np.random.default_rng(5)
    polys = _rect_layer(rs, 6, (0.1, 0.5))
    polys.loc[len(polys)] = ["pgempty", "00000", W.polygon()]
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"p{i:03d}" for i in range(50)],
        "lon": rs.uniform(129, 143, 50), "lat": rs.uniform(30, 44, 50),
    }))
    brute = spatial.knn_join(pts, polys, k=len(polys)).toPandas()
    pruned = spatial.knn_join_pruned(pts, polys, k=50).toPandas()
    _assert_same_knn(pruned, brute)
    last = pruned[pruned["rank"] == len(polys)]
    assert (last["polygon_id"] == "pgempty").all()
    assert np.isinf(last["distance"]).all()


def test_knn_pruned_large_layer_sample(spark):
    """On a 20,000-polygon layer, where the leaf-block prune does most
    of the work, a sample of points gets ``knn_join``'s rows."""
    rs = np.random.default_rng(17)
    polys = _rect_layer(rs, 20_000, (0.005, 0.03))
    lon = np.r_[rs.uniform(129.5, 142.5, 150), np.full(10, 142.75)]
    lat = np.r_[rs.uniform(30.5, 43.5, 150), rs.uniform(31, 43, 10)]
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"p{i:03d}" for i in range(len(lon))],
        "lon": lon, "lat": lat,
    })).repartition(1)
    brute = spatial.knn_join(pts, polys, k=3).toPandas()
    pruned = spatial.knn_join_pruned(pts, polys, k=3).toPandas()
    _assert_same_knn(pruned, brute)


def test_fused_large_layer_ocean_lane_equals_pruned_knn(spark):
    """On a 2,000-polygon layer the fused operator's ocean lane must
    equal brute-force ``knn_join`` on the unmatched points, distances
    bit for bit, and its rank-0 rows must equal the relational tile
    assignment."""
    rs = np.random.default_rng(11)
    NPT = 1500
    polys = _rect_layer(rs, 2000, (0.005, 0.05))
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"p{i:05d}" for i in range(NPT)],
        "lon": rs.uniform(129.5, 142.5, NPT),
        "lat": rs.uniform(30.5, 43.5, NPT),
    }))
    fused = spatial.fused_assign_or_knn(
        pts, polys, scheme="grid", k=3
    ).toPandas()
    knn_rows = fused[fused["rank"] > 0]
    matched_ids = set(fused.loc[fused["rank"] == 0, "image_id"])
    ocean_pts = pts.toPandas()
    ocean_pts = spark.createDataFrame(
        ocean_pts[~ocean_pts["image_id"].isin(matched_ids)]
    )
    _assert_same_knn(knn_rows, spatial.knn_join(ocean_pts, polys, k=3).toPandas())
    tiles = spatial.spatial_join_tiles(pts, polys, scheme="grid").toPandas()
    key = ["image_id", "cell", "polygon_id", "admin_code"]
    assert set(map(tuple, fused.loc[fused["rank"] == 0, key].itertuples(
        index=False))) == set(map(tuple, tiles[key].itertuples(index=False)))


def test_fused_assign_or_knn_tokyo_datum_images(spark, images, expected):
    """Image coordinates arriving in the Tokyo datum: the fused operator
    reprojects inside the same Arrow pass (crs param) and assignments
    equal the WGS84 run."""
    import pandas as pd

    from ksj2gp_spark.geo import transform

    pdf = images.toPandas()
    tlon, tlat, _ = transform.wgs84_to_tokyo(
        pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
    )
    tokyo_imgs = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": pdf["image_id"], "lon": tlon, "lat": tlat}
        )
    )
    got = spatial.fused_assign_or_knn(
        tokyo_imgs, fixtures.polygon_layer(), scheme="grid", res=10,
        crs="Tokyo",
    ).toPandas()
    want = spatial.fused_assign_or_knn(
        images, fixtures.polygon_layer(), scheme="grid", res=10
    ).toPandas()
    key = ["image_id", "rank", "polygon_id", "admin_code"]
    assert set(map(tuple, got[key].itertuples(index=False))) == set(
        map(tuple, want[key].itertuples(index=False))
    )


def test_temporal_join_interval_vs_asof_gap(spark):
    """A validity GAP distinguishes the two temporal semantics: in the
    gap, interval mode matches nothing; as-of mode still returns the
    latest earlier version."""
    import pandas as pd

    from ksj2gp_spark.geo import wkb as W

    box = W.polygon([(139.0, 35.0), (139.5, 35.0), (139.5, 35.5),
                     (139.0, 35.5), (139.0, 35.0)])
    polys = pd.DataFrame({
        "polygon_id": ["p-v1", "p-v2"],
        "行政区域コード": ["13101", "13101B"],
        "version_of": ["p", "p"],
        "geometry": [box, box],
        "valid_from": [0, 2000],
        "valid_to": [1000, 10**9],  # GAP: ts in [1000, 2000)
    })
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": ["a", "b", "c"],
        "lon": [139.2] * 3,
        "lat": [35.2] * 3,
        "ts": [500, 1500, 2500],
    }))
    interval = spatial.temporal_join_tiles(
        pts, polys, scheme="grid", res=10, mode="interval"
    ).toPandas().set_index("image_id")
    asof = spatial.temporal_join_tiles(
        pts, polys, scheme="grid", res=10, mode="asof",
        version_col="version_of",
    ).toPandas().set_index("image_id")

    # interval: a→v1, b→nothing (gap), c→v2
    assert interval.loc["a", "admin_code"] == "13101"
    assert "b" not in interval.index
    assert interval.loc["c", "admin_code"] == "13101B"
    # asof: a→v1, b→v1 (latest valid_from ≤ 1500), c→v2
    assert asof.loc["a", "admin_code"] == "13101"
    assert asof.loc["b", "admin_code"] == "13101"
    assert asof.loc["c", "admin_code"] == "13101B"


def test_broadcast_join_plan_shape(spark, images):
    """The headline join's physical plan: the ONLY exchange is the
    broadcast of the polygon cover — the probe side never shuffles
    (the 10^12-row contract, enforced as a plan assertion)."""
    tiles = spatial.spatial_join_tiles(
        images, fixtures.polygon_layer(), scheme="grid", strategy="broadcast"
    )
    tiles.collect()
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_temporal_join_plan_no_extra_shuffle(spark, images):
    """The interval-temporal join adds the validity window as a
    residual on the SAME broadcast join — no additional exchange."""
    import pandas as pd

    layer = fixtures.polygon_layer().copy()
    layer["valid_from"] = 0
    layer["valid_to"] = 10**12
    pts = images.withColumn("ts", F.lit(100).cast("long"))
    out = spatial.temporal_join_tiles(
        pts, layer, scheme="grid", res=10, mode="interval"
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final.count("BroadcastExchange") == 1
    assert "Exchange hashpartitioning" not in final


@pytest.mark.parametrize("strategy", ["broadcast", "fused"])
def test_simplify_tol_preserves_assignments(spark, images, expected, strategy):
    """Densify the fixture rectangles with collinear edge vertices, then
    join with simplify_tol: DP must strip the redundancy back to the
    corner rings, so assignments equal the plain-layer join exactly."""
    from ksj2gp_spark.geo import wkb as _wkb

    layer = fixtures.polygon_layer()
    dense = layer.copy()
    geoms = []
    for buf in dense["geometry"]:
        g = _wkb.loads(buf)
        ring = g.coords[0]
        pts = []
        for a, b in zip(ring[:-1], ring[1:]):
            pts.append(tuple(a))
            for t in (0.2, 0.45, 0.8):  # collinear interior vertices
                pts.append(tuple(a + (b - a) * t))
        geoms.append(_wkb.polygon(pts))
    dense["geometry"] = geoms
    # sanity: densified rings really are bigger
    assert len(_wkb.loads(geoms[0]).coords[0]) == 17

    tiles = spatial.spatial_join_tiles(
        images, dense, scheme="grid", strategy=strategy, simplify_tol=1e-9
    )
    _check_against_oracle(tiles, expected)
    base = (
        spatial.spatial_join_tiles(
            images, layer, scheme="grid", strategy=strategy
        )
        .select("image_id", "cell", "admin_code")
        .toPandas()
        .sort_values(["image_id", "admin_code"])
        .reset_index(drop=True)
    )
    got = (
        tiles.select("image_id", "cell", "admin_code")
        .toPandas()
        .sort_values(["image_id", "admin_code"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, base)


def test_polygon_overlap_join_matches_brute_force(spark):
    """Distributed polygon×polygon intersects join equals the O(n²)
    kernel sweep; on the rectangle fixture it also equals bbox overlap."""
    from ksj2gp_spark.geo import geom as geom_mod, wkb as _wkb

    layer = fixtures.polygon_layer()
    left = spark.createDataFrame(layer[["polygon_id", "geometry", "crs"]])
    got = set(
        map(
            tuple,
            spatial.polygon_overlap_join(left, layer, scheme="grid", res=10)
            .toPandas()
            .itertuples(index=False),
        )
    )
    gs = {r["polygon_id"]: _wkb.loads(r["geometry"]) for _, r in layer.iterrows()}
    brute = {
        (a, b)
        for a in gs
        for b in gs
        if geom_mod.geometry_intersects(gs[a], gs[b])
    }
    assert got == brute
    assert all((a, a) in got for a in gs)  # reflexive


def test_polygon_overlap_join_concave_and_hole(spark):
    """Hole containment (disjoint), hole-boundary crossing, and a
    cross shape with no vertex of either inside the other."""
    from ksj2gp_spark.geo import wkb as _wkb

    sq = lambda x0, y0, x1, y1: [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    right = pd.DataFrame(
        {
            "polygon_id": ["donut", "bar_v"],
            "geometry": [
                _wkb.polygon(sq(130, 30, 131, 31), sq(130.2, 30.2, 130.8, 30.8)),
                _wkb.polygon(sq(133.4, 33, 133.6, 34)),
            ],
        }
    )
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "polygon_id": ["in_hole", "cross_ring", "bar_h"],
                "geometry": [
                    _wkb.polygon(sq(130.4, 30.4, 130.6, 30.6)),
                    _wkb.polygon(sq(130.1, 30.1, 130.3, 30.3)),
                    _wkb.polygon(sq(133, 33.4, 134, 33.6)),
                ],
            }
        )
    )
    got = set(
        map(
            tuple,
            spatial.polygon_overlap_join(left, right, scheme="grid", res=8)
            .toPandas()
            .itertuples(index=False),
        )
    )
    assert got == {("cross_ring", "donut"), ("bar_h", "bar_v")}


def test_polygon_overlap_join_shuffle_equals_broadcast(spark):
    """Big×big (shuffle) overlap join produces exactly the broadcast
    variant's pair set, including cross-layer asymmetric inputs."""
    layer = fixtures.polygon_layer()
    ldf = spark.createDataFrame(layer[["polygon_id", "geometry", "crs"]])
    b = set(
        map(
            tuple,
            spatial.polygon_overlap_join(ldf, layer, scheme="grid", res=10)
            .toPandas()
            .itertuples(index=False),
        )
    )
    s = set(
        map(
            tuple,
            spatial.polygon_overlap_join_shuffle(
                ldf, ldf, scheme="grid", res=10
            )
            .toPandas()
            .itertuples(index=False),
        )
    )
    assert b == s
    # cross-layer: only the first prefecture band on the right
    sub = layer.iloc[:7]
    rdf = spark.createDataFrame(sub[["polygon_id", "geometry", "crs"]])
    sx = set(
        map(
            tuple,
            spatial.polygon_overlap_join_shuffle(
                ldf, rdf, scheme="grid", res=10
            )
            .toPandas()
            .itertuples(index=False),
        )
    )
    bx = set(
        map(
            tuple,
            spatial.polygon_overlap_join(ldf, sub, scheme="grid", res=10)
            .toPandas()
            .itertuples(index=False),
        )
    )
    assert sx == bx and all(r in set(sub["polygon_id"]) for _, r in sx)


def test_polygon_overlay_join_areas(spark):
    """Overlay join through Spark: concave + holed subjects against
    convex windows, exact analytic areas; non-convex clip rejected."""
    from ksj2gp_spark.geo import geom as geom_mod, wkb as _wkb

    sq = lambda x0, y0, x1, y1: [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "polygon_id": ["rect", "donut", "ushape"],
                "geometry": [
                    _wkb.polygon(sq(130, 30, 132, 32)),
                    _wkb.polygon(sq(134, 30, 138, 34), sq(135, 31, 137, 33)),
                    _wkb.polygon(
                        [(140, 30), (143, 30), (143, 33), (142, 33),
                         (142, 31), (141, 31), (141, 33), (140, 33)]
                    ),
                ],
            }
        )
    )
    wins = pd.DataFrame(
        {
            "polygon_id": ["w_rect", "w_half", "w_band"],
            "geometry": [
                _wkb.polygon(sq(131, 31, 133, 33)),
                _wkb.polygon(sq(134, 30, 136, 34)),
                _wkb.polygon(sq(140, 32, 143, 33)),
            ],
        }
    )
    got = {
        (r["polygon_id"], r["other_id"]): r["intersection_area"]
        for r in spatial.polygon_overlay_join(
            left, wins, scheme="grid", res=8
        ).collect()
    }
    assert abs(got[("rect", "w_rect")] - 1.0) < 1e-9
    assert abs(got[("donut", "w_half")] - 6.0) < 1e-9  # 2x4 minus 1x2 hole
    assert abs(got[("ushape", "w_band")] - 2.0) < 1e-9  # two prongs
    assert ("rect", "w_band") not in got  # zero-area pairs dropped
    # non-convex clip rejected up front
    bad = pd.DataFrame(
        {
            "polygon_id": ["L"],
            "geometry": [
                _wkb.polygon(
                    [(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3)]
                )
            ],
        }
    )
    with pytest.raises(geom_mod.ConvexClipError, match="convex"):
        spatial.polygon_overlay_join(left, bad)


def test_dwithin_join_matches_brute_force(spark):
    """dwithin_join's bbox prefilter + assembly must reproduce the
    exact kernel evaluated on ALL pairs (no prefilter): no pair lost
    at the expanded-bbox boundary, inclusive threshold, dist=0 for
    covered points — checked on concave + holed geometry. An empty
    polygon in the layer joins nothing and raises nothing, on the
    broadcast and the shuffle path alike."""
    import pandas as pd

    from ksj2gp_spark.geo import geom as G, wkb as W
    from ksj2gp_spark.operators import spatial as sp

    ell = [
        (139.0, 35.0), (141.0, 35.0), (141.0, 35.6), (139.8, 35.6),
        (139.8, 36.4), (139.0, 36.4), (139.0, 35.0),
    ]
    hole = [
        (139.2, 35.15), (139.6, 35.15), (139.6, 35.45),
        (139.2, 35.45), (139.2, 35.15),
    ]
    tri = [(140.3, 36.0), (140.9, 36.0), (140.6, 36.5), (140.3, 36.0)]
    polys = pd.DataFrame(
        {
            "polygon_id": ["L", "T", "E"],
            "行政区域コード": ["90001", "90002", "90003"],
            "geometry": [W.polygon(ell, hole), W.polygon(tri), W.polygon()],
        }
    )
    rs = np.random.default_rng(11)
    n = 2000
    lon = rs.uniform(138.5, 141.5, n)
    lat = rs.uniform(34.5, 37.0, n)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": [f"p{i:05d}" for i in range(n)],
             "lon": lon, "lat": lat}
        )
    )
    d = 0.2
    got = {
        (r["image_id"], r["polygon_id"]): r["dist"]
        for r in sp.dwithin_join(pts, polys, d).collect()
    }
    want = {}
    for pid, buf in zip(polys["polygon_id"], polys["geometry"]):
        g = W.loads(buf)
        dist = G.distance_to_geometry(lon, lat, g)
        for i in np.nonzero(dist <= d)[0]:
            want[(f"p{i:05d}", pid)] = dist[i]
    assert set(got) == set(want)
    assert not any(pid == "E" for _, pid in got)
    for k, v in want.items():
        assert got[k] == v  # bit-identical: same kernel, same inputs
    assert any(v == 0.0 for v in want.values())  # covered points present
    assert any(0 < v <= d for v in want.values())  # near-miss band present
    shuf = {
        (r["image_id"], r["polygon_id"]): r["dist"]
        for r in sp.dwithin_join_shuffle(
            pts, spark.createDataFrame(polys), d
        ).collect()
    }
    assert shuf == got


class TestDwithinShuffle:
    """Big × big distance join (operators/spatial.py::
    dwithin_join_shuffle): bit-identical to the broadcast path, with
    a shuffle-only plan (no cartesian / nested-loop join)."""

    @staticmethod
    def _fixture(spark):
        import pandas as pd

        from ksj2gp_spark.geo import wkb as W

        # concave + holed geometry: the expanded-bbox cover and the
        # cell-center prune must both stay supersets here
        ell = [
            (139.0, 35.0), (141.0, 35.0), (141.0, 35.6), (139.8, 35.6),
            (139.8, 36.4), (139.0, 36.4), (139.0, 35.0),
        ]
        hole = [
            (139.2, 35.15), (139.6, 35.15), (139.6, 35.45),
            (139.2, 35.45), (139.2, 35.15),
        ]
        tri = [(140.3, 36.0), (140.9, 36.0), (140.6, 36.5), (140.3, 36.0)]
        polys = pd.DataFrame(
            {
                "polygon_id": ["L", "T"],
                "行政区域コード": ["90001", "90002"],
                "geometry": [W.polygon(ell, hole), W.polygon(tri)],
            }
        )
        rs = np.random.default_rng(11)
        n = 2000
        pts = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": [f"p{i:05d}" for i in range(n)],
                    "lon": rs.uniform(138.5, 141.5, n),
                    "lat": rs.uniform(34.5, 37.0, n),
                }
            )
        )
        return pts, polys

    @pytest.mark.parametrize("res", [8, 10, 12])
    def test_matches_broadcast_path(self, spark, res):
        from ksj2gp_spark.operators import spatial as sp

        pts, polys = self._fixture(spark)
        d = 0.2
        bcast = {
            (r["image_id"], r["polygon_id"]): (r["admin_code"], r["dist"])
            for r in sp.dwithin_join(pts, polys, d).collect()
        }
        shuf = {
            (r["image_id"], r["polygon_id"]): (r["admin_code"], r["dist"])
            for r in sp.dwithin_join_shuffle(
                pts, spark.createDataFrame(polys), d, res=res
            ).collect()
        }
        assert shuf == bcast  # bit-identical: same kernel, same inputs
        assert bcast  # non-degenerate

    def test_no_cartesian_in_plan(self, spark):
        from ksj2gp_spark.operators import spatial as sp

        pts, polys = self._fixture(spark)
        plan = (
            sp.dwithin_join_shuffle(pts, spark.createDataFrame(polys), 0.2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "FlatMapCoGroupsInPandas" in plan  # cogroup refine

    def test_zero_distance_is_pip(self, spark):
        # d = 0: the join degenerates to exact point-in-polygon
        from ksj2gp_spark.operators import spatial as sp

        pts, polys = self._fixture(spark)
        bcast = {
            (r["image_id"], r["polygon_id"])
            for r in sp.dwithin_join(pts, polys, 0.0).collect()
        }
        shuf = {
            (r["image_id"], r["polygon_id"])
            for r in sp.dwithin_join_shuffle(
                pts, spark.createDataFrame(polys), 0.0
            ).collect()
        }
        assert shuf == bcast and bcast

    def test_rejects_negative_d(self, spark):
        from ksj2gp_spark.operators import spatial as sp

        pts, polys = self._fixture(spark)
        with pytest.raises(ValueError):
            sp.dwithin_join_shuffle(pts, spark.createDataFrame(polys), -1.0)


class TestIdwInterpolate:
    def test_hand_computed_and_radius(self, spark):
        """One target with two in-range stations (d2 = 0.01^2 and
        0.02^2) and one out-of-range: IDW = weighted toward the closer
        station; a coverage-less target is dropped."""
        import pandas as pd

        targets = spark.createDataFrame(
            pd.DataFrame(
                {"target_id": [1, 2], "lon": [140.0, 180.0], "lat": [36.0, 0.0]}
            )
        )
        stations = spark.createDataFrame(
            pd.DataFrame(
                {
                    "station_id": ["a", "b", "c"],
                    "lon": [140.01, 140.0, 141.0],
                    "lat": [36.0, 36.02, 36.0],
                    "value": [10.0, 40.0, 1000.0],
                }
            )
        )
        from ksj2gp_spark.operators.spatial import idw_interpolate

        rows = idw_interpolate(targets, stations, radius=0.05).collect()
        assert len(rows) == 1 and rows[0]["target_id"] == 1
        assert rows[0]["n_stations"] == 2
        w1, w2 = 1.0 / 0.01**2, 1.0 / 0.02**2
        expect = round((10.0 * w1 + 40.0 * w2) / (w1 + w2), 6)
        assert abs(rows[0]["idw_value"] - expect) < 1e-9

    def test_prune_equals_brute_force(self, spark):
        """The 3x3 cell prune must lose no in-range station: compare
        against an explicit cross-join evaluation on a random-ish but
        deterministic layout."""
        from pyspark.sql import functions as F

        stations = spark.range(400).select(
            F.col("id").alias("station_id"),
            (F.lit(139.0) + (F.col("id") * 7919 % 1000) / 250.0).alias("lon"),
            (F.lit(35.0) + (F.col("id") * 104729 % 1000) / 250.0).alias("lat"),
            (F.col("id") % 13).cast("double").alias("value"),
        )
        targets = spark.range(300).select(
            F.col("id").alias("target_id"),
            (F.lit(139.0) + (F.col("id") * 31 % 997) / 249.0).alias("lon"),
            (F.lit(35.0) + (F.col("id") * 57 % 991) / 247.0).alias("lat"),
        )
        from ksj2gp_spark.operators.spatial import idw_interpolate

        got = {
            r["target_id"]: (r["n_stations"], r["idw_value"])
            for r in idw_interpolate(targets, stations, radius=0.1).collect()
        }
        t = targets.select("target_id", F.col("lon").alias("t_lon"), F.col("lat").alias("t_lat"))
        d2 = (F.col("t_lon") - F.col("lon")) ** 2 + (F.col("t_lat") - F.col("lat")) ** 2
        w = F.lit(1.0) / F.greatest(d2, F.lit(1e-18))
        brute = {
            r["target_id"]: (r["n"], r["v"])
            for r in t.crossJoin(stations)
            .filter(d2 <= 0.1 * 0.1)
            .groupBy("target_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(w * F.col("value")) / F.sum(w), 6).alias("v"),
            )
            .collect()
        }
        assert got == brute and len(got) > 50

    def test_no_python_in_plan(self, spark):
        import pandas as pd

        targets = spark.createDataFrame(
            pd.DataFrame({"target_id": [1], "lon": [140.0], "lat": [36.0]})
        )
        stations = spark.createDataFrame(
            pd.DataFrame(
                {"station_id": ["a"], "lon": [140.0], "lat": [36.0], "value": [1.0]}
            )
        )
        from ksj2gp_spark.operators.spatial import idw_interpolate

        plan = (
            idw_interpolate(targets, stations, radius=0.05)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan


class TestFocalMean:
    def test_hand_computed_neighborhood(self, spark):
        """Three cells in a row at res 10: the middle cell averages all
        three, the ends average two; absent neighbors contribute
        nothing (sparse semantics)."""
        import pandas as pd
        from ksj2gp_spark.operators.spatial import focal_mean

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        cells = spark.createDataFrame(
            pd.DataFrame(
                {
                    "cell": [mk(5, 5), mk(6, 5), mk(7, 5)],
                    "value": [3.0, 6.0, 12.0],
                }
            )
        )
        rows = {r["cell"]: r for r in focal_mean(cells, res=res).collect()}
        assert rows[mk(5, 5)]["n_neighbors"] == 2
        assert rows[mk(5, 5)]["focal_mean"] == 4.5
        assert rows[mk(6, 5)]["n_neighbors"] == 3
        assert rows[mk(6, 5)]["focal_mean"] == 7.0
        assert rows[mk(7, 5)]["focal_mean"] == 9.0

    def test_exclude_center(self, spark):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import focal_mean

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        cells = spark.createDataFrame(
            pd.DataFrame(
                {"cell": [mk(5, 5), mk(6, 6)], "value": [2.0, 10.0]}
            )
        )
        rows = {
            r["cell"]: r
            for r in focal_mean(cells, res=res, include_center=False).collect()
        }
        # diagonal neighbors of each other; center excluded
        assert rows[mk(5, 5)]["focal_mean"] == 10.0
        assert rows[mk(6, 6)]["focal_mean"] == 2.0


class TestMoransI:
    def test_hand_computed_row(self, spark):
        """Three cells in a row, values [1,5,3]: xbar=3, directed
        adjacent pairs (1,5),(5,1),(5,3),(3,5) -> S0=4,
        num=(-2)(2)+(2)(-2)+0+0=-8, den=8, I=(3/4)(-8/8)=-0.75."""
        import pandas as pd
        from ksj2gp_spark.operators.spatial import morans_i

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        cells = spark.createDataFrame(
            pd.DataFrame(
                {
                    "cell": [mk(4, 5), mk(5, 5), mk(6, 5)],
                    "value": [1.0, 5.0, 3.0],
                }
            )
        )
        row = morans_i(cells, res=res).collect()[0]
        assert (row["n"], row["s0"]) == (3, 4)
        assert row["morans_i"] == -0.75

    def test_clustered_positive_dispersed_negative(self, spark):
        """A 4x4 half/half split scores positive; a checkerboard
        scores negative."""
        import pandas as pd
        from ksj2gp_spark.operators.spatial import morans_i

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        half = pd.DataFrame(
            {
                "cell": [mk(i, j) for i in range(4) for j in range(4)],
                "value": [10.0 if i < 2 else 0.0 for i in range(4) for j in range(4)],
            }
        )
        board = pd.DataFrame(
            {
                "cell": [mk(i, j) for i in range(4) for j in range(4)],
                "value": [float((i + j) % 2) for i in range(4) for j in range(4)],
            }
        )
        i_half = morans_i(spark.createDataFrame(half), res=res).collect()[0]
        i_board = morans_i(spark.createDataFrame(board), res=res).collect()[0]
        # hand-computed: 0.523810; checkerboard under MOORE adjacency is
        # only -1/7 (diagonal neighbors share the color, so the 8-ring
        # dampens the rook-adjacency -1)
        assert i_half["morans_i"] == 0.52381
        assert i_board["morans_i"] == round(-1.0 / 7.0, 6)


class TestLocalMoransI:
    def test_hand_computed_row(self, spark):
        """[1,5,3] in a row: xbar=3, m2=8/3; cell1 (z=-2) has neighbor
        zsum=+2 -> I=-1.5; cell2 (z=+2) zsum=-2 -> I=-1.5; cell3 (z=0)
        -> I=0."""
        import pandas as pd
        from ksj2gp_spark.operators.spatial import local_morans_i

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        cells = spark.createDataFrame(
            pd.DataFrame(
                {
                    "cell": [mk(4, 5), mk(5, 5), mk(6, 5)],
                    "value": [1.0, 5.0, 3.0],
                }
            )
        )
        rows = {r["cell"]: r for r in local_morans_i(cells, res=res).collect()}
        assert rows[mk(4, 5)]["local_i"] == -1.5
        assert rows[mk(4, 5)]["n_neighbors"] == 1
        assert rows[mk(5, 5)]["local_i"] == -1.5
        assert rows[mk(5, 5)]["n_neighbors"] == 2
        assert rows[mk(6, 5)]["local_i"] == 0.0


class TestGetisOrdGiStar:
    def test_hand_computed_and_hotspot_sign(self, spark):
        """A high-value pair amid zeros scores positive Gi*; a far
        isolated zero cell scores negative (below the mean with itself
        as the whole neighborhood)."""
        import math

        import pandas as pd
        from ksj2gp_spark.operators.spatial import getis_ord_gi_star

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        vals = {mk(0, 0): 10.0, mk(0, 1): 10.0, mk(5, 5): 0.0, mk(9, 9): 0.0}
        cells = spark.createDataFrame(
            pd.DataFrame({"cell": list(vals), "value": list(vals.values())})
        )
        rows = {
            r["cell"]: r
            for r in getis_ord_gi_star(cells, res=res).collect()
        }
        n, xbar = 4, 5.0
        s = math.sqrt(sum((v - xbar) ** 2 for v in vals.values()) / n)
        # hot pair: neighborhood = both hot cells (w=2, S=20)
        w, si = 2, 20.0
        expect = (si - xbar * w) / (s * math.sqrt((n * w - w * w) / (n - 1)))
        assert abs(rows[mk(0, 0)]["gi_star"] - round(expect, 6)) < 1e-9
        assert rows[mk(0, 0)]["w_i"] == 2
        # isolated zero: w=1, S=0
        w, si = 1, 0.0
        expect = (si - xbar * w) / (s * math.sqrt((n * w - w * w) / (n - 1)))
        assert abs(rows[mk(5, 5)]["gi_star"] - round(expect, 6)) < 1e-9
        assert rows[mk(0, 0)]["gi_star"] > 0 > rows[mk(5, 5)]["gi_star"]


class TestGearyC:
    def test_hand_computed_row(self, spark):
        """Three cells in a row, values [1,5,3]: xbar=3, directed
        adjacent pairs diffs^2: (1-5)^2 + (5-1)^2 + (5-3)^2 + (3-5)^2
        = 40, den = sum (x-xbar)^2 = 8, S0 = 4 ->
        C = (n-1)*40 / (2*4*8) = 2*40/64 = 1.25."""
        import pandas as pd
        from ksj2gp_spark.operators.spatial import geary_c

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        cells = spark.createDataFrame(
            pd.DataFrame(
                {
                    "cell": [mk(4, 5), mk(5, 5), mk(6, 5)],
                    "value": [1.0, 5.0, 3.0],
                }
            )
        )
        row = geary_c(cells, res=res).collect()[0]
        assert (row["n"], row["s0"]) == (3, 4)
        assert row["geary_c"] == 1.25

    def test_clustered_below_one_dispersed_above(self, spark):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import geary_c

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        half = pd.DataFrame(
            {
                "cell": [mk(i, j) for i in range(4) for j in range(4)],
                "value": [
                    10.0 if i < 2 else 0.0 for i in range(4) for j in range(4)
                ],
            }
        )
        board = pd.DataFrame(
            {
                "cell": [mk(i, j) for i in range(4) for j in range(4)],
                "value": [
                    float((i + j) % 2) for i in range(4) for j in range(4)
                ],
            }
        )
        c_half = geary_c(spark.createDataFrame(half), res=res).collect()[0]
        c_board = geary_c(spark.createDataFrame(board), res=res).collect()[0]
        assert c_half["geary_c"] < 1.0
        assert c_board["geary_c"] > 1.0

    def test_degenerate_inputs_raise(self, spark):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import geary_c, morans_i

        res = 10
        base = res * (1 << 58)
        mk = lambda i, j: base + i * (1 << 29) + j  # noqa: E731
        flat = spark.createDataFrame(
            pd.DataFrame(
                {"cell": [mk(0, 0), mk(0, 1), mk(1, 0)], "value": [2.0] * 3}
            )
        )
        one = spark.createDataFrame(
            pd.DataFrame({"cell": [mk(0, 0)], "value": [2.0]})
        )
        for fn in (geary_c, morans_i):
            with pytest.raises(ValueError, match="constant surface"):
                fn(flat, res=res)
            with pytest.raises(ValueError, match="at least 2"):
                fn(one, res=res)

    def test_matches_brute_force_definition(self, spark):
        import numpy as np
        import pandas as pd
        from ksj2gp_spark.operators.spatial import geary_c

        rng = np.random.default_rng(5)
        res = 10
        base = res * (1 << 58)
        coords = [(i, j) for i in range(6) for j in range(6) if (i * 7 + j) % 3]
        vals = rng.uniform(0, 10, len(coords))
        cells = spark.createDataFrame(
            pd.DataFrame(
                {
                    "cell": [base + i * (1 << 29) + j for i, j in coords],
                    "value": vals,
                }
            )
        )
        row = geary_c(cells, res=res).collect()[0]
        # brute force over all directed Moore-adjacent pairs
        idx = {c: k for k, c in enumerate(coords)}
        num = s0 = 0.0
        for (i, j), k in idx.items():
            for di in (-1, 0, 1):
                for dj in (-1, 0, 1):
                    if (di, dj) == (0, 0):
                        continue
                    nb = idx.get((i + di, j + dj))
                    if nb is not None:
                        s0 += 1
                        num += (vals[k] - vals[nb]) ** 2
        den = float(((vals - vals.mean()) ** 2).sum())
        want = (len(coords) - 1) * num / (2 * s0 * den)
        assert row["s0"] == s0
        assert row["geary_c"] == pytest.approx(want, abs=2e-6)


class TestRipleyK:
    @staticmethod
    def _brute(pts, radii, area):
        n = len(pts)
        out = {}
        for r in radii:
            c = 0
            for a in range(n):
                for b in range(a + 1, n):
                    dx = pts[a][0] - pts[b][0]
                    dy = pts[a][1] - pts[b][1]
                    if dx * dx + dy * dy <= r * r:
                        c += 1
            out[r] = (c, round(area * 2.0 * c / (n * (n - 1)), 6))
        return out

    def _run(self, spark, pts, radii, area):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import ripley_k

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": [f"p{k:04d}" for k in range(len(pts))],
                    "lon": [p[0] for p in pts],
                    "lat": [p[1] for p in pts],
                }
            )
        )
        return {
            r["r"]: (r["n_pairs"], r["k_hat"])
            for r in ripley_k(df, radii=radii, area=area).collect()
        }

    def test_matches_brute_force(self, spark):
        import random

        rng = random.Random(17)
        pts = [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(120)]
        radii = [0.5, 1.0, 2.0]
        got = self._run(spark, pts, radii, area=100.0)
        assert got == self._brute(pts, radii, 100.0)

    def test_boundary_pair_at_exact_rmax(self, spark):
        # two points exactly rmax apart, axis-aligned AND far from the
        # origin (worst case for cell-boundary float rounding)
        pts = [(1000.0, 1000.0), (1000.0 + 2.0, 1000.0), (5000.0, 5000.0)]
        got = self._run(spark, pts, [1.0, 2.0], area=1.0)
        assert got[1.0][0] == 0
        assert got[2.0][0] == 1

    def test_clustered_exceeds_csr(self, spark):
        # 60 points in a tight blob inside a 100-unit square: K(r)
        # far above pi r^2
        import math
        import random

        rng = random.Random(9)
        pts = [
            (50 + rng.uniform(-1, 1), 50 + rng.uniform(-1, 1))
            for _ in range(60)
        ]
        got = self._run(spark, pts, [3.0], area=100.0 * 100.0)
        assert got[3.0][1] > math.pi * 9.0 * 10

    def test_validates_inputs(self, spark):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import ripley_k

        df = spark.createDataFrame(
            pd.DataFrame({"image_id": ["a"], "lon": [0.0], "lat": [0.0]})
        )
        with pytest.raises(ValueError):
            ripley_k(df, radii=[], area=1.0)
        with pytest.raises(ValueError):
            ripley_k(df, radii=[-1.0], area=1.0)
        # one negative radius hiding among valid ones must not be
        # silently counted as |r|
        with pytest.raises(ValueError, match="positive"):
            ripley_k(df, radii=[1.0, -0.5], area=1.0)
        # n < 2: the 1/(n(n-1)) normalizer is undefined
        with pytest.raises(ValueError, match="at least 2"):
            ripley_k(df, radii=[1.0], area=1.0)
        empty = df.filter("lon > 1")
        with pytest.raises(ValueError, match="at least 2"):
            ripley_k(empty, radii=[1.0], area=1.0)


class TestDbscan:
    """Exact distributed DBSCAN (operators/spatial.py::dbscan)."""

    @staticmethod
    def _run(spark, pts, eps, min_pts):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import dbscan

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": [p[0] for p in pts],
                    "lon": [float(p[1]) for p in pts],
                    "lat": [float(p[2]) for p in pts],
                }
            )
        )
        out = dbscan(df, eps=eps, min_pts=min_pts).toPandas()
        return {
            r.image_id: (r.cluster, bool(r.is_core), int(r.n_nbrs))
            for r in out.itertuples()
        }

    @staticmethod
    def _reference(pts, eps, min_pts):
        """Serial textbook DBSCAN with the same deterministic label
        rule: cluster = min core id of the component; border = min
        label among in-range cores; noise = ''."""
        import math

        ids = [p[0] for p in pts]
        n = len(pts)
        nbrs = {
            i: [
                j
                for j in range(n)
                if (pts[i][1] - pts[j][1]) ** 2
                + (pts[i][2] - pts[j][2]) ** 2
                <= eps * eps
            ]
            for i in range(n)
        }
        core = {i for i in range(n) if len(nbrs[i]) >= min_pts}
        # union-find over core-core pairs within eps
        parent = {i: i for i in core}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i in core:
            for j in nbrs[i]:
                if j in core:
                    a, b = find(i), find(j)
                    if a != b:
                        parent[a] = b
        comp = {}
        for i in core:
            comp.setdefault(find(i), []).append(i)
        label = {}
        for members in comp.values():
            lab = min(ids[i] for i in members)
            for i in members:
                label[i] = lab
        out = {}
        for i in range(n):
            if i in core:
                out[ids[i]] = (label[i], True, len(nbrs[i]))
            else:
                in_range = [label[j] for j in nbrs[i] if j in core]
                out[ids[i]] = (
                    min(in_range) if in_range else "",
                    False,
                    len(nbrs[i]),
                )
        return out

    def test_hand_computed_clusters_border_noise(self, spark):
        # cluster A: a,b,c mutually within eps (cores at min_pts=3);
        # border: d within eps of c only (n_nbrs=2, non-core);
        # noise: e far away; cluster B: f,g,h colinear chain
        pts = [
            ("a", 0.0, 0.0),
            ("b", 0.6, 0.0),
            ("c", 0.3, 0.5),
            ("d", 0.3, 1.4),
            ("e", 50.0, 50.0),
            ("f", 10.0, 10.0),
            ("g", 10.9, 10.0),
            ("h", 10.45, 10.6),
        ]
        got = self._run(spark, pts, eps=1.0, min_pts=3)
        assert got == self._reference(pts, 1.0, 3)
        assert got["a"] == ("a", True, 3)
        assert got["d"] == ("a", False, 2)   # border via c
        assert got["e"] == ("", False, 1)    # noise
        assert got["f"][0] == "f" and got["f"][1]

    def test_random_equals_serial_reference(self, spark):
        import random

        rng = random.Random(41)
        pts = [
            (f"p{i:03d}", rng.uniform(0, 10), rng.uniform(0, 10))
            for i in range(180)
        ]
        eps, min_pts = 0.8, 4
        assert self._run(spark, pts, eps, min_pts) == self._reference(
            pts, eps, min_pts
        )

    def test_exact_eps_boundary_pair_counts(self, spark):
        # two points exactly eps apart, far from the origin (cell
        # division rounding stress): each must see the other
        pts = [("a", 4000.0, 7000.0), ("b", 4000.0 + 2.5, 7000.0)]
        got = self._run(spark, pts, eps=2.5, min_pts=2)
        assert got["a"] == ("a", True, 2)
        assert got["b"] == ("a", True, 2)

    def test_chain_is_one_cluster_min_label(self, spark):
        # a long chain of cores: min id propagates end to end
        pts = [(f"n{i:02d}", float(i), 0.0) for i in range(40)]
        got = self._run(spark, pts, eps=1.0, min_pts=2)
        assert all(v[0] == "n00" and v[1] for v in got.values())

    def test_validates_inputs(self, spark):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import dbscan

        df = spark.createDataFrame(
            pd.DataFrame({"image_id": ["a"], "lon": [0.0], "lat": [0.0]})
        )
        with pytest.raises(ValueError):
            dbscan(df, eps=0.0, min_pts=2)
        with pytest.raises(ValueError):
            dbscan(df, eps=1.0, min_pts=0)


class TestKdeHeatmap:
    """Epanechnikov splat heatmap (operators/spatial.py::kde_heatmap)."""

    @staticmethod
    def _run(spark, pts, h, s, weights=None):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import kde_heatmap

        pdf = pd.DataFrame(
            {"lon": [p[0] for p in pts], "lat": [p[1] for p in pts]}
        )
        if weights is not None:
            pdf["wt"] = weights
        df = spark.createDataFrame(pdf)
        out = kde_heatmap(
            df,
            bandwidth=h,
            cell_size=s,
            weight_col="wt" if weights is not None else None,
        ).toPandas()
        return {
            (round(r.cell_x, 9), round(r.cell_y, 9)): (int(r.n_pts), r.kde)
            for r in out.itertuples()
        }

    @staticmethod
    def _reference(pts, h, s, weights=None):
        import math

        weights = weights or [1.0] * len(pts)
        out = {}
        R = int(math.ceil(h / s))
        for (x, y), w in zip(pts, weights):
            pi = math.floor((x + 180.0) / s)
            pj = math.floor((y + 90.0) / s)
            for di in range(-R, R + 1):
                for dj in range(-R, R + 1):
                    cx = (pi + di + 0.5) * s - 180.0
                    cy = (pj + dj + 0.5) * s - 90.0
                    d2 = (x - cx) ** 2 + (y - cy) ** 2
                    if d2 < h * h:
                        n, k = out.get((round(cx, 9), round(cy, 9)), (0, 0.0))
                        out[(round(cx, 9), round(cy, 9))] = (
                            n + 1,
                            k + w * (1.0 - d2 / (h * h)),
                        )
        return {k: (n, round(v, 6)) for k, (n, v) in out.items()}

    def test_single_point_center_of_cell(self, spark):
        # point dead-center of a cell: kernel max (weight 1.0) at its
        # own cell center, symmetric decay on the 4-neighborhood
        got = self._run(spark, [(0.025, 0.025)], h=0.1, s=0.05)
        assert got[(0.025, 0.025)] == (1, 1.0)
        for nb in [(0.075, 0.025), (-0.025, 0.025),
                   (0.025, 0.075), (0.025, -0.025)]:
            assert got[nb] == (1, 0.75)

    def test_random_equals_serial_reference(self, spark):
        import random

        rng = random.Random(7)
        pts = [
            (rng.uniform(-2, 2), rng.uniform(-2, 2)) for _ in range(300)
        ]
        got = self._run(spark, pts, h=0.3, s=0.1)
        assert got == self._reference(pts, 0.3, 0.1)

    def test_weighted_points(self, spark):
        pts = [(10.02, 10.02), (10.03, 10.03)]
        wts = [2.0, 0.5]
        got = self._run(spark, pts, h=0.2, s=0.1, weights=wts)
        assert got == self._reference(pts, 0.2, 0.1, wts)

    def test_sparse_cells_never_materialize(self, spark):
        # one point, h=1 cell: touched cells bounded by (2R+1)^2
        got = self._run(spark, [(100.0, 50.0)], h=0.05, s=0.05)
        assert 0 < len(got) <= 9

    def test_validates_inputs(self, spark):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import kde_heatmap

        df = spark.createDataFrame(
            pd.DataFrame({"lon": [0.0], "lat": [0.0]})
        )
        with pytest.raises(ValueError):
            kde_heatmap(df, bandwidth=0.0, cell_size=0.1)
        with pytest.raises(ValueError):
            kde_heatmap(df, bandwidth=1.0, cell_size=0.0)
        with pytest.raises(ValueError):
            kde_heatmap(df, bandwidth=1.0, cell_size=0.05)


class TestEmergingHotspots:
    """Space-time Gi* + Mann-Kendall (operators/spatial.py::
    emerging_hotspots)."""

    RES = 10

    def _cell(self, i, j):
        return self.RES * (1 << 58) + i * (1 << 29) + j

    def _run(self, spark, rows):
        import pandas as pd
        from ksj2gp_spark.operators.spatial import emerging_hotspots

        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell", "t_bin", "value"])
        )
        out = emerging_hotspots(df, res=self.RES).toPandas()
        return {
            r.cell: (int(r.n_bins), int(r.s_mk), r.trend)
            for r in out.itertuples()
        }

    @staticmethod
    def _reference(rows):
        """Serial replay: per-bin Gi* (Moore incl. self, present
        cells only, round-6) + Mann-Kendall sign sum."""
        import math
        from collections import defaultdict

        bybin = defaultdict(dict)
        for cell, t, v in rows:
            bybin[t][cell] = float(v)
        RES = TestEmergingHotspots.RES
        base = RES * (1 << 58)
        z = defaultdict(dict)
        for t, cells in bybin.items():
            vals = list(cells.values())
            n = len(vals)
            if n < 2:
                continue
            xbar = sum(vals) / n
            s = math.sqrt(sum(v * v for v in vals) / n - xbar * xbar)
            if s <= 0:
                continue
            for cell in cells:
                i, j = (cell - base) >> 29, cell % (1 << 29)
                nb = [
                    bybin[t].get(base + (i + di) * (1 << 29) + (j + dj))
                    for di in (-1, 0, 1)
                    for dj in (-1, 0, 1)
                ]
                nb = [v for v in nb if v is not None]
                w = len(nb)
                if w >= n:
                    continue
                den = s * math.sqrt((n * w - w * w) / (n - 1))
                z[cell][t] = round((sum(nb) - xbar * w) / den, 6)
        out = {}
        for cell, zs in z.items():
            ts = sorted(zs)
            smk = sum(
                (zs[b] > zs[a]) - (zs[b] < zs[a])
                for x, a in enumerate(ts)
                for b in ts[x + 1:]
            )
            trend = (
                "intensifying" if smk > 0
                else "diminishing" if smk < 0 else "flat"
            )
            out[cell] = (len(ts), smk, trend)
        return out

    def test_planted_intensifying_cell(self, spark):
        # 5x5 field with fixed spatial variance (Gi* is affine-
        # invariant per bin, so a flat field + proportional growth
        # would standardize away); cell (1,1) grows moderately so the
        # global sd doesn't swallow the rise
        rows = []
        for t in range(3):
            for i in range(5):
                for j in range(5):
                    v = 1.0 + ((3 * i + 5 * j) % 7) * 0.1
                    if (i, j) == (1, 1):
                        v += 0.3 * t
                    rows.append((self._cell(i, j), t, v))
        got = self._run(spark, rows)
        ref = self._reference(rows)
        assert got == ref
        assert got[self._cell(1, 1)] == (3, 3, "intensifying")
        # every cell saw all 3 bins
        assert all(v[0] == 3 for v in got.values())

    def test_random_field_equals_reference(self, spark):
        import random

        rng = random.Random(11)
        rows = [
            (self._cell(i, j), t, rng.uniform(0, 10))
            for t in range(4)
            for i in range(6)
            for j in range(6)
            if rng.random() < 0.8
        ]
        assert self._run(spark, rows) == self._reference(rows)

    def test_flat_field_is_flat(self, spark):
        import random

        rng = random.Random(3)
        vals = {(i, j): rng.uniform(1, 2) for i in range(5) for j in range(5)}
        rows = [
            (self._cell(i, j), t, vals[(i, j)])
            for t in range(3)
            for (i, j) in vals
        ]
        got = self._run(spark, rows)
        # identical values every bin -> z identical -> S = 0
        assert all(v == (3, 0, "flat") for v in got.values())

    def test_degenerate_bins_dropped(self, spark):
        # bin 0: fine (far cell keeps w_i < n); bin 1: single cell
        # (n < 2); bin 2: zero variance; bin 3: every neighborhood
        # covers the whole 2-cell field (w_i == n)
        rows = [
            (self._cell(0, 0), 0, 1.0), (self._cell(1, 0), 0, 2.0),
            (self._cell(9, 9), 0, 5.0),
            (self._cell(0, 0), 1, 5.0),
            (self._cell(0, 0), 2, 3.0), (self._cell(9, 9), 2, 3.0),
            (self._cell(0, 0), 3, 1.0), (self._cell(1, 0), 3, 2.0),
        ]
        got = self._run(spark, rows)
        ref = self._reference(rows)
        assert got == ref
        # only bin 0 survives -> every present cell has n_bins=1, S=0
        assert got[self._cell(0, 0)] == (1, 0, "flat")
        assert got[self._cell(1, 0)] == (1, 0, "flat")
        assert got[self._cell(9, 9)] == (1, 0, "flat")

    def test_single_bin_no_pairs(self, spark):
        # far-apart cells (w_i=1 < n=2) so both survive the guard
        rows = [(self._cell(0, 0), 0, 1.0), (self._cell(9, 9), 0, 4.0)]
        got = self._run(spark, rows)
        assert len(got) == 2
        assert all(v == (1, 0, "flat") for v in got.values())


class TestArealInterpolate:
    """Area-weighted reaggregation (operators/spatial.py::
    areal_interpolate)."""

    @staticmethod
    def _sources(spark):
        from ksj2gp_spark.geo import wkb as _wkb

        sq = lambda x0, y0, x1, y1: [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "polygon_id": ["rect", "donut", "ushape"],
                    "geometry": [
                        _wkb.polygon(sq(130, 30, 132, 32)),          # A=4
                        _wkb.polygon(
                            sq(134, 30, 138, 34), sq(135, 31, 137, 33)
                        ),                                            # A=12
                        _wkb.polygon(
                            [(140, 30), (143, 30), (143, 33), (142, 33),
                             (142, 31), (141, 31), (141, 33), (140, 33)]
                        ),                                            # A=7
                    ],
                    "pop": [8.0, 6.0, 14.0],
                }
            )
        )

    def test_hand_computed_estimates(self, spark):
        from ksj2gp_spark.geo import wkb as _wkb
        from ksj2gp_spark.operators.spatial import areal_interpolate

        sq = lambda x0, y0, x1, y1: [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        wins = pd.DataFrame(
            {
                "polygon_id": ["w_rect", "w_half", "w_band"],
                "geometry": [
                    _wkb.polygon(sq(131, 31, 133, 33)),   # ∩rect = 1
                    _wkb.polygon(sq(134, 30, 136, 34)),   # ∩donut = 6
                    _wkb.polygon(sq(140, 32, 143, 33)),   # ∩ushape = 2
                ],
            }
        )
        out = areal_interpolate(
            self._sources(spark), wins, value_col="pop",
            scheme="grid", res=8,
        ).toPandas()
        got = {
            r.target_id: (int(r.n_sources), r.est_value)
            for r in out.itertuples()
        }
        assert got == {
            "w_rect": (1, 2.0),     # 8 * 1/4
            "w_half": (1, 3.0),     # 6 * 6/12
            "w_band": (1, 4.0),     # 14 * 2/7
        }

    def test_tokyo_datum_source_conserves_exactly(self, spark):
        # a Tokyo-datum source fully covered by one window must yield
        # est == value EXACTLY: source areas are measured on the same
        # CRS-normalized (WGS84) geometry as the intersection areas
        # (un-normalized Tokyo areas differ by ~2e-4 relative — the
        # buggy share would round to 7.998416, not 8.0)
        import numpy as np

        from ksj2gp_spark.geo import transform, wkb as _wkb
        from ksj2gp_spark.operators.spatial import areal_interpolate

        sq = lambda x0, y0, x1, y1: [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]

        def inv(pts):
            a = np.array(pts, dtype=float)
            lon, lat, _ = transform.wgs84_to_tokyo(a[:, 0], a[:, 1])
            return list(zip(lon, lat))

        src = spark.createDataFrame(
            pd.DataFrame(
                {
                    "polygon_id": ["rect"],
                    "geometry": [_wkb.polygon(inv(sq(130, 30, 132, 32)))],
                    "crs": ["Tokyo"],
                    "pop": [8.0],
                }
            )
        )
        wins = pd.DataFrame(
            {
                "polygon_id": ["cover"],
                "geometry": [_wkb.polygon(sq(129, 29, 133, 33))],
            }
        )
        out = areal_interpolate(
            src, wins, value_col="pop", scheme="grid", res=8
        ).toPandas()
        assert len(out) == 1
        assert out.iloc[0]["est_value"] == 8.0

    def test_partition_conserves_total(self, spark):
        # four quadrant windows exactly tile the rect source: the
        # estimates must sum to its full value
        from ksj2gp_spark.geo import wkb as _wkb
        from ksj2gp_spark.operators.spatial import areal_interpolate

        sq = lambda x0, y0, x1, y1: [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        wins = pd.DataFrame(
            {
                "polygon_id": ["q1", "q2", "q3", "q4"],
                "geometry": [
                    _wkb.polygon(sq(130, 30, 131, 31)),
                    _wkb.polygon(sq(131, 30, 132, 31)),
                    _wkb.polygon(sq(130, 31, 131, 32)),
                    _wkb.polygon(sq(131, 31, 132, 32)),
                ],
            }
        )
        out = areal_interpolate(
            self._sources(spark), wins, value_col="pop",
            scheme="grid", res=8,
        ).toPandas()
        assert len(out) == 4
        assert abs(out["est_value"].sum() - 8.0) < 1e-9
        assert (out["est_value"] == 2.0).all()


class TestCrossK:
    """Bivariate Ripley cross-K (operators/spatial.py::cross_k)."""

    @staticmethod
    def _run(spark, pts_a, pts_b, radii, area):
        from ksj2gp_spark.operators.spatial import cross_k

        da = spark.createDataFrame(
            pd.DataFrame({"lon": [p[0] for p in pts_a],
                          "lat": [p[1] for p in pts_a]})
        )
        db = spark.createDataFrame(
            pd.DataFrame({"lon": [p[0] for p in pts_b],
                          "lat": [p[1] for p in pts_b]})
        )
        out = cross_k(da, db, radii=radii, area=area).toPandas()
        return {r.r: (int(r.n_pairs), r.k_ab) for r in out.itertuples()}

    @staticmethod
    def _reference(pts_a, pts_b, radii, area):
        out = {}
        for r in radii:
            n = sum(
                1
                for xa, ya in pts_a
                for xb, yb in pts_b
                if (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r
            )
            out[r] = (
                n,
                round(area * n / (len(pts_a) * len(pts_b)), 6),
            )
        return out

    def test_hand_computed_pairs(self, spark):
        a = [(0.0, 0.0), (10.0, 0.0)]
        b = [(1.0, 0.0), (10.5, 0.0), (50.0, 50.0)]
        got = self._run(spark, a, b, [1.0, 2.0], area=100.0)
        assert got == self._reference(a, b, [1.0, 2.0], 100.0)
        assert got[1.0][0] == 2  # (0,0)-(1,0) and (10,0)-(10.5,0)

    def test_exact_rmax_boundary_far_from_origin(self, spark):
        a = [(7000.0, 9000.0)]
        b = [(7000.0 + 3.0, 9000.0)]
        got = self._run(spark, a, b, [3.0], area=1.0)
        assert got[3.0][0] == 1

    def test_random_equals_reference(self, spark):
        import random

        rng = random.Random(23)
        a = [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(80)]
        b = [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(90)]
        radii = [0.5, 1.0, 1.5]
        assert self._run(spark, a, b, radii, 100.0) == self._reference(
            a, b, radii, 100.0
        )

    def test_validates_inputs(self, spark):
        from ksj2gp_spark.operators.spatial import cross_k

        df = spark.createDataFrame(
            pd.DataFrame({"lon": [0.0], "lat": [0.0]})
        )
        with pytest.raises(ValueError):
            cross_k(df, df, radii=[], area=1.0)
        with pytest.raises(ValueError):
            cross_k(df, df, radii=[0.0], area=1.0)
        with pytest.raises(ValueError, match="positive"):
            cross_k(df, df, radii=[1.0, -0.5], area=1.0)
        empty = df.filter("lon > 1")
        with pytest.raises(ValueError, match="non-empty"):
            cross_k(df, empty, radii=[1.0], area=1.0)
        with pytest.raises(ValueError, match="non-empty"):
            cross_k(empty, df, radii=[1.0], area=1.0)


class TestJoinCounts:
    """Join-count statistics (operators/spatial.py::join_counts)."""

    RES = 10

    def _cell(self, i, j):
        return self.RES * (1 << 58) + i * (1 << 29) + j

    def _run(self, spark, cells):
        from ksj2gp_spark.operators.spatial import join_counts

        df = spark.createDataFrame(
            pd.DataFrame(
                {"cell": [c for c, _ in cells],
                 "label": [l for _, l in cells]}
            )
        )
        out = join_counts(df, res=self.RES).toPandas()
        return {
            (r.label_lo, r.label_hi): int(r.n_joins)
            for r in out.itertuples()
        }

    @staticmethod
    def _reference(cells):
        from collections import Counter

        lab = dict(cells)
        out = Counter()
        seen = set()
        for c, la in cells:
            i, j = (c - 10 * (1 << 58)) >> 29, c % (1 << 29)
            for di in (-1, 0, 1):
                for dj in (-1, 0, 1):
                    if (di, dj) == (0, 0):
                        continue
                    nb = 10 * (1 << 58) + (i + di) * (1 << 29) + (j + dj)
                    if nb in lab and (nb, c) not in seen:
                        seen.add((c, nb))
                        lo, hi = sorted([la, lab[nb]])
                        out[(lo, hi)] += 1
        return dict(out)

    def test_checkerboard_is_all_cross_joins(self, spark):
        # 4x4 checkerboard: rook joins are all BW; diagonal joins are
        # same-label — exact counts known in closed form
        cells = [
            (self._cell(i, j), "B" if (i + j) % 2 == 0 else "W")
            for i in range(4)
            for j in range(4)
        ]
        got = self._run(spark, cells)
        assert got == self._reference(cells)
        # 4x4 grid: 24 rook joins (all BW) + 18 diagonal (all same)
        assert got[("B", "W")] == 24
        assert got[("B", "B")] + got[("W", "W")] == 18

    def test_two_blocks_no_cross(self, spark):
        cells = [(self._cell(i, j), "A") for i in range(2) for j in range(2)]
        cells += [
            (self._cell(i + 10, j), "B") for i in range(2) for j in range(2)
        ]
        got = self._run(spark, cells)
        assert got == {("A", "A"): 6, ("B", "B"): 6}

    def test_random_equals_reference(self, spark):
        import random

        rng = random.Random(5)
        cells = [
            (self._cell(i, j), rng.choice("XYZ"))
            for i in range(6)
            for j in range(6)
            if rng.random() < 0.7
        ]
        assert self._run(spark, cells) == self._reference(cells)


class TestKnoxTest:
    """Knox space-time interaction (operators/spatial.py::knox_test)."""

    @staticmethod
    def _run(spark, rows, delta, tau_us):
        from ksj2gp_spark.operators.spatial import knox_test

        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "lon", "lat"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        df = spark.createDataFrame(pdf)
        out = knox_test(df, delta=delta, tau_us=tau_us).toPandas()
        r = out.iloc[0]
        return (int(r.n_pairs), int(r.n_space), int(r.n_time),
                int(r.n_spacetime), r.knox_ratio)

    @staticmethod
    def _reference(rows, delta, tau_us):
        import pandas as pd_

        ts = pd_.to_datetime([r[1] for r in rows])
        t = [int(x.value // 1000) for x in ts]  # micros
        pts = [(r[2], r[3]) for r in rows]
        n = len(rows)
        ns = nt = nst = 0
        for i in range(n):
            for j in range(i + 1, n):
                sp = (pts[i][0] - pts[j][0]) ** 2 + (
                    pts[i][1] - pts[j][1]
                ) ** 2 <= delta * delta
                tm = abs(t[i] - t[j]) <= tau_us
                ns += sp
                nt += tm
                nst += sp and tm
        npairs = n * (n - 1) // 2
        exp = ns * nt / npairs if npairs and ns and nt else 0.0
        ratio = round(nst / exp, 6) if exp > 0 else 0.0
        return (npairs, ns, nt, nst, ratio)

    def test_hand_computed_clustered_outbreak(self, spark):
        # 3 events same place same hour + 2 far/late -> strong excess
        rows = [
            (1, "2024-01-01 00:00:00", 0.00, 0.00),
            (2, "2024-01-01 00:10:00", 0.01, 0.00),
            (3, "2024-01-01 00:20:00", 0.00, 0.01),
            (4, "2024-06-01 00:00:00", 5.00, 5.00),
            (5, "2024-01-01 00:05:00", 9.00, 9.00),  # time-close only
        ]
        got = self._run(spark, rows, delta=0.05, tau_us=3600 * 10**6)
        assert got == self._reference(rows, 0.05, 3600 * 10**6)
        assert got[3] == 3 and got[4] > 1.0

    def test_random_equals_reference(self, spark):
        import random

        rng = random.Random(31)
        rows = [
            (
                i,
                f"2024-01-01 {rng.randrange(24):02d}:"
                f"{rng.randrange(60):02d}:{rng.randrange(60):02d}",
                rng.uniform(0, 1),
                rng.uniform(0, 1),
            )
            for i in range(120)
        ]
        got = self._run(spark, rows, delta=0.2, tau_us=2 * 3600 * 10**6)
        assert got == self._reference(rows, 0.2, 2 * 3600 * 10**6)

    def test_exact_boundaries_count(self, spark):
        # pair exactly delta apart AND exactly tau apart: both <= -> in
        rows = [
            (1, "2024-01-01 00:00:00", 1000.0, 2000.0),
            (2, "2024-01-01 01:00:00", 1000.0 + 0.25, 2000.0),
        ]
        got = self._run(spark, rows, delta=0.25, tau_us=3600 * 10**6)
        assert got[1] == 1 and got[2] == 1 and got[3] == 1

    def test_validates_inputs(self, spark):
        from ksj2gp_spark.operators.spatial import knox_test

        pdf = pd.DataFrame(
            {"event_id": [1], "ts": pd.to_datetime(["2024-01-01"]),
             "lon": [0.0], "lat": [0.0]}
        )
        df = spark.createDataFrame(pdf)
        with pytest.raises(ValueError):
            knox_test(df, delta=0.0, tau_us=1)
        with pytest.raises(ValueError):
            knox_test(df, delta=1.0, tau_us=0)


class TestQuadratTest:
    @staticmethod
    def _run(spark, pts, s):
        from ksj2gp_spark.operators.spatial import quadrat_test

        df = spark.createDataFrame(
            pd.DataFrame({"lon": [p[0] for p in pts],
                          "lat": [p[1] for p in pts]})
        )
        r = quadrat_test(df, cell_size=s).toPandas().iloc[0]
        return (int(r.n), int(r.k), int(r.occupied), r.chi2)

    def test_uniform_grid_is_zero_chi2(self, spark):
        # one point dead-center of each quadrat: O_q = E = 1, chi2 = 0
        pts = [(i + 0.5, j + 0.5) for i in range(3) for j in range(3)]
        assert self._run(spark, pts, 1.0) == (9, 9, 9, 0.0)

    def test_all_in_one_quadrat_max_chi2(self, spark):
        # 8 points in one corner cell + 1 at the far corner: k = 9
        pts = [(0.1 + 0.01 * i, 0.1) for i in range(8)] + [(2.5, 2.5)]
        n, k, m, chi2 = self._run(spark, pts, 1.0)
        assert (n, k, m) == (9, 9, 2)
        # closed form: E=1, occupied (8-1)^2/1 + (1-1)^2/1, empty 7*1
        assert abs(chi2 - (49.0 + 0.0 + 7.0)) < 1e-9
    def test_max_edge_points_clamp_into_last_quadrat(self, spark):
        pts = [(0.0, 0.0), (2.0, 2.0)]  # max corner exactly on edge
        n, k, m, chi2 = self._run(spark, pts, 1.0)
        assert (n, k, m) == (2, 9, 2)

    def test_validates_inputs(self, spark):
        from ksj2gp_spark.operators.spatial import quadrat_test

        df = spark.createDataFrame(pd.DataFrame({"lon": [0.0], "lat": [0.0]}))
        with pytest.raises(ValueError):
            quadrat_test(df, cell_size=0.0)


class TestStdEllipse:
    @staticmethod
    def _run(spark, pts):
        from ksj2gp_spark.operators.spatial import std_ellipse

        df = spark.createDataFrame(
            pd.DataFrame({"lon": [p[0] for p in pts],
                          "lat": [p[1] for p in pts]})
        )
        r = std_ellipse(df).toPandas().iloc[0]
        return (int(r.n), r.cx, r.cy, r.theta, r.sx, r.sy)

    def test_axis_aligned_spread(self, spark):
        # variance only along x: theta=0, sy=0
        pts = [(-2.0, 5.0), (0.0, 5.0), (2.0, 5.0)]
        n, cx, cy, theta, sx, sy = self._run(spark, pts)
        assert (n, cx, cy) == (3, 0.0, 5.0)
        assert theta == 0.0 and sy == 0.0
        assert abs(sx - (8.0 / 3.0) ** 0.5) < 1e-6

    def test_diagonal_spread_rotates(self, spark):
        import math

        pts = [(-1.0, -1.0), (0.0, 0.0), (1.0, 1.0)]
        _, _, _, theta, sx, sy = self._run(spark, pts)
        assert abs(theta - math.pi / 4) < 1e-6
        assert sy == 0.0 and sx > 0

    def test_matches_numpy_covariance(self, spark):
        import math
        import random

        rng = random.Random(13)
        pts = [(rng.gauss(3, 2), rng.gauss(-1, 0.5)) for _ in range(200)]
        n, cx, cy, theta, sx, sy = self._run(spark, pts)
        xs = np.array([p[0] for p in pts]); ys = np.array([p[1] for p in pts])
        mxx, myy = xs.var(), ys.var()
        mxy = ((xs - xs.mean()) * (ys - ys.mean())).mean()
        t = 0.5 * math.atan2(2 * mxy, mxx - myy)
        assert abs(theta - round(t, 6)) < 1e-5
        assert abs(cx - round(xs.mean(), 6)) < 1e-6

    def test_needs_three_points(self, spark):
        from ksj2gp_spark.operators.spatial import std_ellipse

        df = spark.createDataFrame(
            pd.DataFrame({"lon": [0.0, 1.0], "lat": [0.0, 1.0]})
        )
        with pytest.raises(ValueError):
            std_ellipse(df)


class TestGeneralG:
    RES = 10

    def _cell(self, i, j):
        return self.RES * (1 << 58) + i * (1 << 29) + j

    def _run(self, spark, cells):
        from ksj2gp_spark.operators.spatial import general_g

        df = spark.createDataFrame(
            pd.DataFrame({"cell": [c for c, _ in cells],
                          "value": [float(v) for _, v in cells]})
        )
        r = general_g(df, res=self.RES).toPandas().iloc[0]
        return (int(r.n), int(r.s0), r.general_g)

    def test_hand_computed_pair(self, spark):
        # two adjacent cells (3, 5) and one far cell (2):
        # num = 2*3*5 = 30; denom = (sum)^2 - sum^2 = 100 - 38 = 62
        cells = [(self._cell(0, 0), 3), (self._cell(0, 1), 5),
                 (self._cell(9, 9), 2)]
        n, s0, g = self._run(spark, cells)
        assert (n, s0) == (3, 2)
        assert abs(g - round(30.0 / 62.0, 6)) < 1e-9

    def test_degenerate_denominator_raises(self, spark):
        from ksj2gp_spark.operators.spatial import general_g

        # all-zero values: sum_{i!=j} x_i x_j = 0 — undefined, not NULL
        zeros = spark.createDataFrame(
            pd.DataFrame(
                {"cell": [self._cell(0, 0), self._cell(0, 1)],
                 "value": [0.0, 0.0]}
            )
        )
        with pytest.raises(ValueError, match="undefined"):
            general_g(zeros, res=self.RES)
        # a single positive cell has no cross terms either
        one = spark.createDataFrame(
            pd.DataFrame({"cell": [self._cell(0, 0)], "value": [3.0]})
        )
        with pytest.raises(ValueError, match="undefined"):
            general_g(one, res=self.RES)

    def test_high_adjacency_raises_g(self, spark):
        # same value multiset; high values adjacent vs separated
        hi_together = [(self._cell(0, 0), 9), (self._cell(0, 1), 9),
                       (self._cell(5, 5), 1), (self._cell(9, 9), 1)]
        hi_apart = [(self._cell(0, 0), 9), (self._cell(9, 9), 9),
                    (self._cell(0, 1), 1), (self._cell(5, 5), 1)]
        g1 = self._run(spark, hi_together)[2]
        g2 = self._run(spark, hi_apart)[2]
        assert g1 > g2

    def test_rejects_negative_values(self, spark):
        from ksj2gp_spark.operators.spatial import general_g

        df = spark.createDataFrame(
            pd.DataFrame({"cell": [self._cell(0, 0)], "value": [-1.0]})
        )
        with pytest.raises(ValueError):
            general_g(df, res=self.RES)


class TestConvexHull:
    """Two-level distributed convex hull (operators/spatial.py::
    convex_hull_per_group)."""

    @staticmethod
    def _run(spark, rows, n_shards=64):
        from ksj2gp_spark.operators.spatial import convex_hull_per_group

        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["grp", "lon", "lat"])
        )
        out = convex_hull_per_group(
            df, group_col="grp", n_shards=n_shards
        ).toPandas()
        return {
            r.grp: (int(r.n_vertices), r.area, r.hull_wkt)
            for r in out.itertuples()
        }

    @staticmethod
    def _jarvis(pts):
        """Gift-wrapping reference hull (CCW vertex count + area)."""
        pts = sorted(set(pts))
        if len(pts) <= 2:
            return len(pts), 0.0
        hull = []
        start = min(pts)
        p = start
        while True:
            hull.append(p)
            q = pts[0] if pts[0] != p else pts[1]
            for r in pts:
                if r == p:
                    continue
                cross = (q[0] - p[0]) * (r[1] - p[1]) - (
                    q[1] - p[1]
                ) * (r[0] - p[0])
                d_q = (q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2
                d_r = (r[0] - p[0]) ** 2 + (r[1] - p[1]) ** 2
                if cross < 0 or (cross == 0 and d_r > d_q):
                    q = r
            p = q
            if p == start:
                break
        area = 0.0
        for i in range(len(hull)):
            x0, y0 = hull[i]
            x1, y1 = hull[(i + 1) % len(hull)]
            area += x0 * y1 - x1 * y0
        return len(hull), abs(area) / 2.0

    def test_square_with_interior_points(self, spark):
        rows = [("a", 0.0, 0.0), ("a", 4.0, 0.0), ("a", 4.0, 4.0),
                ("a", 0.0, 4.0)]
        rows += [("a", 1.0 + 0.1 * i, 2.0) for i in range(10)]
        got = self._run(spark, rows)
        n, area, txt = got["a"]
        assert (n, area) == (4, 16.0)
        assert txt.startswith("POLYGON ((0.0 0.0, 4.0 0.0")

    def test_random_matches_jarvis_reference(self, spark):
        import random

        rng = random.Random(19)
        rows = [
            ("g", round(rng.uniform(0, 10), 3),
             round(rng.uniform(0, 10), 3))
            for _ in range(400)
        ]
        got = self._run(spark, rows)
        n, area, _ = got["g"]
        rn, rarea = self._jarvis([(r[1], r[2]) for r in rows])
        assert n == rn and abs(area - rarea) < 1e-9

    def test_shard_count_invariance(self, spark):
        import random

        rng = random.Random(29)
        rows = [
            ("g", rng.uniform(0, 5), rng.uniform(0, 5))
            for _ in range(300)
        ]
        assert self._run(spark, rows, n_shards=1) == self._run(
            spark, rows, n_shards=64
        )

    def test_degenerate_collinear(self, spark):
        rows = [("l", float(i), float(2 * i)) for i in range(5)]
        n, area, txt = self._run(spark, rows)["l"]
        assert n == 2 and area == 0.0 and txt == ""

    def test_multiple_groups_isolated(self, spark):
        rows = [("a", 0.0, 0.0), ("a", 1.0, 0.0), ("a", 0.0, 1.0),
                ("b", 10.0, 10.0), ("b", 12.0, 10.0), ("b", 10.0, 13.0)]
        got = self._run(spark, rows)
        assert got["a"][1] == 0.5 and got["b"][1] == 3.0


class TestDistJoinHotSplit:
    """Hot-polygon auto-split on the distributed big-layer join
    (operators/spatial.py::spatial_join_tiles_dist): a planted metro
    polygon holding most candidates is detected without materializing
    the pair join, its cogroup is salted into bounded sub-groups, and
    the row set exactly equals the unsalted path's."""

    @staticmethod
    def _fixture(spark):
        from ksj2gp_spark.geo import wkb as _wkb

        sq = lambda x0, y0, x1, y1: [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        layer = pd.DataFrame(
            {
                "polygon_id": ["metro", "b", "c"],
                "行政区域コード": ["13101", "27103", "01105"],
                "geometry": [
                    _wkb.polygon(sq(0, 0, 10, 10)),
                    _wkb.polygon(sq(10, 0, 20, 10)),
                    _wkb.polygon(sq(20, 0, 30, 10)),
                ],
            }
        )
        # planted skew: 2000 of 3000 points inside the metro polygon
        k = np.arange(3000)
        lon = np.where(
            k < 2000,
            (k * 0.0037) % 9.0 + 0.5,            # metro
            10.5 + (k % 2) * 10 + (k * 0.011) % 9.0,  # b / c alternating
        )
        lat = (k * 0.0071) % 9.0 + 0.5
        imgs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": [f"img{i:05d}" for i in k],
                    "lon": lon,
                    "lat": lat,
                }
            )
        )
        return imgs, spark.createDataFrame(layer)

    def test_detection_without_pair_join(self, spark):
        from ksj2gp_spark.operators.cells import polygon_cover_df, with_cell
        from ksj2gp_spark.operators.spatial import hot_polygon_ids

        imgs, polys = self._fixture(spark)
        pts = with_cell(imgs.select("image_id", "lon", "lat"), "grid", 10)
        cover = polygon_cover_df(
            polys.select("polygon_id", "geometry"), "grid", 10
        )
        hot = {
            r["polygon_id"]
            for r in hot_polygon_ids(pts, cover, 800).collect()
        }
        assert hot == {"metro"}
        # lower threshold flags the others too (counts are exact)
        hot_all = {
            r["polygon_id"]
            for r in hot_polygon_ids(pts, cover, 300).collect()
        }
        assert hot_all == {"metro", "b", "c"}

    def test_invalid_n_sub_raises(self, spark):
        # pmod(hash, 0) is NULL — without the guard every hot
        # polygon's matches would silently vanish from the cogroup
        from ksj2gp_spark.operators.spatial import spatial_join_tiles_dist

        imgs, polys = self._fixture(spark)
        with pytest.raises(ValueError, match="n_sub"):
            spatial_join_tiles_dist(
                imgs, polys, scheme="grid", res=10,
                max_group_rows=800, n_sub=0,
            )

    def test_split_rowset_equals_unsalted_and_is_bounded(self, spark):
        from ksj2gp_spark.operators.spatial import spatial_join_tiles_dist

        imgs, polys = self._fixture(spark)
        cols = ["image_id", "cell", "polygon_id", "admin_code"]
        split = spatial_join_tiles_dist(
            imgs, polys, scheme="grid", res=10,
            max_group_rows=800, n_sub=4,
        )
        plain = spatial_join_tiles_dist(
            imgs, polys, scheme="grid", res=10, max_group_rows=None
        )
        split_rows = {tuple(r) for r in split.select(*cols).collect()}
        plain_rows = {tuple(r) for r in plain.select(*cols).collect()}
        assert split_rows == plain_rows
        metro_rows = {r for r in split_rows if r[2] == "metro"}
        assert len(metro_rows) == 2000  # every planted point assigned
        # boundedness: the salt used inside the operator
        # (xxhash64(image_id) % n_sub) must spread the metro group
        # into n_sub sub-groups, each well under the unsplit size
        subs = (
            imgs.filter(F.col("lon") < 10.0)
            .select(
                F.pmod(F.xxhash64(F.col("image_id")), F.lit(4)).alias("s")
            )
            .groupBy("s")
            .count()
            .collect()
        )
        assert len(subs) == 4
        assert max(r["count"] for r in subs) < 2000 * 0.5


class TestCellPyramid:
    """Multi-zoom tile pyramid (operators/cells.py::cell_pyramid):
    pure-Catalyst ancestor ids for grid/s2 pinned against the numpy
    kernels, one-shuffle plan with zero Python nodes."""

    @staticmethod
    def _points(spark, n=4000, seed=3):
        rng = np.random.default_rng(seed)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "lon": rng.uniform(128, 146, n),
                    "lat": rng.uniform(30, 46, n),
                }
            )
        )

    def test_grid_parent_col_matches_kernel(self, spark):
        from ksj2gp_spark.geo import grid as grid_mod
        from ksj2gp_spark.operators import cells as cells_mod

        pts = cells_mod.with_cell(self._points(spark), "grid", 12)
        got = pts.select(
            "cell",
            cells_mod.grid_parent_col(F.col("cell"), 12, 8).alias("p"),
        ).toPandas()
        want = grid_mod.cell_to_parent(got["cell"].to_numpy("int64"), 8)
        assert (got["p"].to_numpy("int64") == want).all()

    def test_s2_parent_col_matches_kernel(self, spark):
        from ksj2gp_spark.geo import s2 as s2_mod
        from ksj2gp_spark.operators import cells as cells_mod

        # include points on faces whose ids wrap negative in int64
        pdf = pd.DataFrame(
            {
                "lon": np.concatenate(
                    [np.linspace(-170, 170, 300), np.linspace(100, 179, 50)]
                ),
                "lat": np.concatenate(
                    [np.linspace(-80, 80, 300), np.linspace(-85, -40, 50)]
                ),
            }
        )
        pts = cells_mod.with_cell(spark.createDataFrame(pdf), "s2", 14)
        got = pts.select(
            "cell",
            cells_mod.s2_parent_col(F.col("cell"), 9).alias("p"),
        ).toPandas()
        want = s2_mod.parent(got["cell"].to_numpy("int64"), 9)
        assert (got["p"].to_numpy("int64") == want).all()

    def test_pyramid_counts_match_pandas(self, spark):
        from ksj2gp_spark.geo import grid as grid_mod
        from ksj2gp_spark.operators import cells as cells_mod

        pts = cells_mod.with_cell(self._points(spark), "grid", 10)
        levels = [10, 9, 8, 7]
        out = cells_mod.cell_pyramid(
            pts, levels, scheme="grid", base_res=10
        ).toPandas()
        base = pts.select("cell").toPandas()["cell"].to_numpy("int64")
        want = {}
        for lv in levels:
            pc = grid_mod.cell_to_parent(base, lv)
            for cell, n in zip(*np.unique(pc, return_counts=True)):
                want[(lv, int(cell))] = int(n)
        got = {
            (int(r["level"]), int(r["cell"])): int(r["n_points"])
            for _, r in out.iterrows()
        }
        assert got == want
        # every level conserves the total point count
        per_level = out.groupby("level")["n_points"].sum()
        assert (per_level == len(base)).all()

    def test_one_shuffle_no_python(self, spark):
        from ksj2gp_spark.operators import cells as cells_mod

        pts = cells_mod.with_cell(self._points(spark), "grid", 10)
        plan = cells_mod.cell_pyramid(
            pts, [10, 8], scheme="grid", base_res=10
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in plan, node
        assert "HashAggregate" in plan  # partial agg before the exchange

    def test_weighted_sums_match_pandas(self, spark):
        from ksj2gp_spark.geo import grid as grid_mod
        from ksj2gp_spark.operators import cells as cells_mod

        pts = cells_mod.with_cell(self._points(spark), "grid", 10)
        pts = pts.withColumn(
            "w", (F.col("cell") % F.lit(7) + F.lit(1)).cast("long")
        )
        out = cells_mod.cell_pyramid(
            pts, [10, 8], scheme="grid", base_res=10, weight_cols=["w"]
        ).toPandas()
        assert sorted(out.columns) == ["cell", "level", "n_points", "sum_w"]
        base = pts.select("cell", "w").toPandas()
        for lv in (10, 8):
            pc = grid_mod.cell_to_parent(base["cell"].to_numpy("int64"), lv)
            want = (
                pd.DataFrame({"cell": pc, "w": base["w"]})
                .groupby("cell")["w"]
                .agg(["count", "sum"])
            )
            got = out[out.level == lv].set_index("cell")
            assert got["n_points"].sort_index().tolist() == want[
                "count"
            ].sort_index().tolist()
            assert got["sum_w"].sort_index().tolist() == want[
                "sum"
            ].sort_index().tolist()
        # per-level sums conserve the total weight
        tot = int(base["w"].sum())
        assert (out.groupby("level")["sum_w"].sum() == tot).all()

    def test_weighted_plan_unchanged(self, spark):
        # weights ride the same explode + partial agg: still one
        # shuffle, still zero Python nodes
        from ksj2gp_spark.operators import cells as cells_mod

        pts = cells_mod.with_cell(self._points(spark), "grid", 10)
        pts = pts.withColumn("w", F.col("cell") % F.lit(7))
        plan = cells_mod.cell_pyramid(
            pts, [10, 8], scheme="grid", base_res=10, weight_cols=["w"]
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in plan, node

    def test_validation(self, spark):
        from ksj2gp_spark.operators import cells as cells_mod

        pts = cells_mod.with_cell(self._points(spark), "grid", 10)
        with pytest.raises(ValueError, match="base_res"):
            cells_mod.cell_pyramid(pts, [8], scheme="grid")
        with pytest.raises(ValueError, match="levels"):
            cells_mod.cell_pyramid(pts, [], scheme="grid", base_res=10)
        with pytest.raises(ValueError, match="parent_res"):
            cells_mod.cell_pyramid(pts, [11], scheme="grid", base_res=10)
        with pytest.raises(ValueError, match="grid|s2"):
            cells_mod.cell_pyramid(pts, [8], scheme="hex", base_res=10)


class TestHotDetectionSampled:
    """Sampled hot-polygon detection (operators/spatial.py::
    hot_polygon_ids sample_fraction): scaled counts find the planted
    metro polygon from a probe sample, and the split path's output row
    set is invariant to the detection mode."""

    def test_sampled_detection_finds_planted_hot(self, spark):
        from ksj2gp_spark.operators.cells import (
            polygon_cover_df,
            with_cell,
        )
        from ksj2gp_spark.operators.spatial import hot_polygon_ids

        imgs, polys = TestDistJoinHotSplit._fixture(spark)
        pts = with_cell(imgs.select("image_id", "lon", "lat"), "grid", 10)
        cover = polygon_cover_df(
            polys.select("polygon_id", "geometry"), "grid", 10
        )
        hot = {
            r["polygon_id"]
            for r in hot_polygon_ids(
                pts, cover, 800, sample_fraction=0.5
            ).collect()
        }
        # 2000 planted metro candidates, ~1000 sampled, scaled ×2 —
        # comfortably past the 800 bar; b/c (~500 each) stay cold
        assert "metro" in hot
        assert len(hot) <= 2  # sampling noise may not flag b or c

    def test_row_set_invariant_under_sampled_detection(self, spark):
        from ksj2gp_spark.operators.spatial import spatial_join_tiles_dist

        imgs, polys = TestDistJoinHotSplit._fixture(spark)
        key = lambda df: sorted(
            (r.image_id, r.cell, r.polygon_id, r.admin_code)
            for r in df.collect()
        )
        exact = key(
            spatial_join_tiles_dist(
                imgs, polys, scheme="grid", res=10,
                max_group_rows=800, n_sub=4,
            )
        )
        sampled = key(
            spatial_join_tiles_dist(
                imgs, polys, scheme="grid", res=10,
                max_group_rows=800, n_sub=4, detect_fraction=0.3,
            )
        )
        assert sampled == exact

    def test_invalid_fraction_raises(self, spark):
        import pytest

        from ksj2gp_spark.operators.cells import (
            polygon_cover_df,
            with_cell,
        )
        from ksj2gp_spark.operators.spatial import hot_polygon_ids

        imgs, polys = TestDistJoinHotSplit._fixture(spark)
        pts = with_cell(imgs.select("image_id", "lon", "lat"), "grid", 10)
        cover = polygon_cover_df(
            polys.select("polygon_id", "geometry"), "grid", 10
        )
        for bad in (0.0, -0.5, 1.5):
            with pytest.raises(ValueError, match="sample_fraction"):
                hot_polygon_ids(pts, cover, 800, sample_fraction=bad)
