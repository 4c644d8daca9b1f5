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
