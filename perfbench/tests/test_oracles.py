"""The oracles pass a correct output and reject a corrupted one.

    python3 -m pytest perfbench/tests -q
"""

import json

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from perfbench import gen, oracles

BOX = (139.0, 35.0, 140.0, 36.0)
K = 3


@pytest.fixture(scope="module")
def case():
    layer = gen.admin_layer(1, 6, 6, verts_per_edge=20, box=BOX)
    lon, lat = gen.image_points(1, 300, BOX)
    images = gen.images_pdf(lon, lat)
    adm = oracles.brute_force_admin(layer, lon, lat)
    d = np.stack([oracles.dist_to_ring(lon, lat, r) for r in layer.rings], axis=1)
    rows = []
    for n, iid in enumerate(images["image_id"]):
        if adm[n] is not None:
            rows.append((iid, 0, 0.0, adm[n]))
        else:
            for r, j in enumerate(np.argsort(d[n], kind="stable")[:K], 1):
                rows.append((iid, r, float(d[n, j]), layer.admin_codes[j]))
    tiles = pd.DataFrame(rows, columns=["image_id", "rank", "distance", "admin_code"])
    return layer, images, tiles


def test_tiles_correct_output_passes(case):
    layer, images, tiles = case
    assert (tiles["rank"] == 1).sum() == 9  # 3 % ocean
    assert oracles.check_tiles(tiles, images["image_id"].to_numpy(), K) == []
    ids = images["image_id"].to_numpy()
    assert oracles.check_tile_sample(tiles, layer, images, ids) == []


def test_tiles_duplicate_rank0_rejected(case):
    _, images, tiles = case
    bad = pd.concat([tiles, tiles[tiles["rank"] == 0].head(1)], ignore_index=True)
    assert oracles.check_tiles(bad, images["image_id"].to_numpy(), K)


def test_tiles_missing_image_rejected(case):
    _, images, tiles = case
    bad = tiles[tiles["image_id"] != images["image_id"].iloc[0]]
    assert oracles.check_tiles(bad, images["image_id"].to_numpy(), K)


def test_tiles_decreasing_ocean_distance_rejected(case):
    _, images, tiles = case
    bad = tiles.copy()
    ocean = bad.index[bad["rank"] == 1][0]
    bad.loc[ocean, "distance"] += 1.0
    assert oracles.check_tiles(bad, images["image_id"].to_numpy(), K)


def test_tiles_short_ocean_ranks_rejected(case):
    _, images, tiles = case
    bad = tiles[tiles["rank"] != K]
    assert oracles.check_tiles(bad, images["image_id"].to_numpy(), K)


def test_sample_wrong_admin_code_rejected(case):
    layer, images, tiles = case
    bad = tiles.copy()
    land = bad.index[bad["rank"] == 0][0]
    bad.loc[land, "admin_code"] = "99999"
    ids = images["image_id"].to_numpy()
    assert oracles.check_tile_sample(bad, layer, images, ids)


def test_sample_wrong_nearest_rejected(case):
    layer, images, tiles = case
    bad = tiles.copy()
    first = bad.index[bad["rank"] == 1][0]
    bad.loc[first, "distance"] *= 1.5
    ids = images["image_id"].to_numpy()
    assert oracles.check_tile_sample(bad, layer, images, ids)


def test_ledger():
    hist = [
        {"summary": {"pipeline_files": ["a.parquet"]}},
        {"summary": {"pipeline_files": ["b.parquet"]}},
    ]
    assert oracles.check_ledger(hist, {"a.parquet", "b.parquet"}) == []
    twice = hist + [{"summary": {"pipeline_files": ["a.parquet"]}}]
    assert oracles.check_ledger(twice, {"a.parquet", "b.parquet"})
    assert oracles.check_ledger(hist, {"a.parquet", "b.parquet", "c.parquet"})


def _gpq_case():
    mix = gen.KsjMix("zips", features=2, error_rows=1)
    mix.members = {"N03-20240101_01": ("N03", "JGD2011", 2)}
    mix.bounds = {
        ("N03-20240101_01", 0): (139.0, 35.0, 139.1, 35.1),
        ("N03-20240101_01", 1): (139.1, 35.0, 139.2, 35.1),
    }
    mix.labels = {("N03-20240101_01", 0): {"市区町村名": "東京都第1市"}}
    cols = {
        "shp_name": ["N03-20240101_01.shp"] * 2,
        "feature_idx": [0, 1],
        "ksj_id": ["N03", "N03"],
        "crs": ["JGD2011", "JGD2011"],
        "attrs": pa.array(
            [[("市区町村名", "東京都第1市")], [("市区町村名", "東京都第2市")]],
            type=pa.map_(pa.string(), pa.string()),
        ),
        "bbox_xmin": [139.0, 139.1],
        "bbox_ymin": [35.0, 35.0],
        "bbox_xmax": [139.1, 139.2],
        "bbox_ymax": [35.1, 35.1],
    }
    geo = {"primary_column": "geometry",
           "columns": {"geometry": {"encoding": "WKB"}}}
    meta = {b"geo": json.dumps(geo).encode()}
    return mix, cols, meta


def _table(cols, meta):
    t = pa.table(cols)
    return t.replace_schema_metadata(meta) if meta else t


def test_geoparquet_correct_output_passes():
    mix, cols, meta = _gpq_case()
    assert oracles.check_geoparquet(_table(cols, meta), 1, mix) == []


@pytest.mark.parametrize("corrupt", [
    "error_rows", "dropped_row", "bbox", "label", "crs", "no_geo_metadata",
])
def test_geoparquet_corruption_rejected(corrupt):
    mix, cols, meta = _gpq_case()
    n_err = 1
    if corrupt == "error_rows":
        n_err = 0
    elif corrupt == "dropped_row":
        cols = {k: v[:1] for k, v in cols.items()}
    elif corrupt == "bbox":
        cols["bbox_xmax"] = [139.1, 139.25]
    elif corrupt == "label":
        cols["attrs"] = pa.array(
            [[("市区町村名", "別の市")], [("市区町村名", "東京都第2市")]],
            type=pa.map_(pa.string(), pa.string()),
        )
    elif corrupt == "crs":
        cols["crs"] = ["Tokyo", "Tokyo"]
    elif corrupt == "no_geo_metadata":
        meta = None
    assert oracles.check_geoparquet(_table(cols, meta), n_err, mix)
