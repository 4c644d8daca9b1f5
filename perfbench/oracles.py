"""Correctness oracles. Each check returns a list of failure strings
(empty = pass); the runner counts every failed check as a failure.

The geometry oracles use their own brute-force kernels over the
generator's rings — never the program's cell index, cover or PIP code.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd


def points_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray casting, vectorised over points."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px, py = xs[:, None], ys[:, None]
    crosses = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    return ((crosses & (px < xi)).sum(axis=1) % 2) == 1


def dist_to_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    dx, dy = ring[1:, 0] - x0, ring[1:, 1] - y0
    px, py = xs[:, None], ys[:, None]
    l2 = np.where(dx * dx + dy * dy == 0, 1.0, dx * dx + dy * dy)
    t = np.clip(((px - x0) * dx + (py - y0) * dy) / l2, 0.0, 1.0)
    return np.sqrt(((px - x0 - t * dx) ** 2 + (py - y0 - t * dy) ** 2).min(axis=1))


def brute_force_admin(layer, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Admin code of the polygon holding each point (None = ocean),
    by testing every polygon whose bbox holds the point."""
    out = np.full(len(xs), None, dtype=object)
    b = layer.bounds
    for i, ring in enumerate(layer.rings):
        m = (xs >= b[i, 0]) & (xs <= b[i, 2]) & (ys >= b[i, 1]) & (ys <= b[i, 3])
        if m.any():
            idx = np.flatnonzero(m)
            hit = points_in_ring(xs[idx], ys[idx], ring)
            out[idx[hit]] = layer.admin_codes[i]
    return out


def brute_force_nearest(layer, xs: np.ndarray, ys: np.ndarray):
    """(admin code, distance) of the nearest polygon to each point."""
    d = np.stack([dist_to_ring(xs, ys, r) for r in layer.rings], axis=1)
    j = d.argmin(axis=1)
    return np.array(layer.admin_codes, dtype=object)[j], d[np.arange(len(xs)), j]


def check_tiles(
    tiles: pd.DataFrame,
    image_ids: np.ndarray,
    k: int,
) -> list[str]:
    """Every image appears exactly once at rank 0, or else exactly k
    times with ranks 1..k and non-decreasing distance; no other image
    appears."""
    errs = []
    want = set(image_ids.tolist())
    got = set(tiles["image_id"].unique().tolist())
    if got != want:
        errs.append(
            f"image set differs: {len(want - got)} missing, "
            f"{len(got - want)} unexpected"
        )
    t = tiles.sort_values(["image_id", "rank"], kind="stable")
    g = t.groupby("image_id", sort=False)
    n = g["rank"].transform("size").to_numpy()
    r0 = g["rank"].transform("min").to_numpy()
    rank = t["rank"].to_numpy()
    land = r0 == 0
    if (land & (n != 1)).any():
        errs.append(f"{int((land & (n != 1)).sum())} rank-0 rows duplicated")
    ocean = ~land
    if (ocean & (n != k)).any():
        errs.append(f"{int((ocean & (n != k)).sum())} ocean rows without k={k} ranks")
    pos = g.cumcount().to_numpy() + 1
    if (ocean & (rank != pos)).any():
        errs.append("ocean ranks are not 1..k")
    d = t["distance"].to_numpy()
    prev = np.r_[np.nan, d[:-1]]
    same = np.r_[False, t["image_id"].to_numpy()[1:] == t["image_id"].to_numpy()[:-1]]
    if (same & ocean & (d < prev - 1e-12)).any():
        errs.append("ocean distances decrease with rank")
    if (land & (d != 0.0)).any():
        errs.append("rank-0 rows with non-zero distance")
    return errs


def check_tile_sample(
    tiles: pd.DataFrame,
    layer,
    images: pd.DataFrame,
    sample_ids: np.ndarray,
) -> list[str]:
    """Admin codes of a fixed image sample against brute-force PIP over
    all polygons; ocean images' rank-1 hit against the brute-force
    nearest polygon."""
    errs = []
    s = images.set_index("image_id").loc[sample_ids]
    xs, ys = s["lon"].to_numpy(), s["lat"].to_numpy()
    want = brute_force_admin(layer, xs, ys)
    t = tiles[tiles["image_id"].isin(set(sample_ids.tolist()))]
    land = t[t["rank"] == 0].set_index("image_id")["admin_code"]
    first = t[t["rank"] == 1].set_index("image_id")
    bad = 0
    ocean_ix = []
    for n, (iid, w) in enumerate(zip(sample_ids, want)):
        if w is None:
            ocean_ix.append(n)
            if iid not in first.index:
                bad += 1
        elif land.get(iid) != w:
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(sample_ids)} sampled images assigned wrongly")
    if ocean_ix:
        ix = np.array(ocean_ix)
        code, dist = brute_force_nearest(layer, xs[ix], ys[ix])
        got = first.reindex(sample_ids[ix])
        off = np.abs(got["distance"].to_numpy(dtype=float) - dist) > 1e-9
        if off.any() or (got["admin_code"].to_numpy() != code).any():
            errs.append(f"{int(off.sum())} sampled ocean images with wrong nearest")
    return errs


def check_geoparquet(
    table,
    n_errors: int,
    mix,
) -> list[str]:
    """``table`` is the pyarrow table read back from the output files
    (with the file's schema metadata)."""
    errs = []
    if n_errors != mix.error_rows:
        errs.append(f"error rows {n_errors} != injected {mix.error_rows}")
    if table.num_rows != mix.features:
        errs.append(f"features {table.num_rows} != injected {mix.features}")
    meta = (table.schema.metadata or {}).get(b"geo")
    if meta is None:
        errs.append("no geo metadata in the parquet footer")
    else:
        geo = json.loads(meta)
        col = geo.get("columns", {}).get(geo.get("primary_column", ""), {})
        if geo.get("primary_column") != "geometry" or col.get("encoding") != "WKB":
            errs.append("geo metadata does not describe a WKB geometry column")
    pdf = table.select(
        ["shp_name", "feature_idx", "ksj_id", "crs", "attrs",
         "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"]
    ).to_pandas()
    stems = pdf["shp_name"].str.slice(0, -4)
    counts = stems.value_counts().to_dict()
    for stem, (ksj_id, crs, n) in mix.members.items():
        if counts.get(stem, 0) != n:
            errs.append(f"{stem}: {counts.get(stem, 0)} features != {n}")
    for stem, (ksj_id, crs, _) in mix.members.items():
        m = stems == stem
        if m.any() and not (
            (pdf.loc[m, "ksj_id"] == ksj_id).all() and (pdf.loc[m, "crs"] == crs).all()
        ):
            errs.append(f"{stem}: wrong ksj_id or crs")
    key = list(zip(stems, pdf["feature_idx"]))
    exp = np.array([mix.bounds.get(k, (np.nan,) * 4) for k in key], dtype=float)
    got = pdf[["bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"]].to_numpy()
    nbad = int((~np.isclose(got, exp, rtol=0, atol=1e-12)).any(axis=1).sum())
    if nbad:
        errs.append(f"{nbad} rows with bbox columns not matching geometry")
    at = dict(zip(key, pdf["attrs"]))
    for k, labels in mix.labels.items():
        attrs = dict(at.get(k) or [])
        for name, val in labels.items():
            if attrs.get(name) != val:
                errs.append(f"{k}: {name}={attrs.get(name)!r}, want {val!r}")
    return errs


def check_ledger(history: list[dict], image_files: set[str]) -> list[str]:
    """No source file tiled twice, and every image file tiled."""
    seen: dict[str, int] = {}
    for s in history:
        for f in s.get("summary", {}).get("pipeline_files", []):
            seen[f] = seen.get(f, 0) + 1
    errs = []
    twice = [f for f, c in seen.items() if c > 1]
    if twice:
        errs.append(f"{len(twice)} source files tiled more than once")
    missing = image_files - set(seen)
    if missing:
        errs.append(f"{len(missing)} source files never tiled")
    return errs
