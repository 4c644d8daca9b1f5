"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical ZIP archives and identical image tables. The program
under test only ever sees the generated files and DataFrames.

* ``admin_layer`` — an N03-like municipality layer: a jittered grid of
  quadrilaterals whose edges are jagged polylines SHARED between the
  two neighbours (so boundaries tile the plane without gaps), ~400
  vertices per ring, grouped into prefectures.
* ``write_admin_zips`` — that layer as one N03 shapefile ZIP per
  prefecture (cp932 dbf, KS-META CRS), the way the KSJ site ships it.
* ``image_points`` — skewed image anchors: hot urban clusters, a
  uniform rural share and ~3% ocean points just off the coast.
* ``write_ksj_mix`` — the ksj-convert input mix: N03 polygon bundles,
  a P04 point layer with a codelist-coded column, a Tokyo-datum
  ``.prj`` bundle, a multi-member archive and injected corrupt
  archives/members, with the exact counts the oracle expects.
"""

from __future__ import annotations

import io
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np

from ksj2gp_spark.formats import dbf as dbf_mod
from ksj2gp_spark.formats import shp as shp_mod
from ksj2gp_spark.geo import wkb

PREF_NAMES = [
    "北海道", "青森県", "岩手県", "宮城県", "秋田県", "山形県", "福島県",
    "茨城県", "栃木県", "群馬県", "埼玉県", "千葉県", "東京都", "神奈川県",
    "新潟県", "富山県", "石川県", "福井県", "山梨県", "長野県", "岐阜県",
    "静岡県", "愛知県", "三重県", "滋賀県", "京都府", "大阪府", "兵庫県",
    "奈良県", "和歌山県", "鳥取県", "島根県", "岡山県", "広島県", "山口県",
    "徳島県", "香川県", "愛媛県", "高知県", "福岡県", "佐賀県", "長崎県",
    "熊本県", "大分県", "宮崎県", "鹿児島県", "沖縄県",
]

# The P04 medical-facility class codelist (KSJ MED_CLASS_CD), spelled
# out here so the oracle does not read the program's own tables.
MED_CLASS = {1: "病院", 2: "診療所", 3: "歯科診療所"}

JGD2011_PRJ = (
    'GEOGCS["GCS_JGD_2011",DATUM["D_JGD_2011",SPHEROID["GRS_1980",'
    '6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],'
    'UNIT["Degree",0.0174532925199433]]'
)
TOKYO_PRJ = (
    'GEOGCS["GCS_Tokyo",DATUM["D_Tokyo",SPHEROID["Bessel_1841",'
    '6377397.155,299.1528128]],PRIMEM["Greenwich",0.0],'
    'UNIT["Degree",0.0174532925199433]]'
)
KS_META_JGD2011 = (
    '<?xml version="1.0" encoding="Shift_JIS"?>\n<MD_Metadata>'
    "<referenceSystemInfo><MD_ReferenceSystem><referenceSystemIdentifier>"
    "<code>JGD2011 / (B, L)</code></referenceSystemIdentifier>"
    "</MD_ReferenceSystem></referenceSystemInfo></MD_Metadata>\n"
)

N03_FIELDS = [
    dbf_mod.DbfField("N03_001", "C", 10, 0),
    dbf_mod.DbfField("N03_002", "C", 20, 0),
    dbf_mod.DbfField("N03_003", "C", 20, 0),
    dbf_mod.DbfField("N03_004", "C", 30, 0),
    dbf_mod.DbfField("N03_007", "C", 5, 0),
]
P04_FIELDS = [
    dbf_mod.DbfField("P04_001", "N", 1, 0),
    dbf_mod.DbfField("P04_002", "C", 40, 0),
    dbf_mod.DbfField("P04_003", "C", 40, 0),
]


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a stream never
    shifts the numbers another stream draws."""
    return np.random.default_rng([int(seed), int(stream)])


# ---------------------------------------------------------------------
# N03-like admin layer
# ---------------------------------------------------------------------


@dataclass
class AdminLayer:
    """Municipality polygons as exterior rings (closed, lon/lat)."""

    box: tuple[float, float, float, float]
    nx: int
    ny: int
    rings: list[np.ndarray]
    admin_codes: list[str]
    pref_codes: list[str]
    city_names: list[str]
    # per ring: (minx, miny, maxx, maxy)
    bounds: np.ndarray = field(default=None)

    def __post_init__(self):
        if self.bounds is None:
            self.bounds = np.array(
                [
                    (r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max())
                    for r in self.rings
                ]
            )

    def pref_indices(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {}
        for i, p in enumerate(self.pref_codes):
            out.setdefault(p, []).append(i)
        return out


def _jagged_edge(a, b, n, amp, rng) -> np.ndarray:
    """``n`` + 1 points from ``a`` to ``b`` (both included), displaced
    perpendicular to the chord by a pinned, jagged profile. The profile
    is a graph over the chord, so an edge never crosses itself, and the
    sin envelope keeps it inside a narrow cone at each end, so edges
    meeting at a node never cross each other."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    t = np.linspace(0.0, 1.0, n + 1)
    f1, f2 = rng.integers(1, 4), rng.integers(4, 12)
    p1, p2 = rng.uniform(0, 2 * np.pi, 2)
    profile = (
        0.55 * np.sin(2 * np.pi * f1 * t + p1)
        + 0.30 * np.sin(2 * np.pi * f2 * t + p2)
        + 0.15 * rng.uniform(-1.0, 1.0, n + 1)
    )
    d = amp * np.sin(np.pi * t) * profile
    chord = b - a
    normal = np.array([-chord[1], chord[0]]) / np.hypot(*chord)
    pts = a[None, :] + t[:, None] * chord[None, :] + d[:, None] * normal
    pts[0], pts[-1] = a, b
    return pts


def admin_layer(
    seed: int,
    nx: int = 45,
    ny: int = 44,
    verts_per_edge: int = 100,
    box: tuple[float, float, float, float] = (135.0, 33.0, 141.0, 38.9),
    pref_block: int = 9,
) -> AdminLayer:
    """Jittered-grid municipality layer, ``nx * ny`` polygons of
    ``4 * verts_per_edge`` ring vertices. Interior grid nodes jitter in
    both axes; nodes on the coast only slide along it, so the land
    stays inside ``box`` widened by the jag amplitude."""
    rng = _rng(seed, 1)
    x0, y0, x1, y1 = box
    cw, ch = (x1 - x0) / nx, (y1 - y0) / ny
    gx = x0 + cw * np.arange(nx + 1)[:, None] + np.zeros((1, ny + 1))
    gy = y0 + ch * np.arange(ny + 1)[None, :] + np.zeros((nx + 1, 1))
    jx = rng.uniform(-0.2, 0.2, gx.shape) * cw
    jy = rng.uniform(-0.2, 0.2, gy.shape) * ch
    jx[0, :] = jx[-1, :] = 0.0
    jy[:, 0] = jy[:, -1] = 0.0
    gx, gy = gx + jx, gy + jy
    amp = 0.12 * min(cw, ch)
    # h[i][j]: node (i, j) -> (i+1, j); v[i][j]: node (i, j) -> (i, j+1)
    h = [
        [
            _jagged_edge((gx[i, j], gy[i, j]), (gx[i + 1, j], gy[i + 1, j]),
                         verts_per_edge, amp, rng)
            for j in range(ny + 1)
        ]
        for i in range(nx)
    ]
    v = [
        [
            _jagged_edge((gx[i, j], gy[i, j]), (gx[i, j + 1], gy[i, j + 1]),
                         verts_per_edge, amp, rng)
            for j in range(ny)
        ]
        for i in range(nx + 1)
    ]
    rings, codes, prefs, names = [], [], [], []
    n_pref_x = -(-nx // pref_block)
    per_pref: dict[int, int] = {}
    for j in range(ny):
        for i in range(nx):
            # counter-clockwise: bottom, right, top reversed, left reversed
            ring = np.concatenate(
                [
                    h[i][j][:-1],
                    v[i + 1][j][:-1],
                    h[i][j + 1][::-1][:-1],
                    v[i][j][::-1],
                ]
            )
            pref = (j // pref_block) * n_pref_x + (i // pref_block) + 1
            k = per_pref.get(pref, 0)
            per_pref[pref] = k + 1
            pcode = f"{pref:02d}"
            rings.append(ring)
            prefs.append(pcode)
            codes.append(f"{pcode}{101 + k:03d}")
            names.append(f"{PREF_NAMES[(pref - 1) % 47]}第{k + 1}市")
    return AdminLayer(box, nx, ny, rings, codes, prefs, names)


def _ring_geometry(ring: np.ndarray) -> wkb.Geometry:
    # shapefile exterior rings run clockwise
    return wkb.Geometry(wkb.POLYGON, [np.ascontiguousarray(ring[::-1])])


def _shp_members(stem: str, geoms, fields, rows, prj: str | None) -> dict:
    shp, shx = shp_mod.write_shp(geoms)
    out = {
        f"{stem}.shp": shp,
        f"{stem}.shx": shx,
        f"{stem}.dbf": dbf_mod.write_dbf(fields, rows, encoding="cp932"),
    }
    if prj is not None:
        out[f"{stem}.prj"] = prj.encode("ascii")
    return out


def _write_zip(path: str, members: dict[str, bytes]) -> None:
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            # fixed timestamp: identical seeds give identical bytes
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    with open(path, "wb") as f:
        f.write(bio.getvalue())


def _n03_rows(layer: AdminLayer, idx: list[int]) -> list[list[object]]:
    return [
        [
            PREF_NAMES[(int(layer.pref_codes[i]) - 1) % 47],
            None,
            None,
            layer.city_names[i],
            layer.admin_codes[i],
        ]
        for i in idx
    ]


def n03_members(layer: AdminLayer, idx: list[int], stem: str) -> dict:
    """Shapefile members for the municipalities ``idx`` (no CRS file;
    the archive's KS-META document carries it)."""
    geoms = [_ring_geometry(layer.rings[i]) for i in idx]
    return _shp_members(stem, geoms, N03_FIELDS, _n03_rows(layer, idx), None)


def write_admin_zips(layer: AdminLayer, out_dir: str) -> list[str]:
    """One N03 ZIP per prefecture, CRS from a KS-META document."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for pcode, idx in sorted(layer.pref_indices().items()):
        stem = f"N03-20240101_{pcode}"
        members = n03_members(layer, idx, stem)
        members[f"KS-META-N03-24_{pcode}_240101.xml"] = KS_META_JGD2011.encode(
            "cp932"
        )
        path = os.path.join(out_dir, f"{stem}.zip")
        _write_zip(path, members)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------
# Image anchors
# ---------------------------------------------------------------------


def image_points(
    seed: int,
    n: int,
    box: tuple[float, float, float, float],
    ocean_share: float = 0.03,
    urban_share: float = 0.62,
    n_hot: int = 14,
    stream: int = 2,
) -> tuple[np.ndarray, np.ndarray]:
    """Skewed image anchors. Urban points are Gaussian clusters around
    ``n_hot`` centres (clipped to land), rural points are uniform over
    the land box, and ocean points lie 0.04-0.1° off the east or south
    coast — beyond the jag amplitude, so they match no polygon and take
    the kNN lane."""
    rng = _rng(seed, stream)
    x0, y0, x1, y1 = box
    n_ocean = int(round(n * ocean_share))
    n_urban = int(round(n * urban_share))
    n_rural = n - n_ocean - n_urban
    cx = rng.uniform(x0 + 0.3, x1 - 0.3, n_hot)
    cy = rng.uniform(y0 + 0.3, y1 - 0.3, n_hot)
    weight = rng.pareto(1.2, n_hot) + 0.2
    which = rng.choice(n_hot, n_urban, p=weight / weight.sum())
    sigma = rng.uniform(0.03, 0.12, n_hot)[which]
    ux = np.clip(cx[which] + rng.normal(0, 1, n_urban) * sigma, x0 + 0.02, x1 - 0.02)
    uy = np.clip(cy[which] + rng.normal(0, 1, n_urban) * sigma, y0 + 0.02, y1 - 0.02)
    rx = rng.uniform(x0 + 0.02, x1 - 0.02, n_rural)
    ry = rng.uniform(y0 + 0.02, y1 - 0.02, n_rural)
    off = rng.uniform(0.04, 0.1, n_ocean)
    east = rng.random(n_ocean) < 0.6
    ox = np.where(east, x1 + off, rng.uniform(x0, x1, n_ocean))
    oy = np.where(east, rng.uniform(y0, y1, n_ocean), y0 - off)
    lon = np.concatenate([ux, rx, ox])
    lat = np.concatenate([uy, ry, oy])
    perm = rng.permutation(n)
    return lon[perm], lat[perm]


def offshore_points(
    seed: int, n: int, box, dist: float
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` points ``dist`` degrees east of the coast (kNN probes)."""
    rng = _rng(seed, 3 + int(dist * 1000))
    lat = rng.uniform(box[1] + 0.2, box[3] - 0.2, n)
    return np.full(n, box[2] + dist), lat


def images_pdf(lon: np.ndarray, lat: np.ndarray, start: int = 0):
    """Image table rows for anchors: stable ids from ``start``."""
    import pandas as pd

    ids = np.arange(start, start + len(lon))
    return pd.DataFrame(
        {
            "image_id": [f"img{i:09d}" for i in ids],
            "lon": lon,
            "lat": lat,
        }
    )


# ---------------------------------------------------------------------
# ksj-convert input mix
# ---------------------------------------------------------------------


@dataclass
class KsjMix:
    """What was injected, for the oracle."""

    zip_dir: str
    features: int = 0
    error_rows: int = 0
    # shp stem -> expected (ksj_id, crs, feature count)
    members: dict = field(default_factory=dict)
    # (stem, feature_idx) -> expected bounds, for a bbox spot check
    bounds: dict = field(default_factory=dict)
    # (stem, feature_idx) -> expected translated labels
    labels: dict = field(default_factory=dict)


def write_ksj_mix(
    seed: int, out_dir: str, n_points: int = 24_000, n_point_zips: int = 4
) -> KsjMix:
    """Write the ksj-convert archives into ``out_dir``:

    * 4 N03 prefecture bundles (~81 municipalities each, ~400-vertex
      jagged rings, cp932 dbf, CRS from KS-META);
    * ``n_point_zips`` P04 medical-facility point bundles
      (``P04_001`` is codelist-coded: 1/2/3 → 病院/診療所/歯科診療所),
      CRS from a JGD2011 ``.prj``;
    * one old N03 bundle in the Tokyo datum (``.prj`` GCS_Tokyo);
    * one multi-member archive holding three prefecture layers, one of
      which has a corrupt ``.shp`` (one member error row);
    * one archive that is not a ZIP and one ZIP without any ``.shp``
      member (one archive error row each).
    """
    os.makedirs(out_dir, exist_ok=True)
    mix = KsjMix(out_dir)
    layer = admin_layer(seed, nx=18, ny=18, box=(138.0, 34.5, 140.4, 36.9))
    prefs = sorted(layer.pref_indices().items())

    def note(stem, ksj_id, crs, geoms_bounds, labels=None):
        mix.members[stem] = (ksj_id, crs, len(geoms_bounds))
        mix.features += len(geoms_bounds)
        for k, b in enumerate(geoms_bounds):
            mix.bounds[(stem, k)] = b
        for k, lab in (labels or {}).items():
            mix.labels[(stem, k)] = lab

    # N03 prefecture bundles (first prefecture is held back for the
    # multi-member archive)
    for pcode, idx in prefs[:1] + prefs[3:]:
        stem = f"N03-20240101_{pcode}"
        members = n03_members(layer, idx, stem)
        members[f"KS-META-N03-24_{pcode}_240101.xml"] = KS_META_JGD2011.encode(
            "cp932"
        )
        _write_zip(os.path.join(out_dir, f"{stem}.zip"), members)
        note(
            stem, "N03", "JGD2011", [tuple(layer.bounds[i]) for i in idx],
            {0: {"行政区域コード": layer.admin_codes[idx[0]],
                 "市区町村名": layer.city_names[idx[0]]}},
        )

    # multi-member archive: prefectures 2 and 3 healthy, one corrupt
    members: dict[str, bytes] = {}
    for pcode, idx in prefs[1:3]:
        stem = f"N03-20240101_{pcode}"
        members.update(n03_members(layer, idx, stem))
        note(stem, "N03", "JGD2011", [tuple(layer.bounds[i]) for i in idx])
    bad_stem = "N03-20240101_99"
    bad = n03_members(layer, prefs[1][1][:5], bad_stem)
    bad[f"{bad_stem}.shp"] = b"\x00" * 100 + bad[f"{bad_stem}.shp"][100:]
    members.update(bad)
    members["KS-META-N03-24_multi_240101.xml"] = KS_META_JGD2011.encode("cp932")
    _write_zip(os.path.join(out_dir, "N03-20240101_multi.zip"), members)
    mix.error_rows += 1

    # Tokyo-datum bundle (an old N03 vintage, CRS from .prj)
    rng = _rng(seed, 4)
    tokyo_idx = list(range(0, len(layer.rings), 7))[:40]
    stem = "N03-001001_13"
    shift = np.array([-0.0032, 0.0029]) + rng.normal(0, 1e-5, 2)
    geoms, tb = [], []
    for i in tokyo_idx:
        ring = layer.rings[i] + shift
        geoms.append(_ring_geometry(ring))
        tb.append((ring[:, 0].min(), ring[:, 1].min(),
                   ring[:, 0].max(), ring[:, 1].max()))
    members = _shp_members(
        stem, geoms, N03_FIELDS, _n03_rows(layer, tokyo_idx), TOKYO_PRJ
    )
    _write_zip(os.path.join(out_dir, f"{stem}.zip"), members)
    note(stem, "N03", "Tokyo", tb)

    # P04 point bundles
    per_zip = n_points // n_point_zips
    for z in range(n_point_zips):
        stem = f"P04-20_{z + 20:02d}"
        lon, lat = image_points(
            seed, per_zip, layer.box, ocean_share=0.0, stream=10 + z
        )
        cls = rng.integers(1, 4, per_zip)
        geoms = [
            wkb.Geometry(wkb.POINT, np.array([x, y])) for x, y in zip(lon, lat)
        ]
        rows = [
            [int(c), f"医療施設{z}-{k}", f"所在地{k % 97}"]
            for k, c in enumerate(cls)
        ]
        members = _shp_members(stem, geoms, P04_FIELDS, rows, JGD2011_PRJ)
        _write_zip(os.path.join(out_dir, f"{stem}.zip"), members)
        note(
            stem, "P04", "JGD2011", [(x, y, x, y) for x, y in zip(lon, lat)],
            {k: {"医療機関分類": MED_CLASS[int(cls[k])]} for k in (0, 1, 2)},
        )

    # corrupt archives
    with open(os.path.join(out_dir, "N03-20240101_98.zip"), "wb") as f:
        f.write(b"PK\x03\x04 truncated archive " + rng.bytes(64))
    mix.error_rows += 1
    _write_zip(
        os.path.join(out_dir, "P04-20_97.zip"),
        {"readme.txt": "no shapefile in this archive".encode()},
    )
    mix.error_rows += 1
    return mix
