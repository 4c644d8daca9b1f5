"""Property-based tests (hypothesis) for the geometry kernels — the
invariants the distributed join relies on, under arbitrary inputs."""

import numpy as np
from hypothesis import given, settings, strategies as st

from ksj2gp_spark.geo import geom, grid, hexgrid, s2, transform, wkb

lon_st = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
lat_st = st.floats(min_value=-89.9, max_value=89.9, allow_nan=False)
jp_lon = st.floats(min_value=122.0, max_value=154.0, allow_nan=False)
jp_lat = st.floats(min_value=20.0, max_value=46.0, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(lon=lon_st, lat=lat_st, res=st.integers(min_value=4, max_value=12))
def test_hex_point_in_own_cell(lon, lat, res):
    c = hexgrid.latlng_to_cell(np.array([lon]), np.array([lat]), res)
    cx, cy = hexgrid.cell_to_latlng(c)
    # the cell's center is within one circumradius of the point
    assert np.hypot(lon - cx[0], lat - cy[0]) <= hexgrid.edge_length(res) + 1e-9
    # center maps back to the same cell
    assert hexgrid.latlng_to_cell(cx, cy, res)[0] == c[0]


@settings(max_examples=200, deadline=None)
@given(lon=lon_st, lat=lat_st,
       lvl=st.integers(min_value=1, max_value=28),
       dlvl=st.integers(min_value=1, max_value=4))
def test_s2_parent_prefix(lon, lat, lvl, dlvl):
    parent_lvl = max(0, lvl - dlvl)
    c = s2.latlng_to_cell(np.array([lon]), np.array([lat]), lvl)
    p = s2.latlng_to_cell(np.array([lon]), np.array([lat]), parent_lvl)
    assert s2.parent(c, parent_lvl)[0] == p[0]
    assert int(s2.level_of(c)[0]) == lvl


@settings(max_examples=200, deadline=None)
@given(lon=lon_st, lat=lat_st, res=st.integers(min_value=1, max_value=20))
def test_grid_parent_contains(lon, lat, res):
    parent_res = max(0, res - 3)
    c = grid.latlng_to_cell(np.array([lon]), np.array([lat]), res)
    p = grid.latlng_to_cell(np.array([lon]), np.array([lat]), parent_res)
    assert grid.cell_to_parent(c, parent_res)[0] == p[0]


@settings(max_examples=100, deadline=None)
@given(lon=jp_lon, lat=jp_lat)
def test_helmert_roundtrip(lon, lat):
    # 2D round-trip drops the intermediate ellipsoidal height (the
    # datum offset puts the surface ~20m off the other ellipsoid), which
    # costs up to ~2mm horizontally — identical to proj's 2D pipeline.
    tl, tb, _ = transform.wgs84_to_tokyo(np.array([lon]), np.array([lat]))
    bl, bb, _ = transform.tokyo_to_wgs84(tl, tb)
    assert abs(bl[0] - lon) < 5e-7 and abs(bb[0] - lat) < 5e-7
    # threading h through is exact
    tl, tb, th = transform.wgs84_to_tokyo(np.array([lon]), np.array([lat]))
    bl, bb, _ = transform.tokyo_to_wgs84(tl, tb, th)
    assert abs(bl[0] - lon) < 1e-12 and abs(bb[0] - lat) < 1e-12


@settings(max_examples=100, deadline=None)
@given(
    coords=st.lists(
        st.tuples(
            st.floats(min_value=-100, max_value=100, allow_nan=False),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=3,
        max_size=12,
        unique=True,
    )
)
def test_wkb_roundtrip_polygon(coords):
    buf = wkb.polygon(coords)
    g = wkb.loads(buf)
    assert g.kind == wkb.POLYGON
    assert wkb.loads(wkb.dumps(g)).bounds() == g.bounds()


@settings(max_examples=100, deadline=None)
@given(
    px=st.floats(min_value=-3, max_value=7, allow_nan=False),
    py=st.floats(min_value=-3, max_value=7, allow_nan=False),
)
def test_pip_distance_consistency(px, py):
    """covers(p) ⇔ distance(p)==0 for a fixed concave polygon."""
    ring = np.array(
        [(0, 0), (4, 0), (4, 1), (1, 1), (1, 4), (0, 4), (0, 0)], dtype=float
    )
    g = wkb.Geometry(wkb.POLYGON, [ring])
    inside = bool(geom.polygon_contains(np.array([px]), np.array([py]), [ring])[0])
    d = float(geom.distance_to_geometry(np.array([px]), np.array([py]), g)[0])
    if inside:
        assert d == 0.0
    else:
        assert d > 0.0


SCHEME_RES = (("hex", 6, hexgrid), ("s2", 10, s2), ("grid", 8, grid))


def _reference_cover(g, scheme, res):
    """The per-polygon sampling-and-distance cover the layer kernel
    replaced, kept as the oracle: sample the bbox lattice, keep samples
    within the scheme's distance threshold of the polygon (0 inside),
    cover their cells."""
    minx, miny, maxx, maxy = g.bounds()
    if scheme == "grid":
        size = grid.cell_size(res)
        cells = grid.cover_bbox(minx, miny, maxx, maxy, res)
        if len(cells) > 4:
            cx, cy = grid.cell_center(cells)
            d = geom.distance_to_geometry(cx, cy, g)
            cells = cells[d <= size * np.sqrt(2.0) / 2.0 + 1e-12]
        return set(cells.tolist())
    if scheme == "hex":
        pad = hexgrid.edge_length(res)
        step, thresh = pad * np.sqrt(3.0) / 2.0, 2.0 * pad + 1e-12
        fn = hexgrid.latlng_to_cell
    else:
        pad = s2.approx_edge_deg(res)
        step, thresh = pad / 2.0, 2.0 * pad * np.sqrt(2.0)
        fn = s2.latlng_to_cell
    xs = np.arange(minx - pad, maxx + pad + step, step)
    ys = np.arange(miny - pad, maxy + pad + step, step)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    keep = geom.distance_to_geometry(gx, gy, g) <= thresh
    return set(fn(gx[keep], gy[keep], res).tolist())


def _jagged_ring(rng, cx, cy, r_lo, r_hi, n):
    """A closed star-shaped ring with random radii: non-convex, simple."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
    rad = rng.uniform(r_lo, r_hi, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _shape(kind, rng, cx, cy, r, n):
    """A jagged polygon, the same with a jagged hole, or a MultiPolygon
    of two jagged parts."""
    outer = _jagged_ring(rng, cx, cy, 0.3 * r, r, n)
    if kind == "jagged":
        return wkb.Geometry(wkb.POLYGON, [outer])
    if kind == "hole":
        hole = _jagged_ring(rng, cx, cy, 0.1 * r, 0.25 * r, n)[::-1]
        return wkb.Geometry(wkb.POLYGON, [outer, hole])
    other = _jagged_ring(rng, cx + 3 * r, cy + r, 0.3 * r, r, n)
    return wkb.Geometry(wkb.MULTIPOLYGON, [[outer], [other]])


@settings(max_examples=50, deadline=None)
@given(
    x0=st.floats(min_value=130, max_value=140, allow_nan=False),
    y0=st.floats(min_value=30, max_value=40, allow_nan=False),
    w=st.floats(min_value=0.01, max_value=1.0, allow_nan=False),
    h=st.floats(min_value=0.01, max_value=1.0, allow_nan=False),
    seed=st.integers(min_value=0, max_value=10_000),
    kind=st.sampled_from(["rect", "jagged", "hole", "multi"]),
    n=st.integers(min_value=5, max_value=40),
)
def test_covers_are_supersets(x0, y0, w, h, seed, kind, n):
    """Any point inside a random rectangle, jagged non-convex ring,
    ring with a hole or MultiPolygon maps to a cell in its cover — the
    invariant the candidate join depends on — and the cover contains
    the reference sampling-and-distance cover."""
    rng = np.random.default_rng(seed)
    if kind == "rect":
        g = wkb.loads(wkb.polygon(
            [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]))
    else:
        g = _shape(kind, rng, x0, y0, w / 2, n)
    minx, miny, maxx, maxy = g.bounds()
    px = rng.uniform(minx, maxx, 400)
    py = rng.uniform(miny, maxy, 400)
    inside = geom.geometry_contains(px, py, g)
    for scheme, res, mod in SCHEME_RES:
        cover = set(mod.cover_geometry(g, res).tolist())
        cells = mod.latlng_to_cell(px[inside], py[inside], res)
        assert set(cells.tolist()) <= cover, (scheme, kind)
        assert _reference_cover(g, scheme, res) <= cover, (scheme, kind)


def test_layer_cover_contains_reference_cover():
    """The layer-wide ``polygon_cover_pdf`` contains, polygon by
    polygon, the per-polygon reference cover on a seeded 100-polygon
    jagged layer (holes and MultiPolygons included), and stays within
    a few cells of it."""
    import pandas as pd

    from ksj2gp_spark.operators import cells

    rng = np.random.default_rng(2026)
    kinds = ["jagged", "hole", "multi"]
    geoms = [
        _shape(kinds[i % 3], rng, rng.uniform(135, 140), rng.uniform(34, 37),
               rng.uniform(0.02, 0.15), int(rng.integers(8, 200)))
        for i in range(100)
    ]
    layer = pd.DataFrame({
        "polygon_id": [f"p{i:03d}" for i in range(100)],
        "geometry": [wkb.dumps(g) for g in geoms],
    })
    for scheme, res in (("hex", 7), ("s2", 12), ("grid", 11)):
        cover = cells.polygon_cover_pdf(layer, scheme, res)
        got = cover.groupby("polygon_id")["cell"].agg(set)
        ref_rows = 0
        for pid, g in zip(layer["polygon_id"], geoms):
            ref = _reference_cover(g, scheme, res)
            ref_rows += len(ref)
            assert ref <= got[pid], (scheme, pid)
        assert len(cover) <= 1.5 * ref_rows, scheme


@given(
    st.sets(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=60, deadline=None)
def test_polygonize_signed_areas_equal_cell_count(cells_set):
    """Any cell set: traced rings' signed areas sum to the cell count,
    and every ring is simple (no repeated vertex except closure)."""
    import numpy as np

    from ksj2gp_spark.operators import raster

    ii = np.array([c[0] for c in cells_set])
    jj = np.array([c[1] for c in cells_set])
    rings = raster.trace_rings(*raster.boundary_edges(ii, jj))
    total = sum(raster._shoelace(r) for r in rings)
    assert total == len(cells_set)
    for r in rings:
        body = [tuple(v) for v in r[:-1]]
        assert len(set(body)) == len(body)


# --- cross-engine hash parity (the dedup oracle's foundation) ---

# Surrogates (category Cs) are excluded: Spark strings arrive via
# Arrow from valid UTF-8, where lone surrogates cannot occur. NUL is
# excluded because it is the internal batch separator.
_SHINGLE_TEXT = st.text(
    alphabet=st.characters(
        blacklist_characters="\x00",
        blacklist_categories=("Cs",),
        max_codepoint=0x2FFFF,
    ),
    max_size=30,
)


@given(
    st.lists(st.one_of(_SHINGLE_TEXT, st.none()), min_size=0, max_size=20),
    st.sampled_from([2, 3, 5]),
)
@settings(max_examples=80, deadline=None)
def test_batch_shingle_hashes_match_per_doc_path(texts, n_shingle):
    """The index-arithmetic batch shingler (no per-shingle strings)
    must be bit-identical to the straightforward _shingles +
    _poly_hashes composition for ANY input — that identity is what the
    golden signatures and DuckDB minhash oracles rest on."""
    import pandas as pd

    from ksj2gp_spark.operators.dedup import (
        _batch_shingle_hashes,
        _poly_hashes,
        _shingles,
    )

    per_doc = [_shingles(t or "", n_shingle) for t in texts]
    offsets = np.cumsum([0] + [len(s) for s in per_doc])[:-1]
    r1, r2 = _poly_hashes([s for doc in per_doc for s in doc])
    g1, g2, go = _batch_shingle_hashes(
        pd.Series(texts, dtype=object), n_shingle
    )
    assert np.array_equal(go, np.asarray(offsets))
    assert np.array_equal(g1, r1)
    assert np.array_equal(g2, r2)


@given(st.lists(_SHINGLE_TEXT, min_size=1, max_size=15))
@settings(max_examples=60, deadline=None)
def test_poly_hash_matches_duckdb(shingles):
    """The vectorized numpy polynomial hash (operators/dedup.py) must
    equal DuckDB's list_reduce-over-codepoints expression for ANY
    unicode input — this identity is what makes the minhash/simhash
    contract queries oracle-checkable."""
    import duckdb

    import __spark_entry__ as entry

    from ksj2gp_spark.operators.dedup import _poly_hashes

    h1, h2 = _poly_hashes(shingles)
    con = duckdb.connect()
    e1 = entry._poly_hash_sql("s", 131)
    e2 = entry._poly_hash_sql("s", 137)
    for s, a, b in zip(shingles, h1, h2):
        got1, got2 = con.execute(
            f"SELECT {e1}, {e2} FROM (SELECT ? AS s)", [s]
        ).fetchone()
        assert got1 == int(a), (s, got1, int(a))
        assert got2 == int(b), (s, got2, int(b))


# --- parser robustness: corrupt bytes → typed errors, never crashes ---

@given(st.binary(max_size=400))
@settings(max_examples=80, deadline=None)
def test_zip_parse_never_crashes(data):
    """parse_zip_bytes must quarantine ANY input in the error lane."""
    from ksj2gp_spark.operators.ingest import parse_zip_bytes

    pdf = parse_zip_bytes("N03-20240101_13_GML.zip", data)
    assert len(pdf) >= 1
    assert pdf.iloc[0]["error"] is not None


@given(st.binary(max_size=400))
@settings(max_examples=80, deadline=None)
def test_dbf_reader_raises_typed_error_only(data):
    from ksj2gp_spark.formats import dbf as dbf_mod

    try:
        dbf_mod.read_dbf(data)
    except dbf_mod.DbfError:
        pass  # typed rejection is the contract


@given(st.binary(max_size=400))
@settings(max_examples=80, deadline=None)
def test_shp_reader_raises_typed_error_only(data):
    from ksj2gp_spark.formats import shp as shp_mod

    try:
        shp_mod.read_shp(data)
    except shp_mod.ShpError:
        pass


def _valid_dbf() -> bytes:
    from ksj2gp_spark.formats import dbf as dbf_mod

    fields = [
        dbf_mod.DbfField("NAME", "C", 8),
        dbf_mod.DbfField("NUM", "N", 6, 2),
        dbf_mod.DbfField("FLAG", "L", 1),
    ]
    rows = [["abc", 1.25, True], ["def", -3.5, False], [None, None, None]]
    return dbf_mod.write_dbf(fields, rows)


@given(st.integers(0, 10**9), st.integers(1, 16))
@settings(max_examples=120, deadline=None)
def test_dbf_mutated_bytes_no_foreign_exceptions(seed, n_flips):
    """Bit-flipped valid files exercise the DEEP decode paths: outcome
    must be a successful parse or a typed DbfError — never a raw
    struct.error / IndexError / UnicodeDecodeError escape."""
    from ksj2gp_spark.formats import dbf as dbf_mod

    buf = bytearray(_valid_dbf())
    rng = np.random.default_rng(seed)
    for pos in rng.integers(0, len(buf), n_flips):
        buf[pos] ^= int(rng.integers(1, 256))
    try:
        dbf_mod.read_dbf(bytes(buf))
    except dbf_mod.DbfError:
        pass


@given(st.integers(0, 10**9), st.integers(1, 16), st.booleans())
@settings(max_examples=120, deadline=None)
def test_shp_mutated_bytes_no_foreign_exceptions(seed, n_flips, m_typed):
    """Bit-flipped valid files (base AND M-typed, whose records carry
    the optional trailing measure block) must parse or raise ShpError —
    never a raw struct/numpy/index error."""
    from ksj2gp_spark.formats import shp as shp_mod
    from ksj2gp_spark.geo import wkb as W

    if m_typed:
        ring = np.array(
            [[0.0, 0.0, 1.0], [1.0, 0.0, 2.0], [1.0, 1.0, 3.0],
             [0.0, 0.0, 1.0]]
        )
        geoms = [W.Geometry(W.POLYGON, [ring], False, True)]
    else:
        geoms = [W.loads(W.polygon([(0, 0), (1, 0), (1, 1), (0, 0)]))]
    shp_buf, _ = shp_mod.write_shp(geoms)
    buf = bytearray(shp_buf)
    rng = np.random.default_rng(seed)
    for pos in rng.integers(0, len(buf), n_flips):
        buf[pos] ^= int(rng.integers(1, 256))
    try:
        shp_mod.read_shp(bytes(buf))
    except shp_mod.ShpError:
        pass


def _valid_gml() -> bytes:
    """A KSJ-shaped GML doc (Curve → Surface → xlink'd feature)."""
    sq = "35 139 35 139.1 35.1 139.1 35.1 139 35 139"
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<ksj:Dataset gml:id="DS0"'
        ' xmlns:gml="http://www.opengis.net/gml/3.2"'
        ' xmlns:xlink="http://www.w3.org/1999/xlink"'
        ' xmlns:ksj="http://nlftp.mlit.go.jp/ksj/schemas/ksj-app">'
        '<gml:Curve gml:id="c0" srsName="fguuid:jgd2011.bl"><gml:segments>'
        f"<gml:LineStringSegment><gml:posList>{sq}</gml:posList>"
        "</gml:LineStringSegment></gml:segments></gml:Curve>"
        '<gml:Surface gml:id="s0"><gml:patches><gml:PolygonPatch>'
        '<gml:exterior><gml:Ring><gml:curveMember xlink:href="#c0"/>'
        "</gml:Ring></gml:exterior></gml:PolygonPatch></gml:patches>"
        "</gml:Surface>"
        '<ksj:AdministrativeBoundary gml:id="a0">'
        '<ksj:bounds xlink:href="#s0"/>'
        '<ksj:administrativeAreaCode codeSpace="AdminAreaCd.xml">13101'
        "</ksj:administrativeAreaCode></ksj:AdministrativeBoundary>"
        "</ksj:Dataset>"
    ).encode()


@given(st.binary(max_size=400))
@settings(max_examples=80, deadline=None)
def test_gml_reader_raises_typed_error_only(data):
    from ksj2gp_spark.formats import gml as gml_mod

    try:
        gml_mod.read_gml(data)
    except gml_mod.GmlError:
        pass  # typed rejection is the contract


@given(st.integers(0, 10**9), st.integers(1, 16))
@settings(max_examples=120, deadline=None)
def test_gml_mutated_bytes_no_foreign_exceptions(seed, n_flips):
    """Bit-flipped valid GML exercises the deep paths (xlink deref,
    ring assembly, posList numerics): outcome must be a successful
    parse or a typed GmlError — never a raw ValueError/KeyError/
    ParseError escape."""
    from ksj2gp_spark.formats import gml as gml_mod

    buf = bytearray(_valid_gml())
    rng = np.random.default_rng(seed)
    for pos in rng.integers(0, len(buf), n_flips):
        buf[pos] ^= int(rng.integers(1, 256))
    try:
        gml_mod.read_gml(bytes(buf))
    except gml_mod.GmlError:
        pass
