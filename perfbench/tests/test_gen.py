"""The generators are pure functions of the seed.

    python3 -m pytest perfbench/tests -q
"""

import os

import numpy as np

from perfbench import gen

BOX = (139.0, 35.0, 140.0, 36.0)


def _dir_bytes(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_admin_layer_same_seed_same_rings():
    a = gen.admin_layer(7, 3, 3, verts_per_edge=20, box=BOX)
    b = gen.admin_layer(7, 3, 3, verts_per_edge=20, box=BOX)
    assert a.admin_codes == b.admin_codes
    assert all(np.array_equal(x, y) for x, y in zip(a.rings, b.rings))
    c = gen.admin_layer(8, 3, 3, verts_per_edge=20, box=BOX)
    assert not all(np.array_equal(x, y) for x, y in zip(a.rings, c.rings))


def test_admin_rings_closed_and_jagged():
    layer = gen.admin_layer(3, 3, 3, verts_per_edge=20, box=BOX)
    for ring in layer.rings:
        assert np.array_equal(ring[0], ring[-1])
        assert len(ring) == 4 * 20 + 1


def test_admin_zips_byte_identical(tmp_path):
    layer = gen.admin_layer(5, 4, 4, verts_per_edge=10, box=BOX, pref_block=2)
    gen.write_admin_zips(layer, str(tmp_path / "a"))
    gen.write_admin_zips(gen.admin_layer(5, 4, 4, verts_per_edge=10, box=BOX,
                                         pref_block=2), str(tmp_path / "b"))
    a, b = _dir_bytes(tmp_path / "a"), _dir_bytes(tmp_path / "b")
    assert len(a) == 4  # one archive per prefecture
    assert a == b


def test_image_points_deterministic_per_stream():
    a = gen.image_points(11, 1000, BOX)
    b = gen.image_points(11, 1000, BOX)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    c = gen.image_points(11, 1000, BOX, stream=3)
    assert not np.array_equal(a[0], c[0])


def test_image_points_ocean_share_off_the_coast():
    lon, lat = gen.image_points(2, 2000, BOX)
    off = (lon > BOX[2]) | (lat < BOX[1])
    assert int(off.sum()) == 60  # 3 %
    # beyond the jag amplitude, within ~0.1° of the coast
    assert (np.maximum(lon[off] - BOX[2], BOX[1] - lat[off]) >= 0.04).all()
    assert (np.maximum(lon[off] - BOX[2], BOX[1] - lat[off]) <= 0.1).all()


def test_ksj_mix_byte_identical(tmp_path):
    a = gen.write_ksj_mix(4, str(tmp_path / "a"), n_points=400)
    b = gen.write_ksj_mix(4, str(tmp_path / "b"), n_points=400)
    assert _dir_bytes(tmp_path / "a") == _dir_bytes(tmp_path / "b")
    assert (a.features, a.error_rows, a.members) == (b.features, b.error_rows, b.members)
    assert a.error_rows == 3
    c = gen.write_ksj_mix(5, str(tmp_path / "c"), n_points=400)
    assert _dir_bytes(tmp_path / "a") != _dir_bytes(tmp_path / "c")
