"""Generator determinism: the same seed gives the same inputs."""

import re

import numpy as np

import gen


def _same(a, b):
    for k, v in vars(a).items():
        w = getattr(b, k)
        if isinstance(v, np.ndarray):
            assert np.array_equal(v, w), k
        elif isinstance(v, list) and v and isinstance(v[0], np.ndarray):
            assert all(np.array_equal(x, y) for x, y in zip(v, w)), k
        else:
            assert v == w, k


def test_pages_deterministic_per_seed():
    _same(gen.pages(7, 2000), gen.pages(7, 2000))
    assert gen.pages(7, 2000).text != gen.pages(8, 2000).text


def test_pages_plant_the_coordinates_they_report():
    p = gen.pages(3, 3000)
    assert 0.55 <= p.geo_share <= 0.65 and 0.30 <= p.hot_share <= 0.40
    num = r"(-?\d+\.\d+)"
    pat = re.compile(rf"lat {num}, lon {num}|\({num}, {num}\)|geo:{num},{num}")
    for t, g, la, lo in zip(p.text, p.has_geo, p.lat_s, p.lon_s):
        m = pat.search(t)
        assert (m is not None) == bool(g)
        if m:
            vals = [v for v in m.groups() if v is not None]
            assert round(float(vals[0]) * gen.SCALE) == la
            assert round(float(vals[1]) * gen.SCALE) == lo


def test_knn_inputs_deterministic_per_seed():
    _same(gen.knn_inputs(5, 5000, 3, 10), gen.knn_inputs(5, 5000, 3, 10))
    k = gen.knn_inputs(5, 5000, 3, 10)
    assert all(1 <= q[3] <= 8 for s in k.query_sets for q in s)
    assert len(set(k.page_id.tolist())) == 5000


def test_raster_and_schedule_deterministic_per_seed():
    a, b = gen.raster(9, 256, 64, 100), gen.raster(9, 256, 64, 100)
    _same(a, b)
    assert not np.array_equal(a.array, gen.raster(10, 256, 64, 100).array)
    tx = a.requests[:, 0] - a.x0
    ty = a.requests[:, 1] - a.y0
    inside = (tx >= 0) & (tx < a.tiles_x) & (ty >= 0) & (ty < a.tiles_y)
    assert 0 < (~inside).sum() < len(inside)
