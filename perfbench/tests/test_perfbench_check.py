"""A wrong result must count as a failure (and so raise fail_ratio)."""

import time

import numpy as np

import check
import gen
import run
from run import Tally


def _ratio(tally):
    return tally.failed / tally.attempted


def _verified(tally, verify):
    tally.run(lambda: None)
    tally.verify(verify)


def test_wrong_knn_result_raises_fail_ratio():
    k = gen.knn_inputs(1, 3000, 1, 6)
    want = check.knn_expected(k.page_id, k.lat_s, k.lon_s, k.query_sets[0])
    tally = Tally()
    rows = sorted(want)
    _verified(tally, lambda: check.check_knn(rows, want))
    assert _ratio(tally) == 0
    q, p, r = rows[0]
    wrong = rows[1:] + [(q, p + 3, r)]
    _verified(tally, lambda: check.check_knn(wrong, want))
    assert tally.failed == 1 and _ratio(tally) == 0.5


def test_geo_oracle_flags_a_lost_pair_and_a_wrong_tile():
    from geoproc_spark import synth

    p = gen.pages(2, 4000)
    o = check.GeoOracle(p, synth.polygon_rings(), 6)
    tiles = [(x, y, *v) for (x, y), v in o.tiles.items()]
    assert o.check(o.page_ids, list(o.pairs), tiles) == []
    assert o.pairs, "hot spots must land inside the polygon layer"
    bad = o.check(o.page_ids, o.pairs[1:], tiles)
    assert len(bad) == 1 and bad[0].startswith("pip_join")
    x, y, n, *rest = tiles[0]
    bad = o.check(o.page_ids, o.pairs, [(x, y, n + 1, *rest)] + tiles[1:])
    assert len(bad) == 1 and bad[0].startswith("tile_stats")
    tally = Tally()
    _verified(tally, lambda: o.check(o.page_ids[1:], o.pairs, tiles))
    assert _ratio(tally) == 1.0


def test_tile_check_decodes_and_compares_pixels():
    from geoproc_spark.functions import png

    r = gen.raster(4, 256, 64, 20)
    want = check.render_tile(r, r.x0, r.y0, 1.5, -100.0, 0.0, 500.0)
    good = png.encode_rgb_png(*want)
    assert check.check_tile([good], want, png.decode_png) == []
    rgb = want[0].copy()
    rgb[0, 0, 0] ^= 1
    assert check.check_tile([png.encode_rgb_png(rgb, want[1])], want, png.decode_png)
    outside = check.render_tile(r, r.x0 + r.tiles_x, r.y0, 1.5, -100.0, 0.0, 500.0)
    assert outside is None
    assert check.check_tile([], outside, png.decode_png) == []
    assert check.check_tile([good], outside, png.decode_png)


def test_an_exception_counts_as_a_failure():
    tally = Tally()
    assert tally.run(lambda: 1 / 0) is None
    assert tally.failed == 1 and tally.attempted == 1
    assert np.isclose(_ratio(tally), 1.0)


class _FakeServe:
    loop, rate_per_s, warmup_ops = "open", 100.0, 0

    def prepare(self, i):
        pass

    def op(self, i):
        def verify():
            time.sleep(0.05)  # a slow check must not count in the latency
            return ["wrong tile"] if i == 2 else []

        return 1, verify


def test_open_loop_checks_replies_after_sending_and_counts_wrong_ones():
    from spans import Tracer

    tally = Tally()
    done = run.measure(_FakeServe(), Tracer(enabled=False), tally, 0.05, paired=False)
    assert tally.attempted == 6 and tally.failed == 1
    assert sorted(d["i"] for d in done) == [0, 1, 3, 4, 5]
    assert max(d["latency"] for d in done) < 0.04
