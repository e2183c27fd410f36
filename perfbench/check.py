"""Result checks: numpy brute force over the planted inputs.

Each checker returns a list of mismatch descriptions (empty = correct).
They never call the engine's kernels, so a wrong kernel cannot agree
with its own check; only the engine's fixed reference layers (the
polygon rings) are shared as data.
"""

from __future__ import annotations

import math

import numpy as np

SCALE = 10_000
MAX_LAT = 85.0511287798066


def _tile_xy(lat: np.ndarray, lon: np.ndarray, zoom: int):
    n = 1 << zoom
    lat = np.clip(lat, -MAX_LAT, MAX_LAT)
    xt = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    rad = np.radians(lat)
    yt = np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * n).astype(np.int64)
    return np.clip(xt, 0, n - 1), np.clip(yt, 0, n - 1)


def _inside_ring(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Even-odd ray cast, written independently of the engine's kernel."""
    pts = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(pts[:-1], pts[1:]):
        if y1 == y2:
            continue
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xint)
    return inside


class GeoOracle:
    """Expected outputs of extract -> pip_join -> tile_stats for one pages
    input: geotagged page ids, (page_id, feature_id) pairs, per-tile stats."""

    def __init__(self, pages, rings: list[dict], tile_zoom: int):
        g = pages.has_geo
        self.page_ids = np.sort(pages.page_id[g])
        pid, lat_s, lon_s = pages.page_id[g], pages.lat_s[g], pages.lon_s[g]
        lat, lon = lat_s / SCALE, lon_s / SCALE
        pairs = []
        for f in rings:
            hit = _inside_ring(lon, lat, f["ring"])
            pairs.extend(zip(pid[hit].tolist(), [int(f["feature_id"])] * int(hit.sum())))
        self.pairs = sorted(pairs)
        xt, yt = _tile_xy(lat, lon, tile_zoom)
        self.tiles = {}
        order = np.lexsort((yt, xt))
        key = xt[order] * (1 << 32) + yt[order]
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        for a, b in zip(starts, np.r_[starts[1:], len(key)]):
            ii = order[a:b]
            self.tiles[(int(xt[ii[0]]), int(yt[ii[0]]))] = (
                len(ii),
                int(lat_s[ii].min()), int(lat_s[ii].max()),
                int(lon_s[ii].min()), int(lon_s[ii].max()),
                int((pid[ii] % 100).sum()),
            )

    def check(self, extract_ids, pair_rows, tile_rows) -> list[str]:
        bad = []
        got_ids = np.sort(np.asarray(extract_ids, dtype=np.int64))
        if not np.array_equal(got_ids, self.page_ids):
            bad.append(f"extract: {len(got_ids)} pages with coordinates, expected {len(self.page_ids)}")
        if sorted(pair_rows) != self.pairs:
            bad.append(f"pip_join: {len(pair_rows)} pairs, expected {len(self.pairs)}")
        got_tiles = {(int(r[0]), int(r[1])): tuple(int(v) for v in r[2:]) for r in tile_rows}
        if got_tiles != self.tiles:
            diff = set(got_tiles.items()) ^ set(self.tiles.items())
            bad.append(f"tile_stats: {len(diff)} tile rows differ")
        return bad


def knn_expected(page_id, lat_s, lon_s, queries) -> set[tuple[int, int, int]]:
    """Exact top-k by (squared distance in scaled space, page_id)."""
    out = set()
    for qid, qlat, qlon, k in queries:
        d2 = (lat_s - qlat) ** 2 + (lon_s - qlon) ** 2
        kth = np.partition(d2, k - 1)[k - 1]
        cand = np.flatnonzero(d2 <= kth)
        order = cand[np.lexsort((page_id[cand], d2[cand]))][:k]
        out.update((int(qid), int(page_id[i]), r + 1) for r, i in enumerate(order))
    return out


def check_knn(rows, expected: set) -> list[str]:
    got = {(int(q), int(p), int(r)) for q, p, r in rows}
    if got == expected:
        return []
    return [f"knn: {len(got ^ expected)} (qid, page_id, rank) rows differ of {len(expected)}"]


def render_tile(raster, x: int, y: int, gain: float, offset: float, lo: float, hi: float):
    """numpy render of tile (x, y): band math with constants, clamped
    rescale to 0..255, uint8 truncation. None when the tile lies outside
    the raster. Alpha is all 255: image-op-constant results take the union
    of the masks and a constant is valid everywhere, so band math with a
    constant makes even the raster's padding valid."""
    side = raster.tile_side
    tx, ty = x - raster.x0, y - raster.y0
    if not (0 <= tx < raster.tiles_x and 0 <= ty < raster.tiles_y):
        return None
    nb, h, w = raster.array.shape
    data = np.zeros((nb, side, side))
    r0, c0 = ty * side, tx * side
    hh, ww = min(side, h - r0), min(side, w - c0)
    data[:, :hh, :ww] = raster.array[:, r0 : r0 + hh, c0 : c0 + ww]
    alpha = np.full((side, side), 255, dtype=np.uint8)
    v = data * gain + offset
    v = (np.maximum(lo, np.minimum(hi, v)) - lo) / (hi - lo) * 255.0
    return np.floor(v).astype(np.uint8), alpha


def check_tile(png_rows, expected, decode_png) -> list[str]:
    if expected is None:
        return [] if not png_rows else [f"tile: {len(png_rows)} rows for an out-of-bounds tile"]
    if len(png_rows) != 1:
        return [f"tile: {len(png_rows)} rows, expected 1"]
    rgb, alpha = decode_png(bytes(png_rows[0]))
    want_rgb, want_alpha = expected
    if alpha is None or not np.array_equal(rgb, want_rgb) or not np.array_equal(alpha, want_alpha):
        return ["tile: decoded PNG differs from the numpy render"]
    return []
