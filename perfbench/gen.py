"""Seeded input generators for the benchmark workloads.

Everything here is numpy/pyarrow only: no Spark, no engine code. The same
seed always gives byte-identical inputs, and every generator also returns
the ground truth the result checks compare against (planted coordinates,
the points table, the raster array and its request schedule).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

SCALE = 10_000

# Hot-spot centers (scaled lat, lon) and the polygon layer around them are
# the engine's fixed vector layer (`spatial_join.polygons_df`), so planted
# hot-spot points land inside its polygons.
HOT_CENTERS = [
    (488566, 23522),
    (407128, -740060),
    (-338688, 1512093),
    (-235505, -466333),
    (65244, 33792),
]

WORDS = (
    "the a of and to data spark page map tile city river road park north south "
    "east west station market bridge hill lake street museum school harbor "
    "tower square garden hotel cafe airport island valley forest beach castle"
).split()


def _coord_str(v: np.ndarray) -> list[str]:
    """Scaled integers -> canonical 4-decimal strings ("-33.8688")."""
    a = np.abs(v)
    sign = np.where(v < 0, "-", "")
    return [f"{s}{i}.{f:04d}" for s, i, f in zip(sign, a // SCALE, a % SCALE)]


def _word_soup(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.integers(0, len(WORDS), size=int(lens.sum()))
    words = np.array(WORDS, dtype=object)[idx]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos : pos + k]))
        pos += k
    return out


@dataclass
class Pages:
    page_id: np.ndarray  # int64
    url: list[str]
    lang: list[str]
    text: list[str]
    lat_s: np.ndarray  # int64 planted coordinate (scaled), valid where has_geo
    lon_s: np.ndarray
    has_geo: np.ndarray  # bool
    geo_share: float
    hot_share: float

    def table(self):
        import pyarrow as pa

        return pa.table(
            {
                "page_id": pa.array(self.page_id, pa.int64()),
                "url": pa.array(self.url, pa.string()),
                "lang": pa.array(self.lang, pa.string()),
                "text": pa.array(self.text, pa.string()),
            }
        )


def pages(seed: int, n: int) -> Pages:
    """Web pages; a seeded share carries one coordinate mention in one of
    the three pinned text formats, and a seeded share of those sits in a
    hot spot (inside the engine's polygon layer)."""
    rng = np.random.default_rng([seed, 1])
    geo_share = float(rng.uniform(0.55, 0.65))
    hot_share = float(rng.uniform(0.30, 0.40))
    page_id = np.arange(n, dtype=np.int64) * 7 + int(rng.integers(0, 7))
    has_geo = rng.random(n) < geo_share
    hot = has_geo & (rng.random(n) < hot_share)
    c = rng.integers(0, len(HOT_CENTERS), size=n)
    centers = np.array(HOT_CENTERS, dtype=np.int64)[c]
    lat_s = np.where(
        hot,
        centers[:, 0] + rng.integers(-1600, 1601, size=n),
        rng.integers(-800_000, 800_001, size=n),
    )
    lon_s = np.where(
        hot,
        centers[:, 1] + rng.integers(-1600, 1601, size=n),
        rng.integers(-1_800_000, 1_800_001, size=n),
    )
    fmt = rng.integers(0, 3, size=n)
    la, lo = _coord_str(lat_s), _coord_str(lon_s)
    soup = _word_soup(rng, n, 8, 24)
    text = []
    for i in range(n):
        if has_geo[i]:
            f = fmt[i]
            if f == 0:
                mention = f"lat {la[i]}, lon {lo[i]}"
            elif f == 1:
                mention = f"({la[i]}, {lo[i]})"
            else:
                mention = f"geo:{la[i]},{lo[i]}"
            text.append(f"Page {page_id[i]}. {soup[i]} near {mention} .")
        else:
            text.append(f"Page {page_id[i]}. {soup[i]} .")
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 5, size=n)]
    url = [f"https://site{p % 1000}.example/p/{p}" for p in page_id]
    return Pages(page_id, url, list(langs), text, lat_s, lon_s, has_geo, geo_share, hot_share)


@dataclass
class KnnInputs:
    page_id: np.ndarray
    lat_s: np.ndarray
    lon_s: np.ndarray
    query_sets: list[np.ndarray]  # each (q, 4): qid, qlat_s, qlon_s, k

    def points_table(self):
        import pyarrow as pa

        return pa.table(
            {
                "page_id": pa.array(self.page_id, pa.int64()),
                "lat_s": pa.array(self.lat_s, pa.int64()),
                "lon_s": pa.array(self.lon_s, pa.int64()),
            }
        )


def knn_inputs(seed: int, n_points: int, n_sets: int, per_set: int) -> KnnInputs:
    """A points table (dense hot spots + sparse background) and seeded
    query sets: each set puts half its queries at hot spots and half in
    the sparse background, and uses k = 1..8 in equal shares, so sets
    differ in place but not in shape."""
    rng = np.random.default_rng([seed, 2])
    hot = rng.random(n_points) < 0.4
    c = rng.integers(0, len(HOT_CENTERS), size=n_points)
    centers = np.array(HOT_CENTERS, dtype=np.int64)[c]
    lat_s = np.where(
        hot,
        centers[:, 0] + rng.integers(-3000, 3001, size=n_points),
        rng.integers(-800_000, 800_001, size=n_points),
    )
    lon_s = np.where(
        hot,
        centers[:, 1] + rng.integers(-3000, 3001, size=n_points),
        rng.integers(-1_800_000, 1_800_001, size=n_points),
    )
    page_id = rng.permutation(n_points).astype(np.int64) * 3 + 1
    sets = []
    for s in range(n_sets):
        q_hot = rng.permutation(per_set) < per_set // 2
        qc = np.array(HOT_CENTERS, dtype=np.int64)[rng.integers(0, len(HOT_CENTERS), size=per_set)]
        qlat = np.where(
            q_hot, qc[:, 0] + rng.integers(-2500, 2501, size=per_set),
            rng.integers(-800_000, 800_001, size=per_set),
        )
        qlon = np.where(
            q_hot, qc[:, 1] + rng.integers(-2500, 2501, size=per_set),
            rng.integers(-1_800_000, 1_800_001, size=per_set),
        )
        k = rng.permutation(np.arange(per_set) % 8 + 1)
        qid = np.arange(per_set, dtype=np.int64) + 1000 * s
        sets.append(np.stack([qid, qlat, qlon, k], axis=1).astype(np.int64))
    return KnnInputs(page_id, lat_s, lon_s, sets)


@dataclass
class RasterInputs:
    array: np.ndarray  # (3, H, W) float64, integer-valued
    zoom: int
    x0: int
    y0: int
    tile_side: int
    requests: np.ndarray  # (r, 2): x, y tile coordinates in request order

    @property
    def tiles_x(self) -> int:
        return -(-self.array.shape[2] // self.tile_side)

    @property
    def tiles_y(self) -> int:
        return -(-self.array.shape[1] // self.tile_side)


def raster(seed: int, side_px: int, tile_side: int, n_requests: int) -> RasterInputs:
    """A 3-band integer-valued raster (smooth field + noise) that does not
    fill its last tile row/column, and a seeded tile-request schedule of
    which a seeded share (15-25%) falls outside the raster's bounds."""
    rng = np.random.default_rng([seed, 3])
    miss_share = float(rng.uniform(0.15, 0.25))
    h = side_px - int(rng.integers(1, tile_side // 2))
    w = side_px - int(rng.integers(1, tile_side // 2))
    yy, xx = np.mgrid[0:h, 0:w]
    bands = []
    for b in range(3):
        fx, fy = rng.uniform(0.005, 0.03, size=2)
        base = 200 + 150 * np.sin(xx * fx + b) * np.cos(yy * fy - b)
        bands.append(np.floor(base + rng.integers(0, 50, size=(h, w))))
    arr = np.stack(bands).astype(np.float64)
    zoom = 10
    x0, y0 = int(rng.integers(100, 800)), int(rng.integers(100, 800))
    r = RasterInputs(arr, zoom, x0, y0, tile_side, np.zeros((0, 2), dtype=np.int64))
    inside = np.stack(
        [x0 + rng.integers(0, r.tiles_x, size=n_requests), y0 + rng.integers(0, r.tiles_y, size=n_requests)],
        axis=1,
    )
    outside = np.stack(
        [x0 + r.tiles_x + rng.integers(0, 8, size=n_requests), y0 + rng.integers(-4, r.tiles_y + 4, size=n_requests)],
        axis=1,
    )
    miss = rng.random(n_requests) < miss_share
    r.requests = np.where(miss[:, None], outside, inside).astype(np.int64)
    return r
