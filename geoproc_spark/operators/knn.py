"""Exact kNN join bounded from a per-cell histogram (north_rule; cf. SURVEY.md §2.4).

Semantics: for each query point, the k nearest pages by squared-euclidean
distance in scaled-integer space (lat_s/lon_s, degrees x 10^4) — exact BIGINT
math, no floating point; ties broken by page_id. Planar metric (no meridian
wrap), pinned for oracle parity.

Algorithm (one candidate join, exact), after "Distributed Stream KNN Join"
(SIGMOD 2021, PAPERS.md), which bounds each query's kth distance from grid
counts instead of probing ring by ring:
  1. Histogram: group the position-collapsed points (see `knn_join`) by
     their zoom-`zoom` cell into a count and the bounding box of the
     points' (lat_s, lon_s). Exact integers, at most 4^zoom rows, cached
     with the points.
  2. Bound, in numpy: for each query, `far2` of a cell is the squared
     distance to the farthest corner of its box, so every point of the
     cell lies within it. Walk the cells by ascending `far2`, summing
     counts; at the first cell where the sum reaches k, B = its `far2`.
     At least k points lie within B, so the true kth distance is <= B.
  3. Candidates: the cells whose box comes within B of the query. A point
     with d2 <= B lies in one of them, since the distance to a box never
     exceeds the distance to a point inside it.
  4. One join of the candidate cells to the points, keeping d2 <= B, and
     the exact top-k by row_number over (d2, page_id). Every top-k point
     has d2 <= kth distance <= B, so none is filtered out.
The bound uses the points' boxes, not tile geometry: cell ids clamp
latitudes beyond +-85.05 deg into the edge rows, so a point can lie outside
its tile. A table with fewer than k points bounds the query by the whole
table and returns every point.

Scale: the bound runs on the driver for query sets up to
MAX_DRIVER_QUERIES rows (one bounded collect), else inside `mapInPandas`
with the histogram in the closure. Either way the call is one
histogram collect plus one join and one rank window, whatever the density.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells

DEFAULT_KNN_ZOOM = 6
SCALE = 10_000
# Size rule: query sets up to this many rows are collected and bounded on
# the driver, and their candidate cells broadcast (a query keeps tens of
# cells, so a few MB); larger ones are bounded in mapInPandas.
MAX_DRIVER_QUERIES = 20_000
# (query, cell) pairs held at once by the numpy bound.
_BOUND_CHUNK = 1 << 20

_CAND_SCHEMA = "qid long, qlat_s long, qlon_s long, k int, bound long, _cell long"
_log = logging.getLogger("geoproc_spark")


def _candidates(q: pd.DataFrame, hist: tuple[np.ndarray, ...]) -> pd.DataFrame:
    """One row per (query, candidate cell) with the query's bound B.

    `q` holds qid, qlat_s, qlon_s, k; `hist` is (cell, count, lat_lo,
    lat_hi, lon_lo, lon_hi) int64 arrays, one entry per occupied cell."""
    cell, cnt, la0, la1, lo0, lo1 = hist
    qlat = q["qlat_s"].to_numpy(np.int64)
    qlon = q["qlon_s"].to_numpy(np.int64)
    k = q["k"].to_numpy(np.int64)
    bound = np.zeros(len(q), np.int64)
    rows, picked = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    n_short = 0 if len(cell) else len(q)
    step = max(1, _BOUND_CHUNK // max(len(cell), 1))
    for s in range(0, len(q) if len(cell) else 0, step):
        la, lo = qlat[s : s + step, None], qlon[s : s + step, None]
        far2 = np.maximum((la - la0) ** 2, (la - la1) ** 2) + np.maximum(
            (lo - lo0) ** 2, (lo - lo1) ** 2
        )
        order = np.argsort(far2, axis=1)
        far_sorted = np.take_along_axis(far2, order, axis=1)
        reached = np.cumsum(cnt[order], axis=1) >= k[s : s + step, None]
        b = far_sorted[np.arange(len(la)), reached.argmax(axis=1)]
        short = ~reached[:, -1]  # fewer than k points in the whole table
        b[short] = far_sorted[short, -1]
        n_short += int(short.sum())
        near2 = (
            np.maximum(np.maximum(la0 - la, la - la1), 0) ** 2
            + np.maximum(np.maximum(lo0 - lo, lo - lo1), 0) ** 2
        )
        r, c = np.nonzero(near2 <= b[:, None])
        rows.append(r + s)
        picked.append(cell[c])
        bound[s : s + step] = b
    if n_short:
        _log.info(
            "knn_join: %d of %d queries have fewer than k points in the table; "
            "their bound is the whole table",
            n_short, len(q),
        )
    i = np.concatenate(rows)
    return pd.DataFrame(
        {
            "qid": q["qid"].to_numpy(np.int64)[i],
            "qlat_s": qlat[i],
            "qlon_s": qlon[i],
            "k": k[i].astype(np.int32),
            "bound": bound[i],
            "_cell": np.concatenate(picked),
        }
    )


_D2 = "(qlat_s - lat_s) * (qlat_s - lat_s) + (qlon_s - lon_s) * (qlon_s - lon_s)"


def knn_join(
    queries: DataFrame,
    pages: DataFrame,
    zoom: int = DEFAULT_KNN_ZOOM,
    n_pages: int | None = None,
    k_max: int | None = None,
) -> DataFrame:
    """Exact kNN: queries(qid, qlat_s, qlon_s, k) x pages(page_id, lat_s, lon_s)
    -> (qid, page_id, rank).

    One candidate join bounded from a cached per-cell histogram; the
    algorithm and its exactness argument are in the module docstring.
    Points or queries with a null coordinate take no part.

    k_max: the largest k of any query, used to cap the position collapse
    below. Without it, it is read from the queries (from the collected rows
    on the driver path, by a one-row aggregate otherwise). n_pages is
    accepted for callers that pass a manifest row count; it no longer
    drives anything.

    Duplicate-position collapse (r6): web corpora repeat exact coordinates
    massively (same venue, mirrored pages — the bench corpus holds ~400
    copies of every point, 2M in one cell). For top-k by (d2, page_id),
    only the k_max smallest page_ids AT EACH POSITION can ever rank: a
    point with k_max same-position smaller-id twins is beaten by all of
    them for every query. Keeping row_number() <= k_max per (lat_s, lon_s)
    is therefore EXACT, and shrinks the candidate table by the duplication
    factor BEFORE any per-query work.

    The histogram counts the collapsed points, i.e. exactly the rows the
    join reads, so "at least k points lie within B" holds for the joined
    table as it stands, and the histogram is aggregated from the cached
    collapsed table instead of a second pass over `pages`. Counts taken
    before the collapse would include copies the join never sees."""
    from ._cache import swap_cache

    q = queries.select("qid", "qlat_s", "qlon_s", "k").dropna()
    qlocal = q.limit(MAX_DRIVER_QUERIES + 1).toPandas()
    on_driver = len(qlocal) <= MAX_DRIVER_QUERIES
    if k_max is None:
        k_max = max(qlocal["k"], default=1) if on_driver else q.agg(F.max("k")).first()[0]
    kmax = F.lit(int(k_max or 1))
    wpos = Window.partitionBy("lat_s", "lon_s").orderBy("page_id")
    cell_sql = cells.cell_id_sql(f"lat_s / {SCALE}", f"lon_s / {SCALE}", zoom)
    pages_c = swap_cache(
        "knn_pages_cell",
        pages.dropna(subset=["lat_s", "lon_s"])
        .select(
            "page_id", "lat_s", "lon_s",
            F.row_number().over(wpos).alias("_pr"), F.expr(cell_sql).alias("_cell"),
        )
        .filter(F.col("_pr") <= kmax)
        .drop("_pr"),
    )
    hist_df = swap_cache(
        "knn_cell_hist",
        pages_c.groupBy("_cell").agg(
            F.count("*").alias("n"),
            F.min("lat_s").alias("la0"), F.max("lat_s").alias("la1"),
            F.min("lon_s").alias("lo0"), F.max("lon_s").alias("lo1"),
        ),
    )
    # bounded: one row per occupied cell, at most 4^zoom
    h = hist_df.toPandas()
    hist = tuple(h[c].to_numpy(np.int64) for c in ("_cell", "n", "la0", "la1", "lo0", "lo1"))

    if on_driver:
        qcells = F.broadcast(
            queries.sparkSession.createDataFrame(_candidates(qlocal, hist), _CAND_SCHEMA)
        )
    else:
        _log.info(
            "knn_join: more than %d queries; bounding them in mapInPandas, not on the driver",
            MAX_DRIVER_QUERIES,
        )
        qcells = q.mapInPandas(
            lambda batches: (_candidates(b, hist) for b in batches), _CAND_SCHEMA
        )
    cand = (
        qcells.join(pages_c, "_cell", "inner")
        .select("qid", "k", "page_id", F.expr(_D2).alias("d2"), "bound")
        .filter(F.col("d2") <= F.col("bound"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("page_id").asc())
    # the literal k_max conjunct lets Catalyst plan a partial per-qid
    # top-k_max (WindowGroupLimit) before the exchange, so a dense cell's
    # candidates are cut map-side instead of shuffled
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= kmax) & (F.col("rank") <= F.col("k")))
        .select("qid", "page_id", "rank")
    )
