"""Spatial-join operator: PIP kernel vs shapely-free numpy oracle, path
equivalence (covering-cell vs salted vs broadcast), concave polygons."""

import logging

import numpy as np
from pyspark.sql import functions as F

from geoproc_spark import synth
from geoproc_spark.operators import spatial_join as sj
from tests.conftest import SF_DIR


def test_pip_kernel_concave():
    # L-shaped concave ring (CCW): unit L with the notch at top-right
    ring = np.array([0, 0, 2, 0, 2, 1, 1, 1, 1, 2, 0, 2, 0, 0], dtype=float)
    px = np.array([0.5, 1.5, 1.5, 0.5, 2.5, 1.0])
    py = np.array([0.5, 0.5, 1.5, 1.5, 0.5, 3.0])
    got = sj.points_in_ring_np(px, py, ring)
    assert got.tolist() == [True, True, False, True, False, False]


def test_pip_kernel_vs_matplotlib_free_oracle():
    """Random convex k-gons: inside iff all cross products have one sign."""
    rng = np.random.default_rng(7)
    for _ in range(20):
        k = rng.integers(5, 12)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = rng.uniform(0.5, 2.0)
        cx, cy = rng.uniform(-50, 50, 2)
        xs, ys = cx + r * np.cos(ang), cy + r * np.sin(ang)
        ring = np.empty(2 * (k + 1))
        ring[0:-2:2], ring[1:-2:2] = xs, ys
        ring[-2], ring[-1] = xs[0], ys[0]
        px = rng.uniform(cx - 3, cx + 3, 300)
        py = rng.uniform(cy - 3, cy + 3, 300)
        # convex oracle: strict same-side test for every edge
        inside = np.ones(300, dtype=bool)
        for i in range(k):
            x1, y1 = xs[i], ys[i]
            x2, y2 = xs[(i + 1) % k], ys[(i + 1) % k]
            inside &= (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) > 0
        got = sj.points_in_ring_np(px, py, ring)
        assert (got == inside).all()


def _points(spark):
    return (
        synth.pages_df(spark, SF_DIR)
        .filter("has_geo = 1")
        .select(
            "page_id",
            (F.col("lat_s") / 10000.0).alias("lat"),
            (F.col("lon_s") / 10000.0).alias("lon"),
        )
    )


def test_join_paths_equivalent(spark):
    pts = _points(spark)
    poly = sj.polygons_df(spark)

    plain = sj.spatial_join(pts, poly).select("page_id", "feature_id")
    salted = sj.spatial_join(pts, poly, salt_buckets=4).select("page_id", "feature_id")
    bcast = sj.broadcast_spatial_join(pts, synth.polygon_rings()).select(
        "page_id", "feature_id"
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    c = sorted(map(tuple, bcast.collect()))
    assert a == b == c
    assert len(a) > 0
    # overlapping nested boxes: hot pages must match several features
    multi = plain.groupBy("page_id").count().filter("count > 1").count()
    assert multi > 0


def test_join_partition_invariant(spark):
    pts = _points(spark)
    poly = sj.polygons_df(spark)
    one = sorted(
        map(tuple, sj.spatial_join(pts.repartition(1), poly).select("page_id", "feature_id").collect())
    )
    many = sorted(
        map(tuple, sj.spatial_join(pts.repartition(16, "page_id"), poly).select("page_id", "feature_id").collect())
    )
    assert one == many


def _random_boxes(n: int, seed: int = 11) -> list[dict]:
    """n small random boxes as closed rings (the 10k-polygon fixture)."""
    rng = np.random.default_rng(seed)
    clat = rng.uniform(-60, 60, n)
    clon = rng.uniform(-170, 170, n)
    half = rng.uniform(0.01, 0.2, n)
    out = []
    for i in range(n):
        minx, maxx = float(clon[i] - half[i]), float(clon[i] + half[i])
        miny, maxy = float(clat[i] - half[i]), float(clat[i] + half[i])
        out.append(
            {
                "layer_id": "rand",
                "feature_id": i,
                "ring": [minx, miny, maxx, miny, maxx, maxy, minx, maxy, minx, miny],
                "minx": minx,
                "miny": miny,
                "maxx": maxx,
                "maxy": maxy,
            }
        )
    return out


def test_cell_index_candidates_vs_dense_matrix():
    """The packed CellBboxIndex finds exactly the pairs the old dense
    (npoints x npolys) bbox matrix found — on 2k polys x 5k points."""
    polys = _random_boxes(2000)
    idx = sj.CellBboxIndex(polys, zoom=8)
    rng = np.random.default_rng(3)
    lat = rng.uniform(-61, 61, 5000)
    lon = rng.uniform(-171, 171, 5000)
    pi, fi = idx.candidates(lat, lon)
    got = set(zip(pi.tolist(), fi.tolist()))
    b = idx.boxes
    dense = (
        (lon[:, None] > b[None, :, 0])
        & (lon[:, None] < b[None, :, 2])
        & (lat[:, None] > b[None, :, 1])
        & (lat[:, None] < b[None, :, 3])
    )
    want = set(zip(*[a.tolist() for a in np.nonzero(dense)]))
    assert got == want and len(want) > 0


def test_broadcast_join_10k_polygons(spark):
    """Scale fixture: 10k polygons through the broadcast cell-index join,
    results equal the shuffle-based covering-cell join, within time budget
    (the old dense-matrix probe was O(n*m) per batch)."""
    import time

    from pyspark.sql import types as T

    polys = _random_boxes(10_000)
    schema = T.StructType(
        [
            T.StructField("layer_id", T.StringType()),
            T.StructField("feature_id", T.LongType()),
            T.StructField("ring", T.ArrayType(T.DoubleType())),
            T.StructField("minx", T.DoubleType()),
            T.StructField("miny", T.DoubleType()),
            T.StructField("maxx", T.DoubleType()),
            T.StructField("maxy", T.DoubleType()),
        ]
    )
    poly_df = spark.createDataFrame(polys, schema)
    rng = np.random.default_rng(5)
    n_pts = 50_000
    pts = spark.createDataFrame(
        [
            (int(i), float(la), float(lo))
            for i, (la, lo) in enumerate(
                zip(rng.uniform(-61, 61, n_pts), rng.uniform(-171, 171, n_pts))
            )
        ],
        "page_id long, lat double, lon double",
    ).repartition(8)

    t0 = time.time()
    bcast = sorted(
        map(
            tuple,
            sj.broadcast_spatial_join(pts, polys)
            .select("page_id", "feature_id")
            .collect(),
        )
    )
    dt = time.time() - t0
    shuffle = sorted(
        map(
            tuple,
            sj.spatial_join(pts, poly_df).select("page_id", "feature_id").collect(),
        )
    )
    assert bcast == shuffle and len(bcast) > 0
    assert dt < 60, f"broadcast join took {dt:.1f}s on 10k polys x 50k points"


def test_broadcast_join_nan_coordinates_never_match(spark):
    """Non-null NaN coordinates pass isNotNull but must not match (and must
    not hit the float->int cell cast): guarded sentinel path."""
    pts = spark.createDataFrame(
        [(1, 48.8566, 2.3522), (2, float("nan"), 2.3522), (3, 48.8566, float("nan"))],
        "page_id long, lat double, lon double",
    )
    got = sj.broadcast_spatial_join(pts, synth.polygon_rings()).select("page_id").collect()
    assert {r.page_id for r in got} == {1}


def _knn_brute(pts, queries) -> set:
    """Exact top-k by (d2, page_id) over (page_id, lat_s, lon_s) rows; points
    and queries with a null coordinate take no part."""
    arr = np.array([p for p in pts if None not in p], dtype=np.int64).reshape(-1, 3)
    want = set()
    for qid, qla, qlo, k in (q for q in queries if None not in q):
        d2 = (arr[:, 1] - qla) ** 2 + (arr[:, 2] - qlo) ** 2
        order = np.lexsort((arr[:, 0], d2))[:k]
        for rank, j in enumerate(order, start=1):
            want.add((qid, int(arr[j, 0]), rank))
    return want


def _knn_rows(df) -> set:
    return {(r.qid, r.page_id, r.rank) for r in df.collect()}


def test_knn_sparse_multi_round_flat_lineage(spark):
    """A sparse corpus: each query's bound spans many cells. The plan must
    stay flat (bounded Exchange count: one candidate join, one rank window)
    and the result exact vs numpy brute force."""
    from geoproc_spark.operators import knn as knn_op

    # 8 pages scattered ~continental distances apart at zoom 6
    pts = [(i, int((i * 37 % 140 - 70) * 1e4), int((i * 83 % 340 - 170) * 1e4)) for i in range(8)]
    pages = spark.createDataFrame(pts, "page_id long, lat_s long, lon_s long")
    qrows = [(0, 0, 0, 3), (1, 500000, 900000, 3)]
    queries = spark.createDataFrame(qrows, "qid long, qlat_s long, qlon_s long, k int")
    out = knn_op.knn_join(queries, pages, zoom=6, n_pages=8, k_max=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 4, plan

    assert _knn_rows(out) == _knn_brute(pts, qrows)


def test_knn_size_rule_fallback_matches_driver_path(spark, monkeypatch, caplog):
    """Above MAX_DRIVER_QUERIES the bound runs in mapInPandas instead of on
    the driver; both paths return the brute-force top-k, and the fallback
    is logged with its reason."""
    from geoproc_spark.operators import knn as knn_op

    pts = [
        (i, int((i * 37 % 140 - 70) * 1e4), int((i * 83 % 340 - 170) * 1e4))
        for i in range(8)
    ]
    pages = spark.createDataFrame(pts, "page_id long, lat_s long, lon_s long")
    qrows = [(0, 0, 0, 3), (1, 500000, 900000, 2), (2, -300000, -1200000, 1)]
    queries = spark.createDataFrame(qrows, "qid long, qlat_s long, qlon_s long, k int")
    got_driver = _knn_rows(knn_op.knn_join(queries, pages, zoom=6))

    monkeypatch.setattr(knn_op, "MAX_DRIVER_QUERIES", 1)
    with caplog.at_level(logging.INFO, logger="geoproc_spark"):
        got_mapped = _knn_rows(knn_op.knn_join(queries, pages, zoom=6))
    assert "mapInPandas" in caplog.text
    assert got_mapped == got_driver == _knn_brute(pts, qrows)


def test_knn_hostile_inputs_match_brute_force(spark, caplog):
    """Points beyond the +-85.05 deg Mercator clamp (cell ids fold them into
    the edge rows), queries at +-179.99 deg longitude, more copies of one
    position than k_max, null coordinates, a table with fewer than k points
    and an empty table: all exact vs numpy brute force."""
    from geoproc_spark.operators import knn as knn_op

    schema = "page_id long, lat_s long, lon_s long"
    qschema = "qid long, qlat_s long, qlon_s long, k int"
    pts = (
        [(1 + i, 899000 - 1000 * i, 1799000 - 2000 * i) for i in range(6)]  # ~89.9 N
        + [(20 + i, -880000 + 500 * i, -1799500 + 700 * i) for i in range(6)]  # ~88 S
        + [(40, 850000, 0), (41, 860000, 10), (42, -851000, -5)]
        + [(100 + i, 123400, 567800) for i in range(12)]  # 12 copies, k_max 5
        + [(200 + i, 100000 * (i % 7) - 300000, 250000 * i - 1700000) for i in range(14)]
        + [(300, None, 5), (301, 7, None), (302, None, None)]
    )
    qrows = [
        (0, 890000, 1799900, 5),
        (1, -870000, -1799900, 4),
        (2, 0, 1799900, 3),
        (3, 0, -1799900, 5),
        (4, 123400, 567800, 5),
        (5, 123401, 567799, 2),
        (6, 855000, 3, 1),
        (7, None, 100, 2),
    ]
    pages = spark.createDataFrame(pts, schema)
    queries = spark.createDataFrame(qrows, qschema)
    assert _knn_rows(knn_op.knn_join(queries, pages)) == _knn_brute(pts, qrows)

    # fewer than k points: every point comes back, ranked; the whole-table
    # bound is logged
    few = [(1, 100, 100), (2, -50000, 70000), (3, 850000, -1799999)]
    with caplog.at_level(logging.INFO, logger="geoproc_spark"):
        got = _knn_rows(knn_op.knn_join(queries, spark.createDataFrame(few, schema)))
    assert "fewer than k points" in caplog.text
    assert got == _knn_brute(few, qrows)
    assert len(got) == sum(min(q[3], len(few)) for q in qrows if None not in q)

    assert _knn_rows(knn_op.knn_join(queries, spark.createDataFrame([], schema))) == set()
