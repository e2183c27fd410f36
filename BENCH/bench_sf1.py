#!/usr/bin/env python
"""One-shot sf1-scale pass of the top-5 bench queries (VERDICT r04 #8):
separate fixture-scale scheduling latency from data-bound cost.

The driver fixtures stop at sf0.1 (documents ~6.7k dup-corpus rows, pages
2M at REPLICATE=400), where several expensive queries are
scheduling-latency-bound and their round-over-round deltas ride host
weather. This script scales the INPUTS 10x — documents replicated 10x with
a mod-5*7-preserving doc_id offset (so the planted near/exact-dup densities
and the organic shingle overlap structure survive), pages at
REPLICATE=4000 (20M pages) — and re-times:

  dedup_components, dedup_minhash_pairs, dedup_simhash, geo_pipeline,
  geo_knn  (min of 2 interleaved repeats, same protocol as bench.py)

Writes BENCH/bench_r5_sf1.json. Run with the box otherwise idle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DOC_REP = int(os.environ.get("SPARK_GRAFT_SF1_DOC_REP", "10"))
PAGE_REP = int(os.environ.get("SPARK_GRAFT_SF1_PAGE_REP", "4000"))
# 10.5M is divisible by 5 and 7: planted-dup mod classes survive the shift
DOC_OFFSET = 10_500_000


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import functions as F

    from geoproc_spark import queries as Q
    from geoproc_spark import synth
    from geoproc_spark.functions import extract
    from geoproc_spark.operators import knn as knn_op
    from geoproc_spark.operators import spatial_join as sj
    from geoproc_spark.operators import tiles as tiles_op
    from geoproc_spark.session import get_spark

    spark = get_spark(
        app_name="geoproc-bench-sf1", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.range(1000).select(F.sum("id")).collect()

    work = tempfile.mkdtemp(prefix="geoproc_sf1_")
    sf1 = os.path.join(work, "sf1")
    os.makedirs(sf1)

    # ---- inputs (untimed prep, same protocol as bench.py/run_scaling) ----
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps = spark.range(DOC_REP).selectExpr(f"id * {DOC_OFFSET}L AS off")
    docs.crossJoin(reps).selectExpr(
        "doc_id + off AS doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").parquet(f"{sf1}/documents.parquet")
    for t in ("events", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{sf1}/{t}.parquet")

    synth.pages_df(spark, SF_DIR, replicate=PAGE_REP).select(
        "page_id", "text"
    ).write.mode("overwrite").parquet(f"{work}/pages")
    import pyarrow.parquet as pq

    n_docs = sum(
        pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
        for dp, _d, fs in os.walk(f"{sf1}/documents.parquet")
        for f in fs
        if f.endswith(".parquet")
    )
    n_pages = pq.ParquetFile(f"{SF_DIR}/documents.parquet").metadata.num_rows * PAGE_REP

    def run_geo_pipeline() -> float:
        t0 = time.time()
        pages = spark.read.parquet(f"{work}/pages")
        pts_raw = extract.with_coords_arrow(
            pages.select("page_id", "text"), keep=["page_id"]
        ).filter(F.col("lat").isNotNull())
        pts_raw.write.mode("overwrite").parquet(f"{work}/pts")
        pts = spark.read.parquet(f"{work}/pts")
        joined = sj.spatial_join(pts, sj.polygons_df(spark)).select(
            "page_id", "feature_id"
        )
        stats_in = pts.select(
            "page_id",
            F.round(F.col("lat") * 10000).cast("bigint").alias("lat_s"),
            F.round(F.col("lon") * 10000).cast("bigint").alias("lon_s"),
            (F.col("page_id") % 100).alias("m100"),
        )
        tstats = tiles_op.tile_stats(stats_in, 8, measure_col="m100")
        res = {}
        ts = [
            threading.Thread(target=lambda: materialize(joined)),
            threading.Thread(target=lambda: res.update(n=tstats.count())),
        ]
        for th in ts:
            th.start()
        for th in ts:
            th.join()
        return time.time() - t0

    def run_geo_knn() -> float:
        queries_df = spark.createDataFrame(
            synth.knn_query_points(), "qid long, qlat_s long, qlon_s long, k int"
        )
        pts = spark.read.parquet(f"{work}/pts")
        rep_pages = pts.select(
            "page_id",
            F.round(F.col("lat") * 10000).cast("bigint").alias("lat_s"),
            F.round(F.col("lon") * 10000).cast("bigint").alias("lon_s"),
        )
        spark.catalog.clearCache()
        t0 = time.time()
        materialize(knn_op.knn_join(queries_df, rep_pages, k_max=5))
        return time.time() - t0

    SUITE = ["dedup_minhash_pairs", "dedup_simhash", "dedup_components"]
    walls: dict[str, list[float]] = {
        n: [] for n in ["geo_pipeline", "geo_knn", *SUITE]
    }
    for _rep in range(2):
        walls["geo_pipeline"].append(run_geo_pipeline())
        walls["geo_knn"].append(run_geo_knn())
        for name in SUITE:
            spark.catalog.clearCache()
            t0 = time.time()
            materialize(Q.SPARK_QUERIES[name](spark, sf1))
            walls[name].append(time.time() - t0)

    timings = {n: round(min(ws), 2) for n, ws in walls.items()}
    out = {
        "metric": "geoproc_spark sf1-scale top-5 walls",
        "unit": "sec",
        "queries": timings,
        "all_walls": {n: [round(w, 2) for w in ws] for n, ws in walls.items()},
        "n_docs_dedup_input": n_docs,
        "n_pages": n_pages,
        "cpus": CPUS,
        "doc_replicate": DOC_REP,
        "page_replicate": PAGE_REP,
    }
    print(json.dumps(out))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_r5_sf1.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
