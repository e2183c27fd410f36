"""The benchmark's workloads.

Each workload drives only the engine's public entry points:

- geo_batch:  `plans.pipeline.Pipeline.run` over the shipped
  `plans.geo_run` stages (extract -> pip_join -> tile_stats), each stage
  written as a `sources.tableformat` snapshot, over a pages snapshot
  ingested in set-up;
- knn_calls:  `operators.knn.knn_join` calls over a points table ingested
  in set-up, one seeded query set per call;
- tile_serve: `image.Image.from_array` -> `export` in set-up (the raster
  write side), then single-tile requests `load` -> band math -> `tile` ->
  `render_png` -> collect.

A workload makes its inputs from the seed once, in `generate` (untimed:
this is the benchmark's work, not the engine's; it runs while the Spark
session starts, so it must not use the session), ingests them into the
engine in each `setup_round`, and runs one operation per `op` call. An
operation returns the number of items it processed plus a `verify`
callable the harness runs outside the timing.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import check
import gen


def write_parts(table, out_dir: str, parts: int = 4) -> None:
    """Write a pyarrow table as `parts` parquet files (one input split each)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i}.parquet"))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _sub, fs in os.walk(path) for f in fs
    )


def snapshot_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a tableformat snapshot, read with pyarrow outside Spark."""
    from geoproc_spark.sources import tableformat as tf

    m = tf.read_manifest(path)
    t = pq.ParquetDataset([os.path.join(path, f["path"]) for f in m["files"]]).read(columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


class Workload:
    name = ""
    loop = "closed"
    rate_per_s: float | None = None
    warmup_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.base = os.path.join(ctx.work, self.name)
        os.makedirs(self.base, exist_ok=True)

    @property
    def spark(self):
        return self.ctx.spark

    def generate(self) -> None:
        """Make this seed's inputs with numpy/pyarrow, once per run."""
        raise NotImplementedError

    def setup_round(self, r: int) -> float:
        """Ingest the generated inputs into the engine; returns the ingest
        seconds. Each round replaces the previous round's tables."""
        raise NotImplementedError

    def build_oracle(self) -> None:
        """Expected results for the final round's inputs (not timed)."""

    def prepare(self, i: int) -> None:
        """Untimed per-operation preparation."""

    def op(self, i: int):
        raise NotImplementedError

    def inputs(self) -> dict:
        raise NotImplementedError

    def kernels(self) -> dict:
        """Kernel throughput without Spark, on this workload's data."""
        return {}


# --------------------------------------------------------------- geo_batch
class GeoBatch(Workload):
    name = "geo_batch"
    # The measured pass, the session's second, runs ~1.5 s slower than
    # later ones would; a second warm-up pass costs more run time than the
    # host's run-to-run spread leaves to gain.
    warmup_ops = 1
    # A warm pass costs ~6.9 s whatever the size, plus ~1.4 s per million
    # pages (4-core host): 80k -> 7.0 s, 320k -> 7.2 s, 1M -> 8.3 s. Larger
    # inputs do not fit the run's time budget.
    N_PAGES = 320_000

    def generate(self) -> None:
        self.pages = gen.pages(self.ctx.seed, self.N_PAGES)
        self.raw = os.path.join(self.base, "raw")
        write_parts(self.pages.table(), self.raw)

    def setup_round(self, r: int) -> float:
        from geoproc_spark.sources import tableformat as tf

        run_id = f"r{r}"
        shutil.rmtree(os.path.join(self.base, run_id), ignore_errors=True)
        t0 = time.perf_counter()
        tf.write_table(self.spark.read.parquet(self.raw), os.path.join(self.base, run_id, "pages"))
        ingest = time.perf_counter() - t0
        if r > 0:
            shutil.rmtree(os.path.join(self.base, f"r{r - 1}"), ignore_errors=True)
        self.run_id = run_id
        self.run_dir = os.path.join(self.base, run_id)
        return ingest

    def build_oracle(self) -> None:
        from geoproc_spark import synth
        from geoproc_spark.plans import geo_run

        self.oracle = check.GeoOracle(self.pages, synth.polygon_rings(), geo_run.TILE_ZOOM)
        self.stage_walls: dict[int, dict] = {}

    @staticmethod
    def _stages():
        from geoproc_spark.plans import geo_run
        from geoproc_spark.plans.pipeline import Stage

        def pages_missing(_spark, _inputs):
            raise RuntimeError("the pages snapshot must exist before a pass")

        return [
            Stage("pages", pages_missing),
            geo_run.stage_extract(),
            geo_run.stage_pip_join(),
            geo_run.stage_tile_stats(),
        ]

    def prepare(self, i: int) -> None:
        for s in ("extract", "pip_join", "tile_stats"):
            shutil.rmtree(os.path.join(self.run_dir, s), ignore_errors=True)

    def op(self, i: int):
        from geoproc_spark.plans.pipeline import Pipeline

        Pipeline(self.run_id, self.base).run(self.spark, self._stages())
        return self.N_PAGES, lambda: self._verify(i)

    def _verify(self, i: int) -> list[str]:
        import json

        with open(os.path.join(self.run_dir, "metrics.jsonl")) as fh:
            last = [json.loads(line) for line in fh.readlines()[-3:]]
        self.stage_walls[i] = {m["stage"]: m for m in last}
        d = self.run_dir
        return self.oracle.check(
            [r[0] for r in snapshot_rows(os.path.join(d, "extract"), ["page_id"])],
            snapshot_rows(os.path.join(d, "pip_join"), ["page_id", "feature_id"]),
            snapshot_rows(
                os.path.join(d, "tile_stats"),
                ["xt", "yt", "n_pages", "min_lat_s", "max_lat_s", "min_lon_s", "max_lon_s", "chk"],
            ),
        )

    def inputs(self) -> dict:
        p = self.pages
        return {
            "pages": int(len(p.page_id)),
            "geo_points": int(p.has_geo.sum()),
            "bytes": int(sum(len(t) for t in p.text) + sum(len(u) for u in p.url)),
            "geo_share": round(p.geo_share, 4),
            "hot_share": round(p.hot_share, 4),
        }

    def kernels(self) -> dict:
        import pandas as pd

        from geoproc_spark import synth
        from geoproc_spark.functions import cells, extract
        from geoproc_spark.operators import spatial_join as sj

        p = self.pages
        text = pd.Series(p.text)
        t0 = time.perf_counter()
        extract.extract_coords_udf.func(text)
        t_extract = time.perf_counter() - t0
        lat = p.lat_s[p.has_geo] / gen.SCALE
        lon = p.lon_s[p.has_geo] / gen.SCALE
        rings = [np.asarray(f["ring"], dtype=np.float64) for f in synth.polygon_rings()]
        t0 = time.perf_counter()
        for ring in rings:
            sj.points_in_ring_np(lon, lat, ring)
        t_pip = time.perf_counter() - t0
        t0 = time.perf_counter()
        cells.cell_id_np(lat, lon, 12)
        t_cell = time.perf_counter() - t0
        return {
            "kern.extract.rows_per_s": len(text) / t_extract,
            "kern.pip.rows_per_s": len(lat) * len(rings) / t_pip,
            "kern.cell_id.rows_per_s": len(lat) / t_cell,
        }


# --------------------------------------------------------------- knn_calls
class KnnCalls(Workload):
    name = "knn_calls"
    warmup_ops = 3
    N_POINTS = 200_000
    N_SETS = 12
    PER_SET = 24

    def generate(self) -> None:
        self.knn = gen.knn_inputs(self.ctx.seed, self.N_POINTS, self.N_SETS, self.PER_SET)
        self.raw = os.path.join(self.base, "raw")
        write_parts(self.knn.points_table(), self.raw)

    def setup_round(self, r: int) -> float:
        from geoproc_spark.sources import tableformat as tf

        path = os.path.join(self.base, f"points{r}")
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        manifest = tf.write_table(self.spark.read.parquet(self.raw), path)
        ingest = time.perf_counter() - t0
        if r > 0:
            shutil.rmtree(os.path.join(self.base, f"points{r - 1}"), ignore_errors=True)
        self.points_path = path
        self.n_points = manifest["total_rows"]
        return ingest

    def build_oracle(self) -> None:
        self.expected: dict[int, set] = {}

    def _expected(self, s: int) -> set:
        if s not in self.expected:
            k = self.knn
            self.expected[s] = check.knn_expected(k.page_id, k.lat_s, k.lon_s, k.query_sets[s])
        return self.expected[s]

    def op(self, i: int):
        from geoproc_spark.operators import knn as knn_op
        from geoproc_spark.sources import tableformat as tf

        s = i % self.N_SETS
        qs = self.knn.query_sets[s]
        queries = self.spark.createDataFrame(
            [tuple(int(v) for v in row) for row in qs],
            "qid long, qlat_s long, qlon_s long, k int",
        )
        points = tf.read_table(self.spark, self.points_path)
        rows = knn_op.knn_join(queries, points, n_pages=self.n_points).collect()
        got = [(r["qid"], r["page_id"], r["rank"]) for r in rows]
        return len(qs), lambda: check.check_knn(got, self._expected(s))

    def inputs(self) -> dict:
        return {
            "points": self.N_POINTS,
            "query_sets": self.N_SETS,
            "queries_per_call": self.PER_SET,
            "bytes": int(dir_bytes(self.points_path)),
        }


# -------------------------------------------------------------- tile_serve
class TileServe(Workload):
    name = "tile_serve"
    loop = "open"
    rate_per_s = 0.6
    warmup_ops = 3
    SIDE_PX = 384
    TILE_SIDE = 64
    N_REQUESTS = 400
    GAIN, OFFSET, RANGE = 1.5, -100.0, (0.0, 500.0)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.from_array_s: list[float] = []
        self.export_write_s: list[float] = []

    def generate(self) -> None:
        self.raster = gen.raster(self.ctx.seed, self.SIDE_PX, self.TILE_SIDE, self.N_REQUESTS)

    def setup_round(self, r: int) -> float:
        from geoproc_spark.image import Image

        path = os.path.join(self.base, f"raster{r}")
        shutil.rmtree(path, ignore_errors=True)
        ra = self.raster
        t0 = time.perf_counter()
        img = Image.from_array(self.spark, ra.array, ra.zoom, ra.x0, ra.y0, tile_side=ra.tile_side)
        t1 = time.perf_counter()
        img.export(path)
        t2 = time.perf_counter()
        if r > 0:
            shutil.rmtree(os.path.join(self.base, f"raster{r - 1}"), ignore_errors=True)
        self.raster_path = path
        self.from_array_s.append(t1 - t0)
        self.export_write_s.append(t2 - t1)
        self.export_bytes = dir_bytes(path)
        return t2 - t0

    def build_oracle(self) -> None:
        self.plan_s: dict[int, float] = {}

    def _request(self, i: int) -> tuple[int, int]:
        x, y = self.raster.requests[i % len(self.raster.requests)]
        return int(x), int(y)

    def op(self, i: int):
        from geoproc_spark.functions import png
        from geoproc_spark.image import Image

        t0 = time.perf_counter()
        x, y = self._request(i)
        img = Image.load(self.spark, self.raster_path)
        scaled = img * self.GAIN + self.OFFSET
        one = Image.from_df(scaled.tile(self.raster.zoom, x, y), scaled.n_bands, scaled.n_px)
        rendered = one.render_png(["B1", "B2", "B3"], self.RANGE)
        self.plan_s[i] = time.perf_counter() - t0
        with self.ctx.tracer.span("collect"):
            rows = [r["png"] for r in rendered.collect()]

        def verify():
            want = check.render_tile(self.raster, x, y, self.GAIN, self.OFFSET, *self.RANGE)
            return check.check_tile(rows, want, png.decode_png)

        return 1, verify

    def inputs(self) -> dict:
        ra = self.raster
        return {
            "raster_pixels": int(ra.array.shape[1] * ra.array.shape[2]),
            "bands": int(ra.array.shape[0]),
            "tiles": int(ra.tiles_x * ra.tiles_y),
            "bytes": int(self.export_bytes),
            "requests_scheduled": int(len(ra.requests)),
        }

    def kernels(self) -> dict:
        from geoproc_spark.functions import png

        ra = self.raster
        tiles = [
            check.render_tile(ra, ra.x0 + tx, ra.y0 + ty, self.GAIN, self.OFFSET, *self.RANGE)
            for ty in range(ra.tiles_y)
            for tx in range(ra.tiles_x)
        ]
        t0 = time.perf_counter()
        for rgb, alpha in tiles:
            png.encode_rgb_png(rgb, alpha)
        return {"kern.png.tiles_per_s": len(tiles) / (time.perf_counter() - t0)}


WORKLOADS = {w.name: w for w in (GeoBatch, KnnCalls, TileServe)}
