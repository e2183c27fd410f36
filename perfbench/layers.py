"""Per-layer metrics of a traced run.

Spark work is attributed through job groups: every traced call runs
under the group `<span name>#<span id>`, so the event-log totals of a
span's subtree are the work that call (and the calls it made) started.
Per-operation figures are means over the measured operations. A layer the
workload does not reach reports 0.
"""

from __future__ import annotations

import statistics

import eventlog


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def subtree_stats(tracer, roots: list[dict], groups) -> eventlog.GroupStats:
    seen, total = set(), eventlog.GroupStats()
    for root in roots:
        for s in tracer.subtree(root):
            if s["id"] not in seen:
                seen.add(s["id"])
                st = groups.get(tracer.group_of(s))
                if st is not None:
                    total.add(st)
    return total


def _geo(w, tracer, groups, done) -> dict:
    n = len(done)
    spans = [s for d in done for s in tracer.subtree(d["span"])]

    def named(name, stage=None):
        return [s for s in spans if s["name"] == name and (stage is None or s.get("stage") == stage)]

    walls = [w.stage_walls[d["i"]] for d in done]
    out = {}
    for stage in ("extract", "pip_join", "tile_stats"):
        out[f"pipeline.{stage}.wall_s"] = statistics.mean(m[stage]["wall_ms"] for m in walls) / 1000.0
        out[f"pipeline.{stage}.rows_out"] = walls[-1][stage]["output_rows"]
    out["pipeline.outside_stages_s"] = statistics.mean(
        d["dt"] - sum(m["wall_ms"] for m in wl.values()) / 1000.0 for d, wl in zip(done, walls)
    )
    ex = subtree_stats(tracer, named("tableformat.write_table", "extract"), groups)
    out["extract.py_bytes_sent"] = ex.py_bytes_sent / n
    out["extract.py_bytes_returned"] = ex.py_bytes_returned / n
    out["extract.py_worker_start_s"] = ex.py_worker_start_ms / 1000.0 / n
    out["extract.task_run_s"] = ex.run_ms / 1000.0 / n
    last = walls[-1]["extract"]
    out["extract.keep_ratio"] = last["output_rows"] / max(last["input_rows"], 1)
    out["tableformat.write_s"] = sum(_dur(s) for s in named("tableformat.write_table")) / n
    out["tableformat.read_s"] = sum(_dur(s) for s in named("tableformat.read_table")) / n
    out["tableformat.bytes_written"] = statistics.mean(
        sum(f["bytes"] for m in wl.values() for f in m["files"]) for wl in walls
    )
    out["tableformat.files_written"] = statistics.mean(
        sum(m["n_files"] for m in wl.values()) for wl in walls
    )
    sj_calls = named("spatial_join.spatial_join")
    sj = subtree_stats(tracer, sj_calls + named("tableformat.write_table", "pip_join"), groups)
    out["spatial_join.driver_prep_s"] = sum(_dur(s) for s in sj_calls) / n
    out["spatial_join.shuffle_bytes"] = sj.shuffle_write_bytes / n
    out["spatial_join.py_bytes_sent"] = sj.py_bytes_sent / n
    out["spatial_join.task_run_s"] = sj.run_ms / 1000.0 / n
    ti = subtree_stats(
        tracer, named("tiles.tile_stats") + named("tableformat.write_table", "tile_stats"), groups
    )
    out["tiles.shuffle_bytes"] = ti.shuffle_write_bytes / n
    out["tiles.task_run_s"] = ti.run_ms / 1000.0 / n
    return out


def _knn(w, tracer, groups, done) -> dict:
    n = len(done)
    per_call = [subtree_stats(tracer, [d["span"]], groups) for d in done]
    swaps = [s for d in done for s in tracer.subtree(d["span"]) if s["name"] == "cache.swap_cache"]
    return {
        "knn.jobs_per_call": statistics.mean(st.jobs for st in per_call),
        "knn.stages_per_call": statistics.mean(st.stages for st in per_call),
        "knn.tasks_per_call": statistics.mean(st.tasks for st in per_call),
        "knn.driver_s_per_call": statistics.mean(
            d["dt"] - eventlog.busy_ms(st.job_spans) / 1000.0 for d, st in zip(done, per_call)
        ),
        "knn.shuffle_bytes_per_call": statistics.mean(st.shuffle_write_bytes for st in per_call),
        "cache.swaps_per_call": tracer.counts["cache.swaps"] / n,
        "cache.swap_s": sum(_dur(s) for s in swaps) / n,
        "cache.releases": tracer.counts["cache.releases"],
    }


def _tile(w, tracer, groups, done) -> dict:
    n = len(done)
    st = subtree_stats(tracer, [d["span"] for d in done], groups)
    return {
        "image.plan_s_per_tile": statistics.mean(w.plan_s[d["i"]] for d in done),
        "image.jobs_per_tile": st.jobs / n,
        "image.tasks_per_tile": st.tasks / n,
        "image.input_bytes_per_tile": st.input_bytes / n,
        "image.py_worker_start_s": st.py_worker_start_ms / 1000.0 / n,
        "tile_serve.sender_late_ms": statistics.mean(d["late"] for d in done) * 1000.0,
        "image.from_array_s": statistics.median(w.from_array_s),
        "image.export_write_s": statistics.median(w.export_write_s),
        "image.export_bytes": w.export_bytes,
    }


_BY_WORKLOAD = {"geo_batch": _geo, "knn_calls": _knn, "tile_serve": _tile}


def per_layer(w, tracer, groups, done: list[dict], kernels: dict) -> dict:
    if not done:
        return dict(kernels)
    n = len(done)
    total = subtree_stats(tracer, [d["span"] for d in done], groups)
    out = {
        "spark.gc_s": total.gc_ms / 1000.0 / n,
        "spark.executor_cpu_s": total.cpu_ns / 1e9 / n,
        **kernels,
    }
    out.update(_BY_WORKLOAD[w.name](w, tracer, groups, done))
    return out
