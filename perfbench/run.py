#!/usr/bin/env python3
"""geoproc_spark benchmark: one workload per run, in its own cold local[4]
Spark session.

    python3 perfbench/run.py --workload geo_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from --seed; every
operation's result is checked against a numpy brute force. The last line
of standard output is one JSON object {correct, attempted, failed,
metrics}: with --trace 0 the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics, measured from Spark's event log and
spans around the engine's public calls. The line before it describes the
inputs and loop, and names each metric the way the layer table in
perfbench/README.md does.

Scratch files live under .perfbench_work/ (removed at exit); the traced
run leaves its spans in .perfbench_out/.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
MIN_PAIRS = 2  # traced runs measure at least this many traced/untraced pairs
CPUS = 4
UNTRACED_OFFSET = 1200  # a multiple of every workload's input cycle
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


# ------------------------------------------------------------- peak RSS
def _descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size from /proc/<pid>/smaps_rollup, in kB."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _rss_kb(pid: int) -> int:
    """Resident set size from /proc/<pid>/statm, in kB. Unlike
    smaps_rollup, reading it does not walk the page tables, which for a
    multi-GB JVM takes ~0.1 s and holds the JVM's memory-map lock."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


class MemSampler(threading.Thread):
    """Peak memory of this process's descendants: the Spark driver JVM's
    RSS plus the proportional set size (PSS) of the Python worker daemon
    and its forked workers, which share most of their pages. One sample
    costs a few ms of this process's time, every `period_s`."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb = self.peak_jvm_kb = self.peak_py_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            jvm = py = 0
            for p in _descendants(me):
                if _is_jvm(p):
                    jvm += _rss_kb(p)
                else:
                    py += _pss_kb(p)
            self.peak_kb = max(self.peak_kb, jvm + py)
            self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
            self.peak_py_kb = max(self.peak_py_kb, py)
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)

    def metrics(self) -> dict:
        return {
            "mem.peak_mb": self.peak_kb / 1024.0,
            "mem.jvm_peak_rss_mb": self.peak_jvm_kb / 1024.0,
            "mem.python_peak_pss_mb": self.peak_py_kb / 1024.0,
        }


# -------------------------------------------------------------- session
class Ctx:
    def __init__(self, workload: str, seed: int, work: str, tracer):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None


def start_spark(ctx: Ctx, eventlog_dir: str | None):
    from geoproc_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                # one plain file (Spark 4 rolls event logs by default)
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + eventlog_dir,
            }
        )
    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = session.get_spark(
            app_name=f"perfbench-{ctx.workload}",
            master=f"local[{CPUS}]",
            shuffle_partitions=CPUS,
            extra_conf=conf,
        )
    return time.perf_counter() - t0


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM (and with it the Python worker daemon)
    and wait until every process this run started has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    # the next get_spark() launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------- tracing
def install_tracing(tracer) -> None:
    """Spans around the public calls of each engine layer the workloads
    reach; cache swaps and releases are also counted."""
    from geoproc_spark import image
    from geoproc_spark.operators import _cache, knn, spatial_join, tiles
    from geoproc_spark.plans import pipeline
    from geoproc_spark.sources import tableformat

    def stage_attr(*_a, **kw):
        return {"stage": (kw.get("summary") or {}).get("stage")}

    tracer.wrap(pipeline.Pipeline, "run", "pipeline.run")
    tracer.wrap(tableformat, "write_table", "tableformat.write_table", attrs=stage_attr)
    tracer.wrap(tableformat, "read_table", "tableformat.read_table")
    tracer.wrap(spatial_join, "spatial_join", "spatial_join.spatial_join")
    tracer.wrap(tiles, "tile_stats", "tiles.tile_stats")
    tracer.wrap(knn, "knn_join", "knn.knn_join")
    for attr in ("load", "from_array", "from_df", "tile", "render_png", "export"):
        tracer.wrap(image.Image, attr, f"image.{attr}")

    swapped_keys = set()

    def swap_cache_seen(key, _df):
        tracer.count("cache.swaps")
        if key in swapped_keys:  # a repeat swap releases the previous holder
            tracer.count("cache.releases")
        swapped_keys.add(key)

    def release_seen(*_a, **_k):
        tracer.count("cache.releases")

    tracer.wrap(_cache, "swap_cache", "cache.swap_cache", before=swap_cache_seen)
    tracer.wrap(_cache, "release", "cache.release", before=release_seen)


# ------------------------------------------------------------------ loops
class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn, *args):
        """One checked operation; an exception or a wrong result counts as
        a failure (reported on stderr) and the run goes on."""
        self.attempted += 1
        try:
            out = fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        return out

    def verify(self, verify) -> bool:
        try:
            bad = verify()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = ["verification raised"]
        if bad:
            self.failed += 1
            print("WRONG RESULT: " + "; ".join(bad), file=sys.stderr)
            return False
        return True


def timed_op(w, tracer, tally: Tally, i: int, rec: dict):
    """Run op i in an "op" span; fills rec with its timing and items and
    returns its verify callable (None if the op raised). The reply time
    `t_end` is taken as soon as the op returns, before any checking."""
    def timed():
        with tracer.span("op", index=i) as sp:
            t0 = time.perf_counter()
            items, verify = w.op(i)
            rec["t_end"] = time.perf_counter()
        rec.update(dt=rec["t_end"] - t0, span=sp, items=items, i=i, traced=tracer.enabled)
        return verify

    return tally.run(timed)


class Schedule:
    """Which op index the k-th operation of a loop runs, and whether it is
    traced. Untraced runs go through consecutive indices. Traced runs
    measure pairs: the same input once traced (index i) and once not
    (i + UNTRACED_OFFSET), in alternating order, for trace.overhead_pct."""

    def __init__(self, w, tracer, paired: bool):
        self.tracer, self.first, self.paired = tracer, w.warmup_ops, paired
        self.step = 2 if paired else 1
        self.min_ops = 2 * MIN_PAIRS if paired else 1

    def start(self, k: int) -> int:
        if not self.paired:
            return self.first + k
        j, second = divmod(k, 2)
        traced = second == (j % 2)  # pair 0: traced first; pair 1: untraced first
        self.tracer.set_active(traced)
        return self.first + j + (0 if traced else UNTRACED_OFFSET)


def closed_loop(w, tally: Tally, seconds: float, sched: Schedule) -> list[dict]:
    """One client: the next operation starts when the previous one ended.
    A new operation (a new pair, traced) starts only while it is expected
    to end inside the window; at least sched.min_ops are attempted."""
    done: list[dict] = []
    t_start = time.perf_counter()
    for k in itertools.count():
        if k % sched.step == 0 and k >= sched.min_ops:
            est = statistics.median([d["dt"] for d in done]) if done else 0.0
            if time.perf_counter() - t_start + est * sched.step > seconds:
                break
        i = sched.start(k)
        w.prepare(i)
        rec = {"k": k}
        verify = timed_op(w, sched.tracer, tally, i, rec)
        if verify is not None and tally.verify(verify):
            rec["latency"] = rec["dt"]
            done.append(rec)
    return done


def open_loop(w, tally: Tally, seconds: float, sched: Schedule) -> list[dict]:
    """One sender thread sends request k at t0 + k / rate whatever the
    previous reply took. Latency counts from the request's due time to its
    reply, so a slow reply also delays (and is charged to) the requests
    behind it. Replies are checked after the loop, off the sender's clock."""
    period = 1.0 / w.rate_per_s
    n = max(int(seconds * w.rate_per_s) + 1, sched.min_ops)
    n += n % sched.step
    sent: list[tuple[dict, object]] = []
    t_start = time.perf_counter()
    for k in range(n):
        due = t_start + k * period
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        i = sched.start(k)
        rec = {"k": k, "late": time.perf_counter() - due}
        w.prepare(i)
        verify = timed_op(w, sched.tracer, tally, i, rec)
        if verify is not None:
            rec["latency"] = rec["t_end"] - due
            sent.append((rec, verify))
    return [rec for rec, verify in sent if tally.verify(verify)]


def measure(w, tracer, tally: Tally, seconds: float, paired: bool) -> list[dict]:
    loop = open_loop if w.loop == "open" else closed_loop
    return loop(w, tally, seconds, Schedule(w, tracer, paired))


def overhead_pct(done: list[dict]) -> tuple[float, int]:
    """Median over complete pairs of traced / untraced op time, as a
    percentage above 1; also the number of pairs."""
    pairs: dict[int, dict] = {}
    for d in done:
        pairs.setdefault(d["k"] // 2, {})[d["traced"]] = d["dt"]
    ratios = [p[True] / p[False] for p in pairs.values() if len(p) == 2]
    return ((statistics.median(ratios) - 1.0) * 100.0 if ratios else 0.0), len(ratios)


def set_up(w, tracer, tally: Tally) -> tuple[float, float, list[float]]:
    """SETUP_ROUNDS rounds of ingest of the generated inputs (median round
    time) plus the warm-up operations (their checks not timed); returns
    (setup_s, ingest_s, warm-up op times)."""
    rounds, ingests = [], []
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        with tracer.span("setup_round", round=r):
            ingests.append(w.setup_round(r))
        rounds.append(time.perf_counter() - t0)
    w.build_oracle()
    warm = []
    for i in range(w.warmup_ops):
        w.prepare(i)
        rec = {}
        verify = timed_op(w, tracer, tally, i, rec)
        if verify is not None:
            warm.append(rec["dt"])
            tally.verify(verify)
    return statistics.median(rounds) + sum(warm), statistics.median(ingests), warm


def e2e_metrics(w, done: list[dict], setup_s: float, ingest_s: float) -> dict:
    lat = [d["latency"] for d in done]
    busy = sum(d["dt"] for d in done)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) >= 2 else (lat[0] if lat else 0.0),
        "items_per_s": sum(d["items"] for d in done) / busy if busy else 0.0,
        "ingest_s": ingest_s,
    }


NAMED = {
    "geo_batch": {"geo_pages_per_s": "items_per_s", "geo_pass_p50_s": "op_p50_s"},
    "knn_calls": {"knn_call_p50_s": "op_p50_s", "knn_call_p90_s": "op_p90_s"},
    "tile_serve": {
        "tile_p50_ms": "op_p50_s",
        "tile_p90_ms": "op_p90_s",
        "raster_export_s": "ingest_s",
    },
}


def named_metrics(workload: str, m: dict) -> dict:
    out = {}
    for name, src in NAMED[workload].items():
        out[name] = m[src] * 1000.0 if name.endswith("_ms") else m[src]
    return out


# ------------------------------------------------------------------- main
def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args, spec: dict, work: str) -> tuple[dict, dict, Tally]:
    import eventlog
    import layers
    import spans as tracing
    import workloads

    tracer = tracing.Tracer(enabled=bool(args.trace))
    ctx = Ctx(args.workload, args.seed, work, tracer)
    eventlog_dir = os.path.join(work, "eventlog") if args.trace else None
    tally = Tally()
    mem = MemSampler()
    mem.start()
    try:
        w = workloads.WORKLOADS[args.workload](ctx)
        # the seed's inputs are made (untimed, with numpy) while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            generated = pool.submit(w.generate)
            session_s = start_spark(ctx, eventlog_dir)
            generated.result()
        tracer.sc = ctx.spark.sparkContext
        if args.trace:
            install_tracing(tracer)
        setup_s, ingest_s, warm = set_up(w, tracer, tally)
        tracer.counts.clear()
        done = measure(w, tracer, tally, args.seconds, paired=bool(args.trace))
    finally:
        mem.stop()
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "loop": w.loop,
        "clients": 1,
        "rate_per_s": w.rate_per_s,
        "inputs": w.inputs(),
        "session_start_s": session_s,
        "warmup_op_s": [round(t, 4) for t in warm],
        **mem.metrics(),
    }
    if not args.trace:
        m = e2e_metrics(w, done, setup_s, ingest_s)
        info.update(
            ops_measured=len(done),
            op_latencies_s=[round(d["latency"], 4) for d in done],
            fail_ratio=tally.failed / max(tally.attempted, 1),
            op_p90_s=m["op_p90_s"],
            ingest_s=m["ingest_s"],
            named=named_metrics(args.workload, m),
        )
        if w.loop == "open":
            info["sender_late_ms_max"] = max((d["late"] for d in done), default=0.0) * 1000.0
        out = {k["name"]: m[k["name"]] for k in spec["end_to_end"]}
        return out, info, tally

    # traced run: per-layer metrics from the traced operations' spans and
    # the event log; the untraced twin of each pair gives the overhead
    tracer.unwrap_all()
    traced = [d for d in done if d["traced"]]
    kern = w.kernels()
    shutdown_jvm()
    groups = eventlog.parse_dir(eventlog_dir)
    per = {**layers.per_layer(w, tracer, groups, traced, kern), **mem.metrics()}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.json"))
    per["trace.overhead_pct"], n_pairs = overhead_pct(done)
    info.update(
        ops_measured=len(done),
        overhead_pairs=n_pairs,
        traced_op_p50_s=statistics.median([d["dt"] for d in traced]) if traced else 0.0,
        untraced_op_p50_s=statistics.median([d["dt"] for d in done if not d["traced"]] or [0.0]),
        fail_ratio=tally.failed / max(tally.attempted, 1),
    )
    out = {k["name"]: per.get(k["name"], 0.0) for k in spec["per_layer"]}
    return out, info, tally


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import geoproc_spark
    except ImportError as e:
        print(f"the geoproc_spark package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(geoproc_spark.__file__).startswith(ROOT + os.sep):
        print(f"geoproc_spark was imported from {geoproc_spark.__file__}, not {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file of this run, Spark's and the JVM's too, in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        metrics, info, tally = run(args, spec, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
