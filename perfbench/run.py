"""Benchmark entry point.

    python3 perfbench/run.py --workload mag_bibliometrics --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run: start a Spark session, derive
the workload's inputs from the seed, set up (layout, index) and run an
untimed warm pass -- all of that is ``setup_s`` -- then time the fixed
number of passes ``--seconds`` buys, check the outputs, and print one
JSON line last.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the same passes untraced and then traced and reports
the per-layer metrics, writing spans and the per-query breakdown under
``.perfbench_traces/``.  Everything the engine writes (inputs, outputs,
warehouse, checkpoints, Derby, temp files) lives under
``.perfbench_work/`` and is removed at exit; no bytecode is cached.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# no __pycache__ in the checkout, from this process or Spark's Python workers
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

from inputs import derive  # noqa: E402
from workloads import TINY, WORKLOADS, Ctx, OpResult  # noqa: E402

DRIVER_MEMORY = "2g"


def tail_percentile(values: list[float]) -> tuple[float, str]:
    """Highest whole percentile (nearest rank) with at least ten samples
    above it.  Below 21 samples that percentile is not above the median,
    so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    p = math.floor(100 * (n - 10) / n) if n > 10 else 0
    if p <= 50:
        return v[-1], f"p100 of {n}"
    return v[max(1, math.ceil(p * n / 100)) - 1], f"p{p} of {n}"


def start_spark(work: str, cores: int):
    from iconic_data_science_spark.session import get_spark

    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    # -XX:CompileThresholdScaling: JIT-compile hot code after a tenth of
    # the usual invocations, so the passes reach steady state sooner
    java_opts = (f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -XX:CompileThresholdScaling=0.1 "
                 f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.local.dir": f"{work}/local",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.streaming.checkpointLocation": f"{work}/checkpoints",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run_pass(ctx: Ctx, ops, label: str, order_seed: int) -> tuple[float, float, list[tuple[str, OpResult]], int]:
    """One closed-loop pass: the sequential ops one after another in a
    seeded order, then the concurrent ops (stream drains) all at once,
    waiting for every one.  Returns (wall_s, drain_s, results, failures),
    ``drain_s`` being the wall time of the concurrent phase."""
    ops = list(ops)
    random.Random(order_seed).shuffle(ops)

    def one(op) -> OpResult | None:
        if ctx.tracer is not None:
            ctx.tracer.query = next(ctx.state["query_ids"])
        try:
            return op.run(ctx, os.path.join(ctx.out, label, op.name))
        except Exception as exc:  # one failed operation must not end the run
            print(f"[perfbench] {label} {op.name} failed: {exc!r}"[:2000], file=sys.stderr)
            return None
        finally:
            sample_rss(ctx)
            if ctx.tracer is not None:
                ctx.tracer.query = None

    ctx.state.setdefault("query_log", [])
    ctx.state.setdefault("query_ids", itertools.count())
    t0 = time.perf_counter()
    done = [(op, one(op)) for op in ops if not op.concurrent]
    together = [op for op in ops if op.concurrent]
    t_drain = time.perf_counter()
    if together:
        with ThreadPoolExecutor(len(together)) as pool:
            done += list(zip(together, pool.map(one, together)))
    wall = time.perf_counter() - t0
    drain = time.perf_counter() - t_drain
    results = [(op.name, res) for op, res in done if res is not None]
    if ctx.tracer is not None:
        ctx.state["query_log"] += [{
            "pass": label, "query": name, "latency_s": res.latency_s,
            "batch_latencies_s": res.batch_latencies_s, "exchanges": res.exchanges,
        } for name, res in results]
    return wall, drain, results, len(done) - len(results)


def settle(spark) -> None:
    """Collect garbage in Python and in the JVM before a timed pass, so
    that Spark's cleaner drops the blocks and shuffle files of earlier
    passes now and not in the middle of a timed query."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1)  # the cleaner thread works through what was freed


def sample_rss(ctx: Ctx) -> None:
    """Track the peak of driver Python + JVM resident memory (timed passes only)."""
    if "rss_peak_mb" in ctx.state:
        rss = sum(rss_mb(pid) for pid in ctx.state["pids"])
        with ctx.state["rss_lock"]:
            ctx.state["rss_peak_mb"] = max(ctx.state["rss_peak_mb"], rss)


def warm_pass(ctx: Ctx, ops, threads: int) -> int:
    """Run every op once, ``threads`` at a time, untimed: loads classes,
    compiles and JITs the code paths the timed passes take.  Returns the
    number of ops that failed."""
    def one(op):
        try:
            op.run(ctx, os.path.join(ctx.out, "warm", op.name))
            return 0
        except Exception as exc:
            print(f"[perfbench] warm {op.name} failed: {exc!r}"[:2000], file=sys.stderr)
            return 1

    ctx.state["warm"] = True
    try:
        with ThreadPoolExecutor(threads) as pool:
            return sum(pool.map(one, ops))
    finally:
        ctx.state["warm"] = False


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmRSS for pid {pid}")


def sink_bytes(path: str) -> int:
    """Bytes of sink output under ``path``; streaming checkpoints and
    state-store files (the ``*.checkpoint`` directories) are not counted."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not any(p.endswith(".checkpoint") for p in os.path.relpath(d, path).split(os.sep)))


def latency_samples(results) -> tuple[list[float], list[float]]:
    """(query latencies, commit-unit latencies).  A query's latency is
    construct + sink write; the commit unit is the micro-batch where the
    workload streams, else the query's sink write."""
    lat = [r.latency_s for _, r in results if not r.progress]
    micro = [b for _, r in results if r.progress for b in r.batch_latencies_s]
    return lat, micro or [b for _, r in results for b in r.batch_latencies_s]


def rows_per_s(wall: float, drain: float, results) -> float:
    """Stream rows drained per second of one pass's drain phase.  A
    workload that drains no stream reports its queries' input rows (the
    rows of the tables each query reads) per second of pass wall time."""
    streamed = [r for _, r in results if r.progress]
    if streamed:
        return sum(r.input_rows for r in streamed) / drain
    return sum(r.input_rows for _, r in results) / wall


def end_to_end(setup_s, walls, drains, per_pass) -> dict[str, tuple[float, str]]:
    """Pass figures come from the fastest timed pass.  The first timed
    pass still carries some JIT warm-up, and on a shared host any one
    pass may meet a burst of load from other tenants."""
    best = min(range(len(walls)), key=walls.__getitem__)
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (walls[best], "s"),
        "rows_per_s": (rows_per_s(walls[best], drains[best], per_pass[best]), "1/s"),
    }


def per_layer(ctx: Ctx, counters_jobs, traced, untraced_walls, traced_walls) -> dict:
    import spans as tr

    passes = len(traced_walls)
    agg = tr.aggregate(ctx.tracer, counters_jobs, passes)
    out: dict[str, tuple[float, str]] = {}
    out["session.start_s"] = (ctx.state["session_start_s"], "s")
    out["magmap.bucket_write_s"] = (ctx.state.get("bucket_write_s", 0.0), "s")
    out["magmap.self_s"] = (agg.get("magmap.self_s", 0.0), "s")
    out["catalog.table_calls"] = (agg.get("catalog.table_calls", 0.0), "count")
    out["catalog.table_s"] = (agg.get("catalog.table_s", 0.0), "s")
    for k, unit in (("entry.construct_s", "s"), ("entry.construct_jobs", "count"),
                    ("entry.execute_s", "s")):
        out[k] = (agg.get(k, 0.0), unit)
    for layer in tr.OPERATOR_LAYERS:
        out[f"{layer}.self_s"] = (agg.get(f"{layer}.self_s", 0.0), "s")
        out[f"{layer}.jobs"] = (agg.get(f"{layer}.jobs", 0.0), "count")
    results = [r for _, r in traced]
    wall = sum(traced_walls)
    cores = ctx.state["cores"]
    out["exec.exchanges"] = (sum(r.exchanges for r in results) / passes, "count")
    out["exec.jobs"] = (agg.get("exec.jobs", 0.0), "count")
    out["exec.stages"] = (agg.get("exec.stages", 0.0), "count")
    out["exec.tasks"] = (agg.get("exec.tasks", 0.0), "count")
    out["exec.failed_tasks"] = (agg.get("exec.failed_tasks", 0.0), "count")
    out["exec.shuffle_write_bytes"] = (agg.get("exec.shuffle_write_bytes", 0.0), "B")
    out["exec.shuffle_read_bytes"] = (agg.get("exec.shuffle_read_bytes", 0.0), "B")
    out["exec.spill_bytes"] = (agg.get("exec.spill_mem_bytes", 0.0) + agg.get("exec.spill_disk_bytes", 0.0), "B")
    out["exec.input_bytes"] = (agg.get("exec.input_bytes", 0.0), "B")
    out["exec.executor_run_s"] = (agg.get("exec.executor_run_ms", 0.0) / 1e3, "s")
    out["exec.executor_cpu_s"] = (agg.get("exec.executor_cpu_ns", 0.0) / 1e9, "s")
    out["exec.gc_s"] = (agg.get("exec.gc_ms", 0.0) / 1e3, "s")
    out["exec.core_busy_ratio"] = (agg.get("exec.executor_run_ms", 0.0) * passes / 1e3 / (wall * cores), "ratio")

    progress = [p for r in results for p in r.progress]
    def mean_ms(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return (statistics.fmean(vals) if vals else 0.0, "ms")
    out["streaming.trigger_ms"] = mean_ms("triggerExecution")
    out["streaming.add_batch_ms"] = mean_ms("addBatch")
    out["streaming.query_planning_ms"] = mean_ms("queryPlanning")
    out["streaming.wal_commit_ms"] = mean_ms("walCommit")
    out["streaming.commit_offsets_ms"] = mean_ms("commitOffsets")
    out["streaming.batches"] = (len(progress) / passes, "count")
    ops = [o for p in progress for o in p.get("stateOperators", [])]
    final = [o for r in results if r.progress for o in r.progress[-1].get("stateOperators", [])]
    out["streaming.state_rows_total"] = (sum(o["numRowsTotal"] for o in final) / passes, "count")
    out["streaming.state_rows_updated"] = (sum(o["numRowsUpdated"] for o in ops) / passes, "count")
    out["streaming.state_rows_dropped_by_watermark"] = (
        sum(o.get("numRowsDroppedByWatermark", 0) for o in ops) / passes, "count")
    out["streaming.state_memory_bytes"] = (max((o["memoryUsedBytes"] for o in ops), default=0), "B")
    out["streaming.state_commit_ms"] = (sum(o.get("commitTimeMs", 0) for o in ops) / passes, "ms")

    written = ctx.state["traced_bytes_written"] / passes
    out["sinks.bytes_written"] = (written, "B")
    in_bytes = out["exec.input_bytes"][0]
    out["sinks.write_amplification"] = (written / in_bytes if in_bytes else 0.0, "ratio")
    out["jvm.heap_used_peak_mb"] = (ctx.state["heap_peak_mb"], "MB")
    out["storage.block_bytes"] = (ctx.state["block_bytes_peak"], "B")
    out["trace.overhead_s"] = (min(traced_walls) - min(untraced_walls), "s")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest input scale, for the self-test")
    args = ap.parse_args()
    w = WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{os.getpid()}")
    for sub in ("tmp", "local", "derby", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    sys.path.insert(0, ROOT)
    os.chdir(work)  # stray relative writes (spark-warehouse, derby.log) land here
    try:
        return run(args, w, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its directory there


def gate(ctx: Ctx, ops, last: dict[str, OpResult], threads: int) -> dict[str, str]:
    """Check each op's output from the last timed pass; {op: problem}."""
    def one(op):
        try:
            return op.name, op.check(ctx, last[op.name])
        except Exception as exc:  # a check that cannot run is a failed check
            return op.name, f"check raised {exc!r}"

    with ThreadPoolExecutor(threads) as pool:
        checked = pool.map(one, [op for op in ops if op.name in last])
        return {name: problem for name, problem in checked if problem}


def run(args, w, work: str) -> int:
    import __spark_entry__  # noqa: F401  -- fail fast without the engine
    import iconic_data_science_spark  # noqa: F401

    import spans as tr

    cores = len(os.sched_getaffinity(0))
    t_setup = time.perf_counter()
    spark = start_spark(work, cores)
    try:
        ctx = Ctx(spark, os.path.join(work, "data"), os.path.join(work, "out"))
        ctx.state["session_start_s"] = time.perf_counter() - t_setup
        ctx.state["cores"] = cores
        ctx.state["pids"] = (os.getpid(), int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()))
        tracer = None
        if args.trace:
            tracer = tr.Tracer(spark.sparkContext)
            tr.install(tracer)
        phases = {"session": ctx.state["session_start_s"]}
        t = time.perf_counter()
        ctx.state["table_rows"] = derive(args.seed, TINY if args.tiny else w.scale, ctx.data)
        phases["derive"] = time.perf_counter() - t
        ops = w.ops(ctx)
        t = time.perf_counter()
        if w.streams_only_setup:
            # what the set-up builds feeds only the streams: build it
            # while the batch ops warm up, then warm the streams
            batch = [op for op in ops if not op.concurrent]
            with ThreadPoolExecutor(1) as bg:
                built = bg.submit(w.setup, ctx)
                failed = warm_pass(ctx, batch, max(1, cores - 1))
                built.result()
            failed += warm_pass(ctx, [op for op in ops if op.concurrent], cores)
        else:
            w.setup(ctx)
            phases["layout"] = time.perf_counter() - t
            failed = warm_pass(ctx, ops, cores)
        phases["warm"] = time.perf_counter() - t
        attempted = len(ops)
        setup_s = time.perf_counter() - t_setup

        ctx.state["rss_lock"] = threading.Lock()
        ctx.state["rss_peak_mb"] = 0.0
        passes = max(2, round(args.seconds / 5))
        walls, drains, per_pass, results = [], [], [], []
        for i in range(passes):
            settle(spark)
            wall, drain, res, f = run_pass(ctx, ops, f"p{i}", args.seed * 1000 + i)
            walls.append(wall)
            drains.append(drain)
            per_pass.append(res)
            results += res
            failed += f
        attempted += passes * len(ops)
        metrics = end_to_end(setup_s, walls, drains, per_pass)
        metrics["peak_rss_mb"] = (ctx.state["rss_peak_mb"], "MB")

        if args.trace:
            ctx.tracer = tracer
            tracer.enabled = True
            counters = tr.StageCounters(spark.sparkContext)
            counters.read_new()  # drop the untraced passes' jobs
            tr.reset_heap_peaks(spark.sparkContext._jvm)
            traced_walls, traced, jobs = [], [], []
            block_peak = written = 0
            for i in range(passes):
                label = f"t{i}"
                settle(spark)
                wall, _, res, f = run_pass(ctx, ops, label, args.seed * 1000 + i)
                traced_walls.append(wall)
                traced += res
                failed += f
                attempted += len(ops)
                jobs += counters.read_new()
                block_peak = max(block_peak, tr.storage_block_bytes(spark.sparkContext))
                written += sink_bytes(os.path.join(ctx.out, label))
            tracer.enabled = False
            ctx.state["heap_peak_mb"] = tr.heap_used_peak_mb(spark.sparkContext._jvm)
            ctx.state["block_bytes_peak"] = block_peak
            ctx.state["traced_bytes_written"] = written
            layer_metrics = per_layer(ctx, jobs, traced, walls, traced_walls)
            ctx.tracer = None
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
            stem = os.path.join(ROOT, ".perfbench_traces", f"{w.name}-seed{args.seed}-{os.getpid()}")
            tracer.dump(stem + ".spans.jsonl")
            with open(stem + ".queries.json", "w") as f:
                json.dump(ctx.state["query_log"], f, indent=1)

        # correctness gate: outside every timed region, on the last timed pass
        t = time.perf_counter()
        mismatches = gate(ctx, ops, dict(res), cores)
        phases["gate"] = time.perf_counter() - t
        failed += len(mismatches)
        attempted += len(ops)
    finally:
        stop_spark(spark)

    for name, problem in mismatches.items():
        print(f"[perfbench] gate mismatch {name}: {problem}", file=sys.stderr)
    lat, blat = latency_samples(results)
    summary = {k: f"{v:.4g} {u}" for k, (v, u) in metrics.items()}
    summary["latency_p50_s"] = f"{statistics.median(lat):.4g} s"
    summary["latency_tail_s"] = f"{tail_percentile(lat)[0]:.4g} s ({tail_percentile(lat)[1]})"
    summary["batch_latency_p50_s"] = f"{statistics.median(blat):.4g} s"
    summary["batch_latency_tail_s"] = f"{tail_percentile(blat)[0]:.4g} s ({tail_percentile(blat)[1]})"
    summary["failed_ratio"] = f"{failed / attempted:.4g} ratio"
    summary["pass_s"] = [round(x, 3) for x in walls]
    summary["latency_s"] = {name: round(r.latency_s, 3) for name, r in results}
    summary["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
    if args.trace:
        summary["trace.overhead_s"] = f"{layer_metrics['trace.overhead_s'][0]:.4g} s"
        metrics = layer_metrics
    print(f"[perfbench] {w.name} seed={args.seed} " + json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
