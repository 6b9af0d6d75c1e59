"""Link-graph benchmark for graph_partitioning_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run = one workload in a fresh Spark
session on ``local[<cpus>]``:

1. set-up: start the session, build the seeded input (three times, the
   median counts), load it, and run one untimed warm-up pass;
2. timed passes of the workload until ``--seconds`` have gone by (at least
   three); every pass releases what it created, and garbage is collected on
   both sides of py4j, before the next starts;
3. the last pass's outputs are checked against independent computations.

Human-readable lines go to stdout, then one JSON object as the last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run alternates untraced and traced passes; the
per-layer numbers come from the traced ones, and the ratio of their median
wall to the untraced median is reported as ``trace.overhead_ratio``.

The session is sized to the host through the engine's own environment
variables: ``SPARK_GRAFT_CPUS`` (usable CPUs) and ``SPARK_GRAFT_DRIVER_MEM``
(a quarter of MemTotal, at most 24g, fixed from the start with ``-Xms``).
Everything the run writes stays under ``.perfbench_work/`` in the repository
root and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import graph_partitioning_spark  # noqa: E402  (from this checkout, see main)
from graph_partitioning_spark.session import get_spark  # noqa: E402
from perfbench.trace import (  # noqa: E402
    RssSampler,
    StageReader,
    Tracer,
    median,
    per_layer_units,
    persistent_rdd_ids,
    tail,
    unpersist_rdds,
)
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_REPEATS = 3
MIN_PASSES = 3
DEADLINE_S = 170


def _host_env(work: str) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_gb = max(1, min(24, mem_kb // (4 * 1024 * 1024)))
    return {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(cpus)),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{mem_gb}g"),
        # Python workers import the engine from the repository root
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM spark-submit starts first writes /tmp/hsperfdata_* otherwise
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


class Context:
    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.abspath(graph_partitioning_spark.__file__).startswith(ROOT + os.sep):
        print("graph_partitioning_spark was not imported from this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    env = _host_env(work)
    os.environ.update(env)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)

    signal.signal(signal.SIGALRM, _on_deadline)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(DEADLINE_S)
    tr = Tracer()
    try:
        result = _run(args, work, env, tr)
    except Exception:
        # a failed engine call: report it as a failed run, not as a crash
        traceback.print_exc()
        result = {"correct": False, "attempted": max(tr.attempted, 1),
                  "failed": max(tr.failed, 1), "metrics": {}}
    finally:
        _stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def _run(args, work: str, env: dict[str, str], tr: Tracer) -> dict:
    rss = RssSampler()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a heap fixed at its maximum: a growing one made each pass of a
            # run faster than the one before
            "spark.driver.extraJavaOptions": (
                f"-Xms{env['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    rss.start()
    cores = int(env["SPARK_GRAFT_CPUS"])
    wl = WORKLOADS[args.workload](Context(spark, work, args.seed, cores))
    tr.spark = spark
    reader = StageReader(spark)

    builds = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.build()
        builds.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.load()
    load_s = time.perf_counter() - t
    t = time.perf_counter()
    before = persistent_rdd_ids(spark)
    wl.release(wl.run_pass(tr, 0))
    _leaks(spark, before)
    _collect_garbage(spark)
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(builds) + load_s + warm_s

    walls = {False: [], True: []}
    layers: list[dict[str, float]] = []
    partitions, prepares, supersteps, reports = [], [], [], {}
    throughputs = []
    phase_walls: dict[str, list[float]] = {}
    summaries, leaked = [], []
    start = time.perf_counter()
    index = 0
    while True:
        index += 1
        traced = bool(args.trace) and index % 2 == 0
        tr.reader = reader if traced else None
        tr.reset()
        before = persistent_rdd_ids(spark)
        t = time.perf_counter()
        out = wl.run_pass(tr, index)
        walls[traced].append(time.perf_counter() - t)
        partitions.append(out["partition_s"])
        for info in out["pr"]:
            prepares.append(info["prepare_sec"])
            supersteps.extend(info["iter_secs"][1:])
            if not traced:
                # a whole loop per sample: single supersteps alternate
                # between plain ones and ones that also truncate lineage
                throughputs.append(info["n_edges"] * info["iterations"] / info["loop_sec"])
        if not traced:
            for phase, acc in tr.phases.items():
                phase_walls.setdefault(phase, []).append(acc["wall_s"])
        for k, (v, unit) in out["report"].items():
            reports.setdefault(k, ([], unit))[0].append(v)
        summaries.append(out["summary"])
        if traced:
            m = tr.phase_metrics(cores)
            m["pagerank.prepare_s"] = sum(i["prepare_sec"] for i in out["pr"])
            m["pagerank.superstep_s"] = median([s for i in out["pr"] for s in i["iter_secs"][1:]])
            m["pagerank.iterations"] = float(sum(i["iterations"] for i in out["pr"]))
            m["components.iterations"] = float(out.get("cc_iters", 0))
            m.update(out.get("checkpoint", {}))
            m["metrics.cut.cut_ratio"] = out["cm"]["cut_ratio"] if "cm" in out else 0.0
            m["metrics.cut.waste"] = out.get("waste", 0.0)
            layers.append(m)
        done = time.perf_counter() - start >= args.seconds
        # traced runs bracket every traced pass between untraced ones
        if done and not traced and index >= MIN_PASSES and (walls[True] or not args.trace):
            break
        wl.release(out)
        leaked.append(_leaks(spark, before))
        _collect_garbage(spark)

    signal.alarm(0)
    errors = wl.check(out)
    if len(set(summaries)) > 1:
        errors.append(f"passes disagree: {sorted(set(summaries))}")
    wl.release(out)
    leaked.append(_leaks(spark, before))
    wl.close()
    rss.stop()

    run_walls = walls[False]
    peak_rss_mb = rss.peak_kb / 1024.0
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (median(run_walls), "s"),
        "edges_per_s_superstep": (median(throughputs), "1/s"),
    }
    failed = tr.failed + len(errors)
    lines = [
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"master=local[{cores}] SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} "
        f"SPARK_GRAFT_DRIVER_MEM={env['SPARK_GRAFT_DRIVER_MEM']}",
        f"  why: {wl.why}",
        f"  setup: session {session_s:.3f} s + input build median {statistics.median(builds):.3f} s "
        f"of {len(builds)} + load {load_s:.3f} s + warm-up pass {warm_s:.3f} s",
        _timing_line("pass wall (untraced)", run_walls) + f" {[round(w, 3) for w in run_walls]}",
        _timing_line("pagerank superstep", supersteps),
        _timing_line("pagerank prepare", prepares),
    ]
    lines.append("  phase wall medians: " + ", ".join(
        f"{p} {median(ws):.3f} s" for p, ws in phase_walls.items()))
    lines.append(f"  partition_s: {median(partitions):.6g} s (median of {len(partitions)})")
    for name, (vals, unit) in reports.items():
        lines.append(f"  {name}: {median(vals):.6g} {unit} (median of {len(vals)})")
    lines.append(f"  error_rate: {failed / max(tr.attempted, 1):.6g} ({failed} failed of {tr.attempted} calls)")
    lines.append(f"  cache.leaked_rdds per pass: {leaked}")
    lines.append(f"  peak_rss_mb (Spark JVM + Python workers): {peak_rss_mb:.1f} MB")
    lines += [f"  CHECK FAILED: {e}" for e in errors]
    if args.trace:
        units = per_layer_units()
        layer = {k: median([m.get(k, 0.0) for m in layers]) for k in units}
        layer["cache.leaked_rdds"] = float(max(leaked))
        layer["process.peak_rss_mb"] = peak_rss_mb
        layer["trace.overhead_ratio"] = median(walls[True]) / median(walls[False]) - 1.0
        lines.append(_timing_line("pass wall (traced)", walls[True]))
        reported = {k: (layer[k], units[k]) for k in units}
    else:
        reported = metrics
    for name, (value, unit) in metrics.items():
        lines.append(f"  {name}: {value:.6g} {unit}")
    print("\n".join(lines))
    return {
        "correct": not errors and tr.failed == 0,
        "attempted": tr.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }


def _leaks(spark, before) -> int:
    """Cached RDDs a pass left behind after the benchmark released every
    frame it owned; they are freed so the next pass starts clean."""
    left = persistent_rdd_ids(spark) - before
    unpersist_rdds(spark, left)
    return len(left)


def _collect_garbage(spark) -> None:
    """Collect garbage on both sides of py4j, so Spark's cleaner deletes the
    released pass's shuffle files now. Left for the JVM's own collections,
    they were deleted during later passes, once written back to disk, at
    several milliseconds a file."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _timing_line(name: str, xs: list[float]) -> str:
    if not xs:
        return f"  {name}: no samples"
    t = tail(xs)
    hi = f"p{t[0]:.1f} {t[1]:.4f} s" if t else "no tail percentile (fewer than 11 samples)"
    return f"  {name}: median {statistics.median(xs):.4f} s, {hi}, n={len(xs)}"


def _stop() -> None:
    """Stop the session, then the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
