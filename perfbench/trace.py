"""Measurement plumbing: per-call timing, Spark stage metrics, RSS, checkpoints.

Every engine call a workload makes goes through ``Tracer.call``. Untraced,
that is a wall-clock measurement and nothing else. Traced, each call gets
its own Spark job group, and after it returns the tracer reads the job
group's stages back from Spark's own status store (``AppStatusStore``,
populated even with ``spark.ui.enabled=false``), so no listener jar and no
change to the engine is needed.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError

from graph_partitioning_spark.checkpoint import CheckpointManager

PHASES = [
    "edges.extract_links",
    "edges.vertex_dict",
    "edges.extract_edges",
    "edges.undirect",
    "fennel.partition",
    "multilevel.refine",
    "metrics.cut",
    "pagerank.run",
    "components.run",
    "labelprop.run",
    "triangles.run",
]

STATS = {
    "wall_s": "s",
    "jobs": "count",
    "failed_tasks": "count",
    "shuffle_records": "count",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "executor_cpu_s": "s",
    "busy_ratio": "ratio",
    "task_skew": "ratio",
}

EXTRA = {
    "pagerank.prepare_s": "s",
    "pagerank.superstep_s": "s",
    "pagerank.iterations": "count",
    "components.iterations": "count",
    "checkpoint.save_s": "s",
    "checkpoint.load_s": "s",
    "checkpoint.bytes": "B",
    "checkpoint.resume_s": "s",
    "metrics.cut.cut_ratio": "ratio",
    "metrics.cut.waste": "ratio",
    "cache.leaked_rdds": "count",
    "process.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{p}.{s}": u for p in PHASES for s, u in STATS.items()}
    units.update(EXTRA)
    return units


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(q, value): the highest percentile with at least ten samples above
    it, or None when there are too few samples for one."""
    n = len(xs)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(xs)[n - 11]


class StageReader:
    """Reads finished stages of one job group from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm_sc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def group_stats(self, group: str) -> dict[str, float]:
        # status-store updates arrive on the listener bus asynchronously
        self.jvm_sc.listenerBus().waitUntilEmpty(30_000)
        store = self.jvm_sc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(
            ("jobs", "failed_tasks", "shuffle_records", "shuffle_bytes",
             "spill_bytes", "run_ms", "cpu_ns"), 0.0
        )
        skew_weighted = 0.0
        job_ids = list(tracker.getJobIdsForGroup(group))
        out["jobs"] = float(len(job_ids))
        seen: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage the store never saw submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                run_ms = float(st.executorRunTime())
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["run_ms"] += run_ms
                out["cpu_ns"] += st.executorCpuTime()
                skew_weighted += run_ms * self._stage_skew(store, sid, st.attemptId())
        out["skew_w"] = skew_weighted
        return out

    def _stage_skew(self, store, sid: int, attempt: int) -> float:
        summary = store.taskSummary(sid, attempt, self._quantiles)
        if summary.isEmpty():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 1.0


class Tracer:
    """Times every engine call; with a ``StageReader`` also tags each call
    with a job group and accumulates its stage metrics per phase."""

    def __init__(self):
        self.spark = None
        self.reader: StageReader | None = None
        self.seq = 0
        self.last_wall = 0.0
        self.attempted = 0
        self.failed = 0
        self.phases: dict[str, dict[str, float]] = {}

    def reset(self) -> None:
        self.phases = {}

    def call(self, phase: str, fn):
        """Run ``fn`` (one engine call plus the action that materializes its
        result), charged to ``phase``. Exceptions count as failures."""
        self.attempted += 1
        sc = self.spark.sparkContext
        group = None
        if self.reader is not None:
            self.seq += 1
            group = f"perfbench-{self.seq}"
            sc.setJobGroup(group, phase)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            raise
        finally:
            wall = time.perf_counter() - t0
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.last_wall = wall
        acc = self.phases.setdefault(phase, {"wall_s": 0.0})
        acc["wall_s"] += wall
        if group is not None:
            for k, v in self.reader.group_stats(group).items():
                acc[k] = acc.get(k, 0.0) + v
        return out

    def phase_metrics(self, cores: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in PHASES:
            acc = self.phases.get(p, {})
            wall, run_ms = acc.get("wall_s", 0.0), acc.get("run_ms", 0.0)
            out[f"{p}.wall_s"] = wall
            for stat in ("jobs", "failed_tasks", "shuffle_records", "shuffle_bytes", "spill_bytes"):
                out[f"{p}.{stat}"] = acc.get(stat, 0.0)
            out[f"{p}.executor_cpu_s"] = acc.get("cpu_ns", 0.0) / 1e9
            out[f"{p}.busy_ratio"] = run_ms / 1000.0 / (wall * cores) if wall > 0 else 0.0
            out[f"{p}.task_skew"] = acc["skew_w"] / run_ms if run_ms > 0 else 0.0
        return out


def persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def unpersist_rdds(spark, ids: set[int]) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(True)


class RssSampler(threading.Thread):
    """Samples the summed resident set of every process below this one
    (the Spark JVM, the Python worker daemon and its workers)."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, _descendant_rss_kb(os.getpid()))
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _descendant_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                ppid = kb = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = kb
    total, stack = 0, list(children.get(root, []))
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class TimedCheckpointManager(CheckpointManager):
    """A ``CheckpointManager`` that times ``save``/``load_states`` and sums
    the bytes each save writes. Passed to the engine through its public
    ``checkpointer=`` argument."""

    def __init__(self, base_dir: str, run_id: str):
        super().__init__(base_dir, run_id)
        self.save_s = 0.0
        self.load_s = 0.0
        self.loads = 0
        self.bytes = 0

    def save(self, step, states, counters, params=None):
        t0 = time.perf_counter()
        out = super().save(step, states, counters, params)
        self.save_s += time.perf_counter() - t0
        self.bytes += _tree_bytes(os.path.dirname(self._state_path(step, "x")))
        self.bytes += os.path.getsize(self._manifest_path(step))
        return out

    def latest_manifest_path(self) -> str:
        return self._manifest_path(self.latest_manifest()["superstep"])

    def load_states(self, spark, manifest):
        t0 = time.perf_counter()
        out = super().load_states(spark, manifest)
        self.load_s += time.perf_counter() - t0
        self.loads += 1
        return out


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
