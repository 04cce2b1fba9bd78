"""Outside-in collectors and the statistics the benchmark reports.

Everything here reads public surfaces of the running system: the JVM
status store (job-group stage rollups), ``StreamingQueryProgress``
dicts, the RDD storage list, ``/proc`` for the JVM's peak RSS and the
box.  The pure helpers at the top (percentiles, quartiles, the stage
rollup, progress medians) take plain Python values, so
``perfbench/tests`` pins them without a Spark session.
"""

from __future__ import annotations

import os
import platform
import statistics

#: Keys of one stage rollup, in the order reports print them.
ROLLUP_KEYS = (
    "jobs",
    "stages",
    "executor_run_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
)

#: ``StreamingQueryProgress.durationMs`` keys, by the name reports use.
DURATION_KEYS = {
    "trigger_ms": "triggerExecution",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def percentile(values, p: float) -> float:
    """``p``-th percentile (0-100) by linear interpolation between the
    closest ranks, numpy's default method."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them; one value is its own quartiles."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def rollup(jobs: int, stages: list[dict]) -> dict:
    """Fold per-stage task metrics into one record keyed by ROLLUP_KEYS.
    Peak execution memory is the largest stage's; the rest are sums."""
    out = dict.fromkeys(ROLLUP_KEYS, 0)
    out["jobs"] = jobs
    out["stages"] = len(stages)
    for s in stages:
        out["executor_run_ms"] += s["executor_run_ms"]
        out["jvm_gc_ms"] += s["jvm_gc_ms"]
        out["shuffle_read_bytes"] += s["shuffle_read_bytes"]
        out["shuffle_write_bytes"] += s["shuffle_write_bytes"]
        out["spill_bytes"] += s["spill_bytes"]
        out["peak_exec_mem_bytes"] = max(
            out["peak_exec_mem_bytes"], s["peak_exec_mem_bytes"]
        )
    return out


def offset_rows(offset) -> int:
    """Events an informer offset covers: the sum of its per-file counts
    (entries are ``[count, signature]``)."""
    if not offset:
        return 0
    files = offset.get("files", {}) if isinstance(offset, dict) else {}
    return sum(int(v[0] if isinstance(v, list) else v) for v in files.values())


def progress_medians(progress: list[dict]) -> dict:
    """Median over triggers of every DURATION_KEYS entry (0 when a
    trigger did not report the phase)."""
    out = {}
    for name, key in DURATION_KEYS.items():
        vals = [p.get("durationMs", {}).get(key, 0) for p in progress]
        out[name] = statistics.median(vals) if vals else 0.0
    return out


class StageCollector:
    """Job-group stage rollups from the JVM status store.

    ``tag(group)`` sets the job group for everything the calling thread
    runs next; ``rollup(group)`` waits for the listener bus to drain and
    folds the group's stages with ``statusStore().lastStageAttempt``.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def tag(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def _stage(self, sid: int) -> dict:
        d = self._jsc.statusStore().lastStageAttempt(sid)
        return {
            "executor_run_ms": d.executorRunTime(),
            "jvm_gc_ms": d.jvmGcTime(),
            "shuffle_read_bytes": d.shuffleReadBytes(),
            "shuffle_write_bytes": d.shuffleWriteBytes(),
            "spill_bytes": d.memoryBytesSpilled() + d.diskBytesSpilled(),
            "peak_exec_mem_bytes": d.peakExecutionMemory(),
        }

    def _rollup_jobs(self, job_ids) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        sids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(int(s) for s in info.stageIds)
        stages = []
        for s in sorted(sids):
            try:
                stages.append(self._stage(s))
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
        return rollup(len(job_ids), stages)

    def rollup(self, group: str) -> dict:
        return self._rollup_jobs(
            list(self._sc.statusTracker().getJobIdsForGroup(group))
        )

    def job_ids(self) -> set[int]:
        """Every job id the status store still holds."""
        self._jsc.listenerBus().waitUntilEmpty()
        it = self._jsc.statusStore().jobsList(None).iterator()
        ids = set()
        while it.hasNext():
            ids.add(int(it.next().jobId()))
        return ids

    def rollup_since(self, before: set[int]) -> dict:
        """Rollup of every job that started after ``before`` was taken."""
        return self._rollup_jobs(sorted(self.job_ids() - before))

    def cached_blocks(self) -> int:
        """RDD blocks (cached partitions) the block managers hold now."""
        return sum(
            int(r.numCachedPartitions()) for r in self._jsc.getRDDStorageInfo()
        )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def box() -> dict:
    """What the run ran on: cores, RAM and load average at start."""
    info = {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "loadavg_at_start": os.getloadavg()[0],
    }
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                info["mem_total_mb"] = int(line.split()[1]) // 1024
    return info


def spark_box(spark) -> dict:
    """The session half of the box block: Spark version, master, heap."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return {
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
        "driver_memory_conf": spark.conf.get("spark.driver.memory", None),
        "jvm_max_heap_mb": int(rt.maxMemory()) // (1024 * 1024),
    }
