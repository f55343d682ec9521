"""Measurement helpers: sample statistics, process-tree CPU and memory, and
Spark runtime counters, all read from outside the engine.

CPU and RSS come from ``/proc``: the benchmark process, the Spark JVM it
launched and the JVM's Python workers are all its descendants. A reaped
child's CPU lands in its parent's ``cutime``/``cstime``, so summing
``utime+stime+cutime+cstime`` over the live tree loses nothing.

Spark counters come from the Spark driver's status store over py4j: the jobs of
one job group (``statusTracker().getJobIdsForGroup``), then each stage's
last attempt (``AppStatusStore.lastStageAttempt``).
"""

from __future__ import annotations

import os
import statistics

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest order statistic with at least ten
    samples beyond it; with fewer than 11 samples, the maximum."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n < 11:
        return 100.0, max(xs)
    k = n - 11
    return 100.0 * (k + 1) / n, sorted(xs)[k]


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """CPU seconds (user+system, own+reaped children) of the process tree."""
    total = 0
    for pid in pids or process_tree():
        f = _stat_fields(pid)
        if f:
            # utime, stime, cutime, cstime are fields 14..17 of stat(5)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def hwm_rss_mb() -> float:
    """Peak RSS (VmHWM) of the benchmark process plus the JVM, in MB."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as c:
                if pid != os.getpid() and c.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as s:
                for line in s:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
    return total / 2**20


# --------------------------------------------------------------------------
# Spark status store

SPARK_FIELDS = (
    "stages",
    "tasks",
    "single_task_stages",
    "busy_share",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "cached_rdds",
)


def drain_listener(sc) -> None:
    """Wait until the status store has seen every event posted so far, so
    the counters of a finished job are final when read."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def group_counters(sc, group: str, wall_s: float) -> dict[str, float]:
    """Exact counters of every stage that ran under job group ``group``.

    Skipped stages (reused shuffle output) do not count. ``busy_share`` is
    executor run time over wall time times cores: 1.0 means every core ran
    a task for the whole op."""
    drain_listener(sc)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    run_ms = 0
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store, or never submitted
            continue
        if st.status().toString() != "COMPLETE":
            continue
        n = st.numTasks()
        out["stages"] += 1
        out["tasks"] += n
        out["single_task_stages"] += n == 1
        run_ms += st.executorRunTime()
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    cores = sc.defaultParallelism
    out["busy_share"] = run_ms / 1e3 / max(wall_s * cores, 1e-9)
    out["cached_rdds"] = float(sc._jsc.getPersistentRDDs().size())
    return out
