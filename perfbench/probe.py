"""Measurement helpers that look at the engine from outside.

Nothing here changes what the engine does. Stage metrics come from
Spark's status store (the AppStatusStore the UI would read; it is kept
with ``spark.ui.enabled=false`` too) for the jobs of one job group;
streaming durations come from ``StreamingQueryListener`` progress
events; memory comes from ``/proc``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class StageMetrics:
    """Sums of stage metrics over the jobs of a Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def _settle(self) -> None:
        # status-store updates arrive through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    @contextmanager
    def group(self, name: str):
        """Run the body under job group ``name``."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def totals(self, group: str) -> dict:
        self._settle()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        out = dict(jobs=len(job_ids), task_s=0.0, gc_s=0.0, spill_bytes=0,
                   shuffle_write_bytes=0, input_bytes=0)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["task_s"] += st.executorRunTime() / 1000.0
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
        return out


def files_scanned(df) -> int:
    """Files the executed plan's parquet scans read, after partition
    pruning (the ``numFiles`` SQL metric of each FileSourceScanExec)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    files = 0
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            files += int(node.metrics().apply("numFiles").value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return files


class ProgressLog(StreamingQueryListener):
    """Collects the progress events of every streaming query."""

    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def wait_for(self, n: int, timeout_s: float = 10.0) -> None:
        deadline = time.monotonic() + timeout_s
        while len(self.progress) < n and time.monotonic() < deadline:
            time.sleep(0.02)


def _proc_kb(path: str, field: str) -> int:
    """The kB value of ``field`` in a /proc key-value file, 0 if absent
    (a process that has exited)."""
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the JVM plus its Python workers: the
    sum of each live process's high-water mark (VmHWM)."""
    kb = sum(_proc_kb(f"/proc/{p}/status", "VmHWM") for p in [jvm_pid, *_descendants(jvm_pid)])
    return kb / 1024.0


def host_stamp() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return {
        # CPU seconds, summed over the virtual CPUs since boot, in which
        # the hypervisor ran something else (0 on bare metal)
        "steal_s": int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _proc_kb("/proc/meminfo", "MemTotal") // 1024,
        "mem_available_mb": _proc_kb("/proc/meminfo", "MemAvailable") // 1024,
        "loadavg": load,
    }

