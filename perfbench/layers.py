"""Measurement helpers: spans, Spark job counters and peak memory.

Everything here observes the engine from outside. Spans are recorded
around the benchmark's own calls into each layer; Spark counters are
read back from the live status store per job group after each call.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from pathlib import Path

JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names cut to 15 bytes
COUNTER_KEYS = (
    "jobs", "stages", "task_s", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Spans:
    """In-memory span log; written out once when the run ends."""

    t0: float = field(default_factory=time.perf_counter)
    records: list[dict] = field(default_factory=list)

    def record(self, name: str, start: float, end: float, parent: int | None, op: str, **counts) -> int:
        self.records.append({
            "id": len(self.records), "name": name, "op": op, "parent": parent,
            "start_s": start - self.t0, "end_s": end - self.t0, **counts,
        })
        return len(self.records) - 1

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.records))


class SparkCounters:
    """Job, stage and task counters of one job group, read from the
    AppStatusStore (available with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def read(self, group: str) -> dict:
        """Counters of every job submitted under ``group``. Waits for the
        listener bus first, so jobs that just ended are complete."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTER_KEYS, 0)
        out["jobs"] = len(jobs)
        no_status = self._gw.jvm.java.util.ArrayList()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def clear(self) -> None:
        self.sc._jsc.clearJobGroup()


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_peak_rss() -> None:
    """Restart this process's peak resident memory from its current size
    (Linux ``clear_refs``), so building inputs and twins does not count."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while being listed
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _ticks(stat_path: str, fields: slice) -> int:
    with open(stat_path) as f:
        v = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in v[fields])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads in process ``pid``."""
    ticks = 0
    for task in os.scandir(f"/proc/{pid}/task"):
        try:
            with open(f"{task.path}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    ticks += _ticks(f"{task.path}/stat", slice(11, 13))
        except OSError:
            continue
    return ticks


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process and its descendants have
    used, reaped children included, less the JIT compiler threads' time.
    Time the hypervisor steals from the vCPUs is charged to no process,
    so on a shared host this moves far less than wall time does; the JIT
    compiles in the background for a minute or more and would add a
    trend that is not the program's work."""
    ticks = 0
    for pid in _tree_pids(os.getpid()):
        try:
            ticks += _ticks(f"/proc/{pid}/stat", slice(11, 15)) - _jit_ticks(pid)
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs,
    summed over all of them (``steal`` of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM child
    (spark-submit execs java, so the gateway process is the JVM)."""
    pids = (os.getpid(), spark.sparkContext._gateway.proc.pid)
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0
