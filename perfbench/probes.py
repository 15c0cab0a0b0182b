"""Outside-in probes: process-tree CPU and RSS from /proc, host steal
from /proc/stat, and per-job / per-stage Spark metrics from the
driver's status store."""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from typing import Dict, List, Optional, Tuple

KINDS = ("driver", "jvm", "pyworker")
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[Tuple[str, List[str]]]:
    """(comm, fields after comm) of /proc/<pid>/stat, or None once the
    process is gone. fields[0] is the state, [1] the ppid, [11:15]
    utime, stime, cutime, cstime and [21] the rss in pages."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split on the last ')'
    rp = raw.rfind(")")
    return raw[raw.find("(") + 1 : rp], raw[rp + 2 :].split()


def _read_stat(pid: int) -> Optional[Tuple[int, str, float, int]]:
    """(ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    st = _stat(pid)
    if st is None:
        return None
    comm, fields = st
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), comm, cpu, int(fields[21]) * _PAGE


class ProcessTree:
    """The benchmark process and its descendants, split into three
    kinds: the driver (this Python process and helpers that are not
    the JVM), the Spark JVM, and Python workers under the JVM.

    A process's CPU counts its own time plus that of children it has
    reaped, so a worker that exits moves its time into its parent and
    the per-kind totals stay monotone."""

    def __init__(self):
        self.root = os.getpid()

    def _scan(self):
        stats = {}
        children: Dict[int, List[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _read_stat(int(name))
            if st is None:
                continue
            stats[int(name)] = st
            children.setdefault(st[0], []).append(int(name))
        return stats, children

    def descendants(self) -> List[int]:
        _, children = self._scan()
        out, stack = [], list(children.get(self.root, ()))
        while stack:
            pid = stack.pop()
            out.append(pid)
            stack.extend(children.get(pid, ()))
        return out

    def sample(self) -> Tuple[Dict[str, float], float]:
        """({kind: cpu seconds}, summed rss bytes) of the tree now."""
        stats, children = self._scan()
        cpu = dict.fromkeys(KINDS, 0.0)
        rss = 0.0
        if self.root not in stats:
            return cpu, rss
        stack = [(self.root, "driver")]
        while stack:
            pid, kind = stack.pop()
            _, comm, secs, rbytes = stats[pid]
            if pid == self.root:
                # own time only: the JVM is this process's child but
                # is counted as its own kind
                secs = _own_cpu(pid)
            cpu[kind] += secs
            rss += rbytes
            for c in children.get(pid, ()):
                stack.append((c, _child_kind(kind, stats[c][1])))
        return cpu, rss


def _child_kind(parent_kind: str, comm: str) -> str:
    if comm == "java":
        return "jvm"
    if parent_kind in ("jvm", "pyworker"):
        return "pyworker"
    return "driver"


def _own_cpu(pid: int) -> float:
    fields = _stat(pid)[1]
    return (int(fields[11]) + int(fields[12])) / _TICK


def wait_gone(pids: List[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited (or is a zombie), then SIGKILL
    any that remain and wait for those too."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _running(p)]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        if alive:
            time.sleep(0.1)


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1][0] != "Z"


def host_steal_jiffies() -> int:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


class PeakRss:
    """Background sampler of the process tree's summed RSS, every
    INTERVAL_S. Reads /proc only; stop() joins the thread."""

    INTERVAL_S = 0.5

    def __init__(self, tree: ProcessTree):
        self.tree = tree
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            _, rss = self.tree.sample()
            self.peak = max(self.peak, rss)
            self._stop.wait(self.INTERVAL_S)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


# stage fields summed per op; times in ms unless noted
STAGE_SUMS = {
    "executorRunTime": "spark.executor_run_ms",
    "jvmGcTime": "spark.gc_ms",
    "inputRecords": "spark.input_records",
    "inputBytes": "spark.input_bytes",
    "shuffleReadBytes": "spark.shuffle_read_bytes",
    "shuffleWriteBytes": "spark.shuffle_write_bytes",
    "numTasks": "spark.tasks",
    "outputBytes": "spark.output_bytes",
}


class SparkStatus:
    """Reads jobs and stages from the driver's status store as JSON,
    one py4j call per list, through Spark's own Jackson mapper."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )
        self._jvm = jvm

    def jobs(self) -> List[Dict]:
        return json.loads(
            self._mapper.writeValueAsString(self._store.jobsList(None))
        )

    def stages(self, stage_ids: List[int]) -> List[Dict]:
        lst = self._jvm.java.util.ArrayList()
        for sid in stage_ids:
            try:
                lst.add(self._store.lastStageAttempt(sid))
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
        return json.loads(self._mapper.writeValueAsString(lst))


def stage_totals(stages: List[Dict]) -> Dict[str, float]:
    """Per-op Spark counters from its stages. Skipped stages (their
    shuffle output was reused) did no work and are left out; a stage
    listed by two jobs is counted once."""
    out = dict.fromkeys(STAGE_SUMS.values(), 0.0)
    out["spark.executor_cpu_ms"] = 0.0
    out["spark.spill_bytes"] = 0.0
    out["spark.peak_exec_mem_bytes"] = 0.0
    seen = set()
    for s in stages:
        key = (s["stageId"], s.get("attemptId", 0))
        if key in seen or s.get("status") in ("SKIPPED", "PENDING"):
            continue
        seen.add(key)
        for field, name in STAGE_SUMS.items():
            out[name] += s.get(field) or 0
        out["spark.executor_cpu_ms"] += (s.get("executorCpuTime") or 0) / 1e6
        out["spark.spill_bytes"] += (s.get("memoryBytesSpilled") or 0) + (
            s.get("diskBytesSpilled") or 0
        )
        out["spark.peak_exec_mem_bytes"] = max(
            out["spark.peak_exec_mem_bytes"], s.get("peakExecutionMemory") or 0
        )
    out["spark.stages"] = float(len(seen))
    return out
