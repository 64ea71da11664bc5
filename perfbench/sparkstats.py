"""What the benchmark reads from Spark and from the host.

* :class:`ProgressLog` — the benchmark's own ``StreamingQueryListener``:
  every progress event of every query, kept whole, plus a termination
  signal per query. (The package's ``streaming.metrics.ProgressCapture``
  is code under test, so the benchmark does not measure with it.)
* :func:`job_totals` — jobs, tasks, shuffle, spill, executor run time and
  GC time of a job group, from ``SparkContext.statusTracker()`` and the
  status store's ``lastStageAttempt``. Both work with the UI disabled.
* host annotations (cores, load average, CPU steal) and peak RSS.
"""

from __future__ import annotations

import json
import os
import threading
from collections import defaultdict
from datetime import datetime
from typing import Dict, List

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressLog(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._progress: Dict[str, List[dict]] = defaultdict(list)
        self._done: Dict[str, threading.Event] = defaultdict(threading.Event)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress[p["id"]].append(p)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            done = self._done[str(event.id)]
        done.set()

    def wait_terminated(self, query_id: str, timeout: float = 60.0) -> List[dict]:
        """All progress of a stopped query, in batch order. The listener bus
        delivers in order, so once the termination event has arrived every
        progress event of the query has too."""
        with self._lock:
            done = self._done[query_id]
        if not done.wait(timeout):
            raise TimeoutError(f"no termination event for query {query_id}")
        with self._lock:
            return sorted(self._progress[query_id], key=lambda p: p["batchId"])


def progress_start(p: dict) -> float:
    """Trigger start (epoch seconds) from a progress ``timestamp``."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def drain_listener_bus(spark: SparkSession) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


JOB_FIELDS = ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_s", "gc_s")


def job_totals(spark: SparkSession, group: str) -> Dict[str, float]:
    """Totals over the jobs of ``group`` the status store still retains."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(JOB_FIELDS, 0.0)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            try:
                st = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # evicted from the store
                continue
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
    return out


# -- host ----------------------------------------------------------------------


def cpu_times() -> List[int]:
    """Aggregate ``cpu`` line of /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: List[int], after: List[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0


def load_avg_1m() -> float:
    return os.getloadavg()[0]


def process_age_s() -> float:
    """Seconds since this process started (from /proc, clock-tick grain)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _proc_table() -> Dict[int, tuple]:
    """pid -> (parent pid, state, CPU clock ticks incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        out[int(d)] = (int(fields[1]), fields[0], sum(int(x) for x in fields[11:15]))
    return out


def descendants(root_pid: int, table=None) -> List[int]:
    table = table if table is not None else _proc_table()
    children = defaultdict(list)
    for pid, (ppid, _state, _ticks) in table.items():
        children[ppid].append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.extend(children[pid])
        todo.extend(children[pid])
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of a process
    and all its descendants: here this Python process, the Spark JVM it
    launched and the JVM's Python workers."""
    table = _proc_table()
    pids = [root_pid] + descendants(root_pid, table)
    return sum(table[p][2] for p in pids if p in table) / os.sysconf("SC_CLK_TCK")


def _jvm_pid(spark: SparkSession) -> int:
    return spark.sparkContext._jvm.ProcessHandle.current().pid()


def reset_peak_rss(spark: SparkSession) -> None:
    """Restart the high-water RSS of this Python process and the Spark JVM
    from their current RSS (``clear_refs`` 5), so that set-up and warm-up
    do not count in :func:`peak_rss_mb`."""
    for pid in ("self", _jvm_pid(spark)):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(spark: SparkSession) -> float:
    """High-water RSS of this Python process plus the Spark JVM since the
    last :func:`reset_peak_rss`."""
    return vm_hwm_mb("self") + vm_hwm_mb(_jvm_pid(spark))
