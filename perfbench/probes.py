"""Outside-in probes: container CPU, process-tree RSS, Spark job counts.

Nothing here reaches into the package: CPU comes from the cgroup,
memory from /proc, and job/stage/task counts from Spark's public
status tracker.
"""

from __future__ import annotations

import datetime
import os
import platform
import threading
import time

_CGROUP_V1 = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
_CGROUP_V2 = "/sys/fs/cgroup/cpu.stat"


def _read_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """root and every live descendant (this process → JVM → Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids(root):
        st = _read_stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / tick


def cpu_s() -> float:
    """Container CPU seconds: the cgroup's usage counter, else the
    benchmark's own process tree (the only load in the container)."""
    try:
        with open(_CGROUP_V1) as f:
            return int(f.read()) / 1e9
    except OSError:
        pass
    try:
        with open(_CGROUP_V2) as f:
            for line in f:
                k, v = line.split()
                if k == "usage_usec":
                    return int(v) / 1e6
    except OSError:
        pass
    return tree_cpu_s(os.getpid())


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the summed RSS of this process tree on a thread. The
    tree is re-walked once a second; in between only its known pids are
    read, so sampling stays cheap."""

    def __init__(self, interval_s: float = 0.1, rescan_s: float = 1.0):
        self.interval_s = interval_s
        self.rescan_s = rescan_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root, pids, walked = os.getpid(), [], 0.0
        while not self._stop.is_set():
            if time.monotonic() - walked >= self.rescan_s:
                pids, walked = tree_pids(root), time.monotonic()
            rss = rss_bytes(pids)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval_s)

    def take_peak(self) -> int:
        """Peak since the last call, then start a new window."""
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class JobCounter:
    """Jobs, stages and tasks Spark ran between two marks.

    Job ids are allocated consecutively, so the jobs of an operation
    are the ids the status tracker knows past the previous mark. That
    also catches jobs run on a streaming query's own thread, which a
    job group set on this thread would miss."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._next = self._scan(0)

    def _flush(self) -> None:
        # job/stage events reach the status store through the async
        # listener bus; drain it so counts are final
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — best effort on other Spark builds
            time.sleep(0.5)

    def _scan(self, start: int) -> int:
        self._flush()
        j = start
        while self._tracker.getJobInfo(j) is not None:
            j += 1
        return j

    def take(self) -> dict[str, int]:
        first, self._next = self._next, self._scan(self._next)
        stages: set[int] = set()
        for j in range(first, self._next):
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = tasks = failed = 0
        for sid in stages:
            st = self._tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                ran += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": self._next - first, "stages": ran, "tasks": tasks, "tasks_failed": failed}


def host_stamp(cores: int) -> dict:
    model = platform.processor() or "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": cores,
        "cpu_model": model,
        "utc": datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
