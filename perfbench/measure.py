"""Measurement helpers: process-tree CPU and RSS from ``/proc``,
percentiles, the box-contention probe bracket, and the Spark status
store reads of the traced run."""

from __future__ import annotations

import math
import os
import subprocess
import sys
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) of one process, or None if
    it has exited."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2:].split()
    return int(rest[1]), rest


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the driver Python, the JVM it
    launched and the pyspark daemon and workers the JVM forked)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cpu_s(fields: list[str]) -> float:
    # utime, stime, cutime, cstime: the last two hold reaped children,
    # so short-lived python workers still count after they exit.
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


def tree_cpu_s(root: int, only=None) -> float:
    """CPU seconds (user + system, including reaped children) of the
    process tree under ``root``; ``only(pid)`` filters processes."""
    total = 0.0
    for pid in tree_pids(root):
        if only is not None and not only(pid):
            continue
        st = _stat(pid)
        if st is not None:
            total += _cpu_s(st[1])
    return total


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pids: list[int], shared: set[int]) -> int:
    """Resident memory of the processes. The python workers forked from
    the pyspark daemon (``shared``) share most of their pages with it, so
    they count their proportional share (PSS) instead of plain RSS,
    which would count those pages once per worker. The others use RSS:
    reading the JVM's PSS walks its whole address space (about 20 ms)
    and would slow the JVM it measures."""
    total = 0
    for pid in pids:
        try:
            total += _pss(pid) if pid in shared else _rss(pid)
        except OSError:
            pass
    return total


def is_python_worker(pid: int) -> bool:
    """The pyspark daemon and the workers it forks (children of the JVM
    running ``pyspark.daemon``)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
        return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd
    except OSError:
        return False


def _is_jvm(pid: int, root: int) -> bool:
    """The JVM the driver launched: a direct child running java (the
    JVM's own helpers are its children and, until they exec, run java
    too)."""
    st = _stat(pid)
    try:
        return st is not None and st[0] == root and os.readlink(f"/proc/{pid}/exe").endswith("/java")
    except OSError:
        return False


class RssSampler:
    """Background thread sampling, every ``interval`` seconds, the
    resident memory of the driver, the JVM and the python workers;
    ``peak`` is the largest sum seen. Other processes in the tree are
    short-lived helpers the JVM starts (between fork and exec they
    still show the JVM's whole address space) and are left out."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._pids: list[int] = []
        self._workers: set[int] = set()
        self._pids_at = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            now = time.monotonic()
            if now - self._pids_at > 1.0:  # re-walk /proc once a second
                pids, self._pids_at = tree_pids(self.root), now
                self._workers = {p for p in pids if is_python_worker(p)}
                self._pids = [p for p in pids if p == self.root or p in self._workers or _is_jvm(p, self.root)]
            self.peak = max(self.peak, tree_rss_bytes(self._pids, self._workers))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def probe_bracket_point() -> dict[str, float]:
    """One side of the contention bracket: ``bench.cpu_probe`` (one
    thread) and the same loop in ``nproc`` parallel processes, both as
    wall seconds. Neither is gated; they say how busy the box was."""
    import bench

    scalar = bench.cpu_probe()
    n = len(os.sched_getaffinity(0))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "import sys, bench; sys.exit(bench._probe_worker(0) != 70_000_000)"
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", code], cwd=root) for _ in range(n)]
    codes = [p.wait() for p in procs]
    mt = time.perf_counter() - t0
    if any(codes):
        raise RuntimeError(f"probe processes exited with {codes}")
    return {"scalar_s": scalar, "mt_s": mt, "mt_procs": n}


# -- Spark status store (traced run) -----------------------------------

SPARK_FIELDS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.input_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
)


def spark_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages and task metrics of every job run under job group
    ``group``, read from the in-process status store (works with the UI
    off). Skipped stages (reused shuffle output) are not counted."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["spark.jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted: no attempt to read
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.failed_tasks"] += st.numFailedTasks()
            out["spark.task_run_ms"] += st.executorRunTime()
            out["spark.task_cpu_ms"] += st.executorCpuTime() / 1e6
            out["spark.gc_ms"] += st.jvmGcTime()
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def storage_stats(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
