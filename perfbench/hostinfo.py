"""Host and process-tree measurements for the benchmark.

Everything here reads ``/proc`` directly (no third-party modules): the CPU
seconds and resident memory of the benchmark's own process tree (driver
Python, the Spark JVM it launches, and the JVM's Python workers), the load
average, and a short effective-cores probe. Host figures are recorded next
to the results; none of them gates a run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all of its live descendants."""
    root = os.getpid() if root is None else root
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_seconds(root: int | None = None) -> float:
    """user+sys seconds of the tree, including reaped children.

    Children that exit between two samples are reaped by a parent inside
    the tree, which moves their time into that parent's ``cutime``/``cstime``
    — so the difference of two samples counts them exactly once."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based) of stat
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident bytes of the tree. A ``java`` child of a ``java`` process
    is the JVM forking a helper (Hadoop runs ``chmod`` that way): until it
    execs, it shares the JVM's pages and would count them twice."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        if _comm(pid) == "java" and _comm(int(f[1])) == "java":
            continue  # field 4 is the parent pid
        total += int(f[21]) * _PAGE  # rss (pages) is field 24
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory; ``peak``
    is the largest sum seen since ``start``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self.peak = tree_rss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def steal_seconds() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over this machine's CPUs: a run during which it grows fast ran on a
    busy host."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _CLK_TCK  # steal is the 8th value after "cpu"


_SPIN = """
import sys, time
seconds = float(sys.argv[1])
t0, c0, x = time.perf_counter(), time.process_time(), 0
while time.perf_counter() - t0 < seconds:
    for i in range(10_000):
        x += i
print(time.process_time() - c0)
"""


def effective_cores(n_procs: int = 4, seconds: float = 0.5) -> float:
    """CPU seconds that ``n_procs`` busy processes obtained per wall second
    of their common window: ~``n_procs`` on an idle host with that many
    cores, less when neighbours compete for them. Plain subprocesses, each
    waited for: the ``multiprocessing`` module would start a resource
    tracker process that outlives the benchmark."""
    procs = [subprocess.Popen([sys.executable, "-c", _SPIN, str(seconds)],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(n_procs)]
    cpu = 0.0
    try:
        for p in procs:
            out, _ = p.communicate(timeout=60)
            cpu += float(out)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return round(cpu / seconds, 3)


def host_record() -> dict:
    """On an idle virtual machine the first probe can read low while its
    vCPUs wake up; the record is for reading, never a gate."""
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": loadavg(),
            "steal_s": steal_seconds(), "effective_cores": effective_cores()}
