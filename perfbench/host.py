"""Host sizing and a /proc sampler for the Spark JVM and its python workers.

psutil is not a dependency of this repo, so CPU and resident memory are read
straight from ``/proc/<pid>/stat``. The sampled tree is the driver JVM (its
pid comes from ``ProcessHandle`` over py4j) plus every descendant, which in
local mode is the ``pyspark.daemon`` and the python workers it forks.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_info() -> dict:
    """Cores, a driver heap sized to this host's RAM, and the load average.

    The heap is an eighth of physical memory, clamped to [1g, 4g]: the
    session factory's own default (16g) is larger than some hosts' RAM, and
    the workloads' data is small, so a larger heap only makes the peak
    resident memory depend on when the collector happens to run.
    """
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 8))
    return {
        "cores": cores,
        "nproc": os.cpu_count(),
        "heap": f"{heap_mb}m",
        "mem_total_mb": mem_kb // 1024,
        "loadavg": list(os.getloadavg()),
    }


def host_cpu() -> list[int]:
    """The host's cumulative CPU ticks by state (user ... steal), /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two samples that the hypervisor
    gave to other guests: a run with a high share was slowed from outside."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """CPU seconds and resident memory of a process and its descendants."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> tuple[float, float]:
        """(cpu_s, rss_mb) summed over the tree. CPU includes the reaped
        children of each live process, so python workers that exited
        between two samples are still counted."""
        cpu = rss = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is None:
                continue
            # after the name: state ppid ... utime(11) stime(12) cutime(13) cstime(14) ... rss(21)
            cpu += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
            rss += int(st[21])
        return cpu / _CLK_TCK, rss * _PAGE / 2**20


class PeakRss:
    """Background thread recording the peak resident memory of a ProcTree."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.25):
        self._tree = tree
        self._interval = interval_s
        self._stop = threading.Event()
        self.peak_mb = 0.0
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree.sample()[1])
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
