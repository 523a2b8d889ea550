"""CPU time and peak RSS of this process and every process it started.

Spark in local mode runs as a tree: this Python driver, the JVM it
launches, the JVM's ``pyspark.daemon`` and the Python workers the daemon
forks. Everything is read from ``/proc``: CPU time on demand, resident
size by one sampling thread while the timed repeats run.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def machine_cpu_s() -> float:
    """Busy CPU seconds of the whole machine since boot (user, nice,
    system, irq and softirq over all CPUs, from ``/proc/stat``).

    The process tree cannot account its own CPU: ``pyspark.daemon``
    ignores ``SIGCHLD``, so a Python worker that exits after its task is
    never collected into the daemon's ``cutime``. On a machine that runs
    only the benchmark, the machine's busy time is the tree's plus the
    kernel's own threads."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:8]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / _TICK


def tree_rss_by_process(root: int | None = None) -> list[tuple[str, float]]:
    """(command name, ``VmRSS`` in MB) of every live process in the tree."""
    out = []
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmRSS" in fields:  # absent for a zombie
            out.append((fields["Name"].strip(), int(fields["VmRSS"].split()[0]) / 1024.0))
    return out


class PeakRss:
    """Peak of the tree's summed ``VmRSS``, sampled every ``interval``
    seconds on a background thread while the context is open. Python
    workers live for one task only, so their resident size can only be
    seen while they run; a ``VmHWM`` read afterwards would miss them."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.at_peak: list[tuple[str, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            procs = tree_rss_by_process()
            total = sum(mb for _, mb in procs)
            if total > self.peak_mb:
                self.peak_mb, self.at_peak = total, procs
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
