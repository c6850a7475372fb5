"""CPU and resident memory of the Spark JVM and its Python workers,
read from /proc.

The process tree is the JVM that pyspark launched plus every process
below it (the pyspark daemon and its forked workers). CPU counts each
live process's user+system time plus the time of its children that have
already exited and been reaped, so a worker that exits mid-job keeps
its CPU in the total. The CPU of the JVM's JIT compiler threads is read
separately: the JIT keeps compiling for tens of jobs, and its share
swings from job to job. Resident memory is the proportional set size
(Pss) summed over the tree: a page that forked workers share with the
pyspark daemon is split among them rather than counted once per
process, so the total does not jump with the number of live workers.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # exited between listing and reading
        return None
    return text[text.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def cpu_s(root: int) -> float:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _CLK


def jit_cpu_s(jvm: int) -> float:
    """CPU of the JVM's JIT compiler threads. They must live as long as
    the JVM (-XX:-UseDynamicNumberOfCompilerThreads), or a thread that
    exits takes its CPU out of this sum."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        st = _stat(f"{jvm}/task/{tid}")
        if st:
            total += int(st[11]) + int(st[12])
    return total / _CLK


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited between listing and reading
            pass
    return total


class PeakRss:
    """Samples the tree's RSS every `interval` seconds while active."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(self.root))
