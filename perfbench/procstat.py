"""CPU time and resident memory of this process tree, read from ``/proc``.

The tree is this Python process, the Spark JVM it launched and the
pyspark daemon with its forked Python workers. CPU counts each live
process's user+system time plus the time of its children it has already
reaped, so a Python worker that exits mid-run is still counted (the
daemon reaps its forks). Peak RSS is the largest sum of the tree's
resident pages seen by a sampler thread.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.1  # RSS sampling period


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:  # utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class TreeSampler:
    """Samples the tree's RSS every ``SAMPLE_S`` seconds until stopped."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.peak_mb = max(self.peak_mb, rss_mb(tree()))

    def __enter__(self) -> "TreeSampler":
        self.peak_mb = rss_mb(tree())
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def snapshot() -> dict:
    """CPU seconds of the whole tree and of its Python workers."""
    pids = tree()
    workers = [p for p in pids if is_python_worker(p)]
    return {"cpu_s": cpu_seconds(pids), "worker_cpu_s": cpu_seconds(workers)}
