"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree is this process plus every descendant: the Spark driver JVM and
its Python workers. The sampler is a daemon thread that sums VmRSS over
the tree every ``INTERVAL_S`` seconds and keeps the largest sum.

The JVM starts helper commands (Hadoop's local file system runs
``chmod``) through vfork-style spawns: until the child execs, it shares
the JVM's memory and reports the JVM's full RSS. A child running the
parent's executable with the parent's virtual size is such a spawn (or a
fork that has not yet diverged) and is not counted a second time.
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.1


def children() -> dict[int, list[int]]:
    """{parent pid: [child pids]} over every process in ``/proc``."""
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def _image(pid: int) -> tuple[str, int, int]:
    """(executable, virtual size, resident size) of *pid*, sizes in pages."""
    with open(f"/proc/{pid}/statm", "rb") as f:
        size, resident = f.read().split()[:2]
    return os.readlink(f"/proc/{pid}/exe"), int(size), int(resident)


def tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """{pid: (executable, RSS bytes)} over the tree rooted at *root*."""
    kids = children()
    out, todo = {}, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        try:
            image = _image(pid)
        except OSError:  # exited, or not ours to inspect
            continue
        if parent is None or image[:2] != parent[:2]:
            out[pid] = (os.path.basename(image[0]), image[2] * _PAGE)
        todo += [(k, image) for k in kids.get(pid, [])]
    return out


def tree_rss_bytes(root: int) -> int:
    return sum(b for _, b in tree_rss(root).values())


class PeakRSS:
    """Context manager: ``peak_mb`` is the largest RSS of this process's
    tree seen inside."""

    def __init__(self):
        self.peak_bytes = 0
        self.peak_tree: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss(os.getpid())
        total = sum(b for _, b in rss.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_tree = total, rss

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self) -> "PeakRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def breakdown(self) -> str:
        """MB per executable at the peak, e.g. ``java 1630, python3.11 6x 88``."""
        by_exe: dict[str, list[int]] = defaultdict(list)
        for exe, b in self.peak_tree.values():
            by_exe[exe].append(b)
        return ", ".join(
            f"{exe} {len(bs)}x {sum(bs) / len(bs) / 2**20:.0f}" if len(bs) > 1
            else f"{exe} {bs[0] / 2**20:.0f}" for exe, bs in sorted(by_exe.items()))
