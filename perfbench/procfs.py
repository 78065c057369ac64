"""Process-tree accounting read from ``/proc`` (no psutil dependency).

The engine runs as three kinds of process: the Python driver, the JVM it
launches, and the Python workers the JVM's worker daemon forks.  Peak memory
is the peak of their summed resident memory, sampled while the benchmark
runs, with and without the JVM.  Each process counts its proportional set
size (PSS): a page shared by n processes counts 1/n in each.  Plain RSS
would count the pages a forked worker shares with its daemon once per
worker, and the number of workers alive differs from run to run.
"""

from __future__ import annotations

import os
import threading
import time

INTERVAL = 0.25  # seconds between samples of the process tree


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces and parentheses: ppid is the 2nd field after
        # the LAST closing parenthesis
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not including it)."""
    children = _children_map()
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size of one process, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakMemory:
    """Background sampler of the summed PSS of this process and every
    process below it."""

    def __init__(self):
        self.root = os.getpid()
        self.peak = 0
        self.peak_without_jvm = 0
        self.at_peak: list[tuple[str, int]] = []  # (command, PSS) per process
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="peak-rss", daemon=True
        )

    def _sample(self) -> None:
        pids = [self.root, *descendants(self.root)]
        # the name first: a process that exits in between then reads as
        # "?" with size 0, never as a nameless process with the JVM's size
        comms = [_comm(p) for p in pids]
        sizes = [pss_bytes(p) for p in pids]
        if sum(sizes) > self.peak:
            self.peak = sum(sizes)
            self.at_peak = list(zip(comms, sizes))
        self.peak_without_jvm = max(
            self.peak_without_jvm,
            sum(s for c, s in zip(comms, sizes) if c != "java"),
        )

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(INTERVAL)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def is_alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited, unreaped process (zombie) is
    not alive."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until none of ``pids`` is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if is_alive(p)]
        if alive:
            time.sleep(0.05)
    return alive
