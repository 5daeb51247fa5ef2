"""CPU time and resident memory of a process tree, and the machine's busy
and stolen CPU ticks, read from ``/proc``.

The tree is the benchmark's driver process and everything below it: the
JVM that ``pyspark`` launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot. Busy is user,
    nice, system, irq and softirq time; stolen is time a virtual CPU had
    work to run but the hypervisor ran another guest instead."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system time of ``pids``, plus that of their reaped children
    (a worker that exited is still counted through its parent)."""
    ticks = 0
    for pid in pids:
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _TICK


def settled(pids: list[int]) -> list[int]:
    """The processes of ``pids`` that have run for at least a second. A
    process the JVM has just forked shares its parent's pages until it
    execs, so counting it would count the JVM twice."""
    with open("/proc/uptime") as fh:
        now = float(fh.read().split()[0])
    out = []
    for pid in pids:
        fields = _stat(pid)
        # starttime, field 22 of stat, in clock ticks since boot
        if fields is not None and now - int(fields[19]) / _TICK >= 1.0:
            out.append(pid)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def resident_outside(pid: int, lo: int, hi: int) -> int:
    """Resident bytes of ``pid`` in mappings that lie outside the address
    range ``[lo, hi)``."""
    total = 0
    inside = False
    with open(f"/proc/{pid}/smaps") as fh:
        for line in fh:
            head = line.split(None, 1)[0]
            if "-" in head:  # a mapping's header: start-end perms offset ...
                start, end = (int(x, 16) for x in head.split("-"))
                inside = lo <= start and end <= hi
            elif head == "Rss:" and not inside:
                total += int(line.split()[1]) * 1024
    return total


class TreeProbe:
    """Samples, every 0.1 s on a thread while armed, the resident memory
    of the tree without the ``skip`` process (the JVM, whose memory is
    read apart) and keeps the peak; reads CPU time of the whole tree on
    demand."""

    def __init__(self, root: int, skip: int):
        self.root = root
        self.skip = skip
        self.peak_rss = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._pids: list[int] = []
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(0.1):
            if not self._armed.is_set():
                continue
            if n % 10 == 0:  # new workers appear rarely; relist once a second
                self._pids = [p for p in settled(tree(self.root)) if p != self.skip]
            n += 1
            self.peak_rss = max(self.peak_rss, rss_bytes(self._pids))

    def cpu(self) -> float:
        return cpu_seconds(tree(self.root))

    def resident(self) -> list[tuple[str, int]]:
        """(command name, resident bytes) of each process in the tree."""
        out = []
        for pid in tree(self.root):
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            out.append((comm, rss_bytes([pid])))
        return out

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
