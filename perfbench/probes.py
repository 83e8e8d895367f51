"""Process-level probes read from ``/proc``: CPU seconds and resident
memory of the benchmark process tree (driver Python, the Spark JVM it
launched, and the JVM's Python workers), plus box-hygiene facts.

No Spark import: these read the kernel's own accounting, so they work
the same whichever engine version runs underneath.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of ``root`` and all its descendants,
    including reaped children of each (so a Python worker that exited
    after being waited on by the Spark daemon still counts)."""
    root = os.getpid() if root is None else root
    total = 0.0
    for pid in [root, *descendants(root)]:
        fields = _stat(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14..17 of /proc/pid/stat
            total += sum(int(x) for x in fields[11:15]) / _TICK
    return total


def tree_rss_mb(root: int | None = None) -> float:
    """Resident MB of every descendant of ``root`` (the JVM and its Python
    workers; the driver Python process itself is left out)."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Background sampler of :func:`tree_rss_mb`; ``peak`` is the largest
    sample since the last :meth:`reset`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, tree_rss_mb())

    def reset(self) -> None:
        self.peak = tree_rss_mb()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def other_jvms() -> list[dict]:
    """Java processes on the box that this benchmark did not start (a
    concurrent Spark JVM inflates medians; record it, do not hide it)."""
    own = set(descendants(os.getpid()))
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in own:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0]) == b"java":
            spark = any(b"spark" in a.lower() for a in argv)
            out.append({"pid": int(entry), "spark": spark})
    return out


def cpu_steal_s() -> float:
    """Seconds of CPU stolen from this VM by its host since boot (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def box_facts() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "steal_s": cpu_steal_s(),
        "other_jvms": other_jvms(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
