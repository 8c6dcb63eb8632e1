"""Host context and memory sampling.

Host context (calibration, a 4-core burn, steal ticks, heap setting) is
recorded with every run and never gated: it lets a slow run be told apart
from a slow commit.  The calibration and burn reuse bench.py's probes.
"""

from __future__ import annotations

import os
import threading


def _proc_status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_tree() -> list[int]:
    """This process and every descendant whose command is python (the
    PySpark daemon and its workers), skipping the JVM itself."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if _proc_status(pid).get("Name", "").startswith("python"):
            out.append(pid)
    return out


class PeakRss:
    """Highest VmHWM (MB) among this process's Python processes while
    active.  Start resets each process's high-water mark (clear_refs 5), so
    the peak covers the timed region, not set-up; a sampler thread catches
    workers that exit before the region ends."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for pid in python_tree():
            hwm = _proc_status(pid).get("VmHWM", "0 kB").split()[0]
            self.peak_kb = max(self.peak_kb, int(hwm))

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._sample()

    def __enter__(self) -> "PeakRss":
        for pid in python_tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def calibrate() -> float:
    import bench

    return bench._calibrate(0.5)


def burn() -> dict:
    """A short 4-core hash burn and copy-bandwidth probe.  Forks worker
    processes, so call it only while no Spark session is running."""
    import bench

    return bench._steal_probe(4, seconds=1.0)
