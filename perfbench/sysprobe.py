"""Process-tree memory sampling and host load fingerprint, from /proc."""

from __future__ import annotations

import os
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                # the command name may hold spaces: split after the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def memory_mb(pids: list[int]) -> dict[str, float]:
    """Proportional set size by process name (``java``, ``python3``,
    ...), in MB: RSS with each shared page split between the processes
    sharing it, so forked Python workers are not counted once per fork."""
    out: dict[str, float] = {}
    for p in pids:
        name = _comm(p)
        out[name] = out.get(name, 0.0) + _pss_kb(p) / 1024
    return out


class PeakMemory:
    """Samples the summed memory of this process and its descendants
    (the JVM and its Python workers) every ``interval`` seconds while
    active; ``peak`` is the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            mem = memory_mb(descendants(me))
            total = sum(mem.values())
            if total > self.peak:
                self.peak, self.at_peak = total, mem
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_probe_s(n: int = 300_000) -> float:
    """Seconds for a fixed pure-Python loop: a CPU-speed probe recorded
    with each run so slow hosts are visible."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def fingerprint() -> dict:
    l1, l5, _ = os.getloadavg()
    return {"nproc": len(os.sched_getaffinity(0)), "load1": round(l1, 2),
            "load5": round(l5, 2), "cpu_probe_s": round(cpu_probe_s(), 4)}
