"""Host facts for every record, and the Python-worker RSS sampler."""

from __future__ import annotations

import os
import threading
from pathlib import Path


def cpu_model() -> str:
    try:
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def cpu_times() -> dict[str, int]:
    """Aggregate jiffies from the ``cpu`` line of ``/proc/stat``."""
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return dict(zip(names, vals))


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total > 0 else 0.0


def snapshot() -> dict:
    return {
        "nproc": os.cpu_count(),
        "nproc_affinity": len(os.sched_getaffinity(0)),
        "cpu_model": cpu_model(),
        "loadavg": os.getloadavg(),
        "cpu_times": cpu_times(),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    kids = _children_map()
    out, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class RssSampler:
    """Samples the RSS of every Python worker below this process from
    ``/proc`` on a background thread; ``peak_mb`` is the highest single
    worker seen since the last ``reset``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak

    def sample(self) -> float:
        best = max(
            (_rss_mb(p) for p in descendants(os.getpid()) if _is_python_worker(p)), default=0.0
        )
        with self._lock:
            self._peak = max(self._peak, best)
        return best

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()
