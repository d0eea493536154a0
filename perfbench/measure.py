"""Measurement helpers: percentiles, process-tree memory, output sizes."""

from __future__ import annotations

import math
import os
import threading


def percentile(values, q: float) -> float:
    """Linearly interpolated percentile (``q`` in [0, 1]); 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 0.5)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def resident_kb(pid: int) -> int:
    """Proportional set size of ``pid`` (pages shared with other
    processes, e.g. between forked Python workers, are split among
    them), falling back to RSS where smaps_rollup is unavailable."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"), (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            continue
    return 0


class MemorySampler:
    """Samples the summed resident memory (PSS) of a process tree — the
    Spark driver JVM and the Python workers it forks — on a background
    thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def sample(self) -> None:
        total = sum(resident_kb(p) for p in tree_pids(self.root_pid))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, excluding Hadoop ``.crc`` side files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
