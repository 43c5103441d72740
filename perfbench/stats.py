"""Order statistics and process-tree memory sampling for the benchmark."""

from __future__ import annotations

import math
import os
import statistics
import threading
from fractions import Fraction

# A reported tail percentile must leave at least this many samples
# beyond it, or it describes one or two outliers rather than a tail.
MIN_BEYOND = 10

_CANDIDATE_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p: float, n: int) -> int:
    """Nearest-rank position of the p-th percentile of n samples,
    ceil(p/100 * n), in exact arithmetic (99.9/100 * 10000 is not 9990
    in floating point)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest candidate percentile with at least ``min_beyond`` of ``n``
    samples beyond its rank, or None when even p75 has too few."""
    for p in _CANDIDATE_PERCENTILES:
        if n - _rank(p, n) >= min_beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def relative_iqr(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # comm may contain spaces and parens: ppid follows the LAST ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread recording the peak process-tree RSS (the Python
    driver, the JVM it launches and the JVM's Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
