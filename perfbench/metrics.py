"""Summary statistics and process-tree resource accounting.

Everything here is JVM-free so it can be unit-tested without Spark.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError."""
    if not METRIC_NAME.fullmatch(name) or not name[0].isalnum() or len(name) > 64:
        raise ValueError(f"bad metric name {name!r}")
    return name


def median(samples) -> float:
    return float(statistics.median(samples))


def tail(samples):
    """The highest percentile that still has at least ten samples beyond it.

    Returns ``(value, percentile, n)``, or ``None`` when fewer than 11
    samples exist (no sample has ten others above it). The value is the
    11th-largest sample; its percentile is the share of samples at or
    below it.
    """
    n = len(samples)
    if n < 11:
        return None
    ordered = sorted(samples)
    k = n - 11
    return float(ordered[k]), 100.0 * (k + 1) / n, n


# ---------------------------------------------------------------------------
# /proc accounting for this process and every descendant (JVM, Python workers)
# ---------------------------------------------------------------------------


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children (their
    time is folded into their parent's cutime/cstime)."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the share of
    CPU time a hypervisor gave to other guests explains noisy runs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Background thread recording the peak summed RSS of the process tree.

    A process counts only from its second sample on: a child caught between
    vfork and exec reports its parent's whole address space, which would
    count the JVM twice.
    """

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self):
        seen: set[int] = set()
        while not self._stop.is_set():
            pids = set(tree_pids(self.root))
            pages = 0
            for pid in pids & (seen | {self.root}):
                raw = _read(f"/proc/{pid}/statm")
                if raw is not None:
                    pages += int(raw.split()[1])
            self.peak_mb = max(self.peak_mb, pages * _PAGE / 2**20)
            seen = pids
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
