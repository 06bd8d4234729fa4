"""Host and process-tree probes read from /proc.

- :func:`tree_cpu_s` / :func:`tree_rss_mb`: user+sys CPU and resident
  memory of this process and every descendant (the Spark JVM and its
  Python workers). Reaped children's CPU is folded into their parent's
  ``cutime``/``cstime``, so a delta across a pass counts workers that
  came and went inside it.
- :class:`RssSampler`: peak summed RSS of the tree, sampled on a thread.
- :func:`process_age_s`: seconds since this process started.
- :func:`host_snapshot` / :func:`host_noise`: hypervisor steal and the
  CPU busy with work outside this tree, over a run — the record that
  identifies a run taken during a steal wave.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process was started, from its start time in
    /proc (clock ticks since boot) and the boot-time clock."""
    start_ticks = int(_stat_fields(str(os.getpid()))[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def tree_parents(root: int | None = None) -> dict[str, str]:
    """``root`` (default: this process) and all of its descendants, each
    mapped to its parent's pid."""
    kids: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                kids.setdefault(fields[1], []).append(pid)
    top = str(root or os.getpid())
    out = {top: ""}
    todo = [top]
    while todo:
        parent = todo.pop()
        for pid in kids.get(parent, ()):
            out[pid] = parent
            todo.append(pid)
    return out


def tree_pids(root: int | None = None) -> list[str]:
    """``root`` (default: this process) and all of its descendants."""
    return list(tree_parents(root))


def tree_cpu_s() -> float:
    """Summed utime+stime+cutime+cstime of the tree, in seconds."""
    ticks = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def _exe(pid: str) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _rss_pages(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1])
    except (OSError, IndexError, ValueError):
        return None


def tree_rss_mb() -> float:
    """Summed resident set size of the tree, in MB.

    A child running its parent's executable with its parent's resident
    size (within 1 %) is a fork that has not yet exec'd or diverged: the
    JVM spawns every helper process (``chmod``, the Python daemon) as a
    child that shares the JVM's memory until it execs. Its pages are its
    parent's, so it is not counted again."""
    parents = tree_parents()
    exes = {pid: _exe(pid) for pid in parents}  # before the sizes: see above
    pages = {pid: _rss_pages(pid) for pid in parents}
    total = 0
    for pid, parent in parents.items():
        own, theirs = pages[pid], pages.get(parent)
        if own is None:
            continue
        if theirs and exes[pid] == exes[parent] and abs(own - theirs) <= theirs / 100:
            continue
        total += own
    return total * _PAGE / 1e6


class RssSampler:
    """Samples the tree's summed RSS every ``period`` seconds on a
    daemon thread. ``peak_mb`` is the largest median of three
    consecutive samples: a child the JVM spawns shares the JVM's pages
    until it execs, and a sample taken in that instant would count the
    JVM twice."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        window: list[float] = []
        while True:
            window = (window + [tree_rss_mb()])[-3:]
            self.peak_mb = max(self.peak_mb, sorted(window)[len(window) // 2])
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def host_snapshot() -> tuple[int, int, int, float] | None:
    """(total, idle+iowait, steal) ticks from /proc/stat's cpu line and
    this tree's CPU seconds at the same moment."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if parts[:1] != ["cpu"]:
        return None
    vals = [int(v) for v in parts[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal, tree_cpu_s()


def host_noise(start, end) -> dict:
    """Steal fraction and external busy fraction between two
    :func:`host_snapshot` readings (fractions of all host CPU time)."""
    if start is None or end is None or end[0] <= start[0]:
        return {"steal_frac": None, "external_busy_frac": None}
    total = end[0] - start[0]
    busy = total - (end[1] - start[1])
    ours = (end[3] - start[3]) * _TICK
    return {
        "steal_frac": (end[2] - start[2]) / total,
        "external_busy_frac": max(0.0, (busy - ours) / total),
        "host_cpus": os.cpu_count(),
    }
