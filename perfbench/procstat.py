"""Process-tree resource sampling from ``/proc`` (no psutil).

The benchmark's own Python process is the root; its descendants are the
Spark JVM (spawned by ``spark-submit``), the PySpark worker daemon and
the Python workers it forks. RSS and CPU are summed over the descendants
only, so the benchmark's generator and oracle data never count.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may contain spaces: split after the closing paren
    return raw[raw.rfind(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_seconds(root: int) -> float:
    """User+system CPU of every live descendant, plus what each has
    collected from its reaped children."""
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after the paren: state=0, ppid=1, ... utime=11 stime=12
            # cutime=13 cstime=14
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _kind(pid: int) -> str:
    """"java" (the Spark JVM), "python" (daemon and workers) or "other"."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return "other"
    return "java" if comm == "java" else "python" if comm.startswith("python") else "other"


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``: steal
    is time this virtual machine's CPUs waited for the physical ones."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


class RssSampler:
    """Background sampler of the summed descendant RSS. ``stop`` returns
    the highest sum (MB) seen since ``start`` (``peak_split`` divides it by
    process kind); ``window`` returns the highest since its previous call
    and opens a new window."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self._peak = self._window_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._by_kind: dict[str, list[int]] = {}
        self._pids_at = 0.0
        #: RSS (bytes) per process kind at the peak
        self.peak_split: dict[str, int] = {}

    def _sample(self) -> None:
        now = time.monotonic()
        if now - self._pids_at > 0.5:  # workers come and go; rescan twice a second
            self._by_kind = {}
            for pid in descendants(self.root):
                self._by_kind.setdefault(_kind(pid), []).append(pid)
            self._pids_at = now
        by_kind = {k: rss_bytes(p) for k, p in self._by_kind.items()}
        rss = sum(by_kind.values())
        with self._lock:
            if rss > self._peak:
                self._peak, self.peak_split = rss, by_kind
            self._window_peak = max(self._window_peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._sample()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def window(self) -> float:
        with self._lock:
            peak, self._window_peak = self._window_peak, 0
        return peak / (1024 * 1024)

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()
        return self._peak / (1024 * 1024)
