"""Process-tree helpers read straight from ``/proc`` (no psutil).

- :func:`process_start_epoch` — when this interpreter process started,
  so set-up time counts interpreter start, imports and JVM launch.
- :class:`RssSampler` — a daemon thread that sums the resident memory
  of the driver process tree (this Python process, the Spark JVM it
  launches, and the JVM's Python workers) every ``interval`` seconds
  and keeps the peak.
- :func:`descendants` / :func:`wait_gone` — used at exit to make sure
  every process the benchmark started has ended.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # the command name (field 2) may hold spaces; split after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock time at which ``pid`` (default: this process) began."""
    fields = _stat_fields(pid or os.getpid())
    start_ticks = int(fields[19])            # field 22: starttime
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / _TICKS


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                out[int(name)] = int(fields[1])   # field 4: ppid
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` with pages shared between processes
    split among them (``Pss``): Spark's Python workers are forked from
    one daemon, and plain RSS would count the pages they share with it
    once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError, PermissionError,
            IndexError):
        return 0


class RssSampler:
    """Peak summed RSS of a process tree, sampled in a daemon thread."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def sample(self) -> int:
        total = sum(_rss_bytes(p) for p in [self.root,
                                            *descendants(self.root)])
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Freeze the peak (idempotent)."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return the survivors."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat_fields(p) is not None
                 and _stat_fields(p)[0] != "Z"]
        if alive:
            time.sleep(0.05)
    return alive
