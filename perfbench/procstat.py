"""CPU, memory and write counters of the engine's processes, read from /proc.

The engine runs in processes this one starts: the Spark JVM, the PySpark
daemon and the Python workers it forks. `ProcTree` finds them as the
descendants of this process and reads their counters; a background thread
samples their resident memory (as PSS) so the peak between two
`reset_peak()` calls is known.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_INTERVAL_S = 0.1  # memory sampling period


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def _is_py_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    # the daemon runs as `python -m pyspark.daemon`; workers are its forks
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n in each. Forked Python workers share most of
    their pages with the daemon, so summing their RSS would count those
    pages once per live worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """Counters of every live descendant of this process."""

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._peak_total = 0
        self._peak_py = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def descendants(self) -> dict[int, list[str]]:
        """pid -> /proc/<pid>/stat fields after the command name."""
        stats: dict[int, list[str]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(name)
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        out: dict[int, list[str]] = {}
        todo = list(children.get(self.root, []))
        while todo:
            pid = todo.pop()
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
        return out

    def cpu_s(self) -> float:
        """User+system CPU of the live descendants and the children they
        reaped (an exited Python worker's time lands in its parent)."""
        ticks = sum(
            int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
            for st in self.descendants().values()
        )
        return ticks / _TICK

    def write_bytes(self) -> int:
        return sum(_write_bytes(pid) for pid in self.descendants())

    def _sample(self) -> None:
        total = py = 0
        for pid in self.descendants():
            pss = _pss_bytes(pid)
            total += pss
            if _is_py_worker(pid):
                py += pss
        with self._lock:
            self._peak_total = max(self._peak_total, total)
            self._peak_py = max(self._peak_py, py)

    def _loop(self) -> None:
        while not self._stop.wait(_INTERVAL_S):
            self._sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="proctree", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak_total = self._peak_py = 0
        self._sample()

    def peak_mb(self) -> tuple[float, float]:
        """(all descendants, Python workers only) peak resident memory (PSS)
        in MiB since the last reset."""
        self._sample()
        with self._lock:
            return self._peak_total / 2**20, self._peak_py / 2**20
