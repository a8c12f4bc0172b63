"""Host telemetry from /proc (``psutil`` is not installed).

- ``RssSampler``: peak summed RSS of this process and every descendant
  (the Spark JVM and its Python workers), sampled on a background thread.
- ``host_snapshot``: CPU steal ticks and the 1-minute load average, kept
  as run metadata: hypervisor steal on a shared guest shows up as slower
  runs, and the snapshot lets a reader tell noise from a regression.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:  # the process exited between listing and reading
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
        except OSError:  # exited since the listing
            continue
    return total * _PAGE


class RssSampler:
    """Samples ``tree_rss_bytes(os.getpid())`` every ``interval_s`` until
    ``stop()``; ``peak_bytes`` is the largest sample."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_bytes


def host_snapshot() -> dict:
    """Cumulative steal seconds (all CPUs) and the 1-minute load average."""
    cpu = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    steal_ticks = int(cpu[8]) if len(cpu) > 8 else 0
    load1 = float(Path("/proc/loadavg").read_text().split()[0])
    return {"steal_s": steal_ticks / _TICK, "load1": load1}
