"""CPU and memory of this process and everything it started, read from /proc.

The tree is the Python driver, the JVM that ``spark-submit`` execs, and the
pyspark daemon with its forked Python workers.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may itself contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_s(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read()
    except OSError:
        return ""


def mem_mb(pids: list[int]) -> float:
    """Summed memory of ``pids``: RSS, except proportional set size for the
    pyspark daemon and the workers it forks, whose shared copy-on-write
    pages RSS would count once per worker. Any other process with the same
    command name as its parent in ``pids`` is a fork that has not exec'd
    yet (the JVM spawns chmod, ls and rm this way); its pages are its
    parent's, and counting them added the JVM's whole RSS a second time."""
    members = set(pids)
    total_kb = 0
    for pid in pids:
        try:
            if is_pyworker(pid):
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total_kb += next(int(l.split()[1]) for l in f if l.startswith("Pss:"))
            else:
                st = _stat(pid)
                if st is None:
                    continue
                ppid = int(st[1])
                if ppid in members and _comm(ppid) == _comm(pid):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total_kb += int(f.read().split()[1]) * _PAGE // 1024
        except (OSError, StopIteration):
            pass
    return total_kb / 1024


def is_pyworker(pid: int) -> bool:
    cmd = _cmdline(pid)
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


class Sampler:
    """Samples the tree's memory (``mem_mb``) in a background thread;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root, self.period_s = root, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, mem_mb(tree(self.root)))
            self._stop.wait(self.period_s)

    def __enter__(self) -> Sampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def tree_cpu(root: int) -> tuple[float, float]:
    """(CPU of the whole tree, CPU of its pyspark worker processes)."""
    pids = tree(root)
    return cpu_s(pids), cpu_s([p for p in pids if is_pyworker(p)])

