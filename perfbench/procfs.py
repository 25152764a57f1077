"""Process-tree CPU and memory from ``/proc`` (``psutil`` is not
installed).

The tree is the benchmark process, the Spark driver JVM it launched and
every process below the JVM (the pyspark daemon and its forked workers,
the one-shot planner processes Python data sources use, and shell helpers
Hadoop's local file system forks).
CPU counts ``utime + stime`` of each live process plus ``cutime +
cstime``, the time of children it has already reaped, so a worker that
exits between two samples is still counted: its time moves into its
parent's reaped-children fields.  Spark's own ``executorCpuTime`` does
not see the Python workers at all.
"""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, int, int, int] | None:
    """(ppid, utime, stime, cutime, cstime) in ticks, or None if gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm may contain spaces or parentheses: split after the last ')'
    f = raw[raw.rindex(")") + 2 :].split()
    return int(f[1]), int(f[11]), int(f[12]), int(f[13]), int(f[14])


def _cmdline(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode(
            errors="replace"
        )
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of one process in KiB, 0 if gone."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        st = _stat(int(entry.name))
        if st is not None:
            kids.setdefault(st[0], []).append(int(entry.name))
    return kids


@dataclass(frozen=True)
class TreeSample:
    """CPU seconds of the tree, split into the benchmark's own Python
    process (``driver``), the JVM with the non-Python processes below it
    (``jvm``) and the live Python workers below the JVM with what they
    have reaped (``pyworker``), plus per-process peak RSS."""

    driver: float
    jvm: float
    pyworker: float
    jvm_hwm_kb: int
    max_worker_hwm_kb: int

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.pyworker


class ProcessTree:
    """Samples the tree rooted at this process; the JVM is looked up
    among its children on every sample, so a restarted gateway is seen."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _jvm_pids(self, kids: dict[int, list[int]]) -> list[int]:
        return [p for p in kids.get(self.root, []) if "java" in _cmdline(p).split(" ")[0]]

    def sample(self) -> TreeSample:
        kids = _children_map()
        me = _stat(self.root)
        driver = (me[1] + me[2]) if me else 0
        jvm = pyw = 0
        jvm_hwm = worker_hwm = 0
        for jpid in self._jvm_pids(kids):
            st = _stat(jpid)
            if st is None:
                continue
            # what the JVM has reaped is its short-lived children: Python
            # planner processes, but also shell helpers Hadoop forks
            jvm += sum(st[1:])
            jvm_hwm += _hwm_kb(jpid)
            stack = list(kids.get(jpid, []))
            while stack:
                pid = stack.pop()
                wst = _stat(pid)
                if wst is None:
                    continue
                if "python" in _cmdline(pid):
                    pyw += sum(wst[1:])
                    worker_hwm = max(worker_hwm, _hwm_kb(pid))
                else:
                    jvm += sum(wst[1:])
                stack.extend(kids.get(pid, []))
        return TreeSample(
            driver=driver / _TICK,
            jvm=jvm / _TICK,
            pyworker=pyw / _TICK,
            jvm_hwm_kb=jvm_hwm,
            max_worker_hwm_kb=worker_hwm,
        )


def driver_maxrss_kb() -> int:
    """Peak resident set of this Python process (Linux reports KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
