"""Host and process-tree readings from /proc.

CPU time is summed over the benchmark process and every descendant: the
driver JVM, the PySpark daemon and its Python workers. ``cutime``/``cstime``
carry the time of descendants that already exited and were reaped, so a
worker that ends between two readings is still counted.
"""
from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces or parentheses: split after the last ')'
    rp = raw.rfind(")")
    return [raw[raw.find("(") + 1 : rp]] + raw[rp + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[2]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, live and reaped) of ``root``'s tree."""
    total = 0
    for pid in descendants(root or os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            # fields after comm: state=1, ppid=2, ... utime=12 .. cstime=15
            total += sum(int(v) for v in f[12:16])
    return total / _HZ


def _comm(pid: int) -> str:
    f = _stat_fields(pid)
    return f[0] if f else ""


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pids(root: int | None = None) -> list[int]:
    return [p for p in descendants(root or os.getpid()) if _comm(p) == "java"]


def python_worker_pids(root: int | None = None) -> list[int]:
    """Python processes started by the JVM (the PySpark daemon and its
    forked workers); the benchmark's own process is not one of them."""
    out = []
    for jvm in jvm_pids(root):
        out.extend(
            p for p in descendants(jvm) if p != jvm and _comm(p).startswith("python")
        )
    return out


def steal_s() -> float:
    """Host-wide steal time since boot, seconds (all CPUs summed)."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _HZ if len(cpu) > 8 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
