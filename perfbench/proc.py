"""CPU time and memory of this process and every process under it
(the Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree() -> list[int]:
    """This process and all its descendants."""
    pids = [os.getpid()]
    i = 0
    while i < len(pids):
        pids.extend(_children(pids[i]))
        i += 1
    return pids


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # fields after "pid (comm)"; index 0 is the state
    return data[data.rfind(")") + 2 :].split()


def cpu_s() -> float:
    """User+system seconds of the live tree plus everything its
    members have reaped. A child that exits moves from its own
    counters into its parent's ``cutime``/``cstime``, so nothing is
    counted twice."""
    total = 0
    for pid in tree():
        f = _stat_fields(pid)
        if f:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def since_start_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK
