"""Process-tree CPU, memory and host-steal accounting from /proc.

CPU is split by role: the driver Python process, the Spark JVM, and the
PySpark worker processes (``pyspark.daemon`` and the workers it forks).
Each process contributes its own ticks plus the ticks of children it has
already reaped (``cutime``/``cstime``), so a Python worker that exits
mid-pass stays counted through its reaper. A worker can vanish between
two reads of one sample, so each role's total is clamped to never go
below its previous value: deltas are never negative.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
ROLES = ("driver_py", "jvm", "pyworker")


def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    comm = data[data.index("(") + 1:data.rindex(")")]
    fields = data[data.rindex(")") + 2:].split()
    # fields[1] is ppid; utime, stime, cutime, cstime are stat fields 14-17
    return comm, int(fields[1]), sum(int(x) for x in fields[11:15])


def _children_map():
    kids: dict[int, list[int]] = {}
    info = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        info[int(name)] = st
        kids.setdefault(st[1], []).append(int(name))
    return kids, info


def _descendants(root: int, kids) -> list[int]:
    out, todo = [], list(kids.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class TreeMeter:
    """Monotonic CPU-seconds per role for this process and its descendants."""

    def __init__(self):
        self.root = os.getpid()
        self._last = dict.fromkeys(ROLES, 0.0)

    def pids_by_role(self):
        kids, info = _children_map()
        roles = {"driver_py": [self.root], "jvm": [], "pyworker": []}
        for pid in _descendants(self.root, kids):
            comm = info[pid][0]
            if comm == "java":
                roles["jvm"].append(pid)
        for jvm in roles["jvm"]:
            roles["pyworker"] += [p for p in _descendants(jvm, kids)
                                  if info[p][0].startswith("python")]
        return roles, info

    def sample(self) -> dict:
        roles, info = self.pids_by_role()
        own = os.times()
        now = {}
        for role, pids in roles.items():
            if role == "driver_py":
                # the driver's own time only: its cutime would absorb the
                # JVM's ticks once the JVM is reaped at shutdown
                ticks = (own.user + own.system) * _TICK
            else:
                # pyspark.daemon's cutime holds the workers it already reaped
                ticks = sum(info[p][2] for p in pids)
            now[role] = max(self._last[role], ticks / _TICK)
        self._last = now
        return dict(now)

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak resident set."""
        roles, _ = self.pids_by_role()
        total_kb = 0
        for pid in (p for pids in roles.values() for p in pids):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024.0


def steal_s() -> float:
    """Host-wide steal time since boot, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK
