"""CPU time and resident memory of a process tree, read from ``/proc``.

CPU is user + system of every live process in the tree plus what each has
already reaped from its exited children (``cutime``/``cstime``), so Python
workers and short-lived subprocesses still count after they exit.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[str]:
    """``root`` and all its descendants."""
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children.setdefault(st[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: str) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _jit_ticks(pid: str) -> int:
    """CPU of a JVM's JIT compiler threads, which work off a warm-up queue
    whose length depends on timing, not on the work the process does."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        st = _stat(f"{pid}/task/{tid}")
        if st is not None:
            total += int(st[11]) + int(st[12])
    return total


def cpu_s(root: int) -> float:
    """User + system CPU of the tree, less JIT compiler threads."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
            if st[0] != "Z":
                total -= _jit_ticks(pid)
    return total / _TICK


def pss_mb(root: int) -> float:
    """Proportional set size of the tree: pages shared between forked
    Python workers count once, split among the processes sharing them."""
    total_kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def process_age_s() -> float:
    """Seconds since this process started."""
    start_ticks = int(_stat("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK
