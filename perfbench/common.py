"""Shared record types and host probes for the benchmark."""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class Step:
    """One closed-loop step of a workload.

    ``latencies`` holds one entry per operation the step performed (one
    query, one pipeline pass, or every micro-batch of a stream replay);
    ``rows`` is the input rows the step processed in ``wall`` seconds;
    ``found``/``expected`` count oracle rows or pairs for the recall.
    ``failed`` is how many of the step's operations failed their check.
    """
    latencies: list
    rows: int
    wall: float
    ok: bool
    found: int
    expected: int
    tag: str = ""
    t0: float = 0.0  # epoch seconds around the timed part
    t1: float = 0.0
    layer: dict = field(default_factory=dict)  # per-layer counts
    call: int = 0  # which workload.step call produced this record
    cpu: float = 0.0  # CPU seconds of the process tree in the timed part
    unattributed: float | None = None

    @property
    def failed(self) -> int:
        return 0 if self.ok else len(self.latencies)


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list] | None:
    try:
        with open(path) as f:
            st = f.read()
    except OSError:
        return None
    name, rest = st[st.index("(") + 1:st.rindex(")")], st[st.rindex(")") + 2:]
    return name, rest.split()


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every process
    under it (the JVM, the Python worker daemon and its workers),
    including the children they have reaped, less the JVM's JIT
    compiler threads. Time the host stole from the guest is not in it.

    JIT compilation is the JVM's own warm-up: in a run of a few minutes
    it is a large and erratic share of the CPU time (it depends on when
    HotSpot decides to compile), while Spark's code generation runs on
    the task and driver threads and stays counted."""
    parent, used, names = {}, {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit() or (s := _stat(f"/proc/{d}/stat")) is None:
            continue
        names[int(d)] = s[0]
        parent[int(d)] = int(s[1][1])
        used[int(d)] = sum(int(x) for x in s[1][11:15])
    me, total = os.getpid(), 0
    for pid, ticks in used.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p != me:
            continue
        total += ticks
        if names[pid] == "java":
            for t in os.listdir(f"/proc/{pid}/task"):
                s = _stat(f"/proc/{pid}/task/{t}/stat")
                if s is not None and "CompilerThre" in s[0]:
                    total -= int(s[1][11]) + int(s[1][12])
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole guest since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def proc_status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def nproc() -> int:
    return len(os.sched_getaffinity(0))
