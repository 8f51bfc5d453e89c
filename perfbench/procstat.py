"""CPU time and peak memory of the benchmark's own processes, read from
``/proc``: the driver Python process, the JVM it launched, and the Python
workers below the JVM; and the share of CPU time the hypervisor stole from
this machine."""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, found by parent pid."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    start_ticks = int(_stat(os.getpid())[19])
    return up - start_ticks / _TICK


@dataclass
class Cpu:
    jvm_s: float
    driver_s: float
    worker_s: float

    def __sub__(self, o: "Cpu") -> "Cpu":
        return Cpu(self.jvm_s - o.jvm_s, self.driver_s - o.driver_s, self.worker_s - o.worker_s)

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.driver_s + self.worker_s


def cpu(jvm_pid: int) -> Cpu:
    """User plus system CPU so far. Workers are every process below the
    JVM, with the CPU of the ones already reaped (their parents'
    ``cutime``/``cstime``), so a worker that exits keeps counting."""
    st = _stat(jvm_pid)
    jvm = (int(st[11]) + int(st[12])) / _TICK if st else 0.0
    reaped = (int(st[13]) + int(st[14])) / _TICK if st else 0.0
    workers = reaped
    for p in descendants(jvm_pid):
        s = _stat(p)
        if s:
            workers += sum(int(x) for x in s[11:15]) / _TICK
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return Cpu(jvm, ru.ru_utime + ru.ru_stime, workers)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the JVM plus the driver process."""
    return (_hwm_kb(jvm_pid) + _hwm_kb(os.getpid())) / 1024.0


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def delivered(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time this machine asked for between two
    ``host_ticks`` readings that the hypervisor delivered: 1 minus the
    stolen share. Wall time times this share is the time the work would
    have taken had no CPU been stolen."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return 1.0 - stolen / (busy + stolen) if busy + stolen > 0 else 1.0
