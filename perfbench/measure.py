"""Process-level measurements: CPU seconds and peak resident memory of
the driver JVM and its Python workers, and latency summaries."""
from __future__ import annotations

import math
import os
import resource
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after its ')'
    return data[data.rindex(")") + 2:].split()


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


def process_tree_cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` and every live descendant, plus the CPU of
    descendants they have already reaped (Spark's Python workers are
    forked by a daemon that reaps them)."""
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        f = _stat_fields(p)
        if f is None:
            continue
        # fields 14-17 of proc(5): utime stime cutime cstime (here 0-based 11-14)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        stack.extend(_children(p))
    return total / _TICK


class JitCpu:
    """CPU seconds spent by the JVM's JIT compiler threads ("C1/C2
    CompilerThread"). Their work is warm-up that depends on the run's
    history, not on the pass being measured, so pass CPU leaves it out.
    Compiler threads come and go; each one counts at its last reading."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self._last: dict[str, float] = {}

    def read(self) -> float:
        root = f"/proc/{self.pid}/task"
        try:
            tids = os.listdir(root)
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"{root}/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"{root}/{tid}/stat") as f:
                    data = f.read()
            except OSError:
                continue
            fields = data[data.rindex(")") + 2:].split()
            self._last[tid] = (int(fields[11]) + int(fields[12])) / _TICK
        return sum(self._last.values())


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def self_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def kind_p50_gm(ops: list[dict]) -> float:
    """Geometric mean, over op kinds, of each kind's median latency. A
    plain median over a mix of kinds lands on the edge between two
    kinds and jumps with noise; this weighs every kind alike."""
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["s"])
    return math.exp(statistics.fmean(math.log(median(v)) for v in kinds.values()))


def p90(values: list[float]) -> float | None:
    """The 90th percentile, or None when fewer than 100 samples leave
    fewer than ten beyond it."""
    if len(values) < 100:
        return None
    return float(statistics.quantiles(values, n=10)[-1])
