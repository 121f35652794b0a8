"""The end-to-end metrics every workload reports.

Every workload prints the same end-to-end metrics, each meaning the
workload's own operations (README.md has the table):

- ``cpu_ms_per_op``: CPU time of the whole process tree (this Python
  process, the JVM, its Python workers), less the JVM's JIT compiler
  threads, per timed operation;
- ``primary_cpu_ms`` / ``secondary_cpu_ms``: median CPU time of the
  workload's two operation classes.

They are CPU times because on a shared virtual machine the hypervisor
can take CPUs away for minutes at a time, which stretched wall times up
to 2.5x while CPU time moved ~20%. Wall-clock throughput and latencies
(with tails where the sample supports one) are printed on the
``figures`` line.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass


def median_ms(samples: list[float]) -> float:
    return 1000.0 * statistics.median(samples)


def tail(samples: list[float]) -> dict | None:
    """The highest percentile (of 50, 90, 95, 99, 99.9) that still has
    at least ten samples above it, in ms, with the sample count."""
    n = len(samples)
    best = None
    for p in (50, 90, 95, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    if best is None:
        return None
    ordered = sorted(samples)
    idx = min(n - 1, math.ceil(n * best / 100) - 1)
    return {"percentile": best, "ms": 1000.0 * ordered[idx], "samples": n}


# The JVM's JIT compiler threads. Their CPU is JIT warm-up, not the
# engine's work: in a measured api_mixed round they still used ~30% of
# the process tree's CPU, by an amount that varied from run to run.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# CPU ticks of every JIT compiler thread seen, by (thread id, start
# time), kept after the thread exits: the process totals keep an
# exited thread's CPU too.
_jit_ticks: dict[tuple[str, str], int] = {}


def tree_cpu_seconds(include_jit: bool = False) -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers), from /proc; without the JIT
    compiler threads' unless ``include_jit``."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    used: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        parent[int(entry)] = int(fields[1])
        used[int(entry)] = int(fields[11]) + int(fields[12])
    me = os.getpid()
    total = 0
    for pid, ticks in used.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
            _read_jit_threads(pid)
    if not include_jit:
        total -= sum(_jit_ticks.values())
    return total / tick


def jit_cpu_seconds() -> float:
    """CPU seconds the JIT compiler threads have used so far (as of the
    last ``tree_cpu_seconds`` reading)."""
    return sum(_jit_ticks.values()) / os.sysconf("SC_CLK_TCK")


def _read_jit_threads(pid: int) -> None:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the thread ended meanwhile
            continue
        _jit_ticks[(tid, fields[19])] = int(fields[11]) + int(fields[12])


@dataclass
class Result:
    """What one measured phase produced."""

    # wall time of each unit operation, seconds
    op_seconds: list[float]
    # process-tree CPU seconds of all timed operations
    cpu_seconds: float
    # CPU seconds of each operation of the two classes
    primary_cpu: list[float]
    secondary_cpu: list[float]
    figures: dict

    def end_to_end(self) -> dict:
        return {
            "cpu_ms_per_op": {"value": 1000.0 * self.cpu_seconds / len(self.op_seconds), "unit": "ms"},
            "primary_cpu_ms": {"value": median_ms(self.primary_cpu), "unit": "ms"},
            "secondary_cpu_ms": {"value": median_ms(self.secondary_cpu), "unit": "ms"},
        }
