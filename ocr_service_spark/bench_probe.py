"""Measurement probes for the benchmarks: load-gating and CPU
accounting.

The sandbox host has external load bursts (loadavg 15+ with zero local
processes) that inflate wall-clock 5-20x. Scaling-efficiency claims
therefore need more than wall time: these probes attribute every CPU
second of a rep to (a) our own process tree — the JVM plus its forked
Python UDF workers, matched by POSIX session id, so Arrow-UDF Python
time is counted — or (b) the rest of the host. A rep whose per-doc
`ours_cpu_s` is flat across core counts while wall inflates is
plan-scaling evidence; the residual is the neighbours' CPU, visible in
`host_minus_ours_cpu_s` (tick-sampling skew makes it noisy within a
few percent — see tools/scaling_job.py).
"""

from __future__ import annotations

import os
import time

__all__ = [
    "loadavg1",
    "wait_for_quiet",
    "host_cpu_seconds",
    "session_tree_cpu_seconds",
]

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_for_quiet(max_wait_s: float = 180.0,
                   poll_s: float = 5.0) -> tuple[float, bool]:
    """Block until the 1-min loadavg drops below a quarter of the
    host's CPUs, or `max_wait_s` elapses. Returns (seconds waited,
    timed out). Our own idle JVM contributes ~0, so load above the gate
    is the neighbours or the tail of our own previous job."""
    gate = os.cpu_count() / 4
    t0 = time.monotonic()
    while loadavg1() >= gate:
        waited = time.monotonic() - t0
        if waited >= max_wait_s:
            return round(waited, 1), True
        time.sleep(min(poll_s, max_wait_s - waited))
    return round(time.monotonic() - t0, 1), False


def host_cpu_seconds() -> float:
    """Host-wide busy CPU seconds since boot (user+nice+system+irq+
    softirq+steal from /proc/stat — idle and iowait excluded)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    u, n, s = int(parts[1]), int(parts[2]), int(parts[3])
    irq, sirq, steal = int(parts[6]), int(parts[7]), int(parts[8])
    return (u + n + s + irq + sirq + steal) / _CLK_TCK


def session_tree_cpu_seconds() -> float:
    """CPU seconds consumed by every live process in OUR session — the
    driver, the Spark JVM it launched, and the pyspark.daemon Python
    workers the JVM forked (all inherit the session id). utime+stime
    only; dead-worker time is lost, which is negligible under
    spark.python.worker.reuse (default true)."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        # comm may contain spaces/parens: fields start after the last ')'
        fields = raw[raw.rfind(")") + 2:].split()
        # post-comm indices: 0=state 1=ppid 2=pgrp 3=session ... 11=utime 12=stime
        if len(fields) > 12 and int(fields[3]) == sid:
            total += int(fields[11]) + int(fields[12])
    return total / _CLK_TCK
