"""Percentiles, host context and memory readings for the benchmark."""

from __future__ import annotations

import hashlib
import math
import os
import time


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0 <= q <= 1) of ``values``."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q`` quantile's rank."""
    return n - 1 - math.floor((n - 1) * q)


def highest_reportable(n: int, candidates=(0.99, 0.95, 0.9, 0.75, 0.5)) -> float | None:
    """The highest candidate quantile with at least ten samples beyond it."""
    for q in candidates:
        if beyond(n, q) >= 10:
            return q
    return None


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def canary_rate(seconds: float = 0.3) -> float:
    """Single-thread CPU canary: SHA-256 megabytes hashed per second over a
    fixed buffer. It moves with the host, never with this repository."""
    buf = b"\x5a" * (1 << 20)
    n = 0
    t0 = time.perf_counter()
    while True:
        hashlib.sha256(buf).digest()
        n += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            return n / elapsed


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_context() -> dict:
    """Taken before Spark starts, so the load is the host's, not ours."""
    return {
        "nproc": cpus(),
        "loadavg_prerun_1_5_15": loadavg(),
        "canary_sha256_mb_per_s": round(canary_rate(), 1),
    }


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every live descendant: this process, the JVM and its Python workers."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])
    root = root or os.getpid()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(p for p, pp in parent.items() if pp == pid)
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
