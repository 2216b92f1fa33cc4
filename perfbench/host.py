"""Host-state record.

``calibration_spin`` is a fixed single-thread workload timed at the
start and at the end of every run: on a quiet host it reads the same
every time, so a hot host (another tenant, hypervisor steal) shows in
the run's own artifact. ``loadavg`` cannot see steal; the spin can.
"""

from __future__ import annotations

import hashlib
import os
import time


def calibration_spin(rounds: int = 200_000) -> float:
    """Seconds for a chained md5 over 64-byte blocks, one thread."""
    t0 = time.perf_counter()
    h = b"\0" * 64
    for _ in range(rounds):
        h = hashlib.md5(h).digest() * 4
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    return list(os.getloadavg())


def process_age_s() -> float:
    """Seconds since this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
