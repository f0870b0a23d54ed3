"""Host facts recorded with every run so that a slow run can be explained.
They are reported only; no run is dropped or retried because of them."""

from __future__ import annotations

import os
import platform
import sys
import time

import numpy as np


def stall_counters() -> dict[str, float]:
    """CPU steal summed over vCPUs and the time all tasks stalled on I/O
    (pressure stall information), in seconds since boot. A counter the
    kernel does not expose reads as 0."""
    out = {"cpu_steal_s": 0.0, "io_stall_s": 0.0}
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        out["cpu_steal_s"] = int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/pressure/io") as f:
            full = [ln for ln in f if ln.startswith("full")]
        out["io_stall_s"] = int(full[0].rsplit("total=", 1)[1]) / 1e6
    except (OSError, IndexError, ValueError):
        pass
    return out


def membw_probe_s(mb: int = 200, rounds: int = 5) -> float:
    """bench.py's memory-bandwidth probe: five passes over a 200 MB array."""
    a = np.zeros(mb * 1_000_000 // 8)
    t0 = time.perf_counter()
    for _ in range(rounds):
        a = a + 1.0
    return time.perf_counter() - t0


def facts(spark, before: dict, after: dict) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "membw_probe_s": round(membw_probe_s(), 3),
        **{f"loop_{k}": round(after[k] - before[k], 3) for k in before},
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "numpy": np.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "kernel": platform.release(),
    }
