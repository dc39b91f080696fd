"""Host context (run metadata, not compared metrics) and process memory."""

from __future__ import annotations

import os
import resource
import subprocess
import time

import numpy as np


#: how long one canary reading runs
CANARY_S = 0.3


def canary() -> float:
    """Single-thread numpy rate: sorts of 2^18 doubles per second. ``np.sort``
    never uses a thread pool, so the figure reads the CPU share this process
    gets, independent of BLAS settings."""
    a = np.random.default_rng(0).standard_normal(1 << 18)
    n, t0 = 0, time.perf_counter()
    while (el := time.perf_counter() - t0) < CANARY_S:
        np.sort(a)
        n += 1
    return round(n / el, 2)


def stamp(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_master": spark.sparkContext.master,
    }


def jvm_pid(spark) -> "int | None":
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pid: "int | None") -> float:
    """The JVM's peak resident set (VmHWM) plus this driver's ``ru_maxrss``."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def retained_mb(spark) -> float:
    """Memory the run still holds at its end: the JVM heap in use after a
    full GC, plus this driver's resident set. Persisted frames, broadcasts
    and any other cache the program keeps stay in it; garbage does not, so
    unlike a peak it does not depend on when the collector ran."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    with open("/proc/self/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return heap.getUsed() / 2**20 + rss_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to others between two readings."""
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 4) if total else 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for
    it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
