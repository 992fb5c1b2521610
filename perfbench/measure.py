"""Summary statistics and process probes shared by every workload."""

from __future__ import annotations

import math
import statistics
import time

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND):
    """The highest whole percentile, from 99 down to 50, whose
    nearest-rank value leaves at least ``min_beyond`` samples above its
    rank, as ``(percentile, value, sample_count)``.

    Returns None when there are too few samples for even the median to
    qualify (fewer than ``2 * min_beyond``): a percentile below the median
    is no tail."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= min_beyond:
            return p, xs[rank - 1], n
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


#: the host probe's median seconds on the reference host (a 4-vCPU Xeon
#: VM), the speed that host-adjusted timings are scaled to
PROBE_REF_S = 0.13
#: rows of the probe query, over one partition per core
PROBE_ROWS = 2_000_000
#: probe queries per probe point
PROBE_SAMPLES = 10


class HostProbe:
    """How fast the host runs Spark while a run measures: the time of a
    fixed query over generated rows, run in the program's session but
    reading none of its tables and calling none of its query functions.

    The host's speed drifts by up to 2x within an hour, and every timing
    drifts with it. A timing times ``PROBE_REF_S`` over the median probe
    query of the same run reads as on the reference host. A pure-Python
    loop does not serve: its speed did not follow the host's drift."""

    def __init__(self, spark):
        self.spark = spark
        self.samples: list[float] = []

    def sample(self) -> None:
        cores = self.spark.sparkContext.defaultParallelism
        for _ in range(PROBE_SAMPLES):
            t = time.perf_counter()
            self.spark.range(0, PROBE_ROWS, 1, cores).selectExpr(
                "sum(hash(id, id % 7))").collect()
            self.samples.append(time.perf_counter() - t)

    def seconds(self) -> float:
        return median(self.samples)

    def adjust(self, seconds: float) -> float:
        return seconds * PROBE_REF_S / self.seconds()


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM line for pid {pid}")
