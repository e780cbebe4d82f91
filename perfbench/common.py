"""Shared pieces of the benchmark: statistics, host sampling, run stamp and
the closed-loop measuring window."""

from __future__ import annotations

import os
import platform
import statistics
import sys
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def tail(values) -> dict:
    """The highest percentile that still has at least ten samples beyond it.

    With n sorted samples, the value at 0-based rank n-11 has exactly ten
    samples above it; it is the ((n-10)/n)th percentile. Fewer than eleven
    samples leave no such percentile, and the tail is reported as None."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    return {
        "value": s[n - 11],
        "percentile": round(100.0 * (n - 10) / n, 2),
        "samples": n,
    }


def summarize(latencies_ms: list[float]) -> dict:
    return {"p50": median(latencies_ms), "tail": tail(latencies_ms),
            "samples": len(latencies_ms)}


class HostSampler:
    """CPU steal share and load average of the host over a window, read
    from /proc so a loaded host shows in every artifact."""

    @staticmethod
    def _cpu_times() -> list[int] | None:
        try:
            with open("/proc/stat") as f:
                fields = f.readline().split()[1:]
            return [int(x) for x in fields]
        except (OSError, ValueError):
            return None

    def __init__(self):
        self.start_cpu = self._cpu_times()
        self.start_proc = time.process_time()
        self.loads: list[float] = []

    def sample_load(self) -> None:
        try:
            self.loads.append(os.getloadavg()[0])
        except OSError:
            pass

    def finish(self) -> dict:
        self.sample_load()
        end = self._cpu_times()
        steal = None
        if self.start_cpu and end and len(end) > 7:
            delta = [b - a for a, b in zip(self.start_cpu, end)]
            total = sum(delta[:8])
            steal = 100.0 * delta[7] / total if total else 0.0
        return {
            "steal_pct": steal,
            "loadavg": median(self.loads),
            "proc_cpu_s": time.process_time() - self.start_proc,
        }


def boot_id() -> str:
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def run_stamp(spark, host: dict, warmup: dict) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "spark_master": spark.sparkContext.master,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "boot_id": boot_id(),
        "spark_app_id": spark.sparkContext.applicationId,
        "warmup": warmup,
        "host_steal_pct": host["steal_pct"],
        "host_loadavg": host["loadavg"],
    }


class Window:
    """A closed-loop measuring window shared by every client thread.

    Clients start together; each starts a new op only while the window is
    open, and every op it starts runs to completion. Throughput credits
    each op with the share of its duration that falls inside the window,
    so an op cut by the window's end counts in part rather than not at
    all, which keeps the rate smooth when ops are long."""

    def __init__(self, seconds: float, clients: int, on_open=None):
        self.seconds = seconds
        self.t0 = 0.0
        self.on_open = on_open
        # the barrier's action stamps t0 before any party is released
        self.barrier = threading.Barrier(clients + 1, action=self._start)

    def _start(self) -> None:
        self.t0 = time.perf_counter()
        if self.on_open is not None:
            self.on_open()

    def wait_open(self) -> None:
        """Called by every client and by the caller that opens the window."""
        self.barrier.wait()

    def is_open(self) -> bool:
        return time.perf_counter() - self.t0 < self.seconds

    def credit(self, start: float, end: float) -> float:
        lo, hi = max(start, self.t0), min(end, self.t0 + self.seconds)
        if end <= start:
            return 1.0 if self.t0 <= start < self.t0 + self.seconds else 0.0
        return max(0.0, hi - lo) / (end - start)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
