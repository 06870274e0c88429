"""Run plumbing shared by the workloads: pinned environment, the run's
private directory, the Spark session's lifetime, summary statistics and
host diagnostics.

Host diagnostics are recorded only. They never drop, retry or rescale a
run: steadiness comes from medians over many operations and many runs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess

from bench import _calibration_spin, _contention_probe, _external_cores

#: Executor cores for every workload; no larger than any host this runs on.
CPUS = 2
#: JVM heap; local mode runs every task in the one Spark JVM, and the
#: engine's 16g default does not fit a 15 GB host.
JVM_HEAP = "2g"


def pin_env(run_dir: str) -> None:
    """Pin the knobs that change what the engine does, before any JVM
    starts, and keep every scratch file inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)


def session_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the whole heap from the start, so heap growth does not vary by run
        "spark.driver.extraJavaOptions":
            f"-Xms{JVM_HEAP} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def remove_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def summary(values: list[float]) -> dict:
    """Sample count, median and each upper percentile with at least ten
    samples beyond it. The median is always given, as ``op_p50_s`` is
    read from it; it has ten samples beyond it only from ``n`` = 21."""
    n = len(values)
    out: dict = {"n": n}
    if not n:
        return out
    vals = sorted(values)
    out["p50"] = statistics.median(vals)
    for p in (0.9, 0.95, 0.99):
        if n * (1 - p) >= 10:
            out[f"p{round(p * 100)}"] = vals[min(n - 1, int(p * n))]
    return out


def halves(values: list[float]) -> dict | None:
    """First-half and second-half medians in run order, so a warm-up
    trend within a run shows."""
    if len(values) < 4:
        return None
    h = len(values) // 2
    return {
        "first": statistics.median(values[:h]),
        "second": statistics.median(values[h:]),
    }


# -- host diagnostics --------------------------------------------------------
# The spin and the CPU accounting are the repository benchmark's own
# (``bench.py``); only the steal share and the load average are added here.


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


class HostProbe:
    """Host speed and machine-wide CPU use between ``start`` and ``stop``."""

    def start(self) -> None:
        self.load_start = os.getloadavg()[0]
        self.spin_before_s = _calibration_spin()
        self.steal0, self.total0 = _steal_jiffies()
        self.probe = _contention_probe()

    def stop(self) -> dict:
        external = _external_cores(self.probe)
        steal, total = _steal_jiffies()
        return {
            "spin_before_s": self.spin_before_s,
            "spin_after_s": _calibration_spin(),
            "steal_share": (steal - self.steal0) / max(1, total - self.total0),
            "external_cores": external,
            "loadavg_start": self.load_start,
            "loadavg_end": os.getloadavg()[0],
            "nproc": os.cpu_count(),
        }
