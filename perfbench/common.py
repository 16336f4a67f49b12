"""Shared pieces of the benchmark: Spark session, timing statistics, memory."""

from __future__ import annotations

import os
import shutil
import statistics

SHUFFLE_PARTITIONS = 6
DRIVER_MEMORY = "1536m"


def task_slots() -> int:
    """nproc - 1 task slots (one core left for the Python process)."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def spark_session(work: str):
    """Local session with every knob that moves timings pinned here."""
    from pyspark.sql import SparkSession

    tmp = fresh_dir(os.path.join(work, "tmp"))
    spark = (
        SparkSession.builder.master(f"local[{task_slots()}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a heap committed up front keeps the JVM's peak RSS from following
        # the collector's growth decisions
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", fresh_dir(os.path.join(work, "spark-local")))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.default.parallelism", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it started has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of one process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the JVM it started."""
    kb = vm_hwm_kb("self")
    pid = jvm_pid(spark)
    if pid is not None:
        kb += vm_hwm_kb(pid)
    return kb / 1024


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n); with fewer than eleven samples there is
    no such percentile and the maximum is returned with percentile 100.
    """
    n = len(xs)
    s = sorted(xs)
    if n < 11:
        return s[-1], 100.0, n
    idx = n - 11  # ten samples above s[idx]
    return s[idx], 100.0 * (idx + 1) / n, n

