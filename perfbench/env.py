"""The fixed run environment: a per-run temp dir inside the checkout,
one pinned local Spark session, peak-memory readings, and a teardown
that stops the JVM and removes every file the run wrote."""

from __future__ import annotations

import gc
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def make_tmp(tag: str) -> str:
    """A fresh per-run dir; TMPDIR points at it so nothing Python or
    the JVM spills lands outside the checkout."""
    os.makedirs(TMP_PARENT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{tag}-", dir=TMP_PARENT)
    for sub in ("spark-local", "jvm", "warehouse"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["TMPDIR"] = os.path.join(tmp, "jvm")
    tempfile.tempdir = None
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    return tmp


def start_session(tmp: str, n_cpus: int, ui: bool):
    """(spark, seconds). The UI (and its REST API, bound to loopback)
    is only on for traced runs."""
    from globalweather_etl_spark.session import get_spark

    jvm_tmp = os.path.join(tmp, "jvm")
    retained = "100000" if ui else "20"
    # A fixed heap size, so G1's resizing adds no run-to-run noise. A run
    # touches most of it anyway, so pre-touching it at start only moves
    # first-touch page faults out of the timed passes. peak_rss_mb is
    # thus blind to caches held inside the heap; heap_live_mb shows those.
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={jvm_tmp} -Dderby.system.home={jvm_tmp}"
        ),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
        # a traced run reads every job back from the REST API; an
        # untraced one keeps few, so heap_live_mb does not grow with
        # the number of requests a run makes
        "spark.ui.retainedJobs": retained,
        "spark.ui.retainedStages": retained,
        "spark.sql.ui.retainedExecutions": retained,
    }
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n_cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def versions(spark, n_cpus: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": n_cpus,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
    }


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def reset_peaks(spark) -> None:
    """Start a new peak-memory window: reset VmHWM of this Python driver
    and of its JVM (Linux clear_refs 5)."""
    for pid in ("self", _jvm_pid(spark)):
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(spark) -> dict:
    """Peak resident set (VmHWM) of this Python driver and of its JVM
    since the last reset_peaks."""
    return {"python": _vm_hwm_kb("self") / 1024.0, "jvm": _vm_hwm_kb(_jvm_pid(spark)) / 1024.0}


def heap_live_mb(spark) -> float:
    """Used JVM heap after a full collection: the data the Spark driver
    still holds, so in-heap caches show here even when the heap's resident
    size does not move. Python's collection runs first, so that py4j
    releases the JVM objects of frames Python no longer holds. Spark
    frees broadcasts and shuffles of collected objects on a cleaner
    thread, which releases more after the next collection, so collect
    until the reading stops falling (two or three rounds)."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = float("inf")
    for _ in range(10):
        gc.collect()
        spark._jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if used > last - 1.0:
            return min(used, last)
        last = used
        time.sleep(0.5)
    return last


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line in /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to other guests, the
    main source of run-to-run noise on a shared host."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total / 1e6


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def remove_tmp(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(TMP_PARENT)
    except OSError:
        pass
