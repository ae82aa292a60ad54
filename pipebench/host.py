"""The host: Spark session settings sized to it, a short calibration, and
peak memory of the Spark JVM and its Python workers read from /proc."""

from __future__ import annotations

import gc
import hashlib
import os
import platform
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (longest prefix)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            fields = line.split()
            mnt = fields[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, fields[2]
    return kind


def heap_mb() -> int:
    """In local mode one JVM runs the whole application: give it a quarter
    of RAM, between 1 and 8 GiB."""
    return max(1024, min(8192, mem_total_mb() // 4))


def calibrate(work: str) -> dict:
    """Short single-core CPU and write-path probes, so a slow host window
    shows next to the figures it produced."""
    t0 = time.perf_counter()
    n = 0
    h = b"calibrate"
    while time.perf_counter() - t0 < 0.2:
        for _ in range(1000):
            h = hashlib.sha256(h).digest()
        n += 1000
    cpu = n / (time.perf_counter() - t0)
    path = os.path.join(work, "calibrate.bin")
    block = b"x" * (1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(64):
            f.write(block)
    write_s = time.perf_counter() - t0
    os.remove(path)
    return {"sha256_per_s": round(cpu), "write_mb_per_s": round(64 / write_s, 1)}


def host_info(work: str) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "heap_mb": heap_mb(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "work_fs": fs_type(work),
        "calibration": calibrate(work),
    }


def spark_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    """Session settings for this host; everything Spark writes stays
    under ``work``. The event log is on only for traced sessions."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed-size heap with fixed generations: its resident size then
        # follows what the program keeps, not how the collector grew it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC -Xms{heap_mb()}m"
        ),
        # the repository's bench.py rule for local mode; the engine's
        # default of 64 is sized for 32 cores
        "spark.sql.shuffle.partitions": str(max(2 * nproc(), 16)),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON-lines file
        conf["spark.eventLog.compress"] = "false"
    return conf


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Shares of the CPU time between two ``cpu_ticks`` readings: busy,
    idle and stolen by the hypervisor for other guests. Steal counts only
    the time taken outright; other guests can also slow this one through
    shared caches and memory without any."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {"busy": round((total - d[3] - d[4] - d[7]) / total, 3),
            "idle": round((d[3] + d[4]) / total, 3), "steal": round(d[7] / total, 3)}


def quiesce(spark) -> None:
    """Collect garbage in Python and in the JVM, outside every timer, so
    no timed operation pays for a collection of what earlier ones left
    (Python's collection also releases the JVM objects py4j holds for
    dead Python references)."""
    gc.collect()
    spark._jvm.System.gc()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of the Spark JVM plus its Python workers: the kernel's
    high-water mark (VmHWM) of every process below this one, read once
    before the JVM stops. Summing per-process peaks can only overstate the
    joint peak, and needs no sampling thread competing for the cores."""
    kids = _children()
    total, todo = 0, [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            total += _hwm_kb(c)
            todo.append(c)
    return total / 1024
