"""Host sizing, Spark session lifecycle and process-tree memory sampling.

Parallelism comes from the CPUs this process may run on and the driver
heap from host RAM, so the same command sizes itself on any box. Every
file Spark, the JVM or the native-kernel build writes goes under one
directory inside the checkout.
"""

from __future__ import annotations

import os
import sys
import threading

HEAP_SHARE = 1 / 8      # of host RAM, for the single local-mode JVM
HEAP_MAX_GB = 8


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb() -> int:
    return max(1, min(HEAP_MAX_GB, round(host_ram_bytes() * HEAP_SHARE / 2**30)))


def prepare_process_env(root: str, tmp: str) -> None:
    """Point temp files (the JVM's too) at ``tmp`` and make the engine
    importable in Spark's Python workers. Must run before the first
    SparkSession: the JVM inherits this environment."""
    import tempfile

    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp dir from spark-submit's
    # launcher JVM (the driver JVM gets the same flag in start_spark)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_spark(master: str, work: str):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # the environment variable wins over spark.local.dir in Spark
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = (
        SparkSession.builder.master(master)
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_heap_gb()}g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM it launched (and
    with it Spark's Python daemons) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def start_python_workers(spark, n: int) -> None:
    """Run one tiny ``mapInArrow`` job of ``n`` tasks that imports the
    engine, so Spark's Python workers exist (and have the engine
    loaded) before anything is timed."""
    def probe(batches):
        import parquet_go_spark.decode  # noqa: F401
        import parquet_go_spark.encode  # noqa: F401

        yield from batches

    spark.range(n, numPartitions=n).mapInArrow(probe, "id long").collect()


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver, the JVM it launched and Spark's Python workers), sampled
    from /proc every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
