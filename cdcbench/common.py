"""Shared helpers: percentiles, the program's memory, the Spark session."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

# Spark's local-mode cores. The CDC workloads share this machine's cores
# with the Postgres server, its walsender and the generator, so Spark gets
# every core but one (README.md, "Cores").
SPARK_CORES = max(1, len(os.sched_getaffinity(0)) - 1)
# the driver JVM's heap limit (the package default, 16g, is more than the
# machine this benchmark is sized for has)
DRIVER_MEMORY = "2g"


def pct(values, q: float) -> float:
    """``q``-th percentile (linear interpolation); 0.0 for no values."""
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory(root_pid: int, exclude: set[int]) -> int:
    """Proportional set size of ``root_pid`` and its descendants, bytes.

    Proportional set size counts a page shared by several processes once in
    total, so Python workers forked from one daemon, and forks that have not
    yet exec'd, add only the pages they own. Processes in ``exclude`` and
    their descendants are skipped."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total = 0
    todo = [root_pid]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        total += _pss_bytes(p)
        todo.extend(children.get(p, ()))
    return total


def jvm_live_bytes(jvm) -> int:
    """The JVM's heap in use after its latest garbage collection plus its
    committed non-heap memory (metaspace, code cache), bytes.

    The JVM's resident size follows when the collector grows the heap and
    touches fresh regions, which differs from run to run of the same work;
    the heap left after a collection is what the program holds."""
    mf = jvm.java.lang.management.ManagementFactory
    heap_pools = {p.getName() for p in mf.getMemoryPoolMXBeans()
                  if p.getType().toString() == "HEAP"}
    last = None
    for gc in mf.getGarbageCollectorMXBeans():
        info = gc.getLastGcInfo()
        if info is not None and (last is None or info.getEndTime() > last.getEndTime()):
            last = info
    memory = mf.getMemoryMXBean()
    if last is None:
        heap = memory.getHeapMemoryUsage().getUsed()
    else:
        heap = sum(u.getUsed() for name, u in last.getMemoryUsageAfterGc().items()
                   if name in heap_pools)
    return heap + memory.getNonHeapMemoryUsage().getCommitted()


class MemorySampler:
    """The program's memory (this process, its JVM and Python workers),
    sampled every ``interval`` seconds: the proportional set size of every
    process in the tree, except that the JVM, once ``watch_jvm`` names it,
    counts by ``jvm_live_bytes``. Processes in ``exclude`` (and their
    descendants) are not counted."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.exclude: set[int] = set()
        self.samples: list[tuple[float, int]] = []
        self._jvm = None
        self._jvm_pid = None
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def watch_jvm(self, spark) -> None:
        from pyspark import SparkContext

        self._jvm_pid = SparkContext._gateway.proc.pid
        self._jvm = spark._jvm

    def _sample(self) -> int:
        total = tree_memory(os.getpid(), self.exclude)
        if self._jvm is not None:
            total += jvm_live_bytes(self._jvm) - _pss_bytes(self._jvm_pid)
        return total

    def _run(self) -> None:
        while not self._halt.is_set():
            try:
                self.samples.append((time.time(), self._sample()))
            except Exception:  # noqa: BLE001 — a JVM going away ends sampling
                if self._jvm is None:
                    raise
                return
            self._halt.wait(self.interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._halt.set()
        self._thread.join(timeout=10)

    def peak_mb(self, lo: float, hi: float) -> float:
        """The 90th percentile of the samples taken in [lo, hi], in MB: the
        level the program stays at for the last tenth of the window."""
        window = [b for t, b in self.samples if lo <= t <= hi]
        return pct(window, 90) / (1 << 20)


def spark_session(work: str, app: str):
    """The package's session factory on ``SPARK_CORES`` cores, with its
    scratch space under ``work``: the JVM's temp files (native libraries it
    unpacks) go to ``work/tmp`` and it writes no performance-data file."""
    from go_pq_cdc_elasticsearch_spark.session import get_spark

    spark = get_spark(
        app,
        cpus=SPARK_CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when the
    pipe to its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
