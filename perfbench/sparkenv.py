"""Process plumbing for the benchmark: checkout paths, the Spark session, the
machine description and the resident-memory sampler.

Everything the benchmark writes (Spark scratch, JVM temp files, crawl work
directories, fixtures, traces) lives under ``perfbench/.cache`` inside the
checkout, so a run touches nothing outside it.
"""

from __future__ import annotations

import os
import threading

CORES = 4
DRIVER_MEMORY = "2g"

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, "perfbench", ".cache")


def prepare_env(run_dir: str) -> None:
    """Point every temp-file user (pyspark's gateway handshake, the JVM,
    Python workers) at the run directory before Spark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit runs to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def build_session(run_dir: str, ui: bool):
    """local[4] session sized for a 4-core, 15 GB box.

    The engine package is put on the Python workers' path through the
    session config: without it every mapInArrow/pandas UDF fails with
    ModuleNotFoundError when the driver runs outside the checkout root.
    The UI (and with it the status REST API) is on only for traced runs."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed, pre-touched heap keeps the JVM's resident size from
            # tracking G1's heap growth and region use, which vary run to
            # run; RssSampler counts the heap by the data Spark keeps on it
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
            " -XX:+AlwaysPreTouch",
        )
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def machine(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cores_visible": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "driver_memory": DRIVER_MEMORY,
        "spark_version": spark.version,
    }


def _tree_pss_kb(root_pid: int) -> dict[int, int]:
    """Proportional set size of ``root_pid`` and each of its descendants
    (the Python driver, the JVM it launched and the JVM's Python workers),
    by pid. PSS splits the pages forked Python workers share with their
    daemon, so the sum counts each resident page once, where summed RSS
    would not."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out: dict[int, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            continue
    return out


class RssSampler:
    """Peak resident memory of the program, sampled every ``interval``
    seconds on a daemon thread between start() and stop().

    A sample is the process tree's summed PSS with the JVM heap counted by
    the data Spark keeps on it, not by its reservation. The heap is
    pre-touched (``-Xms`` = ``-Xmx``, ``-XX:+AlwaysPreTouch``), so its
    ``DRIVER_MEMORY`` is resident whatever the program does; it is
    subtracted, and the storage memory Spark's memory manager holds
    (cached and checkpointed blocks, broadcasts) is added back.

    ``peaks`` keeps each part's own peak for the report, next to two heap
    figures left out of the sample: execution memory (the buffers of
    running sorts, aggregations and joins, live for a task's length, so a
    0.25 s sample catches a random share of them) and the raw heap use
    (``Runtime`` total - free), whose peak is set by when the collector
    runs."""

    def __init__(self, spark, interval: float = 0.25):
        self.interval = interval
        self.samples = 0
        self.peaks = dict.fromkeys(
            ("sample", "jvm_off_heap", "python", "storage", "execution", "heap_used"), 0
        )
        jvm = spark.sparkContext._jvm
        self._mm = jvm.org.apache.spark.SparkEnv.get().memoryManager()
        self._runtime = jvm.java.lang.Runtime.getRuntime()
        self._jvm_pid = spark.sparkContext._gateway.proc.pid
        self._heap_kb = _mb(DRIVER_MEMORY) * 1024
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            by_pid = _tree_pss_kb(pid)
            jvm_off_heap = by_pid.pop(self._jvm_pid, 0) - self._heap_kb
            python = sum(by_pid.values())
            storage = self._mm.storageMemoryUsed() // 1024
            kb = {
                "sample": python + jvm_off_heap + storage,
                "jvm_off_heap": jvm_off_heap,
                "python": python,
                "storage": storage,
                "execution": self._mm.executionMemoryUsed() // 1024,
                "heap_used": (self._runtime.totalMemory() - self._runtime.freeMemory())
                // 1024,
            }
            for k, v in kb.items():
                self.peaks[k] = max(self.peaks[k], v)
            self.samples += 1
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peaks["sample"] / 1024

    def report(self) -> str:
        mb = {k: v / 1024 for k, v in self.peaks.items()}
        return (
            f"n={self.samples} samples; part peaks: Python {mb['python']:.0f},"
            f" JVM outside its heap {mb['jvm_off_heap']:.0f}, Spark storage"
            f" {mb['storage']:.1f} MB; not counted: Spark execution"
            f" {mb['execution']:.1f}, raw heap use {mb['heap_used']:.0f} of"
            f" {self._heap_kb / 1024:.0f} MB"
        )


def _mb(size: str) -> int:
    """A JVM size such as ``2g`` or ``512m`` in MB."""
    return int(size[:-1]) * {"g": 1024, "m": 1}[size[-1].lower()]
