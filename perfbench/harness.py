"""Spark session lifecycle and bookkeeping shared by the workloads.

Every file a run writes stays under ``<root>/.perfbench``: the run's
work directory holds the generated inputs, Spark's local and warehouse
directories, temporary files and the driver log, and is removed when
the run ends; traces go to ``.perfbench/traces``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import time

from sparkstats import (
    ErrorLog, clear_state, cpu_seconds, log4j_config, peak_rss_mb,
)

# Spark gets two task slots of the host's four cores: JIT compilation,
# garbage collection and the Python driver take the rest.  With four
# slots, runs took as long and moved more from run to run
CORES = 2
# The driver heap is capped at 2g, not at fmx.get_spark's 16g default:
# the benchmark is sized for a 4-core host with 16 GB of memory shared
# with other work, where a 16g cap lets the heap grow past what is free.
# Every workload fits in 2g (peak RSS of JVM and Python about 2 GB).
DRIVER_MEMORY = "2g"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Harness:
    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        base = os.path.join(root, ".perfbench")
        self.work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        self.trace_dir = os.path.join(base, "traces")
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, self.trace_dir):
            os.makedirs(d, exist_ok=True)
        # PySpark's launcher and Python's tempfile honour TMPDIR;
        # SPARK_LOCAL_DIRS would override spark.local.dir; the JVM that
        # spark-submit runs to build the driver command takes
        # SPARK_LAUNCHER_OPTS
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        tempfile.tempdir = tmp
        log_path = os.path.join(self.work, "driver.log")
        log_conf = os.path.join(self.work, "log4j2.properties")
        with open(log_conf, "w") as f:
            f.write(log4j_config(log_path))
        self.errors = ErrorLog(log_path)
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"{jvm_opts} -Dlog4j2.configurationFile=file:{log_conf}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run readable in the status store
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        }
        self.spark = None
        self._jvm: subprocess.Popen | None = None
        self._started = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def trace_path(self) -> str:
        return os.path.join(self.trace_dir,
                            f"{self.workload}-{self.seed}.json")

    # -- session ------------------------------------------------------
    def start(self) -> float:
        """Create the session through ``fmx.get_spark``; return its wall.
        The first call launches the JVM; later calls, after ``stop``,
        start a new SparkContext in the same JVM."""
        import fmx

        t0 = time.perf_counter()
        self.spark = fmx.get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=CORES, extra_conf=self.conf)
        wall = time.perf_counter() - t0
        if self._jvm is None:
            from pyspark import SparkContext

            self._jvm = SparkContext._gateway.proc
            self._started = time.perf_counter()
        return wall

    def since_start(self) -> float:
        """Seconds since the first session start."""
        return time.perf_counter() - self._started

    def restart(self) -> float:
        self.spark.stop()
        return self.start()

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the work dir."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            if self._jvm is not None:
                # the JVM exits when its stdin pipe closes
                self._jvm.stdin.close()
                try:
                    self._jvm.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    self._jvm.kill()
                    self._jvm.wait()
            shutil.rmtree(self.work, ignore_errors=True)

    # -- measurements around operations --------------------------------
    def dispatch_floor(self) -> float:
        """Median wall of an empty plan into the noop sink."""
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.spark.range(1).write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
        return median(walls)

    def clear(self) -> int:
        """Count, then drop, persisted RDDs and cached relations."""
        return clear_state(self.spark)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the JVM's tree."""
        return cpu_seconds(self._jvm.pid if self._jvm else None)

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self._jvm.pid if self._jvm else None)
