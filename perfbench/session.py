"""Spark session lifecycle for the benchmark: environment confinement,
timed set-up, restarts at another width, and a clean JVM shutdown."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from .paths import WORK


def confine_env() -> None:
    """Keep Spark's and Python's scratch files inside the checkout and the
    driver heap modest. Must run before the first JVM launch."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # no hsperfdata file under the system /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def set_event_log(spark, log_dir: str | None) -> None:
    """Enable (or disable, with None) Spark's event log for the NEXT
    SparkContext started in this JVM: a new context reads spark.* JVM
    system properties as its defaults."""
    sysprops = spark._jvm.java.lang.System
    if log_dir is None:
        sysprops.clearProperty("spark.eventLog.enabled")
        return
    os.makedirs(log_dir, exist_ok=True)
    sysprops.setProperty("spark.eventLog.enabled", "true")
    sysprops.setProperty("spark.eventLog.dir", "file://" + log_dir)
    sysprops.setProperty("spark.eventLog.compress", "false")
    sysprops.setProperty("spark.eventLog.rolling.enabled", "false")


def shutdown_jvm() -> None:
    """Stop the active context and the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


class Setup:
    """One timed set-up: get_spark + broadcast_prototypes + warm-up."""

    def __init__(self, app: str, cpus: int, warm):
        from effocr_spark import pipeline
        from effocr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app, cpus=cpus)
        t1 = time.perf_counter()
        self.protos_bc = pipeline.broadcast_prototypes(self.spark)
        t2 = time.perf_counter()
        warm(self.spark, self.protos_bc)
        t3 = time.perf_counter()
        self.get_spark_s = t1 - t0
        self.broadcast_s = t2 - t1
        self.warmup_s = t3 - t2
        self.total_s = t3 - t0

    def stop(self) -> None:
        self.protos_bc.unpersist()
        self.spark.stop()
