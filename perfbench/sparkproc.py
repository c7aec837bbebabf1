"""Spark session lifetime for one benchmark run: start, memory, stop.

The PySpark driver launches its JVM as a child process (``spark-submit``
execs ``java``). ``stop`` shuts the session down, closes the gateway,
and waits for that child to exit, so a run leaves no process behind.
"""

from __future__ import annotations

import os
import resource
import subprocess
import time


def start(work_dir: str):
    """Start the package's session with every run-time path inside
    ``work_dir``; returns ``(spark, seconds)``."""
    from aws_kinesis_data_ingestion_restapi_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work_dir, "ckpt-default"),
            "spark.ui.showConsoleProgress": "false",
            # JVM temp files inside the run's directory; no hsperfdata in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the JVM plus this Python driver, in MiB."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid(spark)) + own_kb) / 1024.0


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for the JVM child to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
