"""Host-sized Spark session and process-level measurements.

The session is the benchmark's own, sized to the host it runs on:
``local[<usable cores>]`` with as many shuffle partitions as cores, Arrow
batches of 1024 rows (as in ``scripts/run_pipeline.py``) and a fixed 2 GB
driver heap, which fits a 15 GB host shared with other work.  All scratch output (Spark local dirs, JVM and
Python temp files) stays under the run's work directory.
"""

from __future__ import annotations

import os
import subprocess

# fixed heap (-Xms = -Xmx) so that peak RSS does not follow the collector's
# heap sizing from run to run
DRIVER_MEMORY = "2g"
ARROW_BATCH_ROWS = 1024


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(repo_root: str, work_dir: str) -> None:
    """Must run before the JVM starts: its environment is inherited by the
    JVM and by every Python worker it forks."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # BLAS parallelism comes from Spark tasks, one thread per task; the
    # single-core kernel figures also rely on this
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    # workers import the package by name, whatever the caller's cwd
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local


def make_session(app: str, work_dir: str):
    from pyspark.sql import SparkSession

    cores = usable_cores()
    tmp = os.path.join(work_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        )
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this driver process plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when the pipe to its stdin closes, and it stops its Python workers
    first."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
