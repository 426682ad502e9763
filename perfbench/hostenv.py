"""Fit the Spark driver to the host from the benchmark's own environment.

Nothing here changes the program: the benchmark only sets the environment
variables and session options ``ahrd_spark.session.get_spark`` already reads
(``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEMORY``, ``extra_conf``), so that

- the driver runs ``local[nproc - 1]``, with ``nproc`` from the CPU affinity
  mask: the spare core keeps the driver's own Python, the JVM's JIT and GC
  threads and the Python workers from queueing behind the task threads
  (on 4 cores, ``local[4]`` was slower and noisier run to run);
- the driver heap stays well below the machine's memory (``get_spark``
  defaults to 48g, far above many hosts' RAM);
- every file Spark, the JVM and Python write lands under the work directory
  inside the checkout (``SPARK_LOCAL_DIRS``, ``java.io.tmpdir``, ``TMPDIR``).
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    return max(1, nproc() - 1)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal, sum(f)


def cpu_shares(before: tuple, after: tuple) -> dict:
    """Busy and stolen share of all CPUs between two ``cpu_jiffies``."""
    busy, steal, total = (b - a for a, b in zip(before, after))
    total = max(total, 1)
    return {"busy": busy / total, "steal": steal / total}


def driver_memory_gb() -> int:
    """A quarter of the machine, between 1 and 4 GB: the workloads need
    under 2 GB of heap, and the machine may be shared."""
    return max(1, min(4, mem_total_bytes() // (4 << 30)))


def require_program() -> None:
    """Exit non-zero unless the program's sources sit beside the benchmark."""
    if not os.path.isfile(os.path.join(ROOT, "ahrd_spark", "session.py")):
        sys.exit(f"perfbench: no ahrd_spark package under {ROOT}")


def configure() -> None:
    """Set the process environment every Spark JVM and Python worker this
    benchmark starts inherits.  Call before pyspark is imported."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_gb()}g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(event_log_dir: str | None = None) -> dict:
    """``extra_conf`` for ``get_spark``: keep JVM temp files in the checkout,
    and turn on the event log for a traced run."""
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait for it: the gateway JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_info(spark) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "mem_total_bytes": mem_total_bytes(),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }
