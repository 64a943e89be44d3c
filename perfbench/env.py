"""Pinned run environment: repo root on the path (driver and Python
workers), every scratch file under the checkout, ``local[nproc]`` and a
driver heap sized to the machine instead of the library defaults."""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "graphrag_incrementalknowledgegraphpipeline_for_llms_spark"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# The library defaults to a 48g driver heap, more than small machines
# have; the benchmark's inputs peak well under 1 GB of live heap.
DRIVER_MEMORY = "2g"


def prepare() -> str:
    """Fresh scratch dir; import path and worker env pinned.  Raises
    ``ModuleNotFoundError`` when the program is not beside the benchmark."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise ModuleNotFoundError(f"{PACKAGE} not found under {ROOT}")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Python workers are spawned by the JVM, which inherits this env
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the program's own scratch (operators.dedup staging) goes to
    # /dev/shm unless told otherwise; ambient overrides of its defaults
    # would make runs on two machines incomparable
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(WORK, "tmp")
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    return WORK


def start_spark(event_log_dir: str | None = None):
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.session import get_spark

    n = cpus()
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:ParallelGCThreads={max(2, n)} -XX:ConcGCThreads={max(1, n // 4)} "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        # one plain JSON-lines file, which trace.read_event_log parses
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(app_name="perfbench", cpus=n, extra_conf=conf)


def cleanup() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
