"""SparkSession factory tuned for this engine.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on) with a driver heap of ``$SPARK_GRAFT_DRIVER_MEM``
(default: half of physical RAM); on a real cluster the same builder is
used minus the ``master`` override — every other setting below is
scale-oriented, not local-only:

* AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong somewhere.
* Arrow on — every Python stage in this engine is a pandas UDF /
  mapInPandas; Arrow batching is the JVM<->Python contract.
* UTC session timezone — parquet/DuckDB oracle comparison and
  deterministic ``updated_at`` stamps require it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# share of physical RAM the local-mode driver heap may grow to; the rest
# is left to the Python UDF workers, the page cache and the OS
DRIVER_MEM_SHARE = 0.5


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else ``DRIVER_MEM_SHARE`` of physical
    RAM, in MB."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{int(ram * DRIVER_MEM_SHARE) // 2**20}m"


def _scratch_dir() -> str:
    """Prefer tmpfs for shuffle scratch; fall back to /tmp."""
    for d in ("/dev/shm", "/tmp"):
        if os.path.isdir(d) and os.access(d, os.W_OK):
            return os.path.join(d, "spark-local")
    return "/tmp/spark-local"


def get_spark(
    app_name: str = "graphrag-kg-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        # start HIGH and let AQE coalesce down (the cluster-correct
        # shape): a static ~cores count capped post-shuffle write
        # parallelism and measurably flattened the merge stages'
        # core-count scaling (graph_merge 2.2x from 4->16 cores with
        # partitions=max(cpus,8); the shuffle reduce side is also the
        # parquet write side here).  SPARK_GRAFT_SHUFFLE_PARTITIONS
        # overrides for deployments that size it from cluster specs.
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        shuffle_partitions = int(env_sp) if env_sp else max(cpus * 4, 32)
    builder = SparkSession.builder
    # Cluster path: when SPARK_GRAFT_MASTER is set (e.g. "yarn",
    # "k8s://...", "spark://...") or the process was launched by
    # spark-submit with a master already configured, do NOT override
    # master — every other setting below is scale-oriented, not
    # local-only.  The sandbox default stays local[cpus].
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        if master != "inherit":
            builder = builder.master(master)
    else:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # bigger Arrow batches: fewer JVM<->Python socket round trips
        # per UDF stage (measured 1.4x on the extraction stage)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if not master:
        # ---- local-sandbox-only tuning (measured on this VM; none of
        # these should ship to a real cluster) ---------------------------
        builder = (
            # shuffle/spill scratch on tmpfs: measured 1.6x end-to-end
            # (virtio disk syscalls dominate high-thread shuffles); the
            # cluster equivalent is fast local SSD scratch via
            # spark.local.dir in the cluster config
            builder.config("spark.local.dir", _scratch_dir())
            # worker reuse history: round 1 measured idle REUSED
            # workers degrading JVM-only stages ~10x — but only when
            # UDF-produced rows were persist()ed; with the pipeline
            # staging them as parquet that pathology is gone and reuse=true
            # is strictly faster (extract stage 16.7->10.0 s at 4 cores,
            # 8.6->5.8 s at 16; fork-per-task serializes on the single
            # pyspark.daemon).  Matches the cluster default.
            .config("spark.python.worker.reuse", "true")
            # local-mode split sizing: compressed stage tables are
            # ~5 MB/file but explode 50-100x downstream; default 128 MB
            # packing collapses those reads into 1-3 tasks and
            # serializes the fan-out stages.  8 MB/1 MB keeps task
            # count = file count.  At real 100 TB scale files are
            # 128-512 MB and the default is correct.
            .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
            .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
            # local mode: the driver heap is ALL executor memory; GC
            # pressure at 16+ threads measured 1.4x end-to-end (16g vs 48g)
            .config("spark.driver.memory", driver_memory())
            # cluster-faithful GC sizing: the JVM sees the HOST's 32
            # CPUs and sizes G1 for them (~23 parallel GC threads), so
            # a local[2] run silently burns 3-5 busy cores (measured
            # via /proc/stat) — a real N-core executor sizes GC to N.
            .config(
                "spark.driver.extraJavaOptions",
                f"-XX:ParallelGCThreads={max(2, cpus)} -XX:ConcGCThreads={max(1, cpus // 4)}",
            )
            .config("spark.ui.enabled", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
