"""Scratch-parquet staging for intermediates that several consumers
read (the driver's shared extraction tables, the KL count relation).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


_SCRATCH = {"dir": None, "n": 0}


def _scratch_dir() -> str:
    import atexit
    import tempfile

    if _SCRATCH["dir"] is None:
        base = os.environ.get("SPARK_GRAFT_SCRATCH") or (
            "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
        )
        d = tempfile.mkdtemp(prefix="kg_stage_", dir=base)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _SCRATCH["dir"] = d
    return _SCRATCH["dir"]


def stage_parquet(df: DataFrame, label: str = "stage") -> DataFrame:
    """Materialize a multiply-consumed intermediate as a scratch
    parquet table and read it back.

    This is the staging path for WIDE intermediates (signature arrays),
    NOT ``.cache()``: on this runtime, persist() of array-heavy rows
    through the BlockManager is pathological at every storage level
    (measured on the 10x corpus: the 50k-row md5 signature table took
    148.8 s to cache and 372 s under DISK_ONLY, vs ~40 s to COMPUTE
    and write as parquet; the full LSH query ran 49 s parquet-staged
    vs 421 s recomputed vs 150-650 s cached).  Columnar write + read
    also survives executor loss on a real cluster, where a cached
    block does not.  Scratch lives under $SPARK_GRAFT_SCRATCH (default
    /dev/shm, beside spark.local.dir) and is removed at process exit."""
    _SCRATCH["n"] += 1
    path = os.path.join(_scratch_dir(), f"{label}_{_SCRATCH['n']:05d}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)
