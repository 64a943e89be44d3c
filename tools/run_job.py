"""spark-submit entry point for the KG-construction job (north rule:
``spark-submit --py-files`` on a multi-executor cluster).

Build the pyfiles zip, then submit:

    python tools/make_pyfiles.py
    spark-submit --master local[32] \
        --py-files .cache/kg_spark.zip \
        tools/run_job.py --pages <pages_parquet> --catalog <catalog_dir>

On a real cluster, swap the master URL; everything else is identical —
the job only talks to the catalog directory (an object-store path with
Iceberg in production).  Like every ingestion, a run is incremental:
rerunning on the same catalog processes 0 pages; point ``--catalog`` at
an empty directory to rebuild.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python tools/run_job.py` runs (no --py-files) find the
# package from the repo root; under spark-submit the zip wins anyway
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--pages", required=True, help="pages parquet path (url, warc_ts, html)"
    )
    ap.add_argument("--catalog", required=True, help="catalog root dir")
    ap.add_argument("--scan-partitions", type=int, default=None)
    ap.add_argument(
        "--conf",
        default=None,
        help="reference-shaped application.conf (HOCON subset); maps "
        "concept/relation/flink keys onto engine parameters",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session already carries the master/conf
    spark = SparkSession.builder.appName("kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans.pipeline import (
        run_pipeline,
    )
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    kwargs = {}
    if args.conf:
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import (
            config as C,
        )

        kwargs = C.pipeline_kwargs(C.load_config(args.conf))
    if args.scan_partitions is not None:
        kwargs["scan_partitions"] = args.scan_partitions

    pages = spark.read.parquet(args.pages)
    t0 = time.monotonic()
    res = run_pipeline(
        spark,
        pages,
        ParquetCatalog(args.catalog),
        extract_from_html=True,
        **kwargs,
    )
    dt = time.monotonic() - t0
    print(
        json.dumps(
            {
                "snapshot_id": res.snapshot_id,
                "pages": res.pages,
                "mentions": res.mentions,
                "triples": res.triples,
                "sec": round(dt, 2),
                "docs_per_sec": round(res.pages / dt, 2) if dt else None,
                "stage_ms": res.stage_ms,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
