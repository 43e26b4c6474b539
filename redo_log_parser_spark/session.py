"""SparkSession factory with the pipeline's scale-oriented defaults.

AQE on (runtime re-plan, skew-join splitting, shuffle coalescing; the
coalescing also sizes cached plans), Arrow on (the parse kernel is an
Arrow-batched pandas UDF), UTC session time zone (XES timestamps are
rendered with a fixed +00:00 offset, TraceIDParser.scala:131-139).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Spark 4.1 defaults this to false, which keeps a cached frame at the
    # un-coalesced shuffle.partitions layout: every later scan of it runs
    # that many near-empty tasks. No consumer keys on a cache's partitioning.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # the map-side split count: AQE coalesces every read of it, cached or
    # not; cluster deploys override via spark-submit --conf
    # (jobs/run_pipeline.py documents the knobs)
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    # local mode = driver-only JVM; size it to the host (128 GiB box)
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "redo-log-parser-spark",
    master: str | None = None,
    confs: dict[str, str] | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    merged = {**DEFAULT_CONFS, **(confs or {})}
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
