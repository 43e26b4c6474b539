"""SparkSession factory with the pipeline's scale-oriented defaults.

AQE on (runtime re-plan, skew-join splitting, shuffle coalescing; the
coalescing also sizes cached plans), Arrow on (the parse kernel is an
Arrow-batched pandas UDF), UTC session time zone (XES timestamps are
rendered with a fixed +00:00 offset, TraceIDParser.scala:131-139).

Python workers live for one task on a local master (`LOCAL_CONFS`).
The parse kernel is the pipeline's only Python stage, but a reused
worker (about 126 MB with pandas and pyarrow loaded) stays alive and
idle after it, through discovery, traces and XES: on the hot-case
benchmark four of them held 503 MB of a 1,750-1,800 MB peak. With reuse
off, each task's worker exits when its task ends. That lowers the peak
only where the run's peak comes after parse, as it does in the CLI; a
run that peaks inside parse keeps its workers then anyway. Forking from
PySpark's bare daemon would make every task import pandas and pyarrow
again (about twice the wall of a 32-task pandas UDF), so the daemon is
`worker_daemon`, which imports them and the kernel once; each worker
forks with them loaded.

The daemon only imports, never computes, before it forks. A forked child
gets its parent's memory, locks included, but none of its threads: a
pyarrow or BLAS thread pool that a computation had started in the daemon
would reach every worker with no threads behind it. Importing starts no
such pool (Spark runs the daemon with OMP_NUM_THREADS=1, so numpy's BLAS
stays single-threaded); the one thread it starts, jemalloc's background
thread under pyarrow, is fork-safe.

`python -m redo_log_parser_spark.worker_daemon` runs before any task,
so it must import the package from its PYTHONPATH: locally
`spark.executorEnv.PYTHONPATH` names the directory this package was
imported from, whatever the working directory. On a cluster the package
arrives through --py-files, which PySpark puts on a worker's sys.path
only after the fork; the daemon could not import it, and every Python
task would fail. So a non-local master keeps PySpark's own daemon and
reused workers.

Case mappings use the JDK, not ICU, for parity with the reference:
`lower()` then calls `String.toLowerCase`, as the reference's Scala
`toLowerCase` does. ICU (Unicode 16) also lowers letters cased since
Unicode 14, e.g. U+A7C0, which JDK 17 (Unicode 13) leaves as they are.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkConf, SparkContext
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
    "spark.sql.icu.caseMappings.enabled": "false",
}

# Added for a local master only (see the module docstring).
LOCAL_CONFS = {
    "spark.python.daemon.module": "redo_log_parser_spark.worker_daemon",
    "spark.python.worker.reuse": "false",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))),
}


def _submitted_master() -> str | None:
    """The master of the JVM spark-submit started for this process, or
    None when the process was not started by spark-submit (only
    spark-submit exports PYSPARK_GATEWAY_PORT to it). Its launcher always
    writes spark.master into the JVM's conf, `local[*]` when --master was
    not given."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master")


def get_spark(
    app_name: str = "redo-log-parser-spark",
    master: str | None = None,
    confs: dict[str, str] | None = None,
) -> SparkSession:
    """The session, on the master spark-submit set when it started this
    process (`master` is then ignored), else on `master`, by default
    `local[$SPARK_GRAFT_CPUS]`. A `local` or `local[...]` master adds
    LOCAL_CONFS; `local-cluster[...]` runs separate executor JVMs, so it
    counts as a cluster."""
    builder = SparkSession.builder.appName(app_name)
    submitted = _submitted_master()
    if submitted:
        master = submitted
    else:
        master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        builder = builder.master(master)
    local = re.fullmatch(r"local(\[.*\])?", master) is not None
    merged = {**DEFAULT_CONFS, **(LOCAL_CONFS if local else {}), **(confs or {})}
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
