"""Per-bucket lineage + metrics with idempotent resume (north rule).

Only a bucket-local stage can be resumed bucket by bucket. In this
pipeline that is parse alone: ROWID incarnations, schema discovery, FK
inclusion and trace assembly need the whole log, so they run once over
everything parse has written (`read_resumed`), never per bucket.

`run_resumable` splits the input into deterministic url-hash buckets,
runs a map-style transform over the pending ones in ONE write job
partitioned by bucket, and appends a manifest entry per bucket. On
restart, buckets with an `ok` entry are skipped and dynamic partition
overwrite rewrites only the pending buckets, so a retry is idempotent.
A caller marks its global stages written with one more entry in the
same manifest, bucket `TAIL_BUCKET`.

This is the batch equivalent of checkpointing: the unit of recovery is
a deterministic input partition (SURVEY.md §4.3). At cluster scale the
same code runs with Iceberg `overwritePartitions`; the bucket column
doubles as the partition spec (bucket(url), BASELINE.json north_star).
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# bucket id of the entry that records the global stages as written
TAIL_BUCKET = -1


def _lineage_dir(out_dir: str) -> str:
    return f"{out_dir}/_lineage"


def _data_dir(out_dir: str) -> str:
    return f"{out_dir}/data"


def completed_buckets(out_dir: str, n_buckets: int | None = None) -> set[int]:
    """Buckets with an `ok` manifest entry. The manifest is a few small
    JSON files written by the driver, so it is read there: no Spark job.

    With `n_buckets`, raises ValueError on an entry recorded for another
    bucket count: its bucket id hashed the urls modulo that count, so it
    names a different slice of the input, and trusting it would skip or
    re-parse (and duplicate) rows."""
    done = set()
    for name in glob.glob(f"{_lineage_dir(out_dir)}/*.json"):
        with open(name) as fh:
            entry = json.load(fh)
        if entry["status"] != "ok":
            continue
        recorded = entry.get("n_buckets", n_buckets)
        if n_buckets is not None and recorded != n_buckets:
            raise ValueError(
                f"{out_dir} was checkpointed with {recorded} buckets, not "
                f"the requested {n_buckets}: resume with --buckets "
                f"{recorded}, or write to a new output"
            )
        done.add(entry["bucket"])
    return done


def record_lineage(out_dir: str, entry: dict) -> None:
    """Append one lineage record (tiny; JSON lines on the driver — an
    Iceberg `_lineage` table append in cluster deployments). Written to a
    temporary name and renamed, so a crash never leaves half an entry."""
    path = _lineage_dir(out_dir)
    os.makedirs(path, exist_ok=True)
    fname = f"{path}/bucket_{entry['bucket']:05d}_{entry['run_id']}.json"
    with open(fname + ".tmp", "w") as fh:
        fh.write(json.dumps(entry) + "\n")
    os.replace(fname + ".tmp", fname)


def read_resumed(spark: SparkSession, out_dir: str) -> DataFrame:
    """All buckets `run_resumable` wrote under `out_dir`, as one frame
    without the bucket column."""
    return spark.read.parquet(_data_dir(out_dir)).drop("bucket")


def run_resumable(
    docs: DataFrame,
    out_dir: str,
    transform,
    n_buckets: int = 16,
    run_id: str = "run0",
) -> list[dict]:
    """Resume ALL pending buckets in ONE Spark write job: the bucket id
    (xxhash64 of url — stable across Spark versions and cluster sizes)
    is a partition column, and dynamic partition overwrite gives
    per-bucket idempotence in a single action, where a per-bucket driver
    loop would pay one job round trip per bucket.

    `transform(pending_df) -> DataFrame` is a pure, bucket-local frame
    transformation applied to the union of all pending buckets at once;
    it must keep the `bucket` column. A stage that needs the whole input
    (a window, join or aggregate across urls) must not run in it: it
    would see one slice of the data per job.

    The manifest is derived from ONE read-back aggregate over the freshly
    written data (which also verifies the files are readable): per-bucket
    rows_in, and — when the output carries a `parse_error` column —
    rows_clean/rows_reject split by its nullity (without one, rows_clean
    = rows_in and rows_reject = 0, literally true of the written data).
    `wall_sec` is the whole single-job wall, recorded identically on
    every entry of the job (NOT divided) with `job_buckets` = how many
    buckets shared it — per-bucket timing does not exist in a
    single-action write."""
    spark = docs.sparkSession
    done = completed_buckets(out_dir, n_buckets)
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return []
    t0 = time.monotonic()
    bucketed = docs.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
    out = transform(bucketed.filter(F.col("bucket").isin(pending)))
    if "bucket" not in out.columns:
        raise ValueError("transform must preserve the 'bucket' column")
    data_dir = _data_dir(out_dir)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(data_dir)
    )
    wall = time.monotonic() - t0
    written = spark.read.parquet(data_dir).filter(F.col("bucket").isin(pending))
    if "parse_error" in written.columns:
        clean_agg = F.sum(
            F.col("parse_error").isNull().cast("long")
        ).alias("n_clean")
    else:
        clean_agg = F.count("*").alias("n_clean")
    counts = {
        r["bucket"]: (r["n"], r["n_clean"])
        for r in written.groupBy("bucket")
        .agg(F.count("*").alias("n"), clean_agg)
        .collect()
    }
    results = []
    for b in pending:
        n, n_clean = counts.get(b, (0, 0))
        entry = {
            "bucket": b,
            "status": "ok",
            "rows_in": int(n),
            "rows_clean": int(n_clean),
            "rows_reject": int(n - n_clean),
            "wall_sec": wall,
            "job_buckets": len(pending),
            "n_buckets": n_buckets,
            "run_id": run_id,
        }
        record_lineage(out_dir, entry)
        results.append(entry)
    return results
