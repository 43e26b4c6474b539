"""S3/S4 — fan-out sinks routed by operation type (north rule).

The reference serializes one XES file (TraceIDParser.scala:153-160);
the pipeline re-imagining routes parsed events to per-op sinks plus a
rejects sink:

  sink_insert / sink_update / sink_delete  — clean events by op
  sink_rejects                             — rows the reference crashes on

`partitionBy("op")` writes all three op sinks in a single job (dynamic
partition write), so the input is parsed exactly once; per-sink row
counts come from the same pass via DataFrame.observe (Observation API),
not extra scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# never persisted to the routed sinks: heavy payloads and the raw
# statement (reconstructable); enrichment columns pass through
SINK_EXCLUDED = {"html", "text", "statement", "parse_error"}


def write_fanout(events: DataFrame, out_dir: str) -> dict[str, int]:
    """Write clean events partitioned by op (one scan, three sinks) and
    rejects separately, as parquet, replacing what is there. Returns per-sink
    routed-row counts (the north rule's per-sink aggregate equality
    check), measured on the same write pass via Observation."""
    cols = [c for c in events.columns if c not in SINK_EXCLUDED and c != "op"]
    clean = events.filter(F.col("parse_error").isNull()).select(*cols, "op")

    obs = Observation("routed")
    observed = clean.observe(
        obs,
        F.count(F.when(F.col("op") == "insert", 1)).alias("sink_insert"),
        F.count(F.when(F.col("op") == "update", 1)).alias("sink_update"),
        F.count(F.when(F.col("op") == "delete", 1)).alias("sink_delete"),
    )
    observed.write.mode("overwrite").partitionBy("op").parquet(
        f"{out_dir}/events_by_op")
    counts = {k: int(v) for k, v in obs.get.items()}

    rej_obs = Observation("rejects")
    rejects = events.filter(F.col("parse_error").isNotNull()).observe(
        rej_obs, F.count(F.lit(1)).alias("sink_rejects")
    )
    rejects.write.mode("overwrite").parquet(f"{out_dir}/rejects")
    counts["sink_rejects"] = int(rej_obs.get["sink_rejects"])
    return counts
