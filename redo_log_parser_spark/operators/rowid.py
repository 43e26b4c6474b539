"""T1 — ROWID incarnation uniquifier (EventExtractor.scala:21-111).

Oracle reuses physical ROWIDs after deletes; the reference rewrites each
reuse into a fresh "incarnation" with a sequential in-memory scan and a
random 4-char suffix. Here the same semantics run as a window aggregate —
fully distributed, one shuffle on the original row id:

  restart(i) = i > 0 AND (op_i = 'insert' OR op_{i-1} = 'delete')
  incarnation = running sum of restarts over (ts, tiebreak) order
  new row id  = orig            when incarnation = 0
              = orig#<k>        otherwise (deterministic; replaces the
                                reference's random suffix, see
                                SURVEY.md §1.3 item 3)

Why this is equivalent: within one incarnation a delete is always the
final statement (any statement after a delete forces a restart,
EventExtractor.scala:68-84), so "a delete was recorded for the current
incarnation" ⇔ "the previous statement was a delete". The reference's
cross-rowID collision scan (:100-103) is unnecessary because '#k'
suffixes cannot collide with Oracle ROWIDs.

Scale: partitions by orig row id — billions of distinct ROWIDs spread
evenly; per-partition state is tiny (a handful of statements per row in
any real redo log). No skew expected; no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def uniquify_row_ids(
    events: DataFrame,
    order_cols: tuple[str, ...] = ("ts", "url"),
) -> DataFrame:
    """Rewrite reused row ids into deterministic incarnations.

    `order_cols` must give a total order of the log within each original
    row id (documents mode: (warc_ts, url) per BASELINE.json input_hint;
    file mode: the carried line-pair sequence)."""
    w = Window.partitionBy("row_id").orderBy(*[F.col(c) for c in order_cols])
    restart = (
        (F.row_number().over(w) > 1)
        & ((F.col("op") == "insert") | (F.lag("op").over(w) == "delete"))
    ).cast("int")
    # two projections: a window expression cannot nest inside another
    # window aggregate; Catalyst fuses both into ONE Window physical node
    # (same partitioning + ordering), so this still costs a single shuffle
    step1 = events.withColumn("__restart", restart)
    incarnation = F.sum("__restart").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    new_id = F.when(incarnation == 0, F.col("row_id")).otherwise(
        F.concat_ws("#", F.col("row_id"), incarnation.cast("string"))
    )
    return (
        step1.withColumn("orig_row_id", F.col("row_id"))
        .withColumn("row_id", new_id)
        .drop("__restart")
    )
