#!/usr/bin/env python
"""spark-submit driver for the full pipeline.

Cluster deployment (north rule):

  spark-submit \\
    --py-files rlps.zip \\
    --conf spark.sql.adaptive.enabled=true \\
    --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
    --conf spark.sql.files.maxPartitionBytes=128m \\
    jobs/run_pipeline.py \\
    --input <catalog>.documents --output s3://.../out \\
    --root-class '"SYSTEM"."ORDERS"' --buckets 4096 --run-id r1

The session defaults (redo_log_parser_spark/session.py) already turn on
AQE and let it coalesce cached plans too; shuffle.partitions is then only
the map-side split count, and any --conf given here overrides a default.

Packaging: `python jobs/make_pyfiles.py` zips redo_log_parser_spark/
into rlps.zip for --py-files AT DEPLOY TIME (the zip is gitignored —
never committed, so it cannot go stale relative to the source tree).
Locally the package is importable from the repo root, so the same
script runs without the zip. Under spark-submit the run keeps its
--master; run with plain python, it starts local[$SPARK_GRAFT_CPUS]. A
cluster master, local-cluster[...] included, keeps PySpark's own Python
worker daemon and reused workers: PySpark puts --py-files on a worker's
sys.path only after it forks, so the package's preloading daemon
(redo_log_parser_spark.worker_daemon, named for local masters only in
session.LOCAL_CONFS) could not be imported there.

Resume: only parse is bucket-local, so only parse is checkpointed per
url-hash bucket (<output>/data, manifest <output>/_lineage); every later
stage runs once over the whole checkpoint, through the same code as
--no-resume, and then records its completion in the manifest. A rerun
re-parses only unrecorded buckets and does nothing on a finished output.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redo_log_parser_spark.config import PipelineConfig
from redo_log_parser_spark.functions.scala_order import reference_console_order
from redo_log_parser_spark.pipeline import parse, run_parsed
from redo_log_parser_spark.session import get_spark
from redo_log_parser_spark.sinks.lineage import (
    TAIL_BUCKET, completed_buckets, read_resumed, record_lineage, run_resumable)
from redo_log_parser_spark.sinks.xes import collect_clean_log
from redo_log_parser_spark.sources.documents import read_documents


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or catalog table")
    ap.add_argument(
        "--input-format",
        choices=["documents", "logfile"],
        default="documents",
        help="documents = (url, warc_ts, html, text, lang) table; "
        "logfile = raw blank-line-separated redo logs like the "
        "reference CLI reads (parity mode)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--root-class", action="append", default=None,
        help="repeatable: each root gets its own trace sink from ONE "
        "parse+discovery pass (the reference's interactive multi-root "
        "loop, Main.scala:131-162)",
    )
    ap.add_argument(
        "--timestamp-pattern", default="dd-MMM-yyyy HH:mm:ss",
        help="java.time pattern of the id-line stamps, built of the "
        "tokens yyyy MMM MM dd HH mm ss and literals; any other "
        "pattern is refused (exit 2)",
    )
    ap.add_argument("--include-update-values", action="store_true")
    ap.add_argument("--strict", action="store_true")
    ap.add_argument(
        "--eager-ind", action="store_true",
        help="reference-exact eager/latched IND semantics "
        "(SchemaDeriver.scala:69-93) instead of final-state inclusion",
    )
    ap.add_argument(
        "--reference-monotonicity", action="store_true",
        help="strict-PK fidelity mode: treat every column's values as "
        "increasing, matching the shipped reference binary whose "
        "monotonicity check is vacuously true (Column.scala:104-124 "
        "cons-pattern bug, verified against a real run — "
        "tests/fixtures/README.md); default computes the real "
        "log-order signal",
    )
    ap.add_argument(
        "--xes-file", action="store_true",
        help="also assemble one complete .xes document per root "
        "(<output>/<root>_result.xes, the reference CLI's output file, "
        "PrettyPrinter layout)",
    )
    ap.add_argument(
        "--reference-trace-order", action="store_true",
        help="with --xes-file: order traces exactly like the reference "
        "binary (Scala 2.12 groupBy-HashMap iteration over its seeded "
        "random row-id suffixes, both replayed in pure Python) so the "
        ".xes diffs byte-clean against a reference run; default sorts "
        "traces by case id",
    )
    ap.add_argument(
        "--verbose", action="store_true",
        help="dump n-row heads of the extracted / parsed / transformed "
        "entries under the reference's console headers "
        "(cli/package.scala:23-53; head instead of full dump — the "
        "honest Spark-scale equivalent)",
    )
    ap.add_argument(
        "--print-schema", action="store_true",
        help="print the discovered schema in the reference's console "
        "format (Table/Column.toString)",
    )
    ap.add_argument(
        "--reference-console-order", action="store_true",
        help="with --print-schema: lay the discovered schema out in "
        "the reference binary's Scala-HashMap table/column/FK-target "
        "order (replayed on the driver over the collected clean log); "
        "default sorts deterministically. The dump is byte-identical "
        "to the binary's when the run uses its semantics: --eager-ind, "
        "plus --reference-monotonicity under --strict",
    )
    ap.add_argument("--buckets", type=int, default=16,
                    help="url-hash buckets of the parse checkpoint")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--no-resume", action="store_true",
                    help="parse in memory: no checkpoint, no lineage")
    ap.add_argument(
        "--explode-records", action="store_true",
        help="documents whose text cells batch SEVERAL 2-line redo "
        "records: un-pack them first with the reference's pairing "
        "(blank lines dropped, remaining lines grouped in pairs); url "
        "gains a '#kkkk' position suffix preserving (warc_ts, url) "
        "order. Fuzz-validated (diff_fuzz_sweep --axis packdoc)")
    args = ap.parse_args()
    if args.reference_console_order and not args.print_schema:
        ap.error("--reference-console-order needs --print-schema")
    if args.reference_trace_order and not args.xes_file:
        ap.error("--reference-trace-order needs --xes-file")
    try:
        cfg = PipelineConfig(
            ts_format_java=args.timestamp_pattern,
            include_update_values=args.include_update_values,
            strict_primary_keys=args.strict,
            eager_ind=args.eager_ind,
            reference_monotonicity=args.reference_monotonicity,
            xes_document=args.xes_file,
            reference_trace_order=args.reference_trace_order,
            root_classes=tuple(args.root_class or ()),
        )
    except ValueError as e:  # an unsupported --timestamp-pattern
        ap.error(str(e))
    if not args.no_resume and TAIL_BUCKET in completed_buckets(args.output):
        # finished output: no session, no job
        print({"buckets_processed": 0})
        return 0

    spark = get_spark("rlps-pipeline")
    if args.input_format == "logfile":
        from redo_log_parser_spark.sources.logfile import read_log_files

        docs = read_log_files(spark, args.input)
    else:
        docs = read_documents(spark, args.input)
    if args.explode_records:
        from redo_log_parser_spark.sources.logfile import explode_log_records

        docs = explode_log_records(docs)

    if args.verbose:
        from redo_log_parser_spark.pipeline import print_verbose_entries

        print_verbose_entries(docs, cfg, source=args.input)

    if args.no_resume:
        parsed = parse(docs, cfg)
        resumed = {}
    else:
        entries = run_resumable(
            docs, args.output,
            lambda df: parse(
                df, cfg, keep_cols=("url", "warc_ts", "lang", "bucket")),
            n_buckets=args.buckets, run_id=args.run_id,
        )
        parsed = read_resumed(spark, args.output)
        resumed = {"buckets_processed": len(entries)}

    t0 = time.monotonic()
    res = run_parsed(parsed, args.output, cfg)
    if not args.no_resume:
        rows_in = sum(res.routed_counts.values())
        rejects = res.routed_counts["sink_rejects"]
        record_lineage(args.output, {
            "bucket": TAIL_BUCKET, "status": "ok", "rows_in": rows_in,
            "rows_clean": rows_in - rejects, "rows_reject": rejects,
            "wall_sec": time.monotonic() - t0, "n_buckets": args.buckets,
            "run_id": args.run_id,
        })
    if args.print_schema and res.schema is not None:
        # reference console dump incl. its header line
        # (cli/package.scala:58-66 — typo preserved verbatim)
        print(
            "\nExctracted the following database schema from "
            "transformed log entries:"
        )
        order = None
        if args.reference_console_order:
            order = reference_console_order(collect_clean_log(
                parsed, ("table_id", "op", "insert_cols", "upd_attr",
                         "delete_cols")))
        print(res.schema.format_console(strict=args.strict, order=order))
    print({"routed": res.routed_counts, "traces": res.n_traces, **resumed})
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
