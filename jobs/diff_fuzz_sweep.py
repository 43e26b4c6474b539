"""Wide differential-fuzz sweep vs the real reference binary.

Runs tests/test_diff_fuzz.py's comparison for a seed range WITHOUT
pytest's fail-fast, collecting every divergence:

    python jobs/diff_fuzz_sweep.py --start 1000 --count 60

Prints one line per seed (ok / DIVERGED <stage>) and a summary; exits
non-zero if any seed diverged. Results of the round-3 sweep are
recorded in FIXTURES.md."""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tests"))

from fuzzgen import write_fuzz_log  # noqa: E402
from refbin import (  # noqa: E402
    ensure_reference_build, parse_schema_dump, run_reference)

from redo_log_parser_spark.functions.parse import parse_documents  # noqa: E402
from redo_log_parser_spark.functions.xes import trace_xml_pretty  # noqa: E402
from redo_log_parser_spark.operators.rowid import uniquify_row_ids  # noqa: E402
from redo_log_parser_spark.operators.schema_discovery import (  # noqa: E402
    discover_schema, summarize_schema)
from redo_log_parser_spark.pipeline import build_traces_df  # noqa: E402
from redo_log_parser_spark.session import get_spark  # noqa: E402
from redo_log_parser_spark.sinks.xes import write_xes_document  # noqa: E402
from redo_log_parser_spark.sources.logfile import read_log_files  # noqa: E402


_TS_STYLE_PATTERN = {  # ts_style -> (--timestampPattern arg, engine cfg arg)
    "default": ("", ""),
    "mixedcase": ("", ""),  # default pattern parses months case-insensitively
    "iso": ("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm:ss"),
    # SMART-resolver shapes (31-APR, 24:00:00) under the default pattern
    "smart": ("", ""),
}


def check_seed(
    spark, seed: int, d: str, ts_style: str = "default",
    gen_kwargs: dict | None = None, pack_docs: bool = False,
    ws_style: str = "plain", utf8: bool = False,
) -> list[str]:
    """Return list of divergence labels (empty = clean)."""
    import re

    from redo_log_parser_spark.config import PipelineConfig

    gen_kwargs = gen_kwargs or {}
    trace_re = re.compile(r"[ ]*<trace>.*?</trace>", re.S)
    log = os.path.join(d, f"fuzz_{seed}.log")
    tables = write_fuzz_log(seed, log, ts_style=ts_style, ws_style=ws_style,
                            **gen_kwargs)
    root = tables[seed % len(tables)]
    bad: list[str] = []
    pat, cfg_fmt = _TS_STYLE_PATTERN[ts_style]
    cfg = PipelineConfig(ts_format_java=cfg_fmt) if cfg_fmt else PipelineConfig()

    ref_plain, ref_xes = run_reference(log, root, os.path.join(d, "r1.xes"),
                                       ts_pattern=pat, utf8=utf8)
    ref_strict, _ = run_reference(log, "-", os.path.join(d, "r2.xes"),
                                  ts_pattern=pat, strict=True, utf8=utf8)
    _, ref_xes_upd = run_reference(log, root, os.path.join(d, "r3.xes"),
                                   ts_pattern=pat, updvals=True, utf8=utf8)

    docs = read_log_files(spark, log)
    events = uniquify_row_ids(parse_documents(docs, cfg=cfg)).cache()
    try:
        if events.filter("parse_error is not null").count():
            bad.append("parse_error")

        # round 4: JVM expression parser rides every fuzz seed too —
        # payload columns + reject-ness must equal the pandas kernel
        # (labels may differ on degenerate rows, parse_sql docstring);
        # the ts-style axes also exercise its to_timestamp path
        from pyspark.sql import functions as F

        from redo_log_parser_spark.functions.parse_sql import (
            parse_documents_sql)

        cmp_cols = [
            "url", "op", "table_id", "row_id", "ts", "statement",
            "insert_cols", "insert_vals", "upd_attr", "upd_new",
            "upd_old", "delete_cols", "delete_vals",
        ]
        norm = lambda df: df.select(  # noqa: E731
            *cmp_cols, F.col("parse_error").isNotNull().alias("is_reject"))
        a = norm(parse_documents(docs, cfg=cfg))
        b = norm(parse_documents_sql(docs, cfg=cfg))
        if a.exceptAll(b).unionAll(b.exceptAll(a)).count():
            bad.append("sql_parser_parity")

        if pack_docs:
            # round 5: multi-statement-per-doc axis — pack the SAME
            # records 1-5 per text cell, explode with
            # explode_log_records, and demand (1) parsed content equal
            # to the one-record-per-doc frame as a multiset (urls differ
            # by design), (2) (warc_ts, url) ordering of the exploded
            # frame == statement order (the input_hint contract), and
            # (3) JVM-parser parity on the exploded frame.
            from fuzzgen import (
                fuzz_records, records_to_documents,
                records_to_packed_documents)

            from redo_log_parser_spark.sources.logfile import (
                explode_log_records)

            records, _t = fuzz_records(seed, **gen_kwargs)
            flat = spark.createDataFrame(records_to_documents(records))
            packed = spark.createDataFrame(
                records_to_packed_documents(records, seed,
                                            ws_style=ws_style))
            exploded = explode_log_records(packed)
            content = [c for c in cmp_cols if c != "url"]
            pnorm = lambda df: df.select(  # noqa: E731
                *content,
                F.col("parse_error").isNotNull().alias("is_reject"))
            pf = pnorm(parse_documents(flat, cfg=cfg))
            pe = pnorm(parse_documents(exploded, cfg=cfg)).cache()
            try:
                if pf.exceptAll(pe).unionAll(pe.exceptAll(pf)).count():
                    bad.append("packdoc_content")
                if pe.exceptAll(
                    pnorm(parse_documents_sql(exploded, cfg=cfg))
                ).count():
                    bad.append("packdoc_sql_parity")
            finally:
                pe.unpersist()
            got_order = [
                r["statement"]
                for r in parse_documents(exploded, cfg=cfg)
                .orderBy("warc_ts", "url").select("statement").collect()
            ]
            if got_order != [s.statement.strip() for s, _ts in records]:
                bad.append("packdoc_order")

        schema = summarize_schema(*discover_schema(events, ind_mode="eager"))
        if parse_schema_dump(schema.format_console()) != parse_schema_dump(ref_plain):
            bad.append("schema_plain")

        schema_s = summarize_schema(*discover_schema(
            events, strict=True, ind_mode="eager", mono_mode="reference"))
        if parse_schema_dump(
            schema_s.format_console(strict=True)
        ) != parse_schema_dump(ref_strict):
            bad.append("schema_strict")

        # round 4: byte-level dump parity via the pure-Python replica
        # (table/column/FK-target ORDER included)
        from redo_log_parser_spark import oracle

        lines = open(log, encoding="utf-8").read().splitlines()
        entries = oracle.uniquify_row_ids(
            oracle.parse_log_lines(lines, cfg))
        if oracle.reference_console_dump(entries) != ref_plain:
            bad.append("schema_plain_bytes")
        if oracle.reference_console_dump(entries, strict=True) != ref_strict:
            bad.append("schema_strict_bytes")

        from redo_log_parser_spark.sinks.xes import reference_trace_orders

        order = reference_trace_orders(events, [root])[root]
        for tag, upd, ref in (("xes", False, ref_xes),
                              ("xes_updvals", True, ref_xes_upd)):
            path = os.path.join(d, f"o_{tag}.xes")
            traces = build_traces_df(events, schema, [root],
                                     include_update_values=upd)
            write_xes_document(trace_xml_pretty(traces), path, root,
                               case_order=order)
            got = open(path, encoding="utf-8").read()
            if not (
                got[:got.index("<trace>") - 2] == ref[:ref.index("<trace>") - 2]
                and got[got.rindex("</trace>"):] == ref[ref.rindex("</trace>"):]
                and sorted(trace_re.findall(got)) == sorted(trace_re.findall(ref))
            ):
                bad.append(tag)
            elif got != ref:
                # content identical, document-level trace ORDER diverged:
                # a scala_order replica miss — recorded separately
                bad.append(f"{tag}_order")
    finally:
        events.unpersist()
    return bad


def check_seed_wide(spark, seed: int) -> list[str]:
    """Wide-schema axis (9-10 tables): the binary's per-entry console
    walk is O(tables!), so these logs cannot go through it — the ground
    truth is oracle.eager_inds_replay (itself binary-validated on small
    logs) plus the pure-Python parse/rowid replay. Any divergence is a
    real bug in one of the two independent implementations."""
    from fuzzgen import fuzz_records, records_to_documents

    from pyspark.sql import functions as F

    from redo_log_parser_spark import oracle
    from redo_log_parser_spark.fixtures import _fmt_ts
    from redo_log_parser_spark.functions.parse_sql import parse_documents_sql

    records, _tables = fuzz_records(seed, n_tables_range=(9, 10))
    docs = spark.createDataFrame(records_to_documents(records))
    events = uniquify_row_ids(parse_documents(docs)).cache()
    bad: list[str] = []
    try:
        if events.filter("parse_error is not null").count():
            bad.append("parse_error")
        cmp_cols = [
            "url", "op", "table_id", "row_id", "ts", "statement",
            "insert_cols", "insert_vals", "upd_attr", "upd_new",
            "upd_old", "delete_cols", "delete_vals",
        ]
        norm = lambda df: df.select(  # noqa: E731
            *cmp_cols, F.col("parse_error").isNotNull().alias("is_reject"))
        a = norm(parse_documents(docs))
        b = norm(parse_documents_sql(docs))
        if a.exceptAll(b).unionAll(b.exceptAll(a)).count():
            bad.append("sql_parser_parity")
        raw = oracle.parse_records(
            [f"{s.statement}\n{s.row_id} {_fmt_ts(ts)}"
             for s, ts in records])
        entries = oracle.uniquify_row_ids(raw)
        got_rowids = [
            (r["orig_row_id"], r["row_id"]) for r in
            events.orderBy("ts", "url")
            .select("row_id", "orig_row_id").collect()
        ]
        if got_rowids != [(r.row_id, u.row_id)
                          for r, u in zip(raw, entries)]:
            bad.append("rowid_replay")
        got = {
            (i["table_id"], i["col"], i["ref_table"], i["ref_col"])
            for i in summarize_schema(
                *discover_schema(events, ind_mode="eager")).inds
        }
        if got != oracle.eager_inds_replay(entries):
            bad.append("eager_ind_replay")
    finally:
        events.unpersist()
    return bad


_AXES = {
    # axis -> (gen_kwargs, pack_docs, needs_binary, ws_style, utf8)
    "none": ({}, False, True, "plain", False),
    "dupcol": ({"dup_col_prob": 0.35}, False, True, "plain", False),
    "packdoc": ({}, True, True, "plain", False),
    "wide": (None, False, False, "plain", False),  # via check_seed_wide
    # round 5: multibyte/astral/NBSP values + isBlank-true unicode
    # separator lines; the binary runs with -Dfile.encoding=UTF-8 (the
    # sandbox default US-ASCII mangles non-ASCII bytes — parity is
    # pinned against the UTF-8-locale deployment configuration)
    "unicode": ({"uni_prob": 0.6}, False, True, "unicode", True),
    # unicode values AND unicode isBlank separator lines INSIDE packed
    # multi-statement text cells — explode_log_records' line drop must
    # be String.isBlank, not trim()=='' (javaspace.not_blank_line)
    "unipack": ({"uni_prob": 0.6}, True, True, "unicode", True),
    # round 5 session 3: line terminators rotate \n / \r\n / \r in the
    # LOG FILE and inside packed text cells (pack_docs=True covers
    # both) — getLines treats all three as line breaks (probed);
    # engine twin = sources/logfile._LINE_TERM
    "crlf": ({}, True, True, "crlf", False),
    # unicode TABLE/COLUMN names: UTF-16 hashing through the
    # Scala-HashMap order replicas (console dump, FK tails, trace
    # groupBy), Java-regex name matching, unicode root-class argv
    "uniname": ({"uni_name_prob": 0.6, "uni_prob": 0.25}, False, True,
                "unicode", True),
    # round 5 session 4: source ROWIDs CONTAINING '#' (leading, inside,
    # doubled, trailing '#2' that LOOKS like an incarnation suffix) —
    # the deterministic-suffix machinery (uniquify, the xes sink's
    # prefix-slice incarnation recovery, reference_row_id_map keyed
    # (orig, k)) must never confuse a literal '#' with its own suffix
    "hashid": ({"rid_style": "hash"}, False, True, "plain", False),
    # all-digit ROWIDs (parse as doubles — real Oracle never emits
    # them, nothing in the reference rejects them): numeric-string keys
    # through the RowID random-suffix replay, the trace-groupBy HashMap
    # replica, and the engine's incarnation windows
    "numrowid": ({"rid_style": "numeric"}, False, True, "plain", False),
    # INTERACTION axis: every individually-clean axis at once —
    # unicode names × unicode values × duplicate insert columns ×
    # packed multi-statement cells × unicode separators. Interaction
    # bugs (e.g. dup-col last-wins on a unicode-named column inside a
    # packed cell) are what single-axis sweeps can't see.
    "mixed": ({"uni_name_prob": 0.35, "uni_prob": 0.35,
               "dup_col_prob": 0.25}, True, True, "unicode", True),
    # mixed × '#'-bearing ROWIDs: the suffix machinery under unicode
    # names/values, dup columns AND packed cells at once
    "mixedhash": ({"uni_name_prob": 0.35, "uni_prob": 0.35,
                   "dup_col_prob": 0.25, "rid_style": "hash"},
                  True, True, "unicode", True),
    # tables under multiple schemas, incl. a forced bare-name collision
    # ('"SYSTEM"."USERS"' and '"APP"."USERS"' as DISTINCT tables with
    # different column sets) — any path keying on the bare table name
    # instead of the full quoted id diverges immediately
    "multischema": ({"multischema_prob": 0.5}, False, True, "plain",
                    False),
    # multischema × mixed: bare-name collisions with unicode names and
    # values, dup columns, packed cells and unicode separators — the
    # colliding bare name may itself be unicode, and the full-id keys
    # flow through the UTF-16 HashMap order replicas
    "multimix": ({"multischema_prob": 0.5, "uni_name_prob": 0.35,
                  "uni_prob": 0.35, "dup_col_prob": 0.25}, True, True,
                 "unicode", True),
    # regex-metachar / dot / space / '=' bearing ASCII identifiers
    # ("OR.DERS", "T(1)", "S=T", "USE RS", …): the reference patterns
    # are static, so names are opaque data — any engine path that
    # builds a pattern from a name or splits an id on '.' diverges
    "metaname": ({"meta_name_prob": 0.6}, False, True, "plain", False),
    # metaname × multischema × dupcol × packdoc: a dot-bearing bare
    # name colliding across schemas, metachar names in dup insert
    # columns inside packed cells
    "metamix": ({"meta_name_prob": 0.4, "multischema_prob": 0.5,
                 "dup_col_prob": 0.25}, True, True, "plain", False),
    # a REAL data column literally named ROWID: the reference drops the
    # where-clause ROWID pair BY NAME and ONLY in deletes
    # (SchemaExtractor.scala:58,127) — inserted/updated ROWID is a real
    # schema column; in deletes it vanishes and its where-pair value
    # collides with the actual row id pair in the mutable.HashMap
    "ridcol": ({"ridcol_prob": 0.7}, False, True, "plain", False),
    # case-colliding table names ('"SYSTEM"."USERS"' + '"SYSTEM"."users"'
    # as DISTINCT schema entries): the reference's root-bucket gathering
    # and relations matching are equalsIgnoreCase while the schema map
    # and bucket assignment are exact — the engine must replicate that
    # exact mixture
    "caseclash": ({"caseclash_prob": 0.9}, False, True, "plain", False),
    # caseclash where Java equalsIgnoreCase and Python .lower()
    # DISAGREE ('İŞLEM'/'işlem', 'ILIK'/'ılık', 'ΠΟΣ'/'πος'): the trace
    # layers must use javaspace.java_equals_ignore_case
    "unicase": ({"unicase_prob": 0.9}, False, True, "plain", True),
    # ridcol × dupcol × multischema × packdoc: a column named ROWID
    # listed TWICE in one insert (last-wins fold on the name the delete
    # path filters), under schema-qualified collisions in packed cells
    "ridmix": ({"ridcol_prob": 0.5, "dup_col_prob": 0.35,
                "multischema_prob": 0.4}, True, True, "plain", False),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--start", type=int, default=1000)
    ap.add_argument("--count", type=int, default=60)
    ap.add_argument("--ts-style", choices=sorted(_TS_STYLE_PATTERN),
                    default="default",
                    help="timestamp rendering axis: default pattern, "
                    "per-record mixed month casing, or ISO + "
                    "--timestampPattern on both sides")
    ap.add_argument("--axis", choices=sorted(_AXES), default="none",
                    help="round-5 axes: dupcol = duplicate column names "
                    "in inserts (reference HashMap last-wins); packdoc = "
                    "multi-statement-per-doc + explode_log_records; "
                    "wide = 9-10 tables, engine vs pure-Python replay "
                    "(binary's console walk is O(tables!))")
    args = ap.parse_args()

    gen_kwargs, pack_docs, needs_binary, ws_style, utf8 = _AXES[args.axis]
    if needs_binary:
        assert ensure_reference_build() is not None, \
            "reference build unavailable"
    spark = get_spark("diff-fuzz-sweep", master="local[8]", confs={
        "spark.sql.shuffle.partitions": "8",
    })
    spark.sparkContext.setLogLevel("ERROR")

    failures: dict[int, list[str]] = {}
    errors: dict[int, str] = {}
    with tempfile.TemporaryDirectory() as d:
        for seed in range(args.start, args.start + args.count):
            try:
                if args.axis == "wide":
                    bad = check_seed_wide(spark, seed)
                else:
                    bad = check_seed(
                        spark, seed, d, ts_style=args.ts_style,
                        gen_kwargs=gen_kwargs, pack_docs=pack_docs,
                        ws_style=ws_style, utf8=utf8)
            except Exception:
                errors[seed] = traceback.format_exc(limit=3)
                print(f"seed {seed}: ERROR\n{errors[seed]}", flush=True)
                continue
            if bad:
                failures[seed] = bad
            print(f"seed {seed}: {'DIVERGED ' + ','.join(bad) if bad else 'ok'}",
                  flush=True)

    print(f"\nswept {args.count} seeds from {args.start} "
          f"(ts_style={args.ts_style}, axis={args.axis}): "
          f"{len(failures)} diverged, {len(errors)} errored")
    for s, b in failures.items():
        print(f"  seed {s}: {b}")
    return 1 if (failures or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
