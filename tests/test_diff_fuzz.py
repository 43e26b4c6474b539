"""Differential fuzzing against the REAL reference binary.

Each seed generates a random format-valid redo log (tests/fuzzgen.py),
runs the actual reference implementation in-sandbox (tests/refbin.py —
compiled from /root/reference sources, tests/fixtures/README.md), runs
the Spark engine on the same file, and demands:

- plain console schema dump: identical {table: column-line set}s from
  the Spark engine (eager IND = the reference's SchemaDeriver latch)
  AND byte-identical full dumps from oracle.reference_console_dump
  (round 4 — table/column/FK-target Scala-HashMap orders replicated,
  no canonicalization left)
- strict console schema dump: same two checks, with mono_mode=
  'reference' (the shipped binary's vacuously-true increasing check)
- .xes for a seed-chosen root: WHOLE-FILE byte equality, plain AND
  --includeUpdateValues (round 4: our .xes is emitted with
  reference_trace_orders, which replays the binary's seeded random
  rowid suffixes + Scala 2.12 groupBy iteration — so every fuzz seed
  now also differentially validates the trace-order replica; the
  multiset checks are kept first to localize any failure)

No planned ground truth: the reference binary IS the oracle, so any
mismatch is a semantics divergence, not a fixture bug. A wider sweep
ran offline (DIFF_FUZZ_SEEDS, see FIXTURES.md §fuzz)."""

from __future__ import annotations

import os
import re

import pytest

from redo_log_parser_spark.functions.parse import parse_documents
from redo_log_parser_spark.functions.xes import trace_xml_pretty
from redo_log_parser_spark.operators.rowid import uniquify_row_ids
from redo_log_parser_spark.operators.schema_discovery import (
    discover_schema, summarize_schema)
from redo_log_parser_spark.pipeline import build_traces_df
from redo_log_parser_spark.sinks.xes import write_xes_document
from redo_log_parser_spark.sources.logfile import read_log_files

from fuzzgen import write_fuzz_log
from refbin import ensure_reference_build, parse_schema_dump, run_reference

SEEDS = [int(s) for s in os.environ.get(
    "DIFF_FUZZ_SEEDS", "101,202,303,404,505").split(",")]

_TRACE_RE = re.compile(r"[ ]*<trace>.*?</trace>", re.S)


@pytest.fixture(scope="module")
def ref_cp():
    try:
        cp = ensure_reference_build()
    except RuntimeError as e:  # toolchain present but build broke
        pytest.skip(f"reference build failed: {e}")
    if cp is None:
        pytest.skip("Scala toolchain / reference sources unavailable")
    return cp


def _assert_schema_dumps_equal(ours: str, ref: str, label: str) -> None:
    a, b = parse_schema_dump(ref), parse_schema_dump(ours)
    assert set(a) == set(b), (label, set(a) ^ set(b))
    for t in a:
        assert a[t] == b[t], (label, t, a[t] ^ b[t])


def _assert_console_bytes_equal(log: str, ref: str, strict: bool,
                                label: str) -> None:
    """Round 4: the pure-Python replica (oracle.reference_console_dump)
    must reproduce the binary's dump BYTE-for-byte — table order,
    column order and FK-target order included."""
    from redo_log_parser_spark import oracle
    from redo_log_parser_spark.config import PipelineConfig

    lines = open(log, encoding="utf-8").read().splitlines()
    entries = oracle.uniquify_row_ids(
        oracle.parse_log_lines(lines, PipelineConfig()))
    got = oracle.reference_console_dump(entries, strict=strict)
    assert got == ref, (label, "console dump bytes diverge")


def _assert_xes_equal(ours: str, ref: str, label: str) -> None:
    # staged asserts localize a failure (header/footer vs content vs
    # document order) before the definitive whole-file comparison
    assert ours[:ours.index("<trace>") - 2] == ref[:ref.index("<trace>") - 2], label
    assert ours[ours.rindex("</trace>"):] == ref[ref.rindex("</trace>"):], label
    tg, tr = _TRACE_RE.findall(ours), _TRACE_RE.findall(ref)
    assert len(tg) == len(tr), (label, len(tg), len(tr))
    assert sorted(tg) == sorted(tr), label
    assert ours == ref, (label, "trace ORDER diverges (content equal)")


def _our_xes(events, schema, root, path, include_update_values):
    from redo_log_parser_spark.sinks.xes import reference_trace_orders

    traces = build_traces_df(
        events, schema, [root], include_update_values=include_update_values)
    write_xes_document(
        trace_xml_pretty(traces), path, root,
        case_order=reference_trace_orders(events, [root])[root])
    return open(path, encoding="utf-8").read()


def test_xes_pretty_width_regimes_match_reference(spark, tmp_path, ref_cp):
    """Byte parity with the binary across ALL PrettyPrinter leaf-layout
    regimes in one log: whitespace-collapse inside an inlined value
    ("two  spaces"), the inline/break threshold at serialized length
    199/200/201, the one-byte window where </string> stays indented,
    raw (uncollapsed) open tags in the broken regimes, an apostrophe,
    and leading/trailing spaces."""
    ts_line = "21-JUL-2020 16:29:41"
    values = [
        "two  spaces",      # inline, collapsed
        "y" * 99,           # collapsed test len 199 -> inline
        "y" * 100,          # exactly 200 -> open tag + indented </string>
        "y" * 101,          # 201 -> open tag + </string> at col 0
        "a  " + "y" * 98,   # collapsed 200, raw open tag 200 -> col 0
        "it's",             # apostrophe passes through unescaped
        " lead",
        "trail ",
    ]
    lines = []
    for i, v in enumerate(values):
        rid = f"AAAROWIDAAAAAAAA{i:02d}"
        lines += [
            f'insert into "SYSTEM"."T"("ID","VAL") values (\'{i}\',\'s{i}\');',
            f"{rid} {ts_line}".ljust(80), "",
            f'update "SYSTEM"."T" set "VAL" = \'{v}\' where "VAL" = \'s{i}\''
            f" and ROWID = '{rid}';",
            f"{rid} {ts_line}".ljust(80), "",
        ]
    log = str(tmp_path / "widths.log")
    open(log, "w").write("\n".join(lines) + "\n")

    root = '"SYSTEM"."T"'
    _, ref_xes = run_reference(
        log, root, str(tmp_path / "ref.xes"), updvals=True)

    docs = read_log_files(spark, log)
    events = uniquify_row_ids(parse_documents(docs)).cache()
    schema = summarize_schema(*discover_schema(events, ind_mode="eager"))
    got = _our_xes(events, schema, root, str(tmp_path / "ours.xes"), True)
    events.unpersist()
    _assert_xes_equal(got, ref_xes, "width regimes")


@pytest.mark.parametrize("seed", SEEDS[:2])
def test_documents_mode_matches_reference(spark, tmp_path, ref_cp, seed):
    """The PRODUCTION input path (documents table, statements in text
    cells, order contract = (warc_ts, url)) must produce the same
    schema dump and .xes bytes as the reference reading the equivalent
    raw log file — same fuzzed statements, both modes."""
    from fuzzgen import fuzz_records, records_to_documents, render_log

    records, tables = fuzz_records(seed)
    root = tables[seed % len(tables)]
    log = str(tmp_path / "fuzz.log")
    open(log, "w", encoding="utf-8").write(render_log(records))
    ref_plain, ref_xes = run_reference(log, root, str(tmp_path / "r.xes"))

    docs = spark.createDataFrame(records_to_documents(records))
    events = uniquify_row_ids(parse_documents(docs)).cache()
    try:
        assert events.filter("parse_error is not null").count() == 0
        schema = summarize_schema(*discover_schema(events, ind_mode="eager"))
        _assert_schema_dumps_equal(
            schema.format_console(), ref_plain, f"docs-mode seed={seed}")
        _assert_xes_equal(
            _our_xes(events, schema, root, str(tmp_path / "o.xes"), False),
            ref_xes, f"docs-mode seed={seed} xes")
    finally:
        events.unpersist()


def test_timestamp_pattern_matches_reference(spark, tmp_path, ref_cp):
    """--timestampPattern parity with the binary: an alternate pattern
    (yyyy-MM-dd HH:mm:ss) plus mixed-case month names under the default
    pattern (the reference's formatter is parseCaseInsensitive,
    parser/package.scala:13-16). Byte-level .xes comparison so the
    XES-timestamp rendering of the parsed instants is covered too."""
    from redo_log_parser_spark.config import PipelineConfig

    cases = [
        ("yyyy-MM-dd HH:mm:ss",
         ["2020-07-21 16:29:41", "2020-07-21 16:29:43", "2020-12-31 23:59:59"]),
        ("",  # default dd-MMM-yyyy HH:mm:ss, case-insensitive months
         ["21-jul-2020 16:29:41", "21-Jul-2020 16:29:43",
          "31-DEC-2020 23:59:59"]),
    ]
    for pat, stamps in cases:
        lines = []
        for i, ts in enumerate(stamps):
            rid = f"AAAROWIDAAAAAAAA{i:02d}"
            lines += [
                f'insert into "SYSTEM"."T"("ID","VAL") values'
                f" ('{i}','v{i}');",
                f"{rid} {ts}".ljust(80), "",
            ]
        log = str(tmp_path / f"ts_{bool(pat)}.log")
        open(log, "w").write("\n".join(lines) + "\n")

        root = '"SYSTEM"."T"'
        _, ref_xes = run_reference(
            log, root, str(tmp_path / "ref.xes"), ts_pattern=pat)

        cfg = (PipelineConfig(ts_format_java=pat) if pat
               else PipelineConfig())
        docs = read_log_files(spark, log)
        events = uniquify_row_ids(parse_documents(docs, cfg=cfg)).cache()
        assert events.filter("parse_error is not null").count() == 0
        schema = summarize_schema(*discover_schema(events, ind_mode="eager"))
        got = _our_xes(events, schema, root, str(tmp_path / "o.xes"), False)
        events.unpersist()
        _assert_xes_equal(got, ref_xes, f"pattern={pat or 'default'}")


@pytest.mark.parametrize("seed", SEEDS)
def test_fuzz_matches_reference(spark, tmp_path, ref_cp, seed):
    log = str(tmp_path / "fuzz.log")
    tables = write_fuzz_log(seed, log)
    root = tables[seed % len(tables)]

    ref_plain, ref_xes = run_reference(log, root, str(tmp_path / "r1.xes"))
    ref_strict, _ = run_reference(
        log, "-", str(tmp_path / "r2.xes"), strict=True)
    _, ref_xes_upd = run_reference(
        log, root, str(tmp_path / "r3.xes"), updvals=True)

    docs = read_log_files(spark, log)
    events = uniquify_row_ids(parse_documents(docs)).cache()
    try:
        assert events.filter("parse_error is not null").count() == 0

        schema = summarize_schema(*discover_schema(events, ind_mode="eager"))
        _assert_schema_dumps_equal(
            schema.format_console(), ref_plain, f"seed={seed} plain")
        _assert_console_bytes_equal(log, ref_plain, False, f"seed={seed}")

        schema_s = summarize_schema(*discover_schema(
            events, strict=True, ind_mode="eager", mono_mode="reference"))
        _assert_schema_dumps_equal(
            schema_s.format_console(strict=True),
            ref_strict, f"seed={seed} strict")
        _assert_console_bytes_equal(
            log, ref_strict, True, f"seed={seed} strict")

        _assert_xes_equal(
            _our_xes(events, schema, root, str(tmp_path / "o1.xes"), False),
            ref_xes, f"seed={seed} xes")
        _assert_xes_equal(
            _our_xes(events, schema, root, str(tmp_path / "o3.xes"), True),
            ref_xes_upd, f"seed={seed} xes updvals")
    finally:
        events.unpersist()


def test_fuzzgen_fk_values_draw_from_parent_pools():
    """Generator property (round-4 review regression pin): fk-kind
    columns must draw from the LIVE parent ID pool, not collapse to the
    "0" fallback — `parent_ids or []` once froze a private empty list
    (the shared pool is empty at _ColSpec construction) and 1365/1365
    fk values were "0", silently voiding the late-born-FK coverage of
    the table-birth gate. Pure generator check, no Spark/binary."""
    import re as _re

    from fuzzgen import fuzz_statements

    fkvals: list[str] = []
    for seed in range(13000, 13020):
        stmts, _tables = fuzz_statements(seed)
        for s in stmts:
            m = _re.match(
                r'insert into "SYSTEM"\."\w+"\(([^)]*)\) values \((.*)\);',
                s.statement)
            if m:
                cols = [c.strip('"') for c in m.group(1).split(",")]
                vals = [v.strip("'") for v in m.group(2).split(",")]
                fkvals += [v for c, v in zip(cols, vals) if c.endswith("_ID")]
            m2 = _re.match(
                r'update "SYSTEM"\."\w+" set "(\w+_ID)" = \'([^\']*)\'',
                s.statement)
            if m2:
                fkvals.append(m2.group(2))
    assert fkvals, "no fk-kind columns generated across 20 seeds"
    distinct = set(fkvals)
    # real pools are seq/seqpad/dup draws — far more than the lone
    # fallback value; >=10 distinct proves the shared pool is live
    assert len(distinct) >= 10, f"fk values collapsed: {sorted(distinct)}"
    assert distinct != {"0"}


@pytest.mark.parametrize("ts_style,pat", [
    ("iso", "yyyy-MM-dd HH:mm:ss"),
    ("mixedcase", ""),
])
def test_fuzz_ts_style_matches_reference(spark, tmp_path, ref_cp,
                                         ts_style, pat):
    """Timestamp-axis fuzz (round 4): the same seed rendered with an
    alternate --timestampPattern (iso) or per-record mixed month casing
    must byte-match the binary on schema dump + whole-file .xes. Wider
    sweeps via jobs/diff_fuzz_sweep.py --ts-style (ledger FIXTURES §3b)."""
    from redo_log_parser_spark.config import PipelineConfig

    seed = 16000
    log = str(tmp_path / "fuzz_ts.log")
    tables = write_fuzz_log(seed, log, ts_style=ts_style)
    root = tables[seed % len(tables)]
    cfg = PipelineConfig(ts_format_java=pat) if pat else PipelineConfig()

    ref_plain, ref_xes = run_reference(
        log, root, str(tmp_path / "r.xes"), ts_pattern=pat)

    docs = read_log_files(spark, log)
    events = uniquify_row_ids(parse_documents(docs, cfg=cfg)).cache()
    try:
        assert events.filter("parse_error is not null").count() == 0
        schema = summarize_schema(*discover_schema(events, ind_mode="eager"))
        _assert_schema_dumps_equal(
            schema.format_console(), ref_plain, f"{ts_style} plain")

        from redo_log_parser_spark import oracle
        lines = open(log, encoding="utf-8").read().splitlines()
        entries = oracle.uniquify_row_ids(oracle.parse_log_lines(lines, cfg))
        assert oracle.reference_console_dump(entries) == ref_plain, (
            ts_style, "console dump bytes diverge")

        _assert_xes_equal(
            _our_xes(events, schema, root, str(tmp_path / "o.xes"), False),
            ref_xes, f"{ts_style} xes")
    finally:
        events.unpersist()
