"""Unicode byte-parity vs the REAL reference binary (round 5).

The sandbox JVM's default charset is US-ASCII, so the binary runs with
-Dfile.encoding=UTF-8 (refbin.run_reference(utf8=True)) — parity is
pinned against the UTF-8-locale configuration every real deployment
uses. Three semantics families are covered, each probed first and then
modeled in the engine:

1. PrettyPrinter's 200-col threshold counts UTF-16 CODE UNITS (Scala
   String.length): an astral char (U+1F600) counts 2. The engine's
   trace_xml_pretty previously used F.length (code points) — wrong by
   k units for k astral chars (functions/xes.py::_utf16_len).
2. scala.xml Utility.escape DROPS control chars < 0x20 except \t\n\r
   (BEFORE the threshold), and the XML.loadString reparse normalizes
   raw \t in regime-2/3 open-tag values to spaces.
3. Blank-line dropping is String.isBlank = Character.isWhitespace —
   NOT Python \\s (NBSP is a statement line; 　/ /\x1c lines are
   blank), and edge-trims are String.trim (<= 0x20 only)
   (functions/javaspace.py; both parsers + oracle aligned).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from redo_log_parser_spark import oracle
from redo_log_parser_spark.functions.parse import parse_documents
from redo_log_parser_spark.functions.parse_sql import parse_documents_sql
from redo_log_parser_spark.functions.xes import (
    py_xml_escape_attr, trace_xml_pretty)
from redo_log_parser_spark.operators.rowid import uniquify_row_ids
from redo_log_parser_spark.operators.schema_discovery import (
    discover_schema, summarize_schema)
from redo_log_parser_spark.pipeline import build_traces_df
from redo_log_parser_spark.sinks.xes import (
    reference_trace_orders, write_xes_document)
from redo_log_parser_spark.sources.logfile import read_log_files

from refbin import ensure_reference_build, parse_schema_dump, run_reference


@pytest.fixture(scope="module")
def ref_cp():
    try:
        cp = ensure_reference_build()
    except RuntimeError as e:
        pytest.skip(f"reference build failed: {e}")
    if cp is None:
        pytest.skip("Scala toolchain / reference sources unavailable")
    return cp


ROOT = '"SYSTEM"."T"'


def _mklog(vals, sep_lines=None):
    """One table; per value: an insert then an update to that value.
    Optional separator lines interleaved between records. Timestamps
    strictly advance so (ts, url) order == file order (the input_hint
    ordering contract — constant timestamps would make every insert
    tie and reorder the engine's log view vs the reference's)."""
    lines = []
    for i, v in enumerate(vals):
        rid = f"RID{i:05d}"
        lines.append(
            f'insert into "SYSTEM"."T"("ID","NM") values (\'{i}\',\'a\');')
        lines.append(f"{rid} 26-JAN-2024 10:{i:02d}:00")
        if sep_lines:
            lines.append(sep_lines[i % len(sep_lines)])
        lines.append(
            f'update "SYSTEM"."T" set "NM" = \'{v}\' where "NM" = \'a\''
            f" and ROWID = '{rid}';")
        lines.append(f"{rid} 26-JAN-2024 10:{i:02d}:01")
    return "\n".join(lines) + "\n"


def _threshold_vals():
    """Escaped updvals event-name lengths sweeping the 200-col cutover
    with 4 astral chars (unit len = cp len + 4), plus whitespace/escape
    edge shapes."""
    base = py_xml_escape_attr('Update NM value of "SYSTEM"."T" entity to ')
    vals = []
    for tot_cp in range(155, 172):
        pad = tot_cp - len(base) - 4
        if pad >= 0:
            vals.append("\U0001f600" * 4 + "a" * pad)
    vals += [
        "x  y",          # NBSP run: kept, never collapsed
        "café 中文 Ω",   # BMP multibyte inline
        "x\x0b\x0by",              # ctrl run: DROPPED by escape
        "x\f\fy",
        "a" * (160 - len(base)) + "\x0b\x0b\x0b",  # ctrl past cutover:
        # dropped BEFORE the length test -> stays inline
        "x\t\ty" + "b" * (180 - len(base) - 4),    # regime 3 with tabs:
        # raw in startTag, but reload normalizes \t -> ' ' (no collapse)
    ]
    return vals


def test_utf16_threshold_xes_bytes(spark, tmp_path, ref_cp):
    log = tmp_path / "uni.log"
    log.write_text(_mklog(_threshold_vals()), encoding="utf-8")
    _, ref_xes = run_reference(
        str(log), ROOT, str(tmp_path / "ref.xes"), updvals=True, utf8=True)

    docs = read_log_files(spark, str(log))
    events = uniquify_row_ids(parse_documents(docs)).cache()
    try:
        assert events.filter("parse_error is not null").count() == 0
        schema = summarize_schema(*discover_schema(events, ind_mode="eager"))
        traces = build_traces_df(events, schema, [ROOT],
                                 include_update_values=True)
        out = tmp_path / "ours.xes"
        write_xes_document(
            trace_xml_pretty(traces), str(out), ROOT,
            case_order=reference_trace_orders(events, [ROOT])[ROOT])
        got = out.read_text(encoding="utf-8")
        assert got == ref_xes
    finally:
        events.unpersist()


def test_unicode_blank_lines_schema(spark, tmp_path, ref_cp):
    """Separator lines from the isBlank set (　, \\u2028, \\x1c\\x1d,
    Zs runs) are dropped by the reference before pairing; the engine's
    three surfaces (pandas kernel, JVM parser, pure-Python oracle) must
    all agree, including the byte-level console dump."""
    seps = ["　", " ", "\x1c\x1d", "   ",
            "  "]
    vals = ["café", "x y", "中文", "ok", "\U0001f600"]
    log = tmp_path / "sep.log"
    log.write_text(_mklog(vals, sep_lines=seps), encoding="utf-8")
    ref_plain, _ = run_reference(str(log), "-", str(tmp_path / "r.xes"),
                                 utf8=True)

    docs = read_log_files(spark, str(log))
    for parse in (parse_documents, parse_documents_sql):
        events = uniquify_row_ids(parse(docs))
        assert events.filter("parse_error is not null").count() == 0, parse
        got = summarize_schema(
            *discover_schema(events, ind_mode="eager")).format_console()
        assert parse_schema_dump(got) == parse_schema_dump(ref_plain), parse

    lines = log.read_text(encoding="utf-8").splitlines()
    entries = oracle.uniquify_row_ids(oracle.parse_log_lines(lines))
    assert oracle.reference_console_dump(entries) == ref_plain


def test_nbsp_separator_is_reference_crash(spark, tmp_path, ref_cp):
    """An NBSP-only line is NOT blank to Java — it becomes a statement
    line, shifts the pairing and crashes the reference (probed). The
    engine's crash policy: observable rejects, identical across both
    parsers; the pandas kernel previously treated it as blank (Python
    \\s includes \\xa0) and parsed CLEANLY where the reference dies."""
    log = tmp_path / "nbsp.log"
    log.write_text(
        'insert into "SYSTEM"."T"("ID") values (\'1\');\n'
        "RIDB0001 26-JAN-2024 10:00:00\n"
        "  \n"
        'insert into "SYSTEM"."T"("ID") values (\'2\');\n'
        "RIDB0002 26-JAN-2024 10:00:01\n",
        encoding="utf-8")
    with pytest.raises(RuntimeError):
        run_reference(str(log), "-", str(tmp_path / "r.xes"), utf8=True)

    docs = read_log_files(spark, str(log))
    cmp_cols = ["url", "op", "table_id", "row_id", "ts", "statement",
                "insert_cols", "insert_vals", "upd_attr", "upd_new",
                "upd_old", "delete_cols", "delete_vals"]
    norm = lambda df: df.select(  # noqa: E731
        *cmp_cols, F.col("parse_error").isNotNull().alias("is_reject"))
    a = norm(parse_documents(docs))
    b = norm(parse_documents_sql(docs))
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0
    # the NBSP line swallowed record 2's statement slot: rejects exist
    assert a.filter("is_reject").count() >= 1


def test_lineterm_values_reject_in_both_parsers(spark):
    """Values containing \\x85 / \\u2028 / \\u2029 break the reference's
    insert pattern (Java . excludes all five line terminators) — a
    crash there, identical labeled rejects here in BOTH parsers; the
    kernel's Python regexes previously accepted them (Python . only
    excludes \\n). NBSP values must PARSE and survive verbatim."""
    rows = []
    for i, v in enumerate(["ok\x85v", "w x", "y z", "n b"]):
        rows.append((
            f"https://u.example/{i:04d}",
            f'insert into "SYSTEM"."T"("ID","NM") values '
            f"('{i}','{v}');\nRID{i:04d}X 26-JAN-2024 10:00:0{i}",
        ))
    docs = spark.createDataFrame(rows, "url string, text string")
    a = parse_documents(docs).orderBy("url")
    b = parse_documents_sql(docs).orderBy("url")
    got_a = [(r["parse_error"] is not None, r["insert_vals"])
             for r in a.collect()]
    got_b = [(r["parse_error"] is not None, r["insert_vals"])
             for r in b.collect()]
    assert got_a == got_b
    assert [rej for rej, _ in got_a] == [True, True, True, False]
    assert got_a[3][1] == ["3", "n\xa0b"]  # NBSP survives verbatim


def test_oracle_parse_records_java_blank_semantics(spark):
    """oracle.parse_records (documents-mode oracle) must drop blank
    lines with Java String.isBlank, exactly like chunk_lines and both
    Spark kernels (review r5s5 find: it used Python str.strip, which
    also eats NBSP/\\x85-only lines Java keeps).

    - \\x1c-only middle line: blank to BOTH Python and Java -> clean
      parse, oracle == kernel.
    - NBSP-only middle line: NOT blank to Java -> the NBSP becomes the
      id line, no timestamp: reference crash (oracle raises), engine
      labeled reject. The pre-fix oracle silently parsed it clean."""
    clean_rec = (
        'insert into "SYSTEM"."T"("ID") values (\'1\');\n\x1c\n'
        "RID0001X 26-JAN-2024 10:00:01"
    )
    nbsp_rec = (
        'insert into "SYSTEM"."T"("ID") values (\'2\');\n\xa0\n'
        "RID0002X 26-JAN-2024 10:00:02"
    )

    [entry] = oracle.parse_records([clean_rec])
    assert (entry.row_id, entry.op) == ("RID0001X", "insert")

    with pytest.raises(Exception):
        oracle.parse_records([nbsp_rec])

    docs = spark.createDataFrame(
        [("https://u.example/0001", clean_rec),
         ("https://u.example/0002", nbsp_rec)],
        "url string, text string",
    )
    got = {r["url"][-4:]: (r["parse_error"] is None, r["row_id"])
           for r in parse_documents(docs).collect()}
    assert got["0001"] == (True, "RID0001X")
    assert got["0002"][0] is False  # engine: labeled reject


def test_java_equals_ignore_case_battery():
    """Pins javaspace.java_equals_ignore_case against the in-sandbox
    Java probe (String.equalsIgnoreCase, java 17):

        İX~ix true | ıX~IX true | STRASSE~straße false | İX~IX true
        ıx~ix true | ÅB~åb true | ΣA~σa true | ΣA~ςa true

    The divergent-from-Python rows are exactly why .lower() comparisons
    were replaced in the trace layers (fuzz axis `unicase`)."""
    from redo_log_parser_spark.functions.javaspace import (
        java_equals_ignore_case as eq)

    battery = [
        ("İX", "ix", True), ("ıX", "IX", True),
        ("STRASSE", "straße", False), ("İX", "IX", True),
        ("ıx", "ix", True), ("ÅB", "åb", True),
        ("ΣA", "σa", True), ("ΣA", "ςa", True),
        ("abc", "ABC", True), ("abc", "abd", False),
        ("😀A", "😀a", True), ("😀", "😀x", False),
        ('"SYSTEM"."USERS"', '"system"."users"', True),
    ]
    assert [(a, b, eq(a, b)) for a, b, _ in battery] == battery


def test_kelvin_sign_pk_name_heuristic(spark):
    """Java's (?i) is ASCII-only case folding (no UNICODE_CASE), so a
    column named KEY with a KELVIN SIGN K (U+212A) must NOT satisfy
    the PK-name heuristic (Column.scala:146-149). Binary-probed this
    session: strict dump says `KEY ` / `ID (STRONG PRIMARY KEY)`.
    Python IGNORECASE and F.lower() both unicode-fold U+212A to 'k' —
    the engine now uses Java-regex (?i) / Python (?ai)."""
    kcol = "KEY"
    stmts = [
        (f'insert into "SYSTEM"."T"("ID","{kcol}") values '
         "('1','a');", "TAAAAX", "26-JAN-2024 10:00:00"),
        (f'insert into "SYSTEM"."T"("ID","{kcol}") values '
         "('2','b');", "TAAABX", "26-JAN-2024 10:00:01"),
    ]
    rows = [
        (f"https://h.example/{i:04d}", f"{s}\n{rid} {ts}")
        for i, (s, rid, ts) in enumerate(stmts)
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    events = uniquify_row_ids(parse_documents(docs))
    cols_df = discover_schema(events, strict=True)[0]
    got = {r["col"]: (r["name_like_pk"], r["is_pk"])
           for r in cols_df.collect()}
    assert got[kcol] == (False, False)
    assert got["ID"] == (True, True)

    entries = oracle.uniquify_row_ids(
        oracle.parse_records([t for _, t in rows]))
    dump = oracle.reference_console_dump(entries, strict=True)
    assert dump == f'TABLE "SYSTEM"."T"\n{kcol} \nID (STRONG PRIMARY KEY) '


def _java_time(spark, stamps, pattern):
    """Each stamp as the reference parses it, 'yyyy-MM-dd HH:mm:ss', or
    None where it throws: java.time through the session's JVM, with
    the formatter built as parser/package.scala:13-16 builds it."""
    from pyspark.errors import DateTimeException

    jt = spark._jvm.java.time
    fmt = (jt.format.DateTimeFormatterBuilder().parseCaseInsensitive()
           .appendPattern(pattern).toFormatter())
    out = jt.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    got = []
    for s in stamps:
        try:
            got.append(jt.LocalDateTime.parse(s, fmt).format(out))
        except DateTimeException:  # the JVM's, as PySpark raises it
            got.append(None)
    return got


def _assert_surfaces_match_java_time(spark, stamps, pattern):
    """The kernel, the JVM parser and the oracle each parse `stamps`
    under `pattern` to java.time's value, and reject where it throws."""
    from redo_log_parser_spark.config import PipelineConfig

    cfg = PipelineConfig(ts_format_java=pattern)
    want = _java_time(spark, stamps, pattern)
    # the battery holds both shapes, so the comparison is not vacuous
    assert None in want and any(w is not None for w in want), want
    rows = [
        (f"https://h.example/{i:04d}",
         f'insert into "SYSTEM"."T"("ID") values (\'{i}\');\n'
         f"RID{i:04d}X {ts}")
        for i, ts in enumerate(stamps)
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    for parser in (parse_documents, parse_documents_sql):
        got = {
            r["url"][-4:]: (None if r["ts"] is None
                            else r["ts"].strftime("%Y-%m-%d %H:%M:%S"),
                            r["parse_error"])
            for r in parser(docs, cfg=cfg).collect()
        }
        for i, (ts, w) in enumerate(zip(stamps, want)):
            got_ts, err = got[f"{i:04d}"]
            assert got_ts == w, (parser.__name__, ts, got_ts, w)
            assert err == (None if w else "bad_timestamp"), (
                parser.__name__, ts, err)

    # oracle: clean shapes parse to the same datetimes, crash shapes raise
    for (_, rec), ts, w in zip(rows, stamps, want):
        if w is None:
            with pytest.raises(ValueError):
                oracle.parse_records([rec], cfg)
        else:
            [entry] = oracle.parse_records([rec], cfg)
            assert entry.ts.strftime("%Y-%m-%d %H:%M:%S") == w, ts


def test_smart_timestamp_resolution_all_surfaces(spark):
    """java.time ResolverStyle.SMART parity (binary-probed battery):
    day capped to month length, 24:00:00 = next-day midnight, cap THEN
    roll when combined; true out-of-range fields stay rejects (the
    reference crashes on those). So do stamps java.time's fixed-width
    ASCII fields refuse: an unpadded day or hour, Arabic-Indic digits,
    a tab or an NBSP for the space. All three parse surfaces must
    agree with java.time."""
    _assert_surfaces_match_java_time(spark, [
        "31-APR-2024 10:00:00",
        "29-FEB-2023 11:30:00",
        "30-FEB-2024 10:00:00",
        "01-MAY-2024 24:00:00",
        "31-FEB-2024 24:00:00",
        "31-DEC-2024 24:00:00",
        "32-JAN-2024 10:00:00",
        "00-JAN-2024 10:00:00",
        "01-MAY-2024 24:30:00",
        "01-MAY-2024 24:00:01",
        "01-MAY-2024 23:60:00",
        "15-MAY-2024 10:00:00",
        "21-jul-2020 16:29:41",
        "1-JUL-2020 16:29:41",
        "21-JUL-2020 6:29:41",
        "\u0662\u0661-JUL-2020 16:29:41",
        "21-JUL-2020\t16:29:41",
        "21-JUL-2020\xa016:29:41",
    ], "dd-MMM-yyyy HH:mm:ss")


def test_smart_resolution_iso_pattern(spark):
    """The SMART replica is pattern-generic: the reference's second
    README pattern (yyyy-MM-dd HH:mm:ss) caps and rolls identically,
    and refuses an unpadded month as java.time does."""
    _assert_surfaces_match_java_time(spark, [
        "2024-04-31 10:00:00",
        "2024-02-30 24:00:00",
        "2024-05-01 24:30:00",
        "2020-07-21 16:29:41",
        "2020-7-21 16:29:41",
    ], "yyyy-MM-dd HH:mm:ss")


def test_smart_resolution_representable_bounds(spark):
    """Review r5s5 fixes: SMART results outside a surface's
    representable range must be labeled rejects, never task crashes.
    31-DEC-9999 24:00:00 rolls to year 10000 (reference parses it;
    unrepresentable here — both parsers reject, documented bound).
    Year-2263+ dates exceed datetime64[ns]: the kernel's strict pass
    coerces them to NaT, but the SMART fallback re-parses into a
    datetime64[us] series — BOTH parsers now agree with the reference
    up to year 9999."""
    rows = [
        ("https://h.example/0000",
         'insert into "SYSTEM"."T"("ID") values (\'1\');\n'
         "RID0000X 31-DEC-9999 24:00:00"),
        ("https://h.example/0001",
         'insert into "SYSTEM"."T"("ID") values (\'2\');\n'
         "RID0001X 31-APR-2263 10:00:00"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    kern = {r["url"][-4:]: (str(r["ts"]), r["parse_error"])
            for r in parse_documents(docs).collect()}
    sql = {r["url"][-4:]: (str(r["ts"]), r["parse_error"])
           for r in parse_documents_sql(docs).collect()}
    assert kern["0000"] == ("None", "bad_timestamp")
    assert sql["0000"] == ("None", "bad_timestamp")
    assert kern["0001"][0].startswith("2263-04-30 10:00")
    assert kern["0001"][1] is None
    assert sql["0001"][0].startswith("2263-04-30 10:00")
