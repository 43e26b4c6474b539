"""P8-P10 — XES event naming, timestamp formatting, XML templating
(TraceIDParser.scala:97-160). Pure built-in column expressions — the
whole XES rendering stays inside whole-stage codegen; no UDFs.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PY_CTRL_DROP = _re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")
# the reference's scala.xml.PrettyPrinter(200, 2): line width, indent step
_PRETTY_WIDTH, _PRETTY_STEP = 200, 2


def xes_timestamp(ts: Column) -> Column:
    """TraceIDParser.scala:131-139: ISO instant with seconds always
    present and a fixed '.000+00:00' suffix. date_format always emits
    seconds, which matches the reference's ':00'-padding branch."""
    return F.concat(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), F.lit(".000+00:00")
    )


def xes_event_name(include_update_values: bool = False) -> Column:
    """TraceIDParser.scala:122-129 event-name templates, as a when-chain
    over the routed op column."""
    add = F.concat(F.lit("Add "), F.col("table_id"), F.lit(" entity"))
    upd_base = F.concat(
        F.lit("Update "),
        F.col("upd_attr"),
        F.lit(" value of "),
        F.col("table_id"),
        F.lit(" entity"),
    )
    upd = (
        F.concat(upd_base, F.lit(" to "), F.col("upd_new"))
        if include_update_values
        else upd_base
    )
    delete = F.concat(F.lit("Delete entity from "), F.col("table_id"))
    return (
        F.when(F.col("op") == "insert", add)
        .when(F.col("op") == "update", upd)
        .otherwise(delete)
    )


# scala.xml Utility.escape silently DROPS control characters below
# 0x20 except \t \n \r (the "else return unit" branch of its per-char
# fold) — probed against the in-sandbox binary: 'x\x0b\x0by' and
# 'x\f\fy' both serialize as 'xy', and a value padded past the
# 200-col PrettyPrinter threshold with \x0b stays INLINE (the drop
# happens at escape time, BEFORE the layout length test).
_CTRL_DROP = "[\x00-\x08\x0b\x0c\x0e-\x1f]"


def xml_escape_attr(c: Column) -> Column:
    """XML attribute escaping via a replace chain (& first), with the
    scala.xml control-char drop (see _CTRL_DROP note)."""
    c = F.regexp_replace(c, _CTRL_DROP, "")
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    c = F.replace(c, F.lit('"'), F.lit("&quot;"))
    return c


def with_xes_columns(events: DataFrame, include_update_values: bool = False) -> DataFrame:
    return events.withColumn(
        "event_name", xes_event_name(include_update_values)
    ).withColumn("xes_ts", xes_timestamp(F.col("ts")))


def trace_xml(traces: DataFrame) -> DataFrame:
    """(case_id, events:array<struct<event_name,xes_ts>>) →
    (case_id, trace_xml:string): one canonical single-line <trace>
    element per case (TraceIDParser.scala:101-146)."""
    event_xml = F.transform(
        F.col("events"),
        lambda e: F.concat(
            F.lit('<event><string key="concept:name" value="'),
            xml_escape_attr(e["event_name"]),
            F.lit('"/><date key="time:timestamp" value="'),
            e["xes_ts"],
            F.lit('"/></event>'),
        ),
    )
    return traces.withColumn(
        "trace_xml",
        F.concat(F.lit("<trace>"), F.array_join(event_xml, ""), F.lit("</trace>")),
    )


def trace_xml_pretty(traces: DataFrame) -> DataFrame:
    """(case_id, events) → (case_id, trace_xml): the scala.xml
    PrettyPrinter(200, 2) layout of one <trace> as serialized by the
    reference (TraceIDParser.scala:153-160), as a child of <log> —
    trace tags at indent 2, events at indent 4, leaves at indent 6.

    Layout rule — verified BYTE-FOR-BYTE against a real .xes produced by
    compiling and running the reference itself on artifacts/redo_log.txt
    (round-3; see tests/test_xes_sink.py): PrettyPrinter inlines an
    element only when `childrenAreLeaves` holds, and its isLeaf covers
    Atom/Comment/EntityRef/ProcInstr — child ELEMENTS are never leaves.
    <event> contains <string/> and <date/> elements, so every event
    breaks into four lines no matter how short (the earlier model
    inlined events under 200 cols — that was wrong). The 200-col width
    DOES apply to each leaf line: see the three-regime comment below,
    all regimes probed against the real binary. Still pure column
    expressions."""
    i_trace, i_event, i_leaf = (" " * (k * _PRETTY_STEP) for k in (1, 2, 3))
    # Leaf layout — all three regimes VERIFIED against the real binary
    # by differential fuzzing + threshold probes (seed 202 caught the
    # collapse; length sweep 195..210 pinned the cutovers):
    #
    # PrettyPrinter first builds `test` = the element's self-closing
    # serialization passed through TextBuffer, which maps every
    # whitespace char to ' ' and collapses runs — INCLUDING inside
    # attribute values ("two  spaces" prints as "two spaces"). Then:
    #   1. len(test) < width           → one inline line: {i_leaf}{test}
    #      (fits() ignores the indent — the rendered line may exceed
    #      width by up to len(i_leaf))
    #   2. len(open_tag_RAW) < width   → {i_leaf}{open_tag_RAW} then
    #      {i_leaf}</string> — open tag comes from startTag(), which
    #      does NOT TextBuffer-collapse, so whitespace runs survive;
    #      reachable only in the one-byte window len(test) == width
    #   3. otherwise                   → {i_leaf}{open_tag_RAW} then
    #      </string> at column 0 (makeBox(cur=…) after the para path)
    # In chars of the escaped name: test = 37 + len(collapsed_escaped),
    # open_tag = 36 + len(raw_escaped). "chars" means UTF-16 CODE UNITS
    # (Scala String.length): an astral char (emoji) counts 2. Probed
    # against the binary under -Dfile.encoding=UTF-8: with four U+1F600
    # in the name the inline→open cutover lands at code-point length
    # 158→159 — exactly unit length 162→163 — and the indented-</string>
    # window at unit length 163 (tests/test_unicode_parity.py).
    def _utf16_len(c):
        # F.length counts code points; each astral char is one more unit
        return F.length(c) + F.length(
            F.regexp_replace(c, r"[^\x{10000}-\x{10FFFF}]", "")
        )

    def str_el_lines(e):
        raw = xml_escape_attr(e["event_name"])
        # TextBuffer collapse set is exactly {\t \n \r ' '}: after the
        # escape-time control-char drop those are the only Java \s
        # chars left, and unicode spaces (NBSP probed) are NOT touched
        col = F.regexp_replace(raw, r"\s+", " ")
        prefix = i_leaf + '<string key="concept:name" value="'
        inline = F.concat(F.lit(prefix), col, F.lit('"/>'))
        # regimes 2/3 emit startTag's UNcollapsed value, but the
        # XML.loadString reparse before XML.save applies XML
        # attribute-value normalization (\t \n \r -> ' ', runs kept):
        # per-char translate, AFTER the threshold (lengths unchanged)
        open_raw = F.concat(
            F.lit(prefix), F.translate(raw, "\t\r", "  "), F.lit('">')
        )
        return (
            F.when(_utf16_len(col) <= _PRETTY_WIDTH - 38, inline)
            .when(
                _utf16_len(raw) <= _PRETTY_WIDTH - 37,
                F.concat(open_raw, F.lit("\n" + i_leaf + "</string>")),
            )
            .otherwise(F.concat(open_raw, F.lit("\n</string>")))
        )

    date_el = lambda e: F.concat(  # noqa: E731
        F.lit('<date key="time:timestamp" value="'), e["xes_ts"], F.lit('"/>')
    )
    event_block = F.transform(
        F.col("events"),
        lambda e: F.concat_ws(
            "\n",
            F.lit(i_event + "<event>"),
            str_el_lines(e),
            F.concat(F.lit(i_leaf), date_el(e)),
            F.lit(i_event + "</event>"),
        ),
    )
    return traces.withColumn(
        "trace_xml",
        F.concat(
            F.lit(i_trace + "<trace>\n"),
            F.array_join(event_block, "\n"),
            F.lit("\n" + i_trace + "</trace>"),
        ),
    )


def py_xml_escape_attr(s: str) -> str:
    """Driver-side twin of xml_escape_attr (scala.xml Utility.escape set,
    including the control-char drop)."""
    s = _PY_CTRL_DROP.sub("", s)
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


XES_PRETTY_HEADER_LINES = (
    "<?xml version='1.0' encoding='UTF-8'?>",  # XML.save xmlDecl quoting
    '<log xes.version="2.0" xmlns="http://www.xes-standard.org/">',
    '  <extension name="Time" prefix="time" uri="http://www.xes-standard.org/time.xesext"/>',
    '  <extension name="Concept" prefix="concept" uri="http://www.xes-standard.org/concept.xesext"/>',
)


def xes_pretty_header(root_table: str) -> str:
    """Document head up to the first trace, concept:name =
    <root>_XES_Log (TraceIDParser.scala:104-111). The root table id
    contains literal quotes ('"SYSTEM"."ORDERS"'), escaped like
    scala.xml serializes attribute text (&quot;)."""
    name =py_xml_escape_attr(f"{root_table}_XES_Log")
    return "\n".join(
        XES_PRETTY_HEADER_LINES
        + (f'  <string key="concept:name" value="{name}"/>',)
    )
