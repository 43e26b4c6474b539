"""Vectorized redo-statement parse kernel (operators P1-P7, SURVEY.md §2.2).

One Arrow-batched pandas UDF fuses the reference's chunking and regex
extraction (FileParser.scala:19-155, regexes parser/package.scala:19-27)
so the whole parse runs as vectorized pandas `.str` operations on the JVM
↔ Python Arrow boundary — no row-at-a-time Python UDF calls.

Byte-parity notes (SURVEY.md §1.3):
  * All regexes are Java-greedy; Python `re` has identical leftmost-greedy
    semantics for these constructs. Scala's extractor `val r(g) = s`
    full-matches, so patterns are anchored \\A..\\Z here.
  * Token stripping is substring(1, len-1): a bare `NULL` insert token
    becomes `UL` (reference quirk, kept). Tokens shorter than 2 chars
    crash the reference (StringIndexOutOfBounds) — here the row is
    routed to the rejects sink via `parse_error` instead.
  * Java String.split drops trailing empty tokens; mirrored.
  * A timestamp must fullmatch the pattern's java.time regex
    (functions/javatime.py) before case-insensitive `to_datetime` reads it.

Rows the reference would crash on (arity mismatch, update attr mismatch,
unparseable type) carry a non-null `parse_error` and null payload, so the
distributed job keeps running and the rejects are observable — the only
behavioral improvement over the reference, which throws
(FileParser.scala:95-99,114-118).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import PipelineConfig, DEFAULT_CONFIG
from .javaspace import ASCII_TRIM as _ASCII_TRIM, WS_CLS as _WS_CLS
from .javatime import compile_java_ts_format, py_smart_resolve

# Anchored forms of parser/package.scala:19-27 (fullmatch semantics).
# The reference patterns run under JAVA regex semantics, which differ
# from Python's on two char classes — spelled out explicitly so the
# kernel stays byte-parity on hostile unicode input:
#   * Java \s is ASCII-only [ \t\n\x0b\f\r]; Python \s also matches
#     NBSP and the Zs set ("insert into" must NOT classify).
#   * Java . excludes ALL line terminators (\n \r \x85 U+2028 U+2029);
#     Python . excludes only \n — a \x85 inside a value makes the
#     reference's insertPattern fail (crash → our reject), so the
#     kernel must reject it too (tests/test_unicode_parity.py).
_S = r"[ \t\n\x0b\f\r]"       # Java regex \s
_D = "[^\n\r\x85\u2028\u2029]"  # Java regex . (no line terminators)
_RE_TYPE = rf"\A(insert|update|delete){_S}"
_RE_INSERT = rf'\Ainsert into "{_D}+"[(]({_D}+)[)] values [(]({_D}+)[)];\Z'
_RE_DELETE = rf'\Adelete from "{_D}+" where ({_D}+);\Z'
_RE_UPDATE = (
    rf'\Aupdate "{_D}+" set ({_D}+) = ({_D}+)'
    rf' where ({_D}+) = ({_D}+) and {_D}*;\Z'
)
_RE_ATTR_VALUE = re.compile(rf"\A({_D}+) = ({_D}+)\Z")
_RE_TABLE = (
    rf'\A(insert|update|delete)({_S}|{_S}into{_S}|{_S}from{_S})'
    rf'("{_D}*")([(]|{_S}set|{_S}where){_D}*;\Z'
)

PARSED_STRUCT = StructType(
    [
        StructField("op", StringType()),
        StructField("table_id", StringType()),
        StructField("row_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("statement", StringType()),
        StructField("insert_cols", ArrayType(StringType())),
        StructField("insert_vals", ArrayType(StringType())),
        StructField("upd_attr", StringType()),
        StructField("upd_new", StringType()),
        StructField("upd_old", StringType()),
        StructField("delete_cols", ArrayType(StringType())),
        StructField("delete_vals", ArrayType(StringType())),
        StructField("parse_error", StringType()),
    ]
)


def _java_split_strip(joined: str | float) -> list[str] | None:
    """Split on ',' with Java trailing-empty removal, then strip the first
    and last character of each token (FileParser.scala:89-94). Returns
    None when any token is too short to strip (reference crash)."""
    if not isinstance(joined, str):
        return None
    parts = joined.split(",")
    while parts and parts[-1] == "":
        parts.pop()
    if any(len(p) < 2 for p in parts):
        return None
    return [p[1:-1] for p in parts]


def _parse_delete_where(where: str | float) -> tuple[list[str], list[str]] | None:
    """FileParser.scala:135-145: split ' and ', per-pair greedy
    '(.+) = (.+)', conditional quote strip on keys, strip on values.
    The ROWID key is KEPT here (filtered later during schema extraction,
    SchemaExtractor.scala:58,127)."""
    if not isinstance(where, str):
        return None
    parts = where.split(" and ")
    while parts and parts[-1] == "":
        parts.pop()
    cols, vals = [], []
    for pair in parts:
        m = _RE_ATTR_VALUE.fullmatch(pair)
        if not m:
            return None
        attr, value = m.groups()
        if attr.startswith('"') or attr.startswith("'"):
            if len(attr) < 2:
                return None
            attr = attr[1:-1]
        if len(value) < 2:
            return None
        cols.append(attr)
        vals.append(value[1:-1])
    return cols, vals


def parse_record_batch(text: pd.Series, java_fmt: str) -> pd.DataFrame:
    """Parse a batch of 2-line redo records; `java_fmt` is the
    java.time timestamp pattern (--timestampPattern). Pure pandas;
    shared by the pandas UDF and unit tests."""
    n = len(text)
    # --- chunking (P1-P2, FileParser.scala:22,52-61) ---
    # ONE pass: statement line + id line + split(" ", 2) of the id line
    # (row id before first space, timestamp remainder), skipping blank
    # lines before either line.
    # blank-line skip = String.isBlank (Character.isWhitespace set, NOT
    # Python \s — NBSP lines are statement lines to the reference);
    # edge-trims = String.trim (chars <= \x20, NOT Python strip() which
    # eats NBSP) — functions/javaspace.py, probed vs the binary
    chunk = text.str.extract(
        rf"\A(?:{_WS_CLS}*\n)*([^\n]*)\n(?:{_WS_CLS}*\n)*([^ \n]*)(?: ([^\n]*))?",
        expand=True,
    )
    stmt = chunk[0].str.strip(_ASCII_TRIM)
    row_id = chunk[1]
    ts_raw = (
        chunk[2].str.strip(_ASCII_TRIM).str.replace(" +", " ", regex=True)
    )
    rx, _, strptime_fmt = compile_java_ts_format(java_fmt)
    shaped = ts_raw.str.fullmatch(rx, na=False)
    ts = pd.to_datetime(
        ts_raw.where(shaped), format=strptime_fmt, errors="coerce")
    # java.time SMART resolution for shaped stamps the strict parse
    # refused (31-APR -> Apr 30, 24:00:00 -> next-day midnight — the
    # reference's DateTimeFormatter default; binary-probed,
    # functions/javatime.py). Only FAILED rows take the Python fallback.
    bad = ts.isna() & shaped
    if bad.any():
        # µs dtype, not ns: Spark timestamps are µs, and a string
        # like '15-MAY-2263' is VALID to the reference and the JVM
        # parser but beyond datetime64[ns] (year 2262 cap) — the
        # strict pass coerces it to NaT, the fallback re-parses it,
        # and the µs series carries it to year 9999. None -> NaT.
        fixed = ts_raw[bad].map(lambda s: py_smart_resolve(s, java_fmt))
        fixed = pd.Series(fixed.tolist(), index=fixed.index,
                          dtype="datetime64[us]")
        ts = ts.astype("datetime64[us]").fillna(fixed)
    idline = chunk[1]  # null ⇔ no id line at all

    # --- statement classification + table id (P3, P7) ---
    # the table pattern's group 1 is the op (parser/package.scala:26-27);
    # rows that fail it get the cheap type-only pattern for error labeling
    tbl = stmt.str.extract(_RE_TABLE, expand=True)
    table_id = tbl[2]
    op = tbl[0]
    missed = op.isna()
    if missed.any():
        op = op.where(~missed, stmt[missed].str.extract(_RE_TYPE, expand=False))

    out = pd.DataFrame(
        {
            "op": op,
            "table_id": table_id,
            "row_id": row_id,
            "ts": ts,
            "statement": stmt,
        }
    )

    # --- insert (P4) ---
    ins = stmt.where(op == "insert").str.extract(_RE_INSERT, expand=True)
    out["insert_cols"] = ins[0].map(_java_split_strip)
    out["insert_vals"] = ins[1].map(_java_split_strip)
    ins_arity_bad = (op == "insert") & out["insert_cols"].notna() & out[
        "insert_vals"
    ].notna() & (out["insert_cols"].str.len() != out["insert_vals"].str.len())
    out.loc[ins_arity_bad, ["insert_cols", "insert_vals"]] = None

    # --- update (P5) ---
    upd = stmt.where(op == "update").str.extract(_RE_UPDATE, expand=True)
    attr_ok = (upd[0] == upd[2]) & (upd[0].str.len() >= 2)
    val_ok = (upd[1].str.len() >= 2) & (upd[3].str.len() >= 2)
    upd_valid = attr_ok & val_ok
    out["upd_attr"] = upd[0].str.slice(1, -1).where(upd_valid)
    out["upd_new"] = upd[1].str.slice(1, -1).where(upd_valid)
    out["upd_old"] = upd[3].str.slice(1, -1).where(upd_valid)

    # --- delete (P6) ---
    dl = stmt.where(op == "delete").str.extract(_RE_DELETE, expand=False)
    dparsed = dl.map(_parse_delete_where)
    out["delete_cols"] = dparsed.map(lambda t: t[0] if t else None)
    out["delete_vals"] = dparsed.map(lambda t: t[1] if t else None)

    # --- error flagging (rows the reference would crash on) ---
    err = pd.Series([None] * n, index=text.index, dtype=object)
    err = err.mask(op.isna(), "unknown_statement_type")
    err = err.mask(op.notna() & table_id.isna(), "no_table_id")
    err = err.mask(
        (op == "insert") & (out["insert_cols"].isna() | out["insert_vals"].isna()),
        "bad_insert",
    )
    err = err.mask(ins_arity_bad, "insert_arity_mismatch")
    err = err.mask((op == "update") & out["upd_attr"].isna(), "bad_update")
    err = err.mask((op == "delete") & out["delete_cols"].isna(), "bad_delete")
    err = err.mask(ts.isna(), "bad_timestamp")
    err = err.mask(idline.isna(), "missing_id_line")
    out["parse_error"] = err
    # Reject rows carry provenance only (url/op/table_id/row_id/ts/
    # statement/parse_error); payload columns are nulled so both parser
    # variants emit identical frames on every row (test_parse_hostile).
    bad = err.notna()
    if bad.any():
        for c in ("insert_cols", "insert_vals", "upd_attr", "upd_new",
                  "upd_old", "delete_cols", "delete_vals"):
            out.loc[bad, c] = None
    return out


def make_parse_udf(cfg: PipelineConfig = DEFAULT_CONFIG):
    """Build the fused parse kernel as a pandas UDF returning
    PARSED_STRUCT. Timestamp format is baked in from config
    (reference flag --timestampPattern, cli/package.scala:20)."""
    fmt = cfg.ts_format_java

    @pandas_udf(PARSED_STRUCT)
    def parse_redo_record(text: pd.Series) -> pd.DataFrame:
        return parse_record_batch(text, fmt)

    return parse_redo_record


def parse_documents(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    keep_cols: tuple[str, ...] = ("url", "warc_ts", "lang"),
) -> DataFrame:
    """Parse the documents table into the canonical parsed-events frame.

    Only `text` + `keep_cols` are read — the binary `html` column is
    never referenced, so Catalyst prunes it out of the parquet/Iceberg
    scan entirely (SURVEY.md §4.2).

    A total event order `seq` is derived from (warc_ts, url): the
    BASELINE.json input_hint guarantees this orders records like the
    original log. Computed without a global sort: downstream operators
    only ever need per-key ordering, so `seq` is kept as the sortable
    struct (ts, url) rather than a materialized global rank.
    """
    parse = make_parse_udf(cfg)
    cols = [c for c in keep_cols if c in df.columns]
    parsed = df.select(*cols, parse(F.col("text")).alias("p"))
    return parsed.select(*cols, "p.*")
