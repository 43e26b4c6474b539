"""Hostile-value parity: pandas kernel ≡ JVM expression parser on the
adversarial alphabet, INCLUDING the shapes that crash the reference
binary outright (',' inside an insert value — split-arity check,
FileParser.scala:95-99; ' and ' inside a delete value — sliding-pair
MatchError, FileParser.scala:135-145; ' = ' inside an update value —
attribute1 != attribute2 check, FileParser.scala:114-118).

The engine's contract for those rows (SURVEY.md §1.3): never crash the
distributed job — either reproduce the reference's mangling
bit-for-bit (when the reference survives) or route the row to the
rejects sink with a non-null parse_error (when the reference throws).
Error LABELS may differ between the two parsers on degenerate rows
(parse_sql.py module docstring); payloads and reject-ness may not.
"""

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from redo_log_parser_spark import oracle
from redo_log_parser_spark.config import PipelineConfig
from redo_log_parser_spark.functions.parse import (
    parse_documents, parse_record_batch)
from redo_log_parser_spark.functions.parse_sql import parse_documents_sql

CFG = PipelineConfig()
TS = "21-JUL-2020 16:29:41"

# Survivor values (reference parses them, possibly mangled) + the three
# crash families the fuzz generator must exclude (tests/fuzzgen.py).
HOSTILE_VALUES = [
    "x,y", ",", "a,b,c", ",lead", "trail,",          # insert-crash family
    "a and b", " and ", "x and y and z",             # delete-crash family
    "a = b", " = ", "A = B = C",                     # update-crash family
    "", "a", "NULL", "it's", "'", "''",
    "two  spaces", " lead", "trail ", "a=b", "x;y",
    "q(r", "s)t", "u where u", "andy AND b",
    "values (", "where ", "&<>\"", "ROWID = 'x'",
    # NUL bytes collide with the JVM parser's packed-group separator
    # (parse_sql stage 1 packs the four update groups as "$1␀$2␀$3␀$4");
    # these must take the size!=4 fallback and still match the kernel
    "a\x00b", "\x00", "x\x00y\x00z", "\x00 = \x00",
]


def _records():
    recs = []
    for i, v in enumerate(HOSTILE_VALUES):
        r = f"AAA{i:03d}"
        recs += [
            f'insert into "S"."T"("A") values (\'{v}\');',
            f'insert into "S"."T"("A","B") values (\'{v}\',\'k{i}\');',
            f'update "S"."T" set "A" = \'{v}\' where "A" = \'o{i}\''
            f" and ROWID = '{r}';",
            f'update "S"."T" set "A" = \'n{i}\' where "A" = \'{v}\''
            f" and ROWID = '{r}';",
            f'delete from "S"."T" where "A" = \'{v}\' and ROWID = \'{r}\';',
            f'delete from "S"."T" where "A" = \'{v}\' and "B" = \'k{i}\''
            f" and ROWID = '{r}';",
        ]
    # structurally broken records (chunker/timestamp paths)
    recs += [
        "select * from x;",                    # unknown statement type
        'insert into "S"."T"("A") values ();',  # empty value list
        "insert into x values ('a');",          # unquoted table id
    ]
    return recs


def _documents_pdf():
    rows = []
    ts = datetime(2020, 7, 21, 16, 29, 41)
    for seq, stmt in enumerate(_records()):
        rows.append({
            "url": f"https://hostile.example/{seq:08d}",
            "warc_ts": ts,
            "html": b"",
            "text": f"{stmt}\nAAR{seq:05d} {TS}",
            "lang": "en",
        })
    # timestamp garbage + missing id line entirely
    rows.append({
        "url": "https://hostile.example/99999990", "warc_ts": ts,
        "html": b"", "text": 'insert into "S"."T"("A") values (\'v\');'
        "\nAAR99999 xx-XXX-2020 99:99:99", "lang": "en",
    })
    rows.append({
        "url": "https://hostile.example/99999991", "warc_ts": ts,
        "html": b"", "text": 'insert into "S"."T"("A") values (\'v\');',
        "lang": "en",
    })
    return pd.DataFrame(rows)


CMP_COLS = [
    "url", "op", "table_id", "row_id", "ts", "statement",
    "insert_cols", "insert_vals", "upd_attr", "upd_new", "upd_old",
    "delete_cols", "delete_vals",
]


def test_sql_parser_matches_kernel_on_hostile_values(spark):
    """Both parsers agree on every payload column AND on exactly which
    rows are rejects (labels are allowed to differ — mask order is
    documented as divergent on multi-error rows)."""
    docs = spark.createDataFrame(_documents_pdf())
    norm = lambda df: df.select(  # noqa: E731
        *CMP_COLS, F.col("parse_error").isNotNull().alias("is_reject")
    )
    a, b = norm(parse_documents(docs)), norm(parse_documents_sql(docs))
    diff = a.exceptAll(b).unionAll(b.exceptAll(a))
    rows = diff.collect()
    if rows:
        for r in rows[:10]:
            print(r)
    assert not rows


@pytest.mark.parametrize("stmt,label", [
    ('insert into "S"."T"("A") values (\'x,y\');', "insert_arity_mismatch"),
    ('delete from "S"."T" where "A" = \'a and b\' and ROWID = \'r\';',
     "bad_delete"),
    ('update "S"."T" set "A" = \'a = b\' where "A" = \'o\''
     " and ROWID = 'r';", "bad_update"),
])
def test_reference_crash_shapes_become_labeled_rejects(stmt, label):
    """The three statement shapes that CRASH the reference binary
    (verified against the in-sandbox build while calibrating the fuzz
    alphabet, tests/fuzzgen.py:31-39) are labeled rejects here: the
    oracle (pure-Python reference restatement) raises, the kernel
    flags — the distributed job never dies on one bad row."""
    rec = f"{stmt}\nAAAr {TS}"
    with pytest.raises(Exception):
        oracle.parse_records([rec], CFG)
    got = parse_record_batch(pd.Series([rec]), CFG.ts_format_java)
    assert got.iloc[0]["parse_error"] == label
