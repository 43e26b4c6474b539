"""Parse-kernel parity: the vectorized pandas kernel must produce
byte-identical extractions vs the pure-Python oracle (which restates
FileParser.scala:19-155 exactly), including the reference quirks."""

import pandas as pd
import pytest

from redo_log_parser_spark import oracle
from redo_log_parser_spark.config import PipelineConfig
from redo_log_parser_spark.fixtures import mini_log_documents, mini_log_lines
from redo_log_parser_spark.functions.parse import parse_record_batch, parse_documents

CFG = PipelineConfig()

EDGE_RECORDS = [
    # NULL quirk: bare NULL token strips to "UL" (SURVEY.md §1.3 item 2)
    'insert into "SAMPLEDB"."CONCERT"("CONCERT_ID","HALL_ID") values (\'1277\',NULL);\n'
    "AAAE8JAAEAAAAPkAAA 21-JUL-2020 16:29:41",
    # multi-predicate delete incl. ROWID clause, unquoted key kept
    'delete from "SYSTEM"."ORDERS" where "ID" = \'5\' and "ST" = \'x\' and ROWID = \'AAC\';\n'
    "AAC 21-JUL-2020 16:29:41",
    # greedy ' = ' inside updated value: reference asserts attr1==attr2 and
    # CRASHES on this input; we must flag parse_error (not mis-parse)
    'update "S"."T" set "A" = \'x = y\' where "A" = \'z\' and ROWID = \'r\';\n'
    "r 21-JUL-2020 16:29:41",
    # symmetric ' = ' that still full-matches with attr1==attr2
    'update "S"."T" set "A" = \'v\' where "A" = \'w\' and ROWID = \'r2\';\n'
    "r2 21-JUL-2020 16:29:41",
    # runs of spaces between rowid and timestamp (FileParser.scala:58)
    'insert into "S"."T"("ID") values (\'9\');\nRID9    21-JUL-2020   16:29:41   ',
    # 1-char quoted value in update old-value position
    'update "S"."T" set "A" = \'ab\' where "A" = \'c\' and ROWID = \'r3\';\n'
    "r3 21-JUL-2020 16:29:41",
    # mixed-case month (formatter is case-insensitive)
    'insert into "S"."T"("ID") values (\'10\');\nRIDa 21-jul-2020 16:29:42',
    # not a DML statement -> unknown type error
    "alter table foo add column bar;\nRID 21-JUL-2020 16:29:41",
]


def kernel(records):
    return parse_record_batch(pd.Series(records), CFG.ts_format_java)


def oracle_rows(records):
    out = []
    for rec in records:
        try:
            es = oracle.parse_records([rec], CFG)
            out.append(es[0])
        except Exception as exc:  # reference would crash here
            out.append(exc)
    return out


def assert_match(records):
    got = kernel(records)
    want = oracle_rows(records)
    for i, w in enumerate(want):
        g = got.iloc[i]
        if isinstance(w, Exception):
            assert g["parse_error"] is not None, (records[i], g)
            continue
        assert g["parse_error"] is None, (records[i], g["parse_error"])
        assert g["op"] == w.op
        assert g["table_id"] == w.table_id
        assert g["row_id"] == w.row_id
        assert g["ts"].to_pydatetime() == w.ts
        if w.op == "insert":
            assert list(g["insert_cols"]) == w.insert_cols
            assert list(g["insert_vals"]) == w.insert_vals
        elif w.op == "update":
            assert g["upd_attr"] == w.upd_attr
            assert g["upd_new"] == w.upd_new
            assert g["upd_old"] == w.upd_old
        else:
            assert list(g["delete_cols"]) == w.delete_cols
            assert list(g["delete_vals"]) == w.delete_vals


def test_edge_records_match_oracle():
    assert_match(EDGE_RECORDS)


def test_null_token_becomes_UL():
    got = kernel([EDGE_RECORDS[0]])
    assert list(got.iloc[0]["insert_vals"]) == ["1277", "UL"]


def test_delete_keeps_rowid_key():
    got = kernel([EDGE_RECORDS[1]])
    assert list(got.iloc[0]["delete_cols"]) == ["ID", "ST", "ROWID"]
    assert list(got.iloc[0]["delete_vals"]) == ["5", "x", "AAC"]


def test_greedy_update_value_flagged_like_reference_crash():
    got = kernel([EDGE_RECORDS[2]])
    assert got.iloc[0]["parse_error"] == "bad_update"


def test_mini_log_full_parity():
    docs = mini_log_documents()
    assert_match(list(docs["text"]))


def test_mini_log_histogram():
    docs = mini_log_documents()
    got = kernel(list(docs["text"]))
    counts = got["op"].value_counts().to_dict()
    assert counts == {"insert": 161, "update": 220, "delete": 52}
    assert got["parse_error"].isna().all()


def test_alternate_timestamp_format():
    cfg = PipelineConfig(ts_format_java="yyyy-MM-dd HH:mm:ss")
    rec = 'insert into "S"."T"("ID") values (\'1\');\nRID 2014-11-27 15:55:34'
    got = parse_record_batch(pd.Series([rec]), cfg.ts_format_java)
    assert got.iloc[0]["parse_error"] is None
    assert str(got.iloc[0]["ts"]) == "2014-11-27 15:55:34"


@pytest.mark.parametrize("pattern, stamp, want", [
    # the reference README's two patterns, a coarser one, and a '%'
    # literal (strptime's escape character)
    ("dd-MMM-yyyy HH:mm:ss", "21-JUL-2020 16:29:41", "2020-07-21 16:29:41"),
    ("yyyy-MM-dd HH:mm:ss", "2020-07-21 16:29:41", "2020-07-21 16:29:41"),
    ("dd-MMM-yyyy HH:mm", "21-jul-2020 16:29", "2020-07-21 16:29:00"),
    ("dd%MMM-yyyy HH:mm:ss", "21%JUL-2020 16:29:41", "2020-07-21 16:29:41"),
    # java.time parses these with directives the compiler does not have
    ("yyyy-MM-dd'T'HH:mm:ss", None, None),
    ("d-MMM-yyyy HH:mm:ss", None, None),
    ("dd-MMM-yy HH:mm:ss", None, None),
    ("dd-MMM-yyyy HH:mm:ss.SSS", None, None),
    ("dd-MMM-yyyy HH:mm:ss[.SSS]", None, None),
    # java.time refuses the pattern ('T' is no pattern letter) ...
    ("yyyy-MM-ddTHH:mm:ss", None, None),
    # ... or builds no LocalDateTime from it; a twice-given field
    ("dd-MMM-yyyy", None, None),
    ("dd-MMM-yyyy HH:ss", None, None),
    ("dd dd-MMM-yyyy HH:mm:ss", None, None),
])
def test_config_compiles_timestamp_pattern(pattern, stamp, want):
    """PipelineConfig compiles --timestamp-pattern up front: a pattern
    the compiler cannot translate raises ValueError instead of
    rejecting every row, and an accepted one parses its stamps in the
    kernel and the oracle alike."""
    if want is None:
        with pytest.raises(ValueError, match="timestamp pattern"):
            PipelineConfig(ts_format_java=pattern)
        return
    cfg = PipelineConfig(ts_format_java=pattern)
    rec = f'insert into "S"."T"("ID") values (\'1\');\nRID {stamp}'
    got = parse_record_batch(pd.Series([rec]), cfg.ts_format_java).iloc[0]
    assert got["parse_error"] is None
    assert str(got["ts"]) == want
    [entry] = oracle.parse_records([rec], cfg)
    assert str(entry.ts) == want

def test_reference_artifact_corpus_parity():
    """Run both implementations over the reference's own shipped logs;
    every extraction must agree byte-for-byte."""
    for path, fmt in [
        ("/root/reference/artifacts/redo_log.txt", "dd-MMM-yyyy HH:mm:ss"),
        ("/root/reference/artifacts/evaluation_log.txt", "yyyy-MM-dd HH:mm:ss"),
    ]:
        cfg = PipelineConfig(ts_format_java=fmt)
        with open(path) as fh:
            lines = fh.read().split("\n")
        chunks = oracle.chunk_lines(lines)
        records = ["\n".join(c) for c in chunks]
        got = parse_record_batch(pd.Series(records), cfg.ts_format_java)
        # row-by-row against the oracle
        for i, chunk in enumerate(chunks):
            stmt, rid, ts = oracle.parse_chunk(chunk, cfg)
            w = oracle.parse_statement(stmt, i, rid, ts)
            g = got.iloc[i]
            assert g["parse_error"] is None, (chunk, g["parse_error"])
            assert g["op"] == w.op and g["table_id"] == w.table_id
            assert g["row_id"] == w.row_id and g["ts"].to_pydatetime() == w.ts
            if w.op == "insert":
                assert list(g["insert_cols"]) == w.insert_cols
                assert list(g["insert_vals"]) == w.insert_vals
            elif w.op == "update":
                assert (g["upd_attr"], g["upd_new"], g["upd_old"]) == (
                    w.upd_attr, w.upd_new, w.upd_old)
            else:
                assert list(g["delete_cols"]) == w.delete_cols
                assert list(g["delete_vals"]) == w.delete_vals


def test_spark_parse_documents_matches_pandas(spark, mini_docs, tmp_path):
    """The Spark plan (pandas UDF over the documents frame) equals the
    local pandas kernel output and routes per-op counts correctly."""
    parsed = parse_documents(mini_docs)
    counts = {r["op"]: r["n"] for r in
              parsed.groupBy("op").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"insert": 161, "update": 220, "delete": 52}

    # column pruning: reading from parquet, the binary html column must be
    # absent from the scan's ReadSchema (SURVEY.md §4.2)
    pq_dir = str(tmp_path / "docs.parquet")
    mini_docs.write.mode("overwrite").parquet(pq_dir)
    parsed_pq = parse_documents(spark.read.parquet(pq_dir))
    plan = parsed_pq._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan
