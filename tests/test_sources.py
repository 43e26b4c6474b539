"""Documents-source robustness: nanosecond-timestamp parquet.

pyarrow writes pandas datetimes as TIMESTAMP(NANOS) by default, which
Spark's parquet reader rejects outright ([PARQUET_TYPE_ILLEGAL]).
read_documents must transparently fall back to the legacy nanos-as-long
read and rebuild warc_ts at micro precision — previously a documented
user-facing footgun (CLAUDE.md known gaps)."""

import datetime

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from redo_log_parser_spark.sources.documents import read_documents


def _write(tmp_path, name, coerce=None):
    df = pd.DataFrame({
        "url": ["https://a.example/1", "https://a.example/2"],
        "warc_ts": pd.to_datetime(
            ["2020-07-21 16:29:41.123456789", "2020-07-21 16:29:42.5"]),
        "html": [b"\x00", b"\x01"],
        "text": ["t1", "t2"],
        "lang": ["en", "de"],
    })
    table = pa.Table.from_pandas(df, preserve_index=False)
    path = str(tmp_path / name)
    kw = (
        {"coerce_timestamps": coerce, "allow_truncated_timestamps": True}
        if coerce else {}
    )
    pq.write_table(table, path, **kw)
    return path


def test_read_documents_nanos_parquet(spark, tmp_path):
    path = _write(tmp_path, "ns.parquet")  # pyarrow default: NANOS
    assert pa.parquet.read_schema(path).field("warc_ts").type == pa.timestamp("ns")
    df = read_documents(spark, path)
    assert dict(df.dtypes)["warc_ts"].startswith("timestamp")
    rows = {r["url"]: r["warc_ts"] for r in df.collect()}
    # ns truncated to µs, value preserved
    assert rows["https://a.example/1"] == datetime.datetime(
        2020, 7, 21, 16, 29, 41, 123456)
    assert rows["https://a.example/2"] == datetime.datetime(
        2020, 7, 21, 16, 29, 42, 500000)


def test_read_documents_micros_parquet_unchanged(spark, tmp_path):
    path = _write(tmp_path, "us.parquet", coerce="us")
    df = read_documents(spark, path)
    assert dict(df.dtypes)["warc_ts"].startswith("timestamp")
    assert df.count() == 2


def test_explode_log_records_pairing_and_order(spark):
    """Reference pairing semantics per text cell (blank lines dropped,
    remaining lines paired; odd orphan -> 1-line record; empty/blank
    cell -> no rows) and the (warc_ts, url) ordering contract."""
    from redo_log_parser_spark.sources.logfile import explode_log_records

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    docs = spark.createDataFrame(
        [
            ("u1", t0, "s1\nR1 TS1\n  \n\ns2\nR2 TS2", "en"),
            ("u2", t0, "\n   \ns3\nR3 TS3\norphan", "en"),
            ("u3", t0, "   \n  ", "en"),
            ("u4", t0, "", "en"),
        ],
        "url string, warc_ts timestamp, text string, lang string",
    )
    rows = explode_log_records(docs).orderBy("warc_ts", "url").collect()
    assert [(r["url"], r["text"]) for r in rows] == [
        ("u1#0000", "s1\nR1 TS1"),
        ("u1#0001", "s2\nR2 TS2"),
        ("u2#0000", "s3\nR3 TS3"),
        ("u2#0001", "orphan"),        # 1-line record -> parse reject
    ]
    # carried columns unchanged
    assert all(r["warc_ts"] == t0 and r["lang"] == "en" for r in rows)


def test_line_terminators_match_getlines(spark, tmp_path):
    """scala.io.Source.getLines treats \\r\\n, lone \\r and \\n all as
    line terminators (probed vs the binary: CRLF and classic-Mac logs
    parse identically — fuzz axis `crlf`). Both the file reader and the
    packed-cell exploder must split on the same set; records handed to
    the parse kernels are rebuilt \\n-delimited."""
    from redo_log_parser_spark.sources.logfile import (
        explode_log_records, read_log_files,
    )

    stmts = [
        'insert into "SYSTEM"."USERS"("ID") values (\'1\');',
        "AAAUSR000000000001 04-JUN-2020 01:00:01",
        'insert into "SYSTEM"."USERS"("ID") values (\'2\');',
        "AAAUSR000000000002 04-JUN-2020 01:00:02",
    ]
    # every terminator adjacency: \r\n, lone \r, \n, and a blank
    # separator rendered as \r\r\n (two terminators to getLines)
    raw = (stmts[0] + "\r\n" + stmts[1] + "\r" + "\r\n"
           + stmts[2] + "\n" + stmts[3] + "\r")
    p = tmp_path / "cr.log"
    p.write_bytes(raw.encode())
    recs = read_log_files(spark, str(p)).orderBy("url").collect()
    assert [r["text"] for r in recs] == [
        stmts[0] + "\n" + stmts[1],
        stmts[2] + "\n" + stmts[3],
    ]

    t0 = datetime.datetime(2024, 1, 1)
    docs = spark.createDataFrame(
        [("u1", t0, raw, "en")],
        "url string, warc_ts timestamp, text string, lang string",
    )
    ex = explode_log_records(docs).orderBy("url").collect()
    assert [r["text"] for r in ex] == [
        stmts[0] + "\n" + stmts[1],
        stmts[2] + "\n" + stmts[3],
    ]


def test_explode_log_records_wide_pad_keeps_order(spark):
    """A cell packing >=10,000 records must keep url-suffix order ==
    record order: the pad widens to the doc's own max-seq width (a
    fixed %04d would sort '#10000' before '#9999'). Small docs keep
    the 4-digit pad ('#0000')."""
    from redo_log_parser_spark.sources.logfile import explode_log_records

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    n = 10_002  # 2-line records -> max seq 10_001, width 5
    big = "\n".join(f"s{i}\nR{i} TS" for i in range(n))
    docs = spark.createDataFrame(
        [("u", t0, big, "en"), ("v", t0, "s\nR TS", "en")],
        "url string, warc_ts timestamp, text string, lang string",
    )
    rows = (
        explode_log_records(docs)
        .filter("url like 'u#%'")
        .orderBy("warc_ts", "url")
        .select("url", "text")
        .collect()
    )
    assert len(rows) == n
    assert rows[0]["url"] == "u#00000"
    assert rows[9999]["url"] == "u#09999"
    assert rows[10000]["url"] == "u#10000"
    # sorted-by-url order IS record order, across the 9999/10000 seam
    assert [r["text"].split("\n")[0] for r in rows] == [
        f"s{i}" for i in range(n)
    ]
    small = (
        explode_log_records(docs).filter("url like 'v%'").collect()
    )
    assert [r["url"] for r in small] == ["v#0000"]


def test_explode_log_records_packed_fuzz_matches_unpacked(spark):
    """Packed multi-statement text cells (fuzz seed 31, 1-5 records per
    cell with separator noise) exploded and parsed must give one row per
    record, equal to the parse of the one-record-per-doc frame. Urls
    differ by construction (the packed ones carry the '#kkkk' suffix),
    but both sort in statement order, so rows are compared in url order."""
    from fuzzgen import (fuzz_records, records_to_documents,
                         records_to_packed_documents)
    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.sources.logfile import explode_log_records

    records, _ = fuzz_records(seed=31)
    cols = ["op", "table_id", "row_id", "ts", "statement", "parse_error"]

    def parsed_rows(docs):
        return [tuple(r)[1:] for r in docs.select("url", *cols)
                .orderBy("url").collect()]

    packed = parsed_rows(parse_documents(explode_log_records(
        spark.createDataFrame(records_to_packed_documents(records, seed=31)))))
    single = parsed_rows(parse_documents(
        spark.createDataFrame(records_to_documents(records))))
    assert len(packed) == len(records)
    assert packed == single
