"""A1-A8 — schema discovery must match the oracle's eager fold on the
mini-log and on adversarial prefix-duplicate scenarios."""

import pandas as pd
from datetime import datetime, timedelta

from redo_log_parser_spark import oracle
from redo_log_parser_spark.functions.parse import parse_documents
from redo_log_parser_spark.operators.rowid import uniquify_row_ids
from redo_log_parser_spark.operators.schema_discovery import (
    current_values,
    column_writes,
    discover_schema,
    summarize_schema,
)


def _spark_events(spark, pdf):
    return uniquify_row_ids(parse_documents(spark.createDataFrame(pdf)))


def _oracle_schema(pdf, strict=False):
    entries = oracle.uniquify_row_ids(oracle.parse_records(list(pdf["text"])))
    return entries, oracle.extract_schema(entries, strict)


def test_mini_log_schema_matches_oracle(spark, mini_docs, mini_docs_pdf):
    events = _spark_events(spark, mini_docs_pdf)
    summary = summarize_schema(*discover_schema(events))

    _, want = _oracle_schema(mini_docs_pdf)
    want_cols = {
        (t, c.name): (c.can_be_pk, c.values_increasing, c.name_like_pk())
        for t, tbl in want.items()
        for c in tbl.values()
    }
    got_cols = {
        (r["table_id"], r["col"]): (
            r["can_be_pk"], r["values_increasing"], r["name_like_pk"])
        for r in summary.columns
    }
    assert got_cols == want_cols

    want_ind = {
        (t, c.name, rt, rc)
        for t, tbl in want.items()
        for c in tbl.values()
        for rt, rc in c.is_subset_of
    }
    got_ind = {
        (i["table_id"], i["col"], i["ref_table"], i["ref_col"])
        for i in summary.inds
    }
    assert got_ind == want_ind

    # expected ground truth (FIXTURES.md §1): ID is PK everywhere,
    # ORDERS.USER_ID -> USERS.ID, INVOICES.ORDER_ID -> ORDERS.ID
    pks = summary.pk_candidates()
    for t in ['"SYSTEM"."USERS"', '"SYSTEM"."ORDERS"', '"SYSTEM"."INVOICES"']:
        assert (t, "ID") in pks
    fk = set(summary.fk_pairs())
    assert ('"SYSTEM"."ORDERS"', "USER_ID", '"SYSTEM"."USERS"', "ID") in fk
    assert ('"SYSTEM"."INVOICES"', "ORDER_ID", '"SYSTEM"."ORDERS"', "ID") in fk


def test_mini_log_current_values_match_oracle(spark, mini_docs, mini_docs_pdf):
    events = _spark_events(spark, mini_docs_pdf)
    got = {
        (r["table_id"], r["col"], r["row_id"]): r["value"]
        for r in current_values(column_writes(events)).collect()
    }
    _, want_schema = _oracle_schema(mini_docs_pdf)
    want = {
        (t, c.name, rid): v
        for t, tbl in want_schema.items()
        for c in tbl.values()
        for rid, v in c.values.items()
    }
    assert got == want


def _docs_from_stmts(rows):
    """rows: (statement, rid) or (statement, rid, 'dd-MMM-yyyy HH:mm:ss');
    without a timestamp, row i is logged i seconds after 01-JAN-2020."""
    out = []
    t0 = datetime(2020, 1, 1)
    for i, (stmt, rid, *stamp) in enumerate(rows):
        ts = t0 + timedelta(seconds=i)
        tss = stamp[0] if stamp else ts.strftime("%d-%b-%Y %H:%M:%S").upper()
        out.append(
            {
                "url": f"https://x/{i:06d}",
                "warc_ts": ts,
                "text": f"{stmt}\n{rid} {tss}",
                "lang": "en",
            }
        )
    return pd.DataFrame(out)


def test_sticky_transient_duplicate(spark):
    """A value duplicated at a prefix then fixed by an update must still
    disqualify the column (Column.scala:79-84 sticky semantics) even
    though final-state values are unique."""
    rows = [
        ('insert into "S"."T"("ID") values (\'1\');', "A"),
        ('insert into "S"."T"("ID") values (\'1\');', "B"),  # transient dup
        ('update "S"."T" set "ID" = \'2\' where "ID" = \'1\' and ROWID = \'B\';', "B"),
    ]
    pdf = _docs_from_stmts(rows)
    events = _spark_events(spark, pdf)
    cols_df = discover_schema(events)[0]
    got = {r["col"]: r["can_be_pk"] for r in cols_df.collect()}
    assert got["ID"] is False

    _, want = _oracle_schema(pdf)
    assert want['"S"."T"']["ID"].can_be_pk is False


def test_no_false_positive_from_sequential_reuse(spark):
    """Same value held by different rows at DIFFERENT times (no overlap)
    is NOT a duplicate — e.g. row A changes away from 'x' before row B
    takes 'x'."""
    rows = [
        ('insert into "S"."T"("ID") values (\'x\');', "A"),
        ('update "S"."T" set "ID" = \'y\' where "ID" = \'x\' and ROWID = \'A\';', "A"),
        ('insert into "S"."T"("ID") values (\'x\');', "B"),
        ('update "S"."T" set "ID" = \'z\' where "ID" = \'x\' and ROWID = \'B\';', "B"),
    ]
    pdf = _docs_from_stmts(rows)
    events = _spark_events(spark, pdf)
    cols_df = discover_schema(events)[0]
    got = {r["col"]: r["can_be_pk"] for r in cols_df.collect()}
    assert got["ID"] is True
    _, want = _oracle_schema(pdf)
    assert want['"S"."T"']["ID"].can_be_pk is True


def test_overlap_with_interval_open_past_31_dec_9999_midnight(spark):
    """A value still held at the end of the log overlaps every later
    holder, also one that starts after 31-DEC-9999 00:00: the parser
    accepts any time on that day, so no timestamp can stand for "never
    closes"."""
    rows = [
        ('insert into "S"."T"("ID","NAME") values (\'1\',\'x\');', "A",
         "30-DEC-9999 00:00:00"),
        ('insert into "S"."T"("ID","NAME") values (\'2\',\'x\');', "B",
         "31-DEC-9999 12:00:00"),
    ]
    pdf = _docs_from_stmts(rows)
    cols_df = discover_schema(_spark_events(spark, pdf))[0]
    got = {r["col"]: r["can_be_pk"] for r in cols_df.collect()}
    _, want = _oracle_schema(pdf)
    assert got == {c: col.can_be_pk for c, col in want['"S"."T"'].items()}
    assert got == {"ID": True, "NAME": False}


def test_delete_created_empty_column_subset_of_everything(spark):
    """A delete on a never-seen column creates an empty column
    (SchemaExtractor.scala:130-137); empty ⊆ every other-table column.
    Under ind_mode='eager' the table-birth gate still applies: A.GHOST,
    born into an existing table after B's birth, gains nothing from B,
    while C.GHOST, born with its table, is ⊆ every column of A and B;
    the eager set equals the oracle's replay of the latched fold."""
    rows = [
        ('insert into "S"."A"("ID") values (\'1\');', "A1"),
        ('insert into "S"."B"("ID") values (\'9\');', "B1"),
        ('delete from "S"."A" where "GHOST" = \'g\' and ROWID = \'A2\';', "A2"),
        ('delete from "S"."C" where "GHOST" = \'g\' and ROWID = \'C1\';', "C1"),
    ]
    pdf = _docs_from_stmts(rows)
    events = _spark_events(spark, pdf)
    got_ind = {
        mode: {
            (i["table_id"], i["col"], i["ref_table"], i["ref_col"])
            for i in summarize_schema(*discover_schema(events, ind_mode=mode)).inds
        }
        for mode in ("final", "eager")
    }
    assert ('"S"."A"', "GHOST", '"S"."B"', "ID") in got_ind["final"]
    entries, want = _oracle_schema(pdf)
    assert ('"S"."B"', "ID") in want['"S"."A"']["GHOST"].is_subset_of
    assert got_ind["eager"] == oracle.eager_inds_replay(entries)
    assert ('"S"."A"', "GHOST", '"S"."B"', "ID") not in got_ind["eager"]
    assert {('"S"."C"', "GHOST", '"S"."A"', "ID"),
            ('"S"."C"', "GHOST", '"S"."B"', "ID")} <= got_ind["eager"]


def test_strict_pk_monotonicity_and_name(spark):
    """--strict: PK additionally needs ever-increasing values and a
    PK-ish name (Column.scala:137-151)."""
    rows = [
        ('insert into "S"."T"("KEY","NAME") values (\'1\',\'b\');', "A"),
        ('insert into "S"."T"("KEY","NAME") values (\'2\',\'a\');', "B"),
        ('insert into "S"."T"("KEY","NAME") values (\'3\',\'c\');', "C"),
    ]
    pdf = _docs_from_stmts(rows)
    events = _spark_events(spark, pdf)
    cols_df = discover_schema(events, strict=True)[0]
    got = {r["col"]: (r["is_pk"], r["values_increasing"]) for r in cols_df.collect()}
    # KEY: unique + increasing + name matches
    assert got["KEY"] == (True, True)
    # NAME: unique but non-increasing ('b','a','c') and name not PK-ish
    assert got["NAME"] == (False, False)


def test_monotonicity_branch_gated_on_rowid_coercion(spark):
    """Column.scala:104-106 coerces BOTH rowID and value with .toDouble:
    numeric values under NON-numeric row ids (every real Oracle ROWID)
    must use the case-insensitive STRING comparison — '10' < '9', so
    9→10 is NOT increasing. The same values under all-numeric row ids
    use the numeric branch and ARE increasing. Oracle restatement must
    agree on both (ADVICE r1 divergence pin)."""
    alpha = _docs_from_stmts([
        ('insert into "S"."M"("ID") values (\'9\');', "AX"),
        ('insert into "S"."M"("ID") values (\'10\');', "BX"),
    ])
    numeric = _docs_from_stmts([
        ('insert into "S"."M"("ID") values (\'9\');', "7"),
        ('insert into "S"."M"("ID") values (\'10\');', "8"),
    ])
    for pdf, want in ((alpha, False), (numeric, True)):
        events = _spark_events(spark, pdf)
        cols_df = discover_schema(events)[0]
        got = {r["col"]: r["values_increasing"] for r in cols_df.collect()}
        assert got["ID"] is want, (want, got)
        _, oracle_schema = _oracle_schema(pdf)
        assert oracle_schema['"S"."M"']["ID"].values_increasing is want


def test_fuzz_log_columns_match_oracle(spark):
    """Both column flags and the PK verdict, lenient and strict, and the
    final-state INDs equal the oracle's per-entry fold on random fuzz
    logs (deletes, updates and ROWID reuse mixed), not only on the
    mini-log. Seeds 17 and 311 each hold a delete-created empty column,
    which is ⊆ every column of another table."""
    from fuzzgen import fuzz_records, records_to_documents
    from redo_log_parser_spark.fixtures import _fmt_ts

    for seed in (17, 311, 422, 533):
        records, _ = fuzz_records(seed)
        events = _spark_events(spark, records_to_documents(records))
        entries = oracle.uniquify_row_ids(oracle.parse_records(
            [f"{s.statement}\n{s.row_id} {_fmt_ts(ts)}" for s, ts in records]))
        want_schema = oracle.extract_schema(entries)
        for strict in (False, True):
            schema = summarize_schema(*discover_schema(events, strict=strict))
            got = {
                (r["table_id"], r["col"]): (
                    r["can_be_pk"], r["values_increasing"], r["is_pk"])
                for r in schema.columns
            }
            want = {
                (t, c.name): (c.can_be_pk, c.values_increasing,
                              c.is_pk_candidate(strict))
                for t, tbl in want_schema.items()
                for c in tbl.values()
            }
            assert got == want, (seed, strict, set(got.items()) ^ set(want.items()))
        got_ind = {
            (i["table_id"], i["col"], i["ref_table"], i["ref_col"])
            for i in schema.inds
        }
        want_ind = {
            (t, c.name, rt, rc)
            for t, tbl in want_schema.items()
            for c in tbl.values()
            for rt, rc in c.is_subset_of
        }
        assert got_ind == want_ind, (seed, sorted(got_ind ^ want_ind))


def test_tombstone_does_not_reset_monotonicity(spark):
    """Writes b, then a delete, then a on one column: the written values
    fell, whatever the delete in between. The log-order comparison steps
    over writes only, so the tombstone's null value must not count as a
    fresh start."""
    rows = [
        ('insert into "S"."T"("NAME") values (\'b\');', "A"),
        ('delete from "S"."T" where "NAME" = \'b\' and ROWID = \'A\';', "A"),
        ('insert into "S"."T"("NAME") values (\'a\');', "B"),
    ]
    pdf = _docs_from_stmts(rows)
    cols_df = discover_schema(_spark_events(spark, pdf))[0]
    got = {r["col"]: r["values_increasing"] for r in cols_df.collect()}
    _, want = _oracle_schema(pdf)
    assert want['"S"."T"']["NAME"].values_increasing is False
    assert got == {"NAME": False}
