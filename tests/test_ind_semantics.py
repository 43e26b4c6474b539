"""Documented divergence boundary: IND latching semantics.

The reference computes inclusion dependencies eagerly after every entry
and only ADDS a pair when one of its TABLES was created in that very
step (SchemaDeriver.scala:69-93 — previousSchema is a shallow clone, so
the column-level clauses of the gate are vacuous; round-4 discovery,
pinned against the binary below). An inclusion that becomes true LATER,
when both tables already exist, is never added — including every pair
involving a column born into an existing table. This engine defaults to
FINAL-STATE inclusion (SURVEY.md §1.3.4, §7.2) and, since round 2, also
offers ind_mode='eager' (schema_discovery.latched_pairs) that reproduces
the latched fold exactly — including on redo_log.txt, where the two
definitions genuinely differ by two pairs and the reference's own
database_state.txt FK annotations match EAGER (see
test_eager_vs_final_on_reference_artifact). These tests pin both
semantics on the divergence boundary so the choice is explicit, not
accidental."""

import pandas as pd
from datetime import datetime, timedelta

from redo_log_parser_spark.functions.parse import parse_documents
from redo_log_parser_spark.operators.rowid import uniquify_row_ids
from redo_log_parser_spark.operators.schema_discovery import (
    discover_schema, summarize_schema)


def _docs(spark, stmts):
    """stmts: (statement, rid) or (statement, rid, 'dd-MMM-yyyy
    HH:mm:ss'); without a timestamp, statement i is logged i seconds
    after 01-JAN-2020."""
    t0 = datetime(2020, 1, 1)
    rows = []
    for i, (stmt, rid, *stamp) in enumerate(stmts):
        ts = t0 + timedelta(seconds=i)
        tss = stamp[0] if stamp else ts.strftime("%d-%b-%Y %H:%M:%S").upper()
        rows.append({
            "url": f"https://x/{i:06d}", "warc_ts": ts,
            "text": f"{stmt}\n{rid} {tss}", "lang": "en",
        })
    return spark.createDataFrame(pd.DataFrame(rows))


def _ind_set(events, mode="final"):
    """The schema's IND pairs under `mode`, as summarize_schema
    assembles them."""
    schema = summarize_schema(*discover_schema(events, ind_mode=mode))
    return {
        (i["table_id"], i["col"], i["ref_table"], i["ref_col"])
        for i in schema.inds
    }


def test_late_inclusion_is_reported_final_state(spark):
    """T1.A = {x}; T2.B grows to {y, x} only AFTER both columns exist.
    Reference (eager latch): A ⊄ B forever. This engine: final-state
    A ⊆ B — the documented, deliberate semantics."""
    stmts = [
        ('insert into "S"."T1"("A") values (\'x\');', "R1"),
        ('insert into "S"."T2"("B") values (\'y\');', "S1"),
        ('insert into "S"."T2"("B") values (\'x\');', "S2"),  # late inclusion
    ]
    got = _ind_set(uniquify_row_ids(parse_documents(_docs(spark, stmts))))
    assert ('"S"."T1"', "A", '"S"."T2"', "B") in got  # final-state semantics


def test_broken_inclusion_is_dropped_like_reference(spark):
    """An inclusion that held early but breaks later is reported by
    NEITHER definition: the reference drops pairs that stop holding
    (similarColumns filter), and final-state never saw them hold."""
    stmts = [
        ('insert into "S"."T1"("A") values (\'x\');', "R1"),
        ('insert into "S"."T2"("B") values (\'x\');', "S1"),  # A ⊆ B here
        ('insert into "S"."T1"("A") values (\'z\');', "R2"),  # breaks it
    ]
    got = _ind_set(uniquify_row_ids(parse_documents(_docs(spark, stmts))))
    assert ('"S"."T1"', "A", '"S"."T2"', "B") not in got
    # the reverse still holds in both definitions: B={x} ⊆ A={x,z}
    assert ('"S"."T2"', "B", '"S"."T1"', "A") in got


def _inds(spark, stmts, mode):
    return _ind_set(uniquify_row_ids(parse_documents(_docs(spark, stmts))), mode)


def test_eager_mode_latches_like_reference(spark):
    """ind_mode='eager' reproduces SchemaDeriver.scala:69-93 on the exact
    divergence boundary: a late inclusion (true only after both columns
    exist) is NEVER added; an inclusion true at pair birth that keeps
    holding IS."""
    late = [
        ('insert into "S"."T1"("A") values (\'x\');', "R1"),
        ('insert into "S"."T2"("B") values (\'y\');', "S1"),
        ('insert into "S"."T2"("B") values (\'x\');', "S2"),  # late inclusion
    ]
    assert ('"S"."T1"', "A", '"S"."T2"', "B") not in _inds(spark, late, "eager")
    assert ('"S"."T1"', "A", '"S"."T2"', "B") in _inds(spark, late, "final")

    born_good = [
        ('insert into "S"."T2"("B") values (\'x\');', "S1"),
        ('insert into "S"."T1"("A") values (\'x\');', "R1"),  # birth: A⊆B holds
        ('insert into "S"."T2"("B") values (\'y\');', "S2"),  # still holds
    ]
    assert ('"S"."T1"', "A", '"S"."T2"', "B") in _inds(spark, born_good, "eager")


def test_eager_gate_is_table_birth_not_column_birth(spark):
    """Round-4 discovery, pinned against the in-sandbox binary:
    previousSchema is a SHALLOW clone (SchemaExtractor.scala:28), so the
    column-level `previousSchema(t).columns.contains` clauses of the
    add-gate see post-mutation state and are vacuous — only TABLE birth
    opens the gate. A column born into an EXISTING table by a later
    update never gains FK targets and is never gained as one, even when
    inclusion holds from its creation onward."""
    stmts = [
        ('insert into "S"."A2"("ID") values (\'1\');', "R1"),
        ('insert into "S"."B2"("K") values (\'1\');', "S1"),
        # NEW born into existing A2; NEW={1} ⊆ B2.K={1} holds from birth
        ('update "S"."A2" set "NEW" = \'1\' where "NEW" = \'0\''
         " and ROWID = 'R1';", "R1"),
    ]
    eager = _inds(spark, stmts, "eager")
    final = _inds(spark, stmts, "final")
    # the late column appears in neither direction under eager
    assert ('"S"."A2"', "NEW", '"S"."B2"', "K") not in eager
    assert ('"S"."B2"', "K", '"S"."A2"', "NEW") not in eager
    # but both table-birth pairs survive
    assert ('"S"."A2"', "ID", '"S"."B2"', "K") in eager
    assert ('"S"."B2"', "K", '"S"."A2"', "ID") in eager
    # final-state semantics do report the late column's inclusions
    assert ('"S"."A2"', "NEW", '"S"."B2"', "K") in final


def test_eager_gate_orders_a_null_url_first(spark):
    """The gate compares log positions (ts, url) on the driver. Two
    tables born in the same second, one from a document without a url:
    the null url sorts first, as in Spark, instead of failing the
    comparison; the late column NEW still gains nothing."""
    t0 = datetime(2020, 1, 1)
    docs = spark.createDataFrame(pd.DataFrame([
        (None, t0, 'insert into "S"."A"("ID") values (\'1\');\n'
         "R1 01-JAN-2020 00:00:00"),
        ("u1", t0, 'insert into "S"."B"("K") values (\'1\');\n'
         "S1 01-JAN-2020 00:00:00"),
        ("u2", t0 + timedelta(seconds=1),
         'update "S"."A" set "NEW" = \'1\' where "NEW" = \'0\''
         " and ROWID = 'R1';\nR1 01-JAN-2020 00:00:01"),
    ], columns=["url", "warc_ts", "text"]).assign(lang="en"),
        "url string, warc_ts timestamp, text string, lang string")
    events = uniquify_row_ids(parse_documents(docs))
    assert _ind_set(events, "eager") == {
        ('"S"."A"', "ID", '"S"."B"', "K"), ('"S"."B"', "K", '"S"."A"', "ID")}


def test_eager_gate_table_birth_matches_binary(spark, tmp_path):
    """The same three probe logs that pinned the gate, replayed through
    the ACTUAL reference binary (skips without the toolchain): our
    eager console dump must match the binary's line sets on logs with
    late-born columns, break-then-hold, and late columns in the new
    table."""
    import pytest
    from refbin import ensure_reference_build, run_reference, parse_schema_dump

    try:
        cp = ensure_reference_build()
    except RuntimeError as e:
        pytest.skip(f"reference build failed: {e}")
    if cp is None:
        pytest.skip("Scala toolchain unavailable")

    ts = lambda i: f"21-JUL-2020 16:29:{41 + i:02d}"  # noqa: E731
    logs = {
        "late_col": [
            ('insert into "S"."A"("ID") values (\'1\');', "AAAROWIDAAAAAAAA01"),
            ('insert into "S"."B"("K") values (\'1\');', "AAAROWIDAAAAAAAB01"),
            ('update "S"."A" set "NEW" = \'1\' where "NEW" = \'0\''
             " and ROWID = 'AAAROWIDAAAAAAAA01';", "AAAROWIDAAAAAAAA01"),
        ],
        "break_then_hold": [
            ('insert into "S"."A"("ID") values (\'1\');', "AAAROWIDAAAAAAAA01"),
            ('insert into "S"."B"("K") values (\'1\');', "AAAROWIDAAAAAAAB01"),
            ('insert into "S"."B"("K") values (\'2\');', "AAAROWIDAAAAAAAB02"),
            ('insert into "S"."A"("ID") values (\'2\');', "AAAROWIDAAAAAAAA02"),
        ],
        "late_col_new_table": [
            ('insert into "S"."A"("ID") values (\'1\');', "AAAROWIDAAAAAAAA01"),
            ('insert into "S"."B"("K") values (\'1\');', "AAAROWIDAAAAAAAB01"),
            ('update "S"."B" set "K2" = \'1\' where "K2" = \'0\''
             " and ROWID = 'AAAROWIDAAAAAAAB01';", "AAAROWIDAAAAAAAB01"),
        ],
    }
    from redo_log_parser_spark.sources.logfile import read_log_files

    for name, stmts in logs.items():
        lines = []
        for i, (stmt, rid) in enumerate(stmts):
            lines += [stmt, f"{rid} {ts(i)}".ljust(80), ""]
        log = str(tmp_path / f"{name}.log")
        open(log, "w").write("\n".join(lines) + "\n")
        ref_dump, _ = run_reference(log, "-", str(tmp_path / f"{name}.xes"))
        events = uniquify_row_ids(parse_documents(read_log_files(spark, log)))
        ours = summarize_schema(
            *discover_schema(events, ind_mode="eager")).format_console()
        a, b = parse_schema_dump(ref_dump), parse_schema_dump(ours)
        assert a == b, (name, a, b)


def test_eager_mode_drops_transient_violation_even_if_final_holds(spark):
    """Held at birth, broken mid-log, repaired by a delete: the reference
    removed the pair at the violation and never re-adds (both columns
    already exist) — final-state would report it."""
    stmts = [
        ('insert into "S"."T2"("B") values (\'x\');', "S1"),
        ('insert into "S"."T1"("A") values (\'x\');', "R1"),   # birth: holds
        ('insert into "S"."T1"("A") values (\'z\');', "R2"),   # violation
        ('delete from "S"."T1" where "A" = \'z\' and ROWID = \'R2\';', "R2"),
    ]
    key = ('"S"."T1"', "A", '"S"."T2"', "B")
    assert key in _inds(spark, stmts, "final")   # final state: A={x} ⊆ B
    assert key not in _inds(spark, stmts, "eager")


def test_eager_mode_delete_breaks_target_side(spark):
    """Deleting the only B row holding v while A still holds v is a
    violation AT the delete step (B-interval end inside a live
    A-interval)."""
    stmts = [
        ('insert into "S"."T2"("B") values (\'x\');', "S1"),
        ('insert into "S"."T1"("A") values (\'x\');', "R1"),   # birth: holds
        ('delete from "S"."T2" where "B" = \'x\' and ROWID = \'S1\';', "S1"),
        ('insert into "S"."T2"("B") values (\'x\');', "S2"),   # repaired late
    ]
    key = ('"S"."T1"', "A", '"S"."T2"', "B")
    assert key in _inds(spark, stmts, "final")
    assert key not in _inds(spark, stmts, "eager")


def test_eager_mode_violation_after_31_dec_9999_midnight(spark):
    """B.K is off 'x' from 31-DEC-9999 06:00 to 08:00 while A.REF holds
    'x' to the end of the log: A.REF ⊆ B.K breaks at 06:00 and never
    re-adds. An A-interval that never closes is covered only by
    B-intervals that reach the end of the log."""
    from redo_log_parser_spark import oracle

    stmts = [
        ('insert into "S"."B"("K") values (\'x\');', "S1",
         "30-DEC-9999 00:00:00"),
        ('insert into "S"."A"("REF") values (\'x\');', "R1",
         "30-DEC-9999 01:00:00"),
        ('update "S"."B" set "K" = \'y\' where "K" = \'x\' and ROWID = \'S1\';',
         "S1", "31-DEC-9999 06:00:00"),
        ('update "S"."B" set "K" = \'x\' where "K" = \'y\' and ROWID = \'S1\';',
         "S1", "31-DEC-9999 08:00:00"),
    ]
    got = _inds(spark, stmts, "eager")
    want = oracle.eager_inds_replay(oracle.uniquify_row_ids(
        oracle.parse_records([f"{s}\n{rid} {ts}" for s, rid, ts in stmts])))
    assert got == want
    assert ('"S"."A"', "REF", '"S"."B"', "K") not in got
    assert ('"S"."A"', "REF", '"S"."B"', "K") in _inds(spark, stmts, "final")


def test_eager_vs_final_on_reference_artifact(spark):
    """On redo_log.txt the two definitions differ by EXACTLY two pairs —
    and the reference's own database_state.txt sides with eager: it
    annotates FK only on ORDERS.USER_ID and INVOICES.ORDER_ID, never on
    ORDERS.ID. Final-state additionally reports ORDERS.ID ⊆ INVOICES.ID
    / INVOICES.ORDER_ID because late order deletes shrink ORDERS until
    inclusion holds at the end, while the eager fold evaluated the pair
    at INVOICES' creation (where it did NOT hold) and never re-adds.
    Eager is therefore the higher-fidelity mode on the artifact; both
    keep the ground-truth FK pairs."""
    from redo_log_parser_spark.sources.logfile import read_log_files

    docs = read_log_files(spark, "/root/reference/artifacts/redo_log.txt")
    events = uniquify_row_ids(parse_documents(docs, keep_cols=("url",))).cache()
    eager, final = _ind_set(events, "eager"), _ind_set(events, "final")
    assert eager <= final  # the final evaluation IS the final state
    assert final - eager == {
        ('"SYSTEM"."ORDERS"', "ID", '"SYSTEM"."INVOICES"', "ID"),
        ('"SYSTEM"."ORDERS"', "ID", '"SYSTEM"."INVOICES"', "ORDER_ID"),
    }
    # ground-truth FK pairs (database_state.txt) survive in BOTH modes
    for s in (eager, final):
        assert ('"SYSTEM"."ORDERS"', "USER_ID", '"SYSTEM"."USERS"', "ID") in s
        assert ('"SYSTEM"."INVOICES"', "ORDER_ID", '"SYSTEM"."ORDERS"', "ID") in s


def test_eager_vs_final_on_evaluation_artifact(spark):
    """The second shipped artifact (8.5k-entry evaluation_log.txt,
    SAMPLEDB schema): pin the eager/final relationship there too —
    eager ⊆ final always; any difference is asserted explicitly so the
    boundary is never silent."""
    from redo_log_parser_spark.config import PipelineConfig
    from redo_log_parser_spark.sources.logfile import read_log_files

    cfg = PipelineConfig(ts_format_java="yyyy-MM-dd HH:mm:ss")
    docs = read_log_files(spark, "/root/reference/artifacts/evaluation_log.txt")
    events = uniquify_row_ids(parse_documents(docs, cfg, keep_cols=("url",))).cache()
    eager, final = _ind_set(events, "eager"), _ind_set(events, "final")
    assert eager <= final
    # Ground truth = oracle.eager_inds_replay, the set-level replay of
    # the reference loop (validated against the actual binary on probe
    # and fuzz logs — the binary itself cannot run this 8.5k-entry log
    # through its per-entry O(tables!) permutation walk in sane time).
    # Round 4 shrank eager from 7 to 4 pairs: TICKET.BELONGS_TO /
    # TICKET.FOR_CONCERT / TICKET.PRICE are LATE-BORN columns (updates
    # on existing TICKET rows), and the table-birth gate never admits
    # them — the old column-birth model was a real divergence.
    from redo_log_parser_spark import oracle

    cfg_o = PipelineConfig(ts_format_java="yyyy-MM-dd HH:mm:ss")
    lines = open(
        "/root/reference/artifacts/evaluation_log.txt", encoding="utf-8"
    ).read().splitlines()
    replay = oracle.eager_inds_replay(
        oracle.uniquify_row_ids(oracle.parse_log_lines(lines, cfg_o)))
    assert eager == replay
    assert eager == {
        ('"SAMPLEDB"."BAND_PLAYING"', "BAND_ID",
         '"SAMPLEDB"."BAND"', "BAND_ID"),
        ('"SAMPLEDB"."BAND_PLAYING"', "CONCERT_ID",
         '"SAMPLEDB"."CONCERT"', "CONCERT_ID"),
        ('"SAMPLEDB"."BOOKING"', "CUSTOMER_ID",
         '"SAMPLEDB"."CUSTOMER"', "CUSTOMER_ID"),
        ('"SAMPLEDB"."HALL"', "HALL_ID", '"SAMPLEDB"."SEAT"', "HALL_ID"),
    }
    assert len(final - eager) == 8, sorted(final - eager)


def test_eager_mode_matches_pure_python_replay_on_fuzz_logs(spark):
    """ind_mode='eager' ≡ oracle.eager_inds_replay on random fuzz logs
    (the new generator plants LATE-born columns, the exact shape the
    table-birth gate rejects). The replay itself is binary-validated in
    the diff-fuzz suite; this test needs no Scala toolchain."""
    from fuzzgen import fuzz_records, records_to_documents
    from redo_log_parser_spark import oracle
    from redo_log_parser_spark.fixtures import _fmt_ts

    # seeds 17 and 311 each hold a delete-created empty column
    for seed in (17, 311, 422, 533):
        records, _tables = fuzz_records(seed)
        docs = spark.createDataFrame(records_to_documents(records))
        got = _ind_set(uniquify_row_ids(parse_documents(docs)), "eager")
        entries = oracle.uniquify_row_ids(oracle.parse_records(
            [f"{s.statement}\n{s.row_id} {_fmt_ts(ts)}"
             for s, ts in records]))
        want = oracle.eager_inds_replay(entries)
        assert got == want, (seed, sorted(got ^ want))


def test_eager_mode_seamless_rewrite_is_not_a_violation(spark):
    """Updating B's value x to x again splits B's interval for x at the
    rewrite step: [s,t) + [t,∞). The half-open chain rule must treat the
    touching intervals as contiguous coverage — no phantom violation at
    step t."""
    stmts = [
        ('insert into "S"."T2"("B") values (\'x\');', "S1"),
        ('insert into "S"."T1"("A") values (\'x\');', "R1"),   # birth: holds
        ('update "S"."T2" set "B" = \'x\' where "B" = \'x\' and ROWID = \'S1\';', "S1"),
        ('insert into "S"."T2"("B") values (\'y\');', "S2"),   # unrelated
    ]
    key = ('"S"."T1"', "A", '"S"."T2"', "B")
    assert key in _inds(spark, stmts, "eager")
    assert key in _inds(spark, stmts, "final")


def test_duplicate_insert_columns_collapse_last_wins(spark):
    """One insert listing a column twice folds through the reference's
    mutable.HashMap (FileParser.scala:100-104): only the LAST value
    exists. The phantom first value must not appear in current values,
    must not break PK uniqueness, and must not satisfy an inclusion."""
    from redo_log_parser_spark.operators.schema_discovery import (
        column_writes, current_values)
    from redo_log_parser_spark.operators.traces import first_insert_values

    stmts = [
        # T.B is written 'x' then 'y' IN ONE STATEMENT -> only 'y' exists
        ('insert into "S"."T"("ID","B","B") values (\'1\',\'x\',\'y\');',
         "R1"),
        ('insert into "S"."T"("ID","B") values (\'2\',\'z\');', "R2"),
        # probe: P.A = {x} — included in T.B ONLY if the phantom x exists
        ('insert into "S"."P"("A") values (\'x\');', "P1"),
        # probe: Q.C = {y, z} — included in T.B iff collapse kept y
        ('insert into "S"."Q"("C") values (\'y\');', "Q1"),
        ('insert into "S"."Q"("C") values (\'z\');', "Q2"),
    ]
    events = uniquify_row_ids(parse_documents(_docs(spark, stmts)))
    writes = column_writes(events)
    cur = {
        (r["table_id"], r["col"], r["row_id"]): r["value"]
        for r in current_values(writes).collect()
    }
    assert cur[('"S"."T"', "B", "R1")] == "y"
    # exactly ONE write row for the duplicated column
    assert writes.filter(
        "table_id = '\"S\".\"T\"' and col = 'B' and row_id = 'R1'"
    ).count() == 1
    fi = {
        (r["col"], r["row_id"]): r["value"]
        for r in first_insert_values(events)
        .filter("table_id = '\"S\".\"T\"'").collect()
    }
    assert fi[("B", "R1")] == "y" and ("B", "R1") in fi
    got = _ind_set(events)
    assert ('"S"."Q"', "C", '"S"."T"', "B") in got     # {y,z} ⊆ {y,z}
    assert ('"S"."P"', "A", '"S"."T"', "B") not in got  # x is phantom
