"""Golden end-to-end on the REFERENCE'S OWN artifact log: the schema
discovered from artifacts/redo_log.txt must match the annotated ground
truth in artifacts/database_state.txt ('ID (PK)' on every table,
ORDERS.USER_ID and INVOICES.ORDER_ID marked FK — lines 2, 54, 87)."""

import pytest
from pyspark.sql import functions as F

from redo_log_parser_spark.functions.parse import parse_documents
from redo_log_parser_spark.operators.rowid import uniquify_row_ids
from redo_log_parser_spark.operators.schema_discovery import (
    discover_schema, summarize_schema)
from redo_log_parser_spark.operators.traces import (
    assign_entries, collect_traces, entity_edges, propagate_cases, root_cases)
from redo_log_parser_spark.functions.xes import with_xes_columns
from redo_log_parser_spark.sources.logfile import read_log_files

T_USERS = '"SYSTEM"."USERS"'
T_ORDERS = '"SYSTEM"."ORDERS"'
T_INVOICES = '"SYSTEM"."INVOICES"'


@pytest.fixture(scope="module")
def ref_events(spark):
    docs = read_log_files(spark, "/root/reference/artifacts/redo_log.txt")
    parsed = parse_documents(docs, keep_cols=("url",))
    return uniquify_row_ids(parsed).cache()


@pytest.fixture(scope="module")
def ref_schema(ref_events):
    return summarize_schema(*discover_schema(ref_events))


def test_reference_schema_ground_truth(ref_schema):
    assert set(ref_schema.tables) == {T_USERS, T_ORDERS, T_INVOICES}
    pks = ref_schema.pk_candidates()
    # database_state.txt:2,54,87 — ID is PK on every table
    for t in (T_USERS, T_ORDERS, T_INVOICES):
        assert (t, "ID") in pks, t
    # NAME repeats (database_state.txt shows duplicate names) — not PK
    assert (T_USERS, "NAME") not in pks
    # FK ground truth: ORDERS.USER_ID → USERS.ID, INVOICES.ORDER_ID → ORDERS.ID
    fks = set(ref_schema.fk_pairs())
    assert (T_ORDERS, "USER_ID", T_USERS, "ID") in fks
    assert (T_INVOICES, "ORDER_ID", T_ORDERS, "ID") in fks
    # and no FK edges in the reverse (PK → FK) direction for these pairs
    assert (T_USERS, "ID", T_ORDERS, "USER_ID") not in fks


def test_reference_trace_assembly_runs(ref_events, ref_schema):
    """Traces for root=ORDERS over the real artifact: every ORDERS
    entity founds a case; USERS/INVOICES entries join their cases."""
    edges = entity_edges(ref_events, ref_schema)
    roots = root_cases(ref_events, [T_ORDERS], ref_schema.tables)
    assignments = propagate_cases(edges, roots, ref_schema, [T_ORDERS])
    assigned = with_xes_columns(assign_entries(ref_events, assignments))
    traces = collect_traces(assigned)
    n_orders_entities = (
        ref_events.filter(F.col("table_id") == T_ORDERS)
        .select("row_id").distinct().count()
    )
    assert traces.count() == n_orders_entities
    tables_in_traces = {
        r["table_id"]
        for r in assignments.select("table_id").distinct().collect()
    }
    assert tables_in_traces == {T_USERS, T_ORDERS, T_INVOICES}
    # every trace is non-empty and ordered by (ts, url)
    bad = traces.filter(F.size("events") == 0).count()
    assert bad == 0


def test_console_dump_matches_real_reference_output(spark):
    """format_console vs the ACTUAL reference binary's console schema
    dump on artifacts/redo_log.txt (tests/fixtures/README.md): same
    tables, and per table the exact same column lines — PK markers,
    trailing-space layout, FK CANDIDATE targets — as line sets (the
    reference emits Scala-HashMap order, format_console sorts;
    documented divergence). Eager IND = the reference's latched fold."""
    import os

    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.operators.rowid import uniquify_row_ids
    from redo_log_parser_spark.operators.schema_discovery import (
        discover_schema, summarize_schema)
    from redo_log_parser_spark.sources.logfile import read_log_files

    docs = read_log_files(spark, "/root/reference/artifacts/redo_log.txt")
    events = uniquify_row_ids(parse_documents(docs))
    dump = summarize_schema(
        *discover_schema(events, ind_mode="eager")).format_console()

    def parse_dump(s):
        tables, cur = {}, None
        for line in s.splitlines():
            if not line.strip():
                continue
            if line.startswith("TABLE "):
                cur = line[6:]
                tables[cur] = set()
            else:
                tables[cur].add(line.rstrip())
        return tables

    ref_path = os.path.join(os.path.dirname(__file__), "fixtures",
                            "reference_redo_log_schema.txt")
    ref, ours = parse_dump(open(ref_path).read()), parse_dump(dump)
    assert set(ref) == set(ours)
    for t in ref:
        assert ref[t] == ours[t], (t, ref[t] ^ ours[t])


def test_strict_console_dump_matches_real_reference_output(spark):
    """--strict fidelity vs the ACTUAL reference binary: the shipped
    increasing-values check is vacuously true (cons-pattern bug,
    tests/fixtures/README.md), so the binary marks every unique,
    PK-named column STRONG. mono_mode='reference' must reproduce its
    strict console dump line-for-line per table; the default log-order
    mode must be STRICTLY more conservative (a subset of STRONG
    markers)."""
    import os

    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.operators.rowid import uniquify_row_ids
    from redo_log_parser_spark.operators.schema_discovery import (
        discover_schema, summarize_schema)
    from redo_log_parser_spark.sources.logfile import read_log_files

    docs = read_log_files(spark, "/root/reference/artifacts/redo_log.txt")
    events = uniquify_row_ids(parse_documents(docs)).cache()

    def parse_dump(s):
        tables, cur = {}, None
        for line in s.splitlines():
            if not line.strip():
                continue
            if line.startswith("TABLE "):
                cur = line[6:]
                tables[cur] = set()
            else:
                tables[cur].add(line.rstrip())
        return tables

    ours = parse_dump(summarize_schema(*discover_schema(
        events, strict=True, ind_mode="eager", mono_mode="reference",
    )).format_console(strict=True))
    ref_path = os.path.join(os.path.dirname(__file__), "fixtures",
                            "reference_redo_log_schema_strict.txt")
    ref = parse_dump(open(ref_path).read())
    assert set(ref) == set(ours)
    for t in ref:
        assert ref[t] == ours[t], (t, ref[t] ^ ours[t])

    # default log-order mode: strictly fewer STRONG markers (the IDs are
    # inserted in increasing order per entity but interleaved per log
    # order across rows — the real signal is more conservative)
    schema_log = summarize_schema(*discover_schema(
        events, strict=True, ind_mode="eager", mono_mode="log"))
    strong = lambda d: {  # noqa: E731
        (t, ln) for t, lines in d.items() for ln in lines if "STRONG" in ln
    }
    ours_log = parse_dump(
        schema_log.format_console(strict=True))
    assert strong(ours_log) <= strong(ours)


def test_updvals_xes_bytes_match_real_reference_output(spark, tmp_path):
    """--includeUpdateValues byte parity against the real binary's .xes
    (same protocol as the base golden: header/footer byte-equal, trace
    blocks byte-identical as multisets)."""
    import os
    import re

    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.functions.xes import trace_xml_pretty
    from redo_log_parser_spark.operators.rowid import uniquify_row_ids
    from redo_log_parser_spark.operators.schema_discovery import (
        discover_schema, summarize_schema)
    from redo_log_parser_spark.pipeline import build_traces_df
    from redo_log_parser_spark.sinks.xes import write_xes_document
    from redo_log_parser_spark.sources.logfile import read_log_files

    docs = read_log_files(spark, "/root/reference/artifacts/redo_log.txt")
    events = uniquify_row_ids(parse_documents(docs)).cache()
    schema = summarize_schema(*discover_schema(events, ind_mode="eager"))
    traces = build_traces_df(
        events, schema, ['"SYSTEM"."ORDERS"'], include_update_values=True)
    path = str(tmp_path / "got.xes")
    write_xes_document(
        trace_xml_pretty(traces), path, '"SYSTEM"."ORDERS"')
    got = open(path).read()
    ref = open(
        os.path.join(os.path.dirname(__file__), "fixtures",
                     "reference_redo_log_ORDERS_updvals_result.xes")
    ).read()
    blocks = lambda s: re.findall(r"[ ]*<trace>.*?</trace>", s, re.S)  # noqa: E731
    assert got[:got.index("<trace>") - 2] == ref[:ref.index("<trace>") - 2]
    assert got[got.rindex("</trace>"):] == ref[ref.rindex("</trace>"):]
    assert sorted(blocks(got)) == sorted(blocks(ref))
    assert "entity to " in got  # update values actually present
