"""J1-J3, G3-G4, P8-P10 — trace assembly and XES output must match the
oracle end-to-end on the mini-log for multiple root classes."""

import pytest

from redo_log_parser_spark import oracle
from redo_log_parser_spark.functions.parse import parse_documents
from redo_log_parser_spark.functions.xes import trace_xml, with_xes_columns
from redo_log_parser_spark.operators.rowid import uniquify_row_ids
from redo_log_parser_spark.operators.schema_discovery import (
    discover_schema,
    summarize_schema,
)
from redo_log_parser_spark.operators.traces import (
    assign_entries,
    collect_traces,
    entity_edges,
    propagate_cases,
    root_cases,
)


@pytest.fixture(scope="module")
def spark_events(spark, mini_docs):
    return uniquify_row_ids(parse_documents(mini_docs)).cache()


@pytest.fixture(scope="module")
def oracle_state(mini_docs_pdf):
    entries = oracle.uniquify_row_ids(
        oracle.parse_records(list(mini_docs_pdf["text"]))
    )
    schema = oracle.extract_schema(entries)
    return entries, schema


@pytest.fixture(scope="module")
def spark_schema(spark_events):
    cols_df, ind_df = discover_schema(spark_events)
    return summarize_schema(cols_df, ind_df)


def test_entity_edges_match_oracle(spark_events, spark_schema, oracle_state):
    entries, schema = oracle_state
    want = oracle.entity_edges(entries, schema)
    got = {
        (r["left_table"], r["left_row"], r["right_table"], r["right_row"])
        for r in entity_edges(spark_events, spark_schema).collect()
    }
    assert got == want


@pytest.mark.parametrize("root", ['"SYSTEM"."ORDERS"', '"SYSTEM"."USERS"'])
def test_traces_match_oracle(spark_events, spark_schema, oracle_state, root):
    entries, schema = oracle_state

    edges = entity_edges(spark_events, spark_schema)
    roots = root_cases(spark_events, root, spark_schema.tables)
    assignments = propagate_cases(edges, roots, spark_schema, root)
    assigned = with_xes_columns(assign_entries(spark_events, assignments))
    traces = collect_traces(assigned)
    got = {
        r["case_id"]: [(e["event_name"], e["xes_ts"]) for e in r["events"]]
        for r in traces.collect()
    }

    want_buckets = oracle.build_traces(entries, schema, root)
    # oracle buckets are indexed by root-entity first appearance; our
    # case_id is the root entity's row id — rebuild the same keying
    seen = {}
    for e in entries:
        if e.table_id.lower() == root.lower() and e.row_id not in seen:
            seen[e.row_id] = len(seen)
    by_rid = {rid: want_buckets[idx] for rid, idx in seen.items()}
    want = {
        rid: [
            (oracle.xes_event_name(e), oracle.xes_timestamp(e.ts)) for e in trace
        ]
        for rid, trace in by_rid.items()
    }
    assert got == want


def test_trace_xml_matches_oracle(spark_events, spark_schema, oracle_state):
    entries, schema = oracle_state
    root = '"SYSTEM"."ORDERS"'
    edges = entity_edges(spark_events, spark_schema)
    roots = root_cases(spark_events, root, spark_schema.tables)
    assignments = propagate_cases(edges, roots, spark_schema, root)
    assigned = with_xes_columns(assign_entries(spark_events, assignments))
    got = {
        r["case_id"]: r["trace_xml"]
        for r in trace_xml(collect_traces(assigned)).collect()
    }

    want_buckets = oracle.build_traces(entries, schema, root)
    seen = {}
    for e in entries:
        if e.table_id.lower() == root.lower() and e.row_id not in seen:
            seen[e.row_id] = len(seen)
    want = {
        rid: oracle.xes_trace_xml(want_buckets[idx]) for rid, idx in seen.items()
    }
    assert got == want


def test_multi_membership(spark_events, spark_schema):
    """A shared USERS entity must appear in every trace of the orders that
    reference it (TraceIDParserHelper.scala:43-59 one-to-many fan-out)."""
    root = '"SYSTEM"."ORDERS"'
    edges = entity_edges(spark_events, spark_schema)
    roots = root_cases(spark_events, root, spark_schema.tables)
    assignments = propagate_cases(edges, roots, spark_schema, root)
    user_assign = assignments.filter(assignments["table_id"] == '"SYSTEM"."USERS"')
    per_user = user_assign.groupBy("row_id").count().collect()
    # 70 orders over 41 users: some users serve >= 2 order cases
    assert any(r["count"] >= 2 for r in per_user)


def test_case_colliding_table_names(spark):
    """Fuzz axis `caseclash` semantics, pinned in-suite (binary parity
    in jobs/diff_fuzz_sweep.py --axis caseclash): root-bucket gathering
    is equalsIgnoreCase (a '"SYSTEM"."t"' entity founds a trace when
    the root is '"SYSTEM"."T"'), each root row keeps its OWN exact
    table id, but the relation walk starts from the exact-case root
    only — the case-sibling's trace contains just its own entries."""
    from redo_log_parser_spark.pipeline import build_traces_df
    from redo_log_parser_spark.sinks.xes import reference_trace_order

    stmts = [
        ('insert into "SYSTEM"."T"("ID") values (\'100\');', "TAAAAX"),
        ('insert into "SYSTEM"."T"("ID") values (\'101\');', "TAAABX"),
        ('insert into "SYSTEM"."C"("ID","T_ID") values '
         "('900','100');", "CAAAAX"),
        ('insert into "SYSTEM"."C"("ID","T_ID") values '
         "('901','101');", "CAAABX"),
        ('insert into "SYSTEM"."t"("ID") values (\'500\');', "LAAAAX"),
        ('update "SYSTEM"."t" set "ID" = \'501\' where "ID" = \'500\' '
         "and ROWID = 'LAAAAX';", "LAAAAX"),
    ]
    rows = [
        (f"https://h.example/{i:04d}",
         f"{s}\n{rid} 26-JAN-2024 10:00:{i:02d}")
        for i, (s, rid) in enumerate(stmts)
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    events = uniquify_row_ids(parse_documents(docs))
    assert events.filter("parse_error is not null").count() == 0
    cols_df, ind_df = discover_schema(events)
    schema = summarize_schema(cols_df, ind_df)
    assert '"SYSTEM"."T"' in schema.tables and '"SYSTEM"."t"' in schema.tables

    traces = build_traces_df(events, schema, '"SYSTEM"."T"')
    got = {r["case_id"]: r["trace_xml"] for r in traces.collect()}
    # 2 exact-root cases + 1 case-sibling case
    assert set(got) == {"TAAAAX", "TAAABX", "LAAAAX"}
    # children joined the exact-root traces only (2 events: own + child)
    c_name = "&quot;SYSTEM&quot;.&quot;C&quot;"
    for cid in ("TAAAAX", "TAAABX"):
        assert got[cid].count("<event>") == 2 and c_name in got[cid]
    # the sibling trace holds exactly its own two events, nothing else
    assert got["LAAAAX"].count("<event>") == 2
    assert c_name not in got["LAAAAX"]
    assert "&quot;SYSTEM&quot;.&quot;t&quot;" in got["LAAAAX"]

    order = reference_trace_order(events, '"SYSTEM"."T"')
    assert sorted(order) == ["LAAAAX", "TAAAAX", "TAAABX"]


def test_ambiguous_case_insensitive_root_raises(spark):
    """A root argv matching two case-siblings case-insensitively and
    neither exactly must raise (the reference CLI's validation is
    exact-case, cli/package.scala:78 — picking one silently would be
    arbitrary)."""
    from redo_log_parser_spark.pipeline import build_traces_df

    rows = [
        ("https://h.example/0000",
         'insert into "SYSTEM"."T"("ID") values (\'1\');\n'
         "TAAAAX 26-JAN-2024 10:00:00"),
        ("https://h.example/0001",
         'insert into "SYSTEM"."t"("ID") values (\'2\');\n'
         "LAAAAX 26-JAN-2024 10:00:01"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    events = uniquify_row_ids(parse_documents(docs))
    cols_df, ind_df = discover_schema(events)
    schema = summarize_schema(cols_df, ind_df)
    with pytest.raises(ValueError, match="case-insensitively"):
        build_traces_df(events, schema, '"system"."t"').collect()
