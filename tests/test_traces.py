"""J1-J3, G3-G4, P8-P10 — trace assembly and XES output must match the
oracle end-to-end on the mini-log for multiple root classes."""

import pytest

from redo_log_parser_spark import oracle
from redo_log_parser_spark.functions.javaspace import java_equals_ignore_case
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
    return summarize_schema(*discover_schema(spark_events))


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
    roots = root_cases(spark_events, [root], spark_schema.tables)
    assignments = propagate_cases(edges, roots, spark_schema, [root])
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


def _oracle_trace_xml(entries, schema, root):
    """{case_id: trace_xml} of the oracle for `root`. Oracle buckets are
    indexed by root-entity first appearance; our case_id is the root
    entity's row id, so rebuild the same keying."""
    buckets = oracle.build_traces(entries, schema, root)
    seen = {}
    for e in entries:
        if java_equals_ignore_case(e.table_id, root) and e.row_id not in seen:
            seen[e.row_id] = len(seen)
    return {rid: oracle.xes_trace_xml(buckets[i]) for rid, i in seen.items()}


def _traces_by_root(traces):
    got = {}
    for r in traces.collect():
        got.setdefault(r["root"], {})[r["case_id"]] = r["trace_xml"]
    return got


def _docs(spark, stmts):
    """documents frame: one (statement, row id) record per url, one
    second apart; also returns the text cells for the oracle."""
    texts = [
        f"{s}\n{rid} 26-JAN-2024 10:{i // 60:02d}:{i % 60:02d}"
        for i, (s, rid) in enumerate(stmts)
    ]
    rows = [(f"https://h.example/{i:04d}", t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "url string, text string"), texts


def test_trace_xml_matches_oracle(spark_events, spark_schema, oracle_state):
    entries, schema = oracle_state
    root = '"SYSTEM"."ORDERS"'
    edges = entity_edges(spark_events, spark_schema)
    roots = root_cases(spark_events, [root], spark_schema.tables)
    assignments = propagate_cases(edges, roots, spark_schema, [root])
    assigned = with_xes_columns(assign_entries(spark_events, assignments))
    got = {
        r["case_id"]: r["trace_xml"]
        for r in trace_xml(collect_traces(assigned)).collect()
    }
    assert got == _oracle_trace_xml(entries, schema, root)


def _ins(table, rid, **cols):
    names = ",".join(f'"{c}"' for c in cols)
    vals = ",".join(f"'{v}'" for v in cols.values())
    return f'insert into "SYSTEM"."{table}"({names}) values ({vals});', rid


def _upd(table, rid, col, new, old):
    return (f'update "SYSTEM"."{table}" set "{col}" = \'{new}\' where '
            f'"{col}" = \'{old}\' and ROWID = \'{rid}\';', rid)


# A concert-booking log over the 8 tables of the reference's evaluation
# log. Every value carries a per-table prefix and no FK column is
# unique, so discovery finds exactly the designed FK pairs. The table
# graph has the cycle TICKET-CONCERT-HALL-SEAT-TICKET: a TICKET walk
# reaches HALL (and CONCERT, SEAT, BAND_PLAYING, BAND) by two branches.
WIDE_LOG = [
    _ins("HALL", "HAL1", ID="H1", NAME="hall-a"),
    _ins("HALL", "HAL2", ID="H2", NAME="hall-b"),
    _ins("SEAT", "SEA1", ID="S1", HALL_ID="H1"),
    _ins("SEAT", "SEA2", ID="S2", HALL_ID="H1"),
    _ins("SEAT", "SEA3", ID="S3", HALL_ID="H2"),
    _ins("SEAT", "SEA4", ID="S4", HALL_ID="H2"),
    _ins("CONCERT", "CON1", ID="C1", HALL_ID="H1", TITLE="title-1"),
    _ins("CONCERT", "CON2", ID="C2", HALL_ID="H2", TITLE="title-2"),
    _ins("CONCERT", "CON3", ID="C3", HALL_ID="H1", TITLE="title-3"),
    _ins("BAND", "BAN1", ID="B1", NAME="band-1"),
    _ins("BAND", "BAN2", ID="B2", NAME="band-2"),
    _ins("BAND_PLAYING", "BPL1", ID="P1", BAND_ID="B1", CONCERT_ID="C1"),
    _ins("BAND_PLAYING", "BPL2", ID="P2", BAND_ID="B2", CONCERT_ID="C1"),
    _ins("BAND_PLAYING", "BPL3", ID="P3", BAND_ID="B1", CONCERT_ID="C2"),
    _ins("BAND_PLAYING", "BPL4", ID="P4", BAND_ID="B2", CONCERT_ID="C3"),
    _ins("CUSTOMER", "CUS1", ID="U1", NAME="cust-1"),
    _ins("CUSTOMER", "CUS2", ID="U2", NAME="cust-2"),
    _ins("CUSTOMER", "CUS3", ID="U3", NAME="cust-3"),
    _ins("BOOKING", "BOO1", ID="K1", CUSTOMER_ID="U1", STATUS="open"),
    _ins("BOOKING", "BOO2", ID="K2", CUSTOMER_ID="U2", STATUS="open"),
    _ins("BOOKING", "BOO3", ID="K3", CUSTOMER_ID="U1", STATUS="open"),
    _ins("BOOKING", "BOO4", ID="K4", CUSTOMER_ID="U3", STATUS="open"),
    _ins("TICKET", "TIC1", ID="T1", BOOKING_ID="K1", CONCERT_ID="C1", SEAT_ID="S1"),
    _ins("TICKET", "TIC2", ID="T2", BOOKING_ID="K1", CONCERT_ID="C1", SEAT_ID="S2"),
    _ins("TICKET", "TIC3", ID="T3", BOOKING_ID="K2", CONCERT_ID="C2", SEAT_ID="S3"),
    _ins("TICKET", "TIC4", ID="T4", BOOKING_ID="K3", CONCERT_ID="C3", SEAT_ID="S1"),
    _ins("TICKET", "TIC5", ID="T5", BOOKING_ID="K4", CONCERT_ID="C2", SEAT_ID="S4"),
    _upd("BOOKING", "BOO2", "STATUS", "paid", "open"),
    _upd("CONCERT", "CON3", "TITLE", "title-3b", "title-3"),
    _upd("BOOKING", "BOO1", "STATUS", "paid", "open"),
    ('delete from "SYSTEM"."TICKET" where "ID" = \'T5\' and '
     "ROWID = 'TIC5';", "TIC5"),
    # ROWID reuse: a new incarnation of TIC5
    _ins("TICKET", "TIC5", ID="T6", BOOKING_ID="K4", CONCERT_ID="C3", SEAT_ID="S4"),
    _upd("BOOKING", "BOO4", "STATUS", "paid", "open"),
]


def test_wide_graph_all_roots_match_oracle(spark):
    """All 8 tables of an evaluation-log-shaped schema as roots of ONE
    build_traces_df call: the shared level-by-level walk gives every
    root the oracle's path-restricted traces, also where a table is
    reached by two branches of a path tree."""
    from redo_log_parser_spark.pipeline import build_traces_df

    docs, texts = _docs(spark, WIDE_LOG)
    events = uniquify_row_ids(parse_documents(docs)).cache()
    assert events.filter("parse_error is not null").count() == 0
    schema = summarize_schema(*discover_schema(events))
    fk = {frozenset((ft, pt)) for ft, _, pt, _ in schema.fk_pairs()}
    t = '"SYSTEM"."{}"'.format
    assert fk == {frozenset((t(a), t(b))) for a, b in [
        ("SEAT", "HALL"), ("CONCERT", "HALL"), ("BAND_PLAYING", "BAND"),
        ("BAND_PLAYING", "CONCERT"), ("BOOKING", "CUSTOMER"),
        ("TICKET", "BOOKING"), ("TICKET", "CONCERT"), ("TICKET", "SEAT"),
    ]}
    assert len(schema.tables) == 8

    entries = oracle.uniquify_row_ids(oracle.parse_records(texts))
    o_schema = oracle.extract_schema(entries)
    got = _traces_by_root(build_traces_df(events, schema, schema.tables))
    events.unpersist()
    assert set(got) == set(schema.tables)
    for root in schema.tables:
        assert got[root] == _oracle_trace_xml(entries, o_schema, root), root
    # the TICKET walk joined every table into T1's trace
    assert all(t(x).replace('"', "&quot;") in got[t("TICKET")]["TIC1"]
               for x in ("HALL", "SEAT", "BAND", "CUSTOMER"))


def test_multi_membership(spark_events, spark_schema):
    """A shared USERS entity must appear in every trace of the orders that
    reference it (TraceIDParserHelper.scala:43-59 one-to-many fan-out)."""
    root = '"SYSTEM"."ORDERS"'
    edges = entity_edges(spark_events, spark_schema)
    roots = root_cases(spark_events, [root], spark_schema.tables)
    assignments = propagate_cases(edges, roots, spark_schema, [root])
    user_assign = assignments.filter(assignments["table_id"] == '"SYSTEM"."USERS"')
    per_user = user_assign.groupBy("row_id").count().collect()
    # 70 orders over 41 users: some users serve >= 2 order cases
    assert any(r["count"] >= 2 for r in per_user)


CASECLASH_LOG = [
    _ins("T", "TAAAAX", ID="100"),
    _ins("T", "TAAABX", ID="101"),
    _ins("C", "CAAAAX", ID="900", T_ID="100"),
    _ins("C", "CAAABX", ID="901", T_ID="101"),
    _ins("t", "LAAAAX", ID="500"),
    _upd("t", "LAAAAX", "ID", "501", "500"),
]


def test_case_colliding_table_names(spark):
    """Fuzz axis `caseclash` semantics, pinned in-suite (binary parity
    in jobs/diff_fuzz_sweep.py --axis caseclash): root-bucket gathering
    is equalsIgnoreCase (a '"SYSTEM"."t"' entity founds a trace when
    the root is '"SYSTEM"."T"'), each root row keeps its OWN exact
    table id, but the relation walk starts from the exact-case root
    only — the case-sibling's trace contains just its own entries."""
    from redo_log_parser_spark.pipeline import build_traces_df
    from redo_log_parser_spark.sinks.xes import reference_trace_orders

    docs, _ = _docs(spark, CASECLASH_LOG)
    events = uniquify_row_ids(parse_documents(docs))
    assert events.filter("parse_error is not null").count() == 0
    schema = summarize_schema(*discover_schema(events))
    assert '"SYSTEM"."T"' in schema.tables and '"SYSTEM"."t"' in schema.tables

    traces = build_traces_df(events, schema, ['"SYSTEM"."T"'])
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

    root = '"SYSTEM"."T"'
    order = reference_trace_orders(events, [root])[root]
    assert sorted(order) == ["LAAAAX", "TAAAAX", "TAAABX"]


def test_case_colliding_table_names_two_roots(spark):
    """Case clash with two roots in one call: the case-sibling
    '"SYSTEM"."t"' and the unrelated '"SYSTEM"."U"'. Root t gathers the
    entities of both case variants, but its walk starts from the exact
    't', which has no FK, so each T entity's trace holds only its own
    entry (the C children stay out). U's walk does not leak into t's
    cases, nor t's into U's."""
    from redo_log_parser_spark.pipeline import build_traces_df

    stmts = CASECLASH_LOG + [_ins("U", "UAAAAX", ID="u-1")]
    docs, texts = _docs(spark, stmts)
    events = uniquify_row_ids(parse_documents(docs))
    schema = summarize_schema(*discover_schema(events))
    roots = ['"SYSTEM"."t"', '"SYSTEM"."U"']
    got = _traces_by_root(build_traces_df(events, schema, roots))

    assert {r: set(c) for r, c in got.items()} == {
        roots[0]: {"TAAAAX", "TAAABX", "LAAAAX"}, roots[1]: {"UAAAAX"}}
    n_events = {c: x.count("<event>") for c, x in got[roots[0]].items()}
    assert n_events == {"TAAAAX": 1, "TAAABX": 1, "LAAAAX": 2}
    assert got[roots[1]]["UAAAAX"].count("<event>") == 1
    entries = oracle.uniquify_row_ids(oracle.parse_records(texts))
    o_schema = oracle.extract_schema(entries)
    for root in roots:
        assert got[root] == _oracle_trace_xml(entries, o_schema, root)


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
    schema = summarize_schema(*discover_schema(events))
    with pytest.raises(ValueError, match="case-insensitively"):
        build_traces_df(events, schema, ['"system"."t"']).collect()


def test_unknown_root_raises(spark_events, spark_schema):
    """A root that matches no discovered table raises the unknown-root
    error (traces.resolve_roots) instead of planning empty traces."""
    from redo_log_parser_spark.pipeline import build_traces_df

    with pytest.raises(ValueError, match="not in discovered schema"):
        build_traces_df(spark_events, spark_schema, ['"SYSTEM"."NOPE"'])
