"""J1-J3, G3-G4 — entity relations, case assignment, trace assembly
(SURVEY.md §2.5-2.6).

Reference flow (TraceIDParser.scala:40-89): each root-table entity founds
one trace bucket; bucket ids propagate along FK entity edges, walking the
table graph recursively without revisiting a table on the current path
(TraceBinningAssigner.scala:20-82); finally EVERY log entry joins into
every bucket its (table, row) was assigned to — an entry can appear in
multiple traces (TraceIDParserHelper.scala:43-59).

Spark design:
  * Entity edges (J1): the reference's O(n·m) nested loop
    (RelationsExtractor.scala:96-144) becomes one equi-join of
    first-insert attribute values on (value, pk_table, pk_col), with the
    tiny FK-pair list broadcast.
  * Case ids are the root entities' row ids — stable, already unique,
    and requiring no global sort at 10^12 rows.
  * The table-graph walk (J2) iterates on the DRIVER over tables (3-8 in
    practice) issuing one DataFrame join per traversed edge — data-level
    work stays distributed, only the walk plan is driver-side.
  * Entity edges do not depend on the root class, so a multi-root run
    builds and caches them once and walks them for every root.
  * Trace collection (G4) is one groupBy(case_id) collect_list: one
    shuffle, with Spark's map-side partial aggregate on case_id. Order
    inside a trace is always (ts, url) — never collect_list arrival
    order (SURVEY.md §1.3 item 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import register
from ..functions.javaspace import java_equals_ignore_case
from .schema_discovery import SchemaSummary, insert_kv_pairs


def first_insert_values(events: DataFrame) -> DataFrame:
    """Long frame of insert attribute values per entity:
    (table_id, row_id, col, value).

    After ROWID uniquification every entity has at most one insert and it
    is its first statement (an insert always opens a new incarnation), so
    'first insert of the entity' (RelationsExtractor.scala:119-123) is
    simply 'the insert'. Duplicate column names collapse last-wins
    (insert_kv_pairs — the reference statement representation is a
    HashMap, so relations only ever see the final value)."""
    return (
        events.filter(F.col("op") == "insert")
        .select(
            "table_id",
            "row_id",
            F.explode(insert_kv_pairs()).alias("cv"),
        )
        .select(
            "table_id",
            "row_id",
            F.col("cv.col").alias("col"),
            F.col("cv.value").alias("value"),
        )
    )


def entity_edges(events: DataFrame, schema: SchemaSummary) -> DataFrame:
    """J1 — (left_table, left_row, right_table, right_row) entity pairs:
    for each FK→PK ColumnRelation, insert values of the FK column match
    insert values of the referenced PK column
    (RelationsExtractor.scala:111-181). Deduped (the reference keeps a
    Seq; duplicates are semantically irrelevant downstream).

    Cached (through `register`): propagate_cases reads the frame once
    per traversed table edge, for every root it is passed to."""
    sess = events.sparkSession
    pairs = schema.fk_pairs()
    if not pairs:
        return sess.createDataFrame(
            [], "left_table string, left_row string, right_table string, right_row string"
        )
    pairs_df = sess.createDataFrame(
        pairs, ["fk_table", "fk_col", "pk_table", "pk_col"]
    )
    fi = first_insert_values(events)
    left = fi.join(
        F.broadcast(pairs_df),
        (fi["table_id"] == pairs_df["fk_table"]) & (fi["col"] == pairs_df["fk_col"]),
    ).select(
        F.col("table_id").alias("left_table"),
        F.col("row_id").alias("left_row"),
        "pk_table",
        "pk_col",
        "value",
    )
    right = fi.select(
        F.col("table_id").alias("right_table"),
        F.col("row_id").alias("right_row"),
        F.col("col").alias("pk_col_r"),
        F.col("value").alias("value_r"),
    )
    edges = left.join(
        right,
        (F.col("value") == F.col("value_r"))
        & (F.col("pk_table") == F.col("right_table"))
        & (F.col("pk_col") == F.col("pk_col_r")),
    ).select("left_table", "left_row", "right_table", "right_row")
    return register(edges.distinct().cache())


def root_cases(
    events: DataFrame, root_table: str, tables: list[str]
) -> DataFrame:
    """G3 — one case per root-table entity (equalsIgnoreCase table
    match, TraceIDParserHelper.scala:22-23). case_id = entity row id.

    The match is JAVA equalsIgnoreCase, not lowercase equality —
    'İX'~'ix' and 'ΣA'~'ςa' are Java-equal but lower()-unequal
    (javaspace.java_equals_ignore_case, probed). The name set is tiny,
    so matching happens driver-side over `tables` (schema.tables) and
    the row filter is a plain isin — cheaper at scale than a per-row
    lower() too."""
    matched = [t for t in tables if java_equals_ignore_case(t, root_table)]
    return (
        events.filter(F.col("table_id").isin(matched))
        .select(F.col("table_id"), F.col("row_id"))
        .distinct()
        .withColumn("case_id", F.col("row_id"))
    )


def propagate_cases(
    edges: DataFrame,
    roots: DataFrame,
    schema: SchemaSummary,
    root_table: str,
) -> DataFrame:
    """J2 — propagate case ids along the entity-edge graph with the
    reference's path-restricted table walk (TraceBinningAssigner.scala:
    20-82: a branch never revisits a table already on its path, but the
    same table may be reached via different branches).

    Driver-side recursion over the TABLE graph (small); per traversed
    edge one distributed join over `edges` (cached by entity_edges)."""
    # table-level adjacency from FK pairs (undirected;
    # RelationsExtractor.scala:15-53 relations are directionless after dedup)
    adj: dict[str, set[str]] = {}
    for ft, _, pt, _ in schema.fk_pairs():
        adj.setdefault(ft, set()).add(pt)
        adj.setdefault(pt, set()).add(ft)

    # Reference case-clash semantics (probed, fuzz axis `caseclash`):
    # root-bucket GATHERING is equalsIgnoreCase (TraceIDParserHelper
    # .scala:23 — root_cases already matched both case variants, each
    # row keeping ITS OWN exact table id), but the relation walk starts
    # from schema(rootClass.tableID) — the EXACT-case Table object only
    # (TraceIDParser.scala:73) — and entry assignment is exact
    # (Helper:51). So a case-sibling's entities found traces containing
    # only their own entries; they never propagate. root_actual prefers
    # the exact name; a case-insensitive unique match is kept for the
    # lenient non-clash path (reference CLI validation is exact,
    # cli/package.scala:78).
    if root_table in schema.tables:
        root_actual = root_table
    else:
        ci = [t for t in schema.tables
              if java_equals_ignore_case(t, root_table)]
        if len(ci) > 1:
            # the reference CLI would have rejected this argv outright
            # (exact contains, cli/package.scala:78); picking one
            # sibling silently would be arbitrary
            raise ValueError(
                f"root class {root_table!r} matches {len(ci)} tables "
                f"case-insensitively ({sorted(ci)}) and none exactly — "
                "pass the exact-case table id"
            )
        root_actual = ci[0] if ci else root_table

    assignments = [roots.select("table_id", "row_id", "case_id")]

    def step(table: str, assign: DataFrame, nxt: str) -> DataFrame:
        """rows of `table` with case ids -> related rows of `nxt`."""
        fwd = edges.filter(
            (F.col("left_table") == table) & (F.col("right_table") == nxt)
        ).select(F.col("left_row").alias("row_id"), F.col("right_row").alias("nrow"))
        bwd = edges.filter(
            (F.col("right_table") == table) & (F.col("left_table") == nxt)
        ).select(F.col("right_row").alias("row_id"), F.col("left_row").alias("nrow"))
        hop = fwd.unionByName(bwd)
        return (
            assign.join(hop, "row_id")
            .select(
                F.lit(nxt).alias("table_id"),
                F.col("nrow").alias("row_id"),
                "case_id",
            )
            .distinct()
        )

    def walk(table: str, assign: DataFrame, path: frozenset[str]) -> None:
        for nxt in sorted(adj.get(table, ())):
            if nxt in path:
                continue
            nxt_assign = step(table, assign, nxt)
            assignments.append(nxt_assign)
            walk(nxt, nxt_assign, path | {table})

    walk(
        root_actual,
        roots.filter(F.col("table_id") == root_actual)
        .select("row_id", "case_id"),
        frozenset({root_actual}),
    )
    out = assignments[0]
    for a in assignments[1:]:
        out = out.unionByName(a)
    return out.distinct()


def assign_entries(events: DataFrame, assignments: DataFrame) -> DataFrame:
    """J3 — every log entry joins every case its (table, row) belongs to
    (TraceIDParserHelper.scala:43-59). Inner join: entries of unassigned
    rows drop out, matching the reference's contains-check."""
    return events.join(assignments, ["table_id", "row_id"])


def collect_traces(
    assigned: DataFrame,
    event_cols: tuple[str, ...] = ("event_name", "xes_ts"),
    order_cols: tuple[str, ...] = ("ts", "url"),
) -> DataFrame:
    """G4 — (case_id, events: array<struct>) with events in log order.

    One groupBy(case_id): Spark plans a map-side partial collect_list,
    one shuffle on case_id and the final merge. sort_array on the
    (order..., payload) struct makes ordering deterministic regardless
    of arrival order."""
    ev = F.struct(
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
        *[F.col(c) for c in event_cols],
    )
    traces = assigned.groupBy("case_id").agg(
        F.sort_array(F.collect_list(ev)).alias("events_raw")
    )
    drop_keys = F.transform(
        F.col("events_raw"),
        lambda x: F.struct(*[x[c].alias(c) for c in event_cols]),
    )
    return traces.select("case_id", drop_keys.alias("events"))
