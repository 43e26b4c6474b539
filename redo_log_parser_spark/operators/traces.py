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
    first-insert attribute values on (value, pk_table, pk_col); the tiny
    FK-pair list travels as a literal expression, not as a frame.
  * Case ids are the root entities' row ids — stable, already unique,
    and requiring no global sort at 10^12 rows.
  * The table-graph walk (J2) is planned on the DRIVER: every requested
    root's path tree over the tables (3-8 in practice) is enumerated
    and numbered into one small literal hop map. The data-level walk is
    level-synchronous and shared by all roots: one frontier frame
    advances one tree level per join, so a run costs as many joins as
    its deepest path tree, not one per tree edge per root.
  * Entity edges do not depend on the root class: they are built and
    cached once per run, and every level of the shared walk reads them.
  * Every assignment carries its root, so entry assignment (J3) and
    trace collection (G4) run once for all roots. G4 is one
    groupBy(root, case_id) collect_list: one shuffle, with Spark's
    map-side partial aggregate. Order inside a trace is always
    (ts, url) — never collect_list arrival order (SURVEY.md §1.3
    item 6).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
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

    Cached (through `register`): propagate_cases reads the frame twice
    (once per direction) at every level of its walk.

    The FK pair list is tiny: a literal when-chain maps each FK column to
    its referenced PK columns, so no driver-built frame (and no job to
    ship one) is needed; with no FK pairs the result is simply empty."""
    targets: dict[tuple[str, str], list[Column]] = {}
    for ft, fc, pt, pc in schema.fk_pairs():
        targets.setdefault((ft, fc), []).append(F.struct(
            F.lit(pt).alias("pk_table"), F.lit(pc).alias("pk_col")))
    pk_of = F.lit(None).cast("array<struct<pk_table:string,pk_col:string>>")
    for (ft, fc), pks in targets.items():
        pk_of = F.when(
            (F.col("table_id") == ft) & (F.col("col") == fc), F.array(*pks)
        ).otherwise(pk_of)
    fi = first_insert_values(events)
    left = fi.select(
        F.col("table_id").alias("left_table"),
        F.col("row_id").alias("left_row"),
        "value",
        F.inline(pk_of),
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


def resolve_roots(
    roots: list[str], tables: list[str]
) -> dict[str, tuple[str, list[str]]]:
    """root class → (the table its walk starts from, the tables whose
    entities found its cases). The one place a root name is matched
    against the discovered `tables`.

    Reference case-clash semantics (probed, fuzz axis `caseclash`):
    root-bucket GATHERING is equalsIgnoreCase (TraceIDParserHelper
    .scala:22-23), each gathered row keeping ITS OWN exact table id,
    but the relation walk starts from schema(rootClass.tableID) — the
    EXACT-case Table object only (TraceIDParser.scala:73). So a
    case-sibling's entities found traces containing only their own
    entries; they never propagate. The walk start prefers the exact
    name; a unique case-insensitive match is kept for the lenient
    non-clash path (reference CLI validation is exact,
    cli/package.scala:78).

    The match is JAVA equalsIgnoreCase, not lowercase equality —
    'İX'~'ix' and 'ΣA'~'ςa' are Java-equal but lower()-unequal
    (javaspace.java_equals_ignore_case, probed).

    Raises ValueError for a root that matches no table, and for one
    that matches several case-insensitively and none exactly: the
    reference CLI would have rejected that argv outright (exact
    contains, cli/package.scala:78), and picking one sibling silently
    would be arbitrary."""
    gathered = {
        rc: [t for t in tables if java_equals_ignore_case(t, rc)]
        for rc in roots
    }
    for rc, ci in gathered.items():
        if not ci:
            raise ValueError(
                f"root class {rc!r} not in discovered schema "
                f"{sorted(tables)}"
            )
    resolved = {}
    for rc, ci in gathered.items():
        if len(ci) > 1 and rc not in ci:
            raise ValueError(
                f"root class {rc!r} matches {len(ci)} tables "
                f"case-insensitively ({sorted(ci)}) and none exactly — "
                "pass the exact-case table id"
            )
        resolved[rc] = (ci[0] if len(ci) == 1 else rc, ci)
    return resolved


def root_cases(
    events: DataFrame, roots: list[str], tables: list[str]
) -> DataFrame:
    """G3 — one case per root-table entity, for every requested root:
    (root, table_id, row_id, case_id), case_id = entity row id.

    The name set is tiny, so matching happens driver-side over `tables`
    (schema.tables, resolve_roots): the row filter is a plain isin, and
    a literal when-chain tags each root row with every root that
    gathers its table."""
    resolved = resolve_roots(roots, tables)
    roots_of = {t: [r for r, (_, ci) in resolved.items() if t in ci]
                for t in tables}
    roots_of = {t: rs for t, rs in roots_of.items() if rs}
    tagged = F.lit(None).cast("array<string>")
    for t, rs in roots_of.items():
        tagged = F.when(F.col("table_id") == t, F.array(*map(F.lit, rs))).otherwise(tagged)
    return (
        events.filter(F.col("table_id").isin(list(roots_of)))
        .select("table_id", "row_id")
        .distinct()
        .select(
            F.explode(tagged).alias("root"),
            "table_id",
            "row_id",
            F.col("row_id").alias("case_id"),
        )
    )


def propagate_cases(
    edges: DataFrame,
    roots: DataFrame,
    schema: SchemaSummary,
    root_tables: list[str],
) -> DataFrame:
    """J2 — propagate case ids along the entity-edge graph with the
    reference's path-restricted table walk (TraceBinningAssigner.scala:
    20-82: a branch never revisits a table already on its path, but the
    same table may be reached via different branches), for all roots at
    once: (root, table_id, row_id, case_id).

    The driver numbers every root's path tree over the small TABLE
    graph into a literal map (a driver-built frame would cost a job).
    The frontier advances all roots one tree level per join with the
    undirected `edges` (cached by entity_edges), so the walk costs as
    many joins as the deepest tree."""
    # table-level adjacency from FK pairs (undirected;
    # RelationsExtractor.scala:15-53 relations are directionless after dedup)
    adj: dict[str, set[str]] = {}
    for ft, _, pt, _ in schema.fk_pairs():
        adj.setdefault(ft, set()).add(pt)
        adj.setdefault(pt, set()).add(ft)

    kids: dict[int, list[Column]] = {}  # node -> [(next_table, next_node)]
    new_node = itertools.count().__next__

    def walk(table: str, node: int, path: frozenset[str]) -> int:
        height = 0
        for nxt in sorted(adj.get(table, ())):
            if nxt not in path:
                child = new_node()
                kids.setdefault(node, []).append(F.struct(
                    F.lit(nxt).alias("next_table"), F.lit(child).alias("next_node")))
                height = max(height, 1 + walk(nxt, child, path | {table}))
        return height

    seeds = {rc: (new_node(), start) for rc, (start, _)
             in resolve_roots(root_tables, schema.tables).items()}
    levels = max(walk(t, n, frozenset({t})) for n, t in seeds.values())
    seed = F.create_map(*[x for r, (n, t) in seeds.items() for x in (
        F.lit(r), F.struct(F.lit(n).alias("node"), F.lit(t).alias("t")))])[F.col("root")]
    frontier = roots.filter(F.col("table_id") == seed["t"]).withColumn("node", seed["node"])
    hop = F.create_map(*[x for n, k in kids.items() for x in (F.lit(n), F.array(*k))])
    fwd, bwd = [edges.select(
        F.col(f"{a}_table").alias("table_id"), F.col(f"{a}_row").alias("row_id"),
        F.col(f"{b}_table").alias("next_table"), F.col(f"{b}_row").alias("nrow"),
    ) for a, b in (("left", "right"), ("right", "left"))]
    undirected = fwd.unionByName(bwd)
    assignments = roots.select("root", "table_id", "row_id", "case_id")
    for _ in range(levels):
        frontier = (
            frontier.select("root", "table_id", "row_id", "case_id",
                            F.inline(hop[F.col("node")]))
            .join(undirected, ["table_id", "row_id", "next_table"])
            .select("root", F.col("next_node").alias("node"),
                    F.col("next_table").alias("table_id"),
                    F.col("nrow").alias("row_id"), "case_id")
            .distinct()
        )
        assignments = assignments.unionByName(frontier.drop("node"))
    return assignments.distinct()


def assign_entries(events: DataFrame, assignments: DataFrame) -> DataFrame:
    """J3 — every log entry joins every case its (table, row) belongs to
    (TraceIDParserHelper.scala:43-59). Inner join: entries of unassigned
    rows drop out, matching the reference's contains-check."""
    return events.join(assignments, ["table_id", "row_id"])


def collect_traces(
    assigned: DataFrame,
    event_cols: tuple[str, ...] = ("event_name", "xes_ts"),
    keys: tuple[str, ...] = ("case_id",),
) -> DataFrame:
    """G4 — (*keys, events: array<struct>) with events in log order
    (ts, url); the pipeline passes keys=("root", "case_id").

    One groupBy(*keys): Spark plans a map-side partial collect_list,
    one shuffle on the keys and the final merge. sort_array on the
    (ts, url, payload) struct makes ordering deterministic regardless
    of arrival order."""
    ev = F.struct(
        F.col("ts").alias("o0"), F.col("url").alias("o1"),
        *[F.col(c) for c in event_cols],
    )
    traces = assigned.groupBy(*keys).agg(
        F.sort_array(F.collect_list(ev)).alias("events_raw")
    )
    drop_keys = F.transform(
        F.col("events_raw"),
        lambda x: F.struct(*[x[c].alias(c) for c in event_cols]),
    )
    return traces.select(*keys, drop_keys.alias("events"))
