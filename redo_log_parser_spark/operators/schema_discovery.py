"""A1-A8 — schema discovery as distributed aggregations (SURVEY.md §2.4).

The reference folds every log entry into mutable HashMaps and re-checks
PK/IND properties after each entry (SchemaExtractor.scala:27-45,
SchemaDeriver.scala:31-95) — O(entries × tables² × cols² × values).
Here each property is one declarative aggregate over the parsed-events
frame; Catalyst plans partial+final aggregation, and the whole discovery
costs a handful of shuffles regardless of input size.

The prefix-exact properties read one model: per-row value validity
intervals [start_sk, end_sk) over the log position sk = (ts, url). A
write opens an interval, and the same row's next write or delete on the
column closes it; an interval that never closes has a null end, which
every reader takes as "open at the end of the log".

Semantics preserved (SURVEY.md §1.3 item 4):
  * Column registry: every column ever referenced, including columns
    created empty by delete statements (SchemaExtractor.scala:130-137):
    the rows of column_facts, one per (table, column) of the writes.
  * Current values: the intervals still open at the end of the log, so
    the last write per (table, column, row) wins; a delete removes the
    value only for columns NAMED in its where clause
    (SchemaExtractor.scala:126-141); ROWID key excluded (:58,127).
  * canBePrimaryKey is sticky-false (Column.scala:79-84 runs after every
    affecting entry): a transient duplicate at ANY prefix disqualifies.
    Exact equivalent without replaying prefixes: two rows held the same
    value with overlapping validity intervals.
  * areValuesIncreasing over log-ordered writes (the reference iterates
    a HashMap — order-unstable; log order is the documented intent).
    Both column flags come from one frame of the writes and one
    groupBy(table, column) (column_facts), no join with the registry.
  * IND/FK: final-state inclusion across tables, from ONE self-join
    over deduped current values (not N² anti-joins) for the columns
    that hold a value; a column without one is a subset of every column
    of another table (SchemaDeriver.scala:63). summarize_schema adds
    those pairs on the driver from column_facts' has_value, and under
    ind_mode='eager' keeps only the final pairs the reference's latched
    fold would hold (latched_pairs): both modes share one plan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..caching import register

# an inclusion dependency: (table_id, col) ⊆ (ref_table, ref_col)
PAIR = ("table_id", "col", "ref_table", "ref_col")


def insert_kv_pairs() -> F.Column:
    """array<struct<col,value,pos>> of an insert row's (column, value)
    pairs with duplicate column names collapsed LAST-wins: the reference
    folds the pairs through a mutable.HashMap (FileParser.scala:100-104),
    so only the final value ever reaches its schema state — an entry for
    an earlier value would plant a phantom value in PK-uniqueness / IND
    value sets and entity edges. Row-side O(k²) exists() over the
    (short) column list; first-occurrence position order is NOT kept
    (the survivor sits at its own position), which no consumer observes
    — engine-side orders come from explicit sorts, and the byte-order
    replicas live in oracle.py over insert_map."""
    return F.filter(
        F.transform(
            F.arrays_zip(F.col("insert_cols"), F.col("insert_vals")),
            lambda cv, i: F.struct(
                cv["insert_cols"].alias("col"),
                cv["insert_vals"].alias("value"),
                i.alias("pos"),
            ),
        ),
        lambda s: ~F.exists(
            F.slice(
                F.col("insert_cols"), s["pos"] + 2,
                F.size(F.col("insert_cols")),
            ),
            lambda c: c == s["col"],
        ),
    )


def column_writes(events: DataFrame) -> DataFrame:
    """Long frame of per-column effects:
    (table_id, col, row_id, value, sk, kind) where kind ∈ write|delete
    and sk = (ts, url) is the event's log position.

    insert → one write per zipped (col, value) (SchemaExtractor.scala:65-88);
    update → one write of the NEW value (:93-116); delete → one tombstone
    per where-clause column except ROWID (:121-143).

    SINGLE PASS over events: the per-op effect lists are built with one
    CASE expression and one explode, not a union of three filtered
    branches. A branch union re-evaluates the whole upstream plan —
    including the pandas parse kernel — once per branch when nothing is
    cached (measured 3× parse cost at sf0.1, round-2 VERDICT item 4);
    one subtree means the parse runs once per action regardless of
    caching, and at 100 TB it is one scan instead of three."""
    write_lit = F.lit("write")
    ins_pairs = insert_kv_pairs()
    effects = (
        F.when(
            F.col("op") == "insert",
            F.transform(
                ins_pairs,
                lambda cv: F.struct(
                    cv["col"].alias("col"),
                    cv["value"].alias("value"),
                    write_lit.alias("kind"),
                ),
            ),
        )
        .when(
            F.col("op") == "update",
            F.array(
                F.struct(
                    F.col("upd_attr").alias("col"),
                    F.col("upd_new").alias("value"),
                    write_lit.alias("kind"),
                )
            ),
        )
        .when(
            F.col("op") == "delete",
            F.transform(
                F.filter(F.col("delete_cols"), lambda c: c != F.lit("ROWID")),
                lambda c: F.struct(
                    c.alias("col"),
                    F.lit(None).cast("string").alias("value"),
                    F.lit("delete").alias("kind"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<col:string,value:string,kind:string>>"))
    )
    return events.select(
        "table_id", "row_id", F.struct("ts", "url").alias("sk"),
        F.explode(effects).alias("e"),
    ).select(
        "table_id",
        F.col("e.col").alias("col"),
        "row_id",
        F.col("e.value").alias("value"),
        "sk",
        F.col("e.kind").alias("kind"),
    )


def _value_intervals(writes: DataFrame) -> DataFrame:
    """(table_id, col, row_id, value, start_sk, end_sk) — validity
    intervals [start_sk, end_sk) of written values: a write opens at its
    sk, the same row's next write/delete on the column closes it. An
    interval that never closes has a null end_sk. The one builder of
    intervals, shared by current_values and the eager IND check;
    column_facts runs the same lead over writes and tombstones."""
    w_row = Window.partitionBy("table_id", "col", "row_id").orderBy("sk")
    return (
        writes.withColumn("end_sk", F.lead("sk").over(w_row))
        .filter(F.col("kind") == "write")
        .select(
            "table_id",
            "col",
            "row_id",
            "value",
            F.col("sk").alias("start_sk"),
            "end_sk",
        )
    )


def current_values(writes: DataFrame) -> DataFrame:
    """A2 — latest value per (table, col, row): the intervals still open
    at the end of the log. A deleted value's interval is closed by its
    tombstone, so it drops out."""
    return _value_intervals(writes).filter(F.col("end_sk").isNull()).select(
        "table_id", "col", "row_id", "value"
    )


def column_facts(writes: DataFrame, mono_mode: str = "log") -> DataFrame:
    """A1 + A3 + A4 — (table_id, col, can_be_pk, values_increasing,
    created_sk, has_value) for every column in `writes`, from one frame
    and one groupBy. A column that only deletes created has no writes
    and keeps both flags true, as the reference initializes them
    (Column.scala:79-84, 95-130).

    created_sk is the column's birth, the first log position that names
    it, tombstones included. has_value: some written interval is still
    open at the end of the log, the test current_values applies, so a
    column without one has no current value (empty, or emptied by
    deletes). The IND assembly in summarize_schema reads both.

    can_be_pk is sticky via value-lifetime overlap. A duplicate existed
    at some prefix ⇔ two validity intervals of the same
    (table,col,value) from different rows overlap ⇔ ordering the
    intervals by start, some interval starts while an earlier-starting
    one is still open: that one never closes (null end) or ends after
    this start. The first interval overlaps nothing. The intervals are
    the write rows of `writes` with the same row's next write or
    tombstone as end (`_value_intervals`' lead, tombstones kept); one
    window over the preceding writes, zero self-joins.

    values_increasing (mono_mode='log') — were log-ordered written
    values strictly increasing? This implements the INTENDED semantics
    of Column.verifyIncreasingValuesOnChange (Column.scala:95-130): the
    branch gate maps (rowID, value) with BOTH `.toDouble`, so the
    numeric comparison runs only when every row id AND every value
    parses as a double (a real Oracle ROWID never does); anything else
    falls to the case-insensitive string comparison, here over
    log-ordered writes. The lag orders writes before tombstones, so it
    steps over writes only: a tombstone's null must not reset the
    comparison.

    ROUND-3 DISCOVERY (instrumented run of the actual reference binary,
    tests/fixtures/README.md): the SHIPPED check is vacuously true. Its
    `sliding(2).forall { case x :: y :: _ => x < y; case _ => true }`
    uses the List cons extractor, but `mutable.HashMap.values.toSeq`
    sliding windows are not Lists, so every window falls through to the
    default `true` — areValuesIncreasing never flips (the probe shows
    increasing=true even for STATE/NAME on redo_log.txt).
    mono_mode='reference' is that constant True, byte-faithful for
    strict output, and builds no lag window; 'log' remains the real
    signal.

    Partitioning (PLANS §15): the lead and overlap windows keep their
    fine keys (t, c, row_id) and (t, c, value); only the lag window
    shuffles on (t, c), and the groupBy reuses that exchange."""
    if mono_mode not in ("log", "reference"):
        raise ValueError(f"mono_mode must be 'log' or 'reference', got {mono_mode!r}")
    is_write = F.col("kind") == "write"
    value, end_sk = F.col("value"), F.col("end_sk")
    w_row = Window.partitionBy("table_id", "col", "row_id").orderBy("sk")
    w_val = (
        Window.partitionBy("table_id", "col", "value")
        .orderBy("sk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    overlap = F.coalesce(
        F.max(F.when(is_write, end_sk.isNull())).over(w_val)
        | (F.col("sk") < F.max(F.when(is_write, end_sk)).over(w_val)),
        F.lit(False),
    )
    rows = writes.withColumn("end_sk", F.lead("sk").over(w_row)).withColumn(
        "overlap", overlap)
    aggs = [
        F.max(F.when(is_write, F.col("overlap"))).alias("any_overlap"),
        F.min("sk").alias("created_sk"),
        F.max(is_write & end_sk.isNull()).alias("has_value"),
    ]
    increasing = F.lit(True)
    if mono_mode == "log":
        w_log = Window.partitionBy("table_id", "col").orderBy(~is_write, "sk")
        rows = rows.withColumn("prev", F.lag("value").over(w_log))
        prev = F.col("prev")
        first = prev.isNull()  # the first write has no predecessor

        def all_writes(c: Column, name: str) -> Column:
            return F.min(F.when(is_write, c)).alias(name)

        aggs += [
            all_writes(value.try_cast("double").isNotNull()
                       & F.col("row_id").try_cast("double").isNotNull(), "all_numeric"),
            all_writes(first | (prev.try_cast("double") < value.try_cast("double")),
                       "inc_numeric"),
            all_writes(first | (F.lower(prev) < F.lower(value)), "inc_string"),
        ]
        increasing = F.when(F.col("all_numeric"), F.col("inc_numeric")).otherwise(
            F.col("inc_string"))
    return rows.groupBy("table_id", "col").agg(*aggs).select(
        "table_id",
        "col",
        F.coalesce(~F.col("any_overlap"), F.lit(True)).alias("can_be_pk"),
        F.coalesce(increasing, F.lit(True)).alias("values_increasing"),
        "created_sk",
        "has_value",
    )


def inclusion_dependencies(curr: DataFrame) -> DataFrame:
    """A6 — the cross-table inclusion dependencies between columns that
    hold a value, in ONE shuffle join.

    distinct(A) ⊆ distinct(B)  ⇔  |distinct(A) ∩ distinct(B)| = |distinct(A)|.
    Deduped values joined on value; per column-pair match counts compared
    to the left column's distinct count. A column absent from `curr` has
    no value and is ⊆ every other-table column (forall over the empty
    set, SchemaDeriver.scala:63); summarize_schema adds those pairs from
    column_facts' has_value."""
    d = register(curr.select("table_id", "col", "value").distinct().cache())
    n = d.groupBy("table_id", "col").agg(F.count("*").alias("n_distinct"))
    a = d.alias("a")
    b = d.alias("b")
    matched = (
        a.join(b, F.col("a.value") == F.col("b.value"))
        .filter(F.col("a.table_id") != F.col("b.table_id"))
        .groupBy(
            F.col("a.table_id").alias("table_id"),
            F.col("a.col").alias("col"),
            F.col("b.table_id").alias("ref_table"),
            F.col("b.col").alias("ref_col"),
        )
        .agg(F.count("*").alias("n_match"))
    )
    return (
        matched.join(n, ["table_id", "col"])
        .filter(F.col("n_match") == F.col("n_distinct"))
        .select(*PAIR)
    )


def _literal(value) -> Column:
    """A driver-side value as a literal expression; a tuple (a Row
    too) becomes a struct."""
    if isinstance(value, tuple):
        return F.struct(*map(_literal, value))
    return F.lit(value)


def latched_pairs(writes: DataFrame, pairs: set[tuple], born: dict) -> set[tuple]:
    """A6 under the reference's EAGER/LATCHED semantics
    (SchemaDeriver.scala:69-93): the final-state `pairs` (table_id, col,
    ref_table, ref_col) that the reference's per-entry fold still holds
    at the end of the log. `born` maps (table_id, col) to the column's
    created_sk (column_facts).

    The reference recomputes isSubsetOf after EVERY entry, but only ADDS
    a pair at an entry that CREATES one of the two TABLES — not merely
    one of the columns. previousSchema is `schema.clone()`
    (SchemaExtractor.scala:28), a SHALLOW HashMap clone whose Table
    values alias the live objects, so the two column-level
    `previousSchema(t).columns.contains(...)` clauses in the
    newColumns filter see the post-mutation column maps and are
    vacuously false for pre-existing tables; only the table-level
    `!previousSchema.contains(tableName)` clauses can fire. (Round-4
    discovery, pinned against the in-sandbox binary in
    tests/test_ind_semantics.py::test_eager_gate_is_table_birth_not_column_birth:
    a column born into an EXISTING table by a later statement never
    gains and is never gained as an FK target, even when inclusion
    holds from its creation onward.) REMOVALS (the similarColumns
    filter) still happen on every entry, and a removed pair can never
    re-add (its two tables are only ever created once). Net semantics:
    pair (A ⊆ B) is reported iff both columns already exist at
    t0 = max(table_birth(A's table), table_birth(B's table)) — i.e.
    each column appears in its table's very first statement or earlier
    than the other table's birth — and inclusion holds at every
    evaluation step from t0 through the end of the log.

    The final evaluation is the final state, so eager pairs ⊆ final
    pairs: the gate filters the final pairs on the driver (a table's
    birth is its columns' earliest created_sk), and a continuity check
    drops the violated ones — no per-entry replay. Liveness of a value
    in a column is a union of write intervals, and every possible
    violation has a witness at an interval boundary (an A-interval start
    not covered by B, or a B-interval end inside a live A-interval —
    both are real log steps). Hence: holds-at-every-step ⇔ each
    A-interval clipped to [t0, ∞) chains through contiguous B-intervals
    of the same value. The gated pairs are schema-sized (≤ cols²): they
    enter the check as one literal, broadcast, with no driver-built
    frame to scan (createDataFrame of a local list costs a
    Python-worker job per scan), and ONE collect returns the violated
    ones."""
    def order(sk):
        # Spark's ascending order of a collected log position: a null
        # field (a document without a url) comes first
        return tuple((v is not None, v) for v in sk)

    birth: dict = {}
    for (t, _), sk in born.items():
        birth[t] = min(birth.get(t, sk), sk, key=order)
    candidates = []
    for p in pairs:
        # pair birth = the entry creating the LATER of the two TABLES;
        # columns born after it never open the gate (see docstring)
        t0 = max(birth[p[0]], birth[p[2]], key=order)
        if max(order(born[p[:2]]), order(born[p[2:]])) <= order(t0):
            candidates.append((*p, t0))
    if not candidates:
        return set()
    shape = StructType([StructField(c, StringType()) for c in PAIR]
                       + [StructField("t0", writes.schema["sk"].dataType)])
    gated = writes.sparkSession.range(1, numPartitions=1).select(F.inline(
        F.array(*map(_literal, candidates)).cast(ArrayType(shape))))
    iv = _value_intervals(writes)
    a_iv = F.broadcast(gated).join(iv, ["table_id", "col"]).select(
        *PAIR, "t0", "value",
        F.col("start_sk").alias("a_start"), F.col("end_sk").alias("a_end"),
    )
    b_iv = F.broadcast(gated.select(*PAIR)).join(
        iv.select(
            F.col("table_id").alias("ref_table"),
            F.col("col").alias("ref_col"),
            "value", "start_sk", "end_sk",
        ),
        ["ref_table", "ref_col"],
    )
    b_grp = b_iv.groupBy(*PAIR, "value").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("start_sk").alias("s"), F.col("end_sk").alias("e"))
            )
        ).alias("b_ivs")
    )
    joined = a_iv.join(b_grp, [*PAIR, "value"], "left")
    lo = F.greatest(F.col("a_start"), F.col("t0"))
    a_end = F.col("a_end")

    def before(x, end):
        # x < end, where a null end never comes
        return end.isNull() | (x < end)

    # chain coverage: fold sorted B intervals, extending reach while the
    # next interval starts at or before it ([s,e) half-open ⇒ s<=reach
    # means contiguous). A B-interval that never closes extends reach
    # to null, which no later step changes. Covered iff reach is null
    # or passes a_end; an A-interval that never closes needs null.
    reach = F.aggregate(
        F.col("b_ivs"),
        lo,
        lambda acc, x: F.when(
            (x["s"] <= acc) & before(acc, x["e"]), x["e"]
        ).otherwise(acc),
    )
    viol = before(lo, a_end) & (
        F.col("b_ivs").isNull() | (reach.isNotNull() & before(reach, a_end))
    )
    violated = joined.filter(viol).select(*PAIR).distinct().collect()
    return {p[:4] for p in candidates} - {tuple(r) for r in violated}


def discover_schema(
    events: DataFrame,
    strict: bool = False,
    ind_mode: str = "final",
    mono_mode: str = "log",
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Full schema discovery, lazy. Returns the arguments of
    summarize_schema, (columns_df, ind_df, eager_writes):

    columns_df:   (table_id, col, can_be_pk, values_increasing,
                   created_sk, has_value, name_like_pk, is_pk)
    ind_df:       (table_id, col, ref_table, ref_col) — final-state
                  INDs between columns that hold a value
                  (inclusion_dependencies).
    eager_writes: under ind_mode='eager', the cached writes frame that
                  summarize_schema checks the reference's latched fold
                  against (latched_pairs; both modes agree on the
                  shipped artifacts, see tests/test_ind_semantics.py);
                  None under ind_mode='final' (default: final-state
                  inclusion).
    mono_mode:    'log' (default) — values_increasing is the real
                  log-order signal (the reference's documented intent);
                  'reference' — constant True, byte-faithful to the
                  shipped binary whose increasing check is vacuous (see
                  column_facts() docstring; pinned against a real strict
                  console dump in tests/test_reference_golden.py).
    """
    if ind_mode not in ("final", "eager"):
        raise ValueError(f"ind_mode must be 'final' or 'eager', got {ind_mode!r}")
    writes = register(column_writes(events).cache())
    cols = column_facts(writes, mono_mode).withColumn(
        # Java (?i) WITHOUT UNICODE_CASE = ASCII-only folding
        # (Column.scala:146-149 `matches("(?i:.*id)")` etc.) — a
        # KELVIN-SIGN "KEY" must NOT match (binary-probed; the old
        # F.lower() unicode-folded it to "key")
        "name_like_pk", F.col("col").rlike("(?i)(id|nr|key|no)\\z")
    )
    pk_expr = (
        (F.col("can_be_pk") & F.col("values_increasing") & F.col("name_like_pk"))
        if strict
        else F.col("can_be_pk")
    )
    cols = cols.withColumn("is_pk", pk_expr)
    ind = inclusion_dependencies(current_values(writes))
    return cols, ind, writes if ind_mode == "eager" else None


@dataclass(frozen=True)
class SchemaSummary:
    """Driver-side snapshot (tables/columns are few even when rows are
    not) used for trace-graph planning and CLI display."""

    columns: list[dict]
    inds: list[dict]

    @property
    def tables(self) -> list[str]:
        return sorted({c["table_id"] for c in self.columns})

    def pk_candidates(self) -> set[tuple[str, str]]:
        return {(c["table_id"], c["col"]) for c in self.columns if c["is_pk"]}

    def format_console(
        self, strict: bool = False,
        order: tuple[list[str], dict[str, list[str]]] | None = None,
    ) -> str:
        """The reference's schema dump (Table.scala:38-42,
        Column.scala:43-61): per table a 'TABLE <name>' line, then one
        line per column — '<name> (PRIMARY KEY) ' or
        '(STRONG PRIMARY KEY)' under strict, plus
        'FK CANDIDATE FOR: <t>.<c> AND ...' from isSubsetOf.

        The reference iterates HashMaps. By default this sorts tables,
        columns and FK targets for determinism. `order` = (tables,
        {table: columns}) from scala_order.reference_console_order lays
        the dump out in the reference's order instead: tables and
        columns as given, and FK targets as the reference's permutation
        walk leaves them, the other tables in REVERSE table order with
        each table's columns in forward order (see
        oracle.reference_console_dump)."""
        by_col = {(c["table_id"], c["col"]): c for c in self.columns}
        if order is None:
            tables = self.tables
            cols_of = {t: sorted(c for tc, c in by_col if tc == t)
                       for t in tables}
            target_tables = tables
        else:
            tables, cols_of = order
            target_tables = tables[::-1]
        inds = {(i["table_id"], i["col"], i["ref_table"], i["ref_col"])
                for i in self.inds}
        blocks = []
        for t in tables:
            lines = [f"TABLE {t}"]
            for c in cols_of[t]:
                pk = (
                    (" (STRONG PRIMARY KEY)" if strict else " (PRIMARY KEY)")
                    if by_col[(t, c)]["is_pk"]
                    else ""
                )
                targets = [
                    f"{o}.{oc}"
                    for o in target_tables
                    if o != t
                    for oc in cols_of[o]
                    if (t, c, o, oc) in inds
                ]
                fk = "FK CANDIDATE FOR: " + " AND ".join(targets) if targets else ""
                lines.append(f"{c}{pk} {fk}")
            blocks.append("\n".join(lines))
        return "\n\n".join(blocks)

    def fk_pairs(self) -> list[tuple[str, str, str, str]]:
        """ColumnRelations: (fk_table, fk_col, pk_table, pk_col) where the
        REFERENCED column is a PK candidate (RelationsExtractor.scala:207,227)."""
        pks = self.pk_candidates()
        return sorted(
            (i["table_id"], i["col"], i["ref_table"], i["ref_col"])
            for i in self.inds
            if (i["ref_table"], i["ref_col"]) in pks
        )


def summarize_schema(
    cols: DataFrame, ind: DataFrame, eager_writes: DataFrame | None = None,
) -> SchemaSummary:
    """Collect discover_schema's frames into the driver-side schema and
    assemble its INDs there; columns and pairs are schema-sized however
    long the log is. The IND pairs are the self-join's, plus every
    column without a value (has_value false) ⊆ every column of another
    table (SchemaDeriver.scala:63). With `eager_writes` (ind_mode=
    'eager') only the pairs the reference's latched fold keeps survive,
    see latched_pairs. `columns` keeps discover_schema's columns but the
    two IND inputs, created_sk and has_value."""
    columns, born, empty = [], {}, []
    for r in cols.collect():
        c = r.asDict()
        key = (c["table_id"], c["col"])
        born[key] = c.pop("created_sk")
        if not c.pop("has_value"):
            empty.append(key)
        columns.append(c)
    pairs = {tuple(r) for r in ind.collect()}
    pairs |= {(t, c, rt, rc) for t, c in empty for rt, rc in born if rt != t}
    if eager_writes is not None:
        pairs = latched_pairs(eager_writes, pairs, born)
    return SchemaSummary(columns=columns,
                         inds=[dict(zip(PAIR, p)) for p in sorted(pairs)])
