"""Pure-Python oracle re-implementing the reference semantics eagerly.

This module is used ONLY by tests and parity checks: it is a direct,
row-at-a-time restatement of the reference pipeline so the distributed
DataFrame implementation can be verified against it on small inputs.
No pipeline or CLI path imports it: `--reference-console-order` lays
the engine's own schema out with functions/scala_order
.reference_console_order, which reference_console_dump calls too.
It deliberately mirrors the eager fold structure of the Scala code
(cited per function) including its quirks (NULL -> "UL" token stripping,
greedy regex splits, delete-only-named-columns value removal).

Two deliberate divergences, shared with the Spark engine and documented
in SURVEY.md §1.3:
  * ROWID incarnations are deterministic ("<orig>#<k>") instead of the
    reference's random 4-char suffix (EventExtractor.scala:95-111); the
    invariant preserved is uniqueness per entity lifetime.
  * The monotonic-increase check is defined over log-ordered writes, not
    HashMap iteration order (Column.scala:105 is order-unstable). The
    numeric-vs-string branch gate IS replicated exactly: both row ids
    and values must parse as doubles (Column.scala:104-106), so
    non-numeric row ids (every real Oracle ROWID) force the string
    branch. The gate is evaluated over the whole write history rather
    than per change — a column whose values/ids turn non-numeric
    mid-log is a documented divergence boundary (SURVEY §7).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime

from .config import PipelineConfig, DEFAULT_CONFIG
from .functions.javaspace import (
    java_equals_ignore_case, py_is_blank, py_java_trim)
from .functions.javatime import compile_java_ts_format, py_smart_resolve
from .functions.scala_order import reference_console_order

# Regexes lifted verbatim from parser/package.scala:19-27. Scala's
# `val pattern(g...) = s` requires a FULL match, so re.fullmatch is used.
# \s and . are spelled out as their JAVA semantics (Python's are wider:
# \s matches NBSP/Zs, . refuses only \n) — functions/javaspace.py and
# functions/parse.py carry the same classes.
_S = r"[ \t\n\x0b\f\r]"       # Java regex \s
_D = "[^\n\r\x85\u2028\u2029]"  # Java regex . (no line terminators)
STATEMENT_TYPE_RE = re.compile(rf"(insert|update|delete){_S}{_D}*")
INSERT_RE = re.compile(rf'insert into "{_D}+"[(]({_D}+)[)] values [(]({_D}+)[)];')
DELETE_RE = re.compile(rf'delete from "{_D}+" where ({_D}+);')
UPDATE_RE = re.compile(
    rf'update "{_D}+" set ({_D}+) = ({_D}+) where ({_D}+) = ({_D}+) and {_D}*;'
)
ATTR_VALUE_RE = re.compile(rf"({_D}+) = ({_D}+)")
TABLE_RE = re.compile(
    rf'(insert|update|delete)({_S}|{_S}into{_S}|{_S}from{_S})'
    rf'("{_D}*")([(]|{_S}set|{_S}where){_D}*;'
)


def java_split(s: str, sep: str) -> list[str]:
    """Java String.split(sep) semantics: trailing empty strings removed."""
    parts = s.split(sep)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def strip_ends(tok: str) -> str:
    """substring(1, len-1) (FileParser.scala:91,94,120-122,144).

    The reference throws StringIndexOutOfBounds for tokens shorter than
    2 chars; the oracle raises ValueError so tests can assert the engine
    flags the same rows as parse errors.
    """
    if len(tok) < 2:
        raise ValueError(f"token too short to strip: {tok!r}")
    return tok[1:-1]


@dataclass
class ParsedEntry:
    """LogEntryWithRedoStatement (parser/package.scala:50-55), flattened."""

    seq: int
    statement: str
    row_id: str
    table_id: str
    ts: datetime
    op: str  # insert | update | delete
    insert_map: dict[str, str] | None = None
    insert_cols: list[str] | None = None  # statement order
    insert_vals: list[str] | None = None
    upd_attr: str | None = None
    upd_new: str | None = None
    upd_old: str | None = None
    delete_map: dict[str, str] | None = None
    delete_cols: list[str] | None = None
    delete_vals: list[str] | None = None


def chunk_lines(lines: list[str]) -> list[list[str]]:
    """FileParser.scala:22: drop blank lines (String.isBlank — the
    Character.isWhitespace set, not Python's), group in pairs."""
    nonblank = [ln for ln in lines if not py_is_blank(ln)]
    return [nonblank[i : i + 2] for i in range(0, len(nonblank), 2)]


def parse_chunk(chunk: list[str], cfg: PipelineConfig) -> tuple[str, str, datetime]:
    """translateChunkToLogEntry (FileParser.scala:52-61). Edge trims are
    String.trim (<= \\x20), not Python strip()."""
    statement = py_java_trim(chunk[0])
    row_id, _, rest = chunk[1].partition(" ")  # split(" ", 2)
    ts_string = re.sub(" +", " ", py_java_trim(rest))
    rx, _, strptime_fmt = compile_java_ts_format(cfg.ts_format_java)
    if not re.fullmatch(rx, ts_string):
        raise ValueError(
            f"timestamp {ts_string!r} does not match {cfg.ts_format_java!r}")
    try:
        ts = datetime.strptime(ts_string, strptime_fmt)
    except ValueError:
        # java.time default ResolverStyle.SMART (functions/javatime.py,
        # binary-probed): 31-APR -> Apr 30, 24:00:00 -> next-day 00:00
        ts = py_smart_resolve(ts_string, cfg.ts_format_java)
        if ts is None:
            raise
    return statement, row_id, ts


def parse_statement(statement: str, seq: int, row_id: str, ts: datetime) -> ParsedEntry:
    """parseLogStatement + extract* (FileParser.scala:66-147) and
    parseTableIdentifier (FileParser.scala:152-155)."""
    m = STATEMENT_TYPE_RE.fullmatch(statement)
    if not m:
        raise ValueError(f"unknown statement type: {statement!r}")
    op = m.group(1)
    tm = TABLE_RE.fullmatch(statement)
    if not tm:
        raise ValueError(f"no table id: {statement!r}")
    table_id = tm.group(3)
    entry = ParsedEntry(
        seq=seq, statement=statement, row_id=row_id, table_id=table_id, ts=ts, op=op
    )
    if op == "insert":
        im = INSERT_RE.fullmatch(statement)
        if not im:
            raise ValueError(f"bad insert: {statement!r}")
        cols = [strip_ends(c) for c in java_split(im.group(1), ",")]
        vals = [strip_ends(v) for v in java_split(im.group(2), ",")]
        if len(cols) != len(vals):
            raise ValueError(f"insert arity mismatch: {statement!r}")
        entry.insert_cols, entry.insert_vals = cols, vals
        # duplicate column names collapse LAST-wins with first-
        # occurrence position, exactly like the reference's
        # mutable.HashMap fold (FileParser.scala:100-104) — all
        # semantic consumers must read THIS map, not the raw lists
        entry.insert_map = dict(zip(cols, vals))
    elif op == "update":
        um = UPDATE_RE.fullmatch(statement)
        if not um:
            raise ValueError(f"bad update: {statement!r}")
        attr1, new, attr2, old = um.groups()
        if attr1 != attr2:
            raise ValueError(f"update attr mismatch: {statement!r}")
        entry.upd_attr = strip_ends(attr1)
        entry.upd_new = strip_ends(new)
        entry.upd_old = strip_ends(old)
    else:  # delete
        dm = DELETE_RE.fullmatch(statement)
        if not dm:
            raise ValueError(f"bad delete: {statement!r}")
        cols, vals = [], []
        for pair in java_split(dm.group(1), " and "):
            pm = ATTR_VALUE_RE.fullmatch(pair)
            if not pm:
                raise ValueError(f"bad delete predicate: {pair!r}")
            attr, value = pm.groups()
            if attr.startswith('"') or attr.startswith("'"):
                attr = strip_ends(attr)
            cols.append(attr)
            vals.append(strip_ends(value))
        entry.delete_cols, entry.delete_vals = cols, vals
        entry.delete_map = dict(zip(cols, vals))
    return entry


def parse_log_lines(lines: list[str], cfg: PipelineConfig = DEFAULT_CONFIG) -> list[ParsedEntry]:
    """getAndParseLogFile + parseLogEntries (FileParser.scala:19-47)."""
    entries = []
    for seq, chunk in enumerate(chunk_lines(lines)):
        statement, row_id, ts = parse_chunk(chunk, cfg)
        entries.append(parse_statement(statement, seq, row_id, ts))
    return entries


def parse_records(records: list[str], cfg: PipelineConfig = DEFAULT_CONFIG) -> list[ParsedEntry]:
    """Documents mode: each record is one 2-line text cell."""
    entries = []
    for seq, rec in enumerate(records):
        # blank-line skip = Java String.isBlank, same as chunk_lines and
        # both Spark kernels (a NBSP-only line is a STATEMENT line; a
        # U+001C/U+2028-only line is blank) — review r5s5 parity fix
        chunk = [ln for ln in rec.split("\n") if not py_is_blank(ln)]
        statement, row_id, ts = parse_chunk(chunk, cfg)
        entries.append(parse_statement(statement, seq, row_id, ts))
    return entries


def uniquify_row_ids(entries: list[ParsedEntry]) -> list[ParsedEntry]:
    """EventExtractor.transformRowIdentifiers (EventExtractor.scala:21-87)
    with deterministic '#k' incarnation suffixes.

    Reference rules (:44-87): first sighting keeps the id; a later insert,
    or any statement after a delete was recorded for the current
    incarnation, starts a new incarnation; updates/deletes on a live
    incarnation reuse it.
    """
    incarnation: dict[str, int] = {}
    last_op_cur: dict[str, str] = {}  # last op seen for current incarnation
    out = []
    for e in entries:
        orig = e.row_id
        if orig not in incarnation:
            incarnation[orig] = 0
        elif e.op == "insert" or last_op_cur.get(orig) == "delete":
            incarnation[orig] += 1
        last_op_cur[orig] = e.op
        k = incarnation[orig]
        new_id = orig if k == 0 else f"{orig}#{k}"
        e2 = ParsedEntry(**{**e.__dict__, "row_id": new_id})
        out.append(e2)
    return out


@dataclass
class OracleColumn:
    """schema.Column (Column.scala:16-30)."""

    name: str
    table: str
    can_be_pk: bool = True
    values_increasing: bool = True
    is_subset_of: list[tuple[str, str]] = field(default_factory=list)
    values: dict[str, str] = field(default_factory=dict)  # row_id -> value
    write_history: list[str] = field(default_factory=list)  # log-ordered writes
    write_history_ids: list[str] = field(default_factory=list)  # row ids of those writes

    def verify_value_uniqueness(self) -> None:
        """Column.scala:79-84 (sticky false)."""
        vals = list(self.values.values())
        if len(vals) > len(set(vals)):
            self.can_be_pk = False

    def verify_increasing_on_change(self) -> None:
        """Column.scala:95-130 over log-ordered write history (see module
        docstring for the deliberate ordering divergence).

        Branch gate per Column.scala:104-106: the reference coerces BOTH
        the row id and the value with .toDouble, so a single non-numeric
        row id (every real Oracle ROWID) forces the case-insensitive
        string comparison even for all-numeric values."""
        if not self.values_increasing:
            return
        vals = self.write_history
        try:
            for rid in self.write_history_ids:
                float(rid)
            nums = [float(v) for v in vals]
            mono = all(a < b for a, b in zip(nums, nums[1:]))
        except ValueError:
            low = [v.lower() for v in vals]
            mono = all(a < b for a, b in zip(low, low[1:]))
        if not mono:
            self.values_increasing = False

    def name_like_pk(self) -> bool:
        """Column.scala:145-151."""
        # (?a): Java's (?i) is ASCII-only folding (no UNICODE_CASE) —
        # Python IGNORECASE alone would unicode-fold a KELVIN-SIGN
        # "KEY" to a match the reference refuses (binary-probed)
        return bool(re.fullmatch(r"(?ai).*(id|nr|key|no)", self.name))

    def is_pk_candidate(self, strict: bool) -> bool:
        if strict:
            return self.can_be_pk and self.values_increasing and self.name_like_pk()
        return self.can_be_pk


def extract_schema(
    entries: list[ParsedEntry], strict: bool = False
) -> dict[str, dict[str, OracleColumn]]:
    """SchemaExtractor.extractDatabaseSchema (SchemaExtractor.scala:21-46)
    + final-state IND derivation (SchemaDeriver.scala:31-95 collapses to
    final-state on our fixtures; SURVEY.md §1.3 item 4)."""
    schema: dict[str, dict[str, OracleColumn]] = {}
    for e in entries:
        table = schema.setdefault(e.table_id, {})
        affected: list[str] = []
        if e.op == "insert":
            for col, val in e.insert_map.items():
                c = table.get(col)
                if c is None:
                    table[col] = c = OracleColumn(col, e.table_id)
                    c.values[e.row_id] = val
                    c.write_history.append(val)
                    c.write_history_ids.append(e.row_id)
                else:
                    c.values[e.row_id] = val
                    c.write_history.append(val)
                    c.write_history_ids.append(e.row_id)
                    c.verify_increasing_on_change()
                affected.append(col)
        elif e.op == "update":
            c = table.get(e.upd_attr)
            if c is None:
                table[e.upd_attr] = c = OracleColumn(e.upd_attr, e.table_id)
                c.values[e.row_id] = e.upd_new
                c.write_history.append(e.upd_new)
                c.write_history_ids.append(e.row_id)
            else:
                c.values[e.row_id] = e.upd_new
                c.write_history.append(e.upd_new)
                c.write_history_ids.append(e.row_id)
                c.verify_increasing_on_change()
            affected.append(e.upd_attr)
        else:  # delete: only columns named in the where clause, minus ROWID
            for col in e.delete_cols:
                if col == "ROWID":
                    continue
                c = table.get(col)
                if c is None:
                    table[col] = OracleColumn(col, e.table_id)
                else:
                    c.values.pop(e.row_id, None)
                affected.append(col)
        for col in affected:
            table[col].verify_value_uniqueness()

    # Final-state inclusion dependencies across tables
    # (SchemaDeriver.scala:49-95): distinct(A) ⊆ distinct(B), A's table != B's.
    all_cols = [c for t in schema.values() for c in t.values()]
    for a in all_cols:
        da = set(a.values.values())
        for b in all_cols:
            if b.table == a.table:
                continue
            if da <= set(b.values.values()):
                a.is_subset_of.append((b.table, b.name))
    return schema


def eager_inds_replay(entries: list[ParsedEntry]) -> set[tuple[str, str, str, str]]:
    """Faithful SET-LEVEL replay of the reference's eager IND loop
    (SchemaExtractor.scala:27-45 + SchemaDeriver.scala:31-95), the
    ground truth for ind_mode='eager' on logs too large to push through
    the binary's per-entry O(tables!) permutation walk.

    Key facts (round 4, pinned against the binary on probe logs in
    tests/test_ind_semantics.py):
      * previousSchema is a SHALLOW clone, so the add-gate opens only at
        entries that CREATE a table — pairs can only be born when the
        later of their two tables is born, and only between columns
        that exist at that entry;
      * removal (the similarColumns filter) runs at EVERY entry over
        current distinct values; a removed pair never re-adds;
      * at set level the permutation order is irrelevant (membership in
        similar/new is order-free), so one pass per entry suffices.

    Returns {(table, col, ref_table, ref_col)}: col's values ⊆ ref's."""
    values: dict[tuple[str, str], dict[str, str]] = {}  # (tbl,col) -> row->val
    tables_seen: list[str] = []
    cols_of: dict[str, list[str]] = {}
    stored: set[tuple[tuple[str, str], tuple[str, str]]] = set()

    def distinct(c):
        return set(values[c].values())

    def holds(a, b):
        return distinct(a) <= distinct(b)

    for e in entries:
        new_table = e.table_id not in cols_of
        if new_table:
            tables_seen.append(e.table_id)
            cols_of[e.table_id] = []
        touched: list[tuple[str, str]] = []

        def touch(col, write=None, delete_row=None):
            key = (e.table_id, col)
            if key not in values:
                values[key] = {}
                cols_of[e.table_id].append(col)
            if write is not None:
                values[key][e.row_id] = write
            if delete_row is not None:
                values[key].pop(delete_row, None)
            touched.append(key)

        if e.op == "insert":
            for col, val in e.insert_map.items():
                touch(col, write=val)
        elif e.op == "update":
            touch(e.upd_attr, write=e.upd_new)
        else:
            for col in e.delete_cols:
                if col == "ROWID":
                    continue
                touch(col, delete_row=e.row_id)

        # removals: any stored pair involving a touched column is the
        # only kind that can newly break at this evaluation
        if touched:
            tset = set(touched)
            stored = {
                (a, b)
                for (a, b) in stored
                if (a not in tset and b not in tset) or holds(a, b)
            }
        # additions: only when this entry created a table — new pairs
        # between the new table's columns and every older column, both
        # directions, if inclusion holds RIGHT NOW
        if new_table and len(cols_of) > 1:
            new_cols = [(e.table_id, c) for c in cols_of[e.table_id]]
            old_cols = [
                (t, c)
                for t in tables_seen
                if t != e.table_id
                for c in cols_of[t]
            ]
            for a in new_cols:
                for b in old_cols:
                    if holds(a, b):
                        stored.add((a, b))
                    if holds(b, a):
                        stored.add((b, a))
    return {(a[0], a[1], b[0], b[1]) for (a, b) in stored}


def reference_console_dump(entries: list[ParsedEntry], strict: bool = False) -> str:
    """BYTE-faithful replica of the reference's console schema dump
    (cli/package.scala:55-66: `databaseSchema.map(_._2.toString)
    .mkString("\\n\\n")` over Table.toString / Column.toString) —
    including every Scala-HashMap iteration order the reference leaks:

      * TABLE and COLUMN order: the schema's mutable.HashMap
        iteration, functions/scala_order.reference_console_order (the
        CLI's --reference-console-order uses the same function);
      * FK-target order within a line: the stored isSubsetOf sequence
        after the permutation walk. Every entry re-evaluates candidates
        per permutation of schema.toSeq and rewrites the stored seq on
        ANY list inequality (including pure reorders, via the
        similarColumns filter), so after each entry the seq equals the
        LAST head-X permutation's candidate order: other tables in
        REVERSE map-iteration order, each table's columns in FORWARD
        map order. Final dump order = that of the final schema.

    PK markers: plain = canBePrimaryKey (sticky uniqueness); strict =
    canBePrimaryKey && areValuesIncreasing && name-regex where the
    increasing check is the shipped binary's VACUOUSLY-TRUE one
    (Column.scala:104-124 cons-pattern; round-3 discovery). FK pairs =
    eager_inds_replay (table-birth gate). Validated byte-for-byte
    against the in-sandbox binary in
    tests/test_reference_console_order.py."""
    schema = extract_schema(entries)
    pairs = eager_inds_replay(entries)
    t_order, c_order = reference_console_order(
        (e.table_id, e.op, e.insert_cols, e.upd_attr, e.delete_cols)
        for e in entries)

    blocks = []
    for t in t_order:
        lines = [f"TABLE {t}"]
        for c in c_order[t]:
            col = schema[t][c]
            if strict:
                # areValuesIncreasing is constant-true in the binary
                pk = (" (STRONG PRIMARY KEY)"
                      if col.can_be_pk and col.name_like_pk() else "")
            else:
                pk = " (PRIMARY KEY)" if col.can_be_pk else ""
            targets = [
                f"{o}.{oc}"
                for o in reversed(t_order)
                if o != t
                for oc in c_order[o]
                if (t, c, o, oc) in pairs
            ]
            fk = ("FK CANDIDATE FOR: " + " AND ".join(targets)
                  if targets else "")
            lines.append(f"{c}{pk} {fk}")
        blocks.append("\n".join(lines))
    return "\n\n".join(blocks)


def entity_edges(
    entries: list[ParsedEntry],
    schema: dict[str, dict[str, OracleColumn]],
    strict: bool = False,
) -> set[tuple[str, str, str, str]]:
    """RelationsExtractor (RelationsExtractor.scala:60-181): for every
    FK→PK column relation, match first-insert values of left entities to
    insert values of right entities. Returns undirected entity edges as
    (left_table, left_row, right_table, right_row) tuples, deduped."""
    first_insert: dict[tuple[str, str], ParsedEntry] = {}
    for e in entries:
        if e.op == "insert":
            first_insert.setdefault((e.table_id, e.row_id), e)

    edges: set[tuple[str, str, str, str]] = set()
    for table in schema.values():
        for col in table.values():
            for tgt_table, tgt_col in col.is_subset_of:
                tgt = schema[tgt_table][tgt_col]
                if not tgt.is_pk_candidate(strict):
                    continue  # RelationsExtractor.scala:207,227
                # match insert values of col's table vs tgt's table
                left = [
                    (e.row_id, e.insert_map[col.name])
                    for (t, _), e in first_insert.items()
                    if t == col.table and col.name in e.insert_map
                ]
                right = [
                    (e.row_id, e.insert_map[tgt_col])
                    for (t, _), e in first_insert.items()
                    if t == tgt_table and tgt_col in e.insert_map
                ]
                rvals: dict[str, list[str]] = {}
                for rid, v in right:
                    rvals.setdefault(v, []).append(rid)
                for lrid, v in left:
                    for rrid in rvals.get(v, []):
                        edges.add((col.table, lrid, tgt_table, rrid))
    return edges


def build_traces(
    entries: list[ParsedEntry],
    schema: dict[str, dict[str, OracleColumn]],
    root: str,
    strict: bool = False,
) -> list[list[ParsedEntry]]:
    """createTracesForPattern (TraceIDParser.scala:40-89): root entities
    found buckets; bucket ids propagate along the FK entity-edge graph
    walking tables without revisiting a table on the current path
    (TraceBinningAssigner.scala:20-82); every log entry joins every
    bucket its (table, row) was assigned to (TraceIDParserHelper.scala:43-59).
    """
    edges = entity_edges(entries, schema, strict)
    # table-level adjacency with per-table entity maps
    adj: dict[str, set[str]] = {}
    by_pair: dict[tuple[str, str], dict[str, set[str]]] = {}
    for lt, lr, rt, rr in edges:
        adj.setdefault(lt, set()).add(rt)
        adj.setdefault(rt, set()).add(lt)
        by_pair.setdefault((lt, rt), {}).setdefault(lr, set()).add(rr)
        by_pair.setdefault((rt, lt), {}).setdefault(rr, set()).add(lr)

    # root entities in first-appearance order (G3; deterministic stand-in
    # for the reference's grouping order, TraceIDParserHelper.scala:18-37).
    # Gathering is Java equalsIgnoreCase over table ids (Helper:23) and
    # each entity keeps its OWN exact table id; the relation walk below
    # starts from the EXACT-case root only (TraceIDParser.scala:73) —
    # fuzz axes `caseclash`/`unicase`
    seen: dict[str, int] = {}
    table_of: dict[str, str] = {}
    for e in entries:
        if (java_equals_ignore_case(e.table_id, root)
                and e.row_id not in seen):
            seen[e.row_id] = len(seen)
            table_of[e.row_id] = e.table_id
    n_buckets = len(seen)

    # (table, row) -> set of buckets, via path-restricted DFS over tables
    assigned: dict[tuple[str, str], set[int]] = {}
    if root in schema:
        root_table_actual = root
    else:
        ci = [t for t in schema if java_equals_ignore_case(t, root)]
        if len(ci) > 1:
            # mirror the engine's traces.resolve_roots: an argv matching two
            # case-siblings and neither exactly is ambiguous
            raise ValueError(
                f"root class {root!r} matches {len(ci)} tables "
                "case-insensitively and none exactly"
            )
        root_table_actual = ci[0] if ci else root
    for rid, bucket in seen.items():
        assigned.setdefault((table_of[rid], rid), set()).add(bucket)

    def walk(table: str, rows: dict[str, set[int]], path: frozenset[str]) -> None:
        for nxt in adj.get(table, ()):  # noqa: B007
            if nxt in path:
                continue
            pair = by_pair.get((table, nxt), {})
            nxt_rows: dict[str, set[int]] = {}
            for row, buckets in rows.items():
                for other in pair.get(row, ()):  # noqa: B007
                    nxt_rows.setdefault(other, set()).update(buckets)
                    assigned.setdefault((nxt, other), set()).update(buckets)
            if nxt_rows:
                walk(nxt, nxt_rows, path | {table})

    walk(
        root_table_actual,
        {rid: {b} for rid, b in seen.items()
         if table_of[rid] == root_table_actual},
        frozenset({root_table_actual}),
    )

    buckets: list[list[ParsedEntry]] = [[] for _ in range(n_buckets)]
    for e in entries:  # log order preserved (TraceIDParserHelper.scala:48-56)
        for b in sorted(assigned.get((e.table_id, e.row_id), ())):
            buckets[b].append(e)
    return buckets


def xes_timestamp(ts: datetime) -> str:
    """TraceIDParser.scala:131-139: ISO, :00-padded seconds, fixed suffix."""
    return ts.strftime("%Y-%m-%dT%H:%M:%S") + ".000+00:00"


def xes_event_name(e: ParsedEntry, include_update_values: bool = False) -> str:
    """TraceIDParser.scala:122-129."""
    if e.op == "insert":
        return f"Add {e.table_id} entity"
    if e.op == "update":
        if include_update_values:
            return (
                f"Update {e.upd_attr} value of {e.table_id} entity"
                f" to {e.upd_new}"
            )
        return f"Update {e.upd_attr} value of {e.table_id} entity"
    return f"Delete entity from {e.table_id}"


def _xml_escape_attr(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def xes_trace_xml(trace: list[ParsedEntry], include_update_values: bool = False) -> str:
    """One <trace> element (TraceIDParser.scala:101-146), canonical
    single-line form used for golden comparisons."""
    events = "".join(
        "<event>"
        f'<string key="concept:name" value="{_xml_escape_attr(xes_event_name(e, include_update_values))}"/>'
        f'<date key="time:timestamp" value="{xes_timestamp(e.ts)}"/>'
        "</event>"
        for e in trace
    )
    return f"<trace>{events}</trace>"
