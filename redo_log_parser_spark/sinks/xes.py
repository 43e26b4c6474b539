"""XES sink (S3 — TraceIDParser.serializeLogToDisk, :153-160).

write_xes_document assembles ONE complete .xes file (header + traces +
footer) like the reference CLI does, in the reference's layout: it
pretty-prints with scala.xml.PrettyPrinter(200, 2) and re-saves with
XML.save (TraceIDParser.scala:153-160), i.e. 2-space steps, every event
broken over four lines, and XML.save's single-quoted xml declaration.
The trace blocks come from functions.xes.trace_xml_pretty; the layout
is pinned byte-wise by golden tests against real reference output.

Trace order defaults to a sort of the case ids; pass
case_order=reference_trace_orders(events, roots)[root] for the
reference binary's exact document order (whole-file byte equality).
Content per trace has log order.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..functions.scala_order import reference_row_id_map, scala212_groupby_order
from ..functions.xes import xes_pretty_header
from ..operators.traces import resolve_roots


def write_xes_document(
    traces_xml: DataFrame, path: str, root_table: str,
    case_order: list[str] | None = None,
) -> int:
    """Write one complete XES 2.0 document in the reference's
    PrettyPrinter(200,2) layout. `traces_xml` is a frame produced by
    functions.xes.trace_xml_pretty (its trace_xml blocks carry the
    indentation). Returns the trace count.

    ONE Spark job: (case_id, trace_xml) is collected once and ordered
    on the driver, by `case_order` when given, else by sorted case id.
    Python sorts strings by code point, which is the UTF-8 byte order
    Spark sorts by. The driver holds every pretty block at once, so
    the collect is bounded by spark.driver.maxResultSize: this sink is
    for reference-CLI-sized outputs, the parquet `traces_xes` sink is
    the scale path.

    case_order is an explicit document-level trace order as a list of
    case ids: pass reference_trace_orders(...)[root] to reproduce the
    reference binary's Scala-HashMap trace order byte-for-byte.

    Raises ValueError on a null or duplicate case id, and when
    case_order names a different set of cases than the data."""
    collected = traces_xml.select("case_id", "trace_xml").collect()
    by_case = {r["case_id"]: r["trace_xml"] for r in collected}
    # replica-divergence signals, not conditions to paper over: a
    # duplicate case_id would silently collapse into one dict entry,
    # and a stale/extra id in the replayed order would silently skip
    if None in by_case:
        raise ValueError("traces_xml carries a null case id")
    if len(by_case) != len(collected):
        from collections import Counter
        dups = [c for c, k in Counter(
            r["case_id"] for r in collected).items() if k > 1]
        raise ValueError(
            f"traces_xml carries duplicate case ids, e.g. "
            f"{sorted(dups)[:3]} — one trace per case expected"
        )
    if case_order is None:
        case_order = sorted(by_case)
    else:
        missing = set(by_case) - set(case_order)
        extra = set(case_order) - set(by_case)
        if missing or extra:
            raise ValueError(
                f"case_order disagrees with the data: "
                f"{len(missing)} case ids absent from the order "
                f"(e.g. {sorted(missing)[:3]}), {len(extra)} order "
                f"entries absent from the data (e.g. {sorted(extra)[:3]})"
            )
    # renamed into place: a failed write leaves no truncated document
    tmp = path + ".tmp"
    try:
        with open(tmp, "w", encoding="utf-8", newline="") as fh:
            fh.write(xes_pretty_header(root_table) + "\n")
            for c in case_order:
                fh.write(by_case[c] + "\n")
            fh.write("</log>")
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return len(case_order)


# the most clean rows collect_clean_log brings to the driver
REPLAY_MAX_ROWS = 1_000_000


def collect_clean_log(frame: DataFrame, cols: Iterable[str]) -> list[Row]:
    """The clean rows of a parsed or event frame (null `parse_error`),
    `cols` only, in log order (ts, url), for the driver-side replays of
    the reference's HashMap orders (the CLI's --reference-console-order
    and --reference-trace-order). Raises ValueError beyond
    REPLAY_MAX_ROWS: those replays are for reference-CLI-sized logs."""
    if "parse_error" in frame.columns:
        frame = frame.filter(F.col("parse_error").isNull())
    # ONE job: limit(REPLAY_MAX_ROWS + 1) both enforces the guard and
    # collects (a separate count() would recompute the whole lineage —
    # exactly on the large uncached inputs the guard exists for)
    rows = (frame.orderBy("ts", "url").select(*cols)
            .limit(REPLAY_MAX_ROWS + 1).collect())
    if len(rows) > REPLAY_MAX_ROWS:
        raise ValueError(
            f"the log has more than {REPLAY_MAX_ROWS:,} clean rows: "
            "--reference-console-order and --reference-trace-order "
            "replay the reference's orders on the driver, for "
            "reference-CLI-sized logs only. Run without them; the "
            "default sorted orders have no row limit."
        )
    return rows


def reference_trace_orders(
    events: DataFrame, roots: Iterable[str],
) -> dict[str, list[str]]:
    """The reference binary's document-level trace order for each root,
    as this engine's case ids (round-3 VERDICT #5 — closes the one
    remaining .xes divergence, the trace-block multiset
    canonicalization).

    The reference emits traces in `logEntries.groupBy(_.rowID)`
    iteration order over the root table's entries
    (TraceIDParser.scala:46-57, TraceIDParserHelper.scala:19-25) —
    Scala 2.12 immutable-HashMap order over its (randomly suffixed)
    row-id strings. Both layers are replicated in pure Python
    (functions/scala_order.py, each pinned against the in-sandbox
    Scala 2.12.19 toolchain): the seeded suffix stream rebuilds the
    reference's row-id strings from this engine's deterministic
    `orig#k` ids, and the HAMT replica orders them. Driver-side over
    the collected event log, collected once for all roots —
    reference-CLI-sized inputs only (collect_clean_log's guard). The
    suffix stream has the seed of the reference CLI run,
    reference_row_id_map's default."""
    collected = collect_clean_log(
        events, ("orig_row_id", "row_id", "op", "table_id"))
    ref_map = reference_row_id_map(
        [(r["orig_row_id"], r["op"]) for r in collected])
    # The reference's bucket order is a NESTED groupBy (TraceIDParser
    # .scala:46-57): outer `logEntries.groupBy(_.tableID)` over ALL
    # tables — iterated in Scala-Map order, filtered equalsIgnoreCase
    # to the root (Helper:23) — then per table `groupBy(_.rowID)`.
    # With case-colliding table names (fuzz axis `caseclash`) BOTH
    # siblings contribute, each under its own per-table row order, in
    # the table-map's iteration order over the FULL table-id key set.
    table_ids = list(dict.fromkeys(r["table_id"] for r in collected))
    table_order = scala212_groupby_order(table_ids)
    return {
        root: _trace_order(collected, ref_map, table_order, set(tables))
        for root, (_, tables) in resolve_roots(list(roots), table_ids).items()
    }


def _trace_order(
    collected: list, ref_map: dict, table_order: list[str], root_tables: set,
) -> list[str]:
    """One root's trace order over the collected, log-ordered event
    rows of the tables it gathers; see reference_trace_orders."""
    seen: dict[str, str] = {}
    seen_orig: dict[str, str] = {}
    rows_in_table: dict[str, list[str]] = {}
    for r in collected:
        t = r["table_id"]
        if t not in root_tables:
            continue
        cid = r["row_id"]
        if cid not in seen:
            rows_in_table.setdefault(t, []).append(cid)
            orig = r["orig_row_id"]
            # incarnation index by PREFIX slice against the known orig id
            # (cid == concat(orig, '#', k) by construction) — rsplit would
            # mis-parse an orig that itself contains '#' (ADVICE r4)
            if cid == orig:
                k = 0
            elif cid.startswith(orig + "#"):
                k = int(cid[len(orig) + 1:])
            else:
                raise ValueError(
                    f"row_id {cid!r} is not orig_row_id {orig!r} plus an "
                    "incarnation suffix - was uniquify_row_ids applied?"
                )
            seen[cid] = ref_map[(orig, k)]
            seen_orig[cid] = orig
        elif seen_orig[cid] != r["orig_row_id"]:
            # two distinct source ids collided in incarnation space, e.g.
            # orig 'A' incarnation 1 vs a literal source id 'A#1'
            raise ValueError(
                f"incarnation-id collision: {cid!r} arises from both "
                f"{seen_orig[cid]!r} and {r['orig_row_id']!r}; source row "
                "ids containing '#' are ambiguous under the deterministic "
                "suffix scheme (SURVEY.md §1.3.3)"
            )
    out: list[str] = []
    for t in table_order:
        if t not in root_tables:
            continue
        ref_ids = [seen[cid] for cid in rows_in_table.get(t, [])]
        ours_of = {seen[cid]: cid for cid in rows_in_table.get(t, [])}
        out.extend(
            ours_of[rid] for rid in scala212_groupby_order(ref_ids)
        )
    return out
