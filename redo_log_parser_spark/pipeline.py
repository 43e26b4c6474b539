"""End-to-end batch pipeline: parse → enrich → route → aggregate.

Mirrors the reference CLI run (cli/Main.scala:103-155) re-planned for
Spark (SURVEY.md §3.1):

  1. parse          pandas-UDF kernel over documents.text (html pruned)
  2. uniquify       ROWID incarnation window
  3. enrich         broadcast dictionary joins (table names, lang names)
  4. route          fan-out sinks by op + rejects (single pass)
  5. discover       schema aggregates → driver summary (small)
  6. traces         entity edges → one level-synchronous case walk for
                    all roots → one (root, case_id) collect, cached; each
                    root's parquet sink and .xes read that one frame
  7. serialize      per-trace XES XML strings → sink

Only step 1 is bucket-local (the CLI checkpoints it per url-hash bucket,
sinks/lineage.py); step 2 is a window over row ids and 5-7 shuffle on
(table,col,row) / value / case keys, so `run_parsed` runs steps 2-7 once
over the whole parsed log. It is written as its list of stages, each a
`stage` block that tags its Spark jobs `rlps:<stage>`:

  fanout    the cached uniquified `events` frame and the routed sinks
  discover  the schema summary
  traces    every root's traces_xes sink; the first write fills the
            cached trace frame all roots share
  xes       every root's .xes document (cfg.xes_document)
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .caching import operator_caches, register
from .config import PipelineConfig, DEFAULT_CONFIG
from .functions.parse import parse_documents
from .functions.xes import trace_xml, with_xes_columns
from .operators.rowid import uniquify_row_ids
from .operators.schema_discovery import discover_schema, summarize_schema, SchemaSummary
from .operators.traces import (
    assign_entries,
    collect_traces,
    entity_edges,
    propagate_cases,
    root_cases,
)
from .sinks.fanout import write_fanout


def enrich(events: DataFrame, table_dict: DataFrame | None = None,
           lang_map: DataFrame | None = None) -> DataFrame:
    """J4 — broadcast lookup joins (BASELINE.json north_star: schema /
    table-name dictionaries, lang maps). Dimensions are small by
    construction → forced broadcast, no shuffle of the event stream."""
    out = events
    if table_dict is not None:
        out = out.join(F.broadcast(table_dict), "table_id", "left")
    if lang_map is not None and "lang" in out.columns:
        out = out.join(F.broadcast(lang_map), "lang", "left")
    return out


def _safe_root_names(roots) -> dict[str, str]:
    """root → filesystem-safe sink suffix ('"SYS"."ORDERS"' →
    'SYS_._ORDERS'), collision-proof: sanitizing is lossy ('"S"."T"'
    and 'S_._T' both map to 'S_._T'), and a collision would silently
    overwrite one root's traces_xes dir and _result.xes. Colliding
    names get a short content hash suffix so every root keeps its own
    sink."""
    base = {rc: re.sub(r"[^A-Za-z0-9_.-]+", "_", rc).strip("_")
            for rc in roots}
    counts = Counter(base.values())
    return {
        rc: (
            name
            if counts[name] == 1
            else f"{name}-{hashlib.md5(rc.encode()).hexdigest()[:8]}"
        )
        for rc, name in base.items()
    }


def parse(
    docs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    keep_cols: tuple[str, ...] = ("url", "warc_ts", "lang"),
) -> DataFrame:
    """Step 1: the byte-parity Arrow parse kernel (functions/parse.py)."""
    return parse_documents(docs, cfg, keep_cols=keep_cols)


def print_verbose_entries(
    docs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    source: str = "<input>",
    n: int = 20,
) -> None:
    """`--verbose` analogue of the reference's per-entry console dumps
    (cli/package.scala:23-53: printEntries / printParsedLogEntries /
    printTransformedLogEntries). The reference prints EVERY entry; at
    Spark scale a full-corpus driver dump is an anti-feature, so each
    stage shows an n-row head under the reference's exact headers —
    .show() computes only the partitions it needs, the rest of the plan
    never runs."""
    print(f"\n\nRead following log entries from {source}:")
    docs.drop("html").show(n, truncate=False)
    parsed = parse(docs, cfg)
    print("\n\nExtracted the following statements out of the log entries:")
    parsed.show(n, truncate=False)
    print("\n\nTransformed the following log entries and their row identifiers:\n")
    uniquify_row_ids(parsed).show(n, truncate=False)


@dataclass
class PipelineResult:
    routed_counts: dict[str, int] = field(default_factory=dict)
    schema: SchemaSummary | None = None
    n_traces_by_root: dict[str, int] = field(default_factory=dict)

    @property
    def n_traces(self) -> int:
        return sum(self.n_traces_by_root.values())


def build_traces_df(
    events: DataFrame, schema: SchemaSummary, roots: list[str],
    include_update_values: bool = False,
) -> DataFrame:
    """Steps 6-7 as one plan for all `roots`:
    (root, case_id, events, trace_xml), one row per trace of each root.
    The roots share the entity edges, one case walk, one entry
    assignment and one trace collect. A root that names no discovered
    table raises ValueError (traces.resolve_roots)."""
    edges = entity_edges(events, schema)
    seeds = root_cases(events, roots, schema.tables)
    assignments = propagate_cases(edges, seeds, schema, roots)
    assigned = with_xes_columns(
        assign_entries(events, assignments), include_update_values
    )
    traces = collect_traces(assigned, keys=("root", "case_id"))
    return trace_xml(traces)


@contextmanager
def stage(sc: SparkContext, name: str):
    """Tag every Spark job started inside the block `rlps:<name>`. A
    tag, not a job group: a group would replace the caller's."""
    tag = f"rlps:{name}"
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def run_parsed(
    parsed: DataFrame,
    out_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    table_dict: DataFrame | None = None,
    lang_map: DataFrame | None = None,
) -> PipelineResult:
    """Steps 2-7 over the whole parsed log, one `stage` block per stage.
    Root classes come from cfg (replacing the reference's interactive
    prompt, cli/package.scala:73-86); when there are none, trace
    assembly is skipped (schema-only run). Uniquify, enrich and the
    trace operators start no job of their own: their work is counted
    in the stage whose action runs it."""
    sc = parsed.sparkSession.sparkContext
    roots = cfg.root_classes
    result = PipelineResult()
    # every frame cached here or by the operators is released on exit,
    # also when a stage raises
    with operator_caches():
        with stage(sc, "fanout"):
            events = register(uniquify_row_ids(parsed).cache())
            enriched = enrich(events, table_dict, lang_map)
            result.routed_counts = write_fanout(enriched, out_dir)
        n_rejects = result.routed_counts["sink_rejects"]
        if roots and sum(result.routed_counts.values()) == n_rejects:
            raise ValueError(
                f"no clean row to discover the schema of the root classes "
                f"from: {n_rejects} of {n_rejects} rows are parse rejects, "
                f"see {out_dir}/rejects")

        with stage(sc, "discover"):
            clean = enriched.filter(F.col("parse_error").isNull())
            result.schema = summarize_schema(*discover_schema(
                clean,
                strict=cfg.strict_primary_keys,
                ind_mode="eager" if cfg.eager_ind else "final",
                mono_mode="reference" if cfg.reference_monotonicity else "log",
            ))
        if not roots:
            return result

        # Multi-root: the reference loops "pick a root → emit XES" over
        # the SAME parsed log and discovered schema until --singleRun
        # (Main.scala:131-162); here all roots share one cached trace
        # frame, which the first write fills, and each root's outputs
        # are 1-job scans of it.
        safe_names = _safe_root_names(roots)
        with stage(sc, "traces"):
            all_traces = register(build_traces_df(
                clean, result.schema, roots, cfg.include_update_values,
            ).cache())
            for rc in roots:
                dest = (
                    f"{out_dir}/traces_xes"
                    if len(roots) == 1
                    else f"{out_dir}/traces_xes/{safe_names[rc]}"
                )
                # counted on the write pass, not by re-reading the sink
                obs = Observation("traces")
                all_traces.filter(F.col("root") == rc).select(
                    "case_id", "trace_xml"
                ).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                    "overwrite").parquet(dest)
                result.n_traces_by_root[rc] = int(obs.get["n"])

        if cfg.xes_document:
            # one complete reference-style .xes per root
            # (Main.scala:149-153 writes <path>_<root>_result.xes)
            from .functions.xes import trace_xml_pretty
            from .sinks.xes import reference_trace_orders, write_xes_document

            with stage(sc, "xes"):
                orders = (
                    reference_trace_orders(clean, roots)
                    if cfg.reference_trace_order
                    else {}
                )
                for rc in roots:
                    write_xes_document(
                        trace_xml_pretty(
                            all_traces.filter(F.col("root") == rc)),
                        f"{out_dir}/{safe_names[rc]}_result.xes", rc,
                        case_order=orders.get(rc),
                    )
    return result
