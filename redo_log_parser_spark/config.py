"""Pipeline configuration.

Mirrors the reference's CLI flags (cli/package.scala:14-20) plus the
repo's semantic switches (IND mode, monotonicity, trace order, the
multi-root list and the .xes document). Spark sizing comes from the
session, not from here.
"""

from __future__ import annotations

from dataclasses import dataclass

from .functions.javatime import compile_java_ts_format

# Reference default: cli/package.scala:20 ("dd-MMM-yyyy HH:mm:ss").
DEFAULT_TS_FORMAT_JAVA = "dd-MMM-yyyy HH:mm:ss"


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for one pipeline run."""

    # --timestampPattern (cli/Main.scala flag; cli/package.scala:20),
    # compiled by functions/javatime.compile_java_ts_format
    ts_format_java: str = DEFAULT_TS_FORMAT_JAVA
    # --includeUpdateValues (cli/package.scala:17): event names carry the
    # new value for updates (TraceIDParser.scala:124-127).
    include_update_values: bool = False
    # --strict (cli/package.scala:14): strong-PK check
    # (Column.scala:67-73,137-151).
    strict_primary_keys: bool = False
    # Root class(es) for trace building (replaces the interactive loop at
    # cli/package.scala:73-86 and Main.scala:131-162 — the reference asks
    # for roots repeatedly until --singleRun); validated against the
    # discovered schema. Several roots share ONE parse+discovery pass,
    # one trace sink per root.
    root_classes: tuple[str, ...] = ()
    # IND semantics: False = final-state inclusion (repo default), True =
    # the reference's eager/latched fold (SchemaDeriver.scala:69-93);
    # identical on the shipped artifacts, divergent on adversarial logs
    # (tests/test_ind_semantics.py).
    eager_ind: bool = False
    # Also assemble one complete .xes document per root (the reference's
    # CLI output, '<out>/<root>_result.xes', PrettyPrinter layout) —
    # one collect of every trace block to the driver, bounded by
    # spark.driver.maxResultSize; for reference-CLI-sized outputs.
    xes_document: bool = False
    # Order traces in the .xes document exactly like the reference
    # binary: Scala 2.12 groupBy(HashMap) iteration over its seeded
    # random row-id suffixes, both replayed in pure Python
    # (functions/scala_order.py; sinks/xes.reference_trace_orders).
    # False = deterministic case_id sort (repo default). Whole-file
    # byte equality against a reference .xes needs True.
    reference_trace_order: bool = False
    # Monotonicity semantics for strict-PK checks: False = real
    # log-order signal (the reference's documented intent), True =
    # constant-true, byte-faithful to the shipped binary whose
    # increasing check is vacuous (round-3 discovery — a List cons
    # extractor never matches HashMap.values.toSeq sliding windows,
    # Column.scala:104-124; see operators/schema_discovery.monotonicity).
    reference_monotonicity: bool = False

    def __post_init__(self):
        # java.time refuses a bad pattern when the reference builds its
        # formatter, before any row is read; ValueError here likewise
        compile_java_ts_format(self.ts_format_java)


DEFAULT_CONFIG = PipelineConfig()
