"""redo_log_parser_spark — a PySpark-native re-imagining of the
fyndalf/redo-log-parser capabilities as a parse → enrich → route →
aggregate pipeline over Common-Crawl-style web-page tables.

The reference (/root/reference, Scala CLI) reads an Oracle LogMiner redo
log, parses INSERT/UPDATE/DELETE statements, uniquifies reused ROWIDs,
discovers a relational schema (PK/FK candidates), groups entries into
per-root-entity traces and serializes XES 2.0 event logs. This package
re-expresses every one of those capabilities as declarative DataFrame
plans (Catalyst-optimized, AQE-enabled), with the byte-parity regex parse
fused into one vectorized pandas/Arrow UDF — no per-row Python anywhere.

Layout:
  functions/   scalar kernels: parse (P1-P7), timestamps (P8), event
               names (P9), XES XML (P10), text analysis, dedup hashing
  operators/   rowid incarnations (T1), schema discovery (A1-A8),
               relations (J1, A7-A8), trace assembly (G3-G4, J2-J3),
               dedup / similarity-search operators
  sources/     documents table reader, raw-logfile parity reader (S1-S2)
  sinks/       fan-out by op, XES sink, lineage/metrics + resume (S3-S4)
  pipeline.py  end-to-end batch pipeline
  oracle.py    pure-Python reference-semantics oracle (tests only)
  fixtures.py  deterministic mini-log generator (FIXTURES.md §1)
"""

__version__ = "0.1.0"
