"""Traced CLI run: spans around the calls into each layer, and Spark's
event log.

`instrument` wraps each layer's public functions under the names that
`jobs/run_pipeline.py` and `redo_log_parser_spark.pipeline` call them
by, so the traced process runs the real CLI `main()` and the calls
happen in the program's own order. A layer's span runs from a call into
one of its functions until the call into another layer's function, or
until the enclosing span ends. Inline work of the pipeline between two
calls therefore counts to the layer that produced its input: the trace
sink's parquet write after `trace_xml` counts to `xes`, the root-class
check after `summarize_schema` to `schema_discovery`. Each span sets the
Spark job group `rlps:<layer>`. A wrapper forces a lazy result (cache
and count) where the next layer would otherwise run its work, so each
layer's work is done inside its own span. That extra materialization is
the tracing overhead; the untraced CLI run is what the end-to-end
metrics measure.

`layer_metrics` joins the event log to the spans: job start properties
give each job's group, stage submissions give each stage's group, task
ends give task metrics and SQL accumulator updates, and SQL plan events
name the accumulators of the Python (Arrow) nodes.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "parse", "rowid", "fanout",
          "schema_discovery", "traces", "xes", "lineage")
GROUP_PREFIX = "rlps:"
# SQL metrics of the Python (Arrow) plan nodes
PY_METRICS = {"data sent to Python workers": "py_sent_mb",
              "data returned from Python workers": "py_returned_mb"}


class Tracer:
    """Spans kept in memory: name, start, end (epoch seconds), parent.

    `span` opens an enclosing span (the CLI call, the lineage driver);
    `phase` switches the layer that runs inside the innermost one."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, dict] = {}
        self.active = False
        self._stack: list[list] = []  # [span index, open phase index]
        self._cached: list[tuple[str, object]] = []
        self.n_clean = 0
        self.edges_counted = False

    def _open(self, name: str) -> int:
        parent = self._stack[-1][0] if self._stack else None
        self.spans.append({"name": name, "parent": parent,
                           "start": time.time()})
        self.sc.setJobGroup(GROUP_PREFIX + name, name)
        return len(self.spans) - 1

    def _close_phase(self) -> None:
        top = self._stack[-1]
        if top[1] is not None:
            self.spans[top[1]]["end"] = time.time()
            top[1] = None
            self.sc.setJobGroup(GROUP_PREFIX + self.spans[top[0]]["name"],
                                self.spans[top[0]]["name"])

    @contextmanager
    def span(self, name: str):
        if self._stack:
            self._close_phase()
        self._stack.append([self._open(name), None])
        self.active = True
        try:
            yield
        finally:
            self._close_phase()
            idx, _ = self._stack.pop()
            self.spans[idx]["end"] = time.time()
            if self._stack:
                outer = self.spans[self._stack[-1][0]]["name"]
                self.sc.setJobGroup(GROUP_PREFIX + outer, outer)
            else:
                self.active = False
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def phase(self, layer: str) -> None:
        top = self._stack[-1]
        if top[1] is not None and self.spans[top[1]]["name"] == layer:
            return
        self._close_phase()
        top[1] = self._open(layer)

    def count(self, layer: str, **kv) -> None:
        """Add to the layer's counts (they sum over buckets)."""
        d = self.counts.setdefault(layer, {})
        for k, v in kv.items():
            d[k] = d.get(k, 0) + v

    def force(self, layer: str, df):
        """Cache `df` and run it; returns (cached frame, row count)."""
        df = df.cache()
        self._cached.append((layer, df))
        return df, df.count()

    def release(self, *layers: str) -> None:
        """Unpersist the frames this tracer cached for `layers`."""
        keep = []
        for layer, df in self._cached:
            if layer in layers:
                df.unpersist()
            else:
                keep.append((layer, df))
        self._cached = keep


def _out_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def xes_bytes(out_dir: str) -> int:
    """Bytes of the trace sinks and `.xes` documents under `out_dir`."""
    size = 0
    for d, _, files in os.walk(out_dir):
        in_sink = "traces_xes" in os.path.relpath(d, out_dir).split(os.sep)
        for f in files:
            if (in_sink and f.endswith(".parquet")) or f.endswith(
                    "_result.xes"):
                size += os.path.getsize(os.path.join(d, f))
    return size


# What each wrapper does after the call returns: record the layer's
# counts and, for a lazy result, force it inside the layer's span.

def _after_read_documents(tr, docs, args):
    tr.count("sources", rows=docs.count(),
             partitions=docs.rdd.getNumPartitions())
    return docs


def _after_parse(tr, parsed, args):
    from pyspark.sql import functions as F

    # a new pipeline run (one per bucket on the resumable path)
    tr.release(*LAYERS)
    tr.edges_counted = False
    parsed, n = tr.force("parse", parsed)
    rejects = parsed.filter(F.col("parse_error").isNotNull()).count()
    tr.n_clean = n - rejects
    tr.count("parse", rows_out=n, rejects=rejects)
    return parsed


def _after_rowid(tr, events, args):
    from pyspark.sql import functions as F

    events, _ = tr.force("rowid", events)
    clean = events.filter(F.col("parse_error").isNull())
    tr.count("rowid", incarnations=clean.select(
        "table_id", "row_id").distinct().count())
    return events


def _after_fanout(tr, routed, args):
    files, size = _out_files(args[1])
    tr.count("fanout", files_written=files, bytes_written=size,
             **{f"rows_{k[5:]}": v for k, v in routed.items()})
    return routed


def _after_summarize(tr, schema, args):
    tr.count("schema_discovery", tables=len(schema.tables),
             columns=len(schema.columns),
             pk_candidates=len(schema.pk_candidates()),
             fk_pairs=len(schema.fk_pairs()))
    return schema


def _after_edges(tr, edges, args):
    # the first call of a pipeline run starts the first root; frames
    # cached for an earlier root are no longer used
    tr.release("traces", "xes")
    edges, n = tr.force("traces", edges)
    if not tr.edges_counted:
        tr.count("traces", edges=n)
        tr.edges_counted = True
    return edges


def _after_forced(layer):
    def after(tr, df, args):
        return tr.force(layer, df)[0]

    return after


def _after_assign(tr, assigned, args):
    assigned, _ = tr.force("traces", assigned)
    n = assigned.select("url").distinct().count()
    tr.counts.setdefault("traces", {}).setdefault(
        "assigned_ratio", []).append(n / tr.n_clean if tr.n_clean else 0.0)
    return assigned


def _after_collect(tr, traces, args):
    from pyspark.sql import functions as F

    traces, _ = tr.force("traces", traces)
    cases, biggest = traces.agg(F.count("*"), F.max(F.size("events"))).first()
    tr.count("traces", cases=cases)
    d = tr.counts["traces"]
    d["max_case_events"] = max(biggest or 0, d.get("max_case_events", 0))
    return traces


def _after_lineage(tr, done, args):
    tr.count("lineage", buckets_run=len(done))
    return done


PIPELINE = "redo_log_parser_spark.pipeline"
# (module, name, layer, after): the names the CLI and the pipeline
# call, in the order `main()` calls them. A lineage call is an
# enclosing span, since each bucket runs the whole pipeline inside it.
WRAPPED = [
    (None, "read_documents", "sources", _after_read_documents),
    (None, "run_resumable", "lineage", _after_lineage),
    (PIPELINE, "parse_documents", "parse", _after_parse),
    (PIPELINE, "uniquify_row_ids", "rowid", _after_rowid),
    (PIPELINE, "write_fanout", "fanout", _after_fanout),
    (PIPELINE, "discover_schema", "schema_discovery", None),
    (PIPELINE, "summarize_schema", "schema_discovery", _after_summarize),
    (PIPELINE, "entity_edges", "traces", _after_edges),
    (PIPELINE, "root_cases", "traces", _after_forced("traces")),
    (PIPELINE, "propagate_cases", "traces", _after_forced("traces")),
    (PIPELINE, "assign_entries", "traces", _after_assign),
    (PIPELINE, "collect_traces", "traces", _after_collect),
    (PIPELINE, "trace_xml", "xes", _after_forced("xes")),
    # imported inside run_pipeline at call time, so wrapped at home
    ("redo_log_parser_spark.functions.xes", "trace_xml_pretty", "xes", None),
    ("redo_log_parser_spark.sinks.xes", "write_xes_document", "xes", None),
]


def instrument(tr: Tracer, cli) -> None:
    """Wrap the functions of `WRAPPED`; `cli` is the loaded CLI module.
    A wrapper only traces while `tr` has an open span."""
    for module, name, layer, after in WRAPPED:
        owner = cli if module is None else importlib.import_module(module)
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def traced(*args, _fn=fn, _layer=layer, _after=after, **kwargs):
            if not tr.active:
                return _fn(*args, **kwargs)
            if _layer == "lineage":
                with tr.span(_layer):
                    out = _fn(*args, **kwargs)
                    return _after(tr, out, args)
            tr.phase(_layer)
            out = _fn(*args, **kwargs)
            return out if _after is None else _after(tr, out, args)

        setattr(owner, name, traced)


# --------------------------------------------------------------------------
# event log


def _accum_names(plan: dict, into: dict) -> None:
    for m in plan.get("metrics", ()):
        into[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _accum_names(child, into)


def _event_lines(path: str):
    """Lines of a single-file event log, or of a rolling one (a directory
    of `events_<n>_<app>` files)."""
    if os.path.isdir(path):
        parts = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(path, f) for f in parts]
    else:
        paths = [path]
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            yield from fh


def read_event_log(path: str) -> dict:
    jobs, stages, tasks, accum = {}, {}, [], {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {"group": group,
                                  "submit": ev["Submission Time"] / 1e3,
                                  "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stages.setdefault(info["Stage ID"], {})["group"] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], {})
            st["wall"] = (info.get("Completion Time", 0)
                          - info.get("Submission Time", 0)) / 1e3
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _accum_names(ev["sparkPlanInfo"], accum)
        elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", ()):
                accum[m["accumulatorId"]] = m["name"]
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "accum": accum}


def _self_times(spans: list[dict]) -> list[float]:
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def _innermost(spans: list[dict], t: float) -> str | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"]:
            best = s["name"]
    return best


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(spans: list[dict], counts: dict, log: dict,
                  setup_s: float) -> dict:
    """Per-layer metrics keyed `<layer>.<metric>`; the root span `cli`
    holds what no layer covers (`residual.wall_s`)."""
    m: dict[str, float] = {}
    selfs = _self_times(spans)
    for layer in LAYERS:
        m[f"{layer}.wall_s"] = sum(t for s, t in zip(spans, selfs)
                                   if s["name"] == layer)
    m["session.wall_s"] = setup_s
    m["residual.wall_s"] = sum(t for s, t in zip(spans, selfs)
                               if s["name"] == "cli")

    def layer_of(group):
        if group and group.startswith(GROUP_PREFIX):
            return group[len(GROUP_PREFIX):]
        return None

    job_layer = {j: layer_of(v["group"]) or _innermost(spans, v["submit"])
                 for j, v in log["jobs"].items()}
    stage_layer = {}
    for j, v in sorted(log["jobs"].items()):
        for s in v["stages"]:
            stage_layer.setdefault(s, job_layer[j])
    for s, st in log["stages"].items():
        stage_layer[s] = layer_of(st.get("group")) or stage_layer.get(s)

    for layer in LAYERS:
        for k in ("jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "py_sent_mb",
                  "py_returned_mb"):
            m[f"{layer}.{k}"] = 0.0
    for layer in job_layer.values():
        if layer in LAYERS:
            m[f"{layer}.jobs"] += 1
    durations: dict[int, list[float]] = {}
    intervals = []
    mb = 2.0**20
    for ev in log["tasks"]:
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        start, end = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
        intervals.append((start, end))
        sid = ev["Stage ID"]
        durations.setdefault(sid, []).append(end - start)
        layer = stage_layer.get(sid) or _innermost(spans, start)
        if layer not in LAYERS:
            continue
        rd = tm.get("Shuffle Read Metrics") or {}
        wr = tm.get("Shuffle Write Metrics") or {}
        m[f"{layer}.tasks"] += 1
        m[f"{layer}.exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m[f"{layer}.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m[f"{layer}.shuffle_write_mb"] += wr.get("Shuffle Bytes Written",
                                                 0) / mb
        m[f"{layer}.shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                          + rd.get("Local Bytes Read", 0)) / mb
        m[f"{layer}.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / mb
        for a in info.get("Accumulables", ()):
            key = PY_METRICS.get(log["accum"].get(a.get("ID")))
            if key and "Update" in a:
                m[f"{layer}.{key}"] += float(a["Update"]) / mb
    for layer in LAYERS:
        own = [s for s, lay in stage_layer.items()
               if lay == layer and s in durations]
        skew = 0.0
        if own:
            longest = max(own, key=lambda s: log["stages"].get(s, {}).get(
                "wall", sum(durations[s])))
            d = durations[longest]
            med = statistics.median(d)
            skew = max(d) / med if med > 0 else 1.0
        m[f"{layer}.task_skew"] = skew
    m["xes.driver_s"] = sum(
        (s["end"] - s["start"]) - _busy(intervals, s["start"], s["end"])
        for s in spans if s["name"] == "xes")

    c = {k: dict(v) for k, v in counts.items()}
    ratios = c.get("traces", {}).pop("assigned_ratio", [])
    for layer, kv in c.items():
        for k, v in kv.items():
            if k == "bytes_written":
                m[f"{layer}.bytes_written_mb"] = v / mb
            else:
                m[f"{layer}.{k}"] = v
    if "parse" in c:
        rows = c["parse"]["rows_out"]
        m["parse.clean_ratio"] = (rows - c["parse"]["rejects"]) / rows
    if ratios:
        m["traces.assigned_ratio"] = statistics.median(ratios)
    return m
