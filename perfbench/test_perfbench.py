"""Self-test of the benchmark; run from the repository root:

    python3 -m pytest perfbench -q

The oracle cross-check needs no Spark. The end-to-end tests run every
workload at small size through `run.py`, untraced and traced, and take
about ten minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
from check import check, safe_root_name  # noqa: E402

# self-test inputs of about 400 statements
def small(workload: str) -> float:
    return 400 / gen.WORKLOADS[workload].n_statements


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.E2E
    assert [m["name"] for m in bench["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run.UNITS[m["name"]] for m in bench["per_layer"])
    assert {w["name"] for w in bench["workloads"]} <= set(gen.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_ground_truth_matches_oracle(workload):
    from redo_log_parser_spark import oracle

    stmts, rows, truth = gen.build(workload, seed=5, scale=small(workload))
    texts = [r["text"] for r, s in zip(rows, stmts) if not s.bad]
    entries = oracle.uniquify_row_ids(oracle.parse_records(texts))
    schema = oracle.extract_schema(entries)
    cols = [c for t in schema.values() for c in t.values()]
    want = truth["schema"]
    assert sorted([c.table, c.name] for c in cols) == want["columns"]
    assert sorted([c.table, c.name] for c in cols if c.can_be_pk) == want["pk"]
    assert sorted([c.table, c.name, t, n] for c in cols
                  for t, n in c.is_subset_of) == sorted(want["inds"])
    for root, tr in truth["roots"].items():
        traces = oracle.build_traces(entries, schema, root)
        case_ids = list(dict.fromkeys(
            e.row_id for e in entries if e.table_id == root))
        pairs = [(c, oracle.xes_trace_xml(t))
                 for c, t in zip(case_ids, traces)]
        assert len(pairs) == tr["cases"]
        assert sum(len(t) for t in traces) == tr["events"]
        assert gen.trace_digest(pairs) == tr["digest"]


def test_seed_changes_the_statements():
    def texts(seed):
        return [s.text for s in gen.build("lifecycle", seed,
                                          small("lifecycle"))[0]]

    assert texts(1) != texts(2)
    assert texts(1) == texts(1)


def _run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", str(small(workload))],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_every_metric_is_printed_with_its_unit(workload):
    e2e, _ = _run(workload, 0)
    traced, table = _run(workload, 1)
    assert [(k, v["unit"]) for k, v in e2e["metrics"].items()] == run.E2E
    assert list(traced["metrics"]) == run.PER_LAYER
    assert all(v["unit"] == run.UNITS[k]
               for k, v in traced["metrics"].items())
    assert "residual" in table and "trace_overhead_s" in table
    for res in (e2e, traced):
        assert res["attempted"] >= 1
        if workload == "resume":
            # the default resumable path discovers schema and traces per
            # bucket (ROADMAP Open item 1): every run fails the check
            assert not res["correct"] and res["failed"] == res["attempted"]
        else:
            assert res["correct"] and res["failed"] == 0


def test_corrupted_sink_fails_the_check(tmp_path):
    wl = gen.WORKLOADS["hot-case"]
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    truth = gen.generate(wl.name, 4, small(wl.name), inp)
    rn = run.Runner(str(tmp_path / "work"), deadline=10**12)
    res = rn.child({"mode": "cli", "argv": run.cli_argv(wl, inp, out)})
    assert "error" not in res, res.get("error")
    assert check(truth, out, res["stdout"]) == []

    sink = os.path.join(out, "traces_xes", safe_root_name(gen.USERS))
    part = next(f for f in sorted(os.listdir(sink)) if f.endswith(".parquet")
                and pq.ParquetFile(os.path.join(sink, f)).metadata.num_rows)
    path = os.path.join(sink, part)
    table = pq.read_table(path)
    pq.write_table(table.slice(1), path)
    problems = check(truth, out, res["stdout"])
    assert any("traces cases" in p for p in problems)

    printed = check(truth, out, "")
    assert "no schema dump printed" in printed
    assert "no {'routed': ...} summary printed" in printed
    garbled = res["stdout"].replace("Exctracted the following", "Schema")
    assert "no schema dump printed" in check(truth, out, garbled)

    shutil.rmtree(os.path.join(out, "events_by_op", "op=delete"))
    assert any("routed rows" in p for p in check(truth, out, res["stdout"]))


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, _description):
        self.groups.append(group)

    def setLocalProperty(self, _key, value):
        self.groups.append(value)


def test_layer_spans_cover_the_traced_wall():
    from tracing import Tracer, layer_metrics

    spark = type("Spark", (), {"sparkContext": _FakeContext()})()
    tr = Tracer(spark)
    with tr.span("cli"):
        tr.phase("sources")
        with tr.span("lineage"):
            for _ in range(2):
                tr.phase("parse")
                tr.phase("parse")
                tr.phase("traces")
                tr.phase("xes")
        tr.phase("sources")
    assert not tr.active
    names = [s["name"] for s in tr.spans]
    assert names == ["cli", "sources", "lineage", "parse", "traces", "xes",
                     "parse", "traces", "xes", "sources"]
    lineage = names.index("lineage")
    assert {s["parent"] for s in tr.spans[lineage + 1:-1]} == {lineage}
    log = {"jobs": {}, "stages": {}, "tasks": [], "accum": {}}
    m = layer_metrics(tr.spans, {}, log, setup_s=1.0)
    (cli,) = [s for s in tr.spans if s["name"] == "cli"]
    walls = sum(m[f"{layer}.wall_s"] for layer in
                ("sources", "parse", "traces", "xes", "lineage"))
    assert walls + m["residual.wall_s"] == pytest.approx(
        cli["end"] - cli["start"])
    groups = spark.sparkContext.groups
    assert groups[0] == "rlps:cli" and groups[-1] is None
    assert "rlps:lineage" in groups and "rlps:xes" in groups
