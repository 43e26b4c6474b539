"""End-to-end and per-layer benchmark of the CLI pipeline.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 30 \\
        --trace 0

Run from the repository root. Inputs are generated from the seed
(untimed); every CLI run is a fresh process, because a CLI user pays
JVM start-up on every run. `--trace 0` measures the end-to-end metrics,
`--trace 1` runs the CLI once untraced and once traced and reports the
per-layer metrics. Every run's outputs are checked against the
generator's ground truth. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from check import check, cli_summary, dir_bytes  # noqa: E402
from procfs import kill_groups, tree_rss_mb  # noqa: E402
from tracing import (  # noqa: E402
    LAYERS, layer_metrics, read_event_log, xes_bytes)

MB = 2.0**20
# a run ends within 180 s whatever --seconds asks for: no process starts
# unless one as long as the last still ends before RUN_LIMIT_S
RUN_LIMIT_S = 175
CHILD_TIMEOUT_S = 170

E2E = [("run_s", "s"), ("stmts_per_s", "1/s"), ("setup_s", "s"),
       ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("sink_mb", "MB")]
# reported in the table only: fail_rate is `failed / attempted` of the
# result line, rerun_s exists on `resume` alone
E2E_EXTRA = [("fail_rate", "ratio"), ("rerun_s", "s")]

_GENERIC = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("exec_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
            ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
            ("task_skew", "ratio")]
_EXTRA = {
    "sources": [("rows", "count"), ("input_mb", "MB"),
                ("partitions", "count")],
    "parse": [("rows_out", "count"), ("rejects", "count"),
              ("clean_ratio", "ratio"), ("py_sent_mb", "MB"),
              ("py_returned_mb", "MB")],
    "rowid": [("incarnations", "count")],
    "fanout": [("files_written", "count"), ("bytes_written_mb", "MB"),
               ("rows_insert", "count"), ("rows_update", "count"),
               ("rows_delete", "count"), ("rows_rejects", "count")],
    "schema_discovery": [("tables", "count"), ("columns", "count"),
                         ("pk_candidates", "count"), ("fk_pairs", "count")],
    "traces": [("edges", "count"), ("cases", "count"),
               ("max_case_events", "count"), ("assigned_ratio", "ratio")],
    "xes": [("bytes_written_mb", "MB"), ("driver_s", "s")],
    "lineage": [("buckets_run", "count"), ("buckets_skipped", "count"),
                ("rerun_s", "s")],
}
ALL_LAYER_METRICS = (
    [(f"{layer}.{m}", u) for layer in LAYERS for m, u in
     ([("wall_s", "s")] if layer == "session" else _GENERIC)
     + _EXTRA.get(layer, [])]
    + [("residual.wall_s", "s"), ("residual.trace_overhead_s", "s")])
UNITS = dict(ALL_LAYER_METRICS)

# the per-layer metrics of the result line (BENCHMARK.json per_layer):
# those that are not zero by construction on the benchmarked workloads
# and that an optimization of a layer is expected to move
_BENCH_LAYERS = ("sources", "parse", "rowid", "fanout", "schema_discovery",
                 "traces", "xes")
PER_LAYER = (
    ["session.wall_s"]
    + [f"{layer}.{m}" for layer in _BENCH_LAYERS
       for m in ("wall_s", "jobs", "tasks", "exec_cpu_s", "task_skew")]
    + [f"{layer}.{m}" for layer in ("rowid", "schema_discovery", "traces")
       for m in ("shuffle_write_mb", "shuffle_read_mb")]
    + ["sources.rows", "sources.input_mb", "sources.partitions",
       "parse.rows_out", "parse.py_sent_mb", "parse.py_returned_mb",
       "rowid.incarnations", "fanout.files_written",
       "fanout.bytes_written_mb", "fanout.rows_insert", "fanout.rows_update",
       "fanout.rows_delete", "schema_discovery.tables",
       "schema_discovery.columns", "schema_discovery.pk_candidates",
       "schema_discovery.fk_pairs", "traces.edges", "traces.cases",
       "traces.max_case_events", "traces.assigned_ratio",
       "xes.bytes_written_mb", "xes.driver_s", "residual.wall_s",
       "residual.trace_overhead_s"])


def host_env(work: str) -> dict:
    """Host settings of every CLI process: all cores of this host
    (local[nproc]), a 1 GiB driver heap, and Spark local and temporary
    directories inside the run's own directory.

    The session's default heap (48g) exceeds most hosts. The inputs are
    a few MB, and the JVM fills a 1 GiB heap on every run, so the peak
    RSS is steady; with 2-3 GiB it varied by a third between runs with
    the heap's growth."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


class Runner:
    def __init__(self, work: str, deadline: float):
        self.work = work
        self.env = host_env(work)
        self.deadline = deadline
        self.n = 0

    def child(self, spec: dict) -> dict:
        """Run sample.py in its own process group; sample the tree's
        memory until it exits, then kill whatever of the group is left."""
        self.n += 1
        base = os.path.join(self.work, f"child{self.n}")
        with open(base + ".spec.json", "w") as fh:
            json.dump(spec, fh)
        res_path = base + ".result.json"
        timeout = min(CHILD_TIMEOUT_S, self.deadline - time.monotonic())
        peak, groups = 0.0, set()
        t_spawn = time.monotonic()
        with open(base + ".log", "w") as log:
            p = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "sample.py"),
                 base + ".spec.json", res_path],
                cwd=os.getcwd(), env=self.env, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True)
            try:
                while p.poll() is None:
                    if time.monotonic() - t_spawn > timeout:
                        break
                    rss, pgids = tree_rss_mb(p.pid)
                    peak = max(peak, rss)
                    groups |= pgids
                    time.sleep(0.2)
            finally:
                kill_groups((groups | {p.pid}) - {os.getpgrp()})
                p.wait()
        if p.returncode != 0 or not os.path.exists(res_path):
            with open(base + ".log") as fh:
                tail = fh.read()[-3000:]
            return {"error": f"exit {p.returncode}\n{tail}"}
        with open(res_path) as fh:
            res = json.load(fh)
        res["setup_s"] = res["ready"] - t_spawn
        res["peak_rss_mb"] = peak
        return res


def cli_argv(wl: gen.Workload, inp: str, out: str) -> list[str]:
    argv = ["--input", inp, "--output", out]
    for r in wl.roots:
        argv += ["--root-class", r]
    return argv + list(wl.cli_args)


def cli_sample(rn: Runner, wl, truth, inp) -> dict:
    out = os.path.join(rn.work, f"out{rn.n + 1}")
    res = rn.child({"mode": "cli", "argv": cli_argv(wl, inp, out),
                    "rerun": "--buckets" in wl.cli_args})
    if "error" not in res:
        res["run_s"] = res["run_end"] - res["run_start"]
        res["problems"] = check(truth, out, res["stdout"])
        res["sink_mb"] = dir_bytes(out) / MB
    shutil.rmtree(out, ignore_errors=True)
    return res


def traced_sample(rn: Runner, wl, truth, inp) -> dict:
    out = os.path.join(rn.work, f"out{rn.n + 1}")
    logs = os.path.join(rn.work, "eventlog")
    os.makedirs(logs, exist_ok=True)
    res = rn.child({"mode": "traced", "argv": cli_argv(wl, inp, out),
                    "rerun": "--buckets" in wl.cli_args,
                    "event_log_dir": logs})
    if "error" not in res:
        res["problems"] = check(truth, out, res["stdout"])
        (name,) = os.listdir(logs)
        log = read_event_log(os.path.join(logs, name))
        m = layer_metrics(res["spans"], res["counts"], log, res["setup_s"])
        m["sources.input_mb"] = dir_bytes(inp) / MB
        m["xes.bytes_written_mb"] = xes_bytes(out) / MB
        if "rerun_s" in res:
            m["lineage.rerun_s"] = res["rerun_s"]
            buckets = int(wl.cli_args[wl.cli_args.index("--buckets") + 1])
            done = cli_summary(res["rerun_stdout"])["buckets_processed"]
            m["lineage.buckets_skipped"] = buckets - done
        res["layers"] = m
        (cli,) = [s for s in res["spans"] if s["name"] == "cli"]
        res["traced_wall_s"] = cli["end"] - cli["start"]
    shutil.rmtree(out, ignore_errors=True)
    return res


def spread(values: list[float]) -> str:
    if len(values) < 2:
        return "n=1"
    q1, q2, q3 = statistics.quantiles(values, n=4)
    rel = (q3 - q1) / q2 if q2 else float("nan")
    return f"n={len(values)} q1={q1:.4g} q3={q3:.4g} iqr/med={rel:.3f}"


def tally(samples: list[dict]) -> tuple[int, int]:
    """(attempted, failed) processes: a process fails if it crashed or
    its outputs failed the check."""
    attempted = [s for s in samples if "error" in s or "problems" in s]
    return len(attempted), sum(1 for s in attempted
                               if "error" in s or s["problems"])


def report_failures(samples: list[dict]) -> None:
    for s in samples:
        if "error" in s:
            print(f"sample crashed: {s['error']}", file=sys.stderr)
        elif s.get("problems"):
            print("output check failed: " + "; ".join(s["problems"]),
                  file=sys.stderr)


def measure(rn: Runner, wl, truth, inp, seconds: float) -> tuple[dict, list]:
    """End-to-end metrics: fresh-process CLI runs for `seconds` (at least
    one; another only if the last one's wall still fits, both in
    `seconds` and before the run's deadline)."""
    samples, t0 = [], time.monotonic()
    while True:
        ts = time.monotonic()
        samples.append(cli_sample(rn, wl, truth, inp))
        now = time.monotonic()
        took = now - ts
        if now - t0 + took > seconds or now + 1.25 * took > rn.deadline:
            break
    ok = [s for s in samples if "error" not in s]
    n = truth["n_statements"]
    series = {
        "run_s": [s["run_s"] for s in ok],
        "stmts_per_s": [n / s["run_s"] for s in ok],
        "setup_s": [s["setup_s"] for s in ok],
        "cpu_s": [s["cpu_s"] for s in ok],
        "peak_rss_mb": [s["peak_rss_mb"] for s in ok],
        "sink_mb": [s["sink_mb"] for s in ok],
        "rerun_s": [s["rerun_s"] for s in ok if "rerun_s" in s],
    }
    attempted, failed = tally(samples)
    series["fail_rate"] = [failed / attempted]
    print(f"workload {wl.name}: {n} statements, seed {truth['seed']}")
    for name, unit in E2E + E2E_EXTRA:
        v = series[name]
        if v:
            print(f"  {name:<12} {statistics.median(v):>12.4f} {unit:<6} "
                  f"{spread(v)}")
    metrics = {name: {"value": statistics.median(series[name]), "unit": unit}
               for name, unit in E2E if series[name]}
    return metrics, samples


def measure_traced(rn: Runner, wl, truth, inp) -> tuple[dict, list]:
    untraced = cli_sample(rn, wl, truth, inp)
    traced = traced_sample(rn, wl, truth, inp)
    samples = [untraced, traced]
    if "error" in untraced or "error" in traced:
        return {}, samples
    m = traced["layers"]
    m["residual.trace_overhead_s"] = (traced["traced_wall_s"]
                                      - untraced["run_s"])
    walls = sum(m[f"{layer}.wall_s"] for layer in LAYERS if layer != "session")
    print(f"workload {wl.name}: traced wall {traced['traced_wall_s']:.3f} s = "
          f"layer walls {walls:.3f} s + residual {m['residual.wall_s']:.3f} s;"
          f" untraced run_s {untraced['run_s']:.3f} s; trace_overhead_s "
          f"{m['residual.trace_overhead_s']:.3f} s")
    cols = [g for g, _ in _GENERIC]
    print(f"  {'layer':<17}" + "".join(f"{c:>17}" for c in cols))
    for layer in LAYERS:
        row = [m.get(f"{layer}.{c}") for c in cols]
        print(f"  {layer:<17}" + "".join(
            f"{'-' if v is None else format(v, '.4g'):>17}" for v in row))
    for name, unit in ALL_LAYER_METRICS:
        layer, metric = name.split(".", 1)
        if (metric, unit) not in _GENERIC and name in m:
            print(f"  {name:<32} {m[name]:>14.6g} {unit}")
    spans_path = os.path.join(os.path.dirname(rn.work),
                              f"spans-{wl.name}-{truth['seed']}.json")
    with open(spans_path, "w") as fh:
        json.dump({"spans": traced["spans"], "layers": m}, fh, indent=1)
    print(f"  spans and layer metrics written to {spans_path}")
    metrics = {name: {"value": m.get(name, 0), "unit": UNITS[name]}
               for name in PER_LAYER}
    return metrics, samples


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a small one)")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join("jobs", "run_pipeline.py"))
            and os.path.isdir("redo_log_parser_spark")):
        print("perfbench: run from the repository root; jobs/run_pipeline.py"
              " and redo_log_parser_spark/ are missing here", file=sys.stderr)
        return 2
    # on SIGTERM, unwind through the `finally` blocks that kill the
    # child process groups and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(os.getcwd(), ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        wl = gen.WORKLOADS[args.workload]
        inp = os.path.join(work, "input")
        truth = gen.generate(args.workload, args.seed, args.scale, inp)
        rn = Runner(work, deadline)
        if args.trace:
            metrics, samples = measure_traced(rn, wl, truth, inp)
        else:
            metrics, samples = measure(rn, wl, truth, inp, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report_failures(samples)
    attempted, failed = tally(samples)
    if not metrics:
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
