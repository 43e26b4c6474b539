#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (bench.py is FROZEN —
the driver times the round-start copy; this file holds everything else).

Usage:
  python bench_extra.py time <query> [<query> ...]   # min-of-3, bench methodology
  python bench_extra.py explain <query> [out_file]   # .explain("formatted") dump
  python bench_extra.py noop <query> [<query> ...]   # noop-sink isolation (guide §1.4)

`time` calls count(), as bench.py does, so Spark prunes every column no
one reads: for schema_discovery that drops every column-fact window and
times parse, ROWID incarnation and the column registry only. `noop`
writes every column and runs the whole plan.

Respects SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS exactly like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark():
    from redo_log_parser_spark.session import get_spark

    return get_spark(
        "rlps-bench-extra",
        master=f"local[{CPUS}]",
        confs={"spark.sql.shuffle.partitions": str(int(CPUS))},
    )


def _queries():
    from bench import headline_queries

    return headline_queries()


def time_queries(names, action="count", trials=3):
    spark = _spark()
    qs = _queries()
    out = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        fn(spark, SF_DIR).count()
        spark.catalog.clearCache()
        samples = []
        for i in range(trials):
            spark.sparkContext.setJobDescription(f"timed:{name}:{i}")
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            if action == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples.append(round(time.monotonic() - t0, 3))
            spark.catalog.clearCache()
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    return out


def explain_query(name, out_file=None):
    spark = _spark()
    fn = _queries()[name]
    df = fn(spark, SF_DIR)
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    if out_file:
        with open(out_file, "w") as fh:
            fh.write(txt)
        print(f"wrote {out_file}")
    else:
        print(txt)
    spark.stop()


def run_scaling_median(sf_dir=SF_DIR, rounds=3):
    """Bimodality-proof scaling protocol (r5 VERDICT #1): >=3 fully
    interleaved rounds; each round launches fresh CPU-PINNED JVMs for
    N and 4N cores per parser (bench.py --single-flagship, unchanged)
    and records that round's OWN pairing tp4N/tpN/4. The official
    statistic is the MEDIAN per-round pairing — a single slow- or
    fast-phase 2-core baseline can no longer swing the headline the way
    best-vs-best across rounds could. Best-vs-best is kept as the
    secondary line for comparability with the r2-r5 ledgers."""
    import shutil
    import statistics
    import subprocess

    pair = os.environ.get("SPARK_GRAFT_SCALE_PAIR", "2,8").split(",")
    parsers = tuple(
        p.strip()
        for p in os.environ.get("SPARK_GRAFT_SCALE_PARSERS", "pandas,sql").split(",")
    )
    n_cores, n4_cores = pair[0].strip(), pair[1].strip()
    bench_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench.py")

    def one(cpus, parser):
        cmd = [sys.executable, bench_py, "--single-flagship", cpus, sf_dir, parser]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{int(cpus) - 1}", *cmd]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
        return json.loads(proc.stdout.strip().splitlines()[-1])

    per_round = {p: [] for p in parsers}
    trials = []
    for r in range(rounds):
        for parser in parsers:
            lo = one(n_cores, parser)
            hi = one(n4_cores, parser)
            trials += [lo, hi]
            eff = hi["rows_per_sec"] / lo["rows_per_sec"] / (
                int(n4_cores) / int(n_cores)
            )
            per_round[parser].append(
                {"round": r, "eff": round(eff, 3),
                 "tp_n": lo["rows_per_sec"], "tp_4n": hi["rows_per_sec"],
                 "steal_n": lo["host_steal_pct"], "steal_4n": hi["host_steal_pct"]}
            )
            print(json.dumps({"parser": parser, "round": r, "eff": round(eff, 3)}),
                  flush=True)

    def summary(parser):
        effs = [x["eff"] for x in per_round[parser]]
        best_n = max(x["tp_n"] for x in per_round[parser])
        best_4n = max(x["tp_4n"] for x in per_round[parser])
        return {
            "official_median_per_round_eff": round(statistics.median(effs), 3),
            "per_round": per_round[parser],
            "secondary_best_vs_best_eff": round(
                best_4n / best_n / (int(n4_cores) / int(n_cores)), 3
            ),
        }

    return {
        "protocol": "median of >=3 interleaved per-round pairings (r5 VERDICT #1)",
        "cores_n": int(n_cores), "cores_4n": int(n4_cores), "sf": sf_dir,
        **{{"pandas": "pandas_kernel", "sql": "sql_parser"}[p]: summary(p)
           for p in parsers},
        "trials": trials,
    }


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "time":
        print(json.dumps(time_queries(sys.argv[2:])))
    elif cmd == "noop":
        print(json.dumps(time_queries(sys.argv[2:], action="noop")))
    elif cmd == "explain":
        explain_query(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    elif cmd == "scaling-median":
        print(json.dumps(run_scaling_median()))
    else:
        raise SystemExit(f"unknown command {cmd}")
