#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline pipeline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:  {"metric": ..., "value": <total sec>, "unit": "sec",
        "queries": {name: sec}, "sf": ..., "rows_per_sec": ...}

Headline set = the parse→route→aggregate pipeline over redo statements
synthesized from the sf tables (so row counts scale with sf), plus the
schema-discovery, trace-collect, dedup and ANN operators.

`python bench.py --scaling` additionally runs the SAME flagship job at
local[8] and local[32] in fresh subprocesses and reports throughput at
both plus scaling efficiency (the sandbox stand-in for N vs 4N
executors; BASELINE.md).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark(cpus: str, parts_mult: int = 1):
    from redo_log_parser_spark.session import get_spark

    # parts_mult=1 (~cores) for the sf-sized headline queries — more
    # partitions just add task-scheduling overhead on small data;
    # parts_mult=4 for the 16M-row scaling corpus, where extra tasks
    # bound stage-tail straggler idle time
    return get_spark(
        "rlps-bench",
        master=f"local[{cpus}]",
        confs={"spark.sql.shuffle.partitions": str(parts_mult * int(cpus))},
    )


def headline_queries():
    """name -> (callable(spark, sf_dir) -> DataFrame, action)."""
    from pyspark.sql import functions as F

    from redo_log_parser_spark.contract import (
        q_ann_cosine,
        q_decontaminate,
        q_dedup_components,
        q_dedup_exact,
        q_minhash_pairs,
        q_multimodal_ann,
        q_rowid_incarnation,
        q_schema_discovery,
        q_token_pack,
        q_trace_collect,
        q_route_counts,
        synth_mixed_docs,
    )
    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.operators.rowid import uniquify_row_ids

    def q_parse_route_aggregate(spark, sf_dir):
        """The flagship parse→route→aggregate: synthesize, parse with the
        pandas-UDF kernel, uniquify rowids, aggregate per (op, table).

        The sf test tables are single parquet files (one input split), so
        the CPU-bound parse is repartitioned to 2× cores first — on a
        real Iceberg table the file/split layout provides this
        parallelism natively and the shuffle disappears."""
        docs = synth_mixed_docs(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism * 2
        )
        parsed = parse_documents(docs, keep_cols=("url", "warc_ts"))
        events = uniquify_row_ids(parsed, order_cols=("ts", "url"))
        return events.groupBy("op", "table_id").agg(
            F.count("*").alias("n"),
            F.countDistinct("row_id").alias("n_entities"),
        )

    def q_parse_route_aggregate_sqlparser(spark, sf_dir):
        """Same flagship with the pure-JVM expression parser
        (functions/parse_sql.py) — no Python workers; shows the cost of
        the Arrow boundary vs the mandated pandas kernel."""
        from redo_log_parser_spark.functions.parse_sql import parse_documents_sql

        docs = synth_mixed_docs(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism * 2
        )
        parsed = parse_documents_sql(docs, keep_cols=("url", "warc_ts"))
        events = uniquify_row_ids(parsed, order_cols=("ts", "url"))
        return events.groupBy("op", "table_id").agg(
            F.count("*").alias("n"),
            F.countDistinct("row_id").alias("n_entities"),
        )

    return {
        "parse_route_aggregate": q_parse_route_aggregate,
        "parse_route_aggregate_sqlparser": q_parse_route_aggregate_sqlparser,
        "route_counts": q_route_counts,
        "rowid_incarnation": q_rowid_incarnation,
        "schema_discovery": q_schema_discovery,
        "trace_collect": q_trace_collect,
        "dedup_exact": q_dedup_exact,
        "minhash_pairs": q_minhash_pairs,
        "dedup_components": q_dedup_components,
        "token_pack": q_token_pack,
        "ann_cosine": q_ann_cosine,
        "decontaminate": q_decontaminate,
        # round 4: the binary -> mapInPandas fake-decode -> feature ->
        # LSH cosine path, so the Python-worker/Arrow boundary is
        # represented in the headline set beyond the flagship parse
        "multimodal_ann": q_multimodal_ann,
    }


def input_rows(spark, sf_dir: str) -> int:
    """Rows the flagship consumes (synthesized statement count)."""
    from redo_log_parser_spark.contract import synth_mixed_docs

    return synth_mixed_docs(spark, sf_dir).count()


def run_once(cpus: str = CPUS, sf_dir: str = SF_DIR) -> dict:
    spark = _spark(cpus)
    qs = headline_queries()
    times: dict[str, float] = {}
    total = 0.0
    for name, fn in qs.items():
        fn(spark, sf_dir).count()  # warm-up: JIT, codegen, file listing
        spark.catalog.clearCache()  # isolate queries (some cache internally)
        # best of 3 timed runs: this VM shows scheduler/steal stalls
        # that can 5x one run of a multi-stage query at <2% steal
        # (BENCH/BASELINE.md variance notes; round-3 profiling measured
        # ~50% of runs stalled with idle cores and zero iowait) —
        # min-of-2 left ~25% odds of recording two stalled runs
        best = None
        for _ in range(3):
            t0 = time.monotonic()
            # count() runs only what the row count needs: Spark prunes
            # columns no one reads, and with them e.g. every column-fact
            # window of schema_discovery (`bench_extra.py noop` runs
            # the whole plan)
            fn(spark, sf_dir).count()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
            spark.catalog.clearCache()
        times[name] = round(best, 3)
        total += best
    n_rows = input_rows(spark, sf_dir)
    flagship = times["parse_route_aggregate"]
    out = {
        "metric": "parse_route_aggregate_pipeline",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf_dir,
        "cpus": int(cpus),
        "input_rows": n_rows,
        "rows_per_sec": round(n_rows / flagship, 1) if flagship > 0 else None,
    }
    spark.stop()
    return out


def run_scaling(sf_dir: str = SF_DIR, trials: int = 3) -> dict:
    """Same flagship job at N (local[8]) and 4N (local[32]) parallelism;
    report throughput at both + scaling efficiency (north-rule evidence).

    Methodology (this sandbox is a VM with time-varying hypervisor CPU
    steal — up to ~15%% observed):
      * each config runs in a FRESH JVM, CPU-PINNED (taskset) to exactly
        its core budget — a real 8-core cluster cannot lend its Python
        workers 24 idle host cores;
      * trials are INTERLEAVED (N, 4N, N, 4N, ...) and the best trial
        per config is kept, so transient host noise cannot bias one
        side;
      * the corpus is replicated (SPARK_GRAFT_SCALE_REPS, default 64 →
        16M statements) so the 4N run is long enough that fixed
        planning/scheduling overhead (~1-2 s) is amortized — the north
        rule measures steady-state throughput."""
    import shutil

    pair = os.environ.get("SPARK_GRAFT_SCALE_PAIR", "8,32").split(",")
    parsers = tuple(
        p.strip()
        for p in os.environ.get("SPARK_GRAFT_SCALE_PARSERS", "pandas,sql").split(",")
    )
    n_cores, n4_cores = pair[0].strip(), pair[1].strip()
    best: dict[tuple, dict] = {}
    all_trials: list[dict] = []
    for _trial in range(trials):
        for parser in parsers:
            for cpus in (n_cores, n4_cores):
                cmd = [sys.executable, __file__, "--single-flagship",
                       cpus, sf_dir, parser]
                if shutil.which("taskset"):
                    cmd = ["taskset", "-c", f"0-{int(cpus) - 1}", *cmd]
                proc = subprocess.run(
                    cmd, capture_output=True, text=True, timeout=3600
                )
                line = proc.stdout.strip().splitlines()[-1]
                res = json.loads(line)
                all_trials.append(res)
                key = (parser, cpus)
                if key not in best or res["rows_per_sec"] > best[key]["rows_per_sec"]:
                    best[key] = res

    def eff(parser):
        tp_n = best[(parser, n_cores)]["rows_per_sec"]
        tp_4n = best[(parser, n4_cores)]["rows_per_sec"]
        return {
            "cores_n": int(n_cores),
            "cores_4n": int(n4_cores),
            "throughput_n_rows_per_sec": tp_n,
            "throughput_4n_rows_per_sec": tp_4n,
            "speedup_n_to_4n": round(tp_4n / tp_n, 3),
            "scaling_efficiency_n_to_4n": round(tp_4n / tp_n / 4.0, 3),
        }

    return {
        **{
            {"pandas": "pandas_kernel", "sql": "sql_parser"}[p]: eff(p)
            for p in parsers
        },
        "trials": all_trials,
        "sf": sf_dir,
    }


def run_scaling_multijvm(
    sf_dir: str = SF_DIR, trials: int = 3, parser: str = "sql",
    n: int = 2, fanout: int = 4,
) -> dict:
    """Separate-JVM N→4N scaling control (round-2 VERDICT item 3).

    A real cluster scales from N to 4N executors by adding executor
    JVMs — it never grows one JVM's thread pool 4×. `local[8]` vs
    `local[2]` measures the latter: all parse threads share ONE heap,
    allocator and GC, which is exactly where the JVM expression parser
    (allocation-heavy regexp over strings) loses per-core rate. This
    control runs the SAME flagship job at N cores in one pinned JVM,
    then `fanout` CONCURRENT pinned N-core JVMs on disjoint cores —
    the faithful stand-in for adding executors. 4N throughput = sum of
    the concurrent jobs' throughputs (they process `fanout`× the rows
    in the same wall window); efficiency = that sum / (fanout × the
    single-JVM throughput). Interleaved trials, best per config."""
    import shutil

    def launch(core_lo: int):
        cmd = [sys.executable, __file__, "--single-flagship",
               str(n), sf_dir, parser]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"{core_lo}-{core_lo + n - 1}", *cmd]
        return subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
        )

    def collect(procs):
        out = []
        for p in procs:
            stdout, _ = p.communicate(timeout=3600)
            out.append(json.loads(stdout.strip().splitlines()[-1]))
        return out

    best_single, best_quad, all_trials = None, None, []
    for _trial in range(trials):
        single = collect([launch(0)])[0]
        single["config"] = "1xJVM"
        all_trials.append(single)
        if best_single is None or single["rows_per_sec"] > best_single["rows_per_sec"]:
            best_single = single
        quad = collect([launch(i * n) for i in range(fanout)])
        agg = sum(r["rows_per_sec"] for r in quad)
        for r in quad:
            r["config"] = f"{fanout}xJVM"
        all_trials.extend(quad)
        if best_quad is None or agg > best_quad["agg_rows_per_sec"]:
            best_quad = {"agg_rows_per_sec": agg, "jobs": quad}
    eff = best_quad["agg_rows_per_sec"] / (fanout * best_single["rows_per_sec"])
    return {
        "parser": parser,
        "cores_n": n,
        "cores_4n": n * fanout,
        "mode": "separate JVMs (executor-faithful)",
        "throughput_n_rows_per_sec": best_single["rows_per_sec"],
        "throughput_4n_rows_per_sec": round(best_quad["agg_rows_per_sec"], 1),
        "speedup_n_to_4n": round(
            best_quad["agg_rows_per_sec"] / best_single["rows_per_sec"], 3
        ),
        "scaling_efficiency_n_to_4n": round(eff, 3),
        "trials": all_trials,
        "sf": sf_dir,
    }


def _scaled_flagship(spark, sf_dir: str, reps: int, parser: str = "pandas"):
    """parse→route→aggregate (the BASELINE.json metric) over a reps×-
    replicated corpus: at sf0.1 the base input is 250k statements (~5 s
    of single-core parse), far too small to measure scaling — overhead
    dominates. The north-rule criterion is steady-state throughput, so
    the scaling run replicates the corpus until parse work dominates
    scheduling (reps=64 → 16M statements)."""
    from pyspark.sql import functions as F

    from redo_log_parser_spark.contract import synth_mixed_docs
    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.functions.parse_sql import parse_documents_sql

    # repartition the small base BEFORE the xN explode: the sf tables are
    # single parquet files (≤3 input splits), so fanning out first means
    # the replicate+parse work runs on all cores instead of 3 tasks
    base = synth_mixed_docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism * 4
    )
    docs = (
        base.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .withColumn("url", F.concat_ws("#", "url", F.col("rep").cast("string")))
        .drop("rep")
    )
    parse = parse_documents if parser == "pandas" else parse_documents_sql
    parsed = parse(docs, keep_cols=("url",))
    return parsed.groupBy("op", "table_id").agg(F.count("*").alias("n"))


def _cpu_stat():
    """(busy_jiffies, steal_jiffies, total_jiffies) from /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    vals = [int(x) for x in parts[1:]]
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle, steal, sum(vals)


def run_single_flagship(cpus: str, sf_dir: str, parser: str = "pandas") -> dict:
    """Subprocess entry used by run_scaling: flagship only, fresh JVM,
    one warm-up pass (small corpus) then the timed pass (steady-state
    throughput, not JVM/JIT startup). Each trial self-reports the
    hypervisor steal fraction observed during its timed window, so the
    evidence documents its own host conditions."""
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "64"))
    spark = _spark(cpus, parts_mult=4)
    n_rows = input_rows(spark, sf_dir) * reps
    _scaled_flagship(spark, sf_dir, 2, parser).count()  # warm-up (JIT)
    spark.catalog.clearCache()
    b0, s0, t0j = _cpu_stat()
    t0 = time.monotonic()
    _scaled_flagship(spark, sf_dir, reps, parser).count()
    dt = time.monotonic() - t0
    b1, s1, t1j = _cpu_stat()
    spark.stop()
    steal_pct = round(100.0 * (s1 - s0) / max(t1j - t0j, 1), 2)
    return {
        "cores": int(cpus), "parser": parser, "sec": round(dt, 3),
        "rows_per_sec": round(n_rows / dt, 1), "input_rows": n_rows,
        "host_steal_pct": steal_pct,
    }


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--single-flagship":
        parser = sys.argv[4] if len(sys.argv) > 4 else "pandas"
        print(json.dumps(run_single_flagship(sys.argv[2], sys.argv[3], parser)))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        print(json.dumps(run_scaling()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-multijvm":
        parser = sys.argv[2] if len(sys.argv) > 2 else "sql"
        print(json.dumps(run_scaling_multijvm(parser=parser)))
    else:
        print(json.dumps(run_once()))
