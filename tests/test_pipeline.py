"""End-to-end: fan-out routing counts, lineage resume, logfile-source
parity, enrichment, the CLI's resumable default path."""

import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F

from redo_log_parser_spark import oracle
from redo_log_parser_spark.config import PipelineConfig
from redo_log_parser_spark.fixtures import enrichment_dims, mini_log_lines
from redo_log_parser_spark.functions.parse import parse_documents
from redo_log_parser_spark.pipeline import enrich, parse, run_parsed
from redo_log_parser_spark.sinks.lineage import completed_buckets
from redo_log_parser_spark.sources.logfile import read_log_files
from redo_log_parser_spark.operators.rowid import uniquify_row_ids


def test_full_pipeline_counts_and_traces(spark, mini_docs, tmp_path):
    out = str(tmp_path / "out")
    td, lm = enrichment_dims()
    cfg = PipelineConfig(root_classes=('"SYSTEM"."ORDERS"',))
    res = run_parsed(
        parse(mini_docs, cfg), out, cfg,
        table_dict=spark.createDataFrame(td),
        lang_map=spark.createDataFrame(lm),
    )
    assert res.routed_counts["sink_insert"] == 161
    assert res.routed_counts["sink_update"] == 220
    assert res.routed_counts["sink_delete"] == 52
    assert res.routed_counts["sink_rejects"] == 0
    # one trace per ORDERS entity: 70 (60 + 10 reused-rowid re-inserts)
    assert res.n_traces == 70
    # routed sink re-reads partition-pruned
    ins = spark.read.parquet(f"{out}/events_by_op").filter(F.col("op") == "insert")
    assert ins.count() == 161
    # enrichment columns came through the broadcast joins
    assert "clean_name" in ins.columns and "lang_name" in ins.columns
    # XES trace sink exists and is non-empty XML
    xes = spark.read.parquet(f"{out}/traces_xes")
    row = xes.first()
    assert row["trace_xml"].startswith("<trace><event>")


def test_unknown_root_class_rejected(mini_docs, tmp_path, persisted_rdd_ids):
    cfg = PipelineConfig(root_classes=("NOPE",))
    before = persisted_rdd_ids()
    with pytest.raises(ValueError, match="root class"):
        run_parsed(parse(mini_docs, cfg), str(tmp_path / "o2"), cfg)
    # the raise comes after the events cache was filled; it is released
    assert persisted_rdd_ids() <= before


def test_logfile_source_matches_documents_mode(spark, tmp_path):
    """Raw-file parity: reading the blank-line-separated file format must
    yield the same parsed statements as the documents mode."""
    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    (log_dir / "redo_log.txt").write_text("\n".join(mini_log_lines()))
    docs = read_log_files(spark, str(log_dir))
    parsed = parse_documents(docs, keep_cols=("url",))
    got = parsed.groupBy("op").count().collect()
    assert {r["op"]: r["count"] for r in got} == {
        "insert": 161, "update": 220, "delete": 52}
    # ordering: urls are zero-padded so (ts, url) is file order; check a
    # reused-rowid incarnation appears just as in documents mode
    events = uniquify_row_ids(parsed)
    n_incarnated = events.filter(F.col("row_id").contains("#")).count()
    assert n_incarnated > 0


def test_reference_artifact_through_spark(spark):
    """The reference's own sample log through the whole Spark parse path:
    counts must match README.md:69 (433 entries: 161/220/52)."""
    docs = read_log_files(spark, "/root/reference/artifacts/redo_log.txt")
    parsed = parse_documents(docs, keep_cols=("url",))
    counts = {r["op"]: r["count"] for r in parsed.groupBy("op").count().collect()}
    assert counts == {"insert": 161, "update": 220, "delete": 52}
    assert parsed.filter(F.col("parse_error").isNotNull()).count() == 0


def _parquet_digest(path: str) -> tuple:
    """DuckDB count(*) and sum(hash(row)) over a parquet dir."""
    import duckdb

    return duckdb.connect().execute(
        f"SELECT count(*), sum(hash(t)) FROM read_parquet('{path}/*.parquet') t"
    ).fetchone()


def test_multi_root_single_parse(spark, mini_docs, tmp_path, monkeypatch,
                                 persisted_rdd_ids):
    """The reference's interactive loop (Main.scala:131-162) re-expressed:
    several --root-class values share ONE parse + discovery pass and ONE
    entity-edge frame, and get one XES sink each, equal to the sink of a
    single-root run of that root."""
    from redo_log_parser_spark import pipeline

    calls = []
    real_edges = pipeline.entity_edges

    def counted_edges(*args, **kwargs):
        calls.append(1)
        return real_edges(*args, **kwargs)

    out = str(tmp_path / "multiroot")
    roots = {'"SYSTEM"."ORDERS"': "SYSTEM_._ORDERS",
             '"SYSTEM"."USERS"': "SYSTEM_._USERS"}
    cfg = PipelineConfig(root_classes=tuple(roots))
    mini_docs.count()  # materialize the fixture's own session cache
    before = persisted_rdd_ids()
    monkeypatch.setattr(pipeline, "entity_edges", counted_edges)
    res = run_parsed(parse(mini_docs, cfg), out, cfg)
    assert len(calls) == 1
    assert persisted_rdd_ids() <= before
    assert set(res.n_traces_by_root) == set(roots)
    assert res.n_traces_by_root['"SYSTEM"."ORDERS"'] == 70
    assert res.n_traces == sum(res.n_traces_by_root.values())
    for rc, sub in roots.items():
        xes = spark.read.parquet(f"{out}/traces_xes/{sub}")
        assert xes.first()["trace_xml"].startswith("<trace><event>")
        single = str(tmp_path / f"single_{sub}")
        run_parsed(parse(mini_docs), single, PipelineConfig(root_classes=(rc,)))
        got = _parquet_digest(f"{out}/traces_xes/{sub}")
        assert got[0] == res.n_traces_by_root[rc] > 0
        assert got == _parquet_digest(f"{single}/traces_xes")


def test_trace_tail_job_budget(spark, mini_docs, tmp_path, jobs_in_group):
    """Spark jobs of a two-root run on the mini-log, per stage of
    run_parsed (the job tag rlps:<stage>). Every job run_parsed starts
    carries one stage tag. All roots share one cached trace frame, so
    the .xes documents add one collect per root; the reference trace
    order adds one collect of the event log for all roots. The eager
    IND check adds one collect of its coverage fold to discovery. The
    ceilings are the counts measured when both IND modes shared one
    plan (44 jobs for the .xes run; 50 before, when eager mode built
    its own; 56 before both column flags came from one groupBy; 87
    before the shared trace frame); a change may lower them, never
    raise them."""
    roots = ('"SYSTEM"."ORDERS"', '"SYSTEM"."USERS"')
    tagged = spark.sparkContext._jsc.sc().statusTracker()
    mini_docs.count()  # materialize the fixture's own session cache
    runs = (  # (config, discover ceiling, run ceiling)
        ({}, 15, 42),
        ({"xes_document": True}, 15, 44),
        ({"xes_document": True, "reference_trace_order": True}, 15, 45),
        ({"eager_ind": True, "strict_primary_keys": True,
          "reference_monotonicity": True}, 23, 50),
    )
    for i, (kw, discover, total) in enumerate(runs):
        cfg = PipelineConfig(root_classes=roots, **kw)
        xes = len(roots) + cfg.reference_trace_order if cfg.xes_document else 0
        ceilings = {"fanout": 4, "discover": discover, "traces": 23, "xes": xes}
        group = f"job-budget-{i}"
        _, n_jobs = jobs_in_group(group, lambda: run_parsed(
            parse(mini_docs), str(tmp_path / f"run{i}"), cfg))
        in_run = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        per_stage = {
            st: len(in_run & set(tagged.getJobIdsForTag(f"rlps:{st}")))
            for st in ceilings}
        assert all(per_stage[st] <= c for st, c in ceilings.items()), (kw, per_stage)
        assert sum(per_stage.values()) == n_jobs, (kw, per_stage, n_jobs)
        assert n_jobs <= total, (kw, n_jobs)


def test_all_rows_rejected_stops_before_discovery(
        spark, mini_docs, tmp_path, jobs_in_group):
    """A root class needs a schema, and a log whose every row is a
    parse reject has none: run_parsed ends after the routed sinks with
    an error that names the rejects sink, and starts no discovery job.
    Here the mini-log's dd-MMM-yyyy stamps meet a yyyy-MM-dd pattern."""
    cfg = PipelineConfig(root_classes=('"SYSTEM"."ORDERS"',),
                         ts_format_java="yyyy-MM-dd HH:mm:ss")
    out = str(tmp_path / "rejected")
    n_rows = mini_docs.count()
    group = "all-rejects"
    with pytest.raises(ValueError, match=re.escape(
            f"{n_rows} of {n_rows} rows are parse rejects, see {out}/rejects")):
        jobs_in_group(group, lambda: run_parsed(parse(mini_docs, cfg), out, cfg))
    in_run = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    discover = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForTag(
        "rlps:discover")
    assert in_run and not in_run & set(discover)
    assert spark.read.parquet(f"{out}/rejects").count() == n_rows


def test_strict_flag_forwarded_to_discovery(spark, mini_docs, tmp_path):
    """cfg.strict_primary_keys must reach discover_schema (ADVICE r1):
    strict runs mark is_pk only for increasing, PK-named, duplicate-free
    columns — a strictly smaller (or equal, here: smaller) set."""
    lenient = run_parsed(
        parse(mini_docs), str(tmp_path / "s0"), PipelineConfig()
    ).schema.pk_candidates()
    strict = run_parsed(
        parse(mini_docs), str(tmp_path / "s1"),
        PipelineConfig(strict_primary_keys=True),
    ).schema.pk_candidates()
    assert strict <= lenient
    assert strict != lenient, "strict must actually constrain the PK set"


def test_logfile_orphan_line_becomes_reject(spark, tmp_path):
    """A file with an odd number of non-blank lines: the reference crashes
    on the 1-element chunk (FileParser.scala chunk(1)); the repo policy
    converts crashes into observable rejects — the orphan must flow
    through as missing_id_line, not vanish."""
    log_dir = tmp_path / "oddlogs"
    log_dir.mkdir()
    (log_dir / "odd.txt").write_text(
        'insert into "S"."T"("ID") values (\'1\');\n'
        "AAAX 01-JAN-2020 00:00:00\n"
        "\n"
        'insert into "S"."T"("ID") values (\'2\');\n'
    )
    docs = read_log_files(spark, str(log_dir))
    assert docs.count() == 2
    parsed = parse_documents(docs, keep_cols=("url",))
    errs = [r["parse_error"] for r in parsed.collect() if r["parse_error"]]
    assert errs == ["missing_id_line"]


def test_xes_document_per_root_and_console_schema(spark, mini_docs, tmp_path):
    """cfg.xes_document writes the reference-style <root>_result.xes per
    root (Main.scala:149-153); format_console renders Table/Column
    toString lines. The op sinks are written from the cached `events`
    frame, so their file count per op shows that AQE coalesced that
    cache instead of keeping one partition per shuffle partition."""
    import glob
    import xml.etree.ElementTree as ET

    out = str(tmp_path / "xdoc")
    cfg = PipelineConfig(root_classes=('"SYSTEM"."ORDERS"',), xes_document=True)
    res = run_parsed(parse(mini_docs, cfg), out, cfg)
    doc = f"{out}/SYSTEM_._ORDERS_result.xes"
    root = ET.parse(doc).getroot()
    ns = "{http://www.xes-standard.org/}"
    assert len(root.findall(f"{ns}trace")) == res.n_traces == 70
    with open(doc, encoding="utf-8") as fh:
        first = fh.readline()
    assert first == "<?xml version='1.0' encoding='UTF-8'?>\n"

    dump = res.schema.format_console()
    assert 'TABLE "SYSTEM"."ORDERS"' in dump
    assert "ID (PRIMARY KEY) " in dump
    assert 'USER_ID FK CANDIDATE FOR: "SYSTEM"."USERS".ID' in dump
    strict_dump = res.schema.format_console(strict=True)
    assert "(STRONG PRIMARY KEY)" in strict_dump or "(PRIMARY KEY)" not in strict_dump

    op_dirs = glob.glob(f"{out}/events_by_op/op=*")
    assert op_dirs
    for d in op_dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert 1 <= len(files) <= spark.sparkContext.defaultParallelism, d


def test_safe_root_names_collision_proof():
    """Sanitizing is lossy ('"S"."T"' and 'S_._T' both map to 'S_._T');
    colliding roots must get DISTINCT sink names (hash suffix) while
    non-colliding roots keep the plain sanitized form (round-2 ADVICE)."""
    from redo_log_parser_spark.pipeline import _safe_root_names

    roots = ['"S"."T"', "S_._T", '"SYS"."ORDERS"']
    names = _safe_root_names(roots)
    assert len(set(names.values())) == 3
    assert names['"SYS"."ORDERS"'] == "SYS_._ORDERS"  # no collision → plain
    assert names['"S"."T"'] != names["S_._T"]
    assert all(n.startswith("S_._T") for r, n in names.items() if r != '"SYS"."ORDERS"')


def test_lineage_batched_resume_single_action(spark, mini_docs, tmp_path):
    """run_resumable must process ALL pending buckets in one
    write job (plus O(1) bookkeeping jobs), keep per-bucket idempotence,
    and skip completed buckets without calling the transform again."""
    from pyspark.sql import functions as F

    from redo_log_parser_spark.sinks.lineage import (
        record_lineage, run_resumable,
    )

    out = str(tmp_path / "batched_out")
    # pre-mark buckets 0 and 3 done (simulating a prior partial run)
    for b in (0, 3):
        record_lineage(out, {
            "bucket": b, "status": "ok", "rows_in": 0, "rows_clean": 0,
            "rows_reject": 0, "wall_sec": 0.0, "run_id": "r0",
        })

    calls = []

    def transform(df):
        calls.append(df)
        return df.select("url", "bucket", F.length("text").alias("n_chars"))

    sc = spark.sparkContext
    sc.setJobGroup("batched-resume", "batched lineage resume")
    try:
        r1 = run_resumable(
            mini_docs, out, transform, n_buckets=16, run_id="r1")
    finally:
        sc.setJobGroup(None, None)
    # 14 pending buckets resumed by an O(1) number of jobs (1 write +
    # 1 read-back count + AQE/file-listing extras), NOT one per bucket
    jobs = sc.statusTracker().getJobIdsForGroup("batched-resume")
    assert 1 <= len(jobs) <= 6, jobs
    assert sorted(e["bucket"] for e in r1) == [b for b in range(16) if b not in (0, 3)]
    assert completed_buckets(out) == set(range(16))
    written = spark.read.parquet(f"{out}/data")
    n_written = written.count()
    assert n_written == sum(e["rows_in"] for e in r1) > 0

    # fully resumed: nothing pending, the transform is not called again
    # and no Spark job starts, also for an equal frame built anew
    fresh = spark.createDataFrame(mini_docs.toPandas())
    sc.setJobGroup("batched-rerun", "batched lineage rerun")
    try:
        assert run_resumable(
            fresh, out, transform, n_buckets=16, run_id="r2") == []
    finally:
        sc.setJobGroup(None, None)
    assert len(calls) == 1
    assert sc.statusTracker().getJobIdsForGroup("batched-rerun") == []

    # a fresh output: every bucket runs, and the rows add up to the input
    r4 = run_resumable(
        mini_docs, str(tmp_path / "all4"), transform, n_buckets=4)
    assert [e["bucket"] for e in r4] == [0, 1, 2, 3]
    assert sum(e["rows_in"] for e in r4) == mini_docs.count() == 433
    assert completed_buckets(str(tmp_path / "all4")) == {0, 1, 2, 3}

    # drop one bucket's lineage record -> exactly that bucket re-runs and
    # dynamic overwrite touches only its own partition (total unchanged)
    import glob, os
    victim = glob.glob(f"{out}/_lineage/bucket_00005_*.json")
    for f in victim:
        os.remove(f)
    r3 = run_resumable(
        mini_docs, out, transform, n_buckets=16, run_id="r3")
    assert [e["bucket"] for e in r3] == [5]
    assert spark.read.parquet(f"{out}/data").count() == n_written

    # transform that loses the bucket column is rejected loudly
    with pytest.raises(ValueError, match="bucket"):
        run_resumable(
            mini_docs, str(tmp_path / "other"),
            lambda df: df.select("url"), n_buckets=2)


def test_lineage_batched_manifest_honesty(spark, mini_docs, tmp_path):
    """The batched manifest must be derived, not faked (round-3 VERDICT
    #3): rows_clean/rows_reject split by parse_error nullity per bucket,
    wall_sec = the one shared job wall (identical on every entry, with
    job_buckets recording how many shared it)."""
    from redo_log_parser_spark.functions.parse import parse_documents
    from redo_log_parser_spark.sinks.lineage import run_resumable

    out = str(tmp_path / "honest_out")
    # corrupt a deterministic slice so some buckets carry real rejects
    docs = mini_docs.withColumn(
        "text",
        F.when(F.xxhash64("url") % 5 == 0, F.lit("not a redo statement"))
        .otherwise(F.col("text")),
    )

    def transform(df):
        return parse_documents(
            df, keep_cols=("url", "warc_ts", "lang", "bucket")
        ).select("url", "bucket", "op", "parse_error")

    entries = run_resumable(docs, out, transform, n_buckets=4)
    assert len(entries) == 4
    got = spark.read.parquet(f"{out}/data")
    by_bucket = {
        r["bucket"]: (r["n"], r["n_rej"])
        for r in got.groupBy("bucket").agg(
            F.count("*").alias("n"),
            F.sum(F.col("parse_error").isNotNull().cast("long")).alias("n_rej"),
        ).collect()
    }
    assert sum(rej for _n, rej in by_bucket.values()) > 0  # fixture bites
    for e in entries:
        n, rej = by_bucket[e["bucket"]]
        assert e["rows_in"] == n
        assert e["rows_reject"] == rej
        assert e["rows_clean"] == n - rej
        assert e["job_buckets"] == 4
    walls = {e["wall_sec"] for e in entries}
    assert len(walls) == 1 and walls.pop() > 0  # one shared job wall


def test_lineage_batched_crash_between_write_and_append(spark, mini_docs, tmp_path):
    """Crash injection: the driver dies AFTER the data write but with
    only part of the lineage appended -> a re-run resumes exactly the
    unrecorded buckets and the written data is byte-stable (dynamic
    partition overwrite rewrites only those buckets)."""
    from redo_log_parser_spark.sinks import lineage as L

    out = str(tmp_path / "crash_out")

    def transform(df):
        return df.select("url", "bucket", F.length("text").alias("n_chars"))

    real_record = L.record_lineage
    calls = {"n": 0}

    def dying_record(out_dir, entry):
        if calls["n"] >= 3:
            raise RuntimeError("injected crash after 3 lineage appends")
        calls["n"] += 1
        real_record(out_dir, entry)

    L.record_lineage = dying_record
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            L.run_resumable(
                mini_docs, out, transform, n_buckets=8, run_id="r1")
    finally:
        L.record_lineage = real_record

    done = completed_buckets(out)
    assert len(done) == 3                      # the appends that landed
    data_before = sorted(
        (r["url"], r["bucket"], r["n_chars"])
        for r in spark.read.parquet(f"{out}/data").collect())

    r2 = L.run_resumable(
        mini_docs, out, transform, n_buckets=8, run_id="r2")
    assert sorted(e["bucket"] for e in r2) == sorted(set(range(8)) - done)
    assert completed_buckets(out) == set(range(8))
    data_after = sorted(
        (r["url"], r["bucket"], r["n_chars"])
        for r in spark.read.parquet(f"{out}/data").collect())
    assert data_after == data_before           # idempotent re-write


def test_verbose_entry_dumps(spark, mini_docs, capsys):
    """--verbose analogue of the reference's printEntries /
    printParsedLogEntries / printTransformedLogEntries
    (cli/package.scala:23-53): all three reference headers appear, with
    n-row heads rather than full dumps."""
    from redo_log_parser_spark.pipeline import print_verbose_entries

    print_verbose_entries(mini_docs, source="/tmp/mini.parquet", n=5)
    out = capsys.readouterr().out
    assert "Read following log entries from /tmp/mini.parquet:" in out
    assert "Extracted the following statements out of the log entries:" in out
    assert ("Transformed the following log entries and their row "
            "identifiers:") in out
    assert "only showing top 5 rows" in out


# ---------------------------------------------------------------------------
# The CLI's two paths: the default path checkpoints only parse per bucket
# and runs the global stages once; --no-resume parses in memory.

ROOT = '"SYSTEM"."ORDERS"'


@pytest.fixture(scope="module")
def cli_input(spark, mini_docs, tmp_path_factory):
    """The mini-log as a documents parquet, plus three rows that parse
    to rejects, so every sink has rows."""
    bad = (
        mini_docs.orderBy("url").limit(3)
        .withColumn("url", F.concat("url", F.lit("#bad")))
        .withColumn("text", F.lit("not a redo statement"))
    )
    path = str(tmp_path_factory.mktemp("cli") / "docs.parquet")
    mini_docs.unionByName(bad).write.parquet(path)
    return path


def _cli_args(inp, out, *extra):
    return ("--input", inp, "--output", out, "--root-class", ROOT,
            "--xes-file", *extra)


def _sink_digests(out: str) -> dict:
    """Row count and DuckDB sum(hash(row)) per sink, sha256 of the .xes."""
    import duckdb

    con = duckdb.connect()
    got = {}
    for sink in ("events_by_op", "rejects", "traces_xes"):
        got[sink] = con.execute(
            "SELECT count(*), sum(hash(t)) FROM read_parquet("
            f"'{out}/{sink}/**/*.parquet', hive_partitioning = true) t"
        ).fetchone()
    with open(f"{out}/SYSTEM_._ORDERS_result.xes", "rb") as fh:
        got["xes"] = hashlib.sha256(fh.read()).hexdigest()
    return got


@pytest.fixture(scope="module")
def single_pass(cli, cli_input, tmp_path_factory):
    """(sink digests, printed summary) of one --no-resume run."""
    out = str(tmp_path_factory.mktemp("single") / "out")
    summary = cli(*_cli_args(cli_input, out, "--no-resume"))
    assert summary["traces"] == 70
    assert summary["routed"]["sink_rejects"] == 3
    # --no-resume writes no checkpoint and no manifest
    assert not os.path.exists(f"{out}/_lineage")
    assert not os.path.exists(f"{out}/data")
    return _sink_digests(out), summary


@pytest.mark.parametrize("buckets", [1, 4, 16])
def test_cli_default_path_matches_no_resume(
        spark, cli, cli_input, single_pass, tmp_path, buckets):
    """The default path and --no-resume write hash-identical sinks and
    .xes: only parse runs per bucket, every global stage sees the whole
    log."""
    digests, summary = single_pass
    out = str(tmp_path / f"resumed{buckets}")
    got = cli(*_cli_args(cli_input, out, "--buckets", str(buckets)))
    assert got == {**summary, "buckets_processed": buckets}
    assert _sink_digests(out) == digests
    # the parse checkpoint lives beside the sinks, not inside them
    assert os.path.isdir(f"{out}/data/bucket=0")


def test_cli_crash_after_parse_reruns_only_the_tail(
        cli, cli_input, single_pass, tmp_path, monkeypatch,
        persisted_rdd_ids, jobs_in_group):
    """A tail that raises after the parse checkpoint is written, before
    or after the trace frame is cached, releases every cached frame;
    the rerun starts no parse job and ends with the single-pass sinks."""
    from redo_log_parser_spark import pipeline
    from redo_log_parser_spark.sinks import xes as xes_sink

    digests, summary = single_pass
    out = str(tmp_path / "crashed")
    args = _cli_args(cli_input, out, "--buckets", "4")
    real_build = pipeline.build_traces_df
    real_write_xes = xes_sink.write_xes_document
    real_resumable = cli.module.run_resumable

    def crash(*a, **k):
        raise RuntimeError("injected tail crash")

    monkeypatch.setattr(pipeline, "build_traces_df", crash)
    before = persisted_rdd_ids()
    with pytest.raises(RuntimeError, match="injected tail crash"):
        cli(*args)
    assert persisted_rdd_ids() <= before
    assert completed_buckets(out) == {0, 1, 2, 3}
    monkeypatch.setattr(pipeline, "build_traces_df", real_build)

    # a crash after the cached trace frame was filled (by the parquet
    # write) releases it too
    cached_at_crash = []

    def crash_in_xes(*a, **k):
        cached_at_crash.append(persisted_rdd_ids() - before)
        crash()

    monkeypatch.setattr(xes_sink, "write_xes_document", crash_in_xes)
    with pytest.raises(RuntimeError, match="injected tail crash"):
        cli(*args)
    assert cached_at_crash and cached_at_crash[0]
    assert persisted_rdd_ids() <= before
    assert completed_buckets(out) == {0, 1, 2, 3}
    monkeypatch.setattr(xes_sink, "write_xes_document", real_write_xes)

    parse_jobs = []
    parse_calls = []
    real_parse = pipeline.parse_documents

    def counted_parse(*a, **k):
        parse_calls.append(1)
        return real_parse(*a, **k)

    def grouped_resumable(*a, **k):
        out, n = jobs_in_group(
            "cli-parse-rerun", lambda: real_resumable(*a, **k))
        parse_jobs.append(n)
        return out

    monkeypatch.setattr(pipeline, "parse_documents", counted_parse)
    monkeypatch.setattr(cli.module, "run_resumable", grouped_resumable)
    got = cli(*args)
    assert parse_jobs == [0] and parse_calls == []
    assert got == {**summary, "buckets_processed": 0}
    assert _sink_digests(out) == digests


def test_cli_rerun_on_finished_output_starts_no_job(
        cli, cli_input, tmp_path, jobs_in_group):
    """Once the completion entry is in the manifest, a rerun prints
    buckets_processed: 0 and starts no Spark job at all."""
    out = str(tmp_path / "finished")
    args = _cli_args(cli_input, out, "--buckets", "4")
    assert cli(*args)["buckets_processed"] == 4
    summary, n_jobs = jobs_in_group("cli-finished-rerun", lambda: cli(*args))
    assert summary == {"buckets_processed": 0}
    assert n_jobs == 0


def test_cli_refuses_resume_with_other_bucket_count(
        cli, cli_input, single_pass, tmp_path):
    """A checkpoint's bucket ids hash urls modulo its own bucket count:
    resuming with another --buckets would re-parse rows under new ids
    beside the old ones. The rerun raises, naming both counts, and
    resuming with the recorded count still gives the single-pass
    sinks."""
    import glob

    digests, summary = single_pass
    out = str(tmp_path / "rebucketed")
    assert cli(*_cli_args(cli_input, out, "--buckets", "4"))[
        "buckets_processed"] == 4
    # a crash after parse: the completion entry is missing
    for f in glob.glob(f"{out}/_lineage/bucket_-0001_*.json"):
        os.remove(f)
    with pytest.raises(ValueError, match="4 buckets.* 8"):
        cli(*_cli_args(cli_input, out, "--buckets", "8"))
    assert cli(*_cli_args(cli_input, out, "--buckets", "4")) == {
        **summary, "buckets_processed": 0}
    assert _sink_digests(out) == digests


@pytest.mark.parametrize("flag, needs", [
    ("--reference-console-order", "--print-schema"),
    ("--reference-trace-order", "--xes-file"),
])
def test_cli_rejects_flag_without_its_output(
        cli, cli_input, tmp_path, capsys, flag, needs):
    """A flag that only changes an output the run does not write is an
    error, not silently ignored."""
    with pytest.raises(SystemExit) as exc:
        cli("--input", cli_input, "--output", str(tmp_path / "out"),
            "--root-class", ROOT, flag)
    assert exc.value.code == 2
    assert f"{flag} needs {needs}" in capsys.readouterr().err


@pytest.mark.parametrize("flags", [
    ("--print-schema", "--reference-console-order"),
    ("--xes-file", "--reference-trace-order"),
])
def test_cli_replay_guard_names_the_flag(
        cli, cli_input, tmp_path, monkeypatch, flags):
    """The reference orders are replayed on the driver over the collected
    clean log. Past `REPLAY_MAX_ROWS` clean rows the run stops with a
    ValueError naming the flag that asked for the replay."""
    from redo_log_parser_spark.sinks import xes

    monkeypatch.setattr(xes, "REPLAY_MAX_ROWS", 5)
    with pytest.raises(ValueError, match=f"more than 5 clean rows.*{flags[1]}"):
        cli("--input", cli_input, "--output", str(tmp_path / "out"),
            "--root-class", ROOT, "--no-resume", *flags)


@pytest.mark.parametrize("argv, says", [
    (("--timestamp-pattern", "yyyy-MM-ddTHH:mm:ss"), "'T'"),
    (("--parser", "sql"), "--parser"),
])
def test_cli_refuses_before_any_job(
        cli, cli_input, tmp_path, capsys, jobs_in_group, argv, says):
    """A --timestamp-pattern the compiler cannot translate is a usage
    error before the session's first job, as java.time refuses it
    before the reference reads a row; --parser is gone (the CLI runs
    the one parse kernel)."""
    out = tmp_path / "out"

    def run():
        with pytest.raises(SystemExit) as exc:
            cli("--input", cli_input, "--output", str(out),
                "--root-class", ROOT, "--no-resume", *argv)
        return exc.value.code

    code, n_jobs = jobs_in_group("cli-refused", run)
    assert (code, n_jobs) == (2, 0)
    assert says in capsys.readouterr().err
    assert not out.exists()


def test_cli_timestamp_pattern(spark, cli, mini_docs_pdf, tmp_path):
    """The mini-log stamped yyyy-MM-dd HH:mm:ss routes and traces like
    the original under that pattern. Under the default pattern every
    row is a bad_timestamp reject, and the run still ends."""
    import re
    from datetime import datetime

    def iso(m):
        return datetime.strptime(m.group(), "%d-%b-%Y %H:%M:%S").strftime(
            "%Y-%m-%d %H:%M:%S")

    pdf = mini_docs_pdf.copy()
    pdf["text"] = [
        re.sub(r"[0-9]{2}-[A-Z]{3}-[0-9]{4} [0-9:]{8}", iso, t)
        for t in pdf["text"]]
    inp = str(tmp_path / "iso.parquet")
    spark.createDataFrame(pdf).write.parquet(inp)
    got = cli("--input", inp, "--output", str(tmp_path / "iso"),
              "--root-class", ROOT, "--no-resume",
              "--timestamp-pattern", "yyyy-MM-dd HH:mm:ss")
    assert got == {"routed": {"sink_insert": 161, "sink_update": 220,
                              "sink_delete": 52, "sink_rejects": 0},
                   "traces": 70}
    out = str(tmp_path / "default")
    got = cli("--input", inp, "--output", out, "--no-resume")
    assert got["routed"]["sink_rejects"] == len(pdf)
    assert [r[0] for r in spark.read.parquet(f"{out}/rejects")
            .select("parse_error").distinct().collect()] == ["bad_timestamp"]


def test_cli_include_update_values(cli, cli_input, tmp_path):
    """--include-update-values names each update event with its new
    value (TraceIDParser.scala:124-127) in the .xes document."""
    import re

    out = tmp_path / "upd"
    cli("--input", cli_input, "--output", str(out), "--root-class", ROOT,
        "--no-resume", "--xes-file", "--include-update-values")
    xes = (out / "SYSTEM_._ORDERS_result.xes").read_text(encoding="utf-8")
    names = re.findall(r'key="concept:name" value="(Update [^"]*)"', xes)
    assert names
    assert all(re.fullmatch(r"Update .+ value of .+ entity to .*", n)
               for n in names), names[:3]


def test_cli_explode_records(spark, cli, tmp_path):
    """--explode-records un-packs documents that batch several records
    (fuzz seed 31, 1-5 per text cell): they route like the same
    records one per document."""
    from fuzzgen import (fuzz_records, records_to_documents,
                         records_to_packed_documents)

    records, _ = fuzz_records(seed=31)
    routed = {}
    for name, pdf, extra in (
            ("single", records_to_documents(records), ()),
            ("packed", records_to_packed_documents(records, seed=31),
             ("--explode-records",))):
        inp = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(pdf).write.parquet(inp)
        routed[name] = cli("--input", inp, "--output",
                           str(tmp_path / f"{name}_out"), "--no-resume",
                           *extra)["routed"]
    assert routed["packed"] == routed["single"]
    assert sum(routed["single"].values()) == len(records)
