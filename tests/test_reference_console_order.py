"""oracle.reference_console_dump: BYTE-faithful console schema dump —
the last Scala-HashMap-order artifact that was still canonicalized
away. Validated (a) against pinned dumps captured from the in-sandbox
binary (always run) and (b) live against the binary on fuzz logs and
the shipped artifact (skipped without the toolchain). The CLI's
`--print-schema --reference-console-order` lays the engine's own schema
out in the same order and is held byte-equal to the oracle here."""

import os

import pytest

from fuzzgen import write_fuzz_log
from redo_log_parser_spark import oracle
from redo_log_parser_spark.config import PipelineConfig
from redo_log_parser_spark.fixtures import mini_log_lines

SCALA_LIB = "/root/.sbt/boot/scala-2.12.19/lib"


def _dump(log_path: str, strict: bool = False, cfg=None) -> str:
    lines = open(log_path, encoding="utf-8").read().splitlines()
    entries = oracle.uniquify_row_ids(
        oracle.parse_log_lines(lines, cfg or PipelineConfig()))
    return oracle.reference_console_dump(entries, strict=strict)


def test_console_dump_matches_pinned_golden():
    """The captured reference dump for artifacts/redo_log.txt must be
    reproduced byte-for-byte — including table order, column order and
    FK-target order (no canonicalization)."""
    fx = os.path.join(os.path.dirname(__file__), "fixtures",
                      "reference_redo_log_schema.txt")
    got = _dump("/root/reference/artifacts/redo_log.txt")
    assert got == open(fx, encoding="utf-8").read().strip("\n")


def test_console_dump_matches_pinned_strict_golden():
    fx = os.path.join(os.path.dirname(__file__), "fixtures",
                      "reference_redo_log_schema_strict.txt")
    got = _dump("/root/reference/artifacts/redo_log.txt", strict=True)
    assert got == open(fx, encoding="utf-8").read().strip("\n")


def test_console_dump_matches_binary_on_fuzz_logs(tmp_path):
    """Live differential check on random logs (incl. late-born columns
    from the round-4 generator), plain AND strict."""
    from refbin import ensure_reference_build, run_reference

    try:
        cp = ensure_reference_build()
    except RuntimeError as e:
        pytest.skip(f"reference build failed: {e}")
    if cp is None:
        pytest.skip("Scala toolchain unavailable")

    for seed in (17, 28, 39, 410, 511):
        log = str(tmp_path / f"f{seed}.log")
        write_fuzz_log(seed, log)
        for strict in (False, True):
            ref, _ = run_reference(
                log, "-", str(tmp_path / "x.xes"), strict=strict)
            assert _dump(log, strict) == ref, (seed, strict)


# the binary's semantics: eager INDs, and under strict its vacuous
# monotonicity check
_MODES = {False: ("--eager-ind",),
          True: ("--strict", "--eager-ind", "--reference-monotonicity")}


def _cli_dump(cli, log_dir, out, strict):
    """(the schema dump, the reject count) the CLI prints for the logs
    in `log_dir`."""
    summary = cli("--input", str(log_dir), "--input-format", "logfile",
                  "--output", str(out), "--no-resume", "--print-schema",
                  "--reference-console-order", *_MODES[strict])
    # blank line, header, the dump, then the summary dict
    dump = "\n".join(cli.stdout.splitlines()[2:-1])
    return dump, summary["routed"]["sink_rejects"]


def test_cli_reference_console_order_matches_oracle(cli, tmp_path):
    """The engine's discovered schema in the reference's order equals
    the oracle's replay byte for byte, plain and strict, on the mini-log
    and on fuzz logs. A reject row (here an insert with more columns
    than values, of a table no clean row names) is left out of the
    order as it is left out of the schema: the run exits 0 and prints
    the clean rows' dump."""
    mini = mini_log_lines()
    reject = ['insert into "SYSTEM"."REJECTED"("ID","NAME") values (\'1\');',
              "AAAREJECTED0000000 21-JUL-2020 16:29:41", ""]
    # name -> (the log, its clean rows)
    logs = {"mini": (mini, mini),
            "mini+reject": (mini[:3] + reject + mini[3:], mini)}
    for seed in (17, 28, 39):
        path = str(tmp_path / f"f{seed}.log")
        write_fuzz_log(seed, path)
        lines = open(path, encoding="utf-8").read().split("\n")
        logs[f"fuzz{seed}"] = (lines, lines)
    for name, (lines, clean) in logs.items():
        log_dir = tmp_path / name
        log_dir.mkdir()
        (log_dir / "redo_log.txt").write_text(
            "\n".join(lines), encoding="utf-8")
        entries = oracle.uniquify_row_ids(
            oracle.parse_log_lines(clean, PipelineConfig()))
        for strict in (False, True):
            want = oracle.reference_console_dump(entries, strict=strict)
            got = _cli_dump(cli, log_dir, tmp_path / f"{name}-{strict}",
                            strict)
            assert got == (want, int(lines is not clean)), (name, strict)
