"""One fresh CLI process: set up the session, then run the CLI once.

Run from the repository root (Python workers import the package from the
working directory):

    python3 perfbench/sample.py <spec.json> <result.json>

spec keys: mode ("cli" or "traced"), argv (CLI arguments),
rerun (invoke the CLI a second time on the finished output), and for
"traced" the event-log directory. A traced process runs the same
`main()` with the layers' functions wrapped in spans (`tracing.py`).
The result holds monotonic timestamps, CPU seconds of this process tree
and, for "cli", what the CLI printed.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from procfs import tree_cpu_s  # noqa: E402


def _load_cli():
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join("jobs", "run_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _call_cli(cli, argv: list[str]) -> tuple[float, float, str]:
    """(start, end, stdout) of one call into main()."""
    sys.argv = ["jobs/run_pipeline.py", *argv]
    buf = io.StringIO()
    t0 = time.monotonic()
    with contextlib.redirect_stdout(buf):
        cli.main()
    return t0, time.monotonic(), buf.getvalue()


def main() -> int:
    spec_path, result_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as fh:
        spec = json.load(fh)
    cli = _load_cli()
    from redo_log_parser_spark.session import get_spark

    confs = {"spark.eventLog.enabled": "false"}
    if spec["mode"] == "traced":
        confs = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": spec["event_log_dir"],
                 "spark.eventLog.compress": "false"}
    spark = get_spark("rlps-pipeline", confs=confs)
    res = {"ready": time.monotonic()}
    pid = os.getpid()
    if spec["mode"] == "cli":
        cpu0 = tree_cpu_s(pid)
        t0, t1, out = _call_cli(cli, spec["argv"])
        res.update(run_start=t0, run_end=t1, cpu_s=tree_cpu_s(pid) - cpu0,
                   stdout=out)
        if spec.get("rerun"):
            t0, t1, out = _call_cli(cli, spec["argv"])
            res.update(rerun_s=t1 - t0, rerun_stdout=out)
    elif spec["mode"] == "traced":
        from tracing import LAYERS, Tracer, instrument

        tr = Tracer(spark)
        instrument(tr, cli)
        with tr.span("cli"):
            _, _, out = _call_cli(cli, spec["argv"])
        tr.release(*LAYERS)
        res.update(stdout=out, spans=list(tr.spans),
                   counts=json.loads(json.dumps(tr.counts)))
        if spec.get("rerun"):
            # untraced: the wrappers pass through outside a span
            t0, t1, out = _call_cli(cli, spec["argv"])
            res.update(rerun_s=t1 - t0, rerun_stdout=out)
    with open(result_path, "w") as fh:
        json.dump(res, fh)
    if spec["mode"] == "traced":
        # flushes the event log
        spark.stop()
        return 0
    # skip the interpreter's exit-time session stop: the caller kills
    # this process group, which ends the JVM and the Python workers
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
