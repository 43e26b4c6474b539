"""Output check against the generator's ground truth.

Sinks are found by walking the output directory recursively, so the
check does not depend on where the pipeline nests them (single pass,
per-bucket directories, or a later layout): routed rows are the parquet
files under an `events_by_op/op=<op>` directory, rejects those under
`rejects`, traces those under `traces_xes` (one subdirectory per root
when there are several), and `.xes` documents the `*_result.xes` files.
Row counts come from parquet footers; only the trace sink is read.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

import pyarrow.parquet as pq

from gen import trace_digest

SCHEMA_HEADER = "Exctracted the following database schema"


def safe_root_name(root: str) -> str:
    """File-system name the CLI gives a root's sinks."""
    return re.sub(r"[^A-Za-z0-9_.-]+", "_", root).strip("_")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def read_sinks(out_dir: str) -> dict:
    routed: Counter = Counter()
    rejects = 0
    traces: dict[str, list] = {}
    xes_docs: dict[str, int] = {}
    for d, _, files in os.walk(out_dir):
        parts = os.path.relpath(d, out_dir).split(os.sep)
        for f in files:
            path = os.path.join(d, f)
            if f.endswith("_result.xes"):
                with open(path, encoding="utf-8") as fh:
                    xes_docs[f[: -len("_result.xes")]] = fh.read().count(
                        "<trace>")
                continue
            if not f.endswith(".parquet"):
                continue
            if "events_by_op" in parts:
                op = [p[3:] for p in parts if p.startswith("op=")]
                routed[op[0] if op else "?"] += pq.ParquetFile(
                    path).metadata.num_rows
            elif "rejects" in parts:
                rejects += pq.ParquetFile(path).metadata.num_rows
            elif "traces_xes" in parts:
                sub = parts[parts.index("traces_xes") + 1:]
                t = pq.read_table(path, columns=["case_id", "trace_xml"])
                traces.setdefault(sub[0] if sub else "", []).extend(
                    zip(t.column("case_id").to_pylist(),
                        t.column("trace_xml").to_pylist()))
    return {"routed": dict(routed), "rejects": rejects, "traces": traces,
            "xes_docs": xes_docs}


def parse_schema_dump(stdout: str) -> dict | None:
    """Tables, columns, PK candidates and INDs from the console dump that
    `--print-schema` prints, or None when there is none."""
    if SCHEMA_HEADER not in stdout:
        return None
    body = stdout.split(SCHEMA_HEADER, 1)[1].split("\n", 1)[1]
    columns, pks, inds, table = [], [], [], None
    for line in body.splitlines():
        if line.startswith("{"):
            break
        if not line.strip():
            continue
        if line.startswith("TABLE "):
            table = line[6:].strip()
            continue
        head, _, fk = line.partition("FK CANDIDATE FOR: ")
        col = head.split(" ")[0]
        columns.append([table, col])
        if head.rstrip().endswith("(PRIMARY KEY)"):
            pks.append([table, col])
        for tgt in filter(None, fk.strip().split(" AND ")):
            rt, rc = tgt.rsplit(".", 1)
            inds.append([table, col, rt, rc])
    return {"tables": sorted({t for t, _ in columns}),
            "columns": sorted(columns), "pk": sorted(pks),
            "inds": sorted(inds)}


def cli_summary(stdout: str) -> dict | None:
    """The dict the CLI prints last, e.g. {'routed': {...}, 'traces': n}."""
    for line in reversed(stdout.splitlines()):
        if line.startswith("{'"):
            return ast.literal_eval(line)
    return None


def check(truth: dict, out_dir: str, stdout: str) -> list[str]:
    """Problems found; an empty list means the run is correct."""
    problems = []
    got = read_sinks(out_dir)
    want_routed = truth["routed"]
    if got["routed"] != want_routed:
        problems.append(f"routed rows {got['routed']} != {want_routed}")
    if got["rejects"] != truth["rejects"]:
        problems.append(f"rejects {got['rejects']} != {truth['rejects']}")

    args = truth["cli_args"]
    summary = cli_summary(stdout)
    if "--no-resume" in args and not (summary and "routed" in summary):
        problems.append("no {'routed': ...} summary printed")
    elif summary and "routed" in summary:
        want = {f"sink_{k}": v for k, v in want_routed.items()}
        want["sink_rejects"] = truth["rejects"]
        if summary["routed"] != want:
            problems.append(f"printed routed {summary['routed']} != {want}")
        cases = sum(r["cases"] for r in truth["roots"].values())
        if summary["traces"] != cases:
            problems.append(f"printed traces {summary['traces']} != {cases}")

    schema = parse_schema_dump(stdout)
    if "--print-schema" in args and schema is None:
        problems.append("no schema dump printed")
    elif schema is not None:
        want_schema = truth["schema"]
        for key in ("tables", "columns", "pk", "inds"):
            if schema[key] != sorted(want_schema[key]):
                problems.append(f"schema {key} differ: got {len(schema[key])}"
                                f", want {len(want_schema[key])}")

    roots = truth["roots"]
    for root, want in roots.items():
        key = "" if len(roots) == 1 else safe_root_name(root)
        pairs = got["traces"].get(key, [])
        sizes = [xml.count("<event>") for _, xml in pairs]
        seen = {"cases": len(pairs), "events": sum(sizes),
                "max_case_events": max(sizes, default=0),
                "digest": trace_digest(pairs)}
        for k, v in seen.items():
            if v != want[k]:
                problems.append(f"{root} traces {k} {v} != {want[k]}")
    if roots and set(got["traces"]) - {"" if len(roots) == 1 else
                                       safe_root_name(r) for r in roots}:
        problems.append(f"unexpected trace sinks {sorted(got['traces'])}")
    if "--xes-file" in args:
        for root, want in roots.items():
            n = got["xes_docs"].get(safe_root_name(root))
            if n != want["cases"]:
                problems.append(f"{root} .xes document traces {n} != "
                                f"{want['cases']}")
    return problems
