"""Deterministic synthetic fixtures (FIXTURES.md §1).

Generates the Common-Crawl-style `documents` table
(url, warc_ts, html, text, lang) whose `text` cells each hold one 2-line
redo record, mirroring /root/reference/artifacts/redo_log.txt's shape:
USERS bulk inserts, an ORDERS state machine referencing USERS, INVOICES
referencing ORDERS, deletes with ROWID reuse (exercising
EventExtractor.scala:44-87 incarnation logic).

The mini-log preset reproduces the reference sample's exact statement
histogram: 161 inserts / 220 updates / 52 deletes (README.md:69).
Everything is seeded and wall-clock-free.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import pandas as pd

_NAMES = [
    "Liam", "Emma", "Noah", "Olivia", "William", "Ava", "James", "Isabella",
    "Oliver", "Sophia", "Benjamin", "Charlotte", "Elijah", "Mia", "Lucas",
    "Amelia", "Mason", "Harper", "Logan", "Evelyn",
]
_LANGS = ["en", "de", "fr", "es", "it"]
_HOSTS = [  # deliberately skewed: hot host first
    "logs-a.example", "logs-a.example", "logs-a.example", "logs-a.example",
    "logs-b.example", "logs-c.example", "mirror.example", "archive.example",
]
_ORDER_STATES = ["checking", "confirmed", "paid"]


def _rowid(prefix: str, i: int) -> str:
    """Oracle-ish 18-char ROWID, deterministic."""
    h = hashlib.md5(f"{prefix}{i}".encode()).hexdigest()[:12].upper()
    return f"AAA{prefix}{h}"[:18].ljust(18, "A")


@dataclass
class Stmt:
    statement: str
    row_id: str


def _fmt_ts(ts: datetime) -> str:
    """Default reference format dd-MMM-yyyy HH:mm:ss with upper-case month
    like artifacts/redo_log.txt (parsed case-insensitively)."""
    return ts.strftime("%d-%b-%Y %H:%M:%S").replace(
        ts.strftime("%b"), ts.strftime("%b").upper()
    )


def _ins(table: str, row_id: str, cols: list[str], vals: list[str]) -> Stmt:
    col_s = ",".join(f'"{c}"' for c in cols)
    val_s = ",".join(f"'{v}'" if v != "NULL" else "NULL" for v in vals)
    return Stmt(
        f'insert into "SYSTEM"."{table}"({col_s}) values ({val_s});', row_id
    )


def _upd(table: str, row_id: str, attr: str, new: str, old: str) -> Stmt:
    return Stmt(
        f'update "SYSTEM"."{table}" set "{attr}" = \'{new}\' where "{attr}" = '
        f"'{old}' and ROWID = '{row_id}';",
        row_id,
    )


def _del(table: str, row_id: str, attr: str, val: str) -> Stmt:
    return Stmt(
        f'delete from "SYSTEM"."{table}" where "{attr}" = \'{val}\' and ROWID = '
        f"'{row_id}';",
        row_id,
    )


def mini_log_statements(id_offset: int = 0, rep: int = 0) -> list[Stmt]:
    """The deterministic mini-log: 161 inserts / 220 updates / 52 deletes
    over SYSTEM.USERS / ORDERS / INVOICES with ROWID reuse.

    Design (counts planned to hit the reference histogram exactly):
      41 USERS inserts; 60 ORDERS inserts + 3 updates each (180) + 32
      deletes + 10 re-inserts on reused ROWIDs; 50 INVOICES inserts + 40
      updates + 20 deletes. 41+60+10+50 = 161 / 180+40 = 220 / 32+20 = 52.
    Ground truth: ID is PK on every table; ORDERS.USER_ID → USERS.ID,
    INVOICES.ORDER_ID → ORDERS.ID (invoices reference only surviving
    orders 32..56 so the final-state inclusion holds).
    """
    off = id_offset
    rid_pfx = f"{rep}" if rep else ""

    def rid(prefix: str, i: int) -> str:
        return _rowid(f"{rid_pfx}{prefix}", i)

    stmts: list[Stmt] = []
    for u in range(41):
        stmts.append(
            _ins("USERS", rid("U", u), ["ID", "NAME"], [str(off + u), _NAMES[u % 20]])
        )
    # orders lifecycle: insert + 3 status updates each
    for o in range(60):
        r = rid("O", o)
        stmts.append(
            _ins(
                "ORDERS",
                r,
                ["ID", "USER_ID", "STATUS"],
                [str(off + o), str(off + o % 41), "created"],
            )
        )
        prev = "created"
        for st in _ORDER_STATES:
            stmts.append(_upd("ORDERS", r, "STATUS", st, prev))
            prev = st
    # delete orders 0..31
    for o in range(32):
        stmts.append(_del("ORDERS", rid("O", o), "ID", str(off + o)))
    # re-insert orders 60..69 on the ROWIDs of deleted orders 0..9
    for i, o in enumerate(range(60, 70)):
        stmts.append(
            _ins(
                "ORDERS",
                rid("O", i),
                ["ID", "USER_ID", "STATUS"],
                [str(off + o), str(off + o % 41), "created"],
            )
        )
    # invoices referencing surviving orders 32..56 (two invoices each)
    for inv in range(50):
        stmts.append(
            _ins(
                "INVOICES",
                rid("I", inv),
                ["ID", "ORDER_ID", "STATUS"],
                [str(off + 1000 + inv), str(off + 32 + inv // 2), "created"],
            )
        )
    for inv in range(40):
        stmts.append(_upd("INVOICES", rid("I", inv), "STATUS", "sent", "created"))
    for inv in range(20):
        stmts.append(_del("INVOICES", rid("I", inv), "ID", str(off + 1000 + inv)))
    return stmts


def statements_to_documents(
    stmts: list[Stmt],
    seed: int = 42,
    start: datetime = datetime(2020, 7, 21, 16, 29, 41),
    burst: int = 7,
    html_bytes: int = 64,
) -> pd.DataFrame:
    """Wrap statements into the documents table shape
    (url, warc_ts, html, text, lang). Timestamps advance one second per
    `burst` statements so equal-timestamp ties exercise the (ts, url)
    ordering. Urls embed the zero-padded sequence so lexicographic url
    order == log order within a timestamp tie."""
    rng = random.Random(seed)
    rows = []
    host = _HOSTS[0]
    for seq, s in enumerate(stmts):
        ts = start + timedelta(seconds=seq // burst)
        if seq % burst == 0:
            # one host per same-second burst: keeps (warc_ts, url) order
            # equal to statement order (the documents-mode log order per
            # BASELINE.json input_hint) while still skewing hosts
            host = _HOSTS[rng.randrange(len(_HOSTS))]
        # trailing-space padding like artifacts/redo_log.txt:1-2
        text = f"{s.statement}".ljust(len(s.statement) + seq % 3) + "\n" + (
            f"{s.row_id} {' ' * (seq % 2)}{_fmt_ts(ts)}".ljust(80)
        )
        rows.append(
            {
                "url": f"https://{host}/redo/{seq:08d}",
                "warc_ts": ts,
                "html": hashlib.sha256(text.encode()).digest() * (html_bytes // 32),
                "text": text,
                "lang": _LANGS[rng.randrange(len(_LANGS))],
            }
        )
    return pd.DataFrame(rows)


def mini_log_documents(seed: int = 42) -> pd.DataFrame:
    return statements_to_documents(mini_log_statements(), seed=seed)


def mini_log_lines() -> list[str]:
    """File-mode rendering: blank-line-separated 2-line chunks like
    artifacts/redo_log.txt (for the raw-logfile parity source)."""
    docs = mini_log_documents()
    lines: list[str] = []
    for text in docs["text"]:
        lines.extend(text.split("\n"))
        lines.append("   ")  # blank (whitespace-only) separator line
    return lines


def scaled_log_documents(n_records: int, seed: int = 42) -> pd.DataFrame:
    """Benchmark-scale generator: replicates the mini-log state machine
    over `n_records` statements with distinct entity ids per replica so
    schema ground truth is preserved at any scale."""
    base_len = len(mini_log_statements())
    reps = (n_records + base_len - 1) // base_len
    stmts: list[Stmt] = []
    for r in range(reps):
        stmts.extend(mini_log_statements(id_offset=2000 * r, rep=r))
    return statements_to_documents(stmts[:n_records], seed=seed)


def enrichment_dims() -> tuple[pd.DataFrame, pd.DataFrame]:
    """Broadcast-join dictionaries (FIXTURES.md §2)."""
    table_dict = pd.DataFrame(
        {
            "table_id": ['"SYSTEM"."USERS"', '"SYSTEM"."ORDERS"', '"SYSTEM"."INVOICES"'],
            "clean_name": ["USERS", "ORDERS", "INVOICES"],
            "domain": ["identity", "commerce", "billing"],
        }
    )
    lang_map = pd.DataFrame(
        {
            "lang": _LANGS,
            "lang_name": ["English", "German", "French", "Spanish", "Italian"],
        }
    )
    return table_dict, lang_map
