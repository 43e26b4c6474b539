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


def mini_log_statements() -> list[Stmt]:
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
    stmts: list[Stmt] = []
    for u in range(41):
        stmts.append(
            _ins("USERS", _rowid("U", u), ["ID", "NAME"], [str(u), _NAMES[u % 20]])
        )
    # orders lifecycle: insert + 3 status updates each
    for o in range(60):
        r = _rowid("O", o)
        stmts.append(
            _ins(
                "ORDERS",
                r,
                ["ID", "USER_ID", "STATUS"],
                [str(o), str(o % 41), "created"],
            )
        )
        prev = "created"
        for st in _ORDER_STATES:
            stmts.append(_upd("ORDERS", r, "STATUS", st, prev))
            prev = st
    # delete orders 0..31
    for o in range(32):
        stmts.append(_del("ORDERS", _rowid("O", o), "ID", str(o)))
    # re-insert orders 60..69 on the ROWIDs of deleted orders 0..9
    for i, o in enumerate(range(60, 70)):
        stmts.append(
            _ins(
                "ORDERS",
                _rowid("O", i),
                ["ID", "USER_ID", "STATUS"],
                [str(o), str(o % 41), "created"],
            )
        )
    # invoices referencing surviving orders 32..56 (two invoices each)
    for inv in range(50):
        stmts.append(
            _ins(
                "INVOICES",
                _rowid("I", inv),
                ["ID", "ORDER_ID", "STATUS"],
                [str(1000 + inv), str(32 + inv // 2), "created"],
            )
        )
    for inv in range(40):
        stmts.append(_upd("INVOICES", _rowid("I", inv), "STATUS", "sent", "created"))
    for inv in range(20):
        stmts.append(_del("INVOICES", _rowid("I", inv), "ID", str(1000 + inv)))
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
