"""Seeded redo-log input generators with ground truth.

Every workload is a list of 2-line redo records (statement line, then
`<ROWID> <dd-MMM-yyyy HH:mm:ss>`) rendered as the documents table
(url, warc_ts, html, text, lang) and written as several parquet part
files with microsecond `warc_ts`, the way a Spark or Iceberg writer lays
a table out. The seed changes the statements themselves: which user owns
an order, how long each order's status chain is, which orders are
deleted and whose ROWIDs are reused, how the replicas interleave, the
column values, and the Zipf draw of `hot-case`.

The ground truth is built while generating, from a model of the
semantics the CLI implements (final-state schema discovery with sticky
uniqueness, ROWID incarnations, case propagation along FK edges), so a
run is checked without re-running `oracle.py`, which is too slow at
benchmark size. The self-test cross-checks this model against
`oracle.py` at small size.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from itertools import accumulate

import pyarrow as pa
import pyarrow.parquet as pq

USERS, ORDERS, INVOICES = ('"SYSTEM"."USERS"', '"SYSTEM"."ORDERS"',
                           '"SYSTEM"."INVOICES"')
NAMES = ["Liam", "Emma", "Noah", "Olivia", "James", "Ava", "Lucas", "Mia",
         "Mason", "Harper", "Logan", "Evelyn", "Elijah", "Amelia"]
ORDER_STATES = ["checking", "confirmed", "paid", "shipped"]
LANGS = ["en", "de", "fr", "es", "it"]
HOSTS = ["logs-a.example", "logs-b.example", "mirror.example"]
START = datetime(2021, 3, 14, 9, 26, 53)
N_PART_FILES = 4


@dataclass
class Stmt:
    """One redo record. `rid` is the physical ROWID, `inc` the
    incarnation id the CLI derives for it (`rid` or `rid#k`)."""

    op: str
    table: str
    rid: str
    inc: str
    text: str
    cols: tuple = ()
    vals: tuple = ()
    bad: bool = False


@dataclass
class Model:
    """Final-state schema semantics, applied statement by statement.

    values[(t, c)] maps incarnation -> current value; a delete removes
    only the columns named in its where clause. A column stops being a
    PK candidate the first time two live rows hold one value."""

    values: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    not_pk: set = field(default_factory=set)

    def _col(self, t, c):
        key = (t, c)
        if key not in self.values:
            self.values[key] = {}
            self.counts[key] = {}
        return key

    def _set(self, t, c, inc, v):
        key = self._col(t, c)
        vals, cnt = self.values[key], self.counts[key]
        old = vals.get(inc)
        if old is not None:
            cnt[old] -= 1
        vals[inc] = v
        cnt[v] = cnt.get(v, 0) + 1
        if cnt[v] > 1:
            self.not_pk.add(key)

    def _pop(self, t, c, inc):
        key = self._col(t, c)
        old = self.values[key].pop(inc, None)
        if old is not None:
            self.counts[key][old] -= 1

    def apply(self, s: Stmt):
        if s.bad:
            return
        if s.op == "insert":
            for c, v in dict(zip(s.cols, s.vals)).items():
                self._set(s.table, c, s.inc, v)
        elif s.op == "update":
            self._set(s.table, s.cols[0], s.inc, s.vals[0])
        else:
            for c in s.cols:
                self._pop(s.table, c, s.inc)

    def schema(self) -> dict:
        cols = sorted(self.values)
        finals = {k: set(self.values[k].values()) for k in cols}
        inds = []
        for a in cols:
            fa = finals[a]
            probe = next(iter(fa), None)
            for b in cols:
                if a[0] == b[0]:
                    continue
                fb = finals[b]
                if (probe is None or probe in fb) and fa <= fb:
                    inds.append([a[0], a[1], b[0], b[1]])
        pks = [list(k) for k in cols if k not in self.not_pk]
        pk_set = {tuple(k) for k in pks}
        return {
            "tables": sorted({t for t, _ in cols}),
            "columns": [list(k) for k in cols],
            "pk": pks,
            "inds": inds,
            "fk_pairs": [i for i in inds if (i[2], i[3]) in pk_set],
        }


class Log:
    """Builds statements with fresh ROWIDs and tracks incarnations."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.n_rowids = 0
        self.incarnations: dict[str, int] = {}

    def new_rowid(self) -> str:
        self.n_rowids += 1
        tail = "".join(self.rng.choice("ABCDEFGHJKLMNPQRSTUVWXYZ")
                       for _ in range(9))
        return f"AA{self.n_rowids:07X}{tail}"

    def incarnate(self, rid: str) -> str:
        """New incarnation of `rid` (insert on a fresh or reused ROWID)."""
        k = self.incarnations.get(rid)
        k = 0 if k is None else k + 1
        self.incarnations[rid] = k
        return rid if k == 0 else f"{rid}#{k}"

    def current(self, rid: str) -> str:
        k = self.incarnations[rid]
        return rid if k == 0 else f"{rid}#{k}"


def _q(v: str) -> str:
    return f"'{v}'"


def ins(log: Log, table: str, rid: str, cols, vals) -> Stmt:
    inc = log.incarnate(rid)
    col_s = ",".join(f'"{c}"' for c in cols)
    val_s = ",".join(_q(v) for v in vals)
    return Stmt("insert", table, rid, inc,
                f"insert into {table}({col_s}) values ({val_s});",
                tuple(cols), tuple(vals))


def upd(log: Log, table: str, rid: str, col: str, new: str, old: str) -> Stmt:
    return Stmt("update", table, rid, log.current(rid),
                f'update {table} set "{col}" = {_q(new)} where "{col}" = '
                f"{_q(old)} and ROWID = '{rid}';", (col,), (new,))


def dele(log: Log, table: str, rid: str, col: str, val: str) -> Stmt:
    return Stmt("delete", table, rid, log.current(rid),
                f'delete from {table} where "{col}" = {_q(val)} and '
                f"ROWID = '{rid}';", (col,), (val,))


# --------------------------------------------------------------------------
# USERS -> ORDERS -> INVOICES state machine (lifecycle, resume, hot-case)


@dataclass
class Entities:
    """Owner links the trace ground truth walks: user -> orders (all
    incarnations) -> invoices, each entity keyed by its incarnation."""

    users: dict = field(default_factory=dict)     # user id -> inc
    orders: dict = field(default_factory=dict)    # order inc -> (id, user id)
    invoices: dict = field(default_factory=dict)  # invoice inc -> order id


def _commerce_replica(log: Log, rng: random.Random, rep: int, n_users: int,
                      n_orders: int, owner) -> tuple[list[Stmt], Entities]:
    """One replica of the state machine. `owner(rng, n_users)` picks the
    user index owning an order (uniform or Zipf). IDs live in disjoint
    per-table numeric ranges, so the only inclusion dependencies into a
    unique column are the designed FKs."""
    ent = Entities()
    out: list[Stmt] = []
    base = rep * 100_000
    uids = []
    for u in range(n_users):
        uid = str(1_000_000_000 + base + u)
        rid = log.new_rowid()
        # users 0 and 1 share a name, so NAME is never unique
        name = NAMES[0] if u < 2 else rng.choice(NAMES)
        out.append(ins(log, USERS, rid, ["ID", "NAME", "EMAIL"],
                       [uid, name, f"u{rng.randrange(10**9):09d}r{rep}x{u}"]))
        ent.users[uid] = out[-1].inc
        uids.append(uid)

    orders = []
    for o in range(n_orders):
        oid = str(2_000_000_000 + base + o)
        # orders 0 and 1 share user 0, so USER_ID is never unique
        uid = uids[0 if o < 2 else owner(rng, n_users)]
        rid = log.new_rowid()
        out.append(ins(log, ORDERS, rid, ["ID", "USER_ID", "STATUS"],
                       [oid, uid, "created"]))
        ent.orders[out[-1].inc] = (oid, uid)
        orders.append([oid, rid, "created"])
    # status chains of seeded length, shuffled across orders
    steps = []
    for i in range(len(orders)):
        steps.extend([i] * rng.randint(1, len(ORDER_STATES)))
    rng.shuffle(steps)
    for i in steps:
        oid, rid, prev = orders[i]
        nxt = ORDER_STATES[min(ORDER_STATES.index(prev) + 1, 3)
                           if prev in ORDER_STATES else 0]
        out.append(upd(log, ORDERS, rid, "STATUS", nxt, prev))
        orders[i][2] = nxt
    # delete a seeded third of the orders (never the first two); reuse
    # the ROWIDs of half of the deleted ones for new orders
    doomed = rng.sample(range(2, n_orders), max(1, (n_orders - 2) // 3))
    for i in doomed:
        out.append(dele(log, ORDERS, orders[i][1], "ID", orders[i][0]))
    for j, i in enumerate(doomed[: max(1, len(doomed) // 2)]):
        oid = str(2_000_000_000 + base + n_orders + j)
        uid = uids[owner(rng, n_users)]
        out.append(ins(log, ORDERS, orders[i][1], ["ID", "USER_ID", "STATUS"],
                       [oid, uid, "created"]))
        ent.orders[out[-1].inc] = (oid, uid)
    # invoices only for orders that are never deleted, so every
    # INVOICES.ORDER_ID value stays inside the final ORDERS.ID set
    gone = set(doomed)
    alive = [o for i, o in enumerate(orders) if i not in gone]
    n_inv = 0
    for oid, _, _ in alive:
        for _ in range(rng.randint(0, 2) if n_inv else 2):
            iid = str(3_000_000_000 + base + n_inv)
            rid = log.new_rowid()
            out.append(ins(log, INVOICES, rid, ["ID", "ORDER_ID", "STATUS"],
                           [iid, oid, "created"]))
            ent.invoices[out[-1].inc] = oid
            if rng.random() < 0.6 or n_inv < 2:
                out.append(upd(log, INVOICES, rid, "STATUS", "sent",
                               "created"))
                if rng.random() < 0.4 and n_inv >= 2:
                    out.append(dele(log, INVOICES, rid, "ID", iid))
            n_inv += 1
    return out, ent


def _interleave(rng: random.Random, streams: list[list]) -> list:
    """Random merge of the streams, each keeping its own order."""
    pos = [0] * len(streams)
    live = [i for i, s in enumerate(streams) if s]
    out = []
    while live:
        k = rng.randrange(len(live))
        i = live[k]
        out.append(streams[i][pos[i]])
        pos[i] += 1
        if pos[i] == len(streams[i]):
            live[k] = live[-1]
            live.pop()
    return out


def _uniform(rng, n):
    return rng.randrange(n)


def _zipf_owner(s: float):
    """Owner index drawn with probability proportional to 1/(k+1)^s."""
    cum: dict[int, list[float]] = {}

    def pick(rng, n):
        if n not in cum:
            cum[n] = list(accumulate(1 / (k + 1) ** s for k in range(n)))
        return rng.choices(range(n), cum_weights=cum[n])[0]

    return pick


def commerce_log(seed: int, n_statements: int, users: int, orders: int,
                 owner=_uniform) -> tuple[list[Stmt], list[Entities]]:
    rng = random.Random(seed)
    log = Log(rng)
    streams, ents, total, rep = [], [], 0, 0
    while total < n_statements:
        s, e = _commerce_replica(log, rng, rep, users, orders, owner)
        streams.append(s)
        ents.append(e)
        total += len(s)
        rep += 1
    return _interleave(rng, streams), ents


# --------------------------------------------------------------------------
# wide schema


def wide_log(seed: int, n_statements: int, bad_share: float = 0.03
             ) -> tuple[list[Stmt], list]:
    """Four tables of 20-40 columns: an ID, an FK to the previous
    table's ID, unique long text columns, and low-cardinality columns.
    Values carry a per-column tag, so no two columns share a value
    unless designed to. A few percent of records are malformed."""
    rng = random.Random(seed)
    log = Log(rng)
    tables = []
    for t in range(4):
        n_cols = rng.randint(20, 40)
        n_long = n_cols // 2
        cols = ["ID"] + (["PARENT_ID"] if t else [])
        cols += [f"TXT{i:02d}" for i in range(n_long)]
        cols += [f"ATTR{i:02d}" for i in range(n_cols - len(cols))]
        tables.append((f'"SALES"."T{t}_{n_cols}"', cols))
    live: list[list] = [[] for _ in tables]  # [rid, id, row values]
    next_id = [0] * len(tables)
    out: list[Stmt] = []

    def value(t, c, i):
        if c.startswith("TXT"):
            body = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                           for _ in range(rng.randint(40, 90)))
            return f"t{t}{c}n{i}v{body}"
        return f"t{t}{c}k{rng.randrange(5)}"

    def insert(t):
        name, cols = tables[t]
        i = next_id[t]
        next_id[t] += 1
        row = {"ID": str((t + 1) * 10_000_000 + i)}
        if t:
            # parents are never deleted (see below), so PARENT_ID stays
            # inside the parent's final ID set
            row["PARENT_ID"] = live[t - 1][rng.randrange(len(live[t - 1]))][1]
        for c in cols[len(row):]:
            row[c] = value(t, c, i)
        rid = log.new_rowid()
        out.append(ins(log, name, rid, cols, [row[c] for c in cols]))
        live[t].append([rid, row["ID"], row])

    for t in range(len(tables)):
        for _ in range(3):
            insert(t)
    while len(out) < n_statements:
        r = rng.random()
        t = rng.randrange(len(tables))
        name, cols = tables[t]
        if r < 0.6 or len(live[t]) < 4:
            insert(t)
        elif r < 0.92:
            rid, _, row = live[t][rng.randrange(len(live[t]))]
            c = rng.choice([c for c in cols if c[:3] in ("TXT", "ATT")])
            new = value(t, c, next_id[t] + len(out))
            if new == row[c]:
                continue
            out.append(upd(log, name, rid, c, new, row[c]))
            row[c] = new
        elif t == len(tables) - 1:
            # only leaf rows are deleted, so FKs into a parent stay valid
            k = rng.randrange(3, len(live[t]))
            rid, rid_id, _ = live[t].pop(k)
            out.append(dele(log, name, rid, "ID", rid_id))
    n_bad = max(3, int(len(out) * bad_share))
    bad = []
    for k in range(n_bad):
        rid = log.new_rowid()
        op, text = [
            ("bad", f'insert into {tables[0][0]}("ID","X") values '
                    f"('{k}','a','b');"),
            ("bad", f"merge into {tables[1][0]} using dual on (1 = 1);"),
            # a well-formed statement whose timestamp render() breaks
            ("bad_timestamp", f'delete from {tables[2][0]} where "ID" = '
                              f"'{k}';"),
        ][k % 3]
        bad.append(Stmt(op, "", rid, rid, text, bad=True))
    # malformed records land at seeded positions
    for s in bad:
        out.insert(rng.randrange(len(out) + 1), s)
    return out, []


# --------------------------------------------------------------------------
# documents rendering, ground truth, writing


def _fmt_ts(ts: datetime) -> str:
    return ts.strftime("%d-%b-%Y %H:%M:%S").upper()


def render(stmts: list[Stmt], seed: int) -> tuple[list[dict], list[datetime]]:
    """Documents rows in log order. Up to 6 records share one second;
    a burst shares its host so (ts, url) order equals log order."""
    rng = random.Random(seed ^ 0x5EED)
    rows, stamps = [], []
    sec, host, in_burst, burst = 0, HOSTS[0], 0, 1
    for seq, s in enumerate(stmts):
        if in_burst == burst:
            sec += 1 + (rng.random() < 0.1)
            host, in_burst, burst = rng.choice(HOSTS), 0, rng.randint(1, 6)
        in_burst += 1
        ts = START + timedelta(seconds=sec)
        ts_s = _fmt_ts(ts)
        if s.op == "bad_timestamp":
            ts_s = ts_s.replace("-", "/")
        text = f"{s.text}{' ' * (seq % 2)}\n{s.rid} {ts_s}"
        rows.append({
            "url": f"https://{host}/redo/{seq:09d}",
            "warc_ts": ts + timedelta(microseconds=in_burst * 1000
                                      + rng.randrange(1000)),
            "html": hashlib.sha256(text.encode()).digest(),
            "text": text,
            "lang": rng.choice(LANGS),
        })
        stamps.append(ts)
    return rows, stamps


def _event_xml(s: Stmt, ts: datetime) -> str:
    table = s.table.replace('"', "&quot;")
    if s.op == "insert":
        name = f"Add {table} entity"
    elif s.op == "update":
        name = f"Update {s.cols[0]} value of {table} entity"
    else:
        name = f"Delete entity from {table}"
    return (f'<event><string key="concept:name" value="{name}"/>'
            f'<date key="time:timestamp" '
            f'value="{ts.strftime("%Y-%m-%dT%H:%M:%S")}.000+00:00"/></event>')


def trace_digest(pairs) -> str:
    """Order-independent digest of (case_id, trace_xml) pairs."""
    acc = 0
    for case_id, xml in pairs:
        h = hashlib.sha256(f"{case_id}\x00{xml}".encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "big")) % (1 << 64)
    return f"{acc:016x}"


def _traces(stmts, stamps, ents: list[Entities], root: str) -> dict:
    """Cases of `root` by construction: an order incarnation gathers its
    user and its invoices; a user gathers all its order incarnations
    and their invoices."""
    by_inc: dict[str, list[int]] = {}
    for i, s in enumerate(stmts):
        if not s.bad:
            by_inc.setdefault(s.inc, []).append(i)
    cases = {}
    for e in ents:
        inv_by_order: dict[str, list[str]] = {}
        for inc, oid in e.invoices.items():
            inv_by_order.setdefault(oid, []).append(inc)
        if root == ORDERS:
            for inc, (oid, uid) in e.orders.items():
                cases[inc] = [inc, e.users[uid], *inv_by_order.get(oid, [])]
        else:
            orders_of: dict[str, list] = {}
            for inc, (oid, uid) in e.orders.items():
                orders_of.setdefault(uid, []).append((inc, oid))
            for uid, uinc in e.users.items():
                members = [uinc]
                for inc, oid in orders_of.get(uid, []):
                    members += [inc, *inv_by_order.get(oid, [])]
                cases[uinc] = members
    pairs, sizes = [], []
    for case_id, members in cases.items():
        idx = sorted(i for m in set(members) for i in by_inc[m])
        xml = "<trace>" + "".join(_event_xml(stmts[i], stamps[i])
                                  for i in idx) + "</trace>"
        pairs.append((case_id, xml))
        sizes.append(len(idx))
    return {"cases": len(cases), "events": sum(sizes),
            "max_case_events": max(sizes), "digest": trace_digest(pairs)}


@dataclass(frozen=True)
class Workload:
    name: str
    n_statements: int
    roots: tuple[str, ...]
    cli_args: tuple[str, ...]


# Sizes: a fresh-process CLI run costs about 6 s of set-up and 35-40 s
# of main() before the input adds much (perfbench/README.md, "Sizes").
# Each benchmarked workload takes the largest size whose runs keep
# within the benchmark's time budget, with room for a slow host.
WORKLOADS = {
    "lifecycle": Workload("lifecycle", 50_000, (ORDERS,),
                          ("--no-resume", "--print-schema")),
    "wide-schema": Workload("wide-schema", 3000, (), ("--no-resume",
                                                       "--print-schema")),
    "hot-case": Workload("hot-case", 8_000, (USERS, ORDERS),
                         ("--no-resume", "--print-schema", "--xes-file")),
    "resume": Workload("resume", 3000, (ORDERS,), ("--buckets", "2")),
}


def statements(name: str, seed: int, n: int):
    if name == "wide-schema":
        return wide_log(seed, n)
    if name == "hot-case":
        # one replica, Zipf(1.2) ownership over n/40 users: the top
        # three users own about half of all orders and their cases
        return commerce_log(seed, n, users=max(8, n // 40),
                            orders=max(20, n // 5), owner=_zipf_owner(1.2))
    return commerce_log(seed, n, users=12, orders=20)


def build(name: str, seed: int, scale: float):
    """(statements, documents rows, ground truth) of one workload."""
    wl = WORKLOADS[name]
    n = max(200, int(wl.n_statements * scale))
    stmts, ents = statements(name, seed, n)
    rows, stamps = render(stmts, seed)
    model = Model()
    routed = {"insert": 0, "update": 0, "delete": 0}
    for s in stmts:
        model.apply(s)
        if not s.bad:
            routed[s.op] += 1
    truth = {
        "workload": name,
        "seed": seed,
        "n_statements": len(stmts),
        "routed": routed,
        "rejects": sum(s.bad for s in stmts),
        "schema": model.schema(),
        "roots": {r: _traces(stmts, stamps, ents, r) for r in wl.roots},
        "cli_args": list(wl.cli_args),
    }
    return stmts, rows, truth


DOCS_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def generate(name: str, seed: int, scale: float, in_dir: str) -> dict:
    """Write the workload's documents as part files under `in_dir`, rows
    spread over the files in seeded order; return the ground truth."""
    _, rows, truth = build(name, seed, scale)
    os.makedirs(in_dir, exist_ok=True)
    order = list(range(len(rows)))
    random.Random(seed).shuffle(order)
    for p in range(N_PART_FILES):
        part = [rows[i] for i in order[p::N_PART_FILES]]
        table = pa.Table.from_pylist(part, schema=DOCS_SCHEMA)
        pq.write_table(table, os.path.join(in_dir, f"part-{p:05d}.parquet"))
    return truth
