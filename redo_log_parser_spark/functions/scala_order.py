"""Replica of Scala 2.12 `groupBy` map-iteration order over String keys.

The reference's document-level trace order in the `.xes` log is an
implementation artifact: `TraceIDParserHelper.gatherRootLogBuckets`
walks `logEntries.groupBy(_.rowID)` (TraceIDParser.scala:46-57 /
TraceIDParserHelper.scala:19-25), and Scala 2.12's `groupBy` returns an
`immutable.Map`. For more than 4 distinct keys that is the 2.12
`immutable.HashMap` hash-array-mapped trie, whose iteration order is a
PURE FUNCTION of the key strings — independent of insertion order and
of the JVM (String.hashCode is specified by the JLS; the trie layout by
the Scala 2.12 source):

  * per key: h = improve(String.hashCode) — the 2.12 immutable-HashMap
    bit-mix (HashMap.scala `improve`: h + ~(h<<9), ^>>>14, +<<4, ^>>>10);
  * the trie branches on 5-bit chunks of h, LEAST-significant first
    ((h >>> 5*level) & 0x1f), children stored in ascending chunk order;
  * the iterator is a depth-first walk, so iteration order is the
    lexicographic order of each key's chunk tuple;
  * keys with IDENTICAL improved hashes (e.g. "Aa" vs "BB") live in a
    ListMap collision node in FIRST-INSERTION order (2.12 ListMap
    prepends updates, and its iterator reverses the backing list).

For 1-4 distinct keys `groupBy` yields scala.collection.immutable
Map1..Map4, which iterate in insertion order — and the OBSERVED order
on this toolchain is FIRST-APPEARANCE of the keys (probed directly:
30/30 randomized 2-4-key `groupBy` runs against the in-sandbox
2.12.19 compiler match first-appearance). scala212_groupby_order
returns exactly that for <=4 keys; the mutable-HashTable replica
(byteswap32 seed-rotated bucket index, per-bucket prepend,
high-bucket-first iteration: mutable/HashTable.scala) is used ONLY as
the collision tie-break in the >4-key HAMT regime. Do not "fix" the
<=4 branch to walk the mutable map — that would break byte parity on
small root tables; see scala212_groupby_order's docstring.

Validated against the actual reference toolchain: the in-sandbox
Scala 2.12.19 probe (tests/test_reference_trace_order.py) compares this
module's order with a compiled `groupBy` over randomized key sets,
including engineered hash collisions, and the whole-file `.xes` byte
golden passes with plain diff once traces are emitted in this order.
"""

from __future__ import annotations

from collections.abc import Iterable

from .javaspace import utf16_units

_M32 = 0xFFFFFFFF


def java_string_hash(s: str) -> int:
    """JLS String.hashCode over UTF-16 code units, as unsigned 32-bit."""
    h = 0
    for unit in utf16_units(s):
        h = (31 * h + ord(unit)) & _M32
    return h


def improve_immutable(hcode: int) -> int:
    """scala.collection.immutable.HashMap#improve (2.12)."""
    h = (hcode + (~(hcode << 9) & _M32)) & _M32
    h ^= h >> 14
    h = (h + ((h << 4) & _M32)) & _M32
    h ^= h >> 10
    return h


def hamt_order_key(key: str) -> tuple:
    """Sort key reproducing 2.12 immutable.HashMap DFS iteration order
    (valid for maps with >4 entries; equal tuples = hash collision —
    break ties by insertion order, see scala212_groupby_order)."""
    h = improve_immutable(java_string_hash(key))
    return tuple((h >> (5 * lvl)) & 0x1F for lvl in range(7))


def byteswap32(v: int) -> int:
    """scala.util.hashing.byteswap32 (unsigned 32-bit)."""
    hc = (v * 0x9E3775CD) & _M32
    hc = int.from_bytes(hc.to_bytes(4, "big"), "little")  # reverseBytes
    return (hc * 0x9E3775CD) & _M32


def mutable_hashmap_order(keys_in_insertion_order: list[str]) -> list[str]:
    """Iteration order of a 2.12 mutable.HashMap[String, _] filled with
    these keys (repeats are no-ops). Order-faithful replica of its
    HashTable (mutable/HashTable.scala): byteswap32 improve rotated by
    tableSizeSeed, index from the HIGH bits, per-bucket PREPEND on
    insert, resize x2 at count > 0.75*len (re-inserting each old bucket,
    walked from the END down, head-first at its new index, which
    REVERSES chains that stay together), iteration from the last bucket
    DOWN to 0, each chain head-first."""
    # tableSizeSeed of the initial 16-slot table = bitCount(15) = 4,
    # assigned ONCE — HashTable.scala leaves it untouched in resize()
    seed = 4

    def index(key: str, size: int) -> int:
        i = byteswap32(java_string_hash(key))
        rotated = ((i >> seed) | (i << (32 - seed))) & _M32
        return (rotated >> (33 - size.bit_length())) & (size - 1)

    table: list[list[str]] = [[] for _ in range(16)]
    count = 0
    for key in keys_in_insertion_order:
        bucket = table[index(key, len(table))]
        if key in bucket:
            continue
        bucket.insert(0, key)
        count += 1
        if count > len(table) * 3 // 4:
            old, table = table, [[] for _ in range(2 * len(table))]
            for chain in reversed(old):
                for k in chain:
                    table[index(k, len(table))].insert(0, k)
    return [k for chain in reversed(table) for k in chain]


def scala212_groupby_order(keys_in_first_seen_order: list[str]) -> list[str]:
    """The iteration order of `xs.groupBy(f)` in Scala 2.12 given the
    distinct keys in FIRST-APPEARANCE order.

    Empirically pinned against the in-sandbox Scala 2.12.19 toolchain
    (the same build that produced the reference goldens):

      * <=4 distinct keys (Map1..Map4): FIRST-APPEARANCE order;
      * >4 keys (immutable.HashMap trie): chunk-tuple order, with
        equal-improved-hash keys (collision ListMap nodes) ordered by
        the MUTABLE HashTable replica's iteration order — 0/40
        collision-heavy trials disagree, vs 15+/40 for every other
        tie-break tried (first-seen fwd/rev, mutable rev).

    The two regimes look inconsistent (different internal insertion
    orders) but both are directly observed behavior of `groupBy` on
    this exact toolchain; hash collisions need two different keys with
    identical 32-bit improved hashes, which real ROWID strings
    essentially never produce — the tie-break exists for completeness."""
    distinct = list(dict.fromkeys(keys_in_first_seen_order))
    if len(distinct) <= 4:
        return distinct
    pos = {k: i for i, k in enumerate(mutable_hashmap_order(distinct))}
    return sorted(distinct, key=lambda k: (hamt_order_key(k), pos[k]))


def reference_console_order(
    rows: Iterable[tuple[str, str, list | None, str | None, list | None]],
) -> tuple[list[str], dict[str, list[str]]]:
    """The reference console dump's table and column order
    (cli/package.scala:55-66 iterates its schema HashMaps), from the
    clean log rows `(table_id, op, insert_cols, upd_attr, delete_cols)`
    in log order. Returns (tables, {table: columns}).

      * tables: mutable.HashMap[String, Table] over the table ids,
        inserted in first-appearance order;
      * columns per table: mutable.HashMap[String, Column], inserted in
        first-appearance order, where each statement contributes its
        columns in the iteration order of the attribute map FileParser
        builds for it (a mutable.HashMap in statement order); a delete's
        map is additionally rebuilt by `.filter(_ != ROWID)`, which
        re-hashes the survivors into a new map."""
    col_seq: dict[str, list[str]] = {}  # first-appearance order
    for table_id, op, insert_cols, upd_attr, delete_cols in rows:
        if op == "insert":
            cols = mutable_hashmap_order(insert_cols)
        elif op == "update":
            cols = [upd_attr]
        else:
            cols = mutable_hashmap_order(
                [c for c in mutable_hashmap_order(delete_cols) if c != "ROWID"])
        seen = col_seq.setdefault(table_id, [])
        for c in cols:
            if c not in seen:
                seen.append(c)
    tables = mutable_hashmap_order(list(col_seq))
    return tables, {t: mutable_hashmap_order(col_seq[t]) for t in tables}


class JavaRandom:
    """java.util.Random LCG (the JDK-specified algorithm), enough for
    nextInt(bound) — scala.util.Random delegates to it."""

    _MASK = (1 << 48) - 1

    def __init__(self, seed: int):
        self.seed = (seed ^ 0x5DEECE66D) & self._MASK

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & self._MASK
        return self.seed >> (48 - bits)

    def next_int(self, bound: int) -> int:
        if bound & (bound - 1) == 0:
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            if bits - val + (bound - 1) < (1 << 31):
                return val


# scala.util.Random.alphanumeric's alphabet in 2.12 — UPPERCASE first
# (pinned against the in-sandbox toolchain: seeded blocks
# Gpi2/C7Dg/XDiA/M66y... at seed 42)
_SCALA_ALPHANUMERIC = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
)


class ScalaRandomAlphanumeric:
    """Replica of `scala.util.Random.alphanumeric.take(4).mkString`
    consumption after setSeed(seed): each block draws exactly 4
    nextInt(62) values from the shared generator."""

    def __init__(self, seed: int = 42):
        self._rng = JavaRandom(seed)

    def next_block(self, n: int = 4) -> str:
        return "".join(
            _SCALA_ALPHANUMERIC[self._rng.next_int(62)] for _ in range(n)
        )


def reference_row_id_map(
    events_in_log_order: list[tuple[str, str]], seed: int = 42
) -> dict[tuple[str, int], str]:
    """Replay EventExtractor.transformRowIdentifiers/generateNewRowID
    (EventExtractor.scala:27-111) over (orig_row_id, op) pairs in log
    order, with the seeded suffix stream the reference CLI run used
    (tests/fixtures/RefDriver.scala sets Random.setSeed(42)).

    Returns {(orig_row_id, incarnation_k): reference_row_id} — the
    bridge from this engine's deterministic `orig#k` incarnation ids
    (SURVEY §1.3.3) to the reference's random `orig_XXXX` ids, which is
    what the reference's trace ORDER hashes on. Restart boundaries are
    identical by construction (insert-on-known OR statement-after-
    delete — the parity-pinned rule), so only the suffix STRING
    differs."""
    rng = ScalaRandomAlphanumeric(seed)
    lookup: dict[str, str] = {}          # orig -> current reference id
    saw_delete: dict[str, bool] = {}     # reference id -> delete seen
    incarnation: dict[str, int] = {}     # orig -> current k
    out: dict[tuple[str, int], str] = {}

    def restart(orig: str) -> str:
        new = orig
        # the while ALWAYS fires once (orig is a lookup key); extra
        # iterations only on a 62^-4 suffix collision, like the source
        while new in lookup or new in lookup.values():
            new = new + "_" + rng.next_block()
        lookup[orig] = new
        incarnation[orig] = incarnation.get(orig, 0) + 1
        return new

    for orig, op in events_in_log_order:
        if orig not in lookup:
            lookup[orig] = orig
            incarnation[orig] = 0
            current = orig
        elif op == "insert":
            current = restart(orig)
        elif not saw_delete.get(lookup[orig], False):
            current = lookup[orig]
        else:
            current = restart(orig)
        if op == "delete":
            saw_delete[current] = True
        else:
            saw_delete.setdefault(current, False)
        out[(orig, incarnation[orig])] = current
    return out
