"""JVM-native expression parser — the no-Python fast path.

The reference's patterns are Java regexes (parser/package.scala:19-27)
and Spark's regexp_* functions ARE Java regex, so the extraction
semantics (greediness, anchors, character classes) are identical by
construction when expressed as built-in columns. This variant keeps the
whole parse inside whole-stage codegen: no Arrow boundary, no Python
workers, and it scales with executor threads like any other JVM stage.

Relationship to functions/parse.py (the pandas kernel):
  * The pandas kernel is the byte-parity REFERENCE implementation — it
    reproduces the reference's behavior bit-for-bit including the
    degenerate-row behaviors (token-too-short crashes become labeled
    parse errors, Java split trailing-empty semantics).
  * This SQL variant produces identical output for every WELL-FORMED
    record (asserted against the kernel over the mini-log and both
    reference artifact logs in tests). On degenerate rows its error
    LABELS may differ; payloads are never silently wrong — rows that
    would crash the reference carry parse_error here too.

Timestamp parsing: java.time patterns are case-SENSITIVE in Spark's
to_timestamp ('JUL' fails 'MMM'), while the reference parses
case-insensitively (parser/package.scala:13-16). Month names are
normalized with one translate-free replace chain (12 literal mappings)
before to_timestamp — still pure codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from .javatime import smart_ts_expr
from .javaspace import WS_CLS as _WS_CLS, java_trim

# blank-line skip = String.isBlank (Character.isWhitespace), a WIDER
# set than Java regex's own [^\S\n] ([ \t\x0b\f\r]) — it adds
# \x1c-\x1f and the Zs/Zl/Zp separators; see functions/javaspace.py.
# The statement patterns below are Java regex run BY Java — their \s
# and . are the reference's own semantics by construction.
_RE_CHUNK = (
    rf"\A(?:{_WS_CLS}*\n)*([^\n]*)\n(?:{_WS_CLS}*\n)*([^ \n]*)( [^\n]*)?"
)
_RE_TYPE = r"\A(insert|update|delete)\s"
_RE_INSERT = r'\Ainsert into ".+"[(](.+)[)] values [(](.+)[)];\Z'
_RE_DELETE = r'\Adelete from ".+" where (.+);\Z'
_RE_UPDATE = r'\Aupdate ".+" set (.+) = (.+) where (.+) = (.+) and .*;\Z'
_RE_ATTR_VALUE = r"\A(.+) = (.+)\Z"
_RE_TABLE = (
    r'\A(insert|update|delete)(\s|\sinto\s|\sfrom\s)(".*")([(]|\sset|\swhere).*;\Z'
)

_MONTHS = [
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
]


def _normalize_month_case(ts: Column) -> Column:
    """UPPER/lower month-name variants → title case for to_timestamp.
    Only the 3-letter token forms the reference's default format uses."""
    out = ts
    for m in _MONTHS:
        out = F.replace(out, F.lit(m.upper()), F.lit(m))
        out = F.replace(out, F.lit(m.lower()), F.lit(m))
    return out


def _null_if_empty(c: Column) -> Column:
    return F.when(F.length(c) > 0, c)


def _strip_tokens(arr: Column) -> Column:
    """substring(1, len-1) per token (FileParser.scala:89-94)."""
    return F.transform(arr, lambda x: x.substr(F.lit(2), F.length(x) - 2))


def _strip_trailing(c: Column, sep: str) -> Column:
    """Delete trailing separator runs so a plain split reproduces Java
    String.split semantics (drop trailing empty tokens). `sep` must be
    regex-safe — it is already used as the F.split pattern. One codegen
    regexp_replace; the old form (zip_with + sequence + aggregate +
    slice) allocated three intermediate arrays per row inside an
    interpreted Project."""
    return F.regexp_replace(c, "(?:" + sep + ")+\\Z", "")


def _split_stripped(c: Column, sep: str) -> Column:
    """split() of a _strip_trailing'd string with Java's all-empty edge:
    'a,b,,'→(stripped 'a,b')→[a,b]; ','→(stripped '')→[] (Java drops
    every trailing empty, so an all-separator string yields []); null
    propagates through the otherwise branch. `c` must be a NAMED column
    (it is referenced twice and the consuming Project is interpreted —
    PLANS §10: no CSE there)."""
    return F.when(c == "", F.array().cast("array<string>")).otherwise(
        F.split(c, sep, -1)
    )


def parse_documents_sql(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    keep_cols: tuple[str, ...] = ("url", "warc_ts", "lang"),
) -> DataFrame:
    """Pure-expression equivalent of parse.parse_documents. Output
    schema and column semantics are identical (see module docstring for
    the degenerate-row caveat)."""
    cols = [c for c in keep_cols if c in df.columns]
    t = F.col("text")

    has_idline = F.regexp_like(t, F.lit(rf"\A(?:{_WS_CLS}*\n)*[^\n]*\n"))
    # Gate chunk fields on an actual chunk match: regexp_extract returns
    # '' (not null) on a non-matching text, while the pandas kernel
    # leaves all chunk fields null — normalize to the kernel's contract.
    # java_trim, not F.trim: String.trim strips every char <= \x20
    # (Spark's trim removes only ' ') — javaspace.py
    stmt = F.when(has_idline, java_trim(F.regexp_extract(t, _RE_CHUNK, 1)))
    row_id = F.when(has_idline, F.regexp_extract(t, _RE_CHUNK, 2))
    ts_raw = F.regexp_replace(
        java_trim(F.regexp_extract(t, _RE_CHUNK, 3)), " +", " "
    )

    fmt = cfg.ts_format_java
    ts_src = _normalize_month_case(ts_raw) if "MMM" in fmt else ts_raw
    # coalesce short-circuits per row: the SMART branch (java.time
    # default resolver — 31-APR -> Apr 30, 24:00:00 -> next-day
    # midnight, binary-probed; functions/javatime.py) only evaluates
    # where the strict parse returned null
    ts = F.coalesce(
        F.try_to_timestamp(_null_if_empty(ts_src), F.lit(fmt)),
        smart_ts_expr(ts_raw, fmt),
    )

    op0 = _null_if_empty(F.regexp_extract(stmt, _RE_TABLE, 1))
    table_id = _null_if_empty(F.regexp_extract(stmt, _RE_TABLE, 3))
    op = F.coalesce(op0, _null_if_empty(F.regexp_extract(stmt, _RE_TYPE, 1)))

    base = df.select(
        *cols,
        stmt.alias("statement"),
        row_id.alias("row_id"),
        ts.alias("ts"),
        op.alias("op"),
        table_id.alias("table_id"),
        has_idline.alias("__has_idline"),
    )

    is_ins = F.col("op") == "insert"
    is_upd = F.col("op") == "update"
    is_del = F.col("op") == "delete"
    s = F.col("statement")

    # Staged selects, one named column per non-trivial subexpression:
    # this Project chain is INTERPRETED (higher-order functions block
    # whole-stage codegen), so there is no common-subexpression
    # elimination — an expression referenced k times runs k times per
    # row. Naming forces single evaluation; CollapseProject keeps the
    # stages apart because every alias is referenced more than once.

    # stage 1: every regexp pass exactly once per row. The four update
    # groups are extracted in ONE pass: regexp_like gates a matched row
    # (provably exact — an unmatched string is never misread as packed),
    # then one anchored regexp_replace packs "$1␀$2␀$3␀$4" and a split
    # recovers the groups. 2 regex passes per update row instead of 4;
    # a group CONTAINING the ␀ separator yields size != 4 and falls back
    # to per-group extracts in stage 2 (hostile-parity tested). The
    # insert/delete raws are trailing-stripped here (codegen) so stage 2
    # needs only a plain split.
    upd_packed = F.split(
        F.regexp_replace(s, _RE_UPDATE, "$1\x00$2\x00$3\x00$4"), "\x00", -1
    )
    extracted = base.select(
        "*",
        F.when(is_ins, _strip_trailing(_null_if_empty(F.regexp_extract(s, _RE_INSERT, 1)), ",")).alias("__ics"),
        F.when(is_ins, _strip_trailing(_null_if_empty(F.regexp_extract(s, _RE_INSERT, 2)), ",")).alias("__ivs"),
        F.when(is_upd & F.regexp_like(s, F.lit(_RE_UPDATE)), upd_packed).alias("__upd"),
        F.when(is_del, _strip_trailing(_null_if_empty(F.regexp_extract(s, _RE_DELETE, 1)), " and ")).alias("__dws"),
    )

    # stage 2 (ONE layer — each interpreted Project copies the row, so
    # layers are minimized): split the named stripped strings; the
    # delete where-clause becomes one (k, v) struct array in a single
    # transform, so each per-pair regexp runs exactly once. The four
    # update groups come off the packed array (the >4-token fallback
    # re-extracts per group — only rows whose values embed ␀ pay it).
    # The consumed raw strings are dropped to shrink the copied row.
    u_ok = F.size("__upd") == 4

    def _upd_group(i: int) -> Column:
        return F.when(u_ok, F.col("__upd")[i - 1]).otherwise(
            F.when(
                F.col("__upd").isNotNull(),
                _null_if_empty(F.regexp_extract(s, _RE_UPDATE, i)),
            )
        )

    parsed = extracted.select(
        "*",
        _split_stripped(F.col("__ics"), ",").alias("__ic"),
        _split_stripped(F.col("__ivs"), ",").alias("__iv"),
        _upd_group(1).alias("__ua1"),
        _upd_group(2).alias("__un"),
        _upd_group(3).alias("__ua2"),
        _upd_group(4).alias("__uo"),
        F.when(
            F.col("__dws").isNotNull(),
            F.transform(
                _split_stripped(F.col("__dws"), " and "),
                lambda p: F.struct(
                    F.regexp_extract(p, _RE_ATTR_VALUE, 1).alias("k"),
                    F.regexp_extract(p, _RE_ATTR_VALUE, 2).alias("v"),
                ),
            ),
        ).alias("__dkv"),
    ).drop("__ics", "__ivs", "__upd", "__dws")

    tok_ok = lambda arr: F.forall(arr, lambda x: F.length(x) >= 2)  # noqa: E731
    ins_ok = (
        F.col("__ic").isNotNull()
        & F.col("__iv").isNotNull()
        & (F.size("__ic") == F.size("__iv"))
        & tok_ok(F.col("__ic"))
        & tok_ok(F.col("__iv"))
    )
    upd_ok = (
        F.col("__ua1").isNotNull()
        & (F.col("__ua1") == F.col("__ua2"))
        & (F.length("__ua1") >= 2)
        & (F.length("__un") >= 2)
        & (F.length("__uo") >= 2)
    )
    # one fused per-pair validity pass (was three separate foralls)
    del_ok = F.col("__dkv").isNotNull() & F.forall(
        F.col("__dkv"),
        lambda kv: (F.length(kv["k"]) > 0)
        & (F.length(kv["v"]) >= 2)
        & (
            ~(kv["k"].startswith('"') | kv["k"].startswith("'"))
            | (F.length(kv["k"]) >= 2)
        ),
    )

    # stage 3: the error label ONCE per row (it is referenced by all 8
    # output columns; inline it would re-run the validity checks 8x)
    flagged = parsed.select(
        "*",
        F.when(F.col("op").isNull(), F.lit("unknown_statement_type"))
        .when(F.col("table_id").isNull(), F.lit("no_table_id"))
        .when(is_ins & ~ins_ok, F.lit("bad_insert"))
        .when(is_upd & ~upd_ok, F.lit("bad_update"))
        .when(is_del & ~del_ok, F.lit("bad_delete"))
        .when(~F.col("__has_idline"), F.lit("missing_id_line"))
        .when(F.col("ts").isNull(), F.lit("bad_timestamp"))
        .alias("parse_error"),
    )

    dk = F.transform(
        F.col("__dkv"),
        lambda kv: F.when(
            kv["k"].startswith('"') | kv["k"].startswith("'"),
            kv["k"].substr(F.lit(2), F.length(kv["k"]) - 2),
        ).otherwise(kv["k"]),
    )
    dv = F.transform(
        F.col("__dkv"),
        lambda kv: kv["v"].substr(F.lit(2), F.length(kv["v"]) - 2),
    )
    ok = F.col("parse_error").isNull()
    # Payloads gated on the error too: reject rows carry provenance
    # only, matching the pandas kernel exactly (test_parse_hostile).
    out = flagged.select(
        *cols,
        "op",
        "table_id",
        "row_id",
        "ts",
        "statement",
        F.when(ok & is_ins, _strip_tokens(F.col("__ic"))).alias("insert_cols"),
        F.when(ok & is_ins, _strip_tokens(F.col("__iv"))).alias("insert_vals"),
        F.when(ok & is_upd, F.col("__ua1").substr(F.lit(2), F.length("__ua1") - 2)).alias("upd_attr"),
        F.when(ok & is_upd, F.col("__un").substr(F.lit(2), F.length("__un") - 2)).alias("upd_new"),
        F.when(ok & is_upd, F.col("__uo").substr(F.lit(2), F.length("__uo") - 2)).alias("upd_old"),
        F.when(ok & is_del, dk).alias("delete_cols"),
        F.when(ok & is_del, dv).alias("delete_vals"),
        "parse_error",
    )
    return out
