"""Driver-contract queries: one per implemented operator (SURVEY.md §2),
each with a DuckDB-runnable ANSI-SQL oracle over the same parquet tables.

The parse/route/trace operators are exercised on redo statements
SYNTHESIZED deterministically from the TPC-H-ish driver tables (orders /
events), so the DuckDB oracle can state the expected extraction directly
— a true round-trip check of the byte-parity kernel. Text/dedup/
similarity operators run on the documents/embeddings tables.

Cross-engine equality rules used throughout:
  * doubles rounded to 6 (scores) or computed in double precision on
    both sides (cosine);
  * timestamps always emitted as formatted strings;
  * every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .caching import register
from .functions import text as TXT
from .functions.parse import parse_documents
from .functions.parse_sql import parse_documents_sql
from .functions.xes import trace_xml, xes_event_name, xes_timestamp
from .operators import dedup as DD
from .operators import similarity as SIM
from .operators.rowid import uniquify_row_ids
from .operators.schema_discovery import (
    column_facts,
    discover_schema,
    inclusion_dependencies,
)
from .operators.traces import collect_traces


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- synth

_TS_FMT_SPARK = "dd-MMM-yyyy HH:mm:ss"


def _synth_insert_text() -> F.Column:
    return F.concat(
        F.lit('insert into "TPCH"."ORDERS"("ID","PRIO") values (\''),
        F.col("o_orderkey").cast("string"),
        F.lit("','"),
        F.col("o_orderpriority"),
        F.lit("');"),
    )


def _synth_update_text() -> F.Column:
    return F.concat(
        F.lit('update "TPCH"."ORDERS" set "PRIO" = \''),
        F.col("o_orderpriority"),
        F.lit("_X' where \"PRIO\" = '"),
        F.col("o_orderpriority"),
        F.lit("' and ROWID = 'RID"),
        F.col("o_orderkey").cast("string"),
        F.lit("';"),
    )


def _synth_delete_text() -> F.Column:
    return F.concat(
        F.lit('delete from "TPCH"."ORDERS" where "ID" = \''),
        F.col("o_orderkey").cast("string"),
        F.lit("' and ROWID = 'RID"),
        F.col("o_orderkey").cast("string"),
        F.lit("';"),
    )


def _doc(stmt: F.Column, ts: F.Column, tag: str) -> F.Column:
    rid = F.concat(F.lit("RID"), F.col("o_orderkey").cast("string"))
    return F.concat(stmt, F.lit("\n"), rid, F.lit(" "), F.date_format(ts, _TS_FMT_SPARK))


def _synth_url(tag: str) -> F.Column:
    return F.concat(
        F.lit(f"doc://{tag}/"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
    )


def synth_insert_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf tables are single parquet files (1-3 input splits): fan out
    # before the CPU-bound parse so it runs on all cores
    o = _t(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    return o.select(
        F.col("o_orderkey").alias("okey"),
        _synth_url("i").alias("url"),
        F.col("o_orderdate").alias("warc_ts"),
        _doc(_synth_insert_text(), F.col("o_orderdate"), "i").alias("text"),
    )


def synth_mixed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """insert for every order; PRIO update (+1 day) for okey%3==1;
    ID+ROWID delete (+2 days) for okey%3==2 — exercises all three parse
    paths, tombstones and the full schema-discovery stack.

    Built as ONE scan + a row-side explode (round 6): the original
    three-branch union re-scanned orders and re-ran its fan-out
    repartition once PER BRANCH (subtree twins share no exchange,
    PLANS §13) — 3 parquet scans + 4.5M narrow rows exchanged at sf1.
    The explode form scans once, exchanges the narrow orders rows once,
    and emits each order's 1-2 docs row-side. Row VALUES are identical
    (same column expressions per branch); only row order differs, which
    no consumer observes (every downstream op aggregates or orders
    explicitly)."""
    o = _t(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    o = o.withColumn(
        "uts", F.col("o_orderdate") + F.expr("interval 1 day")
    ).withColumn("dts", F.col("o_orderdate") + F.expr("interval 2 day"))

    def _branch(tag: str, ts: F.Column, stmt: F.Column) -> F.Column:
        return F.struct(
            _synth_url(tag).alias("url"),
            ts.alias("warc_ts"),
            _doc(stmt, ts, tag).alias("text"),
        )

    ins_s = _branch("i", F.col("o_orderdate"), _synth_insert_text())
    upd_s = _branch("u", F.col("uts"), _synth_update_text())
    del_s = _branch("d", F.col("dts"), _synth_delete_text())
    k = F.col("o_orderkey") % 3
    docs = (
        F.when(k == 1, F.array(ins_s, upd_s))
        .when(k == 2, F.array(ins_s, del_s))
        .otherwise(F.array(ins_s))
    )
    return o.select(
        F.col("o_orderkey").alias("okey"), F.explode(docs).alias("d")
    ).select("okey", "d.url", "d.warc_ts", "d.text")


_SQL_SYNTH_MIXED = """
    select o_orderkey as okey, 'insert' as op from orders
    union all
    select o_orderkey, 'update' from orders where o_orderkey % 3 = 1
    union all
    select o_orderkey, 'delete' from orders where o_orderkey % 3 = 2
"""


# ------------------------------------------------------------- queries
# P3 route-by-op over synthesized mixed statements
def q_route_counts(spark, sf_dir):
    # JVM parser: this query prunes the parse to ONE column (op), and
    # each parse_sql output column is an independent expression — unused
    # regexps never run, so the JVM path wins exactly here (sf1
    # interleaved A/B: 3.4-3.9 s vs 4.3 s pandas, which computes every
    # column regardless — PLANS §14). Parity with the pandas byte-parity
    # kernel is pinned by tests/test_parse_hostile.py + the fuzz sweeps;
    # the parse_* queries keep the pandas kernel as the parse oracle.
    # No post-synth repartition (round 6): synth's narrow orders
    # exchange already spreads the explode+parse evenly over all cores,
    # so repartitioning the EXPLODED frame only re-shuffled ~375 MB of
    # full-text rows for a 32→64 task split — interleaved A/B at sf1:
    # 3.4-4.6 s with vs 2.3-3.1 s without.
    docs = synth_mixed_docs(spark, sf_dir)
    parsed = parse_documents_sql(docs, keep_cols=("url", "warc_ts", "okey"))
    return parsed.groupBy("op").agg(F.count("*").alias("n")).select("op", "n")


SQL_ROUTE_COUNTS = f"select op, count(*) as n from ({_SQL_SYNTH_MIXED}) group by op"


# P1-P4, P7: insert extraction round-trip
def q_parse_insert(spark, sf_dir):
    docs = synth_insert_docs(spark, sf_dir)
    parsed = parse_documents(docs, keep_cols=("okey",))
    return parsed.select(
        F.col("okey").alias("key"),
        "op",
        "table_id",
        "row_id",
        F.col("insert_cols")[0].alias("col1"),
        F.col("insert_cols")[1].alias("col2"),
        F.col("insert_vals")[0].alias("id_val"),
        F.col("insert_vals")[1].alias("prio_val"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


SQL_PARSE_INSERT = """
    select o_orderkey as key, 'insert' as op, '"TPCH"."ORDERS"' as table_id,
           'RID' || cast(o_orderkey as varchar) as row_id,
           'ID' as col1, 'PRIO' as col2,
           cast(o_orderkey as varchar) as id_val,
           o_orderpriority as prio_val,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') as ts_str
    from orders
"""


# P5: update extraction (incl. greedy '=' semantics on real values)
def q_parse_update(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    docs = o.select(
        F.col("o_orderkey").alias("okey"),
        _synth_url("u").alias("url"),
        F.col("o_orderdate").alias("warc_ts"),
        _doc(_synth_update_text(), F.col("o_orderdate"), "u").alias("text"),
    )
    parsed = parse_documents(docs, keep_cols=("okey",))
    return parsed.select(
        F.col("okey").alias("key"), "op", "table_id", "row_id",
        "upd_attr", "upd_new", "upd_old",
    )


SQL_PARSE_UPDATE = """
    select o_orderkey as key, 'update' as op, '"TPCH"."ORDERS"' as table_id,
           'RID' || cast(o_orderkey as varchar) as row_id,
           'PRIO' as upd_attr,
           o_orderpriority || '_X' as upd_new,
           o_orderpriority as upd_old
    from orders
"""


# P6: delete extraction (multi-predicate, ROWID key kept)
def q_parse_delete(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    docs = o.select(
        F.col("o_orderkey").alias("okey"),
        _synth_url("d").alias("url"),
        F.col("o_orderdate").alias("warc_ts"),
        _doc(_synth_delete_text(), F.col("o_orderdate"), "d").alias("text"),
    )
    parsed = parse_documents(docs, keep_cols=("okey",))
    return parsed.select(
        F.col("okey").alias("key"), "op", "table_id",
        F.concat_ws(",", "delete_cols").alias("keys_str"),
        F.col("delete_vals")[0].alias("id_val"),
        F.col("delete_vals")[1].alias("rowid_val"),
    )


SQL_PARSE_DELETE = """
    select o_orderkey as key, 'delete' as op, '"TPCH"."ORDERS"' as table_id,
           'ID,ROWID' as keys_str,
           cast(o_orderkey as varchar) as id_val,
           'RID' || cast(o_orderkey as varchar) as rowid_val
    from orders
"""


# T1: incarnation numbering over the events stream
def _events_ops(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "ts",
        F.concat(F.lit("R"), (F.col("user_id") % 50).cast("string")).alias("row_id"),
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
    )


def q_rowid_incarnation(spark, sf_dir):
    ev = _events_ops(spark, sf_dir)
    out = uniquify_row_ids(ev, order_cols=("ts", "event_id"))
    return out.select("event_id", "row_id")


SQL_ROWID_INCARNATION = """
    with e as (
      select event_id, ts,
             'R' || cast(user_id % 50 as varchar) as rid,
             case event_type when 'signup' then 'insert'
                             when 'error' then 'delete'
                             else 'update' end as op
      from events),
    o as (select *,
             row_number() over (partition by rid order by ts, event_id) as rn,
             lag(op) over (partition by rid order by ts, event_id) as prev_op
          from e),
    r as (select *, case when rn > 1 and (op = 'insert' or prev_op = 'delete')
                         then 1 else 0 end as restart from o),
    i as (select *, sum(restart) over (partition by rid order by ts, event_id
                    rows between unbounded preceding and current row) as inc from r)
    select event_id,
           case when inc = 0 then rid else rid || '#' || cast(inc as varchar) end as row_id
    from i
"""


# A2: latest value per key (window dedup)
def q_latest_value(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.round("value", 6).alias("last_val"),
        )
    )


SQL_LATEST_VALUE = """
    select user_id, event_type as last_type, round(value, 6) as last_val
    from (select *, row_number() over (partition by user_id
                    order by ts desc, event_id desc) as rn from events)
    where rn = 1
"""


# A3 (final-state): uniqueness per column
def q_pk_unique_basic(spark, sf_dir):
    def one(df, col):
        return df.agg(
            F.lit(col).alias("col"),
            (F.count(col) == F.countDistinct(col)).alias("is_unique"),
        )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    return (
        one(o, "o_orderkey")
        .unionByName(one(o, "o_custkey"))
        .unionByName(one(c, "c_custkey"))
        .unionByName(one(li, "l_orderkey"))
    )


SQL_PK_UNIQUE_BASIC = """
    select 'o_orderkey' as col, count(o_orderkey) = count(distinct o_orderkey) as is_unique from orders
    union all
    select 'o_custkey', count(o_custkey) = count(distinct o_custkey) from orders
    union all
    select 'c_custkey', count(c_custkey) = count(distinct c_custkey) from customer
    union all
    select 'l_orderkey', count(l_orderkey) = count(distinct l_orderkey) from lineitem
"""


# A3 (sticky/prefix-exact): value-lifetime overlap
def q_pk_sticky_overlap(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    writes = e.select(
        F.lit("E").alias("table_id"),
        F.col("event_type").alias("col"),
        F.col("user_id").cast("string").alias("row_id"),
        F.floor("value").cast("bigint").cast("string").alias("value"),
        F.struct(
            F.col("ts").alias("k0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0").alias("k1"),
        ).alias("sk"),
        F.lit("write").alias("kind"),
    )
    # mono_mode='reference' leaves out the log-order lag window, which
    # this query does not read
    return column_facts(writes, "reference").select("col", "can_be_pk")


SQL_PK_STICKY_OVERLAP = """
    with w as (select event_type as col, user_id as row_id,
                      cast(cast(floor(value) as bigint) as varchar) as value,
                      ts, event_id from events),
    p as (select *, row_number() over (order by ts, event_id) as pos from w),
    iv as (select *, lead(pos) over (partition by col, row_id order by pos) as end_pos from p),
    ov as (select *, max(coalesce(end_pos, 9223372036854775807))
                     over (partition by col, value order by pos
                           rows between unbounded preceding and 1 preceding) as prev_end
           from iv)
    select col, bool_and(not (prev_end is not null and pos < prev_end)) as can_be_pk
    from ov group by col
"""


# A4: monotonicity over log-ordered writes
def q_monotonicity(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    writes = e.select(
        F.lit("E").alias("table_id"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("col"),
        F.col("user_id").cast("string").alias("row_id"),
        F.col("value").cast("string").alias("value"),
        F.struct(
            F.col("ts").alias("k0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0").alias("k1"),
        ).alias("sk"),
        F.lit("write").alias("kind"),
    )
    return column_facts(writes).select("col", "values_increasing")


SQL_MONOTONICITY = """
    with w as (select 'u' || cast(user_id % 10 as varchar) as col, value, ts, event_id
               from events),
    s as (select col, value,
                 lag(value) over (partition by col order by ts, event_id) as prev
          from w)
    select col, bool_and(prev is null or prev < value) as values_increasing
    from s group by col
"""


# A5: PK-name heuristic
def q_pk_name_heuristic(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_type").distinct()
    names = e.select(
        F.explode(
            F.array(F.col("event_type"), F.concat(F.col("event_type"), F.lit("_id")))
        ).alias("name")
    )
    return names.select(
        "name", F.lower("name").rlike("(id|nr|key|no)$").alias("name_like_pk")
    )


SQL_PK_NAME_HEURISTIC = """
    select name, regexp_matches(lower(name), '(id|nr|key|no)$') as name_like_pk
    from (select unnest([event_type, event_type || '_id']) as name
          from (select distinct event_type from events))
"""


# A6: inclusion dependencies via one join
_IND_COLS = [
    ("orders", "o_custkey"),
    ("orders", "o_orderkey"),
    ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"),
    ("nation", "n_regionkey"),
    ("region", "r_regionkey"),
]


def q_ind_subset(spark, sf_dir):
    frames = []
    for t, c in _IND_COLS:
        frames.append(
            _t(spark, sf_dir, t).select(
                F.lit(t).alias("table_id"),
                F.lit(c).alias("col"),
                F.lit(None).cast("string").alias("row_id"),
                F.col(c).cast("string").alias("value"),
            )
        )
    curr = frames[0]
    for f in frames[1:]:
        curr = curr.unionByName(f)
    return inclusion_dependencies(curr)


_SQL_IND_VALUES = " union all ".join(
    f"select '{t}' as table_id, '{c}' as col, cast({c} as varchar) as value from {t}"
    for t, c in _IND_COLS
)
SQL_IND_SUBSET = f"""
    with v as ({_SQL_IND_VALUES}),
    d as (select distinct table_id, col, value from v),
    n as (select table_id, col, count(*) as nd from d group by 1, 2),
    m as (select a.table_id, a.col, b.table_id as ref_table, b.col as ref_col,
                 count(*) as nm
          from d a join d b using (value)
          where a.table_id <> b.table_id
          group by 1, 2, 3, 4)
    select m.table_id, m.col, m.ref_table, m.ref_col
    from m join n on m.table_id = n.table_id and m.col = n.col
    where nm = nd
"""


# A8: undirected relation dedup via canonical ordering
def q_undirected_dedup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    edges = e.select(
        (F.col("user_id") % 20).alias("a"),
        (F.abs(F.floor(F.col("value") * 7)).cast("bigint") % 20).alias("b"),
    )
    return edges.select(
        F.least("a", "b").alias("ta"), F.greatest("a", "b").alias("tb")
    ).distinct()


SQL_UNDIRECTED_DEDUP = """
    select distinct least(a, b) as ta, greatest(a, b) as tb
    from (select user_id % 20 as a,
                 cast(abs(floor(value * 7)) as bigint) % 20 as b
          from events)
"""


# J1: entity-edge equi-join (broadcast dimension)
def q_entity_edges(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "c_custkey"
    )


SQL_ENTITY_EDGES = """
    select o_orderkey, c_custkey from orders join customer on o_custkey = c_custkey
"""


# J4: broadcast enrichment join
def q_enrich_broadcast(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn(
        "cust_key", (F.col("user_id") % 100 + 1).cast("bigint")
    )
    c = _t(spark, sf_dir, "customer")
    return e.join(F.broadcast(c), e["cust_key"] == c["c_custkey"], "left").select(
        "event_id", "cust_key", "c_name", "c_mktsegment"
    )


SQL_ENRICH_BROADCAST = """
    select event_id, user_id % 100 + 1 as cust_key, c_name, c_mktsegment
    from events left join customer on c_custkey = user_id % 100 + 1
"""


# G3: root-case founding by first appearance
def q_root_buckets(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    w = Window.orderBy("first_ts", "user_id")
    return firsts.select(
        "user_id", (F.row_number().over(w) - 1).alias("case_idx")
    )


SQL_ROOT_BUCKETS = """
    select user_id,
           row_number() over (order by first_ts, user_id) - 1 as case_idx
    from (select user_id, min(ts) as first_ts from events group by user_id)
"""


# G4: trace collect with deterministic ordering
def _assigned_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("user_id").cast("string").alias("case_id"),
        F.col("event_type").alias("event_name"),
        xes_timestamp(F.col("ts")).alias("xes_ts"),
        "ts",
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("url"),
    )


def q_trace_collect(spark, sf_dir):
    traces = collect_traces(
        _assigned_events(spark, sf_dir), event_cols=("event_name",)
    )
    return traces.select(
        "case_id",
        F.size("events").alias("n_events"),
        F.array_join(
            F.transform("events", lambda x: x["event_name"]), ","
        ).alias("events_str"),
    )


SQL_TRACE_COLLECT = """
    select cast(user_id as varchar) as case_id,
           cast(count(*) as int) as n_events,
           string_agg(event_type, ',' order by ts, lpad(cast(event_id as varchar), 12, '0')) as events_str
    from events group by user_id
"""


# P8-P9: XES event names + timestamps
def q_xes_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    ev = e.select(
        "event_id",
        "ts",
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.lit("EVENTS").alias("table_id"),
        F.col("event_type").alias("upd_attr"),
        F.floor("value").cast("bigint").cast("string").alias("upd_new"),
    )
    return ev.select(
        "event_id",
        xes_event_name(include_update_values=True).alias("event_name"),
        xes_timestamp(F.col("ts")).alias("xes_ts"),
    )


SQL_XES_EVENTS = """
    select event_id,
           case when event_type = 'signup' then 'Add EVENTS entity'
                when event_type = 'error' then 'Delete entity from EVENTS'
                else 'Update ' || event_type || ' value of EVENTS entity to ' ||
                     cast(cast(floor(value) as bigint) as varchar) end as event_name,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') || '.000+00:00' as xes_ts
    from events
"""


# P10: per-trace XES XML
def q_xes_trace_xml(spark, sf_dir):
    traces = collect_traces(
        _assigned_events(spark, sf_dir), event_cols=("event_name", "xes_ts")
    )
    return trace_xml(traces).select("case_id", "trace_xml")


SQL_XES_TRACE_XML = """
    select cast(user_id as varchar) as case_id,
           '<trace>' || string_agg(
             '<event><string key="concept:name" value="' || event_type ||
             '"/><date key="time:timestamp" value="' ||
             strftime(ts, '%Y-%m-%dT%H:%M:%S') || '.000+00:00' || '"/></event>',
             '' order by ts, lpad(cast(event_id as varchar), 12, '0')
           ) || '</trace>' as trace_xml
    from events group by user_id
"""


# sessionization (gap > 30 min starts a new session)
def q_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet stores TIMESTAMP_NTZ here; route through timestamp (UTC
    # session) before the epoch cast
    epoch = F.col("ts").cast("timestamp").cast("long")
    gapped = e.withColumn(
        "new_sess",
        (epoch - F.lag(epoch).over(w) > 1800).cast("int"),
    )
    return gapped.groupBy("user_id").agg(
        (F.coalesce(F.sum("new_sess"), F.lit(0)) + 1).alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZE = """
    with g as (select user_id,
                      case when epoch(ts) - epoch(lag(ts) over
                           (partition by user_id order by ts, event_id)) > 1800
                           then 1 else 0 end as new_sess
               from events)
    select user_id, cast(sum(new_sess) + 1 as bigint) as n_sessions,
           count(*) as n_events
    from g group by user_id
"""


# A1-A8 flagship: full schema discovery over synthesized statements
def q_schema_discovery(spark, sf_dir):
    # pandas/Arrow kernel, deliberately: discovery consumes EVERY parse
    # column, and at full width the one-pass Arrow kernel beats the JVM
    # expression parser (one regexp pass per column) — sf1 interleaved
    # A/B: 6.5 s vs ~10 s end-to-end; full-width parse alone 4.0 s vs
    # 9.4 s (PLANS §14). The JVM parser is the 100 TB path only where
    # downstream pruning keeps few columns (see q_route_counts).
    docs = synth_mixed_docs(spark, sf_dir)
    parsed = parse_documents(docs, keep_cols=("url", "warc_ts"))
    events = uniquify_row_ids(parsed, order_cols=("ts", "url"))
    cols_df = discover_schema(events)[0]
    return cols_df.select(
        "table_id", "col", "can_be_pk", "values_increasing", "name_like_pk"
    )


# Oracle notes: ID is unique by construction (one insert per orderkey,
# never two live rows with the same ID) -> can_be_pk true; PRIO has
# massive concurrent duplicates (5 priorities) -> false. increasing(ID)
# uses the STRING comparison branch: the synthesized row ids are
# 'RID<okey>' — non-numeric — and Column.scala:104-106 coerces BOTH row
# id and value with .toDouble, so the numeric branch never runs (the
# repo's column_facts() replicates that gate); the lag compares the
# id_val strings over inserts ordered by (date, url). increasing(PRIO)
# is false for any non-trivial row count because only 5 distinct string
# values exist (a strict increase over >5 writes is impossible) —
# stated literally.
SQL_SCHEMA_DISCOVERY = """
    with inc as (
      select coalesce(bool_and(prev < cur), true) as v
      from (select lower(cast(o_orderkey as varchar)) as cur,
                   lag(lower(cast(o_orderkey as varchar))) over
                     (order by o_orderdate,
                               'doc://i/' || lpad(cast(o_orderkey as varchar), 12, '0')) as prev
            from orders))
    select '"TPCH"."ORDERS"' as table_id, 'ID' as col,
           true as can_be_pk, (select v from inc) as values_increasing,
           true as name_like_pk
    union all
    select '"TPCH"."ORDERS"', 'PRIO', false, false, false
"""


# ------------------------------------------------- text / dedup / ANN

_EN = TXT.LANG_MARKERS["en"]


def q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TXT.token_count(F.col("text")).alias("n_tok"))


SQL_TOKEN_COUNT = """
    select doc_id,
           cast(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) as int) as n_tok
    from documents
"""


def q_bpe_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TXT.bpe_ish_token_count(F.col("text")).alias("n_pieces")
    )


SQL_BPE_TOKENS = """
    select doc_id,
           cast(list_sum(list_transform(
                  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
                  x -> 1 + cast(floor(length(x) / 6) as int))) as int) as n_pieces
    from documents
"""


def q_punct_stopword(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(TXT.punct_ratio(F.col("text")), 6).alias("punct_r"),
        F.round(TXT.stopword_ratio(F.col("text")), 6).alias("stop_r"),
    )


SQL_PUNCT_STOPWORD = f"""
    with t as (select doc_id, text,
                 list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') as toks
               from documents)
    select doc_id,
           round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
                 / length(text), 6) as punct_r,
           round(len(list_filter(list_transform(toks, x -> lower(x)),
                     x -> list_contains({_EN!r}, x))) * 1.0 / len(toks), 6) as stop_r
    from t
"""


def q_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TXT.quality_score(F.col("text")).alias("q"))


SQL_QUALITY_SCORE = f"""
    with t as (select doc_id, text,
                 list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') as toks
               from documents),
    m as (select doc_id, text, len(toks) as n_tok,
                 len(list_filter(list_transform(toks, x -> lower(x)),
                     x -> list_contains({_EN!r}, x))) as hits
          from t),
    s as (select doc_id,
                 least(n_tok / 50.0, 1.0) as len_score,
                 1.0 - least((length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                              * 1.0 / length(text)) * 5, 1.0) as punct_score,
                 least((hits * 1.0 / n_tok) * 4, 1.0) as stop_score
          from m)
    select doc_id, round(len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3, 6) as q
    from s
"""


def q_text_quality(spark, sf_dir):
    """Punct/stopword ratios + composite quality score joined per doc in
    ONE contract query (consolidated in round 3 to free a slot for
    decontaminate under the driver's 50-entry record cap — see
    q_grouped_agg note; both operators still run unchanged)."""
    return q_punct_stopword(spark, sf_dir).join(
        q_quality_score(spark, sf_dir), "doc_id"
    )


SQL_TEXT_QUALITY = f"""
    select p.doc_id, p.punct_r, p.stop_r, q.q
    from ({SQL_PUNCT_STOPWORD}) p join ({SQL_QUALITY_SCORE}) q
      on p.doc_id = q.doc_id
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination over the documents table
    (operators/corpus.decontaminate): the 'benchmark' is the
    deterministic doc_id % 29 == 0 slice (no external eval set exists in
    this sandbox), the corpus is the rest; returns the contaminated doc
    ids. n=4 is the smallest n that is non-vacuous AND non-saturated on
    the synthetic word-salad texts (probed: 33/483 corpus docs hit at
    sf0.01, 26 at sf0.001, 1984/4828 at sf0.1); the production default
    is n=13. Spark joins on xxhash64 gram keys, the oracle on gram
    strings — identical sets absent a ~2^-64 collision, and
    deterministic either way. Matching is case-insensitive on both
    sides since round 4 (ADVICE fix; hit counts unchanged here — the
    synthetic texts are already lowercase)."""
    from .operators.corpus import decontaminate

    # _docs_wide, not _t: the sf documents table is ONE parquet split,
    # and the corpus-side 4-gram build (interpreted transform) is the
    # whole cost of this query — unpartitioned it runs on a single task
    # (measured 6.3-6.7 s of the 5.6-8.5 s total at sf1, round 6)
    d = _docs_wide(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 29 == 0)
    corpus = d.filter(F.col("doc_id") % 29 != 0)
    _, contaminated = decontaminate(corpus, bench, n=4)
    return contaminated


SQL_DECONTAMINATE = """
    with tok as (select doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '') as t
                 from documents),
    g as (select doc_id, array_to_string(t[i.i : i.i + 3], ' ') as gram
          from tok cross join lateral
               (select unnest(range(1, len(t) - 3 + 1)) as i) i),
    bench as (select distinct gram from g where doc_id % 29 = 0)
    select distinct doc_id
    from g join bench using (gram)
    where doc_id % 29 <> 0
"""


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TXT.lang_id(F.col("text")).alias("lang_pred"))


def _sql_lang_id() -> str:
    hit_cols = ",\n".join(
        f"len(list_filter(toks, x -> list_contains({ms!r}, x))) as h_{lang}"
        for lang, ms in TXT.LANG_MARKERS.items()
    )
    # fixed-order argmax with strict > (mirrors functions/text.lang_id)
    langs = list(TXT.LANG_MARKERS)
    best = "'und'"
    best_n = "0"
    for lang in langs:
        best = f"case when h_{lang} > {best_n} then '{lang}' else {best} end"
        best_n = f"greatest(h_{lang}, {best_n})"
    return f"""
    with t as (select doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') as toks
               from documents),
    h as (select doc_id, {hit_cols} from t)
    select doc_id, {best} as lang_pred from h
    """


SQL_LANG_ID = _sql_lang_id()


def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TXT.doc_fingerprint(F.col("text")).alias("fingerprint"))


SQL_DOC_FINGERPRINT = """
    select doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as fingerprint
    from documents
"""


def q_dedup_exact(spark, sf_dir):
    # stays on the raw scan: an explicit fan-out was A/B-measured flat
    # at sf1 (0.69 -> 0.78 s) — the groupBy exchange already spreads the
    # agg, and the md5 projection is too cheap to justify a shuffle
    d = _t(spark, sf_dir, "documents")
    return DD.exact_dedup(d)


SQL_DEDUP_EXACT = """
    select min(doc_id) as doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as fingerprint
    from documents group by fingerprint
"""



def _docs_wide(spark, sf_dir):
    """documents.parquet at test sf is ONE file (a single input split):
    fan out before CPU-heavy shingling/hashing so it runs on all cores —
    on a real table the file/split layout provides this natively and the
    shuffle disappears (same convention as synth_mixed_docs)."""
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def q_ngram_jaccard(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    return DD.ngram_jaccard_pairs(d, n=3, threshold=0.5)


SQL_NGRAM_JACCARD = """
    with t as (select doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') as toks
               from documents),
    sh as (select distinct doc_id, shingle
           from (select doc_id,
                        unnest(list_transform(generate_series(1, len(toks) - 2),
                               i -> array_to_string(toks[i:i+2], ' '))) as shingle
                 from t)),
    sz as (select doc_id, count(*) as n_sh from sh group by doc_id),
    co as (select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_common
           from sh a join sh b using (shingle)
           where a.doc_id < b.doc_id
           group by 1, 2)
    select id_a, id_b,
           round(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 6) as jaccard
    from co join sz na on na.doc_id = id_a
            join sz nb on nb.doc_id = id_b
    where n_common * 1.0 / (na.n_sh + nb.n_sh - n_common) >= 0.5
"""


def q_ann_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # stays on the raw scan: a fan-out repartition was A/B-measured flat
    # at sf1 (0.53 -> 0.54 s) — the 16-dim fold is too cheap to shuffle for
    return SIM.cosine_topk(emb, qv, k=10).select("vec_id", "score")


SQL_ANN_COSINE = """
    with q as (select embedding as qv from embeddings where vec_id = 0),
    s as (select vec_id,
            list_sum(list_transform(list_zip(embedding, (select qv from q)),
                     x -> cast(x[1] as double) * cast(x[2] as double))) as dot,
            sqrt(list_sum(list_transform(embedding,
                 x -> cast(x as double) * cast(x as double)))) as na,
            (select sqrt(list_sum(list_transform(qv,
                 x -> cast(x as double) * cast(x as double)))) from q) as nb
          from embeddings)
    select vec_id, round(dot / (na * nb), 6) as score
    from s order by score desc, vec_id limit 10
"""


def q_topk_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "doc_id", "n_chars", "rk")
    )


SQL_TOPK_DOCS = """
    select lang, doc_id, n_chars, cast(rk as int) as rk
    from (select lang, doc_id, n_chars,
                 row_number() over (partition by lang
                                    order by n_chars desc, doc_id) as rk
          from documents)
    where rk <= 3
"""


def q_json_extract(spark, sf_dir):
    """JSON scalar functions over the events.props JSON column."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    ).withColumn("k_bucket", F.col("k") % 10)


SQL_JSON_EXTRACT = """
    select event_id,
           cast(json_extract_string(props, '$.k') as bigint) as k,
           cast(json_extract_string(props, '$.k') as bigint) % 10 as k_bucket
    from events
"""


def q_approx_distinct(spark, sf_dir):
    """HLL approximate distinct (sketch values are engine-specific —
    rows-only; the exact countDistinct equivalents are oracled in
    pk_unique_basic)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count("*").alias("n"),
    )


# ------------------------------------------------ OLAP breadth operators
# (beyond the reference's own surface — the engine-completeness set)


def q_grouped_agg(spark, sf_dir):
    """cube + rollup + grouping-sets in ONE labeled union (consolidated
    from three separate contract queries in round 3 so every value-
    oracled query fits inside the driver's 50-entry correctness record —
    round-2 VERDICT item 1; all three grouping operators still run)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cube = li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("val"),
        F.count("*").alias("n"),
    ).select(
        F.lit("cube").alias("src"),
        F.col("l_returnflag").alias("k1"),
        F.col("l_linestatus").alias("k2"),
        "val", "n",
    )
    rollup = o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("val"),
        F.count("*").alias("n"),
    ).select(
        F.lit("rollup").alias("src"),
        F.col("o_orderstatus").alias("k1"),
        F.col("o_orderpriority").alias("k2"),
        "val", "n",
    )
    li.createOrReplaceTempView("li_gs")
    gsets = spark.sql(
        """
        select 'gsets' as src, l_returnflag as k1, l_linestatus as k2,
               round(sum(l_quantity), 2) as val, count(*) as n
        from li_gs
        group by grouping sets ((l_returnflag), (l_linestatus), ())
        """
    )
    return cube.unionByName(rollup).unionByName(gsets)


SQL_GROUPED_AGG = """
    select 'cube' as src, l_returnflag as k1, l_linestatus as k2,
           round(sum(l_quantity), 2) as val, count(*) as n
    from lineitem group by cube (l_returnflag, l_linestatus)
    union all
    select 'rollup', o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2), count(*)
    from orders group by rollup (o_orderstatus, o_orderpriority)
    union all
    select 'gsets', l_returnflag, l_linestatus,
           round(sum(l_quantity), 2), count(*)
    from lineitem
    group by grouping sets ((l_returnflag), (l_linestatus), ())
"""


def q_set_ops(spark, sf_dir):
    """union / intersect / except over key sets, as labeled counts."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return (
        o.union(c).distinct().agg(F.lit("union").alias("op_name"), F.count("*").alias("n"))
        .unionByName(
            o.intersect(c).agg(F.lit("intersect").alias("op_name"), F.count("*").alias("n"))
        )
        .unionByName(
            c.exceptAll(c.join(o, "k", "left_semi")).agg(
                F.lit("except").alias("op_name"), F.count("*").alias("n")
            )
        )
    )


SQL_SET_OPS = """
    select 'union' as op_name, count(*) as n from (
      select o_custkey as k from orders union select c_custkey from customer)
    union all
    select 'intersect', count(*) from (
      select distinct o_custkey as k from orders
      intersect select distinct c_custkey from customer)
    union all
    select 'except', count(*) from (
      select c_custkey as k from customer
      where c_custkey not in (select o_custkey from orders))
"""


def q_pivot(spark, sf_dir):
    """Manual CASE pivot (engine-portable form of groupBy().pivot())."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0)), 2).alias("qty_O"),
        F.round(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0)), 2).alias("qty_F"),
    )


SQL_PIVOT = """
    select l_returnflag,
           round(sum(case when l_linestatus = 'O' then l_quantity else 0 end), 2) as qty_O,
           round(sum(case when l_linestatus = 'F' then l_quantity else 0 end), 2) as qty_F
    from lineitem group by l_returnflag
"""


def q_asof_join(spark, sf_dir):
    """As-of join (Spark has no native operator): for each event, the
    latest order of 'its' customer at or before the event time.

    Scalable composition: union both sides tagged, one window per
    customer ordered by (ts, side) carrying last_value(order) forward,
    filter back to events — a single shuffle, no range explosion
    (SURVEY.md guide pattern; DuckDB oracle uses native ASOF JOIN)."""
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100 + 1).alias("cust"),
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        "o_orderkey",
    )
    tagged = e.select(
        "cust", "ts", F.lit(0).alias("side"), "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
    ).unionByName(
        o.select(
            "cust", "ts", F.lit(-1).alias("side"),
            F.lit(None).cast("bigint").alias("event_id"), "o_orderkey",
        )
    )
    w = (
        Window.partitionBy("cust")
        .orderBy("ts", "side", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "asof_order", F.last("o_orderkey", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("side") == 0).select(
        "event_id", "cust", F.col("asof_order").alias("o_orderkey")
    )


# orders can share (cust, o_orderdate): the composition's (ts, side,
# o_orderkey) ordering makes the LARGEST orderkey at the as-of date win;
# mirror that tie-break in the oracle.
SQL_ASOF_JOIN = """
    with e as (select event_id, user_id % 100 + 1 as cust, ts from events),
    o as (select o_custkey as cust, o_orderdate as ts,
                 max(o_orderkey) as o_orderkey
          from orders group by o_custkey, o_orderdate)
    select e.event_id, e.cust, o.o_orderkey
    from e asof left join o on e.cust = o.cust and e.ts >= o.ts
"""


def q_percentiles(spark, sf_dir):
    """Exact percentiles (median/p90) per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90"),
    )


SQL_PERCENTILES = """
    select l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) as p50,
           round(quantile_cont(l_quantity, 0.9), 6) as p90
    from lineitem group by l_returnflag
"""


def q_running_window(spark, sf_dir):
    """Cumulative per-key running aggregate (guide's window pattern)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        F.round(F.sum("value").over(w), 6).alias("running_value"),
    )


SQL_RUNNING_WINDOW = """
    select event_id,
           round(sum(value) over (partition by user_id order by ts, event_id
                 rows between unbounded preceding and current row), 6) as running_value
    from events
"""


# ----------------------------------- corpus prep: sampling, packing, CC


def q_hash_sample(spark, sf_dir):
    """Deterministic content-hash sampling (~10%): a doc's fate is a pure
    function of its bytes (md5), so re-runs and cluster-size changes keep
    the identical sample."""
    from .operators.corpus import hash_sample

    return hash_sample(_t(spark, sf_dir, "documents"), pct=10)


SQL_HASH_SAMPLE = """
    with h as (select doc_id,
                 cast(('0x' || substr(md5(text), 1, 6)) as bigint) % 100
                   as h_bucket
               from documents)
    select doc_id, h_bucket from h where h_bucket < 10
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language quota sample: smallest content hash
    wins — balances a training mix without an RNG."""
    from .operators.corpus import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), per_stratum=20, stratum_col="lang"
    )


SQL_STRATIFIED_SAMPLE = """
    select doc_id, stratum, cast(rk as int) as rk
    from (select doc_id, lang as stratum,
                 row_number() over (partition by lang
                                    order by md5(text), doc_id) as rk
          from documents)
    where rk <= 20
"""


def q_sampling(spark, sf_dir):
    """Content-hash and stratified-quota sampling consolidated into ONE
    contract query (round 4, freeing a slot for multimodal_ann under
    the driver's 50-entry record cap — both operators still run
    unchanged): union of the two deterministic sample sets with a
    method discriminator; `k` is the hash bucket for hash rows, the
    per-stratum rank for stratified rows."""
    h = q_hash_sample(spark, sf_dir).select(
        F.lit("hash").alias("method"), "doc_id",
        F.col("h_bucket").cast("long").alias("k"),
    )
    s = q_stratified_sample(spark, sf_dir).select(
        F.lit("stratified").alias("method"), "doc_id",
        F.col("rk").cast("long").alias("k"),
    )
    return h.unionByName(s)


SQL_SAMPLING = f"""
    select 'hash' as method, doc_id, cast(h_bucket as bigint) as k
    from ({SQL_HASH_SAMPLE})
    union all
    select 'stratified' as method, doc_id, cast(rk as bigint) as k
    from ({SQL_STRATIFIED_SAMPLE})
"""


def q_token_pack(spark, sf_dir):
    """Sequence-packing plan: fixed-token-budget bin ids per source via
    one cumulative-sum window (deterministic next-fit)."""
    from .operators.corpus import token_pack

    return token_pack(_t(spark, sf_dir, "documents"), budget=2048)


SQL_TOKEN_PACK = """
    with t as (select doc_id, source,
                 len(list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '')) as n_tok
               from documents),
    c as (select *, sum(n_tok) over (partition by source order by doc_id
               rows between unbounded preceding and current row) as cum
          from t)
    select doc_id, source as "group", cast(n_tok as int) as n_tok,
           cast(floor((cum - n_tok) / 2048) as bigint) as bin_id
    from c
"""


def q_dedup_components(spark, sf_dir):
    """Fuzzy-dedup clustering + representative selection in one frame:
    connected components over the exact n-gram-Jaccard near-dup pairs
    (doc_id, component_id = min id in component), then the per-cluster
    KEEPER by quality — operators/dedup.select_representatives with
    score = token count (highest wins, tie -> smallest id) — joined
    back as rep_id. Iterative distributed min-label propagation; the
    DuckDB oracle states the same fixpoint with a recursive CTE and the
    same pick with one window (round-3 VERDICT #2: representative
    selection was the only pytest-only batch operator)."""
    d = _docs_wide(spark, sf_dir)
    pairs = DD.ngram_jaccard_pairs(d, n=3, threshold=0.5)
    # comp is read twice below (the reps aggregation + the final join);
    # uncached each read re-runs the docs distinct + singleton attach
    comp = register(DD.dedup_components(d, pairs).cache())
    scored = d.select("doc_id", TXT.token_count(F.col("text")).alias("n_tok"))
    reps = DD.select_representatives(scored, comp, score_col="n_tok")
    return comp.join(
        reps.select("component_id", F.col("doc_id").alias("rep_id")),
        "component_id",
    ).select("doc_id", "component_id", "rep_id")


SQL_DEDUP_COMPONENTS = """
    with recursive
    t as (select doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') as toks
          from documents),
    sh as (select distinct doc_id, shingle
           from (select doc_id,
                        unnest(list_transform(generate_series(1, len(toks) - 2),
                               i -> array_to_string(toks[i:i+2], ' '))) as shingle
                 from t)),
    sz as (select doc_id, count(*) as n_sh from sh group by doc_id),
    co as (select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_common
           from sh a join sh b using (shingle)
           where a.doc_id < b.doc_id
           group by 1, 2),
    p as (select id_a, id_b
          from co join sz na on na.doc_id = id_a
                  join sz nb on nb.doc_id = id_b
          where n_common * 1.0 / (na.n_sh + nb.n_sh - n_common) >= 0.5),
    e as (select id_a as src, id_b as dst from p
          union all
          select id_b, id_a from p),
    r as (select doc_id as v, doc_id as u from documents
          union
          select r.v, e.dst as u from r join e on e.src = r.u),
    comp as (select v as doc_id, min(u) as component_id from r group by v),
    rep as (select component_id, doc_id as rep_id,
                   row_number() over (partition by component_id
                                      order by len(toks) desc, doc_id) as rk
            from comp join t using (doc_id))
    select c.doc_id, c.component_id, r.rep_id
    from comp c join rep r using (component_id)
    where r.rk = 1
"""


def q_strip_boilerplate(spark, sf_dir):
    """Line-level boilerplate removal (CCNet/RefinedWeb step): the sf
    documents are single-line, so the query plants a shared footer line
    plus a per-language line — the footer (in every doc) and the lang
    lines (hundreds of docs each) must be stripped, the unique original
    line kept."""
    from .operators.corpus import strip_boilerplate_lines

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit("\nCopyright Example Footer - All Rights Reserved\nlang:"),
            F.col("lang"),
        ),
    )
    return strip_boilerplate_lines(d, max_df=10)


SQL_STRIP_BOILERPLATE = """
    with d as (select doc_id,
                 text || chr(10) ||
                 'Copyright Example Footer - All Rights Reserved' ||
                 chr(10) || 'lang:' || lang as text
               from documents),
    t as (select doc_id, string_split(text, chr(10)) as ls from d),
    l as (select doc_id, s.pos, s.line,
                 md5(lower(trim(s.line))) as lk
          from (select doc_id,
                       unnest(list_transform(generate_series(1, len(ls)),
                              i -> struct_pack(pos := i, line := ls[i]))) as s
                from t)),
    df as (select lk, count(distinct doc_id) as line_df from l group by lk),
    kept as (select l.* from l join df using (lk) where line_df <= 10),
    rebuilt as (select doc_id,
                       string_agg(line, chr(10) order by pos) as clean_text,
                       count(*) as n_lines_kept
                from kept group by doc_id)
    select d.doc_id,
           coalesce(r.clean_text, '') as clean_text,
           cast(coalesce(r.n_lines_kept, 0) as bigint) as n_lines_kept
    from d left join rebuilt r using (doc_id)
"""


def q_pii_redact(spark, sf_dir):
    """PII scrub over documents with planted email + long-number tokens
    (the sf prose has none): emails → <EMAIL>, 9+-digit runs → <NUM>,
    plus per-doc match counts."""
    from .functions.text import pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ref 9876543210"),
        ),
    )
    n_emails, n_nums = pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        redact_pii(F.col("text")).alias("clean_text"),
        n_emails.alias("n_emails"),
        n_nums.alias("n_nums"),
    )


SQL_PII_REDACT = """
    with d as (select doc_id,
                 text || ' contact: user' || cast(doc_id as varchar) ||
                 '@example.com ref 9876543210' as text
               from documents)
    select doc_id,
           regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\d{9,}', '<NUM>', 'g') as clean_text,
           cast(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) as int)
             as n_emails,
           cast(len(regexp_extract_all(text, '\\d{9,}')) as int) as n_nums
    from d
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style per-doc repetition signals (dup n-gram fractions,
    top-token mass) — quality filtering inputs."""
    from .operators.corpus import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


SQL_REPETITION_STATS = """
    with toks as (select doc_id,
                    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                x -> x <> '') as ts
                  from documents),
    grams as (select doc_id,
                list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
                               i -> ts[i] || ' ' || ts[i+1]) as g2,
                list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) as g3
              from toks),
    fr as (select doc_id,
             case when len(g2) > 0
                  then round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
                  else 0.0 end as dup_2gram_frac,
             case when len(g3) > 0
                  then round(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 6)
                  else 0.0 end as dup_3gram_frac
           from grams),
    t as (select doc_id, unnest(ts) as tok from toks),
    per as (select doc_id, tok, count(*) as c from t group by 1, 2),
    top as (select doc_id, max(c) as top_c, sum(c) as n_tok
            from per group by doc_id)
    select fr.doc_id, fr.dup_2gram_frac, fr.dup_3gram_frac,
           round(coalesce(top.top_c * 1.0 / top.n_tok, 0.0), 6) as top_token_frac
    from fr left join top using (doc_id)
"""


def q_text_signals(spark, sf_dir):
    """PII redaction + Gopher repetition signals joined per doc in ONE
    contract query (consolidated in round 3 — see q_grouped_agg note —
    both operators still run; pii over the email/number-augmented text,
    repetition over the original prose, exactly as the two standalone
    queries did)."""
    return q_pii_redact(spark, sf_dir).join(
        q_repetition_stats(spark, sf_dir), "doc_id"
    )


SQL_TEXT_SIGNALS = f"""
    select p.doc_id, p.clean_text, p.n_emails, p.n_nums,
           r.dup_2gram_frac, r.dup_3gram_frac, r.top_token_frac
    from ({SQL_PII_REDACT}) p join ({SQL_REPETITION_STATS}) r
      on p.doc_id = r.doc_id
"""


# ---------------------------------------- non-SQL-expressible (rows-only)

def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    The xxhash64 signatures are engine-specific, but the *output* is not:
    every emitted pair carries its exact (inverted-index) Jaccard. The
    oracle states the exact-Jaccard pair set at the SAME threshold, so
    LSH recall is the only probabilistic gap — and the threshold is
    pinned to 0.9, the regime where 8 bands × 4 rows give per-pair miss
    probability ≤ (1-0.9^4)^8 ≈ 2e-4 (measured recall on the fixture is
    100%, and xxhash64 is deterministic, so the fixture outcome is fixed,
    not flaky). A 0.5 threshold would silently rely on the fixture
    containing no pair with J ∈ [0.5, ~0.85), where LSH recall drops —
    a future fixture change could break the contract (round-2 ADVICE).
    Recall on planted near-dups is additionally pinned in
    tests/test_text_dedup.py."""
    d = _docs_wide(spark, sf_dir)
    return DD.minhash_dedup_pairs(d, num_hashes=32, bands=8, threshold=0.9)


# the minhash verify stage emits exact Jaccard over candidate pairs at a
# threshold where LSH recall is provably ~1 (docstring above) — the exact
# pair set at that threshold IS the oracle
SQL_MINHASH_PAIRS = SQL_NGRAM_JACCARD.replace(">= 0.5", ">= 0.9")


def q_simhash(spark, sf_dir):
    """SimHash fingerprints with the SQL-portable md5-derived token hash
    (operators/dedup.md5_hash60), so the vote/fingerprint construction
    gets a full cross-engine value oracle; the production default stays
    xxhash64 (JVM-fast), logic identical — near-dup blocking on the
    default hash is pinned by the exact-Hamming pytest."""
    d = _docs_wide(spark, sf_dir)
    return DD.simhash(d, token_hash=DD.md5_hash60)


# per-bit vote sums + sign reassembly, generated mechanically; bits
# 60-63 of the 60-bit hash are always 0 → their votes are always -1 →
# fingerprint bits 60-63 are 0 on both engines (terms omitted)
_SIMHASH_VOTES = ",\n           ".join(
    f"sum(case when (h >> {i}) & 1 = 1 then 1 else -1 end) as v{i}"
    for i in range(60)
)
_SIMHASH_FP = " + ".join(
    f"case when v{i} > 0 then (cast(1 as bigint) << {i}) else cast(0 as bigint) end"
    for i in range(60)
)
SQL_SIMHASH = f"""
    with tok as (select doc_id,
                   unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                          x -> x <> '')) as tok
                 from documents),
    h as (select doc_id,
                 cast(('0x' || substr(md5(tok), 1, 15)) as bigint) as h
          from tok),
    v as (select doc_id, {_SIMHASH_VOTES} from h group by doc_id)
    select doc_id, cast({_SIMHASH_FP} as bigint) as simhash from v
"""


def q_embedding_near_dups(spark, sf_dir):
    """LSH-bucketed cosine near-dup pairs.

    The sf embeddings fixture has no natural near-duplicates (max
    pairwise cosine ≈ 0.51 at sf0.01), so the query plants exact
    duplicates (vec_id+100000 for vec_id < 25). Identical vectors land
    in the same LSH bucket by construction (deterministic sign
    projection), so recall on the planted pairs is exactly 1 and the
    output is SQL-stateable: the DuckDB oracle computes the full
    brute-force cosine≥0.9 pair set over the same augmented frame.
    Jittered (non-identical) near-dup recall is pinned separately in
    tests/test_text_dedup.py against a numpy brute-force oracle."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(planted)
    return SIM.embedding_near_dup_pairs(aug, threshold=0.9, n_planes=6)


SQL_EMBEDDING_NEAR_DUPS = """
    with aug as (
      select vec_id, embedding from embeddings
      union all
      select vec_id + 100000 as vec_id, embedding
      from embeddings where vec_id < 25
    ),
    p as (select a.vec_id as id_a, b.vec_id as id_b,
                 round(list_cosine_similarity(a.embedding, b.embedding), 6)
                   as cosine
          from aug a join aug b on a.vec_id < b.vec_id)
    select id_a, id_b, cast(cosine as double) as cosine
    from p where cosine >= 0.9
"""


def q_ivf_search(spark, sf_dir):
    """The IVF SEARCH path under a full value oracle: coarse centroids
    fixed deterministically (the first four embeddings), so bucket
    assignment (argmin, first-min tie-break), probe selection (two
    nearest lists to the query) and the in-list cosine top-k are all
    restatable in SQL. k-means TRAINING stays an iterative algorithm —
    covered by q_ivf_ann (rows-only) + tests/test_ivf.py recall."""
    from .operators.similarity import ivf_ann

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id") < 4).orderBy("vec_id").select("embedding").collect()
    )
    cents = [[float(x) for x in r[0]] for r in cent_rows]
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ivf_ann(emb, qv, cents, k=10, n_probe=2).select("vec_id", "score")


SQL_IVF_SEARCH = """
    with c as (select vec_id as cid, embedding as cv
               from embeddings where vec_id < 4),
    q as (select embedding as qv from embeddings where vec_id = 0),
    d as (select e.vec_id, c.cid,
            list_sum(list_transform(list_zip(e.embedding, c.cv),
                x -> (cast(x[1] as double) - cast(x[2] as double))
                   * (cast(x[1] as double) - cast(x[2] as double)))) as dist
          from embeddings e cross join c),
    assign as (select vec_id, cid,
                 row_number() over (partition by vec_id
                                    order by dist, cid) as rn
               from d),
    bucket as (select vec_id, cid as b from assign where rn = 1),
    qd as (select cid,
             list_sum(list_transform(list_zip((select qv from q), cv),
                 x -> (cast(x[1] as double) - cast(x[2] as double))
                    * (cast(x[1] as double) - cast(x[2] as double)))) as dist
           from c),
    probe as (select cid from qd order by dist, cid limit 2),
    s as (select e.vec_id,
            list_sum(list_transform(list_zip(e.embedding, (select qv from q)),
                x -> cast(x[1] as double) * cast(x[2] as double)))
            / (sqrt(list_sum(list_transform(e.embedding,
                 x -> cast(x as double) * cast(x as double))))
               * (select sqrt(list_sum(list_transform(qv,
                    x -> cast(x as double) * cast(x as double)))) from q))
              as score
          from embeddings e
          join bucket b on b.vec_id = e.vec_id
          where b.b in (select cid from probe))
    select vec_id, round(score, 6) as score
    from s order by score desc, vec_id limit 10
"""


def q_ivf_ann(spark, sf_dir):
    """IVF-bucketed ANN: driver-iterated k-means coarse quantizer (an
    iterative algorithm — not SQL-expressible; rows-only check, exact
    recall asserted vs brute force in tests/test_ivf.py)."""
    from .operators.similarity import ivf_ann, train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = train_ivf_centroids(emb, k=4, iters=3)
    return ivf_ann(emb, qv, cents, k=10, n_probe=2)


def q_multimodal_meta(spark, sf_dir):
    """Binary-column decode plumbing via mapInPandas (deterministic fake
    decoder, the only one; a real codec would swap in at _fake_decode).

    The fake decoder derives dims from the sha256 of the payload
    (functions/multimodal.py:_fake_decode), which DuckDB can restate
    byte-for-byte — so the whole mapInPandas path gets a real value
    oracle. The feature vector (array<float>) is reduced to its
    dimension here because the driver's canonicalizer sorts columns
    pandas-side and list cells are unhashable; feature *values* are
    pinned in tests/test_text_dedup.py."""
    from .functions.multimodal import decode_media

    d = _t(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8")
    ).withColumn("doc_key", F.col("doc_id").cast("string"))
    meta = decode_media(d, id_col="doc_key", bytes_col="payload", kind="image")
    return meta.select(
        "media_id", "kind", "n_bytes", "width", "height", "n_frames",
        F.size("feature").alias("feature_dim"),
    )


def q_multimodal_ann(spark, sf_dir):
    """The binary -> decode -> feature -> ANN path END-TO-END (round-3
    VERDICT #8): documents' text bytes become media payloads, planted
    exact-duplicate payloads (doc_id+100000 for doc_id < 25) flow
    through decode_media's mapInPandas fake decoder into 16-dim feature
    vectors, and embedding_near_dup_pairs finds the duplicate pairs via
    LSH-bucketed cosine. Identical payloads give identical features
    (the fake decode is a pure function of the bytes), which land in
    the same LSH bucket by construction — recall on exact dups is 1 and
    the output equals the brute-force cosine>=0.999 pair set, which the
    DuckDB oracle states from sha256 arithmetic (byte k of the digest
    /255 = feature k). Threshold calibrated against the fixture: max
    NON-duplicate pair cosine is 0.964 at sf0.01 / 0.989 at sf0.1
    (sha256 features are uniform positives, so random-pair cosine
    concentrates near 0.75 — at larger corpora a 16-dim fake-feature
    threshold this tight would need re-probing; real embedding dims
    don't share the problem)."""
    from .functions.multimodal import decode_media

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "payload"
    )
    # ONE fan-out exchange after the union (the sf documents table is a
    # single parquet split — without it the whole mapInPandas decode
    # runs in one Python worker; a repartition inside `d` would run
    # twice, once per union branch, PLANS §13)
    aug = (
        d.unionByName(planted)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("doc_key", F.col("doc_id").cast("string"))
    )
    meta = decode_media(aug, id_col="doc_key", bytes_col="payload", kind="image")
    feats = meta.select(
        F.col("media_id").cast("bigint").alias("vec_id"),
        F.col("feature").alias("embedding"),
    )
    feats = register(feats.cache())
    # the pair op reads feats 3x (dim probe + both join sides)
    # — without the cache the Python decode re-runs each time
    # center_rows: sha256 features are positive-only (near-diagonal),
    # which collapses raw sign-LSH onto a few huge buckets (1.4M
    # candidate pairs at sf0.1); per-row mean-centering before the
    # projection rebalances to ~uniform 2^planes cells with IDENTICAL
    # output — only exact-duplicate pairs clear the 0.999 threshold,
    # and identical vectors still share every bucket.
    # SCALE-AWARE plane count: cells must grow with the corpus or
    # per-bucket pair volume grows quadratically (at 50k docs a fixed
    # 2^8 grid costs ~4.8M candidate pairs and 22.8 s; 2^14 the same
    # 105-pair output in 7.0 s, round-4 measurement). Target ~4 docs
    # per cell; exact-dup recall is plane-count-independent (identical
    # vectors share every bucket), and at the driver's sf0.01 (525
    # docs) the formula reproduces the original 8 planes, so the
    # oracle-parity regime is byte-unchanged.
    n_docs = feats.count()  # one job over the already-cached frame
    planes = max(8, math.ceil(math.log2(max(n_docs, 2) / 4)))
    return SIM.embedding_near_dup_pairs(
        feats, threshold=0.999, n_planes=planes, center_rows=True
    )


_MM_FEAT = ", ".join(
    f"cast(('0x' || substr(hx, {2 * k + 1}, 2)) as int)/255.0"
    for k in range(16)
)
SQL_MULTIMODAL_ANN = f"""
    with aug as (
      select doc_id, text from documents
      union all
      select doc_id + 100000 as doc_id, text from documents where doc_id < 25
    ),
    h as (select doc_id, sha256(text) as hx from aug),
    f as (select doc_id, list_value({_MM_FEAT}) as v from h),
    p as (select a.doc_id as id_a, b.doc_id as id_b,
                 round(list_cosine_similarity(a.v, b.v), 6) as cosine
          from f a join f b on a.doc_id < b.doc_id)
    select id_a, id_b, cast(cosine as double) as cosine
    from p where cosine >= 0.999
"""


# sha256-derived fake-decode restated in SQL: byte k of the digest is
# hex pair [2k+1, 2k+2] of DuckDB's sha256() hex string
SQL_MULTIMODAL_META = """
    with h as (select cast(doc_id as varchar) as media_id,
                      sha256(text) as hx,
                      octet_length(encode(text)) as n_bytes
               from documents)
    select media_id, 'image' as kind, cast(n_bytes as bigint) as n_bytes,
           cast(64 + cast(('0x' || substr(hx, 1, 2)) as int) % 192 as int) as width,
           cast(64 + cast(('0x' || substr(hx, 3, 2)) as int) % 192 as int) as height,
           cast(1 + cast(('0x' || substr(hx, 5, 2)) as int) % 32 as int) as n_frames,
           cast(16 as int) as feature_dim
    from h
"""


# Exactly 50 entries: the round-2 driver recorded only the first 50
# QUERIES positions in CORRECTNESS_r02.json (ivf_search/approx_distinct/
# ivf_ann — positions 51-53 — got no row at all), so round 3 consolidated
# cube+rollup+grouping_sets → grouped_agg, pii_redact+repetition_stats
# → text_signals, and punct_stopword+quality_score → text_quality (the
# last freeing a slot for decontaminate). Every operator still runs; the
# two rows-only entries (HLL sketch, iterative k-means) sit LAST so all
# 48 value oracles land inside the cap. Keep it ≤50 when adding queries.
QUERIES = {
    "route_counts": (q_route_counts, SQL_ROUTE_COUNTS),
    "parse_insert": (q_parse_insert, SQL_PARSE_INSERT),
    "parse_update": (q_parse_update, SQL_PARSE_UPDATE),
    "parse_delete": (q_parse_delete, SQL_PARSE_DELETE),
    "rowid_incarnation": (q_rowid_incarnation, SQL_ROWID_INCARNATION),
    "latest_value": (q_latest_value, SQL_LATEST_VALUE),
    "pk_unique_basic": (q_pk_unique_basic, SQL_PK_UNIQUE_BASIC),
    "pk_sticky_overlap": (q_pk_sticky_overlap, SQL_PK_STICKY_OVERLAP),
    "monotonicity": (q_monotonicity, SQL_MONOTONICITY),
    "pk_name_heuristic": (q_pk_name_heuristic, SQL_PK_NAME_HEURISTIC),
    "ind_subset": (q_ind_subset, SQL_IND_SUBSET),
    "undirected_dedup": (q_undirected_dedup, SQL_UNDIRECTED_DEDUP),
    "entity_edges": (q_entity_edges, SQL_ENTITY_EDGES),
    "enrich_broadcast": (q_enrich_broadcast, SQL_ENRICH_BROADCAST),
    "root_buckets": (q_root_buckets, SQL_ROOT_BUCKETS),
    "trace_collect": (q_trace_collect, SQL_TRACE_COLLECT),
    "xes_events": (q_xes_events, SQL_XES_EVENTS),
    "xes_trace_xml": (q_xes_trace_xml, SQL_XES_TRACE_XML),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "schema_discovery": (q_schema_discovery, SQL_SCHEMA_DISCOVERY),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "bpe_tokens": (q_bpe_tokens, SQL_BPE_TOKENS),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "ann_cosine": (q_ann_cosine, SQL_ANN_COSINE),
    "topk_docs": (q_topk_docs, SQL_TOPK_DOCS),
    "grouped_agg": (q_grouped_agg, SQL_GROUPED_AGG),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "pivot": (q_pivot, SQL_PIVOT),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "percentiles": (q_percentiles, SQL_PERCENTILES),
    "running_window": (q_running_window, SQL_RUNNING_WINDOW),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "sampling": (q_sampling, SQL_SAMPLING),
    "multimodal_ann": (q_multimodal_ann, SQL_MULTIMODAL_ANN),
    "token_pack": (q_token_pack, SQL_TOKEN_PACK),
    "strip_boilerplate": (q_strip_boilerplate, SQL_STRIP_BOILERPLATE),
    "text_signals": (q_text_signals, SQL_TEXT_SIGNALS),
    "dedup_components": (q_dedup_components, SQL_DEDUP_COMPONENTS),
    "minhash_pairs": (q_minhash_pairs, SQL_MINHASH_PAIRS),
    "embedding_near_dups": (q_embedding_near_dups, SQL_EMBEDDING_NEAR_DUPS),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "simhash": (q_simhash, SQL_SIMHASH),
    "ivf_search": (q_ivf_search, SQL_IVF_SEARCH),
    # rows-only (no SQL oracle; see docstrings)
    "approx_distinct": (q_approx_distinct, None),
    "ivf_ann": (q_ivf_ann, None),
}
