"""Property-based parity fuzzing: for ANY statement the pandas kernel
and the pure-Python oracle must agree — including hostile values where
the reference's split-based parsing mangles the payload (commas inside
insert values, ' and ' inside delete values, ' = ' inside updates). We
reproduce the mangling bit-for-bit, not fix it."""

import pandas as pd
from hypothesis import given, settings, strategies as st

from redo_log_parser_spark import oracle
from redo_log_parser_spark.config import PipelineConfig
from redo_log_parser_spark.functions.parse import parse_record_batch

CFG = PipelineConfig()

# value alphabet deliberately includes the characters that interact with
# the reference's regex/split semantics
value_chars = st.text(
    alphabet=list("abcXYZ019 _-.,=()'\"") + ["&", "<", ">"],
    min_size=0, max_size=12,
)
ident = st.text(alphabet=list("ABCDEFID_"), min_size=1, max_size=8)
table = st.sampled_from(['"S"."T1"', '"S"."T2"', '"SYS"."LONG_NAME"'])
rowid = st.text(alphabet=list("ABC123"), min_size=1, max_size=18)


@st.composite
def insert_stmt(draw):
    t = draw(table)
    n = draw(st.integers(1, 4))
    cols = [draw(ident) for _ in range(n)]
    vals = [draw(value_chars) for _ in range(n)]
    col_s = ",".join(f'"{c}"' for c in cols)
    val_s = ",".join(f"'{v}'" for v in vals)
    return f"insert into {t}({col_s}) values ({val_s});"


@st.composite
def update_stmt(draw):
    t = draw(table)
    a = draw(ident)
    new = draw(value_chars)
    old = draw(value_chars)
    r = draw(rowid)
    return f'update {t} set "{a}" = \'{new}\' where "{a}" = \'{old}\' and ROWID = \'{r}\';'


@st.composite
def delete_stmt(draw):
    t = draw(table)
    n = draw(st.integers(1, 3))
    preds = " and ".join(
        f'"{draw(ident)}" = \'{draw(value_chars)}\'' for _ in range(n)
    )
    r = draw(rowid)
    return f"delete from {t} where {preds} and ROWID = '{r}';"


statement = st.one_of(insert_stmt(), update_stmt(), delete_stmt())


@st.composite
def record(draw):
    stmt = draw(statement)
    r = draw(rowid)
    pad = " " * draw(st.integers(0, 3))
    return f"{stmt}\n{r} {pad}21-JUL-2020 16:29:41{pad}"


@settings(max_examples=300, deadline=None)
@given(st.lists(record(), min_size=1, max_size=8))
def test_kernel_equals_oracle_on_random_records(records):
    got = parse_record_batch(pd.Series(records), CFG.ts_format_java)
    for i, rec in enumerate(records):
        g = got.iloc[i]
        try:
            w = oracle.parse_records([rec], CFG)[0]
        except Exception:
            assert g["parse_error"] is not None, rec
            continue
        assert g["parse_error"] is None, (rec, g["parse_error"])
        assert g["op"] == w.op, rec
        assert g["table_id"] == w.table_id, rec
        assert g["row_id"] == w.row_id, rec
        if w.op == "insert":
            assert list(g["insert_cols"]) == w.insert_cols, rec
            assert list(g["insert_vals"]) == w.insert_vals, rec
        elif w.op == "update":
            assert (g["upd_attr"], g["upd_new"], g["upd_old"]) == (
                w.upd_attr, w.upd_new, w.upd_old), rec
        else:
            assert list(g["delete_cols"]) == w.delete_cols, rec
            assert list(g["delete_vals"]) == w.delete_vals, rec
