"""Skew hardening: the one-shuffle trace collect must survive a hot case
(one entity owning most events) and still produce correct ordering."""

import re
from collections import Counter

import pandas as pd
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from redo_log_parser_spark.operators.traces import collect_traces


@pytest.fixture(scope="module")
def hot_case(spark):
    t0 = datetime(2020, 1, 1)
    rows = []
    # one hot case with 50k events, 50 cold cases with 10 each
    for i in range(50_000):
        rows.append(("HOT", f"e{i:06d}", t0 + timedelta(seconds=i)))
    for c in range(50):
        for i in range(10):
            rows.append((f"c{c}", f"x{c}_{i}", t0 + timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["case_id", "event_name", "ts"])
    pdf["url"] = [f"u{j:07d}" for j in range(len(pdf))]
    return spark.createDataFrame(pdf).repartition(16)


def test_collect_handles_hot_case(hot_case):
    traces = collect_traces(
        hot_case.withColumn("xes_ts", F.lit("t")),
        event_cols=("event_name",),
    )
    rows = {r["case_id"]: r["events"] for r in traces.collect()}
    assert len(rows) == 51
    hot = rows["HOT"]
    assert len(hot) == 50_000
    # ordering survived the partial/final merge: strictly increasing ts order
    names = [e["event_name"] for e in hot]
    assert names == sorted(names)
    assert all(len(rows[f"c{c}"]) == 10 for c in range(50))


def _exchanges(df) -> list[str]:
    """Partitionings of the Exchange nodes in df's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"Exchange (\w+\([^)]*\))", plan)


def test_collect_plans_one_shuffle(hot_case):
    """collect_traces adds exactly one Exchange to its input's plan, a
    hash partitioning on case_id (the partial collect_list runs map-side
    before it)."""
    traces = collect_traces(
        hot_case.withColumn("xes_ts", F.lit("t")), event_cols=("event_name",)
    )
    added = Counter(_exchanges(traces)) - Counter(_exchanges(hot_case))
    added = list(added.elements())
    assert len(added) == 1, added
    assert re.match(r"hashpartitioning\(case_id#\d+, ", added[0]), added
