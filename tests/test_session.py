"""Session defaults: on a local master, Python workers live for one task
and fork from a daemon that has the parse kernel loaded; `lower()` folds
case as the JDK's `String.toLowerCase` does."""

import os
import sys
import time
import types

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from redo_log_parser_spark import session
from redo_log_parser_spark.functions.parse import parse_documents

needs_proc = pytest.mark.skipif(not os.path.isdir("/proc/self"),
                                reason="reads the process tree from /proc")


def _processes() -> dict[int, tuple[int, bytes]]:
    """pid -> (parent pid, command line) of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        out[int(d)] = (int(stat[stat.rindex(")") + 2:].split()[1]), cmd)
    return out


def _daemons_and_workers() -> tuple[list[int], list[int]]:
    """The PySpark daemons below this process, and their forked workers
    (a worker has its daemon's command line)."""
    procs = _processes()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = [], [os.getpid()]
    while todo:
        below = kids.get(todo.pop(), [])
        tree += below
        todo += below
    python = [p for p in tree if b"pyspark.worker" in procs[p][1]]
    workers = [p for p in python if procs[procs[p][0]][1] == procs[p][1]]
    return [p for p in python if p not in workers], workers


@needs_proc
def test_no_python_worker_outlives_its_task(spark, mini_docs):
    assert parse_documents(mini_docs).filter(
        F.col("parse_error").isNull()).count() > 0
    deadline = time.monotonic() + 5
    while True:
        daemons, workers = _daemons_and_workers()
        if not workers or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    assert daemons, "no PySpark daemon below the driver"
    assert workers == []


@needs_proc
def test_daemon_preloads_the_parse_kernel(spark):
    # defined inside the test, so cloudpickle ships it by value and the
    # worker imports nothing of the package to run it; the daemon (the
    # worker's parent) must have pyarrow mapped too, since a reused
    # worker could hold the kernel from an earlier task of its own
    @pandas_udf("boolean")
    def preloaded(x: pd.Series) -> pd.Series:
        with open(f"/proc/{os.getppid()}/maps") as fh:
            daemon_has_arrow = "libarrow" in fh.read()
        loaded = "redo_log_parser_spark.functions.parse" in sys.modules
        return pd.Series([loaded and daemon_has_arrow] * len(x))

    rows = spark.range(0, 16, numPartitions=4).select(
        preloaded("id").alias("p")).collect()
    assert all(r.p for r in rows)


def test_daemon_confs_only_for_a_local_master(monkeypatch):
    # a cluster's daemon starts before --py-files reach sys.path, so it
    # could not import worker_daemon: only local sessions get it.
    # Under spark-submit (`submitted`: the master its launcher wrote
    # into the JVM's conf) that master stands, whatever get_spark is
    # passed, and local-cluster's executors are separate JVMs.
    class Builder:
        def __init__(self):
            self.confs = {}

        def appName(self, _):
            return self

        def master(self, m):
            self.confs["master"] = m
            return self

        def config(self, k, v):
            self.confs[k] = v
            return self

        def getOrCreate(self):
            return self.confs

    def confs(submitted=None, **kw):
        monkeypatch.setattr(session, "SparkSession",
                            types.SimpleNamespace(builder=Builder()))
        if submitted:
            monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
            monkeypatch.setattr(session, "SparkContext", types.SimpleNamespace(
                _ensure_initialized=lambda: None))
            monkeypatch.setattr(session, "SparkConf",
                                lambda: {"spark.master": submitted})
        else:
            monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
        return session.get_spark(**kw)

    for local in (confs(), confs(master="local[2]"), confs("local[2]"),
                  confs("local[*]", master="spark://h:7077")):
        assert session.LOCAL_CONFS.items() <= local.items()
    for cluster in (confs(master="spark://h:7077"), confs("yarn"),
                    confs(master="local-cluster[2,1,1024]"),
                    confs("local-cluster[2,1,1024]", master="local[2]")):
        assert not session.LOCAL_CONFS.keys() & cluster.keys()
    assert "master" not in confs("local[2]", master="local[4]")
    assert confs(master="local[2]")["master"] == "local[2]"
    assert confs(master="local[2]")["spark.python.worker.reuse"] == "false"


def test_lower_is_the_jdks_to_lower_case(spark):
    battery = ["ΑΣ", "ΟΔΟΣ ΑΣ.", "ΑΣΑ", "Σ", "İ", "İSTANBUL", "ẞ", "STRAẞE",
               "ǅ", "ǄǅǆǇ", "ﬀ", "ＡＢＣ", "KELVIN \u212a", "ABC def_12 XyZ"]
    # cased since Unicode 14 (U+A7C0, U+10570) and 16 (U+A7CC): Spark's
    # ICU case mappings (ICU 77, Unicode 16) lower them, and so does
    # Python 3.11 for the first two; the JDK's String.toLowerCase, which
    # the reference's Scala `toLowerCase` calls, leaves them as they are
    # up to JDK 17 (Unicode 13)
    newer = ["\ua7c0", "\U00010570", "\ua7cc"]
    df = spark.createDataFrame([(v,) for v in battery + newer], "v string")
    got = [r[0] for r in df.select(F.lower("v")).collect()]
    # StringUtils.lowerCase(s) is s.toLowerCase() in the driver's JVM
    jdk_lower = spark._jvm.org.apache.commons.lang3.StringUtils.lowerCase
    assert got == [jdk_lower(v) for v in battery + newer]
    assert got[:len(battery)] == [v.lower() for v in battery]
