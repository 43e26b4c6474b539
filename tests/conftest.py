import ast
import contextlib
import importlib.util
import io
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from redo_log_parser_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: corpus-scale tests (~1 min each); deselect with -m 'not slow'",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rlps-tests", master="local[4]", confs={
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "4g",
    })
    yield s
    s.stop()


@pytest.fixture(scope="session")
def mini_docs_pdf():
    from redo_log_parser_spark.fixtures import mini_log_documents

    return mini_log_documents()


@pytest.fixture(scope="session")
def mini_docs(spark, mini_docs_pdf):
    return spark.createDataFrame(mini_docs_pdf).cache()


@pytest.fixture(scope="session")
def persisted_rdd_ids(spark):
    """() -> ids of the currently persisted RDDs. Leak checks compare id
    sets, not counts: the ContextCleaner may reclaim an earlier test's
    cache mid-test, which lowers a count but never adds an id."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet())


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """(group, fn) -> (fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="module")
def cli(spark):
    """Call `jobs/run_pipeline.py`'s main() in this process, on the test
    session; returns the dict it printed last. `cli.module` is the
    loaded CLI module, `cli.stdout` the last run's whole stdout."""
    spec = importlib.util.spec_from_file_location(
        "run_pipeline_cli", os.path.join(REPO, "jobs", "run_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.get_spark = lambda *a, **k: spark

    def run(*argv):
        buf, saved = io.StringIO(), sys.argv
        sys.argv = ["run_pipeline.py", *argv]
        try:
            with contextlib.redirect_stdout(buf):
                assert mod.main() == 0
        finally:
            sys.argv = saved
            run.stdout = buf.getvalue()
        return ast.literal_eval(buf.getvalue().strip().splitlines()[-1])

    run.module = mod
    return run
