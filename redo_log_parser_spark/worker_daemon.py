"""PySpark worker daemon that preloads the parse kernel's libraries.

`session.LOCAL_CONFS` names this module as `spark.python.daemon.module`
on a local master and turns worker reuse off: every Python task forks
from this process and exits when its task ends. The imports below run
once, in the daemon, so a forked worker starts with pandas, pyarrow and
the kernel already loaded. Nothing is computed before the fork (see
`session.py`).
"""

import pandas  # noqa: F401
import pyarrow  # noqa: F401

import redo_log_parser_spark.functions.parse  # noqa: F401
from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
