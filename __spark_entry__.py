"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``lakeflow`` package; this module is a
thin adapter over lakeflow.registry.

The session is the caller's, so its Python workers need not see this
directory: ``sys.path`` below fixes only the driver process. Every
entry point therefore first ships the package to the session's workers
as a zip on its Python path (once per SparkContext).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from lakeflow import registry  # noqa: E402

QueryFn = Callable[[SparkSession, str], DataFrame]


def _ship_package(spark: SparkSession) -> None:
    """Make ``lakeflow`` importable in the session's Python workers."""
    sc = spark.sparkContext
    if "lakeflow.zip" in sc._python_includes:
        return
    tmp = tempfile.mkdtemp(prefix="lakeflow-pyfiles-")
    atexit.register(shutil.rmtree, tmp, True)
    sc.addPyFile(shutil.make_archive(os.path.join(tmp, "lakeflow"), "zip", ROOT, "lakeflow"))


def _shipping(fn: QueryFn) -> QueryFn:
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1-shaped pricing
    summary over lineitem (SURVEY.md §7.1)."""
    _ship_package(spark)
    return registry.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, QueryFn]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _shipping(fn) for name, fn in registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return registry.oracle_sql()
