"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_align():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 40
    assert set(o) <= set(q)
    # the vast majority must be oracle-checked, not rows-only
    assert len(o) >= 0.8 * len(q)


def test_all_queries_return_dataframes(spark, sf_dir):
    # spot-check a few across families (full sweep is test_oracle_parity)
    for name in ("q_claims_summary", "q_tpch_q1", "q_knn_bruteforce"):
        df = entrymod.queries()[name](spark, sf_dir)
        assert df.columns


def test_python_udf_queries_run_from_another_cwd(tmp_path, sf_dir):
    """A driver loads this file by path into its own session, from any
    working directory and with no PYTHONPATH: the Python workers must
    still import ``lakeflow`` (they do not see the driver's sys.path)."""
    import os
    import subprocess
    import sys

    script = tmp_path / "drive.py"
    script.write_text(
        "import importlib.util, sys\n"
        "from pyspark.sql import SparkSession\n"
        "spec = importlib.util.spec_from_file_location('__spark_entry__', sys.argv[1])\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "print('ROWS', mod.queries()['q_knn_pandas'](spark, sys.argv[2]).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script), entrymod.__file__, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS " in out.stdout
    assert int(out.stdout.split("ROWS ")[1].split()[0]) > 0
