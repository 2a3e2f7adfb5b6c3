"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke and fault-injection cases launch ``perfbench/run.py`` on the
shipped sf0.001 test data (about a minute each on a 4-core host). A run
with ``--seconds 0`` makes the warm-up pass, which fails only on an
operation that raises, and ``run.MIN_PASSES`` timed passes, which are
checked: one of the 18 queries, one medallion round of 12 stages.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402
import run as bench_run  # noqa: E402


def launch(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.relpath(HERE, ROOT), "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return proc.returncode, result, proc.stderr


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
        [w["name"] for w in spec["workloads"]],
    )


def test_declared_metrics_match_the_code():
    e2e, per_layer, workloads = _declared()
    assert e2e == bench_run.END_TO_END
    assert per_layer == layers.LAYER_METRICS
    assert tuple(workloads) == bench_run.WORKLOADS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", bench_run.WORKLOADS)
def test_smoke_prints_every_metric(workload, trace):
    rc, result, err = launch("--workload", workload, "--seed", "3", "--seconds", "0",
                             "--trace", str(trace))
    assert rc == 0, err[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    e2e, per_layer, _ = _declared()
    want = per_layer if trace else e2e
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fault_injection_fails_the_run():
    rc, result, err = launch("--workload", "query_cold", "--seed", "0", "--seconds", "0",
                             "--inject", "digest:q_cube",
                             "--inject", "raise:q_tpch_q1")
    assert rc != 0
    assert result["correct"] is False
    # the builder raises in both passes, the digest is compared in one
    assert result["failed"] == 2 + 1 and result["attempted"] == 2 * 18
    assert "injected failure in q_tpch_q1" in err and "q_cube" in err


def test_fault_injection_medallion_gold_digest():
    rc, result, err = launch("--workload", "medallion_write", "--seed", "0", "--seconds", "0",
                             "--inject", "digest:gold")
    assert rc != 0
    # gold after the upsert and gold read back after maintenance, both tables
    assert result["correct"] is False and result["failed"] == 4
    for stage in ("gold_delta", "gold_iceberg", "maintain_delta", "maintain_iceberg"):
        assert f"{stage}: gold" in err


@pytest.mark.parametrize("table", ["delta", "iceberg"])
def test_fault_injection_lost_data_file(table):
    rc, result, err = launch("--workload", "medallion_write", "--seed", "0", "--seconds", "0",
                             "--inject", f"drop-file:{table}")
    assert rc != 0
    assert result["correct"] is False and result["failed"] == 1
    assert f"maintain_{table}" in err


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".work", ".out", "__pycache__"))
    rc, result, _ = launch("--workload", "query_cold", "--seed", "0", "--seconds", "1",
                           cwd=str(tmp_path))
    assert rc != 0 and result is None


def test_tail_percentile():
    assert bench_run.tail([3.0, 1.0, 2.0]) == (3.0, "p100")
    xs = [float(i) for i in range(40)]
    value, pct = bench_run.tail(xs)
    assert value == 29.0 and sum(x > value for x in xs) == 10 and pct == "p75.0"


def test_tree_cpu_counts_child_processes():
    import cpu

    before = cpu.tree_cpu_s(os.getpid())
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ninput()"
    child = subprocess.Popen([sys.executable, "-c", busy], stdin=subprocess.PIPE)
    try:
        for _ in range(100):
            if cpu.tree_cpu_s(child.pid) >= 0.3:
                break
            time.sleep(0.05)
        assert cpu.tree_cpu_s(os.getpid()) - before >= 0.3
    finally:
        child.communicate(b"\n", timeout=30)


def test_cpu_clock_keeps_the_ticks_of_stopped_jit_threads(monkeypatch):
    import cpu

    seen = iter([{(7, 1): 100, (8, 2): 50}, {(7, 1): 120}, {(7, 1): 120, (8, 9): 5}])
    monkeypatch.setattr(cpu, "jit_thread_ticks", lambda pid: next(seen))
    monkeypatch.setattr(cpu, "tree_cpu_s", lambda pid: 10.0)
    clock = cpu.Clock(jvm_pid=1)
    assert [clock.read()[1] * cpu.TICK for _ in range(3)] == pytest.approx([150, 170, 175])


def test_sql_metric_parsing():
    assert layers.parse_metric_value("total (min, med, max (stageId: taskId))\n"
                                     "12.0 ms (0.0 ms, 1.0 ms, 3.0 ms (stage 3.0: task 12))") == 0.012
    assert layers.parse_metric_value("1,234") == 1234
    assert layers.parse_metric_value("total\n2.0 KiB (1.0 KiB)") == 2048
    assert layers.parse_metric_value("total\n1.5 s (0.1 s)") == 1.5


def test_shipped_testdata_matches_its_fingerprint():
    import oracle

    assert oracle.check_testdata(bench_run.DATA_DIR) is None
    assert oracle.check_testdata(os.path.join(HERE, "testdata", "sf0.1")) is not None
