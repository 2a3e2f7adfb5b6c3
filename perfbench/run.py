#!/usr/bin/env python3
"""lakeflow benchmark: one workload, one client, closed loop.

Run from the repository root (Spark's Python workers import ``lakeflow``
from the working directory)::

    python3 perfbench/run.py --workload query_cold --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything else (host record, every
operation, spans with self times, per-operation Spark REST samples) goes
to ``perfbench/.out/<workload>-seed<n>-trace<t>.json``. The exit code is
0 only when every operation succeeded and returned the oracle's result.

Inputs: the seed-42 star-schema test data, shipped with the benchmark in
``perfbench/testdata/sf0.001`` and checked against the
``bench.testdata_fingerprint`` recorded next to it; the ``--seed``
argument permutes the operation order and picks the medallion upsert
batch. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = 4
# the shipped test data, 6,000 lineitem rows (bench.py reads sf0.1, 600k):
# a run is bounded by per-operation overhead at either scale, and a
# smaller input leaves time for a warm-up pass in every run
DATA_DIR = os.path.join(HERE, "testdata", "sf0.001")
# timed passes per run, at least; more while ``--seconds`` last. One pass
# of either workload outlasts ``run_seconds``: the session start and the
# warm-up leave room for no more in the run-time budget (README.md)
MIN_PASSES = 1
WORKLOADS = ("query_cold", "medallion_write")
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process was started (``/proc`` clock ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail(latencies: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; a run too
    short for that percentile to lie above the median reports its max."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return xs[-1], "p100"
    return xs[n - 11], f"p{100 * (n - 10) / n:.1f}"


def summarize(passes: list[dict]) -> dict:
    """Pass and operation figures over ``passes``: the program's CPU
    seconds (every thread of this process, the driver JVM and its Python
    workers; a pass's is the sum over its operations) and wall-clock
    latencies."""
    ops = [o for p in passes for o in p["ops"]]
    lat, cpu_s = [o["s"] for o in ops], [o["cpu_s"] for o in ops]
    tail_s, tail_pct = tail(lat)
    cpu_tail_s, _ = tail(cpu_s)
    return {
        "cpu_s": statistics.median(sum(o["cpu_s"] for o in p["ops"]) for p in passes),
        "jit_cpu_s": statistics.median(sum(o["jit_s"] for o in p["ops"]) for p in passes),
        "op_cpu_p50_s": statistics.median(cpu_s),
        "op_cpu_tail_s": cpu_tail_s,
        "wall_s": statistics.median(p["wall"] for p in passes),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "op_samples": len(lat),
        "op_tail_percentile": tail_pct,
    }


def source_digest(root: str) -> str:
    import hashlib

    h = hashlib.md5()
    for base, dirs, files in sorted(os.walk(os.path.join(root, "lakeflow"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith((".py", ".json", ".sql")):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject", action="append", default=[],
                   help="fault injection for the benchmark's own tests: "
                        "digest:<query> corrupts that query's expected digest "
                        "(digest:gold the medallion gold digest), "
                        "raise:<query> makes its builder raise, "
                        "drop-file:delta|iceberg deletes one live data file of that "
                        "table after the medallion round")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    try:
        import bench  # noqa: F401  (BENCH_QUERIES, testdata_fingerprint)
        import lakeflow  # noqa: F401
        from tests import oracle_harness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the lakeflow repository root ({e})", file=sys.stderr)
        return 2
    import oracle

    problem = oracle.check_testdata(DATA_DIR)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # no JVM perf-data files in /tmp: the run writes only inside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "load_before": list(os.getloadavg()),
        "python": platform.python_version(),
        "commit": git_commit(root),
        "lakeflow_source_md5": source_digest(root),
    }
    steal0 = steal_s()
    try:
        return run(args, root, work, DATA_DIR, host, steal0)
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)


def start_session(work: str):
    from lakeflow.session import get_session

    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def make_workload(args, spark, data_dir: str, work: str, clock):
    """The workload object with its oracle expectations (cached on disk)."""
    import bench
    import oracle
    import workloads
    from lakeflow import registry

    fp = oracle.fingerprint(data_dir)
    cache = os.path.join(HERE, ".data", "oracle.json")
    sql = registry.oracle_sql()
    if args.workload == "query_cold":
        key = oracle.definition_key(*(sql[q] for q in bench.BENCH_QUERIES))
        expected = oracle.cached(cache, f"{fp}:queries:{key}", "queries", data_dir,
                                 *bench.BENCH_QUERIES)
        expected = {k: dict(v) for k, v in expected.items()}
        builders = dict(registry.queries())
        for spec in args.inject:
            kind, _, name = spec.partition(":")
            if kind == "digest":
                expected[name]["digest"] = "0" * 32
            elif kind == "raise":
                def boom(spark, sf_dir, _name=name):
                    raise RuntimeError(f"injected failure in {_name}")

                builders[name] = boom
        return workloads.QueryCold(spark, data_dir, args.seed, expected, builders, clock), fp
    batch = workloads.batch_sql("silver0", args.seed)
    key = oracle.definition_key(batch, workloads.SILVER_SLICE, sql["q_silver_pipeline"],
                                sql["q_claims_summary"])
    expected = dict(oracle.cached(cache, f"{fp}:medallion:{key}", "medallion", data_dir,
                                  workloads.SILVER_SLICE, batch))
    if "digest:gold" in args.inject:
        expected["gold"] = {"rows": expected["gold"]["rows"], "digest": "0" * 32}
    return workloads.MedallionWrite(spark, data_dir, args.seed, expected,
                                    os.path.join(work, "tables"), clock, tuple(args.inject)), fp


def measure(args, spark, wl):
    """Run the passes. The first is a warm-up: it pays the JVM's JIT, code
    generation and the Python-worker start. It is neither timed nor checked
    (an operation that raises still fails the run); every later pass is
    checked.
    Untraced: then timed passes until ``--seconds`` have elapsed, at least
    ``MIN_PASSES``. Traced: then an untraced and a traced
    pass; the per-layer metrics come from the traced one,
    ``trace.overhead_ratio`` is the ratio of their walls."""
    import layers

    null = layers.NullTracer()
    passes: list[dict] = []

    def one_pass(tracer, measured: bool) -> float:
        if tracer.enabled:
            tracer.install()
        steal0 = steal_s()
        t0 = time.perf_counter()
        try:
            ops, extras = wl.run_pass(tracer, len(passes), check=bool(passes))
        finally:
            if tracer.enabled:
                tracer.unpatch()
        check_s = extras.pop("check_s", 0.0)
        wall = time.perf_counter() - t0 - check_s
        passes.append({"wall": wall, "check_s": check_s, "steal_s": steal_s() - steal0,
                       "ops": ops, "extras": extras, "traced": tracer.enabled,
                       "measured": measured})
        return wall

    one_pass(null, False)
    if not args.trace:
        t_end = time.perf_counter() + args.seconds
        timed = 0
        while timed < MIN_PASSES or time.perf_counter() < t_end:
            one_pass(null, True)
            timed += 1
        return passes, None, None
    untraced = one_pass(null, False)
    tracer = layers.Tracer(spark)
    return passes, tracer, one_pass(tracer, True) / untraced


def run(args, root, work, data_dir, host, steal0) -> int:
    import cpu
    import layers

    spark = start_session(work)
    # set-up as processor time, like ``cpu_s``; its wall clock goes with it
    setup_wall_s, setup_s = process_age_s(), cpu.tree_cpu_s(os.getpid())
    try:
        sc = spark.sparkContext
        import duckdb
        import pyarrow

        host.update({
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark": spark.version,
            "duckdb": duckdb.__version__,
            "pyarrow": pyarrow.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
        })
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        t0 = time.perf_counter()
        wl, host["testdata_md5"] = make_workload(args, spark, data_dir, work,
                                                 cpu.Clock(jvm_pid))
        host["oracle_s"] = time.perf_counter() - t0
        passes, tracer, overhead = measure(args, spark, wl)
        rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        host["stop_s"] = time.perf_counter() - t0
    host["load_after"] = list(os.getloadavg())
    host["steal_s"] = steal_s() - steal0

    all_ops = [o for p in passes for o in p["ops"]]
    failed = [o for o in all_ops if not o["ok"]]
    measured = [p for p in passes if p["measured"]]
    # the untraced pass of a traced run gives its latencies
    summary = summarize(measured if tracer is None else passes[1:2])
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "data_dir": os.path.relpath(data_dir, root), "host": host,
        "setup_s": setup_s, "setup_wall_s": setup_wall_s, "peak_rss_mb": rss_mb,
        "summary": summary,
        "passes": passes, "fail_ratio": len(failed) / max(1, len(all_ops)), "failures": failed,
    }
    if tracer is None:
        values = {"setup_s": setup_s, "cpu_s": summary["cpu_s"]}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    else:
        tot = tracer.layer_totals({o["op"] for p in measured for o in p["ops"]})
        for p in measured:
            for k, v in p["extras"].items():
                tot[k] += v
        hits, misses = tot.pop("plancache.hits", 0.0), tot.pop("plancache.misses", 0.0)
        tot["plancache.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        tot["exec.cpu_util"] = tot["exec.cpu_s"] / tot["exec.run_s"] if tot["exec.run_s"] else 0.0
        tot["mem.peak_rss_mb"] = rss_mb
        tot["host.load1"] = host["load_before"][0]
        tot["host.steal_s"] = host["steal_s"]
        tot["trace.overhead_ratio"] = overhead
        for k in ("wall_s", "op_p50_s", "op_tail_s", "op_cpu_p50_s"):
            tot[f"client.{k}"] = summary[k]
        tot["client.setup_s"] = setup_wall_s
        tot["jvm.jit_cpu_s"] = sum(o["jit_s"] for p in measured for o in p["ops"])
        metrics = {k: {"value": float(tot.get(k, 0.0)), "unit": u}
                   for k, u in layers.LAYER_METRICS.items()}
        detail.update({"spans": tracer.self_times(), "rest_by_op": tracer.ops,
                       "layer_counters": {str(k): v for k, v in tracer.counters.items()},
                       "plan_metrics": tracer.plans})
    detail["metrics"] = metrics

    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for o in failed:
        print(f"perfbench: FAILED {o['op']}: {o['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
