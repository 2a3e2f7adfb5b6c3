"""Per-layer measurement from outside the program.

Three sources, all read from the benchmark process:

* spans — wrappers installed on public functions of the ``lakeflow``
  modules (and a few counters on their helpers), kept in memory as
  (name, start, end, parent, op) and written out with self times;
* Spark's REST monitoring API on the driver UI (``/jobs``, ``/stages``,
  ``/sql/<id>?details=true``, ``/storage/rdd``), read right after every
  operation because the UI keeps only the last 1,000 jobs, stages and
  SQL executions;
* the query-planning tracker of each query's own ``QueryExecution``
  (Catalyst analysis / optimisation / physical planning).

``NullTracer`` is the untraced stand-in: the same interface, no work.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import threading
import time
import urllib.request
from collections import defaultdict

# Per-layer metrics this module produces, in BENCHMARK.json order.
LAYER_METRICS = {
    "registry.build_s": "s",
    "plancache.hit_ratio": "ratio",
    "plancache.miss_build_s": "s",
    "io.read_table_s": "s",
    "io.fanout_persists": "count",
    "claims.silver_build_s": "s",
    "catalyst.analyze_s": "s",
    "catalyst.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.sched_delay_s": "s",
    "spark.outside_jobs_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.cpu_util": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_s": "s",
    "exec.fetch_wait_s": "s",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_bytes": "bytes",
    "op.codegen_s": "s",
    "op.agg_s": "s",
    "op.sort_s": "s",
    "op.scan_s": "s",
    "op.broadcast_build_s": "s",
    "op.broadcast_bytes": "bytes",
    "op.exchanges": "count",
    "op.python_s": "s",
    "op.python_boot_s": "s",
    "op.python_bytes_sent": "bytes",
    "cache.mem_bytes": "bytes",
    "cache.disk_bytes": "bytes",
    "cache.rows_read": "count",
    "mem.peak_rss_mb": "MB",
    "avrolite.codec_s": "s",
    "txlog.write_s": "s",
    "txlog.upsert_s": "s",
    "txlog.read_s": "s",
    "txlog.compact_s": "s",
    "txlog.vacuum_s": "s",
    "txlog.commits": "count",
    "txlog.commit_retries": "count",
    "txlog.files_added": "count",
    "txlog.files_removed": "count",
    "txlog.log_bytes": "bytes",
    "iceberg.append_s": "s",
    "iceberg.upsert_s": "s",
    "iceberg.read_s": "s",
    "iceberg.expire_s": "s",
    "iceberg.snapshots": "count",
    "iceberg.manifests": "count",
    "iceberg.data_files": "count",
    "iceberg.metadata_bytes": "bytes",
    "storage.bytes_per_row": "B/row",
    "quality.suite_s": "s",
    "views.gold_s": "s",
    "pipeline.overhead_s": "s",
    "host.load1": "load",
    "host.steal_s": "s",
    "trace.overhead_ratio": "ratio",
    "jvm.jit_cpu_s": "s",
    "client.setup_s": "s",
    "client.wall_s": "s",
    "client.op_p50_s": "s",
    "client.op_tail_s": "s",
    "client.op_cpu_p50_s": "s",
}

# span name -> per-layer time metric it sums into
SPAN_METRICS = {
    "registry.build": "registry.build_s",
    "plancache.miss_build": "plancache.miss_build_s",
    "io.read_table": "io.read_table_s",
    "claims.silver_claims": "claims.silver_build_s",
    "avrolite.write_container": "avrolite.codec_s",
    "avrolite.read_container": "avrolite.codec_s",
    "txlog.write": "txlog.write_s",
    "txlog.upsert_by_key": "txlog.upsert_s",
    "txlog.read": "txlog.read_s",
    "txlog.compact": "txlog.compact_s",
    "txlog.vacuum": "txlog.vacuum_s",
    "iceberg.append": "iceberg.append_s",
    "iceberg.upsert_by_key": "iceberg.upsert_s",
    "iceberg.read": "iceberg.read_s",
    "iceberg.expire_snapshots": "iceberg.expire_s",
    "quality.evaluate_suite_file": "quality.suite_s",
    "views.gold": "views.gold_s",
}

# (SQL-plan node name or None for any node, node metric) -> per-layer
# metric, summed over nodes; the Python-worker metrics exist only on the
# Python evaluation nodes (ArrowEvalPython, MapInPandas, ...)
_NODE_METRICS = (
    ("WholeStageCodegen", "duration", "op.codegen_s"),
    ("HashAggregate", "time in aggregation build", "op.agg_s"),
    ("Sort", "sort time", "op.sort_s"),
    ("Scan", "scan time", "op.scan_s"),
    ("BroadcastExchange", "time to build", "op.broadcast_build_s"),
    ("BroadcastExchange", "data size", "op.broadcast_bytes"),
    ("InMemoryTableScan", "number of output rows", "cache.rows_read"),
    (None, "time to run Python workers", "op.python_s"),
    (None, "time to start Python workers", "op.python_boot_s"),
    (None, "data sent to Python workers", "op.python_bytes_sent"),
)

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric_value(text: str) -> float:
    """Total of one SQL-UI metric string, in seconds for times and bytes
    for sizes: ``"total (min, med, max)\\n12.0 ms (...)"`` → 0.012,
    ``"1,234"`` → 1234."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1)


def _epoch(ts: str | None) -> float | None:
    """Spark REST timestamp (``2026-10-17T03:20:00.123GMT``) → epoch s."""
    if not ts:
        return None
    return dt.datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def begin_op(self, op_id: str) -> None:
        pass

    def end_op(self, op_id: str, start: float, end: float) -> None:
        pass

    def count(self, name: str, n: float = 1) -> None:
        pass

    def catalyst(self, df) -> None:
        pass

    def plan(self, op_id: str, df) -> None:
        pass


class Tracer(NullTracer):
    """Spans, counters and REST samples for one traced run."""

    enabled = True

    def __init__(self, spark) -> None:
        self.ui = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId
        self.spans: list[dict] = []
        self.counters: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.ops: list[dict] = []
        self.plans: dict[str, dict] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: str | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_sql = -1

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1] if stack else None, "op": self._op}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(args, result)
            return result

        wrapper.__wrapped__ = original
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[self._op][name] += n

    def install(self) -> None:
        """Hook the lakeflow layers named in BENCHMARK.json's per_layer list.
        Spark work the UI already holds belongs to no traced operation."""
        self._drain()
        from lakeflow import avrolite, claims, iceberg, io, pipeline, plancache, quality, txlog

        original_tier = plancache.tier
        tracer = self

        def tier(spark, key, build):
            missed = []

            def timed_build():
                missed.append(True)
                with tracer.span("plancache.miss_build"):
                    return build()

            df = original_tier(spark, key, timed_build)
            tracer.count("plancache.misses" if missed else "plancache.hits")
            return df

        self._patches.append((plancache, "tier", original_tier))
        plancache.tier = tier

        self.wrap(io, "read_table", "io.read_table")
        self.wrap(io, "_maybe_fan_out", "io.fan_out",
                  on_result=lambda a, r: r is not a[1] and self.count("io.fanout_persists"))
        self.wrap(claims, "silver_claims", "claims.silver_claims")
        self.wrap(claims, "claims_raw", "claims.claims_raw")
        for meth in ("write", "upsert_by_key", "read", "compact", "vacuum"):
            self.wrap(txlog.TxTable, meth, f"txlog.{meth}")
        self.wrap(txlog.TxTable, "_try_commit", "txlog.try_commit",
                  on_result=lambda a, ok: self.count("txlog.commits" if ok else "txlog.commit_retries"))
        for meth in ("create", "append", "upsert_by_key", "read", "expire_snapshots"):
            self.wrap(iceberg.IcebergTable, meth, f"iceberg.{meth}")
        self.wrap(avrolite, "write_container", "avrolite.write_container")
        self.wrap(avrolite, "read_container", "avrolite.read_container")
        self.wrap(quality, "evaluate_suite_file", "quality.evaluate_suite_file")
        self.wrap(pipeline.Pipeline, "run", "pipeline.run")

    # --------------------------------------------------------- catalyst
    def catalyst(self, df) -> None:
        """Force the query's analysis and planning and read its planning
        tracker; the action that follows executes this same plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        got = {}
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            got[kv._1()] = kv._2().durationMs() / 1000.0
        self.count("catalyst.analyze_s", got.get("analysis", 0.0))
        self.count("catalyst.plan_s", got.get("optimization", 0.0) + got.get("planning", 0.0))

    def plan(self, op_id: str, df) -> None:
        """``lakeflow.metrics.plan_metrics`` of the query's executed plan,
        kept per operation beside the REST sample as a cross-check."""
        from lakeflow.metrics import plan_metrics

        self.plans[op_id] = plan_metrics(df)

    # ------------------------------------------------------------- REST
    def _get(self, path: str):
        url = f"{self.ui}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def _drain(self) -> dict:
        """Read jobs, stages and SQL executions not seen before."""
        jobs = [j for j in self._get("jobs") if j["jobId"] not in self._seen_jobs]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        stages = [
            s for s in self._get("stages")
            if s["status"] in ("COMPLETE", "FAILED")
            and (s["stageId"], s["attemptId"]) not in self._seen_stages
        ]
        self._seen_stages.update((s["stageId"], s["attemptId"]) for s in stages)
        sql = []
        listing = self._get("sql?details=false&length=1000000")
        for ex in listing:
            if ex["id"] > self._seen_sql and ex.get("status") != "RUNNING":
                sql.append(self._get(f"sql/{ex['id']}?details=true"))
        if sql:
            self._seen_sql = max(ex["id"] for ex in sql)
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def begin_op(self, op_id: str) -> None:
        self._op = op_id

    def end_op(self, op_id: str, start: float, end: float) -> None:
        """Attribute the Spark work since the last call to ``op_id``."""
        self._op = None
        got = self._drain()
        rec = {"op": op_id, "start": start, "end": end, "layers": defaultdict(float)}
        lay = rec["layers"]
        intervals = []
        for j in got["jobs"]:
            lay["spark.jobs"] += 1
            a, b = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if a is not None and b is not None:
                intervals.append((max(a, start), min(b, end)))
        lay["spark.outside_jobs_s"] += max(0.0, (end - start) - _union_length(
            [(a, b) for a, b in intervals if b > a]))
        for s in got["stages"]:
            lay["spark.stages"] += 1
            lay["spark.tasks"] += s.get("numTasks", 0)
            lay["spark.tasks_failed"] += s.get("numFailedTasks", 0)
            sub, first = _epoch(s.get("submissionTime")), _epoch(s.get("firstTaskLaunchedTime"))
            if sub is not None and first is not None:
                lay["spark.sched_delay_s"] += max(0.0, first - sub)
            lay["exec.run_s"] += s.get("executorRunTime", 0) / 1e3
            lay["exec.cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            lay["exec.gc_s"] += s.get("jvmGcTime", 0) / 1e3
            lay["exec.shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            lay["exec.shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            lay["exec.shuffle_write_s"] += s.get("shuffleWriteTime", 0) / 1e9
            lay["exec.fetch_wait_s"] += s.get("shuffleFetchWaitTime", 0) / 1e3
            lay["exec.input_bytes"] += s.get("inputBytes", 0)
            lay["exec.spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            lay["exec.peak_exec_mem_bytes"] = max(
                lay["exec.peak_exec_mem_bytes"], s.get("peakExecutionMemory", 0))
        for ex in got["sql"]:
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "")
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if name.startswith("Exchange") and "Broadcast" not in name:
                    lay["op.exchanges"] += 1
                for prefix, metric, key in _NODE_METRICS:
                    # node names carry suffixes: "WholeStageCodegen (3)", "Scan parquet"
                    node_ok = prefix is None or name == prefix or name.startswith(prefix + " ")
                    if node_ok and metric in metrics:
                        lay[key] += parse_metric_value(metrics[metric])
        storage = self._get("storage/rdd")
        lay["cache.mem_bytes"] = sum(r.get("memoryUsed", 0) for r in storage)
        lay["cache.disk_bytes"] = sum(r.get("diskUsed", 0) for r in storage)
        self.ops.append(rec)

    # ---------------------------------------------------------- summary
    def self_times(self) -> list[dict]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            out.append({**s, "duration": dur, "self": dur - child[s["id"]]})
        return out

    def layer_totals(self, ops: set[str]) -> dict[str, float]:
        """Sum spans, counters and REST samples over the operations in
        ``ops`` (the measured ones)."""
        tot: dict[str, float] = defaultdict(float)
        for rec in self.ops:
            if rec["op"] not in ops:
                continue
            for k, v in rec["layers"].items():
                if k in ("exec.peak_exec_mem_bytes", "cache.mem_bytes", "cache.disk_bytes"):
                    tot[k] = max(tot[k], v)
                else:
                    tot[k] += v
        for op in ops:
            for k, v in self.counters.get(op, {}).items():
                tot[k] += v
        for s in self.spans:
            key = SPAN_METRICS.get(s["name"])
            if key and s["op"] in ops and s["end"] is not None:
                tot[key] += s["end"] - s["start"]
        return tot
