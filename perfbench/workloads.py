"""The benchmark's two workloads, driven through lakeflow's public API.

Each pass starts with ``spark.catalog.clearCache()`` and
``plancache.clear(spark)`` while the JVM stays warm, so every pass misses
the program's own caches. The first pass of a run is a warm-up (JIT, code
generation, Python-worker start) and is not timed.

``query_cold`` — the 18 ``bench.BENCH_QUERIES`` headline queries, in an
  order the seed permutes anew for each pass. One operation = build the
  query through the registry, then fetch all its rows as Arrow; its row
  count and value digest are then compared with the DuckDB oracle outside
  the timed region.

``medallion_write`` — one bronze → silver → gold round through
  ``pipeline.Pipeline`` in a fresh directory: one service year of silver
  claims to ``TxTable.write`` and ``IcebergTable.create``/``append``
  (partitioned by service_year, service_month), a seeded ``upsert_by_key``
  on both, gold ``views.claims_summary`` read back from each table, the
  silver quality suite on each table, then ``TxTable.compact`` + ``vacuum``
  and ``IcebergTable.expire_snapshots``. One operation = one pipeline
  stage. After the round, outside the timed region, the table contents are
  checked (``MedallionWrite.verify``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from bench import BENCH_QUERIES

PARTITION_BY = ("service_year", "service_month")
SUITE = os.path.join("lakeflow", "suites", "silver_claims.json")
# One service year of silver claims per medallion round: twelve table
# partitions, so a round's file count (and its per-file log and manifest
# work) stays that of a yearly batch load.
SILVER_SLICE = "service_year = 2025"
# The seeded upsert batch, one SQL text for both engines: claims whose
# numeric id falls in residue class ``seed mod 89`` get claim_amount + 1,
# the next class comes back under a new id (an insert).
UPSERT_MOD = 89


def batch_sql(table: str, seed: int) -> str:
    from lakeflow.registry import SILVER_COLS

    upd, ins = seed % UPSERT_MOD, (seed + 1) % UPSERT_MOD
    cls = f"CAST(substr(claim_id, 4) AS BIGINT) % {UPSERT_MOD}"
    cols = [c.strip() for c in SILVER_COLS.split(",")]
    updated = ", ".join("claim_amount + 1.0 AS claim_amount" if c == "claim_amount" else c for c in cols)
    inserted = ", ".join("concat(claim_id, '-N') AS claim_id" if c == "claim_id" else c for c in cols)
    return (
        f"SELECT {updated} FROM {table} WHERE {cls} = {upd} "
        f"UNION ALL SELECT {inserted} FROM {table} WHERE {cls} = {ins}"
    )


def clear_caches(spark) -> None:
    from lakeflow import plancache

    spark.catalog.clearCache()
    plancache.clear(spark)


class Op:
    """One timed operation: latency, the program's CPU time over it (and
    the JIT compiler's share of that), outcome and (traced) REST sample."""

    def __init__(self, tracer, op_id: str, name: str, clock) -> None:
        self.tracer, self.id, self.name, self.clock = tracer, op_id, name, clock
        self.ok, self.error, self.seconds, self.trace_s = False, None, 0.0, 0.0
        self.cpu_s = self.jit_s = 0.0

    def __enter__(self):
        self.tracer.begin_op(self.id)
        self._cpu0 = self.clock.read()
        self._wall = time.time()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        self.seconds = time.perf_counter() - self._t0
        cpu, jit = self.clock.read()
        self.cpu_s, self.jit_s = cpu - self._cpu0[0], jit - self._cpu0[1]
        self.tracer.end_op(self.id, self._wall, time.time())
        self.trace_s = time.perf_counter() - self._t0 - self.seconds
        if exc is not None:
            first_line = (str(exc).splitlines() or [""])[0]
            self.ok, self.error = False, f"{exc_type.__name__}: {first_line[:300]}"
        return True  # a failing operation is recorded, not raised

    def record(self) -> dict:
        return {"op": self.id, "name": self.name, "s": self.seconds, "cpu_s": self.cpu_s,
                "jit_s": self.jit_s, "trace_s": self.trace_s,
                "ok": self.ok, "error": self.error}


def _value_check(table, want: dict) -> str | None:
    """None if the Arrow result matches the oracle's count and digest."""
    from oracle import digest

    got = digest([tuple(r.values()) for r in table.to_pylist()], table.column_names)
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != oracle {want['rows']}"
    if got["digest"] != want["digest"]:
        return f"value digest {got['digest']} != oracle {want['digest']}"
    return None


class QueryCold:
    name = "query_cold"

    def __init__(self, spark, data_dir: str, seed: int, expected: dict, builders: dict,
                 clock) -> None:
        self.spark, self.data_dir, self.seed, self.clock = spark, data_dir, seed, clock
        self.expected, self.builders = expected, builders

    def run_pass(self, tracer, index: int, check: bool = True) -> tuple[list[dict], dict]:
        order = list(BENCH_QUERIES)
        random.Random(f"{self.seed}:{index}").shuffle(order)
        clear_caches(self.spark)
        ops = []
        check_s = 0.0
        for name in order:
            with Op(tracer, f"{index}:{name}", name, self.clock) as op:
                with tracer.span("registry.build"):
                    df = self.builders[name](self.spark, self.data_dir)
                tracer.catalyst(df)
                table = df.toArrow()
                op.ok = True
            t0 = time.perf_counter()
            if op.ok and check:
                tracer.plan(op.id, df)
                op.error = _value_check(table, self.expected[name])
                op.ok = op.error is None
            ops.append(op.record())
            check_s += time.perf_counter() - t0
        return ops, {"check_s": check_s}


def _dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _normalised_report(results) -> list[tuple]:
    """Quality report with float observations rounded like the oracle
    rule; the summation order of a mean differs between table layouts."""
    out = []
    for r in results:
        key, _, val = r.observed.partition("=")
        try:
            val = repr(round(float(val), 9))
        except ValueError:
            pass
        out.append((r.expectation_type, r.column, r.success, key, val))
    return out


class MedallionWrite:
    name = "medallion_write"

    def __init__(self, spark, data_dir: str, seed: int, expected: dict, work_dir: str,
                 clock, inject: tuple[str, ...] = ()) -> None:
        self.spark, self.data_dir, self.seed, self.clock = spark, data_dir, seed, clock
        self.expected, self.work_dir, self.inject = expected, work_dir, inject

    def run_pass(self, tracer, index: int, check: bool = True) -> tuple[list[dict], dict]:
        from lakeflow import claims, quality, views
        from lakeflow.iceberg import IcebergTable
        from lakeflow.pipeline import Pipeline
        from lakeflow.txlog import TxTable

        spark = self.spark
        root = os.path.join(self.work_dir, f"round-{index}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        delta = TxTable(os.path.join(root, "delta"))
        ice = IcebergTable(os.path.join(root, "iceberg"))
        clear_caches(spark)
        ops: dict[str, dict] = {}
        out: dict[str, object] = {}

        def stage(name, fn, deps=()):
            def run(up):
                with Op(tracer, f"{index}:{name}", name, self.clock) as op:
                    result = fn(up)
                    op.ok = True
                ops[name] = op.record()
                if not op.ok:
                    raise RuntimeError(op.error or "failed")
                out[name] = result
                return result

            pipe.stage(name, depends_on=deps)(run)

        def silver(up):
            df = claims.silver_claims(spark, self.data_dir).where(SILVER_SLICE)
            df.createOrReplaceTempView("perfbench_silver")
            # one file per table partition, as a partitioned write is
            # normally clustered; the fan-out tier has CPUS partitions
            return df.repartition(*PARTITION_BY)

        def write_iceberg(up):
            ice.create(up["silver"].schema, partition_by=PARTITION_BY)
            return ice.append(up["silver"])

        def gold(table):
            def run(up):
                with tracer.span("views.gold"):
                    return views.claims_summary(table.read(spark)).toArrow()

            return run

        def dq(table):
            return lambda up: quality.evaluate_suite_file(table.read(spark), SUITE)

        def maintain_delta(up):
            delta.compact(spark)
            delta.vacuum()

        pipe = Pipeline()
        stage("silver", silver)
        stage("write_delta", lambda up: delta.write(up["silver"], partition_by=PARTITION_BY), ("silver",))
        stage("write_iceberg", write_iceberg, ("silver",))
        stage("batch", lambda up: spark.sql(batch_sql("perfbench_silver", self.seed)), ("silver",))
        stage("upsert_delta", lambda up: delta.upsert_by_key(spark, up["batch"], ("claim_id",)),
              ("write_delta", "batch"))
        stage("upsert_iceberg", lambda up: ice.upsert_by_key(spark, up["batch"], ("claim_id",)),
              ("write_iceberg", "batch"))
        stage("gold_delta", gold(delta), ("upsert_delta",))
        stage("gold_iceberg", gold(ice), ("upsert_iceberg",))
        stage("quality_delta", dq(delta), ("upsert_delta",))
        stage("quality_iceberg", dq(ice), ("upsert_iceberg", "quality_delta"))
        stage("maintain_delta", maintain_delta, ("gold_delta", "quality_delta"))
        stage("maintain_iceberg", lambda up: ice.expire_snapshots(retain_last=1, orphan_grace_s=0.0),
              ("gold_iceberg", "quality_iceberg"))

        t0 = time.perf_counter()
        runs = pipe.run()
        wall = time.perf_counter() - t0
        for name, run in runs.items():
            if run.status == "skipped":
                ops[name] = {"op": f"{index}:{name}", "name": name, "s": 0.0, "cpu_s": 0.0,
                             "jit_s": 0.0, "ok": False, "error": "skipped: upstream stage failed"}
        extras = {"pipeline.overhead_s": wall - sum(o["s"] + o.get("trace_s", 0.0)
                                                    for o in ops.values())}
        t0 = time.perf_counter()
        for name, err in (self.verify(delta, ice, out) if check else {}).items():
            if err and ops[name]["ok"]:
                ops[name].update(ok=False, error=err)
        extras.update(_table_stats(delta, ice, self.expected["rows_after"]))
        spark.catalog.dropTempView("perfbench_silver")
        shutil.rmtree(root, ignore_errors=True)
        extras["check_s"] = time.perf_counter() - t0
        return list(ops.values()), extras

    def verify(self, delta, ice, out: dict) -> dict[str, str | None]:
        """Check the table contents the round produced, after it: silver's
        row count, each table's rows and gold after the upsert, the quality
        reports (identical on both tables, counting the oracle's rows), and
        both tables read back after maintenance. Stage name -> error."""
        exp, errors = self.expected, {}

        def check(name: str, fn) -> None:
            if name not in out:
                return
            try:
                errors[name] = fn()
            except Exception as e:  # a read-back that raises is a wrong result
                errors[name] = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"

        def silver():
            n = self.spark.table("perfbench_silver").count()
            return None if n == exp["silver_rows"] else f"silver rows {n} != oracle {exp['silver_rows']}"

        def gold(table):
            err = _value_check(table, exp["gold"])
            return err and f"gold {err}"

        def quality(name):
            report = _normalised_report(out[name])
            rows = [r[4] for r in report if r[0] == "expect_table_row_count_to_be_between"]
            if rows != [repr(round(float(exp["rows_after"]), 9))]:
                return f"quality row count {rows} != oracle {exp['rows_after']}"
            other = out.get("quality_delta")
            if name == "quality_iceberg" and other is not None and _normalised_report(other) != report:
                return "quality reports differ between tables"
            return None

        def read_back(table):
            from lakeflow import views

            df = table.read(self.spark)
            n = df.count()
            if n != exp["rows_after"]:
                return f"rows after maintenance {n} != oracle {exp['rows_after']}"
            err = _value_check(views.claims_summary(df).toArrow(), exp["gold"])
            return err and f"gold after maintenance {err}"

        for target in self.inject:
            if target == "drop-file:delta" and "maintain_delta" in out:
                os.remove(os.path.join(delta.path, next(iter(delta.snapshot().files))))
            if target == "drop-file:iceberg" and "maintain_iceberg" in out:
                os.remove(ice.local_path(ice.scan_files()[0]["file_path"]))
        check("silver", silver)
        check("gold_delta", lambda: gold(out["gold_delta"]))
        check("gold_iceberg", lambda: gold(out["gold_iceberg"]))
        check("quality_delta", lambda: quality("quality_delta"))
        check("quality_iceberg", lambda: quality("quality_iceberg"))
        check("maintain_delta", lambda: read_back(delta))
        check("maintain_iceberg", lambda: read_back(ice))
        return errors


def _table_stats(delta, ice, live_rows: int) -> dict:
    """On-disk shape of both tables after maintenance, read from files."""
    stats = {}
    log_dir = delta.log_dir
    if os.path.isdir(log_dir):
        commits = [f for f in os.listdir(log_dir) if f.endswith(".json") and f[:1].isdigit()
                   and not f.endswith(".checkpoint.json")]
        adds = removes = 0
        for f in commits:
            with open(os.path.join(log_dir, f)) as fh:
                for line in fh:
                    action = json.loads(line)
                    adds += "add" in action
                    removes += "remove" in action
        stats.update({
            "txlog.files_added": adds,
            "txlog.files_removed": removes,
            "txlog.log_bytes": _dir_bytes(log_dir),
        })
    meta_dir = ice.metadata_dir
    if os.path.isdir(meta_dir):
        files = os.listdir(meta_dir)
        meta = ice.load_metadata()
        stats.update({
            "iceberg.snapshots": len(meta.get("snapshots", [])),
            "iceberg.manifests": sum(f.endswith(".avro") and not f.startswith("snap-") for f in files),
            "iceberg.data_files": sum(
                f.endswith(".parquet") for _, _, fs in os.walk(ice.data_dir) for f in fs),
            "iceberg.metadata_bytes": _dir_bytes(meta_dir),
        })
    if os.path.isdir(delta.path) and os.path.isdir(ice.path) and live_rows:
        data = _dir_bytes(delta.path, skip=(os.path.basename(log_dir),)) + _dir_bytes(ice.data_dir)
        stats["storage.bytes_per_row"] = data / live_rows
    return stats
