"""Expected results, computed with DuckDB outside the timed region.

Query digests come from the registry's own oracle SQL
(``lakeflow.registry.oracle_sql``); the medallion expectation applies the
workload's upsert batch to the oracle's silver claims and runs the
``claims_summary`` oracle over the result. Both are normalised with the
rule of ``tests/oracle_harness.normalize`` (columns by name, rows sorted,
floats rounded to 9 places) and cached in ``perfbench/.data``, keyed by
``bench.testdata_fingerprint``. They are computed in a child process
(``compute``), so DuckDB's memory never shows in the benchmark's own peak
RSS, whether or not the cache already held them.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def digest(rows: list[tuple], cols: list[str]) -> dict:
    """Row count and order-insensitive value hash of one result."""
    from tests.oracle_harness import normalize

    norm = normalize([tuple(r) for r in rows], list(cols))
    text = json.dumps(norm, default=str, separators=(",", ":"))
    return {"rows": len(norm), "digest": hashlib.md5(text.encode()).hexdigest()}


def fingerprint(data_dir: str) -> str:
    from bench import testdata_fingerprint

    fp = testdata_fingerprint(data_dir)
    return hashlib.md5(json.dumps(fp, sort_keys=True).encode()).hexdigest()


def check_testdata(data_dir: str) -> str | None:
    """None if ``data_dir`` holds the seed-42 test data whose
    ``bench.testdata_fingerprint`` is recorded in testdata/FINGERPRINT.json."""
    from bench import testdata_fingerprint

    with open(os.path.join(HERE, "testdata", "FINGERPRINT.json")) as fh:
        recorded = json.load(fh)
    name = os.path.basename(data_dir)
    if name not in recorded or not os.path.isdir(data_dir):
        return f"no test data {name} (have {', '.join(sorted(recorded))})"
    if testdata_fingerprint(data_dir) != recorded[name]:
        return f"{data_dir} differs from the recorded seed-42 test data fingerprint"
    return None


def query_digests(data_dir: str, names: tuple[str, ...]) -> dict[str, dict]:
    from lakeflow.registry import oracle_sql
    from tests.oracle_harness import duck_connection

    sql = oracle_sql()
    con = duck_connection(data_dir)
    out = {}
    for name in names:
        rel = con.execute(sql[name])
        out[name] = digest(rel.fetchall(), [c[0] for c in rel.description])
    con.close()
    return out


def medallion_expected(data_dir: str, silver_slice: str, batch_sql: str) -> dict:
    """Row counts and gold digest of the medallion round: the oracle's
    silver claims restricted to ``silver_slice``, then upserted with
    ``batch_sql`` (a query over the table ``silver0``)."""
    from lakeflow.claims import ORACLE_CTE
    from lakeflow.registry import oracle_sql
    from tests.oracle_harness import duck_connection

    sql = oracle_sql()
    summary_body = sql["q_claims_summary"][len(ORACLE_CTE):]
    con = duck_connection(data_dir)
    con.execute(f"CREATE TABLE silver0 AS SELECT * FROM ({sql['q_silver_pipeline']}) WHERE {silver_slice}")
    con.execute(f"CREATE TABLE batch AS {batch_sql}")
    con.execute(
        "CREATE TABLE silver1 AS SELECT * FROM silver0 "
        "WHERE claim_id NOT IN (SELECT claim_id FROM batch) "
        "UNION ALL SELECT * FROM batch"
    )
    con.execute("CREATE VIEW claims AS SELECT * FROM silver1")
    rel = con.execute(summary_body)
    gold = digest(rel.fetchall(), [c[0] for c in rel.description])
    counts = {
        t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        for t in ("silver0", "batch", "silver1")
    }
    con.close()
    return {
        "silver_rows": counts["silver0"],
        "batch_rows": counts["batch"],
        "rows_after": counts["silver1"],
        "gold": gold,
    }


def definition_key(*parts: str) -> str:
    """Short hash of the SQL an expectation was computed from, so a
    changed oracle or batch definition never reads a stale cache entry."""
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:12]


def compute(kind: str, *args: str) -> dict:
    """``query_digests`` or ``medallion_expected`` run in a child process
    started from the working directory (the repository root)."""
    proc = subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), kind, *args],
                          capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"oracle {kind} failed: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def cached(cache_path: str, key: str, kind: str, *args: str) -> dict:
    """``compute(kind, *args)`` memoised under ``key`` in a JSON file (atomic)."""
    store = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            store = json.load(fh)
    if key not in store:
        store[key] = compute(kind, *args)
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = f"{cache_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(store, fh, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return store[key]


if __name__ == "__main__":
    sys.path[:0] = [os.getcwd(), HERE]
    kind, data_dir, *rest = sys.argv[1:]
    if kind == "queries":
        result = query_digests(data_dir, tuple(rest))
    else:
        result = medallion_expected(data_dir, *rest)
    print(json.dumps(result))
