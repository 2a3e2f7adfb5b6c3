"""Silver-tier cleaning / enrichment operators.

Each cleaning rule of the reference's silver transform
(/root/reference/jobs/silver/claims_to_iceberg.py:45-88) is written once,
as a SQL-text fragment:

    filter notnull → trim → default-fill → clamp → multi-format date
    parse → date parts → value banding → cascading quality score →
    threshold filter

:func:`clean_claims_scored` parses the fragments JVM-side, one batch per
projection layer, instead of building hundreds of Column objects over
py4j (the cold construction cost drops ~5×). Pure Catalyst expressions —
no UDFs, and no exception-driven parsing, so the rules are safe under
ANSI mode (Spark 4 default); the reference ran Spark 3.4 where plain
``to_date`` already returned NULL on malformed input.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CLAIM_DATE_FORMATS = ("yyyy-MM-dd", "MM/dd/yyyy", "dd/MM/yyyy")


def _default_blank(col: str, default: str) -> str:
    """P3 — NULL/blank → default, else upper(trim)
    (claims_to_iceberg.py:54-56)."""
    return (
        f"CASE WHEN {col} IS NULL OR trim({col}) = '' THEN '{default}'"
        f" ELSE upper(trim({col})) END"
    )


def _clamp(col: str) -> str:
    """P4 — NULL or negative numeric → 0.0 (claims_to_iceberg.py:57-59)."""
    return f"CASE WHEN {col} IS NULL OR {col} < 0 THEN 0.0D ELSE {col} END"


def _fast_date_parse(col: str, fmt: str) -> str:
    """SQL text of an exception-free parse of ``col`` under a
    yyyy/MM/dd-shaped ``fmt`` (the three fields in any order, separated
    by ``-`` or ``/``); ValueError on any other format.

    Why: ``try_to_date(c, fmt)`` is exception-driven — every
    non-matching row throws and catches a JVM DateTimeException
    internally, which dominates multi-format fallback chains (each row
    fails all formats before its own). The compiled form rejects
    non-matching rows with a regex and validates field ranges with
    integer comparisons; the day is checked arithmetically against the
    month length, so ``make_date`` never sees an impossible date (this
    build has no try_make_date routine). Strictness matches try_to_date:
    exact width, no trimming.
    """
    tokens = re.findall(r"yyyy|MM|dd|.", fmt)
    if (
        len(tokens) != 5
        or sorted(tokens[::2]) != ["MM", "dd", "yyyy"]
        or not set(tokens[1::2]) <= {"-", "/"}
    ):
        raise ValueError(f"not a yyyy/MM/dd-shaped date format: {fmt!r}")
    pos, regex, field = 1, "^", {}
    for t in tokens:
        width = {"yyyy": 4, "MM": 2, "dd": 2}.get(t, 1)
        if width > 1:
            regex += rf"\\d{{{width}}}"
            field[t] = f"CAST(substring({col}, {pos}, {width}) AS INT)"
        else:
            regex += t
        pos += width
    y, m, d = field["yyyy"], field["MM"], field["dd"]
    return (
        f"CASE WHEN {col} RLIKE '{regex}$' THEN"
        f" (CASE WHEN ({m} BETWEEN 1 AND 12) AND ({d} BETWEEN 1 AND 31) THEN"
        f" (CASE WHEN {d} <= dayofmonth(last_day(make_date({y}, {m}, 1)))"
        f" THEN make_date({y}, {m}, {d}) END)"
        f" END) END"
    )


def not_null_filter(df: DataFrame, col: str) -> DataFrame:
    """P2 — drop rows with a NULL key column
    (claims_to_iceberg.py:51)."""
    return df.where(f"{col} IS NOT NULL")


def null_or_blank_to_default(df: DataFrame, col: str, default: str) -> DataFrame:
    """P3 as an operator (see :func:`_default_blank`)."""
    return df.withColumn(col, F.expr(_default_blank(col, default)))


def clamp_non_negative(df: DataFrame, col: str) -> DataFrame:
    """P4 as an operator (see :func:`_clamp`)."""
    return df.withColumn(col, F.expr(_clamp(col)))


def threshold_filter(df: DataFrame, col: str, minimum: float) -> DataFrame:
    """P5 — post-score quality gate (claims_to_iceberg.py:85)."""
    return df.filter(F.col(col) >= F.lit(minimum))


def clean_claims_scored(df: DataFrame) -> DataFrame:
    """The silver transform up to (and including) the quality score,
    WITHOUT the final quality gate — the shared chain both
    ``clean_claims`` and the gate-equivalence test build on, so the
    proof can never drift from the shipped transform.

    Input columns: claim_id, member_id, provider_name, claim_amount,
    service_date (string) (+ passthrough lineage columns, kept in
    place). Each layer is one ``withColumns`` batch of rule texts: the
    cleaned columns replace their inputs in place, the derived ones are
    appended (or replace a same-named input).
    """
    parse = ", ".join(_fast_date_parse("service_date", f) for f in CLAIM_DATE_FORMATS)
    clean = {
        # F1 trim (claims_to_iceberg.py:52-53)
        "claim_id": "trim(claim_id)",
        "member_id": "trim(member_id)",
        "provider_name": _default_blank("provider_name", "UNKNOWN"),
        "claim_amount": _clamp("claim_amount"),
        # F4 first-match multi-format date parse (claims_to_iceberg.py:60-63)
        "service_date": f"coalesce({parse})",
    }
    enrich = {
        # F5 date parts (claims_to_iceberg.py:67-69) — the physical
        # partition keys downstream (SURVEY.md §4 R3), so gold predicates
        # prune
        "service_year": "year(service_date)",
        "service_month": "month(service_date)",
        "service_day": "dayofmonth(service_date)",
        # P9 CASE-ladder banding (claims_to_iceberg.py:70-75)
        "claim_amount_category": "CASE WHEN claim_amount = 0 THEN 'ZERO'"
        " WHEN claim_amount <= 100.0D THEN 'LOW'"
        " WHEN claim_amount <= 1000.0D THEN 'MEDIUM'"
        " WHEN claim_amount <= 10000.0D THEN 'HIGH'"
        " ELSE 'VERY_HIGH' END",
        # P10 cascading quality score, first matching rule wins
        # (claims_to_iceberg.py:77-82)
        "data_quality_score": "CASE WHEN claim_id IS NULL THEN 0.0D"
        " WHEN member_id IS NULL THEN 0.3D"
        " WHEN service_date IS NULL THEN 0.5D"
        " WHEN claim_amount IS NULL OR claim_amount <= 0 THEN 0.7D"
        " ELSE 1.0D END",
    }
    return (
        not_null_filter(df, "claim_id")
        .withColumns({c: F.expr(e) for c, e in clean.items()})
        .withColumns({c: F.expr(e) for c, e in enrich.items()})
    )


def clean_claims(df: DataFrame) -> DataFrame:
    """Full silver transform — exact semantics of
    /root/reference/jobs/silver/claims_to_iceberg.py:45-88."""
    # The reference gate is threshold_filter(score >= 0.5)
    # (claims_to_iceberg.py:85). Under this rule ladder that predicate
    # is EXACTLY member_id IS NOT NULL: the only sub-0.5 scores are 0.0
    # (claim_id NULL — impossible after the claim_id filter) and 0.3
    # (member_id NULL); every other rung (0.5/0.7/1.0) passes. Filtering
    # on the raw column matters because PushDownPredicates would
    # otherwise substitute the whole score CASE — including the
    # multi-format date parse it references — into the Filter and push
    # it below the projections: every row then evaluates the full
    # derivation twice (a measured ~45 KB Filter expression; ~2× the
    # silver materialization cost). tests/test_transform.py proves the
    # two filters select identical rows.
    return not_null_filter(clean_claims_scored(df), "member_id")
