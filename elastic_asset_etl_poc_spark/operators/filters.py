"""Filter operators (reference §2.2: F1-F7).

The reference pushes every predicate into the ES Query DSL so the server
evaluates it (SURVEY.md §4); here each operator is a plain DataFrame filter
and Catalyst pushes it into the Parquet scan (check ``PushedFilters`` in
``df.explain("formatted")``).  Non-scoring ``bool.filter`` context needs no
analog — Spark predicates never score.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import date_math_lookback


def time_window(
    df: DataFrame,
    ts_col: str,
    now: datetime,
    amount: int,
    unit: str = "m",
) -> DataFrame:
    """F1: range filter with date math (``gte: now-10m``).

    Reference builds ``range: {'@timestamp': {gte: 'now-10m'}}`` with no
    upper bound (lib/collectServicesFromSummaries.ts:30-39); we add
    ``<= now`` so pinned-now runs are deterministic over fixtures.
    Both bounds are literals → parquet row-group min/max pruning applies.
    """
    lo, hi = date_math_lookback(now, amount, unit)
    c = F.col(f"`{ts_col}`")
    return df.filter((c >= lo) & (c <= hi))


def term(df: DataFrame, field: str, value) -> DataFrame:
    """F2: equality predicate (ES ``term``), e.g. metricset.name ==
    'service_summary' (lib/collectServicesFromSummaries.ts:40-47)."""
    return df.filter(F.col(f"`{field}`") == F.lit(value))


def terms(df: DataFrame, field: str, values: list) -> DataFrame:
    """F3: IN-list predicate (ES ``terms``,
    lib/collectServicesFromSummaries.ts:209-215).

    For *static* lists only.  When the list is the output of another query
    (phase 2's service names) use :func:`..operators.joins.semi_join_in_list`
    instead — it keeps the list distributed instead of collecting to the
    driver.
    """
    return df.filter(F.col(f"`{field}`").isin(*values))


def exists_all(df: DataFrame, *fields: str) -> DataFrame:
    """F4: conjunctive NOT-NULL (ES ``must: exists`` ×N,
    lib/collectPods.ts:46-57: pod.uid AND node.name)."""
    cond = F.lit(True)
    for f in fields:
        cond = cond & F.col(f"`{f}`").isNotNull()
    return df.filter(cond)


def exists_any(df: DataFrame, *fields: str) -> DataFrame:
    """F5: disjunction of exists (``should`` + ``minimum_should_match: 1``,
    lib/collectServicesFromSummaries.ts:216-238): at least one of the
    parent-candidate fields is present.  One SQL predicate, one JVM
    call."""
    return df.filter(" OR ".join(f"`{f}` IS NOT NULL" for f in fields))
