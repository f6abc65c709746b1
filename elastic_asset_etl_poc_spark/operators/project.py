"""Projection operators (reference §2.2: P1-P4).

The reference never fetches ``_source``; it projects named fields
server-side (``_source: false`` + ``fields:`` —
lib/collectServicesFromSummaries.ts:23-28).  Spark-side this is
``df.select`` and Catalyst column pruning: the parquet ``ReadSchema``
should list only the projected columns.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project_rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P1/P3: projection + rename (hit → typed row,
    lib/collectServicesFromSummaries.ts:58-70).  One ``selectExpr``: one
    JVM call, not two per column."""
    return df.selectExpr(*[f"`{src}` AS `{dst}`" for src, dst in mapping.items()])


def wildcard_select(df: DataFrame, *patterns: str, extra: list[str] | None = None) -> DataFrame:
    """P2: wildcard projection (``host.*``, ``container.*`` —
    lib/collectServicesFromSummaries.ts:196, lib/collectServices.ts:27).

    Glob-style ``*`` on column names, resolved against the DataFrame schema
    at plan time (still plain column pruning underneath).
    """
    cols: list[str] = list(extra or [])
    for pat in patterns:
        rx = re.compile("^" + re.escape(pat).replace(r"\*", ".*") + "$")
        cols.extend(c for c in df.columns if rx.match(c) and c not in cols)
    return df.select(*[F.col(f"`{c}`") for c in cols])


def array_head(col: str | Column) -> Column:
    """P4: ``singleItem(x) = x?.[0]`` — the fields-API returns every field
    as an array of values (lib/collectServicesFromSummaries.ts:114-119).

    Fixture signals are scalar (SURVEY.md §1.4 decision); this exists for
    array-shaped inputs and is a null-safe head: ``try_element_at`` — plain
    ``element_at`` throws on empty arrays under ANSI mode, but the
    reference's ``x?.[0]`` yields undefined.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_element_at(c, F.lit(1))
