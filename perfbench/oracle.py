"""Correctness check: Spark output against its DuckDB ``oracle_sql()`` twin.

Same rule as the repo's oracle gate: equal column sets, equal row counts,
and equal order-insensitive values with floats rounded to 6 places.  The
gate script itself is not imported because it pins the import path to one
fixed checkout; this module only reads the corpus it is given.
"""

from __future__ import annotations

import math

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def connect(corpus_dir: str):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet/*.parquet')"
        )
    return con


def normalize(rows, columns) -> list[str]:
    """Sort columns by name, then rows; stringify with float rounding."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, bool):
                vals.append(f"b:{int(v)}")
            elif isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.6f}")
            elif v is None:
                vals.append("∅")
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def mismatch(con, sql: str, columns: list[str], rows: list[tuple]) -> str | None:
    """None when ``rows`` (with ``columns``) equal the oracle's result."""
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(columns) != sorted(ocols):
        return f"columns differ: {sorted(columns)} vs oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"row count {len(rows)} vs oracle {len(orows)}"
    if normalize(rows, columns) != normalize(orows, ocols):
        return "values differ"
    return None
