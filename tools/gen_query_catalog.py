#!/usr/bin/env python3
"""Regenerate QUERIES.md: every driver-visible query, its check mode
(oracle hash vs rows-only with the reason), and its one-line story,
pulled from the suite docstrings.  The index of the whole `queries()`
surface.  Rows are sorted by query name, not in the driver's
stale-first `queries()` order (which moves as the suite grows), so a
regeneration on an unchanged tree rewrites the file byte for byte."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark import suite

    qs, osql = e.queries(), e.oracle_sql()
    out = [
        "# Query catalog — the full `queries()` surface\n",
        f"{len(qs)} queries; {len(osql)} hash-checked against DuckDB oracle SQL,",
        f"{len(qs) - len(osql)} rows-only (reason in the entry).  Regenerate with",
        "`python3 tools/gen_query_catalog.py`.\n",
        "| query | check | summary |",
        "|---|---|---|",
    ]
    for name in sorted(qs):
        fn = suite.queries()[name]
        doc = (fn.__doc__ or "").strip().split("\n\n")[0]
        doc = " ".join(line.strip() for line in doc.splitlines())
        if len(doc) > 220:
            doc = doc[:217] + "..."
        mode = "oracle" if name in osql else "rows-only"
        out.append(f"| `{name}` | {mode} | {doc} |")
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote QUERIES.md ({len(qs)} queries)")


if __name__ == "__main__":
    main()
