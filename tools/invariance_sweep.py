#!/usr/bin/env python3
"""Full-suite partition-count invariance sweep: run EVERY queries()
entry at 5 and 32 shuffle partitions (sf0.001) and diff normalized
rows.  tests/test_partition_invariance.py pins one query per risk
class in CI; this tool audits the whole surface and writes the
per-query verdict so 'deterministic across cluster sizes' is a checked
claim for all 200 queries, not a sampled one.

Queries that are themselves seed-fixed but ENVIRONMENT-bound (streaming
drains re-stage sources; memoized pair frames are built once per
session) still run — the session memo is cleared between partition
settings (``sources.registry.clear``), so both settings rebuild every
memoized artifact, mirroring the scale-smoke cold-cache discipline.

Usage: python3 tools/invariance_sweep.py [--out INVARIANCE_r10.md]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def normalized(df):
    cols = sorted(df.columns)
    out = []
    for row in df.collect():
        d = row.asDict(recursive=True)
        vals = []
        for c in cols:
            v = d[c]
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.6f}")
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark.session import get_spark
    from elastic_asset_etl_poc_spark.sources.registry import clear

    spark = get_spark(app_name="invariance_sweep")
    qs = dict(sorted(e.queries().items()))
    ok, bad, err = [], [], []
    t0 = time.time()
    for i, (name, fn) in enumerate(qs.items(), 1):
        try:
            runs = []
            for n in ("5", "32"):
                spark.conf.set("spark.sql.shuffle.partitions", n)
                clear(spark)
                runs.append(normalized(fn(spark, SF_DIR)))
            (ok if runs[0] == runs[1] else bad).append(name)
            if runs[0] != runs[1]:
                a, b = set(runs[0]), set(runs[1])
                print(f"DIVERGENT {name}: only@5={len(a-b)} only@32={len(b-a)}",
                      file=sys.stderr)
        except Exception as ex:  # pragma: no cover - report and continue
            err.append((name, f"{type(ex).__name__}: {str(ex)[:120]}"))
        if i % 25 == 0:
            print(f"... {i}/{len(qs)} ({time.time()-t0:.0f}s)", file=sys.stderr)
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    lines = [
        "# Partition-count invariance sweep (5 vs 32 shuffle partitions, sf0.001)\n",
        f"Generated by `tools/invariance_sweep.py`; {len(qs)} queries swept "
        f"in {time.time()-t0:.0f}s.\n",
        f"**invariant: {len(ok)} / divergent: {len(bad)} / errored: {len(err)}**\n",
    ]
    if bad:
        lines.append("## Divergent\n")
        lines += [f"- `{n}`" for n in bad] + [""]
    if err:
        lines.append("## Errored\n")
        lines += [f"- `{n}`: {m}" for n, m in err] + [""]
    report = "\n".join(lines)
    print(report)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(report)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
