#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named queries into plans/<LABEL>/.

Usage: python tools/dump_plans.py LABEL before|after q1 q2 ...
Writes plans/<LABEL>/<query>_<tag>.txt.  For queries whose build is
eager (checkpoint/collect chains), the captured plan is the serving
tail — noted in the file header.
"""
from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    label, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(HERE, "plans", label)
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark.session import get_spark

    spark = get_spark(app_name=f"dump_plans_{label}")
    qs = e.queries()
    for n in names:
        df = qs[n](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{n}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"# {n} — explain('formatted'), tag={tag}, sf_dir={sf_dir}\n"
                "# NOTE: for eager-build queries (checkpoint/collect/stream"
                " chains) this is the serving-tail plan; the build phase"
                " runs before it and is not shown.\n"
            )
            fh.write(plan)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
