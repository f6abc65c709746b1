#!/usr/bin/env python3
"""Solo re-time a named set of queries, each in a FRESH subprocess JVM,
with bench.py's warm-up and per-query record (three runs) — the protocol
bench.py's drift triage uses, run standalone on a quiet host to tell
suite-position noise from real plan regressions.

Usage: python tools/solo_retime.py q1 q2 ... [> report]
Fixture directory from $SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture, as in bench.py).
Prints one line per query: name, solo median, jobs, load1 before/after.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def solo(name: str, sf_dir: str) -> dict:
    """``bench.run_query``'s record for ``name``, taken in a fresh JVM;
    ``{"median": -1.0}`` if the subprocess fails or times out."""
    code = (
        f"import json,sys;sys.path.insert(0,{ROOT!r});"
        "import bench,__spark_entry__ as e;from perfbench.spans import Tracer;"
        f"s=bench.start({sf_dir!r});"
        f"r=bench.run_query(s,Tracer(s),{name!r},e.queries()[{name!r}],{sf_dir!r},3);"
        "print('SOLO',json.dumps(r))"
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
        )
    except subprocess.TimeoutExpired:
        print(f"solo {name}: no record within 900 s", file=sys.stderr)
        return {"median": -1.0}
    for line in out.stdout.splitlines():
        if line.startswith("SOLO "):
            return json.loads(line[5:])
    print(out.stdout[-1500:], file=sys.stderr)
    print(out.stderr[-1500:], file=sys.stderr)
    return {"median": -1.0}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for n in sys.argv[1:]:
        l0 = os.getloadavg()[0]
        r = solo(n, sf_dir)
        l1 = os.getloadavg()[0]
        print(
            f"{n}: solo={r['median']}s jobs={r.get('jobs')} load1={l0:.2f}->{l1:.2f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
