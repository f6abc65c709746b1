#!/usr/bin/env python3
"""A/B of two checkouts: order-alternating pairs of fresh-process runs.

Usage::

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload asset_etl --seeds 801-810

Runs ``perfbench/run.py --workload W --seed S --seconds 36 --trace 0`` in
each checkout once per seed, one run at a time; on odd seeds the change
runs first, on even seeds the parent.  Each run's last stdout line (the
perfbench JSON) is echoed to stderr as it lands, after the host load
(1-minute load average at its start and end) that its summary line
records.  At the end it prints whether every run was correct, each
side's median start and end load, and, for each end-to-end metric of
``BENCHMARK.json``, the change's win count and both sides' medians and
interquartile ranges.  A gain counts only when the change wins at least
nine of every ten pairs and its median beats the parent's by more than
the parent's IQR; the last column says whether it does.

At least 10 seeds are required.  Use seeds not used while writing the
change, and keep the host otherwise idle.

:func:`solo` re-times one suite query in a fresh process (``bench.py``'s
drift triage calls it).
"""
from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10


def solo(name: str, sf_dir: str) -> dict:
    """``bench.run_query``'s record for ``name`` (three runs), taken in a
    fresh JVM; ``{"median": -1.0}`` if the subprocess fails or times out."""
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


#: the host load a perfbench summary line records: ``load 1.23->4.56``
LOAD = re.compile(r" load (\d+(?:\.\d+)?)->(\d+(?:\.\d+)?)")


def perfbench(checkout: str, workload: str, seed: int) -> dict:
    """The last stdout line of one perfbench run in ``checkout``, with
    ``load``: the (start, end) host load of its summary line, or None.
    A run that prints no JSON counts as incorrect with no metrics."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "36", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    try:
        run = json.loads(out.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        print(out.stderr[-1500:], file=sys.stderr)
        run = {"correct": False, "metrics": {}}
    m = LOAD.search(out.stdout)
    run["load"] = (float(m[1]), float(m[2])) if m else None
    return run


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def iqr(xs: list[float]) -> float:
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def report(runs: dict, seeds: list[int], metrics: list[dict]) -> None:
    ok = all(r["correct"] for r in runs.values())
    print(f"all correct: {ok} ({len(runs)} runs, {len(seeds)} pairs)")
    for side in ("parent", "change"):
        loads = [runs[side, s]["load"] for s in seeds if runs[side, s]["load"]]
        if loads:
            start, end = (statistics.median(x) for x in zip(*loads))
            print(f"{side} median load {start:.2f}->{end:.2f}")
    print(f"{'metric':<15}{'wins':>8}{'parent':>12}{'change':>12}"
          f"{'parent IQR':>12}{'change IQR':>12}  gain")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        try:
            p = [runs["parent", s]["metrics"][name]["value"] for s in seeds]
            c = [runs["change", s]["metrics"][name]["value"] for s in seeds]
        except KeyError:
            print(f"{name:<15} missing from some run")
            continue
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        mp, mc = statistics.median(p), statistics.median(c)
        gain = (mp - mc) if lower else (mc - mp)
        holds = wins * 10 >= 9 * len(seeds) and gain > iqr(p)
        print(f"{name:<15}{wins:>5}/{len(seeds):<2}{mp:>12.4g}{mc:>12.4g}"
              f"{iqr(p):>12.4g}{iqr(c):>12.4g}  {holds}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="A-B, inclusive")
    args = ap.parse_args()
    if len(args.seeds) < MIN_PAIRS:
        ap.error(f"--seeds must span at least {MIN_PAIRS} seeds")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    dirs = {"parent": args.parent, "change": args.change}
    runs: dict = {}
    for s in args.seeds:
        order = ("change", "parent") if s % 2 else ("parent", "change")
        for side in order:
            runs[side, s] = perfbench(dirs[side], args.workload, s)
            run = runs[side, s]
            load = "load {:.2f}->{:.2f}".format(*run["load"]) if run["load"] else "load ?"
            print(f"{side} seed {s}: {load} {json.dumps(run)}", file=sys.stderr, flush=True)
    report(runs, args.seeds, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
