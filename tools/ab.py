#!/usr/bin/env python3
"""A/B of two checkouts: order-alternating pairs of fresh-process runs.

Usage::

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload asset_etl --seeds 801-810
    python3 tools/ab.py PARENT_DIR CHANGE_DIR --queries q1,q2 --sf SF_DIR

With ``--workload``, runs ``perfbench/run.py --workload W --seed S
--seconds 36 --trace 0`` in each checkout once per seed, one run at a
time; on odd seeds the change runs first, on even seeds the parent. Each
run's last stdout line (the perfbench JSON) is echoed to stderr as it
lands, after the host load (1-minute load average at its start and end)
that its summary line records. At the end it prints whether every run
was correct, each side's median start and end load, and, for each
end-to-end metric of ``BENCHMARK.json``, the change's win count and both
sides' medians and interquartile ranges. A gain counts only when the
change wins at least nine of every ten pairs and its median beats the
parent's by more than the parent's IQR; the last column says whether it
does.

At least 10 seeds are required.  Use seeds not used while writing the
change, and keep the host otherwise idle.

With ``--queries``, it runs 10 order-alternating pairs of :func:`solo`
per query over the suite fixture ``SF_DIR``, each side in its own
checkout, and prints per query the change's win count, both medians and
both IQRs of the record's ``median``, ``build_s`` and ``exec_s`` (lower
wins).  :func:`solo` re-times one suite query in a fresh process
(``bench.py``'s drift triage calls it).
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


def solo(checkout: str, name: str, sf_dir: str) -> dict:
    """``bench.run_query``'s record for ``name`` (three runs), taken in a
    fresh JVM from ``checkout``'s code; ``{"median": -1.0}`` if the
    subprocess fails or times out."""
    code = (
        f"import json,sys;sys.path.insert(0,{checkout!r});"
        "import bench,__spark_entry__ as e;from perfbench.spans import Tracer;"
        f"s=bench.start({sf_dir!r});"
        f"r=bench.run_query(s,Tracer(s),{name!r},e.queries()[{name!r}],{sf_dir!r},3);"
        "print('SOLO',json.dumps(r))"
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=checkout, capture_output=True,
            text=True, timeout=900,
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


def compare(name: str, p: list[float], c: list[float], lower: bool) -> None:
    """One row: the change's wins over the pairs, both medians and IQRs,
    and whether the gain holds (wins in 9 of 10 pairs, median gain
    larger than the parent's IQR)."""
    wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
    mp, mc = statistics.median(p), statistics.median(c)
    gain = (mp - mc) if lower else (mc - mp)
    holds = wins * 10 >= 9 * len(p) and gain > iqr(p)
    print(f"{name:<15}{wins:>5}/{len(p):<2}{mp:>12.4g}{mc:>12.4g}"
          f"{iqr(p):>12.4g}{iqr(c):>12.4g}  {holds}")


HEADER = (f"{'metric':<15}{'wins':>8}{'parent':>12}{'change':>12}"
          f"{'parent IQR':>12}{'change IQR':>12}  gain")


def report(runs: dict, seeds: list[int], metrics: list[dict]) -> None:
    ok = all(r["correct"] for r in runs.values())
    print(f"all correct: {ok} ({len(runs)} runs, {len(seeds)} pairs)")
    for side in ("parent", "change"):
        loads = [runs[side, s]["load"] for s in seeds if runs[side, s]["load"]]
        if loads:
            start, end = (statistics.median(x) for x in zip(*loads))
            print(f"{side} median load {start:.2f}->{end:.2f}")
    print(HEADER)
    for m in metrics:
        name = m["name"]
        try:
            p = [runs["parent", s]["metrics"][name]["value"] for s in seeds]
            c = [runs["change", s]["metrics"][name]["value"] for s in seeds]
        except KeyError:
            print(f"{name:<15} missing from some run")
            continue
        compare(name, p, c, m["better"] == "lower")


#: the ``bench.run_query`` record fields a query A/B compares
QUERY_FIELDS = ("median", "build_s", "exec_s")


def query_ab(dirs: dict, queries: list[str], sf_dir: str) -> None:
    """``MIN_PAIRS`` order-alternating :func:`solo` pairs per query, then
    one table per query."""
    runs: dict = {}
    for i in range(MIN_PAIRS):
        order = ("change", "parent") if i % 2 else ("parent", "change")
        for q in queries:
            for side in order:
                runs[side, q, i] = rec = solo(dirs[side], q, sf_dir)
                print(f"{side} {q} pair {i}: {json.dumps(rec)}", file=sys.stderr,
                      flush=True)
    for q in queries:
        failed = sum(runs[k]["median"] < 0 for k in runs if k[1] == q)
        print(f"\n{q}: {failed} failed of {2 * MIN_PAIRS} runs")
        if failed:
            continue
        print(HEADER)
        for f in QUERY_FIELDS:
            p = [runs["parent", q, i][f] for i in range(MIN_PAIRS)]
            c = [runs["change", q, i][f] for i in range(MIN_PAIRS)]
            compare(f, p, c, lower=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload")
    mode.add_argument("--queries", type=lambda t: t.split(","),
                      help="comma-separated suite query names")
    ap.add_argument("--seeds", type=seed_range, help="A-B, inclusive (--workload)")
    ap.add_argument("--sf", help="suite fixture directory (--queries)")
    args = ap.parse_args()
    dirs = {"parent": args.parent, "change": args.change}
    if args.queries:
        if not args.sf:
            ap.error("--queries needs --sf")
        query_ab(dirs, args.queries, args.sf)
        return 0
    if not args.seeds or len(args.seeds) < MIN_PAIRS:
        ap.error(f"--seeds must span at least {MIN_PAIRS} seeds")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
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
