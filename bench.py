#!/usr/bin/env python3
"""Benchmark: run the full query suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "n_queries": 274, "queries": {slowest-only}, "fast_n": ...,
     "jobs": {"cold": N, "warm": N}, "drift": {"n": 0, "worst": {}},
     "full": "BENCH_FULL.json", "runs": 3, "sf": 0.1, "load": {...}}

The stdout line is hard-capped (≤1500 bytes) so a tail capture parses
it; BENCH_FULL.json holds one record per query (:func:`run_query`):
median and cold wall time, the build/exec split, jobs cold and warm,
JVM GC time, and the session-memo entries the query built and served.
A query is listed as memoized when it served a memo entry.

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect cost).  A tiny warmup query absorbs JVM/codegen start-up
so per-query numbers reflect steady-state plan execution.

Per-query numbers are the MEDIAN of ``$SPARK_GRAFT_BENCH_RUNS`` (default
3) executions, so round-over-round regressions are attributable to plan
changes rather than first-run JVM/codegen/page-cache noise; the first
(cold) run is reported separately under "cold".

Drift triage: when the committed BENCH_FULL.json was taken at the same
scale factor on the same number of cpus, any query whose median drifts
>2x from it AND lands above 1s is re-timed in a FRESH JVM after the
sweep (``tools/ab.py``'s ``solo``), and the "drift" map carries {prev,
suite, solo} per drifted query.  solo ~= prev means suite-position noise
(accumulated JVM state); solo ~= suite means a real plan regression.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def start(sf_dir: str):
    """A session with JVM/codegen warmed up and one cold read per table,
    so the first timed query doesn't absorb file-footer and page-cache
    costs."""
    from elastic_asset_etl_poc_spark.session import get_spark
    from elastic_asset_etl_poc_spark.sources.registry import TABLES, load_table

    spark = get_spark(app_name="bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass
    return spark


def run_query(spark, tracer, name: str, fn, sf_dir: str, runs: int) -> dict:
    """Time ``fn(spark, sf_dir)`` plus its noop write ``runs`` times and
    return the query's record.

    Each run is two sibling spans of ``tracer`` (a
    ``perfbench.spans.Tracer``): ``build`` around the call and ``exec``
    around the write.  The spans carry no op, so the tracer reads no
    status store inside a timed run; jobs come from the spans' job-id
    range and GC time from the collector beans.  ``jobs.cold`` is the
    first run's count, ``jobs.warm`` the last run's (None after one
    run).  ``memo_built``/``memo_served`` are the session memo's
    build/serve deltas over all runs.  A failed run ends the loop and
    keeps the earlier runs' samples; with none, the times read -1.
    """
    from elastic_asset_etl_poc_spark.sources.registry import memo_counts

    built0, served0 = memo_counts(spark)
    builds: list[float] = []
    execs: list[float] = []
    gcs: list[float] = []
    jobs: list[int] = []
    for i in range(runs):
        try:
            with tracer.span(f"{name}.build") as b:
                df = fn(spark, sf_dir)
            with tracer.span(f"{name}.exec") as x:
                df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 — record, keep benching
            # keep any successful earlier samples: a cold-works/
            # warm-fails query is a different signal from never-ran
            print(f"bench error in {name} (run {i}): {ex}", file=sys.stderr)
            break
        finally:
            spark.catalog.clearCache()
        builds.append(b.ms / 1000.0)
        execs.append(x.ms / 1000.0)
        gcs.append(b.gc1_ms - b.gc0_ms + x.gc1_ms - x.gc0_ms)
        jobs.append(b.job1 - b.job0 + x.job1 - x.job0)
    built1, served1 = memo_counts(spark)

    def med(xs: list[float], nd: int) -> float:
        return round(statistics.median(xs), nd) if xs else -1.0

    return {
        "median": med([b + x for b, x in zip(builds, execs)], 2),
        "cold": round(builds[0] + execs[0], 3) if builds else -1.0,
        "build_s": med(builds, 3),
        "exec_s": med(execs, 3),
        "jobs": {
            "cold": jobs[0] if jobs else None,
            "warm": jobs[-1] if len(jobs) > 1 else None,
        },
        "gc_ms": med(gcs, 0),
        "memo_built": built1 - built0,
        "memo_served": served1 - served0,
    }


def _committed_medians(sf: float | None, cpus: int | None) -> dict[str, float]:
    """Per-query medians of the committed BENCH_FULL.json, if it was taken
    at the same scale factor on the same number of cpus; else empty."""
    try:
        blob = subprocess.run(
            ["git", "-C", HERE, "show", "HEAD:BENCH_FULL.json"],
            capture_output=True, text=True, timeout=30,
        )
        pj = json.loads(blob.stdout) if blob.returncode == 0 else {}
    except (OSError, subprocess.SubprocessError, ValueError):
        return {}
    if pj.get("sf") != sf or pj.get("load", {}).get("cpus") != cpus:
        return {}
    return {n: r["median"] for n, r in pj["queries"].items()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    import __spark_entry__ as e
    from perfbench.spans import Tracer
    from tools.ab import solo

    spark = start(sf_dir)
    tracer = Tracer(spark)

    # STABLE bench order (alphabetical), decoupled from queries()' export
    # order.  queries() exports stale-first so the DRIVER's correctness
    # rotation samples new/failed queries first — but that order changes
    # every round, and because per-query times drift with suite position
    # (accumulated JVM state; see the System.gc() note below), a changed
    # order fabricates per-query "regressions" on untouched code (r9:
    # 5 new queries exporting first shifted every query ~5 positions and
    # recall_ivf_full_probe_vs_exact read 1.8s → 14.4s with zero code
    # change).  Alphabetical is stable round to round, so BENCH artifacts
    # compare position-like-for-like; new queries change their own
    # neighborhood only.
    qs = dict(sorted(e.queries().items()))
    # Host-load stamp (the r7 lesson: six >2× "regressions" on unchanged
    # code were a noisy host; numbers without load context are not
    # interpretable round-over-round).  loadavg is sampled after every
    # query so the MAX catches a mid-run stall; cpu-steal comes from
    # /proc/stat deltas (a hypervisor stealing cycles inflates wall time
    # without raising loadavg).
    def _cpu_times() -> tuple[float, float]:
        try:
            with open("/proc/stat") as fh:
                f = fh.readline().split()[1:]
            vals = [float(x) for x in f]
            return sum(vals), vals[7] if len(vals) > 7 else 0.0
        except OSError:
            return 0.0, 0.0

    load0 = os.getloadavg()[0]
    total0, steal0 = _cpu_times()
    load_max = load0

    # NOTE: a periodic driver System.gc() between queries was tried (to
    # reclaim torn-off broadcasts on this single-process 167-query run)
    # and measured NET-HARMFUL: median query 1.16× slower and the
    # checkpoint-memoized graph queries up to 7× slower (ContextCleaner
    # churn against the pinned edge frames).  Accumulated-state pressure
    # on late all-pairs audits (~3s solo → ~9s at suite position 58) is
    # the lesser evil; the load stamp below makes it attributable.
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        records[name] = run_query(spark, tracer, name, fn, sf_dir, runs)
        load_max = max(load_max, os.getloadavg()[0])
    medians = {n: r["median"] for n, r in records.items()}
    # Serve-only disclosure: a query that served an entry of the session
    # memo (shared near-dup pair frames, edge checkpoints, codebooks,
    # band stores, staged fixtures) prices SERVING in its warm median;
    # the build cost is carried by its cold time.
    memoized = [n for n, r in records.items() if r["memo_served"] > 0]
    jobs = {
        k: sum(r["jobs"][k] or 0 for r in records.values()) for k in ("cold", "warm")
    }

    total1, steal1 = _cpu_times()
    load = {
        "load1_start": round(load0, 2),
        "load1_max": round(load_max, 2),
        "load1_end": round(os.getloadavg()[0], 2),
        "cpus": os.cpu_count(),
        "steal_pct": round(
            100.0 * (steal1 - steal0) / max(total1 - total0, 1e-9), 2
        ),
    }

    # --- drift triage: a fresh JVM per drifted query (the manual triage
    # protocol of r8-r10, mechanized)
    prev = _committed_medians(sf, load["cpus"])
    drift: dict[str, dict] = {}
    for n, t in medians.items():
        p = prev.get(n, -1.0)
        if p > 0 and t >= 1.0 and (t / p > 2.0 or p / t > 2.0):
            drift[n] = {"prev": p, "suite": t, "solo": solo(HERE, n, sf_dir)["median"]}
            print(f"bench drift triage {n}: {drift[n]}", file=sys.stderr)

    total = round(sum(t for t in medians.values() if t >= 0), 2)
    with open(os.path.join(HERE, "BENCH_FULL.json"), "w") as fh:
        json.dump(
            {
                "metric": "suite_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": records,
                "memoized": memoized,
                "jobs": jobs,
                "drift": drift,
                "runs": runs,
                "sf": sf,
                "load": load,
            },
            fh,
            indent=1,
        )

    # stdout budget: a tail capture keeps only ~2000 chars and
    # json-parses them; BENCH_r12/r13/r14 all recorded "parsed": null
    # because this line exceeded the budget.  So the stdout line is a
    # hard-capped SUMMARY — the per-query records and memoized names
    # live only in BENCH_FULL.json — with counts in place of lists,
    # drift folded to its 3 worst entries, and individual entries only
    # for the slowest queries down to the largest threshold that keeps
    # the line under the cap.  The threshold loop ends in a
    # queries-free fallback that is small by construction.
    drift_summary = {
        "n": len(drift),
        "worst": {
            n: drift[n]
            for n in sorted(drift, key=lambda n: -drift[n]["suite"] / drift[n]["prev"])[:3]
        },
    }
    n_errors = sum(1 for v in medians.values() if v < 0)

    def compact(threshold: float | None) -> str:
        # errored queries (median < 0) stay named at EVERY threshold,
        # including the final no-threshold fallback — they are few by
        # construction and "which query failed" must survive the
        # stdout cap (n_errors alone doesn't say)
        slow = {
            k: v
            for k, v in sorted(medians.items())
            if v < 0 or (threshold is not None and v >= threshold)
        }
        return json.dumps(
            {
                "metric": "suite_wall_sec",
                "value": total,
                "unit": "sec",
                "n_queries": len(medians),
                "n_errors": n_errors,
                "queries": slow,
                "fast_n": len(medians) - len(slow),
                "fast_sec": round(
                    sum(v for k, v in medians.items() if v >= 0 and k not in slow), 2
                ),
                "thresh": threshold,
                "memoized_n": len(memoized),
                "jobs": jobs,
                "drift": drift_summary,
                "full": "BENCH_FULL.json",
                "runs": runs,
                "sf": sf,
                "load": load,
            },
            separators=(",", ":"),
        )

    line = compact(2.0)
    for thr in (3.0, 5.0, 8.0, 15.0, None):
        if len(line) <= 1500:
            break
        line = compact(thr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
