#!/usr/bin/env python3
"""Benchmark: run the full query suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "n_queries": 272, "queries": {slowest-only}, "fast_n": ...,
     "drift": {"n": 0, "worst": {}}, "full": "BENCH_FULL.json",
     "runs": 3, "sf": 0.1, "load": {...}}

The stdout line is hard-capped (≤1500 bytes) so the driver's tail
capture parses it; the FULL per-query map (median + cold + memoized
names + full drift) is written to BENCH_FULL.json.  A query is listed
as memoized when one of its runs served an entry of the per-session
memo (``sources.registry.memo``).

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect cost).  A tiny warmup query absorbs JVM/codegen start-up
so per-query numbers reflect steady-state plan execution.

Per-query numbers are the MEDIAN of ``$SPARK_GRAFT_BENCH_RUNS`` (default
3) executions, so round-over-round regressions are attributable to plan
changes rather than first-run JVM/codegen/page-cache noise; the first
(cold) run is reported separately under "cold".

Drift self-triage (r8-r10 each spent a session on position-noise
forensics, so the artifact now explains itself): any query whose median
drifts >2x from the last committed BENCH_FULL.json AND lands above 1s
is re-timed best-of-2 in a FRESH subprocess JVM after the sweep — the
same solo protocol those manual triages used — and the artifact's
"drift" map carries {prev, suite, solo} per drifted query.  solo ~=
prev means suite-position noise (accumulated JVM state); solo ~= suite
means a real plan regression.  Disable with SPARK_GRAFT_BENCH_TRIAGE=0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    # pin bench (and the driver's correctness gate, which imports through
    # the same suite) to the pure-Python decode kernels so multimodal
    # rows don't vary with Pillow's presence across environments
    os.environ.setdefault("SPARK_GRAFT_PURE_DECODE", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    import __spark_entry__ as e
    from elastic_asset_etl_poc_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # warmup: JVM/codegen plus one cold read per table so the first timed
    # query doesn't absorb file-footer and page-cache costs
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from elastic_asset_etl_poc_spark.sources.registry import (
        TABLES,
        load_table,
        memo_counts,
    )

    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass

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
    # Serve-only disclosure: a query that served an entry of the
    # session memo (sources.registry.memo: shared near-dup pair frames,
    # edge checkpoints, codebooks, band stores, staged fixtures) in any
    # run is listed here, so its warm median prices SERVING, not the
    # build.  The build cost is carried by the cold column.  Emitted in
    # both JSON artifacts so the caveat travels with the numbers.
    memoized: list[str] = []
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

    cold: dict[str, float] = {}
    medians: dict[str, float] = {}
    # NOTE: a periodic driver System.gc() between queries was tried (to
    # reclaim torn-off broadcasts on this single-process 167-query run)
    # and measured NET-HARMFUL: median query 1.16× slower and the
    # checkpoint-memoized graph queries up to 7× slower (ContextCleaner
    # churn against the pinned edge frames).  Accumulated-state pressure
    # on late all-pairs audits (~3s solo → ~9s at suite position 58) is
    # the lesser evil; the load stamp below makes it attributable.
    for name, fn in qs.items():
        samples: list[float] = []
        served0 = memo_counts(spark)[1]
        for i in range(runs):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            except Exception as ex:  # noqa: BLE001 — record, keep benching
                # keep any successful earlier samples: a cold-works/
                # warm-fails query is a different signal from never-ran
                print(f"bench error in {name} (run {i}): {ex}", file=sys.stderr)
                break
            finally:
                spark.catalog.clearCache()
        if memo_counts(spark)[1] > served0:
            memoized.append(name)
        if samples:
            cold[name] = round(samples[0], 3)
            medians[name] = round(statistics.median(samples), 2)
        else:
            cold[name] = medians[name] = -1.0
        load_max = max(load_max, os.getloadavg()[0])

    # --- drift self-triage: solo re-time queries that moved >2x vs the
    # last committed BENCH_FULL (fresh JVM per drifted query = the manual
    # triage protocol of r8-r10, mechanized)
    drift: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_TRIAGE", "1") != "0":
        import subprocess

        here_ = os.path.dirname(os.path.abspath(__file__))
        prev: dict[str, float] = {}
        try:
            blob = subprocess.run(
                ["git", "-C", here_, "show", "HEAD:BENCH_FULL.json"],
                capture_output=True, text=True, timeout=30,
            )
            if blob.returncode == 0:
                pj = json.loads(blob.stdout)
                # only comparable like-for-like: same scale factor
                if pj.get("sf") == sf:
                    prev = pj.get("queries", {})
        except Exception:
            pass
        drifted = [
            n for n, t in medians.items()
            if n in prev and prev[n] > 0 and t > 0
            and t >= 1.0 and (t / prev[n] > 2.0 or prev[n] / t > 2.0)
        ]
        for n in drifted:
            code = (
                "import sys,time,json,os;"
                f"sys.path.insert(0,{here_!r});"
                "os.environ.setdefault('SPARK_GRAFT_PURE_DECODE','1');"
                "import __spark_entry__ as e;"
                "from elastic_asset_etl_poc_spark.session import get_spark;"
                "s=get_spark(app_name='bench_triage');"
                f"f=e.queries()[{n!r}];b=None\n"
                "for _ in range(2):\n"
                " t0=time.perf_counter();"
                f"f(s,{sf_dir!r}).write.format('noop').mode('overwrite').save();"
                "d=time.perf_counter()-t0;b=d if b is None else min(b,d);"
                "s.catalog.clearCache()\n"
                "print('SOLO_BEST',round(b,2))"
            )
            try:
                out = subprocess.run(
                    [sys.executable, "-c", code],
                    capture_output=True, text=True, timeout=600,
                )
                solo = next(
                    (float(l.split()[1]) for l in out.stdout.splitlines()
                     if l.startswith("SOLO_BEST")),
                    -1.0,
                )
            except Exception:
                solo = -1.0
            drift[n] = {"prev": prev[n], "suite": medians[n], "solo": solo}
            print(f"bench drift triage {n}: {drift[n]}", file=sys.stderr)

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

    total = round(sum(t for t in medians.values() if t >= 0), 2)
    # The driver records only a ~2000-char TAIL of stdout, and 116 query
    # names cannot fit that budget — so the FULL per-query detail (median
    # + cold) is written to BENCH_FULL.json (committed, judge-readable)
    # and the stdout line is shrunk adaptively: individual entries for
    # the slowest queries down to the largest threshold that keeps the
    # line under 1900 bytes, the rest folded into fast_n/fast_sec.
    # Queries sorted by name, scalar fields last, errors always listed.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as fh:
        json.dump(
            {
                "metric": "suite_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": medians,
                "cold": cold,
                "memoized": memoized,
                "drift": drift,
                "runs": runs,
                "sf": sf,
                "load": load,
            },
            fh,
            indent=1,
        )

    # stdout budget: the driver records only the TAIL (~2000 chars) of
    # stdout and json-parses it; BENCH_r12/r13/r14 all recorded
    # "parsed": null because this line exceeded the budget (the full
    # "memoized" name list alone is ~900 bytes and the drift map is
    # unbounded).  So the stdout line is now a hard-capped SUMMARY —
    # full per-query/cold/drift/memoized detail lives only in
    # BENCH_FULL.json — with counts in place of lists and drift folded
    # to its 3 worst entries.  The threshold loop ends in a
    # queries-free fallback that is small by construction.
    drift_summary = {
        "n": len(drift),
        "worst": {
            n: drift[n]
            for n in sorted(
                drift,
                key=lambda n: -(
                    drift[n]["suite"] / drift[n]["prev"]
                    if drift[n]["prev"] > 0
                    else 0.0
                ),
            )[:3]
        },
    }
    n_errors = sum(1 for v in medians.values() if v < 0)

    def compact(threshold: float | None) -> str:
        # errored queries (median < 0) stay named at EVERY threshold,
        # including the final no-threshold fallback — they are few by
        # construction and "which query failed" must survive the
        # stdout cap (n_errors alone doesn't say)
        if threshold is None:
            slow = {k: v for k, v in sorted(medians.items()) if v < 0}
        else:
            slow = {
                k: v
                for k, v in sorted(medians.items())
                if v >= threshold or v < 0
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
                    sum(
                        v
                        for k, v in medians.items()
                        if v >= 0 and k not in slow
                    ),
                    2,
                ),
                "thresh": threshold,
                # serve-only queries (memoized artifact; build cost in
                # "cold" / pretrain_pipeline_docs) — names in BENCH_FULL
                "memoized_n": len(memoized),
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
