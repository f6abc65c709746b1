"""Benchmark of the asset ETL and the query catalog, run on this checkout.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload asset_etl --seed 1 --seconds 36 --trace 0

One process, one client in a closed loop, one ``local[nproc]`` session.
The run sets up the session (``setup_s``), makes the seeded corpus (timed
on its own), then runs passes of the workload for about ``--seconds``: the
first pass is the cold one, the rest are warm.  The pass count follows
from ``--seconds`` and the workload's nominal pass times, so every run with
the same ``--seconds`` does the same work.  After the timed passes every
op's last output is checked against its DuckDB twin.  The last line of
standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones, taken from spans around
each call into a layer (``spans.py``).  A traced run interleaves untraced and
traced warm passes after a settling pass and reports the difference of
their medians as ``trace.overhead_s``.  Metrics a workload does not exercise read 0.

Everything the run writes goes under ``perfbench/_out/``: corpora (kept
per seed), the asset store, Spark's local directories and checkpoints (all
removed at the end), and one result file per run in ``results/`` (plus
the span dump in ``traces/`` when traced).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
PACKAGE = "elastic_asset_etl_poc_spark"


def host_stamp() -> dict:
    def meminfo_kb(key: str) -> int:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
        return 0

    with open("/proc/stat") as fh:
        cpu = [float(x) for x in fh.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": meminfo_kb("MemTotal"),
        "loadavg_1m": os.getloadavg()[0],
        "cpu_total_jiffies": sum(cpu),
        "cpu_steal_jiffies": cpu[7] if len(cpu) > 7 else 0.0,
    }


def tail_percentile(samples: list[float]) -> tuple[str, float]:
    """The highest percentile ``samples`` supports (pXX needs at least
    100 / (100 - XX) samples), by nearest rank.  Under 4 samples no tail
    is supported and this is the median."""
    n = len(samples)
    if n < 4:
        return f"p50 of {n}", statistics.median(samples)
    p = max(q for q in (75, 90, 95, 99) if n >= 100 / (100 - q))
    return f"p{p} of {n}", sorted(samples)[math.ceil(p / 100 * n) - 1]


def proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith(key + ":"))


def prepare_env(run_dir: str) -> None:
    """Run the code of this checkout, on nproc cores, writing only here."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the short-lived JVM that spark-submit runs first to build its command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE}/ package at {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(OUT, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    host0 = host_stamp()

    # -- set-up: session ready and a warm-up action run ------------------
    import pyspark  # noqa: F401

    from elastic_asset_etl_poc_spark import session

    if not os.path.abspath(session.__file__).startswith(ROOT + os.sep):
        print(f"{PACKAGE} imported from {session.__file__}, not {ROOT}", file=sys.stderr)
        return 2
    t_spark = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # keep the JVM's temp and perf-data files out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp "
            f"-Dderby.system.home={run_dir} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    t_warm = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t_ready = time.perf_counter()
    setup_s = t_ready - T0

    setup = {
        "setup_s": setup_s,
        "session.get_spark_s": t_warm - t_spark,
        "session.warmup_s": t_ready - t_warm,
    }
    try:
        return measure(args, spec, spark, run_dir, tag, host0, setup)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spec, spark, run_dir, tag, host0, setup) -> int:
    sys.path.insert(0, HERE)
    import corpus
    import oracle
    from spans import LayerPatch, Tracer
    from workloads import EVENTS_SCALE, NOMINAL_PASS_S, WORKLOADS

    events_scale = EVENTS_SCALE[args.workload]
    t = time.perf_counter()
    corpus_dir = corpus.generate(
        os.path.join(OUT, "corpus", f"v{corpus.FORMAT}-events{events_scale}-seed{args.seed}"),
        args.seed, events_scale,
    )
    corpus_s = time.perf_counter() - t
    event_rows = corpus.row_counts(corpus_dir)["events"]

    wl = WORKLOADS[args.workload](spark, corpus_dir, run_dir)
    tracer = Tracer(spark, enabled=False)
    passes: list[dict] = []
    op_spans = []  # traced warm op spans
    op_walls = []  # their wall times as the loop measured them
    failures: dict[str, str] = {}
    attempted = failed = 0
    cold_nominal, warm_nominal = NOMINAL_PASS_S[args.workload]
    n_warm = max(2, math.floor((args.seconds - cold_nominal) / warm_nominal))
    if args.trace:
        # One settling pass, then an odd count of passes traced on every
        # second one (untraced, traced, untraced, ...): the steep early
        # warm-up stays out of the tracing overhead, and a steady trend
        # cancels out of the difference of the two medians.
        n_warm = 1 + max(3, n_warm | 1)
    t_run = time.perf_counter()
    tracer.enabled = bool(args.trace)
    with tracer.span("run"):
        for i in range(1 + n_warm):
            traced = bool(args.trace) and i >= 2 and i % 2 == 1
            tracer.enabled = traced
            ops = []
            p0 = time.perf_counter()
            with LayerPatch(tracer) if traced else contextlib.nullcontext():
                with tracer.span("pass"):
                    for name in wl.ops:
                        attempted += 1
                        o0 = time.perf_counter()
                        ospan = None
                        try:
                            with tracer.span("op", op=name) as ospan:
                                wl.run_op(name, tracer)
                        except Exception:  # counted and reported; the run goes on
                            failed += 1
                            failures[f"{name}#{i}"] = traceback.format_exc()[-2000:]
                        ops.append({"op": name, "s": time.perf_counter() - o0})
                        if ospan is not None:
                            op_spans.append(ospan)
                            op_walls.append(ops[-1]["s"])
            passes.append({"s": time.perf_counter() - p0, "traced": traced, "ops": ops})
    measured_s = time.perf_counter() - t_run

    # -- correctness, outside the timed region ---------------------------
    tracer.enabled = False
    t = time.perf_counter()
    con = oracle.connect(corpus_dir)
    try:
        bad = wl.check(con)
    except Exception:
        bad = {"check": traceback.format_exc()[-2000:]}
    finally:
        con.close()
    check_s = time.perf_counter() - t
    for name, why in bad.items():  # a wrong output fails every run of its op
        n = sum(1 for p in passes for o in p["ops"] if o["op"] == name) or 1
        failed = min(attempted, failed + n)
        failures[name] = why

    pid = spark._jvm.ProcessHandle.current().pid()
    hwm_kb = proc_status_kb(pid, "VmHWM")
    host1 = host_stamp()

    warm = [p for p in passes[1:] if not p["traced"]]
    warm_ops = [o["s"] for p in warm for o in p["ops"]]
    warm_pass_s = statistics.median(p["s"] for p in warm)
    tail_p, tail_s = tail_percentile(warm_ops)
    end_to_end = {
        "setup_s": setup["setup_s"],
        "cold_s": passes[0]["s"],
        "warm_pass_s": warm_pass_s,
        "op_p50_s": statistics.median(warm_ops),
        "op_tail_s": tail_s,
        "signals_per_s": event_rows / warm_pass_s,
    }

    per_layer: dict[str, float] = {
        "session.get_spark_s": setup["session.get_spark_s"],
        "session.warmup_s": setup["session.warmup_s"],
        # The JVM's heap grows in steps timed by its GC, so the peak moves
        # by a quarter between identical runs: a per-layer figure only.
        "jvm.peak_rss_mb": hwm_kb / 1024.0,
    }
    self_check = None
    if args.trace:
        per_layer.update(wl.layer_metrics(tracer, op_spans))
        per_layer["trace.overhead_s"] = statistics.median(
            p["s"] for p in passes[2:] if p["traced"]
        ) - statistics.median(p["s"] for p in passes[2:] if not p["traced"])
        if op_spans:
            # the self times of the first traced op's span tree, against
            # the op's wall time as the loop measured it from outside
            kids: dict = {}
            for s in tracer.spans:
                kids.setdefault(s.parent, []).append(s)

            def subtree_self_ms(s):
                return tracer.self_ms(s) + sum(subtree_self_ms(c) for c in kids.get(s.id, []))

            self_check = {
                "op": op_spans[0].op,
                "wall_ms": op_walls[0] * 1000.0,
                "self_sum_ms": subtree_self_ms(op_spans[0]),
            }

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = end_to_end if not args.trace else per_layer
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    steal = host1["cpu_steal_jiffies"] - host0["cpu_steal_jiffies"]
    total = host1["cpu_total_jiffies"] - host0["cpu_total_jiffies"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "nproc": host0["nproc"],
            "mem_total_kb": host0["mem_total_kb"],
            "loadavg_1m_start": host0["loadavg_1m"],
            "loadavg_1m_end": host1["loadavg_1m"],
            "cpu_steal_share": steal / total if total else 0.0,
        },
        "corpus": {"dir": os.path.relpath(corpus_dir, ROOT), "gen_s": corpus_s,
                   "event_rows": event_rows},
        "measured_s": measured_s,
        "check_s": check_s,
        "op_tail_percentile": tail_p,
        "error_rate": failed / attempted,
        "failures": failures,
        "passes": passes,
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "self_time_check": self_check,
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        tracer.dump(os.path.join(OUT, "traces", tag + ".json"), {"workload": args.workload})

    for name, why in failures.items():
        print(f"FAILED {name}: {why.strip().splitlines()[-1]}")
    print(
        f"{args.workload}: {len(passes)} passes in {measured_s:.1f} s, "
        f"error_rate {failed / attempted:.4f}, op_tail is {tail_p}, "
        f"corpus {corpus_s:.2f} s, host nproc {host0['nproc']} "
        f"load {host0['loadavg_1m']:.2f}->{host1['loadavg_1m']:.2f}"
    )
    if self_check:
        print(f"self-time check {self_check}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
