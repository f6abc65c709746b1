"""The benchmark's workloads: what one op and one pass run, and the checks.

A workload object has

  * ``ops`` — the op names of one pass, in order;
  * ``run_op(name, tracer)`` — run one op to completion (timed by the
    caller), keeping what the correctness check needs;
  * ``check(con)`` — after the timed passes, the ops whose last output
    differs from its DuckDB twin, as ``{op name: reason}``;
  * ``layer_metrics(tracer, op_spans)`` — per-layer figures from the
    traced passes.
"""

from __future__ import annotations

import os
import shutil
import statistics

import oracle


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _store_files(path: str) -> set[str]:
    out = set()
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(dirpath, f))
    return out


class AssetEtl:
    """The paper's job as repeated ticks against one persistent asset store.

    A tick: (1) build the two phase frames and run both into the noop
    sink, (2) build the four asset frames and union them, (3) upsert the
    union into the store.  Every tick uses the pinned ``now``, so every
    tick does the same work.  One op is one tick.
    """

    ops = ["tick"]
    #: asset.type partition -> oracle twin of the store's rows
    STORE_TWINS = {
        "service": "assets_services",
        "container": "assets_containers",
        "k8s.pod": "assets_pods",
        "k8s.node": "assets_nodes",
    }

    def __init__(self, spark, corpus_dir: str, work_dir: str):
        from elastic_asset_etl_poc_spark.plans import assets, services
        from elastic_asset_etl_poc_spark import sinks

        self.spark = spark
        self.corpus = corpus_dir
        self.store = os.path.join(work_dir, "store")
        shutil.rmtree(self.store, ignore_errors=True)  # every run starts empty
        self._services = services
        self._assets = assets
        self._sinks = sinks
        self.phase_frames = None
        self.tick_files: list[dict] = []

    def run_op(self, name: str, tracer) -> None:
        spark, sf = self.spark, self.corpus
        with tracer.span("plans.services.build"):
            svc, full = self._services.collect_services_from_summaries(spark, sf)
        with tracer.span("plans.services.exec"):
            svc.write.format("noop").mode("overwrite").save()
            full.write.format("noop").mode("overwrite").save()
        with tracer.span("plans.assets.build"):
            services, containers = self._assets.collect_services(spark, sf)
            pods, nodes = self._assets.collect_pods(spark, sf)
            batch = (
                services.unionByName(containers).unionByName(pods).unionByName(nodes)
            )
        before = _store_files(self.store) if tracer.enabled else None
        with tracer.span("sinks.upsert_assets"):
            self._sinks.upsert_assets(spark, self.store, batch)
        if tracer.enabled:
            after = _store_files(self.store)
            self.tick_files.append(
                {"files_written": len(after - before), "store_files": len(after)}
            )
        self.phase_frames = (svc, full)

    def check(self, con) -> dict[str, str]:
        from elastic_asset_etl_poc_spark import suite

        twins = suite.oracle_sql()
        bad: dict[str, str] = {}
        svc, full = self.phase_frames
        for frame, twin in ((svc, "svc_phase1_dedup"), (full, "svc_phase2_parents")):
            rows = [tuple(r) for r in frame.collect()]
            why = oracle.mismatch(con, twins[twin], frame.columns, rows)
            if why:
                bad[twin] = why
        flat = suite._flatten_assets(self.spark.read.parquet(self.store))
        rows = [tuple(r) for r in flat.collect()]
        cols = flat.columns
        seen = {r[1] for r in rows}
        for atype, twin in self.STORE_TWINS.items():
            part = [r for r in rows if r[1] == atype]
            why = oracle.mismatch(con, twins[twin], cols, part)
            if why:
                bad[twin] = f"store: {why}"
        extra = seen - set(self.STORE_TWINS)
        if extra:
            bad["store"] = f"unexpected asset types {sorted(extra)}"
        return {"tick": "; ".join(f"{k}: {v}" for k, v in bad.items())} if bad else {}

    def layer_metrics(self, tracer, op_spans) -> dict[str, float]:
        ticks = []
        for op in op_spans:
            kids = {c.name: c for c in tracer.children(op)}
            up = kids["sinks.upsert_assets"]
            tick = tracer.figures(op)
            ticks.append(
                {
                    "sources.scan_rows": tick["input_rows"],
                    "sources.scan_bytes": tick["input_bytes"],
                    "plans.services.build_ms": kids["plans.services.build"].ms,
                    "plans.services.exec_ms": kids["plans.services.exec"].ms,
                    "plans.assets.build_ms": kids["plans.assets.build"].ms,
                    "sinks.upsert_ms": up.ms,
                    "sinks.upsert_jobs": up.job1 - up.job0,
                    "sinks.bytes_written": tracer.stage_sum(up, "output_bytes"),
                    "spark.jobs": tick["jobs"],
                    "spark.tasks": tick["tasks"],
                    "spark.gc_ms": tick["gc_ms"],
                    "spark.shuffle_w_bytes": tick["shuffle_w_bytes"],
                    "spark.spill_bytes": tick["spill_bytes"],
                    "driver_ms": tick["driver_ms"],
                }
            )
        out = {k: _median(t[k] for t in ticks) for k in ticks[0]} if ticks else {}
        # file counts of the same traced ticks (cold tick first)
        files = self.tick_files[-len(op_spans):] if op_spans else []
        for k in ("files_written", "store_files"):
            out[f"sinks.{k}"] = _median(f[k] for f in files)
        return out


class Catalog:
    """Queries of the catalog: graph fixpoint loops, a streaming drain and
    a mix of cheap planner-bound queries.  One op is one query, built and
    collected; a pass runs them all in order."""

    GRAPH = ["bfs_khop_custsupp"]
    STREAMING = ["svc_phase1_streaming"]
    MIX = [
        "union_scan_sources",
        "cube_status_priority",
        "collapse_top1_events",
        "dedup_exact_docs",
        "lang_id_docs",
    ]

    def __init__(self, spark, corpus_dir: str, work_dir: str):
        from elastic_asset_etl_poc_spark import suite

        self.spark = spark
        self.corpus = corpus_dir
        self.ops = self.GRAPH + self.STREAMING + self.MIX
        every = suite.queries()
        self.fns = {n: every[n] for n in self.ops}
        self.last: dict[str, tuple[list[str], list[tuple]]] = {}

    def run_op(self, name: str, tracer) -> None:
        with tracer.span("suite.build"):
            df = self.fns[name](self.spark, self.corpus)
        with tracer.span("suite.exec"):
            rows = [tuple(r) for r in df.collect()]
        self.last[name] = (df.columns, rows)

    def check(self, con) -> dict[str, str]:
        from elastic_asset_etl_poc_spark import suite

        twins = suite.oracle_sql()
        bad: dict[str, str] = {}
        for name in self.ops:
            if name not in self.last:
                bad[name] = "no output"
                continue
            cols, rows = self.last[name]
            why = oracle.mismatch(con, twins[name], cols, rows)
            if why:
                bad[name] = why
        return bad

    def layer_metrics(self, tracer, op_spans) -> dict[str, float]:
        passes: dict[int, list] = {}
        for op in op_spans:
            passes.setdefault(op.parent, []).append(op)
        per_pass = []
        for ops in passes.values():
            m: dict[str, float] = {}
            for op in ops:
                f = tracer.figures(op)
                kids = {c.name: c for c in tracer.children(op)}
                build = kids["suite.build"]
                in_build = build.job1 - build.job0
                for k, v in (
                    ("build_ms", build.ms),
                    ("exec_ms", kids["suite.exec"].ms),
                    ("jobs", f["jobs"]),
                    ("jobs_in_build", in_build),
                    ("tasks", f["tasks"]),
                    ("driver_ms", f["driver_ms"]),
                    ("gc_ms", f["gc_ms"]),
                ):
                    m[f"suite.{k}"] = m.get(f"suite.{k}", 0.0) + v
                m["suite.persisted_rdds"] = op.persisted_rdds  # after the pass
                if op.op in self.STREAMING:
                    m["streaming.ms"] = m.get("streaming.ms", 0.0) + f["ms"]
                    m["streaming.jobs"] = m.get("streaming.jobs", 0.0) + f["jobs"]
                if op.op in self.GRAPH:
                    for k in ("ms", "jobs", "driver_ms", "run_ms", "gc_ms",
                              "shuffle_w_bytes", "spill_bytes"):
                        m[f"operators.{op.op}.{k}"] = f[k]
                    m[f"operators.{op.op}.jobs_in_build"] = in_build
                    m[f"operators.{op.op}.persisted_rdds"] = op.persisted_rdds
            per_pass.append(m)
        if not per_pass:
            return {}
        return {k: _median(p.get(k, 0.0) for p in per_pass) for k in per_pass[0]}


WORKLOADS = {"asset_etl": AssetEtl, "catalog": Catalog}

#: ``events`` rows per workload, as a multiple of sf0.01's 10 000: the
#: asset job scans signals, the catalog's queries scan little of anything
EVENTS_SCALE = {"asset_etl": 10, "catalog": 1}

#: (cold, warm) pass seconds on a 4-core host with 6-10 % CPU steal.  A run
#: makes one cold pass and as many warm ones (at least 2) as these say fit
#: in ``--seconds``, so every run with the same ``--seconds`` does the same
#: work: at 36 s, 2 warm passes of each workload, which keeps a run near
#: 60 s with set-up and checks.
NOMINAL_PASS_S = {"asset_etl": (23.0, 10.0), "catalog": (20.0, 7.0)}
