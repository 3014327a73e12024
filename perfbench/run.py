"""Benchmark of record for the batch ETL engine.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One client thread issues one
operation at a time (closed loop) against the package on
local[N], N = the machine's core count. A pass processes the
workload's whole stated input; passes repeat until ``--seconds`` of
timed work have run. The last line of standard output is one JSON
object: ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics (see README.md)."""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "read_cpu_s": "s",
    "write_cpu_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "py_peak_rss_mb": "MB",
}
# Wall times of a pass: reported with the per-layer metrics, because on
# a shared host they follow the CPU time the host steals from the VM.
PASS_WALL = ("makespan_s", "read_s", "write_s")


def per_layer_names() -> dict[str, str]:
    from harness import SPARK_COUNTERS

    names = {}
    for kind in ("read", "write"):
        for c in SPARK_COUNTERS:
            names[f"spark.{c}.{kind}"] = "s" if c.endswith("_s") else (
                "bytes" if c.endswith("_bytes") else "count")
    names.update({
        "spark.plan_analysis_s": "s",
        "spark.plan_optimization_s": "s",
        "spark.plan_planning_s": "s",
        "sources.to_dataframe_s": "s",
        "sources.pages": "count",
        "pipelines.job_s.eia930": "s",
        "pipelines.job_s.openmeteo": "s",
        "pipelines.job_s.eia7a": "s",
        "pipelines.job_s.eia814": "s",
        "warehouse.merge_s": "s",
        "warehouse.merge_calls": "count",
        "warehouse.rows_appended_ratio": "ratio",
        "plans.build_s": "s",
        "plans.action_s": "s",
        "tables.load_table_s": "s",
        "tables.load_table_calls": "count",
        "tables.build_once.calls": "count",
        "tables.build_once.cold": "count",
        "tables.build_once.warm": "ratio",
        "tables.build_once.build_s": "s",
        "operators.dedup_s": "s",
        "operators.landing_s": "s",
        "operators.landing_jobs": "count",
        "operators.compact_s": "s",
        "operators.search_s": "s",
        "streaming.trigger_s": "s",
        "streaming.add_batch_s": "s",
        "streaming.overhead_s": "s",
        "meta_cache.entries": "count",
        "jvm.peak_rss_mb": "MB",
        "ops.read_p50_s": "s",
        "ops.write_p50_s": "s",
        "ops.read_tail_s": "s",
        "ops.read_tail_level": "quantile",
        "ops.read_samples": "count",
        "ops.write_tail_s": "s",
        "ops.write_tail_level": "quantile",
        "ops.write_samples": "count",
        "trace.overhead_s": "s",
    })
    names.update(dict.fromkeys(PASS_WALL, "s"))
    return names


# per-layer metric -> (span name, field of harness.layer_totals)
SPAN_METRICS = {
    "sources.to_dataframe_s": ("sources.to_dataframe", "total_s"),
    "pipelines.job_s.eia930": ("pipelines.eia930", "self_s"),
    "pipelines.job_s.openmeteo": ("pipelines.openmeteo", "self_s"),
    "pipelines.job_s.eia7a": ("pipelines.eia7a", "self_s"),
    "pipelines.job_s.eia814": ("pipelines.eia814", "self_s"),
    "warehouse.merge_s": ("warehouse.merge", "total_s"),
    "warehouse.merge_calls": ("warehouse.merge", "calls"),
    "plans.build_s": ("plans.build", "total_s"),
    "plans.action_s": ("plans.action", "total_s"),
    "tables.load_table_s": ("tables.load_table", "total_s"),
    "tables.load_table_calls": ("tables.load_table", "calls"),
    "tables.build_once.calls": ("tables.build_once", "calls"),
    "operators.dedup_s": ("operators.dedup", "total_s"),
    "operators.landing_s": ("operators.landing", "total_s"),
    "operators.compact_s": ("operators.compact", "total_s"),
    "operators.search_s": ("operators.search", "total_s"),
}


def span_metrics(totals: dict) -> dict[str, float]:
    return {m: float(totals[s][f]) for m, (s, f) in SPAN_METRICS.items() if s in totals}


def install_tracing(ctx) -> callable:
    """Wrap the package functions that the package itself calls (and
    that the workloads therefore cannot span from their own code):
    the warehouse merge, fixture loading and build-once."""
    import harness as H
    from batch_processing_etl_orchestration_spark import tables
    from batch_processing_etl_orchestration_spark.warehouse import catalog

    tracer = ctx.tracer

    def build_once_for(orig):
        def build_once(sf_dir, fixture_file, name, build, layout=1):
            def timed_build(path):
                t = time.perf_counter()
                build(path)
                ctx.add("tables.build_once.cold", 1)
                ctx.add("tables.build_once.build_s", time.perf_counter() - t)

            with tracer.span("tables.build_once"):
                return orig(sf_dir, fixture_file, name, timed_build, layout)

        return build_once

    undo = [
        H.patch_everywhere(catalog, "merge_idempotent",
                           lambda f: tracer.wrap("warehouse.merge", f)),
        H.patch_everywhere(tables, "load_table", lambda f: tracer.wrap("tables.load_table", f)),
        H.patch_everywhere(tables, "build_once", build_once_for),
    ]

    def restore():
        for u in reversed(undo):
            u()

    return restore


def meta_cache_entries() -> float:
    """Entries in the package's process-lifetime metadata caches."""
    from batch_processing_etl_orchestration_spark import tables
    from batch_processing_etl_orchestration_spark.operators import genstore, similarity

    return float(len(tables._FIXTURE_SCHEMA_CACHE) + len(genstore._STORE_SCHEMA_CACHE)
                 + len(similarity.IvfIndex._CENTROIDS_CACHE))


class Ctx:
    """What a workload sees: the session, the seed, its state dir, and
    ``op`` — the one way an operation is issued, timed and checked."""

    def __init__(self, spark, seed: int, state: str, trace: bool):
        import harness as H

        self.spark, self.seed, self.state = spark, seed, state
        self.tracer = H.Tracer(enabled=False)
        self.counters = H.SparkCounters(spark) if trace else None
        self.samples: dict[str, list[float]] = {"read": [], "write": []}
        self.cpu: dict[str, list[float]] = {"read": [], "write": []}
        self.tree_cpu_s = H.tree_cpu_s
        self.attempted = self.failed = 0
        self.op_id = 0
        self.layer: dict[str, float] = {}
        self.trace_s = 0.0  # time this pass spent in the tracing's own Spark calls

    def add(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0.0) + value

    def op(self, kind: str, label: str, fn):
        """Run one operation closed-loop and take its wall and CPU time;
        on a traced run, read the Spark jobs it ran."""
        self.op_id += 1
        self.attempted += 1
        tracing = self.tracer.enabled
        if tracing:
            t = time.perf_counter()
            self.tracer.op = self.op_id
            self.counters.begin(f"op{self.op_id}", f"{kind}:{label}")
            self.trace_s += time.perf_counter() - t
        c0 = self.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            if tracing:
                self.counters.collect(time.perf_counter() - t0)
            return None
        wall = time.perf_counter() - t0
        self.samples[kind].append(wall)
        self.cpu[kind].append(self.tree_cpu_s() - c0)
        if tracing:
            t = time.perf_counter()
            for k, v in self.counters.collect(wall).items():
                self.add(f"spark.{k}.{kind}", v)
            self.trace_s += time.perf_counter() - t
        return result


def workload_class(name: str):
    if name == "etl_ingest":
        from etl_ingest import EtlIngest
        return EtlIngest
    if name == "corpus_build":
        from corpus_build import CorpusBuild
        return CorpusBuild
    raise SystemExit(f"unknown workload {name!r}")


def run(args) -> dict:
    import harness as H

    cls = workload_class(args.workload)
    state = H.reset_dir(H.state_dir(CHECKOUT))
    H.confine_process(state)
    guard_roots = H.package_state_roots(CHECKOUT)
    before = {r: H.tree_snapshot(r) for r in guard_roots}

    cores = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = H.start_spark(state, cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, args.seed, state, bool(args.trace))
        wl = cls(ctx)
        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup_data()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.bootstrap()
        boot_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(setups) + boot_s

        tracer = ctx.tracer
        restore = install_tracing(ctx) if args.trace else (lambda: None)
        passes: list[dict] = []
        all_spans: list = []
        deadline = time.perf_counter() + args.seconds
        pass_no = 1
        try:
            while True:
                wl.prepare_pass(pass_no)
                tracer.enabled = bool(args.trace)
                tracer.spans = []
                ctx.layer = {}
                ctx.trace_s = 0.0
                if tracer.enabled:
                    ctx.counters.begin("idle", "between operations")
                    ctx.counters.collect(0.0)
                n_read, n_write = len(ctx.samples["read"]), len(ctx.samples["write"])
                H.collect_garbage(spark)
                c = H.tree_cpu_s()
                t = time.perf_counter()
                wl.run_pass(pass_no)
                wall = time.perf_counter() - t
                rec = {"makespan_s": wall,
                       "cpu_s": H.tree_cpu_s() - c,
                       "read_s": sum(ctx.samples["read"][n_read:]),
                       "write_s": sum(ctx.samples["write"][n_write:]),
                       "read_cpu_s": sum(ctx.cpu["read"][n_read:]),
                       "write_cpu_s": sum(ctx.cpu["write"][n_write:]),
                       "stored_ratio": wl.stored_bytes() / wl.input_bytes}
                if tracer.enabled:
                    rec["layer"] = dict(ctx.layer, **wl.pass_metrics(),
                                        **span_metrics(H.layer_totals(tracer.spans)))
                    calls = rec["layer"].get("tables.build_once.calls", 0.0)
                    if calls:
                        rec["layer"]["tables.build_once.warm"] = 1.0 - (
                            rec["layer"].get("tables.build_once.cold", 0.0) / calls)
                    rec["layer"]["meta_cache.entries"] = meta_cache_entries()
                    rec["layer"]["trace.overhead_s"] = ctx.trace_s
                    all_spans.extend(tracer.spans)
                tracer.enabled = False
                passes.append(rec)
                if (time.perf_counter() >= deadline
                        or pass_no + 1 >= getattr(wl, "max_passes", math.inf)):
                    break
                pass_no += 1
        finally:
            restore()
        t = time.perf_counter()
        wrong = wl.check()
        check_s = time.perf_counter() - t
        if args.trace:
            with open(os.path.join(state, "spans.jsonl"), "w") as f:
                for sp in all_spans:
                    f.write(json.dumps(sp.__dict__) + "\n")
        jvm_rss = H.peak_rss_mb(H.jvm_pid(spark))
    finally:
        H.stop_spark(spark)
        for entry in os.listdir(state):
            if entry != "spans.jsonl":
                shutil.rmtree(os.path.join(state, entry), ignore_errors=True)
    after = {r: H.tree_snapshot(r) for r in guard_roots}
    failed = ctx.failed
    for r in guard_roots:
        if before[r] != after[r]:
            failed += 1
            print(f"package state dir changed during the run: {r}", file=sys.stderr)
    for w in wrong:
        print(f"wrong result: {w}", file=sys.stderr)

    rs, ws = ctx.samples["read"], ctx.samples["write"]
    if args.trace:
        units = per_layer_names()
        metrics = {n: statistics.median([p["layer"].get(n, 0.0) for p in passes]) for n in units}
        for kind, samples in (("read", rs), ("write", ws)):
            level = H.tail_level(len(samples))
            metrics[f"ops.{kind}_p50_s"] = H.percentile(samples, 0.5)
            metrics[f"ops.{kind}_tail_s"] = H.tail(samples)
            metrics[f"ops.{kind}_tail_level"] = 1.0 if level is None else level
            metrics[f"ops.{kind}_samples"] = float(len(samples))
        metrics["jvm.peak_rss_mb"] = jvm_rss
        for k in PASS_WALL:
            metrics[k] = statistics.median([p[k] for p in passes])
    else:
        units = END_TO_END
        metrics = {
            "setup_s": setup_s,
            "cpu_s": statistics.median([p["cpu_s"] for p in passes]),
            "read_cpu_s": statistics.median([p["read_cpu_s"] for p in passes]),
            "write_cpu_s": statistics.median([p["write_cpu_s"] for p in passes]),
            "stored_bytes_per_input_byte": statistics.median([p["stored_ratio"] for p in passes]),
            "py_peak_rss_mb": H.peak_rss_mb(),
        }
    print(f"passes={len(passes)} reads={len(ctx.samples['read'])} "
          f"writes={len(ctx.samples['write'])} setups={[round(s, 3) for s in setups]} "
          f"session_s={session_s:.3f} boot_s={boot_s:.3f} "
          f"makespan_s={statistics.median([p['makespan_s'] for p in passes]):.3f} "
          f"check_s={check_s:.3f}", file=sys.stderr)
    return {
        "correct": not wrong and failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    sys.path.insert(0, HERE)
    sys.path.insert(0, CHECKOUT)
    try:
        import batch_processing_etl_orchestration_spark  # noqa: F401
    except ImportError as e:
        print(f"the package is not in this checkout: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
