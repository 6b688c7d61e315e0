"""The traced run: per-layer metrics from span shims and Spark's event log.

Layers are named after the engine's modules. The run installs span shims on
the public functions the workloads reach (at their import sites), times one
traced pass (the first in the JVM, as ``first_pass_s`` is), then, on
``omop_pretrain``, one forced-prefix pass, stops Spark so the event log is
complete, and folds
spans and log into the per-layer metrics. Every name is reported for every
workload; a layer a workload does not reach reads 0.
"""

from __future__ import annotations

import inspect
import os
import sys
import time

import harness
import trace as tr
from workloads import fold_df, progress_figures

#: omop modules the pretraining app reaches, each shimmed as one layer
OMOP_MODULES = ["events", "visits", "vocab", "decorators", "sequence"]
#: entry layers: the outermost span of every traced operation
ENTRY_LAYERS = ["apps", "queries", "streaming"]
SPARK_COUNTERS = tr.COUNTERS + ["core_util"]


def headline() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json order."""
    from workloads import StreamIngest

    names = ["session.build_s", "session.peak_rss_mb"]
    names += [f"sources.{m}" for m in (
        "read_s", "read_calls", "schema_cache_hit_ratio", "checkpoint_s", "write_s", "write_bytes")]
    names += [f"omop.{m}.{k}" for m in OMOP_MODULES for k in ("build_s", "rpc", "exec_s")]
    names += [f"queries.{q}.{k}" for q in headline() for k in ("build_s", "exec_s")]
    names += ["queries.build_rpc", "operators.closure.jobs", "plans.exchanges", "plans.scans"]
    names += [f"streaming.{op}.{k}" for op in StreamIngest.OPS for k in STREAM_FIGURES]
    names += [f"{layer}.{c}" for layer in ENTRY_LAYERS for c in SPARK_COUNTERS]
    names += ["apps.driver_gap_s", "trace.first_pass_s"]
    return names


STREAM_FIGURES = [
    "events_per_s", "batch_p50_s", "add_batch_s", "commit_s", "state_rows", "state_bytes", "late_rows"]

#: unit by name suffix, the first match wins
UNITS = {
    "_per_s": "1/s", "_rows": "count", "_s": "s", "_calls": "count", "_ratio": "ratio",
    "_bytes": "bytes", ".rpc": "count", "_rpc": "count", ".jobs": "count", ".exchanges": "count", ".scans": "count",
    ".stages": "count", ".stages_skipped": "count", ".tasks_failed": "count",
    ".core_util": "ratio", "_mb": "MB",
}


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def install_shims(tracer: tr.Tracer) -> None:
    """Shim the engine's public functions the workloads reach."""
    import importlib

    from cehrbert_data_spark.operators import closure
    from cehrbert_data_spark.sources import readers, writers

    for m in OMOP_MODULES:
        mod = importlib.import_module(f"cehrbert_data_spark.omop.{m}")
        for fname, fn in vars(mod).items():
            if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                    and not fname.startswith("_")):
                tracer.shim(fn, f"omop.{m}")
    for fn in (readers.read_parquet, readers.read_parquet_recursive):
        tracer.shim(fn, "sources.read")
    tracer.shim(readers.read_table, "sources.read_table")
    for fn in (writers.write_parquet, writers.write_split, writers.write_bucketed):
        tracer.shim(fn, "sources.write")
    tracer.shim(writers.checkpoint_barrier, "sources.checkpoint")
    tracer.shim(closure.transitive_closure, "operators.closure")

    cache = readers._SCHEMA_CACHE
    tracer.before["sources.read_table"] = lambda span, a, k: span.attrs.update(cache_n=len(cache))
    tracer.after["sources.read_table"] = (
        lambda span, a, k, r: span.attrs.update(hit=len(cache) <= span.attrs["cache_n"]))
    tracer.after["sources.write"] = (
        lambda span, a, k, r: span.attrs.update(bytes=dir_bytes(a[1] if len(a) > 1 else k["path"])))


def _dataframes(obj) -> list:
    from pyspark.sql import DataFrame

    if isinstance(obj, DataFrame):
        return [obj]
    if isinstance(obj, (tuple, list)):
        return [x for o in obj for x in _dataframes(o)]
    if isinstance(obj, dict):
        return [x for o in obj.values() for x in _dataframes(o)]
    return []


def plan_shape(df) -> tuple[int, int]:
    from cehrbert_data_spark.plans.budget import count_exchanges, physical_plan

    return count_exchanges(df), physical_plan(df, mode="simple").count("FileScan ")


class ForcedPrefix:
    """Hooks for the forced-prefix pass. Each omop call that enters its
    layer from outside has its returned DataFrames forced with the fold;
    the layer is charged the forced time beyond the largest forced time
    among the DataFrames the call received or got back from the calls it
    made. Every DataFrame handed to a sink has its plan shape recorded."""

    def __init__(self, tracer: tr.Tracer) -> None:
        self.tracer = tracer
        self.forced: dict[int, float] = {}  # id(DataFrame) -> forced seconds
        self.span_result: dict[int, float] = {}  # span index -> its result's forced seconds
        self.exec_s: dict[str, float] = {}
        self.shapes: list[tuple[int, int]] = []

    def hook(self, layer: str):
        def after(span, args, kwargs, result):
            spans = self.tracer.spans
            idx = next(i for i in range(len(spans) - 1, -1, -1) if spans[i] is span)
            if span.parent is not None and spans[span.parent].name == layer:
                return  # an inner call of the same layer
            upstream = [self.forced.get(id(d), 0.0) for d in _dataframes(args) + _dataframes(kwargs)]
            upstream += [t for i, t in self.span_result.items() if spans[i].parent == idx]
            spent = 0.0
            for d in _dataframes(result):
                t0 = time.time()
                fold_df(d).collect()
                self.forced[id(d)] = time.time() - t0
                spent = max(spent, self.forced[id(d)])
            self.span_result[idx] = spent
            self.exec_s[layer] = self.exec_s.get(layer, 0.0) + max(0.0, spent - max(upstream, default=0.0))
        return after

    def sink(self, span, args, kwargs):
        self.shapes.append(plan_shape(args[0]))

    def install(self) -> None:
        for m in OMOP_MODULES:
            self.tracer.after[f"omop.{m}"] = self.hook(f"omop.{m}")
        self.tracer.before["sources.write"] = self.sink


def traced_run(engine, cls, inp, manifest, work, seed: int) -> dict:
    """Return the run's result object with every per-layer metric. Spans and
    the event log stay under ``.perfbench/traces``."""
    trace_dir = os.path.join(
        os.path.dirname(engine.scratch), "traces", f"{cls.name}-s{seed}-{os.getpid()}")
    event_dir = os.path.join(trace_dir, "eventlog")
    os.makedirs(event_dir, exist_ok=True)

    # the same set-up as an untraced run, with the event log on
    wl, setup_s, build_s = harness.setup(
        engine, lambda s: cls(s, inp, manifest, work, seed), event_dir)
    tracer = tr.Tracer(engine.spark)
    install_shims(tracer)
    tracer.rpc.install()

    # the traced pass is the first pass in the JVM, as first_pass_s is
    tracer.enabled = True
    traced, _, attempted, failed = harness.timed_passes(wl, 0, tracer, 1)
    traced_spans = len(tracer.spans)

    # forced-prefix pass: its spans and jobs sit under the "forced" root
    forced = ForcedPrefix(tracer)
    forced.install()
    with tracer.span("forced"):
        if cls.name == "query_suite":
            # query results are forced by the suite itself: only plan shapes
            for q in wl.names:
                forced.shapes.append(plan_shape(fold_df(wl.fns[q](wl.spark, wl.rung))))
        elif cls.name == "omop_pretrain":
            _, _, n, bad = harness.timed_passes(wl, 0, tracer, 1)
            attempted, failed = attempted + n, failed + bad
    tracer.enabled = False
    tracer.rpc.uninstall()
    tracer.unshim()
    tracer.dump(os.path.join(trace_dir, "spans.jsonl"))
    rss = harness.vm_hwm_mb(engine.jvm_pid()) + harness.vm_hwm_mb("self")
    engine.stop()
    log = tr.parse_event_log(tr.event_log_files(event_dir))
    # a streaming query runs its jobs in a job group of its own run id
    runs = {rid: f"streaming.{op}" for rid, op in getattr(wl, "run_ids", {}).items()}
    log["groups"] = {runs.get(g, g): c for g, c in log["groups"].items()}
    log["jobs"] = [(runs.get(g, g), a, b) for g, a, b in log["jobs"]]

    spans = tracer.spans[:traced_spans]
    selfs = tr.self_times(spans)
    self_rpc = tr.self_counts(spans, "rpc")
    m = {name: 0.0 for name in per_layer_names()}
    m["session.build_s"] = build_s
    m["session.peak_rss_mb"] = rss

    for s, st, rpc in zip(spans, selfs, self_rpc):
        dur = s.end - s.start
        if s.name == "sources.read" or s.name == "sources.read_table":
            m["sources.read_s"] += dur
            m["sources.read_calls"] += 1
        elif s.name == "sources.write":
            m["sources.write_s"] += dur
            m["sources.write_bytes"] += s.attrs.get("bytes", 0)
        elif s.name == "sources.checkpoint":
            m["sources.checkpoint_s"] += dur
        elif s.name.startswith("omop."):
            m[f"{s.name}.build_s"] += st
            m[f"{s.name}.rpc"] += rpc
        elif s.name.startswith("streaming."):
            op = s.name[len("streaming."):]
            for k, v in progress_figures(wl.progress[op], s.end - s.start).items():
                m[f"streaming.{op}.{k}"] = v
        elif s.name.startswith("queries."):
            q, _, part = s.name[len("queries."):].partition(".")
            m[f"queries.{q}.{'exec_s' if part == 'exec' else 'build_s'}"] += dur
            if part != "exec":
                m["queries.build_rpc"] += s.rpc
    table_reads = [s for s in spans if s.name == "sources.read_table"]
    if table_reads:
        m["sources.schema_cache_hit_ratio"] = (
            sum(1 for s in table_reads if s.attrs.get("hit")) / len(table_reads))
    for layer, ex in forced.exec_s.items():
        m[f"{layer}.exec_s"] = ex
    if forced.shapes:
        m["plans.exchanges"] = sum(e for e, _ in forced.shapes)
        m["plans.scans"] = sum(s for _, s in forced.shapes)

    # Spark counters of the traced passes, per entry layer
    traced_groups = {g: c for g, c in log["groups"].items() if not g.startswith("forced")}
    for layer in ENTRY_LAYERS:
        c = tr.aggregate_paths(traced_groups, layer)
        roots = [s for s in spans if s.parent is None and s.name.split(".")[0] == layer]
        wall = sum(s.end - s.start for s in roots)
        for k in tr.COUNTERS:
            m[f"{layer}.{k}"] = c[k]
        m[f"{layer}.core_util"] = c["task_run_s"] / (wall * harness.cpus()) if wall else 0.0
    m["operators.closure.jobs"] = sum(
        1 for g, _, _ in log["jobs"] if not g.startswith("forced") and "operators.closure" in g)
    app_windows = [(s.start, s.end) for s in spans if s.parent is None and s.name.startswith("apps.")]
    m["apps.driver_gap_s"] = tr.driver_gap(log["jobs"], app_windows)

    m["trace.first_pass_s"] = traced[0]
    print(
        f"perfbench: traced {cls.name} seed={seed} setup={setup_s:.3f} "
        f"traced={[round(w, 3) for w in traced]} trace_dir={trace_dir}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()},
    }
