"""Metric names, units and how each is computed from a finished run.

End-to-end metrics come from untraced units. The gated ones are the
set-up wall time and the CPU seconds the driver process tree (JVM,
Spark's Python workers, this process) spends on one warm unit: what the
work costs. Wall
times (``cold_s``, ``unit_s``), the cold unit's CPU seconds, operation
latency (p50, and p90 where at least ten samples lie beyond it), the
error rate and peak memory are printed with them but not gated. On a
4-vCPU virtual machine whose host steals CPU time, a unit's wall time
moved by 20 to 30% between runs (the interquartile range over ten
runs), past any usable bound, while stolen time is never charged as
CPU time; the warm unit's CPU seconds moved 8 to 14%, a quarter of
them still JIT compilation. Peak RSS moves with the JVM's heap
sizing by about 15%. A run holds one warm unit of 6 to 18
heterogeneous operations, too few for a latency median that repeats.

Per-layer metrics come
from the traced units of a ``--trace 1`` run: each is the mean per
traced unit of a span total or a Spark counter, named after the
program module (or Spark layer) it measures.

Which end-to-end metric each layer should move, and on which workload
(the other workload is predicted not to change):

====================================================  ==================  =========
layer metrics                                         moves               workload
====================================================  ==================  =========
session.get_spark_s, catalog.load_tables_s            setup_s, cold_s     both
operators.build_s, spark.plan_s, q.<query>.*          unit_cpu_s, op_*    queries
spark.exec_s, jobs, stages, tasks, failed_tasks       unit_cpu_s          both
spark.executor_run_s, executor_cpu_s,                 unit_cpu_s          both
core_busy_ratio
spark.input/shuffle/spill/output bytes                unit_cpu_s          both
spark.persisted_rdds_delta                            peak_rss_mb         queries
pipelines.batch.*, pipelines.orchestrate.overhead_s   unit_cpu_s, op_*    pipelines
streaming.*, streaming.serving.*                      unit_cpu_s, op_*    pipelines
====================================================  ==================  =========
"""

from __future__ import annotations

from collections import defaultdict

from perfbench import sparkstats
from statistics import median

from perfbench.spans import percentile, tail_supported
from perfbench.workloads import CURATION, ETL_TASKS, PANELS, PROD_IVF

END_TO_END = {
    "setup_s": "s",
    "unit_cpu_s": "s",
}

QUERIES = (*PANELS, *CURATION, PROD_IVF)


def _unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_per_event", "_per_input_byte")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [
        "session.get_spark_s",
        "catalog.load_tables_s",
        "operators.build_s",
        "spark.plan_s",
        "spark.exec_s",
        *(f"spark.{c}" for c in sparkstats.COUNTERS),
        "spark.core_busy_ratio",
        "spark.persisted_rdds_delta",
    ]
    for t in ETL_TASKS:
        names += [
            f"pipelines.batch.{t}_s",
            f"pipelines.batch.{t}_jobs",
            f"pipelines.batch.{t}_shuffle_bytes",
        ]
    names += [
        "pipelines.batch.bytes_written_per_input_byte",
        "pipelines.orchestrate.overhead_s",
        "streaming.get_batch_s",
        "streaming.query_planning_s",
        "streaming.add_batch_s",
        "streaming.commit_s",
        "streaming.jobs_per_batch",
        "streaming.source_rows_per_event",
        "streaming.serving.apply_batch_s",
        "streaming.serving.ops_per_batch",
        "trace.unit_s",
        "trace.overhead_s",
    ]
    for q in QUERIES:
        names += [f"q.{q}.build_s", f"q.{q}.plan_s", f"q.{q}.exec_s", f"q.{q}.jobs"]
    return names


PER_LAYER = {n: _unit_of(n) for n in per_layer_names()}


def _warm(bench) -> list:
    return [u for u in bench.units[1:] if not u.traced]


def end_to_end(bench) -> dict[str, float]:
    return {
        "setup_s": bench.setup_s,
        "unit_cpu_s": median([u.cpu_s for u in _warm(bench)]),
    }


def reported(bench, peak_rss_mb: float) -> dict[str, tuple[float | str, str]]:
    """Wall times, operation latency, error rate and memory: printed,
    not gated (see the module docstring)."""
    warm = _warm(bench)
    ops = [s for u in warm for s in u.op_s]
    return {
        "cold_s": (bench.units[0].wall_s, "s"),
        "cold_cpu_s": (bench.units[0].cpu_s, "s"),
        "unit_s": (median([u.wall_s for u in warm]), "s") if warm else ("no warm unit", ""),
        "warm_ops": (len(ops), "count"),
        "op_p50_s": (median(ops), "s") if ops else ("no warm op", ""),
        "op_p90_s": (percentile(ops, 0.9), "s") if tail_supported(len(ops), 0.9)
        else (f"omitted: {len(ops)} samples, fewer than 10 beyond p90", ""),
        "error_rate": (bench.failed / bench.attempted, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _safe_div(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(bench, cores: int, ods_input_bytes: int) -> dict[str, float]:
    """Mean per traced unit of every per-layer metric."""
    tr = bench.tracer
    self_t = tr.self_times()
    setup_spans: dict[str, float] = defaultdict(float)
    per_unit: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tr.spans:
        dur = s.end - s.start
        if s.unit < 0:
            setup_spans[s.name] += dur
            continue
        u = per_unit[s.unit]
        kind = s.name.rsplit(".", 1)[-1]
        if s.name.startswith("q."):
            u[f"{s.name}_s"] += dur
        if kind == "build":
            u["operators.build_s"] += dur
        elif kind == "plan":
            u["spark.plan_s"] += dur
        elif kind == "exec":
            u["spark.exec_s"] += dur
        if s.name.startswith("etl.") and kind == "exec":
            u[f"pipelines.batch.{s.name.split('.')[1]}_s"] += dur
        elif s.name == "etl.run_dag":
            u["pipelines.orchestrate.overhead_s"] += self_t[s.id]
        elif s.name == "streaming.serving.apply_batch":
            u["streaming.serving.apply_batch_s"] += dur
        if kind == "plan" or s.name == "trace.read_counters":
            u["trace.overhead_s"] += dur
    for (unit, name), v in tr.counters.items():
        per_unit[unit][name] += v
    traced = [(i, u) for i, u in enumerate(bench.units) if u.traced]
    rows = []
    for i, unit in traced:
        u = per_unit[i]
        u["trace.unit_s"] = unit.wall_s
        u["spark.core_busy_ratio"] = _safe_div(
            u["spark.executor_run_s"], unit.wall_s * cores
        )
        for t in ETL_TASKS:
            u[f"pipelines.batch.{t}_jobs"] = u[f"pipelines.batch.{t}.jobs"]
            u[f"pipelines.batch.{t}_shuffle_bytes"] = u[f"pipelines.batch.{t}.shuffle_bytes"]
        written = sum(u[f"pipelines.batch.{t}.output_bytes"] for t in ETL_TASKS)
        u["pipelines.batch.bytes_written_per_input_byte"] = _safe_div(
            written, ods_input_bytes
        )
        u["streaming.jobs_per_batch"] = _safe_div(u["streaming.jobs"], u["streaming.batches"])
        u["streaming.source_rows_per_event"] = _safe_div(
            u["streaming.source_rows"], u["streaming.events"]
        )
        u["streaming.serving.ops_per_batch"] = _safe_div(
            u["streaming.serving.ops"], u["streaming.serving.batches"]
        )
        rows.append(u)
    out = {}
    for name in PER_LAYER:
        if name in ("session.get_spark_s", "catalog.load_tables_s"):
            out[name] = setup_spans[name[:-2]]
        else:
            out[name] = sum(r.get(name, 0.0) for r in rows) / len(rows)
    return out
