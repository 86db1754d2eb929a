"""The benchmark's units of work, timed from outside the program.

Every call goes through a public function of the program: the registry
callables and ``similarity.ann_ivf`` for queries, ``orchestrate.etl_dag``
and ``run_dag`` for the ETL DAG, ``serving.serve_consumer_metrics`` with
an ``EmbeddedKVStore`` for the stream. Query results are forced through
a ``noop`` sink, never ``count()``, so Catalyst cannot prune the output
expressions.

Two workloads, each a closed loop with one client:

- ``queries``: one dashboard refresh (12 read-only panels, in a seeded
  order) followed by one curation pass (five registry queries plus the
  production IVF path with Lloyd refinement).
- ``pipelines``: one nightly ETL DAG run over the dirty ODS copy
  followed by one drain of a fixed stream backlog.
"""

from __future__ import annotations

import dataclasses
import logging
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np

from perfbench import sparkstats
from perfbench.spans import Tracer

PANELS = (
    "kpi_overview",
    "daily_sales",
    "sales_by_geography",
    "rfm_segments",
    "seller_performance",
    "delivery_performance",
    "order_status_distribution",
    "top_categories_by_revenue",
    "sales_master_join",
    "pricing_summary",
    "revenue_by_nation",
    "customer_order_distribution",
)
CURATION = (
    "dedup_minhash_lsh",
    "curated_pack",
    "embedding_knn",
    "text_quality",
    "gopher_quality",
)
PROD_IVF = "ann_ivf_prod"  # similarity.ann_ivf(..., lloyd_iters=2)
ETL_TASKS = ("ods", "stg", "dwh", "validate")

log = logging.getLogger("perfbench")
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while the tree was walked
        return None


def tree_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by the driver JVM and its descendants
    (Spark's Python workers) plus this process, counting processes that
    have exited through their parents' reaped-children totals. Time a
    hypervisor steals from the machine is never charged as CPU time."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (f := _stat(name)) is not None:
            pid = int(name)
            parent[pid] = int(f[1])
            # utime + stime + cutime + cstime
            ticks[pid] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, n in ticks.items():
        p = pid
        while p > 1 and p != jvm:
            p = parent.get(p, 0)
        total += n if p == jvm else 0
    t = os.times()
    return total * TICK_S + t.user + t.system + t.children_user + t.children_system


def timed_store(tracer: Tracer):
    """An ``EmbeddedKVStore`` whose ``apply_batch`` runs inside a span."""
    from ecom_etl_proj_spark.streaming.serving import EmbeddedKVStore

    class TimedStore(EmbeddedKVStore):
        def apply_batch(self, sink_id, epoch, ops):
            with tracer.span("streaming.serving.apply_batch"):
                tracer.count("streaming.serving.ops", len(ops))
                tracer.count("streaming.serving.batches", 1)
                return super().apply_batch(sink_id, epoch, ops)

    return TimedStore()


@dataclasses.dataclass
class UnitResult:
    wall_s: float
    cpu_s: float
    traced: bool
    op_s: list[float]


class Bench:
    """One benchmark process: a Spark session over generated inputs,
    the recorders, and the units of the chosen workload."""

    def __init__(self, workload: str, inputs, work_dir: str, seed: int) -> None:
        self.workload = workload
        self.inputs = inputs
        self.work_dir = work_dir
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.jvm_pid = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.units: list[UnitResult] = []
        self.setup_s = 0.0
        self._op_s: list[float] = []
        self.input_dir = inputs.clean_dir if workload == "queries" else inputs.dirty_dir
        self.panel_order = [
            PANELS[i] for i in np.random.default_rng(seed).permutation(len(PANELS))
        ]
        self.results: dict | None = None  # query outputs of the cold unit
        self.last_store = None
        self.last_dag = None

    # -- session lifecycle ------------------------------------------------

    def setup(self) -> None:
        """``get_spark`` (with its engine warmup) plus ``load_tables``."""
        from ecom_etl_proj_spark.catalog import load_tables
        from ecom_etl_proj_spark.session import get_spark

        self.tracer.unit = -1
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        with self.tracer.span("catalog.load_tables"):
            load_tables(self.spark, self.input_dir, register=False)
        self.setup_s = time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)

    # -- units --------------------------------------------------------------

    def run_unit(self, traced: bool, keep_results: bool = False) -> UnitResult:
        self.results = {} if keep_results else None
        self.tracer.enabled = traced
        self.tracer.unit = len(self.units)
        self._op_s = []
        before = sparkstats.persisted_rdds(self.spark)
        cpu0 = tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        with self.tracer.span("unit"):
            if self.workload == "queries":
                self.dashboard_refresh()
                self.curation_pass()
            else:
                self.etl_run()
                self.stream_drain()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(self.jvm_pid) - cpu0
        if traced:
            self.tracer.count(
                "spark.persisted_rdds_delta",
                sparkstats.persisted_rdds(self.spark) - before,
            )
        sparkstats.release_caches(self.spark)
        self.tracer.enabled = False
        res = UnitResult(wall, cpu, traced, self._op_s)
        self.units.append(res)
        return res

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        """Count one failed operation or output check."""
        self.failed += 1
        self.failures.append(what if exc is None else f"{what}: {exc!r}"[:300])
        if exc is not None:
            log.error("operation failed: %s", what, exc_info=exc)

    def _record_group(self, group: str, prefix: str) -> None:
        """Add one job group's Spark counters to the unit's totals and
        to ``prefix``'s own jobs, shuffle and output bytes."""
        with self.tracer.span("trace.read_counters"):
            sparkstats.drain_listener(self.spark)
            c = sparkstats.group_counters(self.spark, group)
        for name, v in c.items():
            self.tracer.count(f"spark.{name}", v)
        self.tracer.count(f"{prefix}.jobs", c["jobs"])
        self.tracer.count(
            f"{prefix}.shuffle_bytes",
            c["shuffle_read_bytes"] + c["shuffle_write_bytes"],
        )
        self.tracer.count(f"{prefix}.output_bytes", c["output_bytes"])

    @contextmanager
    def _group(self, name: str):
        """Job group around one operation, in traced units only."""
        if not self.tracer.enabled:
            yield None
            return
        group = f"pb-{self.tracer.unit}-{name}"
        with sparkstats.job_group(self.spark, group):
            yield group

    def query(self, name: str, build) -> None:
        """One query operation: build the plan, (traced: force the
        physical plan), then run it into a ``noop`` sink. The cold unit
        collects the result instead, for the output checks; neither
        sink lets Catalyst prune output expressions."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self._group(name) as group:
                with self.tracer.span(f"q.{name}.build"):
                    df = build()
                if group is not None:
                    with self.tracer.span(f"q.{name}.plan"):
                        df._jdf.queryExecution().executedPlan()
                with self.tracer.span(f"q.{name}.exec"):
                    if self.results is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        self.results[name] = df.toPandas()
            if group is not None:
                self._record_group(group, f"q.{name}")
        except Exception as exc:  # noqa: BLE001 - a failed op is data
            self.fail(name, exc)
        self._op_s.append(time.perf_counter() - t0)

    def dashboard_refresh(self) -> None:
        from ecom_etl_proj_spark.plans import registry

        qs = registry.queries()
        for name in self.panel_order:
            self.query(name, lambda n=name: qs[n](self.spark, self.input_dir))

    def curation_pass(self) -> None:
        from ecom_etl_proj_spark.catalog import load_tables
        from ecom_etl_proj_spark.operators import similarity
        from ecom_etl_proj_spark.plans import registry

        qs = registry.queries()
        for name in CURATION:
            self.query(name, lambda n=name: qs[n](self.spark, self.input_dir))
        tables = load_tables(self.spark, self.input_dir, register=False)
        self.query(PROD_IVF, lambda: similarity.ann_ivf(tables, lloyd_iters=2))

    def etl_run(self) -> None:
        from ecom_etl_proj_spark.pipelines import orchestrate

        out = os.path.join(self.work_dir, "lake")
        with self.tracer.span("etl.build"):
            tasks = orchestrate.etl_dag(self.spark, self.input_dir, out)
        tasks = [dataclasses.replace(t, fn=self._task(t.name, t.fn)) for t in tasks]
        self.attempted += len(tasks)
        try:
            with self.tracer.span("etl.run_dag"):
                results = orchestrate.run_dag(tasks)
        except Exception as exc:  # noqa: BLE001
            self.fail("run_dag", exc)
            return
        for name, r in results.items():
            if r.state != "success":
                self.fail(f"etl.{name} {r.state}: {r.error}")
        self.last_dag = (out, results)

    def _task(self, name: str, fn):
        def timed():
            t0 = time.perf_counter()
            try:
                with self._group(f"etl.{name}") as group:
                    with self.tracer.span(f"etl.{name}.exec"):
                        out = fn()
                if group is not None:
                    self._record_group(group, f"pipelines.batch.{name}")
                return out
            finally:
                self._op_s.append(time.perf_counter() - t0)

        return timed

    def stream_drain(self) -> None:
        """Drain the fixed backlog (one file per micro-batch) through the
        serving sink into a fresh store and checkpoint."""
        from ecom_etl_proj_spark.catalog import SCHEMAS
        from ecom_etl_proj_spark.streaming import serving

        ckpt = os.path.join(self.work_dir, "checkpoints", f"u{self.tracer.unit}")
        shutil.rmtree(ckpt, ignore_errors=True)
        store = timed_store(self.tracer)
        try:
            with self.tracer.span("stream.build"):
                events = (
                    self.spark.readStream.schema(SCHEMAS["events"])
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.inputs.stream_dir)
                )
            with self.tracer.span("stream.exec"):
                q = serving.serve_consumer_metrics(events, store, ckpt)
                q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        except Exception as exc:  # noqa: BLE001
            self.attempted += 1
            self.fail("stream", exc)
            return
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        self.attempted += len(progress)
        for p in progress:
            self._op_s.append(p.durationMs.get("triggerExecution", 0) / 1000.0)
        if self.tracer.enabled:
            self._record_stream(str(q.runId), progress)
        self.last_store = store
        shutil.rmtree(ckpt, ignore_errors=True)

    def _record_stream(self, run_id: str, progress) -> None:
        """Counters of one drain: Spark tags the query's jobs with its run
        id; the rest comes from ``StreamingQueryProgress``."""
        self._record_group(run_id, "streaming")
        t = self.tracer
        t.count("streaming.batches", len(progress))
        t.count("streaming.source_rows", sum(p.numInputRows for p in progress))
        t.count("streaming.events", self.inputs.stream_events)
        for key, name in (
            ("getBatch", "get_batch_s"),
            ("queryPlanning", "query_planning_s"),
            ("addBatch", "add_batch_s"),
            ("commitOffsets", "commit_s"),
        ):
            t.count(
                f"streaming.{name}",
                sum(p.durationMs.get(key, 0) for p in progress) / 1000.0,
            )

def unit_loop(bench: Bench, seconds: float, traced: bool) -> None:
    """Warm units in a closed loop for ``seconds``: a unit starts only
    if it is expected to end within the window, and at least one runs."""
    t0 = time.perf_counter()
    last = 0.0
    while last == 0.0 or time.perf_counter() - t0 + last <= seconds:
        last = bench.run_unit(traced=traced).wall_s
