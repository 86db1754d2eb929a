"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from the seed, starts a fresh single-process Spark session at
``local[<nproc>]``, runs one cold unit (whose outputs are checked) and
then warm units in a closed loop for ``--seconds``, and stops the
driver JVM before it exits. Everything it writes stays under
``.bench_work/`` in the checkout; traced runs leave their spans in
``.bench_work/traces/``.

Lines before it report the inputs, the host (including stolen CPU
ticks) and the metrics that are printed but not gated. The last line of
standard output is one JSON object: the gated end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("queries", "pipelines")

# Input sizes (fraction of BASE_ROWS) and the stream backlog.
SCALE = 0.005
STREAM_FILES = 2
EVENTS_PER_FILE = 2000


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _program_present() -> bool:
    """The program must come from this checkout, not from anywhere else."""
    pkg = os.path.join(ROOT, "ecom_etl_proj_spark", "__init__.py")
    if not os.path.isfile(pkg):
        return False
    sys.path.insert(0, ROOT)
    import ecom_etl_proj_spark

    return os.path.abspath(ecom_etl_proj_spark.__file__) == pkg


def _isolate(work: str) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    the run's own directory inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": "2g",
        # both JVMs (launcher and driver): temp files here, and no
        # hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_ticks() -> dict[str, int]:
    """Host-wide busy and stolen CPU ticks (steal is time this machine's
    virtual CPUs waited for the hypervisor)."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": f[0] + f[1] + f[2], "steal": f[7] if len(f) > 7 else 0}


def _host(cores: int) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "master": f"local[{cores}]",
        "loadavg_start": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _checks(bench, inputs) -> list[str]:
    """Check what the cold unit produced."""
    from perfbench import checks
    from perfbench.workloads import CURATION, PROD_IVF

    res = bench.results
    if bench.workload == "queries":
        con = checks.duck_over(inputs.clean_dir)
        bad = checks.oracle_parity(res, con, [*bench.panel_order, *CURATION])
        if "embedding_knn" in res and PROD_IVF in res:
            return bad + checks.ivf_recall(res["embedding_knn"], res[PROD_IVF])
        return bad + [f"{PROD_IVF}: no result"]
    bad = []
    if bench.last_dag is None:
        bad.append("etl: no completed DAG run")
    else:
        bad += checks.etl_outputs(inputs.dirty_dir, *bench.last_dag)
    if bench.last_store is None:
        return bad + ["stream: no completed drain"]
    return bad + checks.stream_store(bench.last_store, inputs.stream_dir)


def run(args) -> dict:
    from perfbench import inputs as gen
    from perfbench import report
    from perfbench.workloads import Bench, unit_loop

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    host = _host(cores)
    _isolate(work)
    t0 = time.perf_counter()
    inputs = gen.generate(
        os.path.join(work, "inputs"), args.seed, SCALE, STREAM_FILES, EVENTS_PER_FILE
    )
    gen_s = time.perf_counter() - t0

    bench = Bench(args.workload, inputs, work, args.seed)
    phases = {"inputs": gen_s}
    ticks0 = _cpu_ticks()

    def phase(name: str, t: float) -> float:
        now = time.perf_counter()
        phases[name] = round(now - t, 3)
        return now

    try:
        t = time.perf_counter()
        bench.tracer.enabled = bool(args.trace)
        bench.setup()
        t = phase("setup", t)
        # cold: the first unit a new driver pays; its outputs are checked
        bench.run_unit(traced=False, keep_results=True)
        t = phase("cold_unit", t)
        for msg in _checks(bench, inputs):
            bench.fail(f"check {msg}")
        t = phase("checks", t)
        unit_loop(bench, args.seconds, traced=bool(args.trace))
        t = phase("warm_units", t)
        rss = _hwm_mb("self") + _hwm_mb(bench.jvm_pid)
    finally:
        bench.shutdown()
    phase("shutdown", t)
    ticks = {k: v - ticks0[k] for k, v in _cpu_ticks().items()}
    host["cpu_ticks"] = ticks

    from ecom_etl_proj_spark.pipelines.batch import ODS_TABLES

    ods_bytes = sum(
        os.path.getsize(os.path.join(inputs.dirty_dir, f"{t}.parquet"))
        for t in ODS_TABLES
    )
    if args.trace:
        metrics, units = report.per_layer(bench, cores, ods_bytes), report.PER_LAYER
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        bench.tracer.dump(os.path.join(
            work_root, "traces", f"{args.workload}-s{args.seed}.jsonl"
        ))
    else:
        metrics, units = report.end_to_end(bench), report.END_TO_END
    info = {
        "workload": args.workload,
        "host": host,
        "inputs": inputs.properties,
        "phases_s": phases,
        "input_bytes": gen.tree_bytes(os.path.join(work, "inputs")),
        "units": len(bench.units),
        "traced_units": sum(u.traced for u in bench.units),
        "failures": bench.failures,
        "panel_order": bench.panel_order if args.workload == "queries" else None,
    }
    shutil.rmtree(work, ignore_errors=True)
    for k, v in info.items():
        print(f"# {k}: {json.dumps(v)}")
    for name, (value, unit) in report.reported(bench, rss).items():
        shown = value if isinstance(value, str) else f"{value:.6g} {unit}"
        print(f"{name} = {shown} (not gated)")
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        return _fail(f"no ecom_etl_proj_spark package under {ROOT}")
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
