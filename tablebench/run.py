"""Table-client benchmark: one closed-loop client driving the table API.

Usage (from the repository root)::

    python3 tablebench/run.py --workload point_lookup --seed 1 --seconds 15 --trace 0

Workloads are listed in ``BENCHMARK.json`` and defined in
``tablebench/workloads.py``. A run generates its inputs from ``--seed``,
starts Spark as ``local[N]`` (N = min(4, usable CPUs)), builds the
workload's table ``SETUP_REPS`` times in fresh warehouses under
``.tablebench_work/`` in the repository root, and runs the workload's
untimed warm-up ops on one of those tables (set-up time is the Spark
start plus the median build plus that warm-up). The timed ops run in
``measure_blocks`` blocks of whole op cycles, ``--seconds`` seconds in
all, one after each of the last builds. Afterwards the run verifies every
op result against DuckDB and deletes its work directory.

stdout ends with one JSON line: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the layer functions are wrapped (see ``spans.py``),
whole op cycles alternate between traced and untraced, and the metrics
are per-layer numbers over the traced ops plus the tracing overhead.
The lines before it give sample counts, per-kind medians,
``failed_op_frac``, CPU count and load averages.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MAX_CORES = 4  # same Spark parallelism on any host with at least 4 CPUs
TAIL_PCT = 85


def _fail(msg: str) -> None:
    print(f"tablebench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail_ms(values: List[float]) -> float:
    """The ``TAIL_PCT``th percentile (``op_tail_ms``). A fixed percentile
    keeps the metric comparable across runs whose op counts differ; p85 is
    the highest with at least ten samples beyond it in a point_lookup run
    (70-80 ops). The detail line states how many samples lie beyond it."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[TAIL_PCT - 1]


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    # C1-only JIT: with full tiered compilation, op latency keeps falling
    # for the first ~30 s of a run as C2 recompiles Spark's hot paths,
    # which is longer than a run's timed loop; C1 settles within a cycle.
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:TieredStopAtLevel=1"
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("tablebench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(workload_name: str, seed: int, seconds: float, trace: bool, scale=None, corrupt: bool = False) -> Dict:
    """Run one workload; returns the result object (also used by the
    smoke test, which passes a small ``scale`` and ``corrupt=True`` to
    check that verification catches a wrong result)."""
    if not os.path.isfile(os.path.join(ROOT, "iceberg_python_spark", "__init__.py")):
        _fail(f"no iceberg_python_spark package under {ROOT}")
    import duckdb

    from tablebench import workloads
    from tablebench.spans import Tracer

    if workload_name not in workloads.WORKLOADS:
        _fail(f"unknown workload {workload_name!r}; choose from {sorted(workloads.WORKLOADS)}")
    scale = scale or workloads.FULL
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".tablebench_work", f"{workload_name}-{seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temporary file inside the checkout (the JVM's perf data
    # would otherwise go to /tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    # executors import the package from the checkout, not site-packages
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    load_start = os.getloadavg()[0]

    spark = None
    con = duckdb.connect()
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        spark.sparkContext.setLogLevel("ERROR")
        spark_start_s = time.perf_counter() - t0

        from iceberg_python_spark import SqliteCatalog

        wl = workloads.WORKLOADS[workload_name](scale, seed, work, con)
        wl.make_inputs()
        stream = wl.ops()
        tracer = None
        if trace:
            tracer = Tracer()
            tracer.install()  # disabled until a timed op starts
        builds: List[float] = []
        done: List = []
        catalog = None
        first_block = SETUP_REPS - wl.measure_blocks
        for rep in range(SETUP_REPS):
            wh = os.path.join(work, f"warehouse{rep}")
            t0 = time.perf_counter()
            cat = SqliteCatalog("bench", wh, spark)
            wl.build(spark, cat)
            builds.append(time.perf_counter() - t0)
            if rep < first_block:
                shutil.rmtree(wh)
                continue
            if catalog is None:
                # ops run on this build's table; untimed ops first, so no
                # timed op pays a first-use cost (Python workers, JIT, cold
                # code paths)
                catalog = cat
                t0 = time.perf_counter()
                warm = wl.warmup_ops()
                for op in warm:
                    _attempt(wl, catalog, op, None)
                warmup_s = time.perf_counter() - t0
                # measured after the fixed warm-up ops, not after the timed
                # ops, whose number depends on the host's speed
                stored_ratio = wl.live_bytes_ratio(catalog)
            else:
                shutil.rmtree(wh)  # a later build only times set-up
            _timed_block(wl, catalog, stream, seconds / wl.measure_blocks, tracer, done)
        table_build_s = statistics.median(builds)
        gc.unfreeze()
        if tracer is not None:
            tracer.uninstall()

        checked = warm + done
        if corrupt:
            wl.corrupt(catalog, done)
        wl.verify(catalog, checked)
        wl.count_rows(catalog, done)
    finally:
        con.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    failed = sum(1 for op in checked if op.error is not None or not op.ok)
    measured = [op for op in done if not op.traced]
    ms = [op.ms for op in measured]
    total_s = sum(ms) / 1e3
    tail = tail_ms(ms) if ms else None
    kinds = sorted({op.kind for op in measured})
    rows = sum(op.rows for op in measured)
    detail = {
        "workload": workload_name,
        "seed": seed,
        "ops": len(done),
        "ops_untraced": len(measured),
        "samples_beyond_tail": sum(1 for v in ms if tail is not None and v > tail),
        "failed_op_frac": failed / len(checked),
        "errors": sorted({op.error for op in checked if op.error})[:5],
        "kind_p50_ms": {k: statistics.median([op.ms for op in measured if op.kind == k]) for k in kinds},
        "rows_per_s": rows / total_s if rows else None,
        "setup_builds_s": builds,
        "spark_start_s": spark_start_s,
        "warmup_s": warmup_s,
        "nproc": os.cpu_count(),
        "master": f"local[{cores}]",
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
    }
    if trace:
        traced = [op for op in done if op.traced]
        metrics = {k: (v, _unit(k)) for k, v in tracer.layer_metrics(len(traced)).items()}
        metrics["setup.spark_start_s"] = (spark_start_s, "s")
        metrics["setup.table_build_s"] = (table_build_s, "s")
        metrics["setup.warmup_s"] = (warmup_s, "s")
        metrics["trace.overhead_ms"] = (_overhead(traced, measured), "ms/op")
        metrics["trace.spans"] = (float(len(tracer.spans)), "count")
        detail["spans"] = {k: [round(x, 3) for x in v] for k, v in sorted(tracer.summary().items())}
    else:
        metrics = {
            "setup_s": (spark_start_s + table_build_s + warmup_s, "s"),
            "op_p50_ms": (statistics.median(ms), "ms"),
            "op_tail_ms": (tail, "ms"),
            "ops_per_s": (len(ms) / total_s, "1/s"),
            "bytes_stored_per_live_byte": (stored_ratio, "ratio"),
        }
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": len(checked),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _timed_block(wl, catalog, stream, seconds: float, tracer, done: List) -> None:
    """Timed ops until the first cycle boundary after ``seconds``, so every
    block runs whole cycles of the same mix. With a tracer, whole cycles
    alternate between traced and untraced, starting traced."""
    # set-up garbage stays out of the timed ops' collections
    gc.collect()
    gc.freeze()
    n = len(wl.kinds)
    start = len(done)
    deadline = time.perf_counter() + seconds
    while (len(done) - start) % n or time.perf_counter() < deadline:
        op = next(stream)
        if tracer is not None:
            op.traced = (len(done) // n) % 2 == 0
            tracer.enabled = op.traced
            tracer.op = op.index
            span = tracer.begin("op")
        _attempt(wl, catalog, op, tracer)
        if tracer is not None:
            tracer.finish(span)
            tracer.enabled = False
        done.append(op)


def _attempt(wl, catalog, op, tracer) -> None:
    """Run one op and time it; an op that raises (such as a
    ``CommitFailedException``) is recorded and the run goes on."""
    t0 = time.perf_counter()
    try:
        wl.run(catalog, op, tracer)
    except Exception as e:
        op.error = f"{type(e).__name__}: {e}"
    op.ms = (time.perf_counter() - t0) * 1e3


def _unit(name: str) -> str:
    if name.endswith(".ms") or name.endswith("_ms"):
        return "ms/op"
    if name.endswith("bytes") or name.endswith("bytes_rewritten"):
        return "B/op"
    if name == "metadata.bytes_per_commit":
        return "B"
    if name == "plan.prune_ratio":
        return "ratio"
    return "1/op"


def _overhead(traced, untraced) -> float:
    """Mean traced minus mean untraced op time, per kind, weighted by the
    kind's share of the traced ops."""
    total = 0.0
    for kind in {op.kind for op in traced}:
        a = [op.ms for op in traced if op.kind == kind]
        b = [op.ms for op in untraced if op.kind == kind]
        if b:
            total += len(a) * (statistics.fmean(a) - statistics.fmean(b))
    return total / max(len(traced), 1)


def main(argv=None) -> None:
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        _fail("--seconds must be positive")
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    d = out["detail"]
    for k, v in out["result"]["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    for kind, v in d["kind_p50_ms"].items():
        print(f"{kind}_p50_ms = {v:.6g} ms")
    if d["rows_per_s"] is not None:
        print(f"rows_per_s = {d['rows_per_s']:.6g} rows/s")
    if d["ops_untraced"]:
        print(f"op_tail_ms is p{TAIL_PCT} of {d['ops_untraced']} untraced ops ({d['samples_beyond_tail']} beyond it)")
    print(f"failed_op_frac = {d['failed_op_frac']:.6g} (attempted {out['result']['attempted']})")
    print("detail " + json.dumps(d, default=str))
    print(json.dumps(out["result"]))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
