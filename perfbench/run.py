"""Warehouse benchmark: seeded inputs, timed end to end and per layer.

Run from the root of the repository:

    python3 perfbench/run.py --workload etl_dense_month --seed 1 \\
        --seconds 20 --trace 0

Prints progress on stderr and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics (:data:`END_TO_END`); ``--trace 1`` runs
the same workload with spans and Spark's job/stage counters and reports
the per-layer metrics (:data:`PER_LAYER`), a layer that the workload
does not run reading 0. Spans go to ``.perfbench_work/traces/``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root (Spark's local and temp directories included) and is
removed at the end, the span files excepted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the package under test (and bench.py's query list) is the checkout
# this file sits in
sys.path.insert(0, ROOT)

import workloads  # noqa: E402

#: name -> (unit, better); the union of what every workload reports
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
}

_LAYER_COUNTERS = {
    "s": ("s", "lower"), "jobs": ("count", "lower"),
    "tasks": ("count", "lower"), "cpu_s": ("s", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {
        # the traced run's own end-to-end figures, next to the untraced
        "etl_s": ("s", "lower"),
        "increment_p50_s": ("s", "lower"),
        "stream_day_p50_s": ("s", "lower"),
        "corpus_total_s": ("s", "lower"),
        "query_p50_s": ("s", "lower"),
        "query_tail_s": ("s", "lower"),
        "query_n": ("count", "higher"),
        "trace_overhead_s": ("s", "lower"),
        "warehouse_bytes_per_input_byte": ("ratio", "lower"),
        "failed_ops_ratio": ("ratio", "lower"),
        "peak_rss_mb": ("MB", "lower"),
    }
    for layer in ("ingest", "cleanse", "dim_time", "dim_location",
                  "dim_product", "fact", "cube", "write"):
        for c, spec in _LAYER_COUNTERS.items():
            m[f"{layer}.{c}"] = spec
        if layer != "write":
            m[f"{layer}.rows"] = ("count", "higher")
    m["fact.spill_bytes"] = m["cube.spill_bytes"] = ("bytes", "lower")
    m["cleanse.useful_ratio"] = ("ratio", "higher")
    m["write.bytes"] = ("bytes", "lower")
    m["write.files"] = ("count", "lower")
    for bucket in ("cleansed", "invalid", "time_dimension",
                   "location_dimension", "product_dimension", "fact",
                   "unattributed"):
        m[f"etl.{bucket}.jobs"] = ("count", "lower")
    m["etl.layer_sum_over_etl"] = ("ratio", "higher")
    for layer in ("merge_time", "merge_location", "merge_product", "append"):
        for c in ("s", "jobs", "tasks"):
            m[f"{layer}.{c}"] = _LAYER_COUNTERS[c]
    m["append.files"] = ("count", "lower")
    for op in ("increment", "stream"):
        for c in ("jobs", "tasks"):
            m[f"{op}.{c}"] = _LAYER_COUNTERS[c]
    for part in ("addBatch", "queryPlanning", "walCommit"):
        m[f"stream.{part}_ms"] = ("ms", "lower")
    for q in workloads.HEADLINE:
        m[f"query.{q}.s"] = ("s", "lower")
    for c in ("jobs", "tasks", "cpu_s", "shuffle_bytes"):
        m[f"query.all.{c}"] = _LAYER_COUNTERS[c]
    m["query.all.spill_bytes"] = ("bytes", "lower")
    return m


PER_LAYER = _per_layer()


def _session(work: str):
    """The program's own session factory, with every scratch path of
    Spark and the JVM inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no /tmp/hsperfdata files from the launcher JVM or the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    from sales_data_warehouse_spark import get_spark

    spark = get_spark(
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap: GC behaviour that does not depend on how
            # the heap happened to grow in a run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # the traced run reads every job and stage of the run back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to
    exit: the JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(
        base, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work)
        session_s = time.perf_counter() - t0
        run = workloads.Run(spark, work, args.seed, args.seconds,
                            bool(args.trace))
        w = workloads.WORKLOADS[args.workload](run)
        inputs_s = w.setup()
        warm_up_s = w.warm_up()
        setup_s = session_s + inputs_s + warm_up_s
        _log(f"set up in {setup_s:.2f} s (session {session_s:.2f} s, "
             f"inputs {inputs_s:.2f} s, warm-up {warm_up_s:.2f} s)")
        if run.tracer is not None:
            run.tracer.skip_existing_jobs()
        t0, before = time.perf_counter(), run.attempted
        w.measure()
        _log(f"measured {run.attempted - before} ops in "
             f"{time.perf_counter() - t0:.2f} s; {run.failed} failed of "
             f"{run.attempted}")
        if args.trace:
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(w.layers())
            values["failed_ops_ratio"] = run.failed / max(1, run.attempted)
            values["peak_rss_mb"] = run.peak_rss_mb()
            unknown = set(values) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"undeclared metrics: {sorted(unknown)}")
            metrics = {k: {"value": values[k], "unit": PER_LAYER[k][0]}
                       for k in PER_LAYER}
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.write(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = {"setup_s": setup_s, **w.metrics()}
            metrics = {k: {"value": values[k], "unit": END_TO_END[k][0]}
                       for k in END_TO_END}
        result = {
            "correct": run.failed == 0 and run.attempted > 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
