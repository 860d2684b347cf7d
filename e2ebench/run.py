"""End-to-end benchmark of the BigDataSmallPrice pipeline.

Run from the repository root:

    python3 e2ebench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

It builds seeded inputs, sets the pipeline up on ``local[nproc]``,
triggers the workload's DAG runs through ``runs.RunRegistry`` until
``--seconds`` have passed (at least one iteration), checks every output,
and prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
enables a Spark event log and spans around each engine call and reports
the per-layer metrics instead. All files go under ``.e2ebench_work/`` in
the current directory and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOAD_NAMES = ("etl_daily", "train_daily")


def _env(work: str) -> None:
    """Keep every file Spark and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".e2ebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        import bigdatasmallprice_spark  # noqa: F401
    except ImportError as e:
        print(f"e2ebench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # left in place while another run uses it
        except OSError:
            pass


def run(args, work: str) -> int:
    import tracing
    import workloads as wl

    from bigdatasmallprice_spark.session import get_spark

    tracer = tracing.Tracer(bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})

    setup, iteration, verify, layers = wl.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    spark = get_spark(f"e2ebench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    b = wl.Bench(spark, tracer, work, args.seed, args.workload)
    proc = spark.sparkContext._gateway.proc
    setup_s, timed_jobs, mem = 0.0, set(), {}
    try:
        setup(b)
        setup_s = time.perf_counter() - t0

        tracker = spark.sparkContext.statusTracker()
        jobs_before = set(tracker.getJobIdsForGroup())
        t_measure, i = time.perf_counter(), 0
        while i == 0 or time.perf_counter() - t_measure < args.seconds:
            iteration(b, i)
            i += 1
        timed_jobs = set(tracker.getJobIdsForGroup()) - jobs_before
        verify(b)
        if args.trace:
            layers(b)
            wl.plans_layers(b)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        mem = {"mem.jvm_rss_mb": tracing.vm_hwm_mb(jvm_pid), "mem.py_rss_mb": tracing.vm_hwm_mb(os.getpid())}
    except Exception:
        traceback.print_exc()
        b.check("workload raised", False)
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)

    try:
        metrics = report(args, b, tracer, mem, setup_s, log_dir, timed_jobs)
    except Exception:
        traceback.print_exc()
        b.check("report raised", False)
        metrics = {}

    failed = [name for name, ok in b.checks if not ok]
    for name in failed:
        print(f"e2ebench: FAILED {name}", file=sys.stderr)
    attempted = len(b.checks)
    correct = not failed and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": len(failed) if attempted else 1, "metrics": metrics}))
    return 0 if correct else 1


def report(args, b, tracer, mem: dict, setup_s: float, log_dir: str, timed_jobs: set) -> dict:
    """The metrics block of the result line."""
    import tracing
    import workloads as wl

    first = [w for role, _, w in b.dag_runs if role == "first"]
    second = [w for role, _, w in b.dag_runs if role == "second"]
    if not (b.dag_runs and mem):
        return {}
    if args.trace:
        log = tracing.EventLog(log_dir)
        timed = [j for j in log.jobs.values()
                 if tracer.find("dag:first")[0].start <= j.submit <= tracer.find("dag:second")[-1].end]
        b.check(f"event log has the {len(timed_jobs)} timed jobs statusTracker saw",
                len(timed) == len(timed_jobs))
        wl.run_record_layers(b)
        wl.spark_layers(b, log)
        b.layer.update(mem)
        b.layer["trace.total_s"] = first[0] + second[0]
        b.layer["trace.self_ms"] = 1000 * tracer.self_s
        units = wl.per_layer_names()
        metrics = {n: {"value": float(b.layer.get(n, 0.0)), "unit": u} for n, u in units}
    else:
        metrics = {
            "first_run_s": {"value": statistics.median(first), "unit": "s"},
            "second_run_s": {"value": statistics.median(second), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": mem["mem.jvm_rss_mb"] + mem["mem.py_rss_mb"], "unit": "MB"},
        }
    return metrics


if __name__ == "__main__":
    sys.exit(main())
