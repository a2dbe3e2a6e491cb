#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload files_nightly --seed 1 --seconds 20 --trace 0

Run from the repository root. One run = one fresh process: generate the
seeded inputs, build the session and load the job spec (``setup_s``),
run the job once cold (``cold_job_s``), run it a few times untimed to
let the JIT settle, then run it back to back for ``--seconds`` seconds
and report medians over those timed runs. The outputs of the last run
are checked against an independent computation. The last line of
stdout is one JSON object: ``correct``, ``attempted`` and ``failed``
job runs, and ``metrics`` — the end-to-end metrics, or with
``--trace 1`` the per-layer metrics (see README.md). It is printed
whenever a job run was attempted: a failed check or a raised job run
gives ``correct: false``, the metrics measured so far and exit code 1.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import procstats  # noqa: E402
from workloads import CORES, JAVA_OPTIONS, WORKLOADS  # noqa: E402

WARMUP_RUNS = 1
MIN_TIMED_RUNS = 3


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _pids() -> list[int]:
    jvm = _jvm_pid()
    if jvm is None:
        return [os.getpid()]
    return [os.getpid(), jvm, *procstats.descendants(jvm)]


def _stop_jvm() -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM is killed below
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "derby", "events"):
        (work / sub).mkdir(parents=True)
    # everything Spark, Derby and Python write stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")

    wl = WORKLOADS[args.workload](work, args.seed)
    t_gen = time.perf_counter()
    cfg = wl.generate()
    gen_s = time.perf_counter() - t_gen

    attempted = failed = 0
    errors: list[str] = []
    metrics: dict[str, dict] = {}
    spark = tracer = None
    try:
        # --- set-up: imports, spec, session (inputs excluded) ----------
        from orion_etl_oracle_to_postgres_spark import compiler
        from orion_etl_oracle_to_postgres_spark.session import _DEFAULT_CONF, get_spark
        from orion_etl_oracle_to_postgres_spark.spec import load_job_spec

        t1 = time.perf_counter()
        job = load_job_spec(str(cfg))
        spec_s = time.perf_counter() - t1
        conf = dict(job.global_spec.spark_conf)
        # the job's JVM flags go after the session's own, which stay in force
        conf[JAVA_OPTIONS] = f"{_DEFAULT_CONF.get(JAVA_OPTIONS, '')} {conf[JAVA_OPTIONS]}".strip()
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t2 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{wl.name}", master=f"local[{CORES}]", extra_conf=conf)
        start_s = time.perf_counter() - t2
        setup_s = procstats.process_age_s() - gen_s
        spark.sparkContext.setLogLevel("ERROR")

        t3 = time.perf_counter()
        wl.prepare(spark)
        prep_s = time.perf_counter() - t3
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()

        def run_once(label: str) -> float:
            nonlocal attempted, failed
            wl.before_iteration()
            if tracer is not None:
                tracer.begin(label)
            attempted += 1
            t = time.perf_counter()
            try:
                compiler.run_job(spark, job)
            except Exception:
                failed += 1
                raise
            return time.perf_counter() - t

        cold_s = run_once("cold")
        for i in range(WARMUP_RUNS):
            run_once(f"w{i}")
        walls, cpus, timed = [], [], []
        t_loop = time.perf_counter()
        while len(walls) < MIN_TIMED_RUNS or time.perf_counter() - t_loop < args.seconds:
            label = f"t{len(walls)}"
            pids = _pids()
            c0 = procstats.cpu_seconds(pids)
            walls.append(run_once(label))
            cpus.append(procstats.cpu_seconds(pids) - c0)
            timed.append(label)
        peak_mb = procstats.vm_hwm_mb(_pids()[:2])
        if tracer is not None:
            tracer.probe_pairs()
            tracer.begin("check")
        t4 = time.perf_counter()
        errors = wl.check(spark)
        check_s = time.perf_counter() - t4

        rows = wl.source_rows
        warm_s = statistics.median(walls)
        if args.trace:
            pending = {"session.start_s": start_s, "spec.load_s": spec_s,
                       "compiler.run_job_s": warm_s, "compiler.rows_per_s": rows / warm_s}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cold_job_s": {"value": cold_s, "unit": "s"},
                "rows_per_s": {"value": rows / warm_s, "unit": "rows/s"},
                "cpu_s_per_mrow": {"value": statistics.median(cpus) / rows * 1e6, "unit": "s"},
                "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
            }
        print(
            f"{wl.name}: setup {setup_s:.2f}s (session {start_s:.2f}s, spec {spec_s:.3f}s; "
            f"untimed: inputs {gen_s:.2f}s, prepare {prep_s:.2f}s, check {check_s:.2f}s), "
            f"cold {cold_s:.2f}s, peak rss {peak_mb:.0f} MB\n"
            f"timed job runs (s):    {' '.join(f'{w:.2f}' for w in walls)}\n"
            f"cpu per job run (s):   {' '.join(f'{c:.2f}' for c in cpus)}",
            file=sys.stderr,
        )
    except Exception:  # noqa: BLE001 — reported as a failed run below
        traceback.print_exc()
        errors.append("the run raised before its checks passed")
    finally:
        if tracer is not None:
            tracer.unpatch()
        if spark is not None:
            try:
                wl.close(spark)
            except Exception:  # noqa: BLE001 — teardown continues
                traceback.print_exc()
                errors.append("cleanup failed")
        _stop_jvm()

    try:
        if args.trace and not errors:
            from tracing import per_layer_metrics

            layer = per_layer_metrics(tracer, work / "events", timed, pending)
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer.items())}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run still uses it
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if attempted:
        print(json.dumps({
            "correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics,
        }))
    return 1 if errors else 0


def _unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
