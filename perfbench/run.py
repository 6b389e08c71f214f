"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 20 --trace 0

``--trace 0`` measures with tracing off and prints the end-to-end metrics;
``--trace 1`` makes the separate traced run and prints the per-layer
metrics, its tracing overhead among them. Run from the repository root.
Everything the run writes stays under ``perfbench/.work`` and is removed at
the end. A run record (provenance, tails, failures, skipped queries) goes to
standard error as one ``perfbench-record`` line.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: Path, traced: bool) -> None:
    """Keep every file the run writes, the JVM's included, under ``work``,
    and size Spark to the CPUs this process may use."""
    for sub in ("tmp", "spark"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    confs = [
        f'--driver-java-options "-Djava.io.tmpdir={work / "tmp"} -XX:-UsePerfData"',
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if traced:
        # keep every job and stage of the run for the status-store read
        confs += ["--conf spark.ui.retainedJobs=1000000", "--conf spark.ui.retainedStages=1000000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(confs + ["pyspark-shell"])


def stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a stuck JVM is killed, not left behind
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse(argv)
    t_run = time.perf_counter()
    if not (ROOT / "onetable_spark").is_dir():
        print(f"perfbench: no onetable_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import report
    import workloads
    from spans import Tracer, spark_jobs

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work = HERE / ".work" / f"{args.workload}-{os.getpid():07d}"
    steal0 = report.steal_jiffies()
    isolate(work, traced)
    spark = None
    try:
        t0 = time.perf_counter()
        from onetable_spark.session import get_spark

        spark = get_spark("perfbench")
        session = {"session.start_s": time.perf_counter() - t0}
        tracer = Tracer(spark, enabled=traced)
        run = workloads.Run(spark, tracer, args.seed, args.seconds, work)
        t0 = time.perf_counter()
        with tracer.span("session.warmup"):
            workloads.warm_up(run)
        session["session.warmup_s"] = time.perf_counter() - t0
        workloads.WORKLOADS[args.workload](run, traced)
        if traced:
            with tracer.quiet():
                jobs = spark_jobs(spark)
                jvm = report.jvm_stats(spark)
            tracer.close()
            metrics = report.per_layer(run, jobs, session, jvm)
        else:
            metrics = report.end_to_end(run)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        **report.provenance(ROOT, steal0),
        **session,
        **run.record,
        "run_s": time.perf_counter() - t_run,
        "tails": report.tails(run),
        "samples": dict(run.samples),
        "failure_ratio": run.ops.failure_ratio,
        "failures": run.ops.reasons[:20],
        "skipped": run.ops.skipped,
    }
    if traced:
        record["pinned"] = report.pinned(metrics)
    print("perfbench-record " + report.dumps(record), file=sys.stderr, flush=True)
    result = {
        "correct": run.ops.failed == 0,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": metrics,
    }
    print(report.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
