"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_flush --seed 1 --seconds 10 --trace 0

``--seconds`` sets how much work the timed loop measures (see
``workloads.NOMINAL_S``). Run from the root of a checkout. The engine
runs on ``local[<cores>]``,
the cores this process may use (what ``nproc`` prints). Everything the
run writes goes under ``.perfbench_run/`` in the checkout; its scratch
directory is removed at exit and only the traced run's span file stays.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones, with spans written
to ``.perfbench_run/spans-<workload>-<seed>.json``. A line before it,
starting ``report:``, gives the workload's own named metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

sys.dont_write_bytecode = True  # leave no caches in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")


def _environment(work: str, jvm_opts: str) -> None:
    """Keep Spark's and Python's scratch files inside ``work``; start the
    driver JVM with ``jvm_opts`` besides."""
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # a fixed-size heap (-Xms = -Xmx): peak RSS then tracks what the run
    # touches, not how far the JVM happened to grow its heap
    mem = os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    # the launcher JVM that spark-submit starts first, then the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={work} -XX:-UsePerfData "
        f"-Xms{mem} {jvm_opts}' "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = work


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import kenshin_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import E2E, JVM_OPTS, LAYERS, WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(RUN_DIR, f"tmp-{os.getpid()}")
    _environment(work, JVM_OPTS.get(args.workload, ""))
    spark = None
    try:
        from kenshin_spark.session import get_spark

        spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, args.seed, args.seconds, bool(args.trace), work, t0)
        WORKLOADS[args.workload](run)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = _vm_hwm_mb(jvm_pid) + resource.getrusage(
            resource.RUSAGE_SELF
        ).ru_maxrss / 1024
        run.e2e["peak_rss_mb"] = rss
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}-{args.seed}"
    if args.trace:
        run.layers["trace.op_p50_ms"] = run.e2e["op_p50_ms"]
        run.layers["trace.spans"] = len(run.tracer.spans)
        untraced = os.path.join(RUN_DIR, f"e2e-{tag}.json")
        extra = {"workload": args.workload, "seed": args.seed,
                 "e2e_traced": run.e2e, "layers": run.layers,
                 "job_counts": run.jobs.counts}
        if os.path.exists(untraced):
            with open(untraced, encoding="utf-8") as fh:
                base = json.load(fh)
            extra["e2e_untraced"] = base
            extra["overhead"] = {
                k: run.e2e[k] / base[k] - 1 for k in base if base[k]
            }
            print("trace overhead: " + json.dumps(extra["overhead"]))
        run.tracer.dump(os.path.join(RUN_DIR, f"spans-{tag}.json"), extra)
        metrics = {k: {"value": run.layers[k], "unit": u} for k, u in LAYERS.items()}
    else:
        with open(os.path.join(RUN_DIR, f"e2e-{tag}.json"), "w",
                  encoding="utf-8") as fh:
            json.dump(run.e2e, fh)
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E.items()}
    report = {k: {"value": v, "unit": u} for k, (v, u) in run.report.items()}
    report["ops_failed_frac"] = {
        "value": run.failed / max(run.attempted, 1), "unit": "ratio"
    }
    print("report: " + json.dumps(report))
    for err in run.errors:
        print(f"failed: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
