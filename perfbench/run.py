"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Builds nothing: the
program is the ``mallarddv_spark`` package next to this directory, driven
only through its public entry points. All inputs are generated from
``--seed`` under ``.perfbench_work/`` in the checkout, which is removed at
exit. The last line of standard output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics (see ``README.md``).
Exits non-zero, printing no result, when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _start_spark(work: str, trace: bool):
    from mallarddv_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", warehouse_dir=os.path.join(work, "wh"),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main() -> int:
    args = _parse()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        import mallarddv_spark  # noqa: F401
    except ImportError as ex:
        print(f"cannot import the program: {ex}", file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # size Spark to the cores this process may run on, as the tests do;
    # get_spark would otherwise default to local[32]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    try:
        return _run(args, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, work: str, workloads) -> int:
    import probes
    import report
    import spans

    t0 = time.perf_counter()
    spark = _start_spark(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    rec = spans.SpanRecorder() if args.trace else None
    if rec is not None:
        spans.install_vault_wrappers(rec)
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, rec)
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
        rss = probes.peak_rss_mb()
    finally:
        if rec is not None:
            rec.uninstall()
        _stop_spark(spark)

    out.layer["memory.peak_rss_mb"] = rss
    if args.trace:
        log_path = spans.event_log_file(os.path.join(work, "eventlog"))
        metrics = report.per_layer(out, rec, spans.read_event_log(log_path))
    else:
        out.metrics["ok_op_ratio"] = (1.0 - out.failed / max(1, out.attempted), "ratio")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out.metrics.items()}
    for note in out.failures:
        print(f"check failed: {note}", file=sys.stderr)
    print(f"session_start_s={session_s:.3f}", file=sys.stderr)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
