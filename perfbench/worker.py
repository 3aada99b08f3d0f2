"""One fresh benchmark process: set up, warm up, run the timed ops.

Started by ``run.py`` with the run's manifest; writes one JSON record:

- ``setup_s``: package import, ``get_spark`` and the untimed warm-up
  ops, measured from before the package import;
- ``lat``: wall time of each timed op;
- ``cpu_s``: CPU of the whole process tree (this interpreter, its JVM,
  the PySpark daemon and workers) over the timed ops;
- ``rss_mb``: summed peak resident set of that tree;
- ``failed``: timed ops that raised or failed their output check;
- with tracing on, per-op layer times, job/stage/task counts and task
  metrics (see ``tracing.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import procs
import tracing
import workloads


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--proc-dir", required=True)
    ap.add_argument("--ops", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = workloads.WORKLOADS[args.workload]
    os.makedirs(args.proc_dir)
    with open(args.manifest) as fh:
        manifest = json.load(fh)
    me = os.getpid()

    t0 = time.perf_counter()
    from harness_aws_etl_pipeline_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        extra.update(tracing.EVENT_LOG_CONF)
        extra["spark.eventLog.dir"] = os.path.join(args.proc_dir, "events")
        os.makedirs(extra["spark.eventLog.dir"])
    t_spark = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra)
    session_start_s = time.perf_counter() - t_spark
    tracer = tracing.Tracer(spark) if args.trace else tracing.NO_TRACE
    session = wl.Session(spark, manifest, args.proc_dir, tracer)
    if args.trace:
        session.instrument()
    warm_ok = True
    for i in range(wl.warm):
        if not session.check(i, session.op(i)):
            print(f"warm-up op {i}: output check failed", file=sys.stderr)
            warm_ok = False
    setup_s = time.perf_counter() - t0

    timed = list(range(wl.warm, wl.warm + args.ops))
    lat, failed = [], 0
    cpu0 = procs.tree_cpu_s(me)
    for i in timed:
        t = time.perf_counter()
        try:
            with tracer.op(i):
                out = session.op(i)
            lat.append(time.perf_counter() - t)
            ok = session.check(i, out)
            if not ok:
                print(f"op {i}: output check failed", file=sys.stderr)
        except Exception:
            lat.append(time.perf_counter() - t)
            traceback.print_exc()
            ok = False
        failed += not ok
    cpu_s = procs.tree_cpu_s(me) - cpu0
    rss_mb = procs.tree_rss_mb(me)
    final_ok = session.final_check(wl.warm + args.ops)

    rec = {
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "lat": lat,
        "cpu_s": cpu_s,
        "rss_mb": rss_mb,
        "failed": failed,
        "correct": warm_ok and final_ok and failed == 0,
    }
    if args.trace:
        tracer.drain_listener()
        spark_counts = tracer.job_counts(timed)
        rec["ops"] = {str(i): {**tracer.ops[i], **spark_counts[i]} for i in timed}
        rec["layer_counts"] = session.layer_counts()
    _stop(spark)
    if args.trace:
        for i, m in tracing.task_metrics(extra["spark.eventLog.dir"]).items():
            if str(i) in rec["ops"]:
                rec["ops"][str(i)]["task_metrics"] = m
    with open(args.out, "w") as fh:
        json.dump(rec, fh)
    return 0


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        jvm.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
