"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. The run

1. writes the workload's seeded inputs under ``.perfbench_work/`` (not
   timed, not part of ``setup_s``);
2. starts one fresh worker process (``worker.py``). It sets up the
   package and a ``local[N]`` Spark session, runs a fixed number of
   untimed warm-up ops and then a fixed number of timed ops, and checks
   every output;
3. prints a host-phase line, every end-to-end metric with its unit,
   and last the JSON result line;
4. deletes ``.perfbench_work/<run>``.

The op count is a fixed function of ``--seconds`` (each workload's
``n_ops``), never a deadline, so every run covers the same stretch of
the JIT curve and the same Silver and ledger growth. With ``--trace 1``
the same ops run with job groups, layer spans and an event log, and the
result line carries the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
import workloads  # noqa: E402

PACKAGE = "harness_aws_etl_pipeline_spark"
CPUS = min(4, len(os.sched_getaffinity(0)))  # local[N]
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 150  # a run must end within 180 s


def _worker_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TZ="UTC",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    # every JVM of the run, Spark's launcher included, writes its
    # temporary files into the run directory and no perf data to /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    os.makedirs(env["TMPDIR"])
    return env


def _run_worker(args, root: str, work: str, manifest_path: str, n_ops: int) -> dict:
    """Run the worker in its own session and wait for it; afterwards
    kill and reap anything left in that session (its JVM, the PySpark
    daemon and workers)."""
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--manifest", manifest_path,
           "--proc-dir", os.path.join(work, "proc"), "--ops", str(n_ops),
           "--trace", str(args.trace), "--out", out]
    child = subprocess.Popen(cmd, cwd=root, env=_worker_env(root, work),
                             stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        procs.reap_session(child.pid)
        child.wait()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker failed (exit {code})")
    with open(out) as fh:
        return json.load(fh)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec: dict) -> dict:
    lat = rec["lat"]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "cpu_s_per_op": (rec["cpu_s"] / len(lat), "s"),
    }


def per_layer(rec: dict) -> dict:
    ops = list(rec["ops"].values())
    n = len(ops)

    def layer_s(name):  # median over the ops that called the layer
        return _med([op["layers"][name] for op in ops if name in op["layers"]])

    def layer_jobs(name):
        ran = [op["jobs"][name] for op in ops if name in op["layers"]]
        return sum(ran) / len(ran) if ran else 0.0

    def count(name):
        return sum(op["counts"].get(name, 0) for op in ops)

    def task(key):
        return sum(op.get("task_metrics", {}).get(key, 0) for op in ops)

    def ratio(a, b):
        return a / b if b else 0.0

    m = {"session.start_s": (rec["session_start_s"], "s")}
    for layer in ("sources.extract", "pipeline.transform", "sinks.load", "meta.jobruns",
                  "plans.build"):
        m[f"{layer}_s"] = (layer_s(layer), "s")
        m[f"{layer}_jobs"] = (layer_jobs(layer), "count")
    m["sinks.files_written"] = (count("sinks.files_written") / n, "count")
    m["sinks.bytes_per_input_byte"] = (
        ratio(count("sinks.bytes_written"), count("sources.bytes_read")), "ratio")
    m["meta.ledger_files"] = (rec["layer_counts"].get("meta.ledger_files", 0), "count")
    for layer in ("plans.plan", "plans.execute", "operators.dedup_build",
                  "operators.dedup_execute", "operators.topk_build", "operators.topk_execute"):
        m[f"{layer}_s"] = (layer_s(layer), "s")
    m["operators.memo_hit_ratio"] = (
        ratio(count("operators.memo_hits"), count("operators.memo_lookups")), "ratio")
    m["operators.dup_recall"] = (
        ratio(count("operators.dup_found"), count("operators.dup_planted")), "ratio")
    m["spark.jobs_per_op"] = (sum(sum(op["jobs"].values()) for op in ops) / n, "count")
    m["spark.stages_per_op"] = (sum(op["stages"] for op in ops) / n, "count")
    m["spark.tasks_per_op"] = (sum(op["tasks"] for op in ops) / n, "count")
    m["spark.executor_run_s_per_op"] = (task("run_s") / n, "s")
    m["spark.executor_cpu_s_per_op"] = (task("cpu_s") / n, "s")
    m["spark.gc_s_per_op"] = (task("gc_s") / n, "s")
    m["spark.shuffle_write_bytes_per_op"] = (task("shuffle_write_bytes") / n, "bytes")
    m["spark.spill_bytes_per_op"] = (task("spill_bytes") / n, "bytes")
    m["spark.failed_tasks"] = (task("failed_tasks"), "count")
    m["trace.op_p50_s"] = (_med([op["wall"] for op in ops]), "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still reaps its worker and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"run from the repository root: no {PACKAGE}/ here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wl = workloads.WORKLOADS[args.workload]
    n_ops = wl.n_ops(args.seconds)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        manifest_path = os.path.join(work, "manifest.json")
        with open(manifest_path, "w") as fh:
            json.dump(wl.prepare(work, args.seed, n_ops), fh)
        calib_before, stat_before = procs.calibration_s(), procs.cpu_times()
        rec = _run_worker(args, root, work, manifest_path, n_ops)
        steal = procs.steal_share(stat_before, procs.cpu_times())
        calib_after = procs.calibration_s()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    lat = rec["lat"]
    attempted, failed = len(lat), rec["failed"]
    print(f"# host: cpus={CPUS} driver_mem={DRIVER_MEM} steal_share={steal:.4f} "
          f"calibration_s before={calib_before:.4f} after={calib_after:.4f}")
    # printed, but not bounded metrics: see README.md
    p90 = (f"{statistics.quantiles(lat, n=10)[-1]:.4f} s" if len(lat) >= 100
           else "n/a (needs >= 100 ops)")
    print(f"# {args.workload}: ops={attempted} fail_ratio={failed / attempted:.4f} "
          f"op_p90_s={p90} peak_rss_mb={rec['rss_mb']:.1f} MB")
    metrics = per_layer(rec) if args.trace else end_to_end(rec)
    for name, (value, unit) in metrics.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
