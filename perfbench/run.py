"""Benchmark for the sparkforge engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload curation_build --seed 1 --seconds 10 --trace 0

Builds its inputs under ``.perfbench/`` in the checkout (see
``datagen.py``), starts one Spark session at ``local[<nproc>]``, runs
the workload's set-up (see ``workloads.py``), then runs whole
iterations until ``--seconds`` have passed (at least one).  Outputs are
checked every run.  The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics
for ``--trace 1``.  The line before it carries the run's detail: box
context, the op-index trend from the first set-up op on, per-node and
per-query numbers, and the output digests.  A traced run also writes its
spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".perfbench"
PACKAGE = "dbt_core_gcloud_template_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["curation_build", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def box_context(master: str) -> dict:
    """Load average, cpu count, Spark master and the machine's total
    steal time (CPU time the hypervisor gave to other guests)."""
    with open("/proc/loadavg") as f:
        load = f.read().split()
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {
        "loadavg": [float(x) for x in load[:3]],
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "steal_s": steal,
    }


def start_session(run_dir: str, nproc: int):
    from dbt_core_gcloud_template_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        warehouse_dir=os.path.join(run_dir, "warehouse"),
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then the JVM it ran in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to stop: kill it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(h, setup_s: float) -> dict:
    from harness import median
    from workloads import per_iteration

    ops = [r for r in h.ops if r["phase"] == "measure"]
    return {
        "setup_s": (setup_s, "s"),
        "iteration_s": (median(per_iteration(ops, lambda r: r["s"])), "s"),
        "cpu_s": (median(per_iteration(ops, lambda r: sum(r["cpu"].values()))), "s"),
        "spark_jobs": (median(per_iteration(ops, lambda r: r["jobs"])), "count"),
    }


def run(args, root: str, run_dir: str) -> tuple[dict, dict]:
    import datagen

    data_dir = datagen.ensure(os.path.join(root, WORK_DIR, "data"))
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    box = box_context(f"local[{nproc}]")

    t_setup = time.perf_counter()
    spark = start_session(run_dir, nproc)
    session_s = time.perf_counter() - t_setup
    try:
        from harness import Harness
        from workloads import WORKLOADS, layer_metrics

        h = Harness(
            spark,
            spark.sparkContext._gateway.proc.pid,
            bool(args.trace),
            os.path.join(run_dir, "warehouse"),
        )
        with h.span("run", workload=args.workload, seed=args.seed):
            with h.span("setup"):
                wl = WORKLOADS[args.workload](h, root, args.seed)
                wl.setup()
            untimed = sum(r.get("check_s", 0.0) for r in h.ops)
            setup_s = time.perf_counter() - t_setup - untimed
            t_measure = time.perf_counter()
            index = 0
            while index == 0 or time.perf_counter() - t_measure < args.seconds:
                with h.span("iteration", index=index):
                    wl.iteration(index)
                index += 1
        measure_s = time.perf_counter() - t_measure
        t_check = time.perf_counter()
        bad = wl.check()
        check_s = time.perf_counter() - t_check + sum(r.get("check_s", 0.0) for r in h.ops)
        failed = sum(
            1 for r in h.ops
            if r["phase"] == "measure" and (r["error"] or r["op"] in bad)
        )
        errors = {r["op"]: r["error"] for r in h.ops if r["error"]}
        if args.trace:
            metrics = layer_metrics(h, session_s)
            missing = sum(r["spark"]["missing"] for r in h.ops if r["phase"] == "measure")
            if missing:
                errors["trace"] = f"status store lost {missing} job/stage records"
            trace_dir = os.path.join(root, WORK_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": h.spans, "ops": h.ops}, f)
        else:
            metrics = end_to_end(h, setup_s)
        end = box_context("")
        box["loadavg_end"] = end["loadavg"]
        box["steal_s"] = end["steal_s"] - box["steal_s"]
        measured = [r for r in h.ops if r["phase"] == "measure"]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "box": box,
            "phases": {
                "session_s": session_s,
                "setup_s": setup_s,
                "measure_s": measure_s,
                "untimed_checks_s": check_s,
            },
            "trend": [
                [r["phase"], r["iteration"], r["op"], round(r["s"], 4),
                 round(sum(r["cpu"].values()), 2), r["jobs"]]
                for r in h.ops
            ],
            "checks": {"errors": errors, "oracle_mismatch": bad},
            **wl.detail(),
        }
        result = {
            "correct": not errors and not bad,
            "attempted": len(measured),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return detail, result
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tools"), HERE]
    os.makedirs(os.path.join(root, WORK_DIR), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, WORK_DIR))
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    try:
        detail, result = run(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
