"""Time a subset of registry queries with bench.py's exact methodology
(1 untimed warm-up + median of 3 noop-sink runs, clearCache between
queries) — for optimization-loop iteration without paying for the full
123-query HEADLINE.

Usage: python tools/bench_subset.py name1 name2 ...  [env: SPARK_GRAFT_SF_DIR]
Prints one JSON line {name: median_sec, ...} plus the two calibration
probes so runs on a loaded box remain comparable, and under "spark" the
Spark jobs, stages and tasks of each query's last timed run — counts
that, unlike seconds, do not move with box load.

Per-node profiles of an engine build come from the benchmark's traced
run: python3 perfbench/run.py --workload curation_build --seed 1
--seconds 1 --trace 1
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import RUNS, calibration, calibration_compute, warmup  # noqa: E402
from dbt_core_gcloud_template_spark.queries import queries  # noqa: E402
from dbt_core_gcloud_template_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "bench-subset", warehouse_dir=tempfile.mkdtemp(prefix="benchsub_wh_")
    )
    qs = queries()
    warmup(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    results: dict = {}
    results["calibration_range_agg"] = calibration(spark)
    results["calibration_hash_cpu"] = calibration_compute(spark)
    counts: dict[str, dict[str, int]] = {}
    for name in names:
        fn = qs[name]
        sc.setJobDescription(f"bench_subset: {name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times = []
        for i in range(RUNS):
            if i == RUNS - 1:
                sc.setJobGroup(f"bench_subset:{name}", name)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        results[name] = round(statistics.median(times), 3)
        jobs = tracker.getJobIdsForGroup(f"bench_subset:{name}")
        sc.setJobGroup(None, None)
        # a stage id can appear under several jobs (reused shuffles)
        stage_ids = {s for j in jobs if (ji := tracker.getJobInfo(j)) for s in ji.stageIds}
        stages = [si for s in stage_ids if (si := tracker.getStageInfo(s))]
        counts[name] = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numTasks for s in stages),
        }
        spark.catalog.clearCache()
    results["spark"] = counts
    print(json.dumps(results))


if __name__ == "__main__":
    main()
