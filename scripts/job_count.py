#!/usr/bin/env python
"""Count Spark jobs/stages/tasks and codegen compilations per query execution.

Usage: SPARK_GRAFT_SF_DIR=<sf dir> python scripts/job_count.py <query> [<query>...]
Runs each ``__spark_entry__`` query twice (cold, warm) with collect()
and prints per-run job, stage and task counts. Each run is tagged with
``SparkContext.setJobGroup`` and its counts are read from the status
tracker, which works with the Spark UI disabled. ``compiled`` is the
number of generated classes the run compiled (codegen cache misses in the
driver JVM, which in local mode also runs the executors); a warm run of a
query reads 0.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or len(sys.argv) < 2:
        sys.exit(__doc__)
    from victoriametrics_spark.session import codegen_compilations, get_spark

    spark = get_spark("job-count")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    import __spark_entry__ as entry

    qs = entry.queries()
    for name in sys.argv[1:]:
        for run in ("cold", "warm"):
            label = f"{name}#{run}"
            sc.setJobGroup(label, label, False)
            compiled = codegen_compilations(spark)
            t0 = time.time()
            qs[name](spark, sf_dir).collect()
            wall = time.time() - t0
            compiled = codegen_compilations(spark) - compiled
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = tracker.getJobIdsForGroup(label)
            stages = [
                tracker.getStageInfo(sid)
                for job in jobs
                for sid in tracker.getJobInfo(job).stageIds
            ]
            ran = [st for st in stages if st is not None and st.numCompletedTasks]
            print(
                f"{label:40s} jobs={len(jobs):3d} stages_done={len(ran):3d} "
                f"tasks={sum(st.numTasks for st in ran):4d} "
                f"compiled={compiled:4d} wall={wall:.2f}s"
            )
    spark.stop()


if __name__ == "__main__":
    main()
