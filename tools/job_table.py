"""Spark jobs per registered query: the build jobs (eager jobs inside
``fn(spark, sf_dir)``: size-gate counts, checkpoints, offset collects)
and the run jobs (collecting the returned frame), in a warm session —
each query is built and collected once before it is counted.

Usage: python tools/job_table.py <query>... [--sf DIR]
Prints one tab-separated row per query: name, build jobs, run jobs,
total. ``SPARK_GRAFT_CPUS`` sets the session's cores and shuffle
partitions, as for every tool here.
"""

from __future__ import annotations

import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def count_jobs(spark, fn):
    """(fn(), Spark jobs fn launched, tasks those jobs completed), counting
    jobs from other threads (no job group) as well as the caller's. A
    stage skipped because its shuffle output was reused completes no
    tasks, so the task count tells a re-executed plan from one that
    reused an earlier run's stages."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    group = f"jobguard-{uuid.uuid4().hex}"
    drain()
    untagged = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    drain()
    jobs = set(st.getJobIdsForGroup(group)) | (
        set(st.getJobIdsForGroup(None)) - untagged)
    stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    # Past spark.ui.retainedStages the status store drops skipped stages
    # first (their completion time is -1), so a stage with no info left
    # was skipped and completed no tasks.
    infos = [st.getStageInfo(s) for s in stages]
    tasks = sum(i.numCompletedTasks for i in infos if i is not None)
    return out, len(jobs), tasks


def job_counts(spark, fn, sf_dir: str) -> tuple[int, int]:
    """(build jobs, run jobs) of a warm ``fn(spark, sf_dir).collect()``."""
    fn(spark, sf_dir).collect()
    df, built, _ = count_jobs(spark, lambda: fn(spark, sf_dir))
    _, ran, _ = count_jobs(spark, df.collect)
    return built, ran


def main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", metavar="query")
    ap.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="data directory (default: %(default)s)")
    args = ap.parse_args(argv)

    from bayeslite_spark.session import get_spark
    from bayeslite_spark.workload import get_queries

    qs = get_queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")
    spark = get_spark("job_table")
    print("query\tbuild\trun\ttotal")
    for name in args.queries:
        built, ran = job_counts(spark, qs[name], args.sf)
        print(f"{name}\t{built}\t{ran}\t{built + ran}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
