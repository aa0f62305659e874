"""Per-query job breakdown: run a query through the noop sink and list
every Spark job it spawned (duration, task count, description, and the
executor run, CPU and JVM GC time summed over the job's stages) plus the
inter-job gaps (driver-side planning / py4j time). A run time far above
the CPU time is time tasks spent waiting rather than computing, such as
Python worker set-up (see ``mapreduce_cs416_spark._zipdir``); the GC
time is the part of the run time the tasks' JVM spent collecting (in
local mode the one driver JVM, so a collection that stops several
tasks counts once per task).

Usage: python tools/job_profile.py [sf_dir] <query> [query ...]

Reads the AppStatusStore, so numbers are ground truth from the same
listener the UI uses. Each query runs once, untimed, before it is
profiled (as tests/test_job_budget.py does), so the one-time parquet
schema-inference job of a table's first read is not counted. The
profiled result is freed (``checkpoints.free``) once consumed, so its
checkpoints do not stay pinned into the next query's profile.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _isolate, _materialize
from mapreduce_cs416_spark.operators.checkpoints import free
from mapreduce_cs416_spark.plans.registry import ALL_QUERIES
from mapreduce_cs416_spark.session import get_spark


def _jobs(spark, since: int):
    """Jobs with an id of at least ``since``, oldest first."""
    jvm_sc = spark.sparkContext._jsc.sc()
    # the status store learns of a finished job from the listener bus:
    # drain it, or the sink's job still reads as running
    jvm_sc.listenerBus().waitUntilEmpty()
    store = jvm_sc.statusStore()
    empty = spark.sparkContext._jvm.java.util.ArrayList()
    it = store.jobsList(empty).iterator()
    out = []
    while it.hasNext():
        j = it.next()
        if j.jobId() < since:
            continue
        sub = j.submissionTime()
        comp = j.completionTime()
        sub_ms = sub.get().getTime() if sub.isDefined() else None
        comp_ms = comp.get().getTime() if comp.isDefined() else None
        # a skipped stage has zero metrics, so summing every stage is exact
        stages = [store.lastStageAttempt(int(s)) for s in j.stageIds().mkString(",").split(",") if s]
        out.append(
            {
                "id": j.jobId(),
                "sub": sub_ms,
                "comp": comp_ms,
                "tasks": j.numTasks(),
                "stages": len(stages),
                "run": sum(s.executorRunTime() for s in stages) / 1e3,
                "cpu": sum(s.executorCpuTime() for s in stages) / 1e9,
                "gc": sum(s.jvmGcTime() for s in stages) / 1e3,
                "desc": (j.description().get() if j.description().isDefined() else j.name())[:90],
            }
        )
    out.sort(key=lambda d: d["id"])
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    names = []
    for a in args:
        if os.path.isdir(a):
            sf_dir = a
        else:
            names.append(a)
    spark = get_spark("job_profile")
    for name in names:
        _materialize(ALL_QUERIES[name].fn(spark, sf_dir))
        _isolate(spark)
        first_id = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        t0 = time.time()
        df = ALL_QUERIES[name].fn(spark, sf_dir)
        _materialize(df)
        wall = time.time() - t0
        # release the checkpoints the consumed result still reads
        free(df)
        jobs = _jobs(spark, since=first_id)
        print(f"\n=== {name}: wall {wall:.3f}s, {len(jobs)} jobs ===")
        prev_end = None
        t_base = jobs[0]["sub"] if jobs else 0
        job_sum = gap_sum = run_sum = cpu_sum = gc_sum = 0.0
        for j in jobs:
            dur = (j["comp"] - j["sub"]) / 1000.0 if j["comp"] else float("nan")
            gap = (j["sub"] - prev_end) / 1000.0 if prev_end is not None else 0.0
            job_sum += dur
            gap_sum += max(gap, 0.0)
            run_sum += j["run"]
            cpu_sum += j["cpu"]
            gc_sum += j["gc"]
            print(
                f"  job {j['id']:4d} @{(j['sub'] - t_base) / 1000.0:7.3f}s"
                f" dur {dur:6.3f}s gap {gap:6.3f}s run {j['run']:6.3f}s cpu {j['cpu']:6.3f}s gc {j['gc']:6.3f}s"
                f" tasks {j['tasks']:4d} stages {j['stages']}  {j['desc']}"
            )
            prev_end = max(prev_end or 0, j["comp"] or 0)
        print(
            f"  --- job time {job_sum:.3f}s, inter-job gaps {gap_sum:.3f}s, wall {wall:.3f}s,"
            f" executor run {run_sum:.3f}s, executor CPU {cpu_sum:.3f}s, executor GC {gc_sum:.3f}s"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
