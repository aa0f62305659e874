"""Counters read from outside the program: Spark's status store (the
listener the UI uses) and ``/proc``. Nothing here runs inside a timed
region."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
RAN = ("COMPLETE", "FAILED")


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkStatus:
    """Incremental reader of finished jobs and their stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seen = -1

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call, oldest first, in any job
        group (streaming queries run theirs under the query's group).
        Job ids are sequential; an id the store never saw (a job with
        no partitions) is skipped."""
        from py4j.protocol import Py4JJavaError

        nxt = self.sc._jsc.sc().dagScheduler().nextJobId()
        jobs = []
        for i in range(self.seen + 1, nxt):
            try:
                j = self.store.job(i)
            except Py4JJavaError:
                continue
            stages = j.stageIds().mkString(",")
            jobs.append(
                {
                    "id": i,
                    "sub": _opt_ms(j.submissionTime()),
                    "end": _opt_ms(j.completionTime()),
                    "stage_ids": [int(s) for s in stages.split(",") if s],
                }
            )
        self.seen = nxt - 1
        return jobs

    def stage(self, stage_id: int, full: bool) -> dict | None:
        """The last attempt of a stage that ran (skipped stages: None)."""
        s = self.store.lastStageAttempt(stage_id)
        if s.status().toString() not in RAN:
            return None
        out = {
            "tasks": s.numTasks(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
        }
        if full:
            out.update(
                failed_tasks=s.numFailedTasks(),
                executor_run_s=s.executorRunTime() / 1e3,
                executor_cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                input_bytes=s.inputBytes(),
                output_bytes=s.outputBytes(),
            )
        return out

    def cached_bytes(self) -> int:
        """Bytes still held by persisted or checkpointed RDD blocks."""
        return sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())


def busy_union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- /proc ---------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def cpu_s(pid: int, children: bool = False) -> float:
    f = _stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if children:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime of reaped children
    return ticks / CLK_TCK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def find_jvm(gateway_pid: int) -> int:
    """The JVM behind the py4j gateway (spark-submit execs into it)."""
    if comm(gateway_pid) == "java":
        return gateway_pid
    return next((p for p in descendants(gateway_pid) if comm(p) == "java"), gateway_pid)


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's process tree below it: the pyspark.daemon, its
    forked workers and any reaped grandchildren."""
    return sum(cpu_s(p, children=True) for p in descendants(jvm_pid))


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / CLK_TCK
