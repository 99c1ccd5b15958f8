"""Read what a call into the program cost, from outside the program.

Jobs are attributed by job-id window, not by job group: the DAG scheduler
numbers jobs consecutively, so the ids a call launched are exactly
``[numTotalJobs() before, numTotalJobs() after)``.  A job group misses the
jobs a ``StreamExecution`` thread submits under its own group.  The status
store keeps only the last 1000 jobs and stages, so :func:`read_jobs` must
run right after each call.
"""

from __future__ import annotations

import os

_MB = 1024 * 1024
STAGE_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def job_counter(sc):
    """A zero-argument callable returning the next job id to be assigned."""
    dag = sc._jsc.sc().dagScheduler()
    return dag.numTotalJobs


def read_jobs(sc, first: int, end: int) -> dict:
    """Census of jobs ``first .. end-1``: their wall spans (epoch ms) and the
    summed metrics of the stages they ran.  A stage shared by two jobs
    counts once; a skipped stage (its shuffle output reused) counts as
    no stage and no tasks."""
    store = sc._jsc.sc().statusStore()
    spans: list[tuple[int, int]] = []
    seen: set[int] = set()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out.update(jobs=end - first, stages=0, tasks=0)
    for jid in range(first, end):
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            spans.append((sub.get().getTime(), done.get().getTime()))
        ids = job.stageIds()
        for i in range(ids.length()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
    out["spans"] = spans
    return out


def covered_ms(spans: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, reach = 0, lo
    for a, b in sorted(spans):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def storage_mb(sc) -> float:
    """Memory plus disk held by persisted RDDs and frames right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


def files_written(root: str, since_ns: int) -> tuple[int, float]:
    """Files under ``root`` created or rewritten at or after ``since_ns``
    (an ``os.stat`` mtime), and their total size in MiB."""
    n, size = 0, 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except FileNotFoundError:
                continue
            if st.st_mtime_ns >= since_ns:
                n += 1
                size += st.st_size
    return n, size / _MB


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
