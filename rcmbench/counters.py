"""Spark runtime counters read from outside the package.

- Jobs: the DAG scheduler's next job id. It is monotone; the status store's
  job list is not, because it evicts old jobs.
- Tasks, task time, GC, shuffle and input bytes: the status store's executor
  totals, which are monotone and never evicted (unlike per-stage rows).
- Codegen: the JVM-wide ``CodegenMetrics`` compile counter.
- Catalyst: ``QueryExecution.tracker().phases()`` of a DataFrame we hold.
"""

from __future__ import annotations

import os

EXECUTOR_FIELDS = {
    "tasks": "totalTasks",
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "shuffle_read": "totalShuffleRead",
    "shuffle_write": "totalShuffleWrite",
    "input_bytes": "totalInputBytes",
    "failed_tasks": "failedTasks",
}


class SparkCounters:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.jvm_pid = sc._gateway.proc.pid

    def job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def codegen_compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def executor_totals(self) -> dict[str, int]:
        out = dict.fromkeys(EXECUTOR_FIELDS, 0)
        it = self._sc.statusStore().executorList(False).iterator()
        while it.hasNext():
            e = it.next()
            for key, getter in EXECUTOR_FIELDS.items():
                out[key] += int(getattr(e, getter)())
        return out

    def snapshot(self) -> dict[str, int]:
        snap = self.executor_totals()
        snap["jobs"] = self.job_id()
        snap["codegen"] = self.codegen_compiles()
        return snap

    def job_busy_s(self, first_job: int, end_job: int) -> float:
        """Wall time covered by the union of jobs [first_job, end_job)."""
        spans = []
        it = self._sc.statusStore().jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if first_job <= j.jobId() < end_job and j.completionTime().isDefined():
                spans.append((j.submissionTime().get().getTime(),
                              j.completionTime().get().getTime()))
        busy = covered = 0
        for start, end in sorted(spans):
            busy += max(0, end - max(start, covered))
            covered = max(covered, end)
        return busy / 1000.0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this Python driver, the JVM and the
        JVM's descendants (Python workers); reaped children count through
        their parent's cutime/cstime."""
        tick = os.sysconf("SC_CLK_TCK")
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            total += stats.get(pid, (0, 0))[1]
            todo += children.get(pid, [])
        t = os.times()
        return total / tick + t.user + t.system

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far, from /proc/stat.
    Steal is time the hypervisor ran other guests on this machine's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def delta(after: dict[str, int], before: dict[str, int]) -> dict[str, int]:
    return {k: after[k] - before[k] for k in after}


def plan_phases_ms(df) -> dict[str, int]:
    """Catalyst phase durations of a DataFrame's own QueryExecution."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().durationMs())
    return out


def tree_bytes(root: str, since: float | None = None) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``root``; with ``since``
    (a ``time.time()``), only files modified at or after it."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if since is None or st.st_mtime >= since:
                size += st.st_size
                files += 1
    return size, files
