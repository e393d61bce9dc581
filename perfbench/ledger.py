"""Outside-the-program accounting of one Spark application.

``JobLedger`` attributes Spark jobs and stages to a span by the job-ID
interval the span covered (``DAGScheduler.numTotalJobs`` before and after),
not by job group, so jobs a streaming query runs on its own thread are
counted with the call that started it. It reads the status store right
after each span, before ``spark.ui.retained{Jobs,Stages}`` can drop them.

``StreamingStats`` is a ``StreamingQueryListener`` summing micro-batch
progress; ``block_mb`` reads the RDD storage the BlockManager holds;
``tree_cpu_s`` reads a process tree's CPU time from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6
CLK_TCK = os.sysconf("SC_CLK_TCK")
# Stage fields summed into a span's record, StageData field -> record key.
STAGE_SUMS = {
    "executorCpuTime": "cpu_ns",
    "executorRunTime": "run_ms",
    "jvmGcTime": "gc_ms",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
}
DONE_STAGE = {"COMPLETE", "FAILED", "SKIPPED"}
# Seconds a span's jobs and stages may take to settle in the status store.
SETTLE_TIMEOUT_S = 20.0


@dataclass
class JobRecord:
    """What Spark ran for one span: counts, summed stage metrics and the
    wall intervals its jobs were running."""

    jobs: int = 0
    stages: int = 0
    sums: dict[str, float] = field(default_factory=dict)
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: JobRecord) -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        for k, v in other.sums.items():
            self.sums[k] = self.sums.get(k, 0) + v
        self.intervals += other.intervals

    @property
    def job_s(self) -> float:
        return sum(e - s for s, e in self.intervals)


class JobLedger:
    """Reads Spark's status store, the records the REST API's ``/jobs`` and
    ``/stages`` serve, through py4j. (The REST server itself costs ~3 s to
    initialise in every new session.)"""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._scheduler = sc.dagScheduler()
        self._store = sc.statusStore()

    def next_job_id(self) -> int:
        return int(self._scheduler.numTotalJobs())

    def _job(self, job_id: int) -> dict | None:
        """The job's status, run interval and stage IDs, or None while
        the status store has not recorded its end."""
        try:
            j = self._store.job(job_id)
        except Py4JJavaError:  # not in the store yet
            return None
        done = j.completionTime()
        if j.status().toString() == "RUNNING" or not done.isDefined():
            return None
        ids = j.stageIds()
        return {
            "interval": (j.submissionTime().get().getTime() / 1e3,
                         done.get().getTime() / 1e3),
            "stages": [ids.apply(i) for i in range(ids.length())],
        }

    def _stage(self, stage_id: int) -> dict | None:
        """The stage's summed counters, {} if it was skipped, or None while
        it is still running."""
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # never submitted: skipped
            return {}
        status = s.status().toString()
        if status == "SKIPPED":
            return {}
        if status not in DONE_STAGE:
            return None
        return {key: float(getattr(s, name)()) for name, key in STAGE_SUMS.items()}

    def read(self, bounds: list[int]) -> list[JobRecord]:
        """One record per interval ``bounds[i] <= jobId < bounds[i + 1]``,
        read once every job in ``bounds[0]`` .. ``bounds[-1] - 1`` has
        finished and its stages have settled."""
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        while True:
            for jid in range(bounds[0], bounds[-1]):
                if jid not in jobs and (job := self._job(jid)) is not None:
                    jobs[jid] = job
            for job in jobs.values():
                for sid in job["stages"]:
                    if sid not in stages and (stage := self._stage(sid)) is not None:
                        stages[sid] = stage
            if len(jobs) == bounds[-1] - bounds[0] and all(
                sid in stages for job in jobs.values() for sid in job["stages"]
            ):
                break
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs {bounds[0]}..{bounds[-1] - 1} did not settle")
            time.sleep(0.02)
        records = []
        for lo, hi in zip(bounds, bounds[1:]):
            mine = [jobs[j] for j in range(lo, hi)]
            ran = [stages[s] for s in {s for j in mine for s in j["stages"]} if stages[s]]
            records.append(JobRecord(
                jobs=len(mine),
                stages=len(ran),
                sums={k: sum(s[k] for s in ran) for k in STAGE_SUMS.values()},
                intervals=[j["interval"] for j in mine],
            ))
        return records


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` during which at least one interval ran."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def block_mb(spark) -> float:
    """Memory plus disk bytes of every RDD block the BlockManager holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every process below it,
    reaped children included: the driver, the Spark JVM it launched and
    the JVM's Python workers."""
    stat: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields[1] is the parent pid; [11:15] utime, stime, cutime, cstime
        stat[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / CLK_TCK


class StreamingStats(StreamingQueryListener):
    """Micro-batch totals since the last ``take``."""

    def __init__(self):
        self._lock = threading.Lock()
        self._state: dict[str, int] = {}
        self._reset()

    def _reset(self) -> None:
        self.batches, self.input_rows, self.batch_ms = 0, 0, 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches += 1
            self.input_rows += p.numInputRows
            self.batch_ms += p.batchDuration
            self._state[str(p.id)] = sum(o.numRowsTotal for o in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict[str, float]:
        """Totals since the previous call; ``state_rows`` sums each query's
        last reported state-store row count."""
        with self._lock:
            out = {
                "streaming.batches": self.batches,
                "streaming.input_rows": self.input_rows,
                "streaming.batch_s": self.batch_ms / 1000.0,
                "streaming.state_rows": sum(self._state.values()),
            }
            self._reset()
            self._state.clear()
        return out
