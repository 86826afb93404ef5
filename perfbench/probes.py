"""Measurements taken from outside the library: CPU and memory of the
driver, the JVM and its Python workers from /proc, Spark's own status
store, and the host-speed sentinel.
"""

from __future__ import annotations

import os
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def seconds_since_process_start() -> float:
    """Wall time since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def spin_sentinel(n: int = 3_000_000) -> float:
    """Seconds a fixed single-thread loop takes: a host-speed diagnostic,
    never a metric and never used to scale one."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc ^= i * i
    return time.perf_counter() - t0


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return int(fields[1]), fields


@dataclass
class Cpu:
    """CPU seconds used so far by each part of the running program."""
    driver: float
    jvm: float
    pyworker: float

    def __sub__(self, other: "Cpu") -> "Cpu":
        return Cpu(self.driver - other.driver, self.jvm - other.jvm,
                   self.pyworker - other.pyworker)

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.pyworker


def read_cpu(jvm_pid: int) -> Cpu:
    """Driver process own time; JVM own time; and every process under the
    JVM (the Python daemon and its workers), counting the reaped ones
    through their parents' child times."""
    parents: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            got = _stat(int(entry))
            if got is not None:
                parents[int(entry)], stats[int(entry)] = got
    own = lambda f: (int(f[11]) + int(f[12])) / _TICK       # noqa: E731 utime+stime
    reaped = lambda f: (int(f[13]) + int(f[14])) / _TICK    # noqa: E731 cutime+cstime
    workers = reaped(stats[jvm_pid]) if jvm_pid in stats else 0.0
    for pid in stats:
        p = parents[pid]
        while p > 1 and p != jvm_pid:
            p = parents.get(p, 0)
        if p == jvm_pid and pid != jvm_pid:
            workers += own(stats[pid]) + reaped(stats[pid])
    me = stats.get(os.getpid())
    return Cpu(own(me) if me else 0.0,
               own(stats[jvm_pid]) if jvm_pid in stats else 0.0, workers)


@dataclass
class Counters:
    """Spark status-store counters of one span (a query, a build, a pass)."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Counters") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


class StatusStore:
    """Reads Spark's status store over py4j.

    Jobs are attributed to a span by ID range: `mark()` before and after
    the span. This also catches jobs that search planners start from their
    own threads, which carry no job group. Stage IDs are ranged the same
    way, so a stage an earlier span ran and this one skips is not counted.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()

    def mark(self) -> tuple[int, int]:
        """The next job ID and the next stage ID the scheduler will assign."""
        dag = self._jsc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def counters(self, start: tuple[int, int], end: tuple[int, int]) -> Counters:
        """Counters of the jobs and stages created between two marks.
        Stages shared by several jobs count once; skipped stages do not."""
        self._jsc.listenerBus().waitUntilEmpty()
        c = Counters()
        stage_ids: set[int] = set()
        for job_id in range(start[0], end[0]):
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # a job with no partitions never reaches the store
                continue
            c.jobs += 1
            seq = job.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        for stage_id in sorted(stage_ids):
            if not start[1] <= stage_id < end[1]:
                continue
            s = self._store.lastStageAttempt(stage_id)
            if s.status().toString() != "COMPLETE":
                continue
            c.stages += 1
            c.tasks += s.numCompleteTasks()
            c.run_ms += s.executorRunTime()
            c.cpu_ns += s.executorCpuTime()
            c.gc_ms += s.jvmGcTime()
            c.input_bytes += s.inputBytes()
            c.input_rows += s.inputRecords()
            c.shuffle_read_bytes += s.shuffleReadBytes()
            c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.spill_bytes += s.diskBytesSpilled()
        return c
