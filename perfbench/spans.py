"""Spans measured from outside the program, and the process tree's CPU.

A span runs one call into the engine under its own Spark job group. When it
ends, the span reads its jobs, stages and tasks from Spark's in-process
status store (live with the UI off) right away: the store keeps a bounded
number of stages, and the traced flagship pass alone runs 70.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the eight metrics every span records
SPAN_METRICS = {
    "wall_s": "s",
    "driver_gap_s": "s",
    "jobs": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "rows_out": "rows",
    "task_skew": "ratio",
}


@dataclass
class Span:
    name: str
    role: str
    wall_s: float = 0.0
    driver_gap_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    rows_out: int = 0
    # per-stage sums of the longest and the median task duration, over
    # stages with at least two tasks; task_skew is their ratio
    task_max_sum_s: float = 0.0
    task_median_sum_s: float = 0.0

    @property
    def task_skew(self) -> float:
        if self.task_median_sum_s <= 0:
            return 1.0
        return self.task_max_sum_s / self.task_median_sum_s

    def record(self) -> dict:
        out = {"span": self.name, "role": self.role}
        for k in SPAN_METRICS:
            out[k] = getattr(self, k)
        out["stages"] = self.stages
        return out


def _opt(o):
    """Scala Option → Python value or None."""
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


@dataclass
class Tracer:
    """Opens spans on one SparkSession and keeps their records in memory."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    # frames the mirror persisted at span boundaries (not the program's own)
    kept: list = field(default_factory=list)
    # wall seconds spent reading the status store: the tracer's own cost
    overhead_s: float = 0.0

    def __post_init__(self):
        self._sc = self.spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def keep(self, df):
        """Persist and count a span's output: its boundary in the trace."""
        df = df.persist()
        self.kept.append(df)
        return df, df.count()

    def release(self) -> None:
        """Unpersist what ``keep`` persisted."""
        for df in self.kept:
            df.unpersist()
        self.kept = []

    @contextmanager
    def span(self, name: str, role: str):
        """Run the body under a fresh job group; the body sets
        ``span.rows_out`` from the output it materialized."""
        group = f"perfbench.{len(self.spans)}.{name}"
        sp = Span(name, role)
        self._sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield sp
        finally:
            t1 = time.time()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        sp.wall_s = t1 - t0
        self._attribute(sp, group, t0 * 1000.0, t1 * 1000.0)
        self.spans.append(sp)
        self.overhead_s += time.time() - t1

    def _attribute(self, sp: Span, group: str, t0_ms: float, t1_ms: float):
        # the status listener runs on its own thread: let it catch up with
        # every event the span's jobs posted before reading the store
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        intervals = []
        stage_ids: set[int] = set()
        job_ids = self._sc.statusTracker().getJobIdsForGroup(group)
        for jid in job_ids:
            job = store.job(jid)
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None:
                end = done.getTime() if done is not None else t1_ms
                intervals.append((max(sub.getTime(), t0_ms), min(end, t1_ms)))
            stage_ids.update(int(s) for s in _seq(job.stageIds()))
        sp.jobs = len(job_ids)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        sp.driver_gap_s = max(sp.wall_s - covered / 1000.0, 0.0)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                if "NoSuchElementException" not in str(exc):
                    raise
                continue  # stage planned but never submitted (AQE reuse)
            if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            sp.stages += 1
            sp.task_run_s += st.executorRunTime() / 1e3
            sp.task_cpu_s += st.executorCpuTime() / 1e9
            sp.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
            durs = [
                d
                for d in (
                    _opt(t.duration())
                    for t in _seq(store.taskList(sid, st.attemptId(), 1 << 20))
                )
                if d is not None
            ]
            if len(durs) >= 2:
                sp.task_max_sum_s += max(durs) / 1e3
                sp.task_median_sum_s += _median(durs) / 1e3


def held_storage_mb(spark) -> float:
    """Cached or checkpointed RDD blocks still held, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def retained_heap_mb(spark) -> float:
    """Driver heap still in use after a full collection: what the session
    keeps alive once a call has committed (caches, broadcasts, state).

    Collects twice: the first collection lets Spark's context cleaner
    release blocks whose handles died, the second frees them."""
    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    time.sleep(0.5)
    mem.gc()
    return mem.getHeapMemoryUsage().getUsed() / 1e6


def _descendant_table() -> dict[int, tuple[int, int]]:
    """{pid: (parent pid, CPU ticks)} of every descendant of this process.
    CPU ticks count the process's own user and system time plus that of the
    children it has reaped."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while being read
        # the command name may hold spaces: fields resume after its ')'
        f = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    root = os.getpid()
    out = {}
    for pid in procs:
        p = procs[pid][0]
        while p in procs and p != root:
            p = procs[p][0]
        if p == root and pid != root:
            out[pid] = procs[pid]
    return out


def descendants() -> list[int]:
    return sorted(_descendant_table())


# thread names (comm, cut to 15 characters) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of ``pid``'s JIT compiler threads (0 for a process that
    is not a JVM). Exact only while those threads live as long as the JVM,
    which ``-XX:-UseDynamicNumberOfCompilerThreads`` ensures."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1 : stat.rindex(")")] in JIT_THREADS:
            f = stat[stat.rindex(")") + 2 :].split()
            ticks += int(f[11]) + int(f[12])
    return ticks


def tree_cpu_s() -> tuple[float, float]:
    """(CPU seconds used so far by the driver JVM and its Python workers,
    the part of them spent by the JVM's JIT compiler threads)."""
    table = _descendant_table()
    hz = os.sysconf("SC_CLK_TCK")
    total = sum(p[1] for p in table.values())
    return total / hz, sum(_jit_ticks(pid) for pid in table) / hz
