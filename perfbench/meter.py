"""Reads Spark's status store and attributes its work to job tags.

Work is attributed by the job tags the harness sets (``SparkContext.
addJobTag``), never by diffing execution-id sets, so jobs of queries that
run at the same time (the streaming pipeline's three queries) stay apart.

Metrics come from the stage records (task metrics summed over each stage's
tasks, every attempt counted once), not from SQL plan accumulators: AQE
re-registers plan metrics on every re-plan, and summing those repeats
overcounts.  A stage shared by several jobs (a skipped stage re-listed by a
later job) belongs to the lowest job id that lists it, the job that ran it.

The store's retention limits are raised by the harness's session settings;
``snapshot`` still fails if any job, or any stage a job lists, is missing,
since a truncated store would read as a gain.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

EXEC_TAG = "-execution-root-id-"

RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "1000",
    "spark.sql.ui.retainedExecutions": "1000000",
    "spark.ui.retainedDeadExecutors": "10",
}


class StoreEvictedError(RuntimeError):
    """The status store dropped records the benchmark needs."""


@dataclass
class Work:
    """Spark work summed over a set of jobs.  Sums are kept in the store's
    integer units (ms, ns, bytes), so they do not depend on job order."""

    executions: set = field(default_factory=set)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_rows: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    read_bytes: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add_stage(self, s: dict) -> None:
        self.stages += 1
        self.tasks += s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
        self.input_rows += s["inputRecords"]
        self.run_ms += s["executorRunTime"]
        self.cpu_ns += s["executorCpuTime"]
        self.gc_ms += s["jvmGcTime"]
        self.read_bytes += s["inputBytes"]
        self.output_bytes += s["outputBytes"]
        self.shuffle_bytes += s["shuffleWriteBytes"]
        self.spill_bytes += s["memoryBytesSpilled"]

    task_run_s = property(lambda self: self.run_ms / 1e3)
    task_cpu_s = property(lambda self: self.cpu_ns / 1e9)
    gc_s = property(lambda self: self.gc_ms / 1e3)
    read_mb = property(lambda self: self.read_bytes / 1e6)
    output_mb = property(lambda self: self.output_bytes / 1e6)
    shuffle_mb = property(lambda self: self.shuffle_bytes / 1e6)
    spill_mb = property(lambda self: self.spill_bytes / 1e6)


class StatusStore:
    """JSON views of the JVM's ``AppStatusStore`` for one SparkContext."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway
        self._double = jvm.double
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._mapper = mapper

    def snapshot(self) -> "Snapshot":
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                store.stageList(None, False, False, self._gateway.new_array(self._double, 0), None)
            )
        )
        return Snapshot(jobs, stages)


class Snapshot:
    def __init__(self, jobs: list[dict], stages: list[dict]):
        self.jobs = {j["jobId"]: j for j in jobs}
        stage_ids = {s["stageId"] for s in stages}
        missing_jobs = (set(range(max(self.jobs) + 1)) - set(self.jobs)) if self.jobs else set()
        missing_stages = {sid for j in jobs for sid in j["stageIds"]} - stage_ids
        if missing_jobs or missing_stages:
            raise StoreEvictedError(
                f"status store evicted {len(missing_jobs)} jobs and "
                f"{len(missing_stages)} stages; raise its retention limits"
            )
        owner: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stageIds"]:
                owner.setdefault(sid, jid)
        self.stages_of: dict[int, list[dict]] = defaultdict(list)
        for s in stages:
            if s["status"] in ("COMPLETE", "FAILED") and s["stageId"] in owner:
                self.stages_of[owner[s["stageId"]]].append(s)

    def jobs_tagged(self, tag: str) -> list[int]:
        return [jid for jid, j in self.jobs.items() if tag in j["jobTags"]]

    def work(self, job_ids) -> Work:
        w = Work()
        for jid in job_ids:
            w.jobs += 1
            for t in self.jobs[jid]["jobTags"]:
                if EXEC_TAG in t:
                    w.executions.add(int(t.rsplit("-", 1)[1]))
            for s in self.stages_of.get(jid, ()):
                w.add_stage(s)
        return w

    def peak_execution_mb(self, job_ids) -> float:
        """Largest per-SQL-execution sum of the stages' peak execution
        memory (each task's operator-accounted peak, summed per stage)."""
        per_exec: dict[str, int] = defaultdict(int)
        for jid in job_ids:
            root = next((t for t in self.jobs[jid]["jobTags"] if EXEC_TAG in t), f"job-{jid}")
            per_exec[root] += sum(s["peakExecutionMemory"] for s in self.stages_of.get(jid, ()))
        return max(per_exec.values(), default=0) / 2**20




# thread names (as the kernel truncates them) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_s(root: int | None = None) -> tuple[float, float]:
    """(work, jit): CPU seconds (user + system) used so far by process
    ``root`` (this one by default) and all its descendants, children already
    reaped included; ``jit`` is the part the JVM's JIT compiler threads
    used, and ``work`` the rest.

    CPU time rather than wall time: on a virtual machine whose host is
    busy, wall time grows with the time the host withholds the CPUs
    (steal), CPU time does not.  JIT compilation is kept apart because how
    much of it a stretch of work triggers depends on thread timing and on
    how warm the JVM is, not on the work; in the first rounds after a
    warm-up it is most of the CPU the JVM uses.  The compiler threads must
    live as long as the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``),
    or the time of one that exits would move from ``jit`` to ``work``."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat(f"/proc/{name}/stat")):
            parent[int(name)] = int(fields[1])
            ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total = jit = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        jit += _jit_ticks(pid)
        todo += children[pid]
    hz = os.sysconf("SC_CLK_TCK")
    return (total - jit) / hz, jit / hz


def _stat(path: str) -> list[str] | None:
    """The fields of a ``/proc`` stat file after the command name."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # exited while we looked
        return None


def _jit_ticks(pid: int) -> int:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().strip() not in JIT_THREADS:
                    continue
        except OSError:
            continue
        if fields := _stat(f"/proc/{pid}/task/{tid}/stat"):
            total += int(fields[11]) + int(fields[12])
    return total


def steal_s() -> float:
    """CPU seconds the host has withheld from this machine since boot,
    summed over its CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
