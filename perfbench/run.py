"""Benchmark of the etl_cloud_logistics_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse_queries --seed 1 --seconds 5 --trace 0

Workloads are defined in ``workloads.py``.  A run:

1. starts the program's own session (``session.get_spark``) sized to the
   host: ``local[nproc]`` and a driver heap of a quarter of RAM, at most
   4 GiB;
2. sets up ``SETUP_CYCLES`` times: restart the SparkContext, write the
   seeded inputs into a fresh directory, make the workload's catalog loads;
3. warms up on its own inputs (checked like timed operations);
4. runs whole timed rounds until ``--seconds`` of operation time has
   passed, checking each operation's output after timing it;
5. prints a report, a JSON record with the host stamps, and as its last
   line ``{"correct", "attempted", "failed", "metrics"}``.

The end-to-end times are CPU seconds of the benchmark's process tree (its
Python process, the JVM and whatever they start) with the JIT compiler
threads left out (``meter.cpu_s`` says why); the report also gives the wall
times.  ``round_cpu_s`` is the median over the timed rounds of a round's
CPU; ``setup_s`` is the CPU of launch (process start to the first session)
plus the median set-up cycle plus the warm-up.

With ``--trace 1`` the run also wraps the package's public functions
(``spans.py``) and reports per-layer metrics instead of the end-to-end
ones; the spans go to
``.bench_runs/<workload>-seed<seed>-trace.json``.  Per-layer counts
(executions, jobs, tasks, shuffle and read MB, batches, state rows, files)
repeat exactly for one seed, except ``sources.output_mb`` and
``sources.write_amp``: each ``load_logs`` row carries wall-clock start and
end times, so its size moves by a few bytes.

Everything the run writes stays under ``.bench_runs/`` in the checkout: the
working directory, Spark's local dirs, the JVM's and Python's temp dirs.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from meter import cpu_s, steal_s  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "etl_cloud_logistics_spark")
RUNS_DIR = os.path.join(ROOT, ".bench_runs")

SETUP_CYCLES = 3
WORKLOADS = ("warehouse_queries", "daily_pipelines")
LAYERS = ("catalog", "queries", "operators", "pipelines", "sources", "streaming")
# per-layer metric -> spans whose inclusive time it sums (nested calls of
# the same function, e.g. atomic_overwrite inside upsert_parquet, count in both)
NAMED_SPANS = {
    "catalog.load_s": ("catalog.load_table",),
    "queries.build_s": ("queries.build",),
    "queries.exec_s": ("queries.exec",),
    "operators.scd2_s": ("operators.scd2.scd2_apply",),
    "operators.dq_s": ("operators.expectations.run_expectations",),
    "pipelines.run_s": ("pipelines.run_daily_etl",),
    "pipelines.report_s": (
        "pipelines.refresh_report_segment_totals",
        "pipelines.refresh_report_status_totals",
    ),
    "sources.staging_write_s": ("sources.staging.write_json_staging",),
    "sources.overwrite_s": ("sources.upsert.atomic_overwrite",),
    "sources.lake_write_s": ("sources.lake.write_partitioned_lake",),
    "sources.upsert_s": ("sources.upsert.upsert_parquet",),
    "streaming.start_s": ("streaming.pipeline.start_streaming_pipeline",),
    "streaming.drain_s": ("streaming.pipeline.run_until_drained",),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_sizing() -> tuple[int, int]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, total_kb // 1024 // 4))
    return cpus, heap_mb


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    xs, n = sorted(values), len(values)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


class Harness:
    def __init__(self, args, workdir: str, cpus: int, heap_mb: int):
        self.args = args
        self.workdir = workdir
        self.cpus, self.heap_mb = cpus, heap_mb
        self.spark = None
        self.tracer = None
        self.ops_attempted = 0
        self.ops_failed = 0
        self.problems: list[str] = []

    # -- session ----------------------------------------------------------------

    def start_session(self):
        from meter import RETENTION_CONF
        from etl_cloud_logistics_spark.session import get_spark

        java_opts = f"-Djava.io.tmpdir={self.workdir}/tmp -XX:-UsePerfData"
        java_opts += " -XX:-UseDynamicNumberOfCompilerThreads"  # see meter.cpu_s
        return get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                **RETENTION_CONF,
                "spark.local.dir": f"{self.workdir}/local",
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": f"{self.workdir}/spark-warehouse",
            },
        )

    def restart_session(self) -> float:
        t = time.perf_counter()
        self.spark.stop()
        self.spark = self.start_session()
        if self.tracer:
            self.tracer.rebind(self.spark)
        return time.perf_counter() - t

    # -- operations --------------------------------------------------------------

    def run_op(self, op, tag: str) -> tuple[float | None, float | None, list[str]]:
        """Run and time one operation under job tag ``tag``, then check it.
        Returns (latency, cpu, problems): wall seconds and work CPU seconds
        (``meter.cpu_s``), both None when it raised.  An operation with
        problems counts as failed; one that finished with a wrong result
        still has a latency."""
        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        c = cpu_s()[0]
        t = time.perf_counter()
        try:
            op.run(self.spark, self.tracer)
            latency = time.perf_counter() - t
            cpu = cpu_s()[0] - c
        except Exception:  # a failed operation is counted, the run goes on
            return None, None, [f"{op.name} raised:\n{traceback.format_exc(limit=4)}"]
        finally:
            sc.removeJobTag(tag)
        try:
            bad = op.check()
        except Exception:
            bad = [f"{op.name} check raised:\n{traceback.format_exc(limit=4)}"]
        return latency, cpu, bad

    def run_ops(self, ops, tag: str, parallel: bool = False) -> list[tuple]:
        """Run ``ops`` in order, or on one thread per core; count attempts
        and failures, return (latency, cpu) of each."""
        tags = [f"{tag}-{i}" for i in range(len(ops))]
        if parallel:
            with ThreadPoolExecutor(max_workers=self.cpus) as pool:
                results = list(pool.map(self.run_op, ops, tags))
        else:
            results = [self.run_op(op, t) for op, t in zip(ops, tags)]
        self.ops_attempted += len(ops)
        for *_, bad in results:
            self.ops_failed += bool(bad)
            self.problems += bad
        return [(lat, cpu) for lat, cpu, _ in results]

    # -- the run -----------------------------------------------------------------

    def run(self) -> dict:
        import workloads

        args = self.args
        load_start = os.getloadavg()[0]
        wl = workloads.WORKLOADS[args.workload](args.seed)
        self.spark = self.start_session()
        launch_s = time.perf_counter() - T_START
        launch_cpu = cpu_s()[0]
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            wrapped = self.tracer.install()

        cycles, cycles_cpu, restarts = [], [], []
        for k in range(SETUP_CYCLES):
            t, c = time.perf_counter(), cpu_s()[0]
            restarts.append(self.restart_session())
            data = os.path.join(self.workdir, f"inputs{k}")
            shutil.rmtree(os.path.join(self.workdir, f"inputs{k - 1}"), ignore_errors=True)
            wl.generate(data)
            wl.prepare(self.spark)
            cycles.append(time.perf_counter() - t)
            cycles_cpu.append(cpu_s()[0] - c)
        wl.oracles()  # expected outputs for the checks, not part of set-up
        t, c = time.perf_counter(), cpu_s()[0]
        self.run_ops(wl.warmup_ops(), "perfbench-warmup", wl.PARALLEL_WARMUP)
        warmup_s = time.perf_counter() - t
        warmup_cpu = cpu_s()[0] - c
        setup_wall = launch_s + statistics.median(cycles) + warmup_s
        setup_cpu = launch_cpu + statistics.median(cycles_cpu) + warmup_cpu

        if self.tracer:
            self.tracer.recording = True
        timed, latencies, named, rounds, op_tags, spent, r = [], [], [], [], [], 0.0, 0
        rounds_cpu = []
        steal0, jit0 = steal_s(), cpu_s()[1]
        t_timed = time.perf_counter()
        # a round's time sums the operations that did not raise; the wall cap
        # stops a loop of raising operations
        while spent < args.seconds and time.perf_counter() - t_timed < 4 * args.seconds + 60:
            ops = wl.round(r)
            if not ops:
                break
            tag = f"perfbench-op-{r}"
            op_tags += [f"{tag}-{i}" for i in range(len(ops))]
            timed += ops
            res = self.run_ops(ops, tag)
            ok = [(lat, cpu) for lat, cpu in res if lat is not None]
            named += [[op.name, lat, cpu] for op, (lat, cpu) in zip(ops, res) if lat is not None]
            latencies += [lat for lat, _ in ok]
            spent += sum(lat for lat, _ in ok)
            rounds.append(sum(lat for lat, _ in ok))
            rounds_cpu.append(sum(cpu for _, cpu in ok))
            r += 1
        timed_wall = time.perf_counter() - t_timed
        timed_steal, timed_jit = steal_s() - steal0, cpu_s()[1] - jit0
        if self.tracer:
            self.tracer.recording = False

        from meter import StatusStore

        snap = StatusStore(self.spark).snapshot()
        op_jobs = sorted({j for tag in op_tags for j in snap.jobs_tagged(tag)})
        work = snap.work(op_jobs)
        op_time = sum(latencies)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": self.cpus,
            "heap_mb": self.heap_mb,
            "spark": self.spark.version,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "load1_start": load_start,
            "load1_end": os.getloadavg()[0],
            "rounds": r,
            "ops": len(timed),
            "round_wall_s": rounds,
            "round_cpu_s": rounds_cpu,
            "timed_wall_s": timed_wall,
            "timed_steal_s": timed_steal,
            "timed_jit_cpu_s": timed_jit,
            "setup_wall_s": setup_wall,
            "launch_s": launch_s,
            "launch_cpu_s": launch_cpu,
            "setup_cycles_s": cycles,
            "setup_cycles_cpu_s": cycles_cpu,
            "warmup_s": warmup_s,
            "warmup_cpu_s": warmup_cpu,
        }
        metrics = {
            "setup_s": (setup_cpu, "s"),
            "round_cpu_s": (statistics.median(rounds_cpu) if rounds_cpu else 0.0, "s"),
            "peak_exec_mem_mb": (snap.peak_execution_mb(op_jobs), "MB"),
        }
        tv, tp, tn = tail(latencies) if latencies else (0.0, 0.0, 0)
        record.update(
            op_p50_s=statistics.median(latencies) if latencies else 0.0,
            op_tail_s=tv, op_tail_pct=tp, op_samples=tn,
            op_latencies=named,
            input_rows_per_s=work.input_rows / op_time if op_time else 0.0,
            timed_jobs=work.jobs, timed_executions=len(work.executions),
        )

        if args.trace:
            input_bytes = sum(op.stats.get("input_bytes", 0) for op in timed)
            layer = self.layer_metrics(snap, op_jobs, timed, work, input_bytes)
            layer.update({
                "session.start_s": (launch_s, "s"),
                "session.restart_s": (statistics.median(restarts), "s"),
                "session.warmup_s": (warmup_s, "s"),
                "session.jit_cpu_s": (timed_jit, "s"),
                "session.gc_s": (work.gc_s, "s"),
                "session.heap_peak_mb": (self.heap_peak_mb(), "MB"),
            })
            layer.update(workloads.stream_metrics(timed))
            record.update(
                wrapped_functions=wrapped,
                spans=len(self.tracer.spans),
                trace_overhead_s=self.tracer.overhead_s,
                unowned_jobs=self.unowned_jobs,
                traced_round_cpu_s=metrics["round_cpu_s"][0],
            )
            self.write_spans()
            metrics = layer
        return {
            "correct": self.ops_failed == 0,
            "attempted": self.ops_attempted,
            "failed": self.ops_failed,
            "metrics": metrics,
            "record": record,
        }

    def layer_metrics(self, snap, op_jobs, timed, work, input_bytes) -> dict:
        """Per-layer self time, calls and Spark work (each job charged to
        its innermost span), plus the inclusive time of named spans."""
        tr = self.tracer
        self_t = tr.self_times()
        owner = tr.owner_of_jobs({j: snap.jobs[j] for j in op_jobs})
        out = {}
        for layer in LAYERS:
            spans = [s for s in tr.spans if s.layer == layer]
            w = snap.work(j for j, s in owner.items() if s.layer == layer)
            out[f"{layer}.self_s"] = (sum(self_t[s.sid] for s in spans), "s")
            out[f"{layer}.calls"] = (len(spans), "count")
            out[f"{layer}.executions"] = (len(w.executions), "count")
            out[f"{layer}.jobs"] = (w.jobs, "count")
            out[f"{layer}.tasks"] = (w.tasks, "count")
            out[f"{layer}.task_run_s"] = (w.task_run_s, "s")
            out[f"{layer}.shuffle_mb"] = (w.shuffle_mb, "MB")
            out[f"{layer}.spill_mb"] = (w.spill_mb, "MB")
            if layer == "queries":
                out["queries.stages"] = (w.stages, "count")
                out["queries.task_cpu_s"] = (w.task_cpu_s, "s")
                out["queries.read_mb"] = (w.read_mb, "MB")
                exec_s = sum(s.end - s.start for s in spans if s.name == "queries.exec")
                out["queries.parallelism"] = (w.task_run_s / exec_s if exec_s else 0.0, "ratio")
            if layer == "sources":
                out["sources.output_mb"] = (w.output_mb, "MB")
        for metric, names in NAMED_SPANS.items():
            out[metric] = (sum(s.end - s.start for s in tr.spans if s.name in names), "s")
        out["queries.plan_s"] = (sum(op.stats.get("plan_s", 0.0) for op in timed), "s")
        out["sources.write_amp"] = (work.output_bytes / input_bytes if input_bytes else 0.0, "ratio")
        out["sources.files_written"] = (sum(op.stats.get("files_written", 0) for op in timed), "count")
        self.unowned_jobs = sum(1 for j in op_jobs if j not in owner)  # ran outside every span
        return out

    def heap_peak_mb(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        heap = self.spark._jvm.java.lang.management.MemoryType.HEAP
        total = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getType() == heap:
                total += pool.getPeakUsage().getUsed()
        return total / 2**20

    def write_spans(self) -> None:
        path = os.path.join(RUNS_DIR, f"{self.args.workload}-seed{self.args.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"spans": self.tracer.dump(T_START)}, f)

    def close(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)


def report(result: dict) -> None:
    rec = result["record"]
    print(f"perfbench {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"cpus={rec['cpus']} heap={rec['heap_mb']}MB spark={rec['spark']} "
          f"java={rec['java']} load1={rec['load1_start']:.2f}->{rec['load1_end']:.2f}")
    print(f"  set-up wall: {rec['setup_wall_s']:.2f} s = launch {rec['launch_s']:.2f} s + median of cycles "
          f"{', '.join(f'{c:.2f}' for c in rec['setup_cycles_s'])} s + warm-up {rec['warmup_s']:.2f} s")
    print(f"  timed: {rec['rounds']} rounds, {rec['ops']} ops, {rec['timed_jobs']} jobs, "
          f"{rec['timed_executions']} executions, {rec['input_rows_per_s']:.0f} input rows/s")
    print(f"  round wall {', '.join(f'{x:.2f}' for x in rec['round_wall_s'])} s, work CPU "
          f"{', '.join(f'{x:.2f}' for x in rec['round_cpu_s'])} s; over the timed phase "
          f"JIT CPU {rec['timed_jit_cpu_s']:.2f} s, host steal {rec['timed_steal_s']:.2f} s")
    print(f"  operation latency: p50 {rec['op_p50_s']:.4f} s, p{rec['op_tail_pct']:.1f} "
          f"{rec['op_tail_s']:.4f} s (n={rec['op_samples']})")
    if rec["trace"]:
        print(f"  trace: {rec['wrapped_functions']} functions wrapped, {rec['spans']} spans, "
              f"overhead {rec['trace_overhead_s']:.4f} s, traced round work CPU "
              f"{rec['traced_round_cpu_s']:.4f} s")
    for name, (value, unit) in result["metrics"].items():
        print(f"  {name:28s} {value:14.4f} {unit}")
    print(f"  checks: {result['attempted']} operations, {result['failed']} failed")
    print("perfbench-record " + json.dumps(rec))


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(PACKAGE_DIR):
        print(f"the package to benchmark is missing: {PACKAGE_DIR}", file=sys.stderr)
        return 2
    workdir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    cpus, heap_mb = host_sizing()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "TMPDIR": os.path.join(workdir, "tmp"),
    })
    os.environ.pop("SPARK_MASTER", None)
    os.chdir(workdir)
    sys.path[:0] = [HERE, ROOT]
    harness = Harness(args, workdir, cpus, heap_mb)
    try:
        result = harness.run()
    finally:
        harness.close()
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    report(result)
    for p in harness.problems[:20]:
        print("  PROBLEM " + p.replace("\n", "\n    "))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
