"""The benchmark's workloads.

Each is a closed loop with one client: an operation starts when the last
one has finished and been checked.  A workload provides

- ``generate(dir)``: write its seeded inputs (part of set-up);
- ``prepare(spark)``: what a session needs before the first operation,
  e.g. the catalog loads (part of set-up);
- ``warmup_ops()``: operations run before timing, each checked; with
  ``PARALLEL_WARMUP`` they run on one thread per core;
- ``round(i)``: the operations of timed round ``i``.  The timed phase runs
  whole rounds, so every run times the same mix;
- ``op.run(spark, tracer)`` and ``op.check()``; the harness times ``run``
  and counts a raised error or a non-empty ``check`` as a failed operation.
"""

from __future__ import annotations

import os
import random
import statistics
from contextlib import nullcontext
from dataclasses import dataclass, field

import checks
import inputs

from etl_cloud_logistics_spark import catalog, pipelines
from etl_cloud_logistics_spark.queries import REGISTRY, _load_all
from etl_cloud_logistics_spark.streaming import pipeline as stream_pipeline

RELATIONAL_MODULES = (
    "etl_cloud_logistics_spark.queries.core",
    "etl_cloud_logistics_spark.queries.tpch_classic",
)


@dataclass
class Op:
    name: str
    problems: list = field(default_factory=list)
    stats: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# warehouse_queries
# ---------------------------------------------------------------------------


class WarehouseQueries:
    """The 29 relational registry rows (``queries/core.py`` and
    ``queries/tpch_classic.py``) over a seeded star schema with 60k
    lineitem rows.  An operation builds one row's DataFrame and collects it
    as Arrow; its result must match the row's DuckDB oracle (row count and
    typed digest).  A round is all 29 rows in a seeded order; the warm-up is
    one pass over them."""

    name = "warehouse_queries"
    SCALE = 0.01
    # the rows are independent, so the warm-up runs them on every core
    PARALLEL_WARMUP = True

    def __init__(self, seed: int):
        self.seed = seed
        _load_all()
        self.names = [n for n, s in REGISTRY.items() if s.fn.__module__ in RELATIONAL_MODULES]
        self.data_dir = None
        self.want: dict[str, tuple[int, str]] = {}

    def generate(self, root: str) -> None:
        self.data_dir = os.path.join(root, "star")
        inputs.write_star_schema(self.data_dir, self.seed, self.SCALE)

    def prepare(self, spark) -> None:
        for t in checks.TABLES:
            catalog.load_table(spark, self.data_dir, t)

    def oracles(self) -> None:
        self.want = checks.oracle_digests(
            self.data_dir, {n: REGISTRY[n].oracle for n in self.names}
        )

    def warmup_ops(self):
        return [QueryOp(self, n) for n in self.names]

    def round(self, i: int):
        order = list(self.names)
        random.Random(self.seed * 1000 + i).shuffle(order)
        return [QueryOp(self, n) for n in order]


class QueryOp(Op):
    def __init__(self, wl: WarehouseQueries, name: str):
        super().__init__(name)
        self.wl = wl

    def run(self, spark, tracer):
        span = tracer.span if tracer else (lambda name, layer: nullcontext())
        with span("queries.build", "queries"):
            df = REGISTRY[self.name].fn(spark, self.wl.data_dir)
        with span("queries.exec", "queries"):
            self.result = df.toArrow()
        if tracer:
            self.stats["plan_s"] = _plan_seconds(df)

    def check(self):
        got, self.result = checks.typed_digest(self.result), None
        want = self.wl.want.get(self.name)
        if got != want:
            self.problems.append(f"{self.name}: got {got}, oracle {want}")
        return self.problems


def _plan_seconds(df) -> float:
    """Analysis + optimization + planning time Catalyst recorded for the
    DataFrame's own QueryExecution (the one its action ran)."""
    it = df._jdf.queryExecution().tracker().phases().valuesIterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next().durationMs()
    return total_ms / 1e3


# ---------------------------------------------------------------------------
# daily_pipelines
# ---------------------------------------------------------------------------


class DailyPipelines:
    """One business day per operation, on one warehouse:

    1. the streaming pipeline (``start_streaming_pipeline`` then
       ``run_until_drained``) drains the day's event chunk files: alerts,
       the ``latest_status`` upsert and hourly counts, one micro-batch per
       chunk and query, restarting from the previous day's checkpoints;
    2. ``run_daily_etl`` lands the day's orders: JSON staging, dim_date,
       two SCD2 dimensions rewritten by ``atomic_overwrite``, the
       partitioned fact, the DQ gate and the two report refreshes.

    Day 0 is the bulk initial load (every customer key) and is the warm-up;
    each later day churns 10 % of the keys and adds 0.1 %.  Inputs exist
    for ``MAX_TIMED_DAYS`` timed days.  After every day the SCD2, fact and
    streaming invariants are checked."""

    name = "daily_pipelines"
    PARALLEL_WARMUP = False
    N_KEYS = 10_000
    EVENTS_PER_DAY = 20_000
    N_USERS = 1_000
    CHUNKS_PER_DAY = 3
    MAX_TIMED_DAYS = 3
    ALERT_THRESHOLD = 35.0

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, root: str) -> None:
        self.src = inputs.EtlSource(self.seed, self.N_KEYS)
        self.events_dir = os.path.join(root, "events")
        self.warehouse = os.path.join(root, "warehouse")
        self.day_dirs, self.day_events, self.day_bytes = [], [], []
        for day in range(1 + self.MAX_TIMED_DAYS):
            etl_dir = self.src.write_day(root, day)
            ev_dir = os.path.join(root, f"events_day{day:02d}")
            inputs.write_event_chunks(
                ev_dir, self.seed, day, self.src.run_date(day),
                self.EVENTS_PER_DAY, self.N_USERS, self.CHUNKS_PER_DAY,
            )
            self.day_dirs.append(etl_dir)
            self.day_events.append(ev_dir)
            self.day_bytes.append(checks.dir_bytes(etl_dir)[1] + checks.dir_bytes(ev_dir)[1])
        os.makedirs(self.events_dir)
        self.closed = 0

    def prepare(self, spark) -> None:
        for t in ("orders", "customer", "supplier", "lineitem"):
            catalog.load_table(spark, self.day_dirs[0], t)

    def oracles(self) -> None:
        pass  # every check derives its expectation from the day's inputs

    def warmup_ops(self):
        return [DayOp(self, 0)]

    def round(self, i: int):
        return [DayOp(self, 1 + i)] if 1 + i < len(self.day_dirs) else []


class DayOp(Op):
    def __init__(self, wl: DailyPipelines, day: int):
        super().__init__(f"day{day}")
        self.wl, self.day = wl, day

    def run(self, spark, tracer):
        wl, day = self.wl, self.day
        # the day's chunk files appear in the stream source, as an upstream
        # writer would drop them
        for f in sorted(os.listdir(wl.day_events[day])):
            os.link(os.path.join(wl.day_events[day], f), os.path.join(wl.events_dir, f))
        files_before = checks.dir_bytes(wl.warehouse)[0]
        queries = stream_pipeline.start_streaming_pipeline(
            spark, wl.events_dir, wl.warehouse, alert_threshold=wl.ALERT_THRESHOLD
        )
        try:
            stream_pipeline.run_until_drained(queries)
        finally:
            for q in queries:  # already stopped unless the drain raised
                q.stop()
        self.stats["stream"] = [list(q.recentProgress) for q in queries]
        self.stats["watermark"] = _final_watermark(queries[2])
        pipelines.run_daily_etl(spark, wl.day_dirs[day], wl.warehouse, wl.src.run_date(day))
        self.stats["files_written"] = checks.dir_bytes(wl.warehouse)[0] - files_before
        self.stats["input_bytes"] = wl.day_bytes[day]

    def check(self):
        wl, facts = self.wl, self.wl.src.day_facts[self.day]
        wl.closed += facts["churned"]
        self.problems += checks.check_etl_day(wl.warehouse, facts, wl.closed)
        self.problems += checks.check_stream(
            wl.warehouse, wl.events_dir, wl.ALERT_THRESHOLD, self.stats["watermark"]
        )
        return self.problems


def stream_metrics(ops) -> dict:
    """Streaming progress over the timed operations (zero for a workload
    that runs no stream)."""
    progress = [p for op in ops for q in op.stats.get("stream", []) for p in q]
    # a batch that moved the source offsets (Spark reports numInputRows 0
    # for every alerts batch, so rows cannot tell data batches apart)
    batches = [
        p for p in progress
        if any(s["startOffset"] != s["endOffset"] for s in p.get("sources", ()))
    ]
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in batches) / 1e3  # noqa: E731
    state_rows = state_mb = 0
    for op in ops:
        for q in op.stats.get("stream", []):
            last = next((p for p in reversed(q) if p.get("stateOperators")), None)
            if last:
                state_rows += sum(s["numRowsTotal"] for s in last["stateOperators"])
                state_mb += sum(s["memoryUsedBytes"] for s in last["stateOperators"]) / 2**20
    return {
        "streaming.batches": (len(batches), "count"),
        "streaming.input_rows": (sum(
            max(sum(p["numInputRows"] for p in q) for q in op.stats["stream"])
            for op in ops if op.stats.get("stream")
        ), "count"),
        "streaming.trigger_p50_s": (statistics.median(trig) if trig else 0.0, "s"),
        "streaming.add_batch_s": (dur("addBatch"), "s"),
        "streaming.get_batch_s": (dur("getBatch"), "s"),
        "streaming.planning_s": (dur("queryPlanning"), "s"),
        "streaming.wal_commit_s": (dur("walCommit"), "s"),
        "streaming.commit_s": (dur("commitOffsets"), "s"),
        "streaming.state_rows": (state_rows, "count"),
        "streaming.state_mb": (state_mb, "MB"),
    }


def _final_watermark(query) -> str | None:
    for p in reversed(query.recentProgress):
        wm = p.get("eventTime", {}).get("watermark")
        if wm:
            return wm
    return None


WORKLOADS = {w.name: w for w in (WarehouseQueries, DailyPipelines)}
