"""Spark SQL execution meter — the one reader of the SQL status store.

``measure(spark)`` brackets a block of actions and records what the
executions started inside it cost, as Spark's own SQL metrics report it:

    with measure(spark) as m:
        df.write.mode("overwrite").format("noop").save()
    m.executions, m.mb("shuffle bytes written"), m.rows

An execution belongs to the block when its id is in the status store's
execution list after the block but not before it (the id set difference).
A block may start several executions — iterative operators run one per
round, eager checkpoints and counts one each — and all of them are
aggregated.  Executions another thread starts during the block are
counted too: the set difference cannot tell them apart.

The status store is written by a listener on Spark's asynchronous event
bus, so ``measure`` drains the bus before each snapshot.  A read taken
right after an action can otherwise miss that action's last task metrics
or its execution: under load (load1 ~10, 4 cores) 1 of 16 sf0.01 reads
lost tpch_q21's peak memory, 64.2 -> 0.2 MB.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator, NamedTuple

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_bytes(s: str) -> float:
    """First size token in a metric string — for multi-task metrics Spark
    formats 'total (min, med, max ...)', so the first token IS the total."""
    m = _SIZE.search(s)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


class ExecutionRow(NamedTuple):
    """One SQL execution; field order is the sort order (submission)."""

    submitted_ms: int
    execution_id: int
    jobs: int
    duration_ms: int  # -1 while the execution is still running
    description: str


@dataclass
class Measurement:
    """What ``measure`` recorded; filled in when its block exits."""

    store: object  # the session's JVM SQLAppStatusStore
    metrics: dict[str, float] = field(default_factory=dict)
    rows: list[ExecutionRow] = field(default_factory=list)

    @property
    def executions(self) -> int:
        return len(self.rows)

    def mb(self, name: str) -> float:
        """Metric ``name`` (a size metric) in MiB; 0.0 when absent."""
        return self.metrics.get(name, 0.0) / 2**20

    def node_metric(self, node_desc: str, name: str) -> int:
        """Sum of the count metric ``name`` over the SQL plan-graph nodes
        whose description contains ``node_desc`` (e.g. a scan's path).
        The plan graph, not the executed plan: AQE wraps the executed plan
        in QueryStage nodes, so its collectLeaves() can't see the scans."""
        total = 0
        for row in self.rows:
            values = self.store.executionMetrics(row.execution_id)
            nodes = self.store.planGraph(row.execution_id).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if node_desc not in node.desc():
                    continue
                mets = node.metrics()
                for k in range(mets.size()):
                    met = mets.apply(k)
                    if met.name() != name:
                        continue
                    v = values.get(met.accumulatorId())
                    if v.isDefined():
                        total += int("".join(c for c in v.get() if c.isdigit()) or 0)
        return total


def _executions(store) -> list:
    listed = store.executionsList()
    return [listed.apply(i) for i in range(listed.size())]


def _metric_entries(store, executions) -> Iterator[tuple[int, int, str, str]]:
    """(execution id, accumulator id, metric name, value string) for every
    metric entry the executions' UI data carries — duplicates included."""
    for e in executions:
        eid = e.executionId()
        values = store.executionMetrics(eid)
        it = e.metrics().iterator()
        while it.hasNext():
            m = it.next()
            v = values.get(m.accumulatorId())
            if v.isDefined():
                yield eid, m.accumulatorId(), m.name(), v.get()


def _unique_sums(entries) -> dict[str, float]:
    """Sum size-type metrics by name across the UNIQUE accumulators of
    each execution (one accumulator per physical plan node); peak memory
    is a max, not a sum.

    The per-accumulator dedup is load-bearing under AQE:
    ``SQLExecutionUIData.metrics`` accumulates one SQLPlanMetric entry per
    ADAPTIVE PLAN VERSION — every runtime re-plan re-registers the whole
    plan's metrics with the same accumulator ids — so summing occurrences
    overcounts by the plan-update count.  Measured on the 13-stage
    triangle aggregation at 2.7M edges: 39 occurrences over 6 unique
    shuffle-write accumulators, 3989 "MB" summed vs 586 MB physical (the
    per-stage task totals agree with the unique sum).  The inflation
    factor is deterministic per plan shape, which is why round-over-round
    artifact comparisons stayed coherent; absolute *_MB columns in
    records drawn before the fix carry that per-query factor."""
    out: dict[str, float] = {}
    seen: set[tuple[int, int]] = set()
    for eid, acc, name, value in entries:
        if (eid, acc) in seen:
            continue
        seen.add((eid, acc))
        val = _parse_bytes(value)
        if name == "peak memory":
            out[name] = max(out.get(name, 0.0), val)
        else:
            out[name] = out.get(name, 0.0) + val
    return out


def _row(e) -> ExecutionRow:
    sub = e.submissionTime()
    comp = e.completionTime()
    return ExecutionRow(
        sub,
        e.executionId(),
        e.jobs().size(),
        comp.get().getTime() - sub if comp.isDefined() else -1,
        str(e.description() or ""),
    )


@contextmanager
def measure(spark) -> Iterator[Measurement]:
    """Record the SQL executions the ``with`` block starts (module doc)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = {e.executionId() for e in _executions(store)}
    meas = Measurement(store)
    yield meas
    bus.waitUntilEmpty()
    new = [e for e in _executions(store) if e.executionId() not in before]
    meas.metrics = _unique_sums(_metric_entries(store, new))
    meas.rows = sorted(_row(e) for e in new)
