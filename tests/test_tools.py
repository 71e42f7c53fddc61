"""Regression tests for the meter the probe records are built on
(etl_cloud_logistics_spark.metrics) — a biased meter poisons every
artifact that quotes it, so the meter gets its own pins."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from etl_cloud_logistics_spark.metrics import (
    _executions,
    _metric_entries,
    _parse_bytes,
    measure,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_execution_metrics_dedups_aqe_plan_versions(spark):
    """``SQLExecutionUIData.metrics`` carries one SQLPlanMetric entry per
    ADAPTIVE PLAN VERSION (same accumulator ids re-registered on every
    runtime re-plan), so an occurrence-sum overcounts by the plan-update
    count — caught when the triangle probe's 4e6-edge tier read 3989 MB
    against 586 MB of physical shuffle.  Pins: (a) the duplication is
    actually present in the run (non-vacuous), (b) the measured sum
    equals the independent unique-accumulator sum, (c) the metric is
    physically plausible — positive and under the occurrence-sum."""
    a = spark.range(200_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    b = spark.range(100_000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") * 2).alias("w")
    )
    # two shuffles + a join => AQE re-plans at least once per stage wave
    with measure(spark) as m:
        (
            a.groupBy("k")
            .agg(F.sum("v").alias("sv"))
            .join(b.groupBy("k").agg(F.sum("w").alias("sw")), "k")
            .agg(F.sum(F.col("sv") + F.col("sw")))
            .collect()
        )
    ids = {r.execution_id for r in m.rows}
    assert ids

    store = spark._jsparkSession.sharedState().statusStore()
    executions = [e for e in _executions(store) if e.executionId() in ids]
    occurrences = 0
    uniq: dict[int, float] = {}
    for _eid, acc, name, value in _metric_entries(store, executions):
        if name != "shuffle bytes written":
            continue
        occurrences += 1
        uniq[acc] = _parse_bytes(value)
    # (a) AQE actually re-registered metrics — otherwise this test would
    # pass vacuously on a build where the duplication doesn't occur
    assert occurrences > len(uniq), (occurrences, len(uniq))
    expected = sum(uniq.values())
    assert expected > 0

    got = m.metrics.get("shuffle bytes written", 0.0)
    assert got == expected, (got, expected, occurrences, len(uniq))


def test_measure_counts_block_executions_and_jobs(spark):
    """Exactly the executions started inside the block are recorded —
    one per action here — and each row carries the jobs it ran."""
    with measure(spark) as m:
        spark.range(1000).count()
        spark.range(1000).select(F.sum("id")).collect()
    assert m.executions == 2
    assert len(m.rows) == 2
    assert all(r.jobs >= 1 for r in m.rows), m.rows


def test_status_store_read_only_in_metrics_module():
    """The SQL status store is read in one place: copies of the execution
    reader drift apart (eight once did), and a drifted meter reports
    numbers no other meter reproduces.  perfbench/ is exempt — it is the
    standalone benchmark and must not import the package's meter."""
    reader = re.compile(r"execution(sList|Metrics)\b|def _?exec_ids\b")
    offenders = []
    for dirpath, dirnames, filenames in os.walk(REPO):
        dirnames[:] = [
            d for d in dirnames
            if not d.startswith((".", "__")) and d not in ("perfbench", "spark-warehouse")
        ]
        for fn in filenames:
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, REPO)
            if not fn.endswith(".py") or rel == os.path.join(
                "etl_cloud_logistics_spark", "metrics.py"
            ):
                continue
            with open(path, encoding="utf-8") as fh:
                if reader.search(fh.read()):
                    offenders.append(rel)
    assert not offenders, offenders
    assert not os.path.exists(os.path.join(REPO, "tools", "pipeline_jobs.py"))
