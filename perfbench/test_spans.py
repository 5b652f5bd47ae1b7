"""Counters of the traced benchmark run.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402

RETAINED = 5


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", str(RETAINED))
        .config("spark.ui.retainedStages", str(RETAINED))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_job_count_survives_status_store_eviction(spark):
    sc = spark.sparkContext
    counter = spans.JobCounter(spark)
    listed_before = len(sc.statusTracker().getJobIdsForGroup(None))
    n = 4 * RETAINED
    for _ in range(n):
        sc.parallelize([1]).count()  # exactly one job per RDD action
    listed_after = len(sc.statusTracker().getJobIdsForGroup(None))
    # the status store evicted: counting from its job list undercounts
    assert listed_after - listed_before < n
    assert counter.jobs() == n


def test_span_reads_its_own_stages_after_eviction(spark):
    sc = spark.sparkContext
    for _ in range(4 * RETAINED):
        sc.parallelize([1]).count()
    tracer = spans.Tracer(spark)
    with tracer.span("outer"):
        with tracer.span("inner"):
            sc.parallelize(range(8), 3).count()
    outer, inner = tracer.spans
    assert inner.parent is outer and outer.parent is None
    assert (outer.jobs, inner.jobs) == (1, 1)
    # stage metrics are read per top-level span, before later jobs evict them
    assert outer.stages["tasks"] == 3
    total, own, jobs = tracer.totals("outer")
    assert jobs == 1 and 0 <= own <= total


def test_plan_counts_read_the_final_adaptive_plan(spark):
    from pyspark.sql import functions as F

    big = spark.range(1000).withColumn("k", F.col("id") % 10)
    small = spark.range(10).withColumnRenamed("id", "k")
    df = big.join(F.broadcast(small), "k").groupBy("k").count()
    df.collect()
    counts = spans.plan_counts(df)
    # one broadcast exchange for the join, one shuffle for the aggregate
    assert counts == {"exchanges": 2, "broadcast_joins": 1, "python_nodes": 0}
