"""Pins the private Spark API that ``stagemetrics.read_groups`` reaches
through py4j (``SparkContext.statusStore()``, ``jobsList``/``stageList``,
the listener bus drain, ``CollectionConverters``), with the web UI off as
in every benchmark session.  A Spark upgrade that moves any of them fails
here instead of silently zeroing the benchmark's per-layer numbers.

    python3 -m pytest perfbench/test_stagemetrics.py -q
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

import stagemetrics


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-stagemetrics-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_groups_count_jobs_stages_and_tasks(spark):
    sc = spark.sparkContext
    sc.setJobGroup("pin.shuffle", "a job with one exchange")
    rows = spark.range(0, 10_000, numPartitions=2).selectExpr(
        "id % 7 AS k").groupBy("k").count().collect()
    sc.setJobGroup("pin.count", "a second group")
    assert spark.range(0, 1000, numPartitions=2).count() == 1000
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 7

    groups = stagemetrics.read_groups(spark)
    shuffle, count = groups["pin.shuffle"], groups["pin.count"]
    for g in (shuffle, count):
        assert g.jobs >= 1
        assert g.stages >= 1
        assert g.tasks >= g.stages
        assert g.failed_tasks == 0
        assert g.run_s > 0
        assert g.cpu_s > 0
        assert len(g.job_wall_ms) == g.jobs
    # the groupBy writes shuffle output in its map stage
    assert shuffle.exchanges >= 1 and shuffle.shuffle_write_mb > 0


def test_reads_are_cumulative_and_stable(spark):
    before = stagemetrics.read_groups(spark)
    again = stagemetrics.read_groups(spark)
    assert {k: (g.jobs, g.tasks) for k, g in before.items()} == {
        k: (g.jobs, g.tasks) for k, g in again.items()
    }
