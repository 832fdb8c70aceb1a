"""FAIR-pool concurrent jobs with cancel-on-first-failure
(≙ reference ``parallel-with``, runner.go:971-1211)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from orc_spark.engine import parallel


def _slow_count(spark, seconds: float, n: int = 64):
    """A job whose tasks each sleep — cancellable mid-flight."""
    def fn():
        def slow(it):
            time.sleep(seconds)
            yield from it
        return (
            spark.range(0, n, 1, n).rdd.mapPartitions(slow).count()
        )
    return fn


def test_parallel_jobs_run_concurrently(spark):
    slots = spark.sparkContext.defaultParallelism
    if slots < 2:
        pytest.skip(f"two jobs cannot overlap on {slots} slot(s)")
    # warm a Python worker per slot first: a fresh session's first job
    # pays seconds of worker start-up, which would time the cold start
    # instead of the overlap
    _slow_count(spark, 0.2, slots)()
    t0 = time.time()
    res = parallel.run_parallel_jobs(
        spark,
        {"a": _slow_count(spark, 0.5, 8), "b": _slow_count(spark, 0.5, 8)},
    )
    wall = time.time() - t0
    assert res["a"].ok and res["b"].ok
    assert res["a"].value == 8 and res["b"].value == 8
    # overlap proof: both ran in well under the serial sum, and their
    # execution windows intersect
    assert max(res["a"].started_at, res["b"].started_at) < min(
        res["a"].finished_at, res["b"].finished_at
    )
    assert wall < 2 * 0.5 * 8  # far below serial worst case


def test_parallel_failure_cancels_partner(spark):
    def failing():
        spark.range(10).select((F.lit(1)).alias("x")).count()
        raise RuntimeError("boom")

    # slow takes half the session's task slots so the failing job runs at
    # once: neither FIFO nor FAIR preempts running tasks, so a full-width
    # slow job would queue `bad` behind it for the whole 20 s
    slots = spark.sparkContext.defaultParallelism
    if slots < 2:
        pytest.skip(f"`bad` needs a slot beside `slow`; {slots} slot(s)")
    res = parallel.run_parallel_jobs(
        spark,
        {"bad": failing, "slow": _slow_count(spark, 20, slots // 2)},
    )
    assert not res["bad"].ok and "boom" in res["bad"].error
    # the long job was cancelled, not run to completion (~20s/task)
    assert not res["slow"].ok
    assert res["slow"].finished_at - res["slow"].started_at < 15
