"""Concurrent job execution — the reference's ``parallel-with``
(/root/reference/internal/runner/runner.go:971-1211) re-expressed for
Spark: N jobs submitted from driver threads into separate FAIR
scheduler pools, with first-failure cancelling every other job's
job group (the reference cancels the partner phase's context and marks
it failed; Spark's unit of cancellation is the job group).

Spark already parallelizes WITHIN a job across partitions; this layer
exists for concurrent *jobs* — e.g. two independent encode runs
sharing one cluster with fair resource splitting, where one run's
failure should stop wasting the other's budget when they are two
halves of one logical submission.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class ParallelResult:
    name: str
    ok: bool
    value: object = None
    error: str | None = None
    cancelled: bool = False
    started_at: float = field(default=0.0)
    finished_at: float = field(default=0.0)


def run_parallel_jobs(
    spark: SparkSession,
    jobs: dict[str, object],
    cancel_on_failure: bool = True,
    pool_prefix: str = "orcspark",
) -> dict[str, ParallelResult]:
    """Run ``jobs`` (name -> zero-arg callable that triggers Spark
    actions) concurrently, one driver thread + FAIR pool + job group
    each. On the first failure, every other job group is cancelled
    (mirrors the reference's cancel-on-first-failure drain loop and its
    race-free attempt accounting: results are mutated only under the
    lock, ≙ runner.go:1032-1036).

    The session should run with ``spark.scheduler.mode=FAIR`` for real
    fair sharing; without it the pools still isolate job groups and
    cancellation still works (FIFO order applies).

    Neither mode preempts running tasks: a job's tasks start only when a
    slot frees, in FIFO and FAIR alike. So a sibling whose running tasks
    fill every slot delays the others until those tasks end, and
    cancel-on-first-failure can fire only once the failing job has had a
    slot.
    """
    import time

    results: dict[str, ParallelResult] = {}
    lock = threading.Lock()
    failed = threading.Event()

    def canceller(origin: str) -> None:
        """Cancel sibling job groups REPEATEDLY until their threads
        report in: a single cancel races with a sibling that has not
        submitted its first Spark job yet ('cannot find active jobs'),
        which would let it run to completion after the failure."""
        sc = spark.sparkContext
        while True:
            with lock:
                pending = [n for n in jobs if n != origin and n not in results]
            if not pending:
                return
            for other in pending:
                try:
                    sc.cancelJobGroup(f"{pool_prefix}-{other}")
                except Exception:  # noqa: BLE001 — cancel is best-effort
                    pass
            time.sleep(0.2)

    def runner(name: str, fn) -> None:
        sc = spark.sparkContext
        group = f"{pool_prefix}-{name}"
        sc.setLocalProperty("spark.scheduler.pool", f"{pool_prefix}-{name}")
        sc.setJobGroup(group, f"parallel job {name}", interruptOnCancel=True)
        res = ParallelResult(name=name, ok=False, started_at=time.time())
        try:
            if cancel_on_failure and failed.is_set():
                res.error = "cancelled before start (sibling failed)"
                res.cancelled = True
            else:
                res.value = fn()
                res.ok = True
        except Exception as exc:  # noqa: BLE001 — reported, not swallowed
            res.error = f"{type(exc).__name__}: {exc}"
            res.cancelled = failed.is_set()
            if cancel_on_failure and not failed.is_set():
                failed.set()
                threading.Thread(
                    target=canceller, args=(name,), daemon=True
                ).start()
        finally:
            res.finished_at = time.time()
            sc.setLocalProperty("spark.scheduler.pool", None)
            with lock:
                results[name] = res

    threads = [
        threading.Thread(target=runner, args=(n, fn), daemon=True)
        for n, fn in jobs.items()
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results
