"""Breaking a stale writer lock: of several waiters that judge the same
dead-holder lock stale, exactly one removes it."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import pytest

from orc_spark.engine import retention


def test_second_stale_breaker_never_deletes_the_new_lock(tmp_path, monkeypatch):
    path = str(tmp_path / "stripes")
    lock = path + retention._LOCK_SUFFIX
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(lock, "w") as fh:
        fh.write(f"{dead.pid} {time.time()}")

    real = retention._lock_is_stale
    b_judged = threading.Event()
    a_holds = threading.Event()

    def judge(path_):
        stale = real(path_)
        if (
            stale
            and threading.current_thread().name == "B"
            and not b_judged.is_set()
        ):
            # B has judged the dead-pid lock stale; before B acts on
            # that, A judges it stale too, breaks it and takes the lock
            b_judged.set()
            a_holds.wait(10)
        return stale

    monkeypatch.setattr(retention, "_lock_is_stale", judge)
    spans: dict[str, tuple[float, float]] = {}
    errors: list[BaseException] = []

    def writer(name: str, after: threading.Event | None):
        try:
            if after is not None:
                after.wait(10)
            with retention.writer_lock(path, timeout_s=10):
                t0 = time.monotonic()
                if name == "A":
                    a_holds.set()
                    time.sleep(0.5)
                spans[name] = (t0, time.monotonic())
        except Exception as exc:  # surfaced by the asserts below
            errors.append(exc)

    b = threading.Thread(target=writer, args=("B", None), name="B")
    a = threading.Thread(target=writer, args=("A", b_judged), name="A")
    b.start()
    a.start()
    a.join(30)
    b.join(30)
    assert not a.is_alive() and not b.is_alive()
    assert not errors, errors
    assert b_judged.is_set() and a_holds.is_set()
    (a0, a1), (b0, b1) = spans["A"], spans["B"]
    # B waited for A to release: it never removed A's live lock
    assert b0 >= a1
    assert not os.path.exists(lock)
    assert os.listdir(tmp_path) == []  # no renamed lock left behind


@pytest.mark.parametrize("rewrite", ["vacuum", "rollback", "publish"])
def test_table_rewrites_wait_for_the_writer_lock(spark, tmp_path, monkeypatch, rewrite):
    """vacuum_epochs, rollback_to_epoch and publish_run swap the stripes
    table only while they hold its writer lock."""
    import dataclasses

    from pyspark.sql import functions as F

    from orc_spark.engine import lineage, pipeline

    out = str(tmp_path / "t")
    df = spark.range(400).select(F.col("id"), (F.col("id") % 7).alias("v"))
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="w", key="id", n_partitions=2,
        fault_spec={"columns": ["v"], "partitions": [1]},
    )
    pipeline.run_encode_job(spark, df, cfg)
    pipeline.run_encode_job(spark, df, dataclasses.replace(cfg, fault_spec=None))
    run = {
        "vacuum": lambda: retention.vacuum_epochs(spark, out, "w"),
        "rollback": lambda: retention.rollback_to_epoch(spark, out, "w", 0),
        "publish": lambda: retention.publish_run(spark, out, "w", "w2"),
    }[rewrite]
    spath = lineage.stripes_dir(out)
    swaps: list[str] = []
    real_swap, real_read = retention._swap_in, retention._read_lock
    waiting = threading.Event()

    def swap(path, tmp, *a, **kw):
        swaps.append(path)
        return real_swap(path, tmp, *a, **kw)

    def read_lock(lock):  # read by a writer that found the lock taken
        if threading.current_thread().name == "rewriter" and lock.startswith(spath):
            waiting.set()
        return real_read(lock)

    monkeypatch.setattr(retention, "_swap_in", swap)
    monkeypatch.setattr(retention, "_read_lock", read_lock)
    errors: list[BaseException] = []

    def rewriter():
        try:
            run()
        except BaseException as exc:  # surfaced by the asserts below
            errors.append(exc)

    t = threading.Thread(target=rewriter, name="rewriter")
    with retention.writer_lock(spath):
        t.start()
        deadline = time.monotonic() + 120
        while not (waiting.is_set() or swaps) and t.is_alive():
            assert time.monotonic() < deadline
            time.sleep(0.05)
        assert waiting.is_set() and swaps == []
    t.join(120)
    assert not t.is_alive() and not errors, errors
    assert spath in swaps
