"""Predicated reads of a small local store are planned, and small
keep-sets decoded, on the driver. Every read kind must return the same
rows — and fail the same way — on the three paths:

- ``driver``: pyarrow plan + driver decode, handed back as a local
  DataFrame;
- ``tasks``: pyarrow plan, decode as Spark tasks (keep-set over the
  driver-decode gate);
- ``spark``: the distributed planner (store over the footer budget).
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from orc_spark.engine import lineage, pipeline, zonemap

RUN = "dr"
MODES = ("driver", "tasks", "spark")


@contextmanager
def _path(mode: str):
    with pytest.MonkeyPatch.context() as mp:
        if mode == "driver":
            mp.setattr(pipeline, "_DRIVER_DECODE_MAX_ROWS", 1 << 40)
            mp.setattr(pipeline, "_DRIVER_DECODE_MAX_BYTES", 1 << 40)
        elif mode == "tasks":
            mp.setattr(pipeline, "_DRIVER_DECODE_MAX_ROWS", -1)
        else:
            mp.setattr(zonemap, "_driver_plan_budget_ok", lambda _p: False)
        yield


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _same_on_all_paths(read):
    got = {}
    for mode in MODES:
        with _path(mode):
            got[mode] = _rows(read())
    assert got["driver"] == got["tasks"] == got["spark"]
    return got["driver"]


def _fails_alike(read, match: str):
    for mode in MODES:
        with _path(mode), pytest.raises(Exception, match=match):
            _rows(read())


def _table(spark, n=3000):
    return spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 37) % 1000).cast("int").alias("v"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 3600).alias("ts"),
        F.concat(F.lit("s"), (F.col("id") % 17).cast("string")).alias("s"),
        F.struct(
            F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("status"),
            (F.col("id") % 5).cast("int").alias("n"),
        ).alias("meta"),
    )


def _encode(spark, df, out, **kw):
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id=RUN, key="id", n_partitions=2,
        cluster_by="v", stripe_rows=256, **kw,
    )
    return pipeline.run_encode_job(spark, df, cfg)


@pytest.fixture(scope="module")
def store(spark):
    df = _table(spark)
    out = tempfile.mkdtemp(prefix="orcspark_driver_read_")
    _encode(spark, df, out)
    yield df, out
    shutil.rmtree(out, ignore_errors=True)


def _read(spark, out, schema, pred, **kw):
    return lambda: pipeline.decode_job(
        spark, out, RUN, schema, predicate=pred, **kw
    ).filter(zonemap.predicate_expr(pred))


def _truth(df, pred, columns=None):
    got = df.filter(zonemap.predicate_expr(pred))
    return _rows(got.select(columns) if columns else got)


@pytest.mark.parametrize(
    "pred",
    [
        [("id", "==", 1234)],
        [("id", "in", [7, 2222, 10**9])],
        [("v", "between", (100, 180))],
        [("v", ">=", 990), ("s", "==", "s3")],
        [("meta.status", "==", "a"), ("v", "<", 40)],
    ],
    ids=["eq", "in", "range", "range-and-eq", "nested"],
)
def test_reads_match_on_all_paths(spark, store, pred):
    df, out = store
    assert _same_on_all_paths(_read(spark, out, df.schema, pred)) == _truth(df, pred)


def test_a_kept_group_without_matches_drops_nothing_else(spark, store):
    """`>` keeps a group whose zone max equals the literal (zones are
    inclusive) and the row filter then empties it. That group is the
    last partition's first stripe, so it decodes after other partitions'
    matches and before its own partition's, and must not end the
    hand-back early."""
    df, out = store
    meta = pipeline._stripes_dataset(out).to_table(
        columns=["partition_id", "stripe_idx", "column", "max_int"]
    )
    v_stats = [
        (p, s, m)
        for p, s, c, m in zip(*(meta[c].to_pylist() for c in meta.column_names))
        if c == "v"
    ]
    last = max(p for p, _, _ in v_stats)
    pred = [("v", ">", min((s, m) for p, s, m in v_stats if p == last)[1])]
    got = _same_on_all_paths(_read(spark, out, df.schema, pred))
    assert got == _truth(df, pred) and got


def test_projection_checksums_aliases_and_missing_columns(spark, store):
    df, out = store
    pred = [("v", "between", (500, 560))]
    cols = ["v", "id"]
    assert _same_on_all_paths(
        _read(spark, out, df.schema, pred, columns=cols, verify_checksums=True)
    ) == _truth(df, pred, cols)

    renamed = StructType(
        [StructField("w" if f.name == "v" else f.name, f.dataType) for f in df.schema]
    )
    wpred = [("w", "between", (500, 560))]
    got = _same_on_all_paths(
        _read(spark, out, renamed, wpred, columns=["id", "w"], read_aliases={"w": "v"})
    )
    assert got == _truth(df, pred, ["id", "v"])

    wider = StructType([*df.schema.fields, StructField("extra", StringType())])
    got = _same_on_all_paths(
        _read(
            spark, out, wider, pred, columns=["id", "v", "extra"],
            allow_missing_columns=True, missing_defaults={"extra": "x"},
        )
    )
    assert got == sorted(((*r, "x") for r in _truth(df, pred, cols[::-1])), key=repr)


def test_timestamps_under_a_non_utc_session_zone(spark, store):
    df, out = store
    pred = [("ts", ">=", dt.datetime(2020, 12, 1)), ("v", "<", 300)]
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        cols = ["id", "ts", "v"]
        got = _same_on_all_paths(_read(spark, out, df.schema, pred, columns=cols))
        assert got == _truth(df, pred, cols) and got
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_metadata_count_mixed_groups(spark, store):
    df, out = store
    pred = [("v", "between", (123, 456))]
    got = {}
    for mode in MODES:
        with _path(mode):
            got[mode] = pipeline.metadata_count(spark, out, RUN, df.schema, pred)
    n, detail = got["driver"]
    assert detail["n_mixed"] > 0  # some groups were decoded
    assert got["tasks"][0] == got["spark"][0] == n == len(_truth(df, pred))


def test_deletes_and_positions(spark, store, tmp_path):
    df, src = store
    out = str(tmp_path / "d")
    shutil.copytree(src, out)
    pipeline.delete_rows(spark, out, RUN, df.schema, [("v", "between", (0, 50))])
    pipeline.delete_rows_eq(spark, out, RUN, "s", ["s3"])
    live = df.filter(~F.col("v").between(0, 50) & (F.col("s") != "s3"))
    pred = [("v", "<", 120)]
    got = _same_on_all_paths(_read(spark, out, df.schema, pred, columns=["id", "v"]))
    assert got == _truth(live, pred, ["id", "v"]) and got
    pos = _same_on_all_paths(
        lambda: pipeline.decode_job(
            spark, out, RUN, df.schema, columns=["id"], predicate=pred,
            _emit_positions=True,
        )
    )
    ids = {r[0] for r in pos}
    dead = {r.id for r in df.join(live, "id", "left_anti").select("id").collect()}
    assert {i for i, _ in got} <= ids and not ids & dead


def test_time_travel_and_faulted_tables(spark, tmp_path):
    df = _table(spark, 1200).drop("meta")
    out = str(tmp_path / "tt")
    _encode(spark, df, out, fault_spec={"columns": ["s"], "partitions": [1]})
    pred = [("v", "between", (200, 700))]
    # never resumed: the epoch-0 view keeps partition 1's incomplete
    # groups and every path fails loudly instead of dropping them
    _fails_alike(_read(spark, out, df.schema, pred), "incomplete stripe groups")
    _encode(spark, df, out)  # resume: partition 1 lands at epoch 1
    lineage.write_tag(spark, out, RUN, "t1", 1)
    want = _truth(df, pred)
    assert _same_on_all_paths(_read(spark, out, df.schema, pred)) == want
    assert _same_on_all_paths(_read(spark, out, df.schema, pred, as_of_epoch=1)) == want
    assert _same_on_all_paths(_read(spark, out, df.schema, pred, as_of_tag="t1")) == want
    _fails_alike(
        _read(spark, out, df.schema, pred, as_of_epoch=0), "incomplete stripe groups"
    )


def test_driver_lookup_starts_no_job_before_the_action(spark, store):
    df, out = store
    sc = spark.sparkContext
    pred = [("id", "==", 2024)]
    sc.setJobGroup("driver-read-lookup", "driver-path lookup")
    try:
        read = pipeline.decode_job(spark, out, RUN, df.schema, predicate=pred)
        assert list(sc.statusTracker().getJobIdsForGroup("driver-read-lookup")) == []
        got = read.filter(zonemap.predicate_expr(pred)).toArrow()
        assert got.num_rows == 1
        assert len(sc.statusTracker().getJobIdsForGroup("driver-read-lookup")) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
