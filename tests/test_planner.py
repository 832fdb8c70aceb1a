"""The one metadata-aggregate planner (pipeline._plan):

- every aggregate answers alike whether the planner reads the stripe
  metadata with pyarrow or collects it with a Spark job (a store over
  the footer budget), over a resumed store (epoch > 0) with a nested
  column and a bloom-relevant IN predicate;
- a DNF of one branch is the conjunction;
- within the budget, no aggregate's classification starts a Spark job,
  nor does a lazily answered aggregate before its action;
- TimestampNTZ zone maps under a non-UTC session zone, across DST
  changes;
- a never-resumed partition whose only wanted column failed fails
  loudly instead of dropping out of reads and counts.
"""

from __future__ import annotations

import datetime as dt
import math
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from orc_spark.engine import pipeline, zonemap

RUN = "pl"


@contextmanager
def _source(mode: str):
    """"arrow": pyarrow reads the metadata; "spark": a Spark job does."""
    with pytest.MonkeyPatch.context() as mp:
        if mode == "spark":
            mp.setattr(zonemap, "_driver_plan_budget_ok", lambda _p: False)
        yield


@contextmanager
def _session_zone(spark, zone):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"planner-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs of one call")
    try:
        out = fn()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _encode(spark, df, out, **kw):
    kw.setdefault("cluster_by", "v")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id=RUN, key="id", n_partitions=2, stripe_rows=200, **kw
    )
    return pipeline.run_encode_job(spark, df, cfg)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    df = spark.range(2000).select(
        F.col("id"),
        ((F.col("id") * 37) % 1000).cast("int").alias("v"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("g"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id") % 97 / 4.0).alias("x"),
        F.struct(
            F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("status"),
            (F.col("id") % 5).cast("int").alias("n"),
        ).alias("meta"),
    )
    df.cache().count()
    out = str(tmp_path_factory.mktemp("planner") / "store")
    _encode(spark, df, out, fault_spec={"columns": ["x"], "partitions": [1]})
    _encode(spark, df, out)  # resume: partition 1 lands at epoch 1
    assert pipeline.read_stripes(spark, out, RUN).agg(F.max("epoch")).first()[0] == 1
    return df, out


PRED = [("id", "in", [5, 77, 1999, 4000]), ("v", ">=", 100)]
NESTED = [("meta.status", "==", "a"), ("v", "<", 600)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _all_answers(spark, out, schema):
    """Every aggregate, collected to plain values."""
    def m(fn, *a, **kw):
        return fn(spark, out, RUN, *a, **kw)

    return {
        "aggregate": _rows(m(pipeline.metadata_aggregate, ["v", "x", "meta.n"])),
        "count": m(pipeline.metadata_count, schema, PRED)[0],
        "count_nested": m(pipeline.metadata_count, schema, NESTED)[0],
        "sum": m(pipeline.metadata_sum, schema, "x", NESTED)[:2],
        "stddev": {
            k: v for k, v in m(pipeline.metadata_stddev, schema, "v", NESTED).items()
            if k != "detail"
        },
        "count_dnf": m(pipeline.metadata_count_dnf, schema, [PRED, NESTED])[0],
        "sum_dnf": m(pipeline.metadata_sum_dnf, schema, "meta.n", [PRED, NESTED])[0],
        "minmax_dnf": m(pipeline.metadata_minmax_dnf, schema, "x", [PRED, NESTED])[:2],
        "group_aggregate": _rows(
            m(pipeline.metadata_group_aggregate, schema, "g", "v", NESTED)
        ),
        "group_stddev": _rows(m(pipeline.metadata_group_stddev, schema, "g", "x", NESTED)),
        "value_counts": _rows(m(pipeline.metadata_value_counts, schema, "meta.status", PRED)),
        "percentile": _rows(m(pipeline.metadata_percentile, schema, "v", [0.5], NESTED)),
        "group_percentile": _rows(
            m(pipeline.metadata_group_percentile, schema, "g", "v", [0.9], NESTED)
        ),
        "group_ndv": _rows(m(pipeline.metadata_group_ndv, schema, "g", "v", NESTED)),
        "topk": _rows(
            m(pipeline.metadata_topk, schema, "v", 5, columns=["id", "v"],
              tiebreak="id", predicate=NESTED)
        ),
    }


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def test_every_aggregate_answers_alike_on_both_sources(spark, store, monkeypatch):
    df, out = store
    # every aggregate's planner call within the budget starts no job
    real, jobs = pipeline._plan, []

    def spy(*a, **kw):
        n, plan = _jobs(spark, lambda: real(*a, **kw))
        jobs.append(n)
        return plan

    with _source("arrow"), monkeypatch.context() as mp:
        mp.setattr(pipeline, "_plan", spy)
        arrow = _all_answers(spark, out, df.schema)
    assert len(jobs) == len(arrow) and not any(jobs), jobs
    with _source("spark"):
        spark_src = _all_answers(spark, out, df.schema)
    for name in arrow:
        a, b = arrow[name], spark_src[name]
        if name in ("percentile", "group_percentile"):
            # re-sketched per decoded batch, and the two sources batch
            # their boundary decodes differently: equal within the rank
            # bound (~1.6% of the rows, v spans 0..999)
            assert [r[:-1] for r in a] == [r[:-1] for r in b], name
            assert all(abs(x[-1] - y[-1]) <= 20 for x, y in zip(a, b)), (name, a, b)
        else:
            assert _same(a, b), (name, a, b)
    assert arrow["count"] == df.filter(zonemap.predicate_expr(PRED)).count() == 3
    assert arrow["count_nested"] == df.filter(zonemap.predicate_expr(NESTED)).count()
    either = zonemap.predicate_dnf_expr([PRED, NESTED])
    assert arrow["count_dnf"] == df.filter(either).count()
    assert arrow["sum_dnf"] == df.filter(either).agg(F.sum("meta.n")).first()[0]


def test_one_branch_dnf_is_the_conjunction(spark, store):
    df, out = store
    for pred in (PRED, NESTED):
        assert pipeline.metadata_count_dnf(spark, out, RUN, df.schema, [pred]) == (
            pipeline.metadata_count(spark, out, RUN, df.schema, pred)
        )
        s, _ = pipeline.metadata_sum_dnf(spark, out, RUN, df.schema, "v", [pred])
        assert s == pipeline.metadata_sum(spark, out, RUN, df.schema, "v", pred)[0]


def test_lazy_aggregates_start_no_job_before_their_action(spark, store):
    df, out = store
    for fn, args in [
        (pipeline.metadata_aggregate, (["v", "x"],)),
        (pipeline.metadata_group_aggregate, (df.schema, "g", "v", NESTED)),
        (pipeline.metadata_group_stddev, (df.schema, "g", "x", NESTED)),
        (pipeline.metadata_value_counts, (df.schema, "meta.status", PRED)),
        (pipeline.metadata_group_percentile, (df.schema, "g", "v", [0.5], NESTED)),
        (pipeline.metadata_group_ndv, (df.schema, "g", "v", NESTED)),
        (pipeline.metadata_topk, (df.schema, "v", 3)),
    ]:
        jobs, _ = _jobs(spark, lambda: fn(spark, out, RUN, *args))
        assert jobs == 0, fn.__name__


# ------------------------------------------------ TimestampNTZ zone maps

def _ntz_store(spark, tmp_path, start, name):
    df = spark.range(2000).select(
        F.col("id"),
        (F.lit(start).cast("timestamp_ntz") + F.make_dt_interval(
            mins=F.col("id") * 10
        )).alias("t"),
    )
    out = str(tmp_path / name)
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id=RUN, key="id", n_partitions=2, cluster_by="t",
        stripe_rows=100,
    )
    pipeline.run_encode_job(spark, df, cfg)
    return df, out


def _read_count(spark, out, schema, pred):
    return pipeline.decode_job(spark, out, RUN, schema, predicate=pred).filter(
        zonemap.predicate_expr(pred)
    ).count()


def test_ntz_zone_maps_under_a_non_utc_session_zone(spark, tmp_path):
    df, out = _ntz_store(spark, tmp_path, "2024-01-01 00:00:00", "ntz")
    lit = dt.datetime(2024, 1, 7, 22, 40, tzinfo=dt.timezone.utc)
    with _session_zone(spark, "America/New_York"):
        for mode in ("arrow", "spark"):
            with _source(mode):
                gt, lt = [("t", ">", lit)], [("t", "<", lit)]
                assert _read_count(spark, out, df.schema, gt) == 1029, mode
                assert pipeline.metadata_count(spark, out, RUN, df.schema, gt)[0] == 1029
                assert pipeline.metadata_count(spark, out, RUN, df.schema, lt)[0] == 970


def _truths(df, pred):
    """COUNT(*) WHERE pred under both ways Spark compares an NTZ column
    with a datetime: the column cast to an instant in the session zone,
    and — where the optimizer unwraps that cast — the column against
    the literal's wall clock. They differ only for wall clocks in a
    DST gap or overlap."""
    (col, op, v), = pred

    def lit(x, f):
        return [f(y) for y in x] if op == "in" else (
            tuple(f(y) for y in x) if op == "between" else f(x)
        )

    cast = df.withColumn(col, F.unix_micros(F.col(col).cast("timestamp"))).filter(
        zonemap.predicate_expr([(col, op, lit(v, lambda y: zonemap._as_scalar(y)[0][0]))])
    ).count()
    wall = df.filter(zonemap.predicate_expr(
        [(col, op, lit(v, lambda y: F.lit(y).cast("timestamp_ntz")))]
    )).count()
    return {cast, wall}


@pytest.mark.parametrize(
    "start, moments",
    [
        # spring forward 2024-03-10 02:00 EST -> 03:00 EDT (07:00Z)
        ("2024-03-09 00:00:00", [(2024, 3, 10, 6, 30), (2024, 3, 10, 7, 0),
                                 (2024, 3, 10, 7, 20), (2024, 3, 10, 8, 0)]),
        # fall back 2024-11-03 02:00 EDT -> 01:00 EST (06:00Z)
        ("2024-11-02 00:00:00", [(2024, 11, 3, 5, 0), (2024, 11, 3, 5, 30),
                                 (2024, 11, 3, 6, 0), (2024, 11, 3, 6, 40)]),
    ],
    ids=["spring", "fall"],
)
def test_ntz_zone_maps_across_a_dst_change(spark, tmp_path, start, moments):
    df, out = _ntz_store(spark, tmp_path, start, "dst")
    lits = [dt.datetime(*m, tzinfo=dt.timezone.utc) for m in moments]
    preds = [[("t", op, v)] for v in lits for op in ("==", ">", "<=")]
    preds += [[("t", "between", (lits[0], lits[-1]))], [("t", "in", lits)]]
    with _session_zone(spark, "America/New_York"):
        truths = [_truths(df, p) for p in preds]
        assert any(len(t) > 1 for t in truths)  # the series crosses the change
        for mode in ("arrow", "spark"):
            with _source(mode):
                for p, t in zip(preds, truths):
                    n, _ = pipeline.metadata_count(spark, out, RUN, df.schema, p)
                    assert n in t, (mode, p, n, t)
                for p, t in list(zip(preds, truths))[3:6]:
                    assert _read_count(spark, out, df.schema, p) in t, (mode, p)


# ------------------------------------------------- a faulted column

def test_faulted_partition_of_the_only_wanted_column_fails_loudly(spark, tmp_path):
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 1000).cast("int").alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias("s"),
    )
    out = str(tmp_path / "fault")
    _encode(spark, df, out, fault_spec={"columns": ["s"], "partitions": [1]})
    pred = [("s", "==", "s1")]
    for mode in ("arrow", "spark"):
        with _source(mode):
            with pytest.raises(Exception, match="incomplete stripe groups"):
                pipeline.metadata_count(spark, out, RUN, df.schema, pred)
            with pytest.raises(Exception, match="incomplete stripe groups"):
                pipeline.decode_job(
                    spark, out, RUN, df.schema, columns=["s"], predicate=pred
                ).count()
            with pytest.raises(Exception, match="incomplete stripe groups"):
                pipeline.decode_job(spark, out, RUN, df.schema, columns=["s"]).count()
    # a column that did not fail still reads and counts
    n, _ = pipeline.metadata_count(spark, out, RUN, df.schema, [("v", "<", 100)])
    assert n == df.filter(F.col("v") < 100).count()
