"""Counts, sums and standard deviations of a small local store are
classified, and counts finished, on the driver:

- the Arrow ALL flags (zonemap.conjunct_all_arrow) against the Spark
  Column expression they port (zonemap._conjunct_all), over the same
  stats rows;
- the exact Arrow row filter (zonemap.rows_match_arrow) against
  zonemap.predicate_expr evaluated by Spark over the same rows, under
  a UTC and a non-UTC session time zone;
- metadata_count / metadata_sum / metadata_stddev answering alike on
  the driver path, with the mixed groups decoded as tasks, and on the
  distributed path (store over the footer budget);
- a count within the gates starts no Spark job.
"""

from __future__ import annotations

import datetime as dt
import math
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType

from orc_spark.engine import pipeline, zonemap
from tests.test_zonemap_arrow import (
    ARROW_SCHEMA,
    FLOATS,
    INTS,
    STATS_SCHEMA,
    TEXT,
    conjuncts,
)

# ------------------------------------------------- ALL flags in lockstep

# literals and bounds on both sides of the 2^53 exactness guard
BIG_INTS = st.sampled_from([2**53 - 1, 2**53, 2**53 + 1, -(2**53) - 1, 2**60])
BIG_FLOATS = st.sampled_from([2.0**53 - 1, 2.0**53, 1.5e16, -1e17])
ALL_INTS = st.one_of(INTS, BIG_INTS)
ALL_FLOATS = st.one_of(FLOATS, BIG_FLOATS)


@st.composite
def stats_rows(draw):
    lo_i, hi_i = sorted(draw(st.lists(ALL_INTS, min_size=2, max_size=2)))
    lo_s, hi_s = sorted(draw(st.lists(TEXT, min_size=2, max_size=2)))
    lo_n, hi_n = draw(st.lists(ALL_FLOATS, min_size=2, max_size=2))
    if lo_n == lo_n and hi_n == hi_n and lo_n > hi_n:  # NaN bounds stay
        lo_n, hi_n = hi_n, lo_n
    n_rows = draw(st.integers(0, 8))
    row = {
        "min_int": lo_i, "max_int": hi_i,
        "min_num": lo_n, "max_num": hi_n,
        "min_str": lo_s, "max_str": hi_s,
        "null_count": draw(st.none() | st.integers(0, n_rows)),
        "n_rows": n_rows,
        "stat_exact": draw(st.none() | st.booleans()),  # False: widened
    }
    for fam in draw(st.sets(st.sampled_from(["int", "num", "str"]))):
        row[f"min_{fam}"] = row[f"max_{fam}"] = None
    if draw(st.booleans()):
        row[draw(st.sampled_from(list(row)[:6]))] = None
    return tuple(row[f.name] for f in STATS_SCHEMA.fields)


@st.composite
def all_conjuncts(draw):
    op, value, pin = draw(conjuncts())
    if op not in ("between", "in", "is_null", "not_null", "like_prefix",
                  "contains_token") and draw(st.booleans()):
        value = draw(st.one_of(BIG_INTS, BIG_FLOATS))
    return op, value, pin


@settings(
    max_examples=35, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(stats_rows(), min_size=1, max_size=10),
    preds=st.lists(all_conjuncts(), min_size=1, max_size=6),
)
def test_arrow_all_equals_spark_all(spark, rows, preds):
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        StructType([StructField("_i", LongType()), *STATS_SCHEMA.fields]),
    )
    got_spark = sorted(
        df.select(
            "_i",
            *[
                zonemap._conjunct_all(op, v, pin=pin).alias(f"a{j}")
                for j, (op, v, pin) in enumerate(preds)
            ],
        ).collect()
    )
    table = pa.Table.from_pylist(
        [dict(zip(ARROW_SCHEMA.names, r)) for r in rows], schema=ARROW_SCHEMA
    )
    for j, (op, v, pin) in enumerate(preds):
        want = [r[j + 1] for r in got_spark]
        got = zonemap.conjunct_all_arrow(table, op, v, pin=pin)
        if isinstance(got, pa.ChunkedArray):
            got = got.combine_chunks()
        assert got.to_pylist() == want, (op, v, pin)


# --------------------------------------------- row filter in lockstep

ROW_SCHEMA = (
    "_i bigint, i bigint, n int, b tinyint, x double, f float, s string, "
    "d date, ts timestamp, ntz timestamp_ntz, flag boolean, "
    "meta struct<status: string, n: int>"
)
# instants around the 2020-03-08 America/New_York spring-forward gap
BASE = dt.datetime(2020, 3, 8)
MOMENTS = st.builds(
    lambda h, m: BASE + dt.timedelta(hours=h, minutes=m),
    st.integers(-30, 30), st.sampled_from([0, 30]),
)
DAYS = st.builds(lambda k: BASE.date() + dt.timedelta(days=k), st.integers(-2, 2))
SMALL_INTS = st.integers(-3, 3)
XS = st.sampled_from([float("nan"), -0.0, 0.0, 1.5, -2.0, float("inf"), 2.0])
WORDS = st.sampled_from(["", "a", "ab", "b", "ba", "é"])


def _maybe(s):
    return st.none() | s


@st.composite
def data_rows(draw, i):
    meta = draw(_maybe(st.tuples(_maybe(WORDS), _maybe(SMALL_INTS))))
    return (
        i, draw(_maybe(st.one_of(SMALL_INTS, BIG_INTS))),
        draw(_maybe(SMALL_INTS)), draw(_maybe(SMALL_INTS)),
        draw(_maybe(XS)), draw(_maybe(XS)), draw(_maybe(WORDS)),
        draw(_maybe(DAYS)), draw(_maybe(MOMENTS)), draw(_maybe(MOMENTS)),
        draw(_maybe(st.booleans())), meta,
    )


# a column, then mostly a literal of its own kind, sometimes any kind
KIND_OF = {
    "i": ALL_INTS, "n": SMALL_INTS, "b": st.integers(-200, 200),
    "x": st.one_of(XS, SMALL_INTS), "f": st.one_of(XS, st.just(1.1)),
    "s": WORDS, "d": st.one_of(DAYS, MOMENTS), "ts": st.one_of(MOMENTS, DAYS),
    "ntz": st.one_of(MOMENTS, DAYS), "flag": st.booleans(),
    "meta.status": WORDS, "meta.n": SMALL_INTS,
}
ANY_LITERAL = st.one_of(
    SMALL_INTS, XS, WORDS, DAYS, MOMENTS, st.booleans(),
    MOMENTS.map(lambda t: t.replace(tzinfo=dt.timezone.utc)),
)
ROW_OPS = ["==", "=", "!=", ">", ">=", "<", "<=", "between", "in",
           "is_null", "not_null", "like_prefix", "contains_token"]


@st.composite
def row_conjuncts(draw):
    col = draw(st.sampled_from(sorted(KIND_OF)))
    lit = st.one_of(KIND_OF[col], KIND_OF[col], KIND_OF[col], ANY_LITERAL)
    op = draw(st.sampled_from(ROW_OPS))
    if op in ("is_null", "not_null"):
        value = None
    elif op == "between":
        value = (draw(lit), draw(lit))
    elif op == "in":
        value = draw(st.lists(lit, max_size=3))
    elif op == "like_prefix":
        value = draw(WORDS)
    elif op == "contains_token":
        value = "ab"
    else:
        value = draw(lit)
    return col, op, value


@contextmanager
def _session_zone(spark, zone):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
@settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    preds=st.lists(row_conjuncts(), min_size=1, max_size=6),
)
def test_arrow_rows_equal_spark_where(spark, zone, data, preds):
    rows = [data.draw(data_rows(i)) for i in range(data.draw(st.integers(1, 12)))]
    with _session_zone(spark, zone):
        df = spark.createDataFrame(rows, ROW_SCHEMA)
        # the decoded Arrow types (decode_batches casts to these)
        table = df.toArrow().cast(to_arrow_schema(df.schema))
        exact = []
        for conj in preds:
            mask, ok = zonemap.rows_match_arrow(table, [conj], zone)
            if ok:
                got = table.filter(mask)["_i"].to_pylist()
                exact.append((conj, sorted(got)))
        if not exact:
            return
        flags = df.select(
            "_i",
            *[
                F.coalesce(zonemap.predicate_expr([c]), F.lit(False)).alias(f"m{j}")
                for j, (c, _) in enumerate(exact)
            ],
        ).collect()
    for j, (conj, got) in enumerate(exact):
        want = sorted(r["_i"] for r in flags if r[f"m{j}"])
        assert got == want, (zone, conj)


def test_row_filter_declines_what_it_cannot_prove():
    table = pa.table({
        "f": pa.array([1.0, 2.0], pa.float32()),
        "ntz": pa.array([0, 1], pa.timestamp("us")),
        "d": pa.array([0, 1], pa.date32()),
        "s": pa.array(["a", "b"]),
    })
    for conj, zone in [
        (("s", "contains_token", "ab"), "UTC"),
        (("f", ">", 1), "UTC"),  # float32 against an int literal
        (("s", "==", 1), "UTC"),
        (("ntz", "<", dt.datetime(1970, 1, 1)), "America/New_York"),
        (("d", "==", dt.datetime(1970, 1, 2)), "UTC"),
        (("x", "==", 1), "UTC"),  # no such column
        (("s", "in", ["a", 1]), "UTC"),
    ]:
        mask, ok = zonemap.rows_match_arrow(table, [conj], zone)
        assert not ok and mask is None, conj
    mask, ok = zonemap.rows_match_arrow(
        table, [("ntz", "<", dt.datetime(1970, 1, 1)), ("s", "==", "a")],
        "America/New_York",
    )
    assert not ok and mask.to_pylist() == [True, False]  # the residual's mask


# ------------------------------------- the three paths answer alike

RUN = "dc"
PATHS = ("driver", "tasks", "spark")


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


def _table(spark, n=3000):
    return spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 37) % 1000).cast("int").alias("v"),
        F.when(F.col("id") % 11 == 0, None)
        .when(F.col("id") % 13 == 0, F.lit(float("nan")))
        .otherwise(F.col("id") % 97 / 4.0).alias("x"),
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
def store(spark, tmp_path_factory):
    df = _table(spark)
    df.cache().count()
    out = str(tmp_path_factory.mktemp("dc") / "store")
    _encode(spark, df, out)
    return df, out


def _close(a, b):
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _answers(spark, out, schema, pred, target="x"):
    """(count, sum, count_nonnull, stddev dict), alike on every path.
    Sum and stddev decode their mixed groups through decode_job, whose
    task-decode path tests/test_driver_read.py covers, so only the
    count runs that path here."""
    got = {}
    for mode in PATHS:
        with _path(mode):
            n, _ = pipeline.metadata_count(spark, out, RUN, schema, pred)
            if mode == "tasks":
                got[mode] = (n, *got["driver"][1:])
                continue
            s, c, _ = pipeline.metadata_sum(spark, out, RUN, schema, target, pred)
            sd = pipeline.metadata_stddev(spark, out, RUN, schema, target, pred)
            got[mode] = (n, s, c, sd)
    first = got["driver"]
    for mode in PATHS[1:]:
        n, s, c, sd = got[mode]
        assert (n, c) == (first[0], first[2]), (mode, pred)
        assert _close(s, first[1]) or (math.isnan(s) and math.isnan(first[1])), (mode, pred)
        for k in ("count", "avg", "var_pop", "stddev_samp"):
            a, b = sd[k], first[3][k]
            assert _close(a, b) or (a != a and b != b), (mode, pred, k)
    return first


PREDICATES = [
    [("v", "between", (123, 456))],
    [("id", "==", 2024)],  # the bloom vetoes all but one group
    [("s", "in", ["s1", "s16", "zz"]), ("v", ">=", 500)],
    [("id", "in", [5, 77, 2999])],
    [("meta.status", "==", "a"), ("v", "<", 300)],
    [("x", ">", 10.0), ("x", "!=", 12.0)],
    [("s", "like_prefix", "s1"), ("ts", "<", dt.datetime(2020, 10, 1))],
]


@pytest.mark.parametrize("pred", PREDICATES, ids=repr)
def test_count_sum_stddev_equal_on_all_paths(spark, store, pred):
    df, out = store
    n, s, c, sd = _answers(spark, out, df.schema, pred)
    truth = df.filter(zonemap.predicate_expr(pred))
    assert n == truth.count()
    assert c == sd["count"] == truth.filter(F.col("x").isNotNull()).count()


def test_bloom_veto_counts_as_none(spark, store):
    df, out = store
    pred = [("id", "==", 2024)]
    with _path("driver"):
        n, detail = pipeline.metadata_count(spark, out, RUN, df.schema, pred)
    with _path("spark"):
        n2, detail2 = pipeline.metadata_count(spark, out, RUN, df.schema, pred)
    assert n == n2 == 1
    assert 1 <= detail["n_mixed"] < detail2["n_mixed"]  # vetoed groups are NONE


def test_contains_token_falls_back_to_one_spark_job(spark, tmp_path):
    df = _table(spark, 1200).withColumn(
        "txt", F.concat_ws(" ", F.lit("w"), F.col("s"), F.lit("ab"))
    ).withColumn("txt", F.when(F.col("id") % 7 == 0, F.lit("none")).otherwise(F.col("txt")))
    out = str(tmp_path / "tok")
    _encode(spark, df, out, token_bloom_columns=("txt",))
    pred = [("txt", "contains_token", "ab"), ("v", "<", 400)]
    got = {}
    for mode in PATHS:
        with _path(mode):
            got[mode] = pipeline.metadata_count(spark, out, RUN, df.schema, pred)[0]
    assert got["driver"] == got["tasks"] == got["spark"]
    assert got["driver"] == df.filter(zonemap.predicate_expr(pred)).count()
    # without AQE, which runs a count's shuffle map stage as a job of its own
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with _path("driver"):
            jobs, (_, detail) = _jobs(
                spark, lambda: pipeline.metadata_count(spark, out, RUN, df.schema, pred)
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert detail["n_mixed"] > 0 and jobs == 1


def test_epoch_after_resume_and_faulted_tables(spark, tmp_path):
    df = _table(spark, 1200).drop("meta")
    out = str(tmp_path / "tt")
    _encode(spark, df, out, fault_spec={"columns": ["s"], "partitions": [1]})
    # never resumed: partition 1's groups lack `s`, decode and fail loudly
    bad = [("v", "between", (200, 700)), ("s", ">=", "s1")]
    for mode in PATHS:
        with _path(mode), pytest.raises(Exception, match="incomplete stripe groups"):
            pipeline.metadata_count(spark, out, RUN, df.schema, bad)
        with _path(mode), pytest.raises(Exception, match="incomplete stripe groups"):
            pipeline.metadata_sum(spark, out, RUN, df.schema, "x", bad)
    _encode(spark, df, out)  # resume: partition 1 lands at epoch 1
    stripes = pipeline.read_stripes(spark, out, RUN)
    assert stripes.agg(F.max("epoch")).first()[0] == 1
    for pred in (bad, [("s", "==", "s4")]):
        n, *_ = _answers(spark, out, df.schema, pred)
        assert n == df.filter(zonemap.predicate_expr(pred)).count()


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"driver-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs of one call")
    try:
        out = fn()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_count_within_the_gate_starts_no_job(spark, store):
    df, out = store
    pred = [("v", ">=", 100), ("v", "<", 700), ("x", ">", 3.0)]
    jobs, (n, detail) = _jobs(
        spark, lambda: pipeline.metadata_count(spark, out, RUN, df.schema, pred)
    )
    assert detail["n_mixed"] > 0 and detail["n_all"] >= 0
    assert jobs == 0
    assert n == df.filter(zonemap.predicate_expr(pred)).count()
