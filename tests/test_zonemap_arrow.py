"""The driver planner's Arrow keep function against the Spark Column
expression it ports (zonemap._conjunct_keep), evaluated over the same
stats rows: identical three-valued results for every op, literal type,
stats shape and temporal pin."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from orc_spark.engine import zonemap

STATS_SCHEMA = StructType(
    [
        StructField("min_int", LongType()),
        StructField("max_int", LongType()),
        StructField("min_num", DoubleType()),
        StructField("max_num", DoubleType()),
        StructField("min_str", StringType()),
        StructField("max_str", StringType()),
        StructField("null_count", LongType()),
        StructField("n_rows", LongType()),
        StructField("stat_exact", BooleanType()),
    ]
)
ARROW_SCHEMA = pa.schema(
    [
        ("min_int", pa.int64()), ("max_int", pa.int64()),
        ("min_num", pa.float64()), ("max_num", pa.float64()),
        ("min_str", pa.string()), ("max_str", pa.string()),
        ("null_count", pa.int64()), ("n_rows", pa.int64()),
        ("stat_exact", pa.bool_()),
    ]
)

# small domains so literals and bounds collide often; extremes too
INTS = st.one_of(
    st.integers(-4, 4),
    st.sampled_from([-(2**62), 2**62, 86_400_000_000, 19_000]),
)
FLOATS = st.one_of(
    st.sampled_from([-1.5, -0.0, 0.0, 0.5, 2.0, 4.0]),
    st.just(float("nan")),
    st.sampled_from([float("inf"), float("-inf")]),
    st.floats(-1e6, 1e6),
)
TEXT = st.text(
    alphabet=st.sampled_from(["a", "b", "z", "é", "￿", "\U0010ffff"]),
    max_size=4,
)
DATES = st.dates(dt.date(1960, 1, 1), dt.date(2080, 1, 1))
DATETIMES = st.datetimes(dt.datetime(1960, 1, 1), dt.datetime(2080, 1, 1))
SCALARS = st.one_of(
    INTS, FLOATS, TEXT, DATES, DATETIMES, st.booleans()
)


@st.composite
def stats_rows(draw):
    lo_i, hi_i = sorted(draw(st.lists(INTS, min_size=2, max_size=2)))
    lo_s, hi_s = sorted(draw(st.lists(TEXT, min_size=2, max_size=2)))
    lo_n, hi_n = draw(st.lists(FLOATS, min_size=2, max_size=2))
    if lo_n == lo_n and hi_n == hi_n and lo_n > hi_n:  # NaN bounds stay
        lo_n, hi_n = hi_n, lo_n
    n_rows = draw(st.integers(0, 8))
    row = {
        "min_int": lo_i, "max_int": hi_i,
        "min_num": lo_n, "max_num": hi_n,
        "min_str": lo_s, "max_str": hi_s,
        "null_count": draw(st.none() | st.integers(0, n_rows)),
        "n_rows": n_rows,
        "stat_exact": draw(st.none() | st.booleans()),
    }
    # null / absent families, and a null lone bound
    for fam in draw(st.sets(st.sampled_from(["int", "num", "str"]))):
        row[f"min_{fam}"] = row[f"max_{fam}"] = None
    if draw(st.booleans()):
        row[draw(st.sampled_from(list(row)[:6]))] = None
    return tuple(row[f.name] for f in STATS_SCHEMA.fields)


@st.composite
def conjuncts(draw):
    op = draw(st.sampled_from(sorted(zonemap._OPS)))
    if op in ("is_null", "not_null"):
        value = None
    elif op == "between":
        value = tuple(draw(st.lists(SCALARS, min_size=2, max_size=2)))
        if len({isinstance(v, str) for v in value}) > 1:
            value = (value[0], value[0])  # no one mixes str and number bounds
    elif op == "in":
        value = draw(st.lists(SCALARS, max_size=3))  # empty IN included
    elif op == "like_prefix":
        value = draw(
            st.one_of(st.just(""), TEXT, TEXT.map(lambda s: s + "\U0010ffff"))
        )
    elif op == "contains_token":
        value = draw(st.text(alphabet="abz09", min_size=1, max_size=3))
    else:
        value = draw(SCALARS)
    pin = draw(st.sampled_from([None, "us", "days"]))
    return op, value, pin


@settings(
    max_examples=60, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(stats_rows(), min_size=1, max_size=10),
    preds=st.lists(conjuncts(), min_size=1, max_size=6),
)
def test_arrow_keep_equals_spark_keep(spark, rows, preds):
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        StructType([StructField("_i", LongType()), *STATS_SCHEMA.fields]),
    )
    got_spark = sorted(
        df.select(
            "_i",
            *[
                zonemap._conjunct_keep(op, v, pin=pin).alias(f"k{j}")
                for j, (op, v, pin) in enumerate(preds)
            ],
        ).collect()
    )
    table = pa.Table.from_pylist(
        [dict(zip(ARROW_SCHEMA.names, r)) for r in rows], schema=ARROW_SCHEMA
    )
    for j, (op, v, pin) in enumerate(preds):
        want = [r[j + 1] for r in got_spark]
        got = zonemap.conjunct_keep_arrow(table, op, v, pin=pin)
        if isinstance(got, pa.ChunkedArray):
            got = got.combine_chunks()
        assert got.to_pylist() == want, (op, v, pin)


def test_arrow_keep_rejects_what_spark_rejects():
    table = pa.Table.from_pylist([], schema=ARROW_SCHEMA)
    for op, v in (("like", "x%"), ("contains_token", "no spaces!")):
        for fn in (
            lambda: zonemap._conjunct_keep(op, v),
            lambda: zonemap.conjunct_keep_arrow(table, op, v),
        ):
            try:
                fn()
            except ValueError:
                continue
            raise AssertionError(f"{op} {v!r} accepted")
