"""The two benchmark workloads: seeded inputs, engine calls, ground truth.

Each workload owns its input table (built from the seed alone), the
encode layout it asks the engine for, the parameters of every read it
sends, and an independent pyarrow answer for every read. The engine
only ever sees the generated table and the predicates.
"""

from __future__ import annotations

import datetime as dt
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

RUN_ID = "perfbench"
N_PARTITIONS = 4  # one encode task per slot
BATCH_ROWS = 65_536  # spark.sql.execution.arrow.maxRecordsPerBatch


def _ts(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))


def _window_mask(col: pa.ChunkedArray, lo: dt.datetime, hi: dt.datetime):
    t = col.type
    return pc.and_(
        pc.greater_equal(col, pa.scalar(lo, t)), pc.less(col, pa.scalar(hi, t))
    )


def same_rows(got: pa.Table, want: pa.Table, sort_keys: list[str]) -> bool:
    """Row-multiset equality: Spark's Arrow types (large strings, zoned
    timestamps) are cast back to the input schema, both sides sorted on
    a unique key, then compared value by value."""
    if got.num_rows != want.num_rows or got.column_names != want.column_names:
        return False
    got = got.cast(want.schema)
    order = [(k, "ascending") for k in sort_keys]
    return got.sort_by(order).equals(want.sort_by(order))


class Workload:
    """Base: subclasses set the table, key, layout and read parameters."""

    name: str
    key: str
    sort_keys: list[str]
    layout: dict
    range_columns: list[str]

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.table = self.generate(seed).combine_chunks()
        self.nbytes = self.table.nbytes
        self.scan_truth = self.table.sort_by([(k, "ascending") for k in self.sort_keys])

    def generate(self, seed: int) -> pa.Table:
        raise NotImplementedError

    # ---- engine calls -------------------------------------------------

    def encode_config(self, out_dir: str):
        from orc_spark.engine import pipeline

        return pipeline.EncodeJobConfig(
            out_dir=out_dir, run_id=RUN_ID, key=self.key,
            n_partitions=N_PARTITIONS, **self.layout,
        )

    def scan(self, spark, store: str, schema) -> pa.Table:
        from orc_spark.engine import pipeline

        return pipeline.decode_job(spark, store, RUN_ID, schema).toArrow()

    def _predicated(self, spark, store, schema, pred, columns=None) -> pa.Table:
        from orc_spark.engine import pipeline, zonemap

        return (
            pipeline.decode_job(
                spark, store, RUN_ID, schema, columns=columns, predicate=pred
            )
            .filter(zonemap.predicate_expr(pred))
            .toArrow()
        )

    def lookup(self, spark, store, schema, key) -> pa.Table:
        return self._predicated(spark, store, schema, [(self.key, "==", key)])

    def range_read(self, spark, store, schema, window) -> pa.Table:
        return self._predicated(
            spark, store, schema, self.window_pred(window), self.range_columns
        )

    def count(self, spark, store, schema, window) -> tuple[int, dict]:
        from orc_spark.engine import pipeline

        return pipeline.metadata_count(
            spark, store, RUN_ID, schema, self.window_pred(window)
        )

    # ---- read parameters and ground truth ----------------------------

    def window_pred(self, window):
        col, lo, hi = window
        return [(col, ">=", lo), (col, "<", hi)]

    def check_scan(self, got: pa.Table) -> bool:
        return same_rows(got, self.scan_truth, self.sort_keys)

    def check_lookup(self, key, got: pa.Table) -> bool:
        want = self.table.filter(pc.equal(self.table[self.key], pa.scalar(key)))
        return want.num_rows > 0 and same_rows(got, want, self.sort_keys)

    def check_range(self, window, got: pa.Table) -> bool:
        col, lo, hi = window
        want = self.table.filter(_window_mask(self.table[col], lo, hi))
        return same_rows(got, want.select(self.range_columns), self.range_keys)

    def check_count(self, window, got: int) -> bool:
        col, lo, hi = window
        return got == pc.sum(_window_mask(self.table[col], lo, hi)).as_py()

    def lookup_key(self):
        raise NotImplementedError

    def range_window(self):
        raise NotImplementedError

    def count_window(self):
        raise NotImplementedError

    def _window(self, col: str, days: int):
        """A window of ``days`` at a seeded place inside the column's span."""
        mm = pc.min_max(self.table[col].cast(pa.int64()))
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        width = days * 86_400_000_000
        lo = self.rng.randint(mn, max(mn, mx - width))
        return col, _ts(lo), _ts(lo + width)


class Web(Workload):
    """The north-rule web table, default layout: url-hash partitions,
    one stripe per Arrow batch, zlib. String kernels dominate; warc_ts
    and lang are unclustered, so zone maps prune nothing."""

    name = "web"
    key = "url"
    sort_keys = ["url"]
    layout: dict = {}
    range_columns = ["url", "warc_ts", "lang"]
    range_keys = ["url"]
    ROWS = 32_768

    def generate(self, seed: int) -> pa.Table:
        from orc_spark.engine import webgen

        return webgen.generate(self.ROWS, seed)

    def lookup_key(self):
        return self.table["url"][self.rng.randrange(self.table.num_rows)].as_py()

    def range_window(self):
        return self._window("warc_ts", 1)

    def count_window(self):
        return self._window("warc_ts", 14)


class Lineitem(Workload):
    """TPC-H-shaped lineitem (11 int/float/timestamp/low-cardinality
    columns), clustered on l_shipdate with small stripes so zone maps
    prune and wide date counts come mostly from stripe metadata."""

    name = "lineitem"
    key = "l_orderkey"
    sort_keys = ["l_orderkey", "l_linenumber"]
    layout = {"cluster_by": "l_shipdate", "stripe_rows": 4096}
    range_columns = ["l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"]
    range_keys = ["l_orderkey", "l_linenumber"]
    ROWS = 300_000

    def generate(self, seed: int) -> pa.Table:
        """dbgen's lineitem rules on a numpy stream: 1-7 lines per
        order, shipdate 1-121 days after a 1992-1998 orderdate, price
        from the part key, discount/tax in whole percents, return flag
        and line status from the 1995-06-17 cut-off; rows shuffled."""
        rng = np.random.default_rng(seed)
        n = self.ROWS
        lines = rng.integers(1, 8, n // 4 + 1024)
        ends = np.cumsum(lines)
        n_orders = int(np.searchsorted(ends, n)) + 1
        lines = lines[:n_orders]
        order_idx = np.repeat(np.arange(n_orders), lines)[:n]
        starts = np.concatenate(([0], np.cumsum(lines)[:-1]))
        linenumber = (np.arange(n) - starts[order_idx] + 1).astype(np.int32)
        orderkey = (order_idx * 4 + 1 + rng.integers(0, 4, n_orders)[order_idx]).astype(
            np.int64
        )
        day = 86_400_000_000
        epoch_1992 = 694_224_000_000_000  # 1992-01-01 in microseconds
        orderdate = rng.integers(0, 2406, n_orders)[order_idx]
        shipdays = orderdate + rng.integers(1, 122, n)
        receiptdays = shipdays + rng.integers(1, 31, n)
        cutoff = 1263  # 1995-06-17
        partkey = rng.integers(1, 20_001, n)
        quantity = rng.integers(1, 51, n).astype(np.float64)
        retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1000)) / 100
        price = np.round(quantity * retail, 2)
        flag = np.where(
            receiptdays <= cutoff, np.where(rng.random(n) < 0.5, "R", "A"), "N"
        )
        status = np.where(shipdays > cutoff, "O", "F")
        tbl = pa.table(
            {
                "l_orderkey": orderkey,
                "l_partkey": partkey.astype(np.int64),
                "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
                "l_linenumber": linenumber,
                "l_quantity": quantity,
                "l_extendedprice": price,
                "l_discount": rng.integers(0, 11, n) / 100,
                "l_tax": rng.integers(0, 9, n) / 100,
                "l_returnflag": pa.array(flag, pa.string()),
                "l_linestatus": pa.array(status, pa.string()),
                "l_shipdate": pa.array(
                    epoch_1992 + shipdays * day, pa.timestamp("us")
                ),
            }
        )
        return tbl.take(rng.permutation(n))

    def lookup_key(self):
        return int(self.table["l_orderkey"][self.rng.randrange(self.table.num_rows)].as_py())

    def range_window(self):
        return self._window("l_shipdate", 7)

    def count_window(self):
        return self._window("l_shipdate", 365)


WORKLOADS = {w.name: w for w in (Web, Lineitem)}
