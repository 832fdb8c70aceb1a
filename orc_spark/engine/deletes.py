"""Row-level deletes: Iceberg v2 position-delete semantics over the
stripe store (merge-on-read).

A delete marks rows by their decode coordinates — (partition_id,
epoch, stripe_idx, row position) — without rewriting any stripe.
Vectors are packed little-endian bitmaps, one row per affected stripe
group per delete operation, appended to ``<out_dir>/deletes`` as an
APPEND-ONLY parquet table (no read-modify-write races: concurrent
deletes both land, readers OR every vector for a group — exactly how
Iceberg accumulates delete files until a compaction). ``compact_run``
re-encodes the deletes-applied view, so compaction naturally drops
them (≙ Iceberg rewrite_data_files).

At 100 TB the metadata math holds: one bitmap row per touched stripe,
≤ stripe_rows/8 bytes each (64k-row stripes → ≤8 KB); the read-side
join onto the stripes table is keyed by the stripe-group id and
broadcastable until deletes touch millions of stripes — at which
point compaction is overdue anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DELETES_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("epoch", LongType(), False),
        StructField("stripe_idx", LongType(), False),
        StructField("n_deleted", LongType(), False),
        StructField("vec", BinaryType(), False),
    ]
)

_GROUP_KEYS = ["run_id", "partition_id", "epoch", "stripe_idx"]


def deletes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "deletes")


def write_delete_vectors(
    spark: SparkSession, positions: DataFrame, out_dir: str, run_id: str
) -> int:
    """Pack a positions DF (``_pid``, ``_epoch``, ``_sidx``,
    ``_rowpos`` — decode_stage POSITION_COLS) into per-stripe bitmaps
    and APPEND them to the deletes table. Returns rows marked.

    Packing runs distributed (applyInPandas per stripe group — a
    group's positions are bounded by stripe_rows, so each pandas
    frame is small by construction)."""
    import pandas as pd

    n_total = positions.count()
    if n_total == 0:
        return 0

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pos = np.unique(pdf["_rowpos"].to_numpy(dtype=np.int64))
        bits = np.zeros(int(pos.max()) + 1, dtype=bool)
        bits[pos] = True
        return pd.DataFrame(
            [
                {
                    "run_id": run_id,
                    "partition_id": int(pdf["_pid"].iloc[0]),
                    "epoch": int(pdf["_epoch"].iloc[0]),
                    "stripe_idx": int(pdf["_sidx"].iloc[0]),
                    "n_deleted": int(len(pos)),
                    "vec": np.packbits(bits, bitorder="little").tobytes(),
                }
            ]
        )

    vectors = positions.groupBy("_pid", "_epoch", "_sidx").applyInPandas(
        _pack, DELETES_SCHEMA
    )
    vectors.write.mode("append").parquet(deletes_dir(out_dir))
    return int(n_total)


def read_delete_vectors(
    spark: SparkSession, out_dir: str, run_id: str
) -> DataFrame | None:
    """All delete vectors of a run, one row per (group, delete file)
    — callers OR them; None when the table has no deletes."""
    d = deletes_dir(out_dir)
    if not os.path.isdir(d):
        return None
    df = spark.read.schema(DELETES_SCHEMA).parquet(d).filter(
        F.col("run_id") == run_id
    )
    return df


def _read_run_arrow(d: str, schema: StructType, run_id: str):
    """One run's rows of a small side table (deletes, eq-deletes),
    read with pyarrow under the table's explicit schema — no Spark
    job."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    return ds.dataset(
        d, format="parquet", schema=to_arrow_schema(schema)
    ).to_table(filter=ds.field("run_id") == run_id)


def delete_vecs_by_group(out_dir: str, run_id: str) -> dict | None:
    """{(partition_id, epoch, stripe_idx): [vec, ...]} for the run,
    read with pyarrow — the driver-side twin of
    :func:`grouped_delete_vecs`; None when the table has no deletes."""
    d = deletes_dir(out_dir)
    if not os.path.isdir(d):
        return None
    t = _read_run_arrow(d, DELETES_SCHEMA, run_id)
    out: dict = {}
    for p, e, s, v in zip(
        *(t[c].to_pylist() for c in ("partition_id", "epoch", "stripe_idx", "vec"))
    ):
        out.setdefault((p, e, s), []).append(v)
    return out


def grouped_delete_vecs(deletes: DataFrame) -> DataFrame:
    """(partition_id, epoch, stripe_idx, _delete_vecs array<binary>)
    — the join-ready shape decode_stage consumes."""
    return deletes.groupBy("partition_id", "epoch", "stripe_idx").agg(
        F.collect_list("vec").alias("_delete_vecs")
    )


# ----------------------------------------------------- equality deletes
#
# Iceberg v2's OTHER delete-file kind: "delete every row where col =
# v", written in O(1) — no scan at delete time at ALL; the equality
# set is masked during decode. The right tool for key-based retraction
# (GDPR by user id, recall by url) where scanning 100 TB to find the
# positions first would dwarf the delete itself.

EQ_DELETES_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("column", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("value_json", StringType(), False),
    ]
)

_EQ_KINDS = {bool: "bool", int: "int", float: "float", str: "str"}

# decode collects the equality sets to the driver (they ship to every
# decode task via the mapInArrow closure); a set this large should be
# a position-delete scan or a compaction instead — refuse loudly
EQ_COLLECT_MAX = 1 << 16


def eq_deletes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "eq_deletes")


def write_eq_deletes(
    spark: SparkSession, out_dir: str, run_id: str, column: str, values
) -> int:
    """Append equality-delete rows: every current AND FUTURE-epoch row
    of ``run_id`` with ``column`` equal to any of ``values`` reads as
    deleted. O(1) — nothing is scanned. Null never equals a value, so
    null rows are never eq-deleted (SQL equality semantics)."""
    import json as _json

    rows = []
    for v in values:
        kind = _EQ_KINDS.get(type(v))
        if kind is None:
            raise ValueError(
                f"equality deletes support bool/int/float/str values, "
                f"got {type(v).__name__}: {v!r} — use delete_rows "
                "(position scan) for other types"
            )
        rows.append((run_id, column, kind, _json.dumps(v)))
    if not rows:
        return 0
    spark.createDataFrame(rows, EQ_DELETES_SCHEMA).write.mode(
        "append"
    ).parquet(eq_deletes_dir(out_dir))
    return len(rows)


def read_eq_deletes(out_dir: str, run_id: str) -> list[tuple[str, list]]:
    """[(column, [typed values...])] for the run — read on the driver
    with pyarrow (bounded by EQ_COLLECT_MAX, loud beyond it) so decode
    tasks can mask without a join."""
    import json as _json

    d = eq_deletes_dir(out_dir)
    if not os.path.isdir(d):
        return []
    t = _read_run_arrow(d, EQ_DELETES_SCHEMA, run_id)
    if t.num_rows > EQ_COLLECT_MAX:
        raise ValueError(
            f"run {run_id!r} has more than {EQ_COLLECT_MAX} equality-"
            "delete rows — compact the run (materializes the live "
            "view) before decoding"
        )
    by_col: dict[str, list] = {}
    for col, kind, vj in zip(
        *(t[c].to_pylist() for c in ("column", "kind", "value_json"))
    ):
        v = _json.loads(vj)
        if kind == "int":
            v = int(v)
        elif kind == "float":
            v = float(v)
        elif kind == "bool":
            v = bool(v)
        by_col.setdefault(col, []).append(v)
    return sorted(by_col.items())


def delete_stats(spark: SparkSession, out_dir: str, run_id: str) -> dict:
    """Live-delete accounting for reports/doctor: vectors, touched
    stripe groups, marked rows (upper bound — overlapping delete
    files may re-mark a row). Read with pyarrow: no Spark job."""
    d = deletes_dir(out_dir)
    if not os.path.isdir(d):
        out = {"n_vectors": 0, "n_groups": 0, "rows_marked_ub": 0}
    else:
        import pyarrow.compute as pc

        t = _read_run_arrow(d, DELETES_SCHEMA, run_id)
        keys = t.select(_GROUP_KEYS[1:]).drop_null()
        out = {
            "n_vectors": t.num_rows,
            "n_groups": keys.group_by(keys.column_names).aggregate([]).num_rows,
            "rows_marked_ub": pc.sum(t["n_deleted"]).as_py() or 0,
        }
    out["n_eq_values"] = sum(
        len(vs) for _, vs in read_eq_deletes(out_dir, run_id)
    )
    return out
