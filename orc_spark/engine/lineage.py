"""Lineage ledger + checkpoint/resume manifest.

Re-expresses the reference's per-phase persistence discipline:
- costs/timing ledgers (/root/reference/internal/state/costs.go:13-33,
  timing.go:14-24) -> per-stripe lineage rows in an append-only
  parquet table (FIXTURES.md F3 schema);
- checkpoint-after-every-phase + resume from phase_index
  (/root/reference/internal/runner/runner.go:699-703,
  cmd/orc/main.go:205-254) -> lineage rows with status=completed per
  (run_id, partition); resume = anti-join of the recomputable
  partition-id column against the completed set;
- atomic state writes (/root/reference/internal/state/atomic.go:11-41)
  -> Spark's atomic parquet commit protocol per append.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("input_split", StringType(), True),
        StructField("column", StringType(), False),
        StructField("codec", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("bytes_in", LongType(), False),
        StructField("bytes_out", LongType(), False),
        StructField("encode_ms", DoubleType(), False),
        StructField("checksum", StringType(), False),
        StructField("status", StringType(), False),
        StructField("failure_category", StringType(), True),
        StructField("epoch", LongType(), False),
        StructField("ts", TimestampType(), False),
    ]
)


def lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def stripes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "stripes")


def lineage_from_stripes(stripes: DataFrame, input_split: str | None = None) -> DataFrame:
    """Project stripe metadata (sans blob) into lineage rows, carrying
    the stripe's real status/failure_category (failed stripes leave a
    ledger trace; ≙ reference failure_category persistence,
    /root/reference/internal/state/state.go:29-41)."""
    return stripes.select(
        "run_id",
        "partition_id",
        F.lit(input_split).cast("string").alias("input_split"),
        "column",
        "codec",
        "n_rows",
        "bytes_in",
        "bytes_out",
        "encode_ms",
        "checksum",
        "status",
        "failure_category",
        "epoch",
        F.current_timestamp().alias("ts"),
    )


def append_lineage(df: DataFrame, out_dir: str) -> None:
    from . import storage

    storage.append_table(df, lineage_dir(out_dir))


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    from . import retention, storage

    retention.recover_swap(lineage_dir(out_dir))
    return storage.read_table(spark, lineage_dir(out_dir), LINEAGE_SCHEMA)


def complete_partition_ids(stripes: DataFrame, columns: list[str]) -> DataFrame:
    """Distinct ``partition_id`` of the (partition, epoch) pairs whose
    completed rows cover every one of ``columns``. Only those
    top-level encoded columns count: the stats rows of a struct's
    descendants (``meta.status``) ride their parent's stripes and must
    not stand in for a column that failed."""
    return (
        stripes.filter(
            (F.col("status") == "completed") & F.col("column").isin(list(columns))
        )
        .groupBy("partition_id", "epoch")
        .agg(F.countDistinct("column").alias("n_cols"))
        .filter(F.col("n_cols") >= len(set(columns)))
        .select("partition_id")
        .distinct()
    )


def completed_partitions(
    spark: SparkSession, out_dir: str, run_id: str, columns: list[str]
) -> list[int]:
    """Partitions with a complete column set committed IN ONE EPOCH.

    The same-epoch requirement is the row-alignment invariant: columns
    encoded in different passes may have different Arrow batch
    boundaries and row order, so a partition only counts as done when
    one encode pass produced all of its ``columns`` — a partition with
    a failed stripe stays todo and is re-encoded whole at the next
    epoch.
    """
    if not os.path.exists(lineage_dir(out_dir)):
        return []  # fresh run: no Spark job needed
    lin = read_lineage(spark, out_dir).filter(F.col("run_id") == run_id)
    return sorted(
        r.partition_id for r in complete_partition_ids(lin, columns).collect()
    )


def next_epoch(spark: SparkSession, out_dir: str, run_id: str) -> int:
    """One past the highest epoch this run has written (0 for fresh).

    Derived from the STRIPES table — the atomic commit unit — not the
    lineage ledger: a crash between the stripe commit and the lineage
    append would otherwise let resume reuse the epoch and write a
    second stripe set at the same (partition_id, epoch, stripe_idx),
    which decode_stage would merge into one misaligned stripe group.
    The lineage ledger is still consulted as a fallback (a stripes dir
    pruned by retention can outlive its ledger, never vice versa).
    """
    from . import storage
    from .encode import STRIPE_SCHEMA  # explicit: dir may be mixed-schema

    m = -1
    sd = stripes_dir(out_dir)
    if os.path.exists(sd):
        row = (
            storage.read_table(spark, sd, STRIPE_SCHEMA)
            .filter(F.col("run_id") == run_id)
            .agg(F.max("epoch").alias("m"))  # metadata-only: blob column pruned
            .first()
        )
        if row is not None and row.m is not None:
            m = int(row.m)
    if os.path.exists(lineage_dir(out_dir)):
        row = (
            read_lineage(spark, out_dir)
            .filter(F.col("run_id") == run_id)
            .agg(F.max("epoch").alias("m"))
            .first()
        )
        if row is not None and row.m is not None:
            m = max(m, int(row.m))
    return m + 1


# ------------------------------------------------------- snapshot tags
#
# Named refs over the epoch history (≙ Iceberg tags: a human name
# pinned to a snapshot id) — `decode --as-of-tag nightly-2026-08-19`
# instead of remembering epoch numbers. One JSON file per store,
# written atomically (tmp + rename); tags are per (run_id, name).

def tags_path(out_dir: str) -> str:
    return os.path.join(out_dir, "tags.json")


def read_tags(out_dir: str) -> dict:
    """{run_id: {tag_name: epoch}} — empty dict when none exist."""
    import json

    p = tags_path(out_dir)
    if not os.path.exists(p):
        return {}
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def write_tag(
    spark: SparkSession, out_dir: str, run_id: str, name: str,
    epoch: int | None = None,
) -> int:
    """Pin ``name`` to ``epoch`` of ``run_id`` (default: the run's
    newest epoch in the lineage). Returns the pinned epoch. Re-tagging
    a name moves it (Iceberg replace-tag semantics)."""
    import json

    if epoch is None:
        row = (
            read_lineage(spark, out_dir)
            .filter(F.col("run_id") == run_id)
            .agg(F.max("epoch").alias("e"))
            .first()
        )
        if row is None or row.e is None:
            raise ValueError(f"run {run_id!r} has no lineage to tag")
        epoch = int(row.e)
    tags = read_tags(out_dir)
    tags.setdefault(run_id, {})[name] = int(epoch)
    write_tags(out_dir, tags)
    return int(epoch)


def write_tags(out_dir: str, tags: dict) -> None:
    """Persist the full tags map atomically (tmp + rename)."""
    import json

    tmp = tags_path(out_dir) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(tags, fh, indent=1, sort_keys=True)
    os.replace(tmp, tags_path(out_dir))


def resolve_tag(out_dir: str, run_id: str, name: str) -> int:
    """Tag name -> epoch; unknown tags are LOUD (a typo silently
    reading the wrong snapshot would be worse)."""
    tags = read_tags(out_dir).get(run_id, {})
    if name not in tags:
        known = sorted(tags)
        raise ValueError(
            f"unknown tag {name!r} for run {run_id!r} (known: {known})"
        )
    return int(tags[name])
