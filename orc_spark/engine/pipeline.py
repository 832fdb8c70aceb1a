"""Driver-side encode-job orchestration (the reference's Runner).

Mirrors the reference's sequential phase loop with checkpoint-after-
every-phase (/root/reference/internal/runner/runner.go:311-747,
save at :699-703): partitions are processed in *waves*; each wave is
one Spark job whose stripes and lineage commit atomically before the
next wave starts. Killing the driver between waves loses nothing —
resubmitting with the same run_id anti-joins completed partitions
away (≙ `orc run --resume`).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import decode as decode_mod
from . import deletes as deletes_mod
from . import encode as encode_mod
from . import lineage as lineage_mod
from . import selector, skew, storage, zonemap


@dataclass
class EncodeJobConfig:
    out_dir: str
    run_id: str
    key: str = "url"  # per-row key column (input_hint: url)
    columns: list[str] | None = None  # default: all supported columns
    n_partitions: int = 32
    salt: int = 42
    waves: int = 1  # >1 = finer-grained checkpoints
    # Sort within partitions on this column before striping: makes
    # stripes range-local so zone maps actually prune (no extra
    # shuffle — the sort rides the encode exchange's output).
    cluster_by: str | None = None
    # Z-order (Morton) clustering over SEVERAL numeric/temporal
    # columns: stripes become range-local in every listed dimension at
    # once, so multi-column box predicates prune on all of them
    # (engine/zorder.py). Same no-extra-shuffle contract as
    # cluster_by; mutually exclusive with it. Bucketing bounds come
    # from one min/max pass, or supply zorder_bounds {col: (lo, hi)}
    # to skip the pass (at 100 TB you know your domain bounds).
    zorder_by: list[str] | None = None
    zorder_bounds: dict | None = None
    size_budget_ratio: float = encode_mod.DEFAULT_SIZE_BUDGET
    overrides: dict[str, list[str]] | None = None
    # Frame-level block compressor over the lightweight encodings (ORC
    # CompressionKind semantics; stdlib zlib). Level 1: ~20% smaller
    # than reference ORC+zlib stripes on the web corpus while keeping
    # deflate off the critical path's slow settings; None = lightweight
    # codecs only (the r1/r2 format — decode reads both).
    compression: str | None = "zlib"
    compression_level: int = 1
    # Per-stripe bloom filter indexes (zonemap.stripe_bloom) for
    # equality pruning; costs a few % of encode on key-like string
    # columns — turn off for write-once-scan-always tables.
    bloom_index: bool = True
    # Columns to index with a per-stripe TOKEN bloom (distinct
    # lowercase [a-z0-9]+ tokens) instead of a value bloom — the
    # full-text search index behind the `contains_token` predicate.
    # Opt-in: tokenizing costs encode CPU only where search is wanted.
    token_bloom_columns: tuple[str, ...] = ()
    # Fixed rows per stripe (None = one stripe per incoming Arrow
    # batch, i.e. spark.sql.execution.arrow.maxRecordsPerBatch).
    # Setting it makes stripe memory footprint and zone-map
    # granularity a job property, not a session-conf side effect.
    stripe_rows: int | None = None
    # Target UNCOMPRESSED bytes per stripe instead (the ORC writer's
    # actual orc.stripe.size contract): the per-partition row target
    # derives from the first batch's measured bytes/row, so stripe
    # memory stays flat across heterogeneous row widths. Mutually
    # exclusive with stripe_rows.
    stripe_bytes: int | None = None
    # {"columns": [...], "partitions": [...]}: deliberate per-stripe
    # failures for resilience tests (see encode_stage).
    fault_spec: dict | None = None


@dataclass
class EncodeJobResult:
    run_id: str
    partitions_total: int
    partitions_skipped: int
    partitions_encoded: int
    partitions_failed: int = 0
    waves: int = 0
    columns: list[str] = field(default_factory=list)


def _arrow_schema(df: DataFrame):
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema([(f.name, to_arrow_type(f.dataType)) for f in df.schema.fields])


ARROW_EXPANSION = 3  # parquet-compressed -> in-memory Arrow, typical web text


def suggest_partitions(
    spark: SparkSession,
    df: DataFrame,
    target_bytes: int = 256 << 20,
    expansion: float = ARROW_EXPANSION,
) -> int:
    """Derive the encode shuffle's partition count from the INPUT SIZE
    instead of a constant — the knob that keeps per-task stripe memory
    ~flat from sf0.001 to 100 TB. Uses Catalyst's scan-size estimate
    (file bytes for parquet sources) times an Arrow expansion factor,
    targeting ``target_bytes`` of in-memory rows per partition; floors
    at the cluster's default parallelism so small inputs still use
    every core.
    """
    size = None
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        # Catalyst returns 2^63-1-ish sentinels when it has no idea
        if 0 < est < (1 << 60):
            size = est
    except Exception:  # non-classic DF / connect: fall through to floor
        size = None
    floor = spark.sparkContext.defaultParallelism
    if size is None:
        return floor
    return max(floor, -(-int(size * expansion) // target_bytes))


# Config fields that define partition identity: resuming a run with a
# different value for any of these would recompute pmod(hash(key,salt),
# n) differently and silently duplicate/miss rows.
_IDENTITY_FIELDS = ("key", "salt", "n_partitions")


def _config_path(out_dir: str, run_id: str) -> str:
    return os.path.join(out_dir, "configs", f"{run_id}.json")


def save_run_config(cfg: EncodeJobConfig) -> None:
    """Persist the run's config (atomic tmp+rename) — ≙ the reference
    persisting the workflow config fingerprint with the run state
    (/root/reference/internal/eval/eval.go:187-223)."""
    import dataclasses
    import json
    import tempfile as _tf

    path = _config_path(cfg.out_dir, cfg.run_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rec = dataclasses.asdict(cfg)
    rec.pop("fault_spec", None)  # test-only, not identity
    fd, tmp = _tf.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def load_run_config(out_dir: str, run_id: str) -> dict | None:
    import json

    path = _config_path(out_dir, run_id)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _check_resume_identity(cfg: EncodeJobConfig) -> None:
    stored = load_run_config(cfg.out_dir, cfg.run_id)
    if stored is None:
        save_run_config(cfg)
        return
    drift = {
        f: (stored.get(f), getattr(cfg, f))
        for f in _IDENTITY_FIELDS
        if f in stored and stored.get(f) != getattr(cfg, f)
    }
    if drift:
        raise ValueError(
            f"resume of run {cfg.run_id!r} with different partition "
            f"identity {drift}: partitions would be re-assigned and rows "
            f"duplicated/missed — use the stored values or a new run_id"
        )


def run_encode_job(
    spark: SparkSession, df: DataFrame, cfg: EncodeJobConfig
) -> EncodeJobResult:
    """Encode ``df`` into stripes + lineage under cfg.out_dir, resumably."""
    _check_resume_identity(cfg)
    columns = cfg.columns or [f.name for f in df.schema.fields]
    if cfg.key not in columns:
        columns = [cfg.key, *columns]
    plans = selector.plan_for_schema(
        _arrow_schema(df.select(columns)), cfg.overrides
    )

    pid = skew.partition_id_expr(cfg.n_partitions, cfg.key, cfg.salt)
    done = lineage_mod.completed_partitions(
        spark, cfg.out_dir, cfg.run_id, columns
    )
    # Crash-consistency: a kill between the stripe commit and the
    # lineage append leaves partitions whose data IS durable but whose
    # manifest rows are missing. Re-encoding them would append duplicate
    # stripes; instead, backfill their lineage from the committed
    # stripes and treat them as done (the stripe write is the atomic
    # unit — mirrors the reference's save-after-every-phase recovery,
    # /root/reference/internal/runner/runner.go:699-703).
    if os.path.exists(lineage_mod.stripes_dir(cfg.out_dir)):
        stripe_meta = (
            read_stripes(spark, cfg.out_dir, cfg.run_id)
            .drop("data")
        )
        stripe_done = {
            r.partition_id
            for r in lineage_mod.complete_partition_ids(
                stripe_meta, columns
            ).collect()
        }
        orphans = stripe_done - set(done)
        if orphans:
            lineage_mod.append_lineage(
                lineage_mod.lineage_from_stripes(
                    stripe_meta.filter(F.col("partition_id").isin(sorted(orphans)))
                ),
                cfg.out_dir,
            )
            done = sorted(set(done) | orphans)
    todo = sorted(set(range(cfg.n_partitions)) - set(done))
    result = EncodeJobResult(
        run_id=cfg.run_id,
        partitions_total=cfg.n_partitions,
        partitions_skipped=len(done),
        partitions_encoded=0,
        columns=columns,
    )
    if not todo:
        return result

    epoch = lineage_mod.next_epoch(spark, cfg.out_dir, cfg.run_id)
    sort_key = _clustering_key(
        df, cfg.cluster_by, cfg.zorder_by, cfg.zorder_bounds
    )
    waves = max(1, min(cfg.waves, len(todo)))
    per_wave = -(-len(todo) // waves)
    for w in range(waves):
        wave_ids = todo[w * per_wave : (w + 1) * per_wave]
        if not wave_ids:
            break
        wave_df = df.select(columns).withColumn("_pid", pid)
        if len(wave_ids) < cfg.n_partitions:
            wave_df = wave_df.filter(F.col("_pid").isin(wave_ids))
        wave_df = skew.salted_repartition(
            wave_df.drop("_pid"), cfg.n_partitions, cfg.key, cfg.salt
        )
        if sort_key is not None:
            wave_df = wave_df.sortWithinPartitions(sort_key)
        stripes = encode_mod.encode_stage(
            wave_df, plans, cfg.run_id, cfg.size_budget_ratio,
            epoch=epoch, fault_spec=cfg.fault_spec,
            compression=cfg.compression,
            compression_level=cfg.compression_level,
            stripe_rows=cfg.stripe_rows,
            stripe_bytes=cfg.stripe_bytes,
            bloom_index=cfg.bloom_index,
            token_bloom_columns=cfg.token_bloom_columns,
        )
        # Atomic commit per wave: parquet commit protocol (or an
        # Iceberg snapshot when the target is a catalog table).
        storage.append_table(
            stripes, lineage_mod.stripes_dir(cfg.out_dir), precompressed=True
        )
        written = (
            read_stripes(spark, cfg.out_dir, cfg.run_id)
            .filter(
                (F.col("epoch") == epoch)  # not stale prior-epoch rows
                & F.col("partition_id").isin(wave_ids)
            )
            .drop("data")  # column-pruned scan: blobs are never re-read
            .cache()  # one scan feeds both the lineage write and the id count
        )
        lineage_mod.append_lineage(
            lineage_mod.lineage_from_stripes(written), cfg.out_dir
        )
        by_status = written.groupBy("partition_id").agg(
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("nf")
        ).collect()
        written.unpersist()
        failed_ids = {r.partition_id for r in by_status if r.nf}
        result.partitions_encoded += len(by_status) - len(failed_ids)
        result.partitions_failed += len(failed_ids)
        result.waves += 1
    return result


def _clustering_key(df: DataFrame, cluster_by, zorder_by, zorder_bounds):
    """The within-partition sort key of a run's clustering layout
    (cluster_by column, or the Z-order key over zorder_by), or None.
    The sort rides the encode exchange's output — no extra shuffle.
    Z-order bounds come once for the whole job: the stored/supplied
    ones, or one min/max aggregate over ``df``."""
    if not zorder_by:
        return cluster_by
    if cluster_by:
        raise ValueError("cluster_by and zorder_by are exclusive")
    from . import zorder as zorder_mod

    bounds = zorder_bounds or zorder_mod.column_bounds(df, zorder_by)
    return zorder_mod.zorder_key(df, zorder_by, bounds=bounds)


def compact_run(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    schema,
    key: str | None = None,
    new_run_id: str | None = None,
    n_partitions: int | None = None,
    stripe_rows: int | None = 65536,
    compression: str | None = "zlib",
    compression_level: int = 1,
    cluster_by: str | None = None,
    salt: int = 42,
) -> EncodeJobResult:
    """Merge a run's stripes into fewer, larger ones (ORC file-merge /
    Iceberg rewrite-data-files semantics): decode ``run_id`` and
    re-encode it UNDER A NEW run_id with a large fixed ``stripe_rows``.

    Small stripes accumulate from streaming micro-batches and narrow
    encode waves; at cluster scale they cost metadata rows, per-stripe
    codec headers (dict/FSST symbol tables amortize worse), and scan
    tasks. Writing the compacted copy as a separate run reuses the
    normal wave commit + resume machinery (a killed compaction resumes
    like any encode job) and never mixes epochs with the source run;
    the source stays decodable until the caller expires it
    (`python -m orc_spark prune`).

    ``key``/``n_partitions`` default to the SOURCE run's persisted
    config (configs/<run_id>.json), so a compaction can't silently
    change partition identity.
    """
    stored = load_run_config(out_dir, run_id) or {}
    key = key or stored.get("key")
    if key is None:
        raise ValueError(
            f"run {run_id!r} has no persisted config — pass key explicitly"
        )
    n_partitions = n_partitions or stored.get("n_partitions") or 32
    df = decode_job(spark, out_dir, run_id, schema)
    cfg = EncodeJobConfig(
        out_dir=out_dir,
        run_id=new_run_id or f"{run_id}-compact",
        key=key,
        columns=[f.name for f in schema.fields],
        n_partitions=n_partitions,
        salt=salt,
        cluster_by=cluster_by,
        compression=compression,
        compression_level=compression_level,
        stripe_rows=stripe_rows,
    )
    return run_encode_job(spark, df, cfg)


def compact_fragmented(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    schema,
    target_stripe_rows: int = 65536,
    frag_ratio: float = 0.5,
    compression: str | None = "zlib",
    compression_level: int = 1,
) -> dict:
    """Targeted bin-pack compaction (Iceberg ``rewrite_data_files``
    binpack-with-filter analogue): find the partitions whose KEPT
    stripes are fragmented — more than one stripe and mean rows/stripe
    below ``frag_ratio * target_stripe_rows`` — from metadata alone,
    decode ONLY those partitions, and re-encode their rows at the
    run's next epoch with fat ``target_stripe_rows`` stripes.

    The epoch machinery does the rest: per partition, readers prefer
    the newest complete epoch, so compacted partitions flip to the fat
    stripes while untouched partitions keep reading their existing
    epoch, and :func:`~orc_spark.engine.retention.vacuum_epochs`
    physically reclaims the superseded small stripes. Unlike
    :func:`compact_run` (whole-table rewrite into a new run), cost is
    proportional to FRAGMENTATION, not table size — the right shape
    after streaming micro-batches have peppered a 100 TB table with
    small tail stripes. Position deletes on compacted partitions are
    materialized by the decode (the rewritten epoch starts clean);
    deletes on untouched partitions stay live.

    Partition identity (key/salt/n_partitions) comes from the run's
    persisted config, so re-encoded rows land on their original
    partition ids by construction — and a guard verifies it.

    Returns {partitions_compacted, stripes_before, stripes_after,
    epoch} (stripe counts are per-column stripe GROUPS of the
    compacted partitions).
    """
    stored = load_run_config(out_dir, run_id) or {}
    key = stored.get("key")
    if key is None:
        raise ValueError(
            f"run {run_id!r} has no persisted config — targeted "
            "compaction needs the original partition identity"
        )
    n_partitions = int(stored.get("n_partitions") or 32)
    salt = int(stored.get("salt", 42))
    columns = [f.name for f in schema.fields]
    want = set(columns)

    stripes = read_stripes(spark, out_dir, run_id)
    meta = _epoch_keep_filter(spark, stripes, want).drop("data").filter(
        F.col("column").isin(columns)
    )
    # stripe GROUPS are column-aligned: count one representative column
    rep = meta.filter(F.col("column") == columns[0])
    per_pid = (
        rep.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_stripes"),
            F.avg("n_rows").alias("avg_rows"),
        )
        .collect()  # one row per partition: planner-scale
    )
    frag = sorted(
        int(r.partition_id)
        for r in per_pid
        if r.n_stripes > 1 and r.avg_rows < frag_ratio * target_stripe_rows
    )
    before = sum(
        int(r.n_stripes) for r in per_pid if int(r.partition_id) in set(frag)
    )
    if not frag:
        return {
            "partitions_compacted": 0, "stripes_before": 0,
            "stripes_after": 0, "epoch": None,
        }

    groups_df = (
        rep.filter(F.col("partition_id").isin(frag))
        .select("partition_id", "epoch", "stripe_idx")
    )
    df = decode_job(
        spark, out_dir, run_id, schema, columns=columns,
        _only_groups=groups_df,
    )
    wave_df = skew.salted_repartition(
        df.select(columns), n_partitions, key, salt
    )
    # keep the run's clustering, or zone maps stop pruning the rewrite
    sort_key = _clustering_key(
        df, stored.get("cluster_by"), stored.get("zorder_by"),
        stored.get("zorder_bounds"),
    )
    if sort_key is not None:
        wave_df = wave_df.sortWithinPartitions(sort_key)
    plans = selector.plan_for_schema(
        _arrow_schema(df.select(columns)), stored.get("overrides")
    )
    epoch = lineage_mod.next_epoch(spark, out_dir, run_id)
    new_stripes = encode_mod.encode_stage(
        wave_df, plans, run_id,
        stored.get("size_budget_ratio", encode_mod.DEFAULT_SIZE_BUDGET),
        epoch=epoch,
        compression=compression,
        compression_level=compression_level,
        stripe_rows=target_stripe_rows,
        bloom_index=bool(stored.get("bloom_index", True)),
        token_bloom_columns=tuple(stored.get("token_bloom_columns") or ()),
    )
    storage.append_table(
        new_stripes, lineage_mod.stripes_dir(out_dir), precompressed=True
    )
    written = (
        read_stripes(spark, out_dir, run_id)
        .filter(F.col("epoch") == epoch)
        .drop("data")
        .cache()
    )
    got_pids = {
        int(r.partition_id)
        for r in written.select("partition_id").distinct().collect()
    }
    if not got_pids <= set(frag):
        raise AssertionError(
            f"compacted rows landed outside the fragmented partitions "
            f"({sorted(got_pids - set(frag))}) — partition identity drift"
        )
    lineage_mod.append_lineage(
        lineage_mod.lineage_from_stripes(written), out_dir
    )
    after = (
        written.filter(F.col("column") == columns[0]).count()
    )
    written.unpersist()
    return {
        "partitions_compacted": len(frag),
        "stripes_before": int(before),
        "stripes_after": int(after),
        "epoch": int(epoch),
    }


def merge_runs(
    spark: SparkSession,
    out_dir: str,
    run_ids: list[str],
    schema,
    new_run_id: str,
    key: str | None = None,
    n_partitions: int | None = None,
    stripe_rows: int | None = 65536,
    cluster_by: str | None = None,
) -> EncodeJobResult:
    """Consolidate several runs into ONE (the multi-snapshot
    completion of :func:`compact_run` — Iceberg rewrite-data-files
    across snapshots): decode the runs' live union (per-run epoch
    selection, deletes, and schema evolution all apply — exactly what
    :func:`read_runs` reads) and re-encode it under ``new_run_id``
    with full-size stripes. Live deletes are MATERIALIZED (the merged
    run carries none), per-run epoch history collapses to epoch 0,
    and the append-era run list shrinks to one id; the sources stay
    decodable until pruned (`python -m orc_spark prune`).

    ``key``/``n_partitions`` default to the FIRST run's persisted
    config; runs with conflicting persisted keys raise rather than
    silently re-partitioning half the data under a different identity.

    Scale shape: exactly a decode plan (one exchange per run's stripe
    groups, unionByName is plan-level) feeding the normal encode
    (one salted exchange) — the same cost model as compact_run times
    the run count, resumable at every wave like any encode job.
    """
    if not run_ids:
        raise ValueError("merge_runs needs at least one source run")
    keys = {}
    for rid in run_ids:
        stored = load_run_config(out_dir, rid) or {}
        if stored.get("key"):
            keys[rid] = stored["key"]
    if key is None:
        distinct = sorted(set(keys.values()))
        if len(distinct) > 1:
            raise ValueError(
                f"source runs disagree on key {keys} — pass key explicitly"
            )
        key = distinct[0] if distinct else None
    if key is None:
        raise ValueError("no persisted key found — pass key explicitly")
    if n_partitions is None:
        first = load_run_config(out_dir, run_ids[0]) or {}
        n_partitions = first.get("n_partitions") or 32
    df = read_runs(spark, out_dir, run_ids, schema)
    cfg = EncodeJobConfig(
        out_dir=out_dir,
        run_id=new_run_id,
        key=key,
        columns=[f.name for f in schema.fields],
        n_partitions=n_partitions,
        stripe_rows=stripe_rows,
        cluster_by=cluster_by,
    )
    return run_encode_job(spark, df, cfg)


def clone_run(
    spark: SparkSession,
    src_out: str,
    run_id: str,
    dst_out: str,
) -> dict:
    """Copy ONE run — stripes, lineage, delete files, persisted
    config — into another store (backup / promote-to-archive /
    cross-environment restore). Rows are copied verbatim (blobs are
    already encoded; nothing re-encodes), so the clone is
    bit-identical by construction, and a decode with
    ``verify_checksums=True`` on the destination proves it against
    the ledgered checksums. Refuses to overwrite an existing run_id
    at the destination — restores must be explicit, not silent.

    Scale shape: two distributed parquet copies filtered by run_id
    (column pruning keeps them row-group-sequential; no shuffle, no
    decode) + O(1) driver-side file copies for config/deletes.

    Returns {"stripes": n, "lineage": n}.
    """
    import shutil as _sh

    dst_stripes = lineage_mod.stripes_dir(dst_out)
    if os.path.exists(dst_stripes):
        existing = storage.read_table(
            spark, dst_stripes, encode_mod.STRIPE_SCHEMA
        ).filter(F.col("run_id") == run_id).limit(1).count()
        if existing:
            raise ValueError(
                f"run {run_id!r} already exists at {dst_out!r} — "
                "refusing to mix histories; choose a new run_id or prune"
            )
    src_stripes = read_stripes(spark, src_out, run_id)
    storage.append_table(src_stripes, dst_stripes, precompressed=True)
    lin = lineage_mod.read_lineage(spark, src_out).filter(
        F.col("run_id") == run_id
    )
    storage.append_table(lin, lineage_mod.lineage_dir(dst_out))
    cfg_src = _config_path(src_out, run_id)
    if os.path.exists(cfg_src):
        os.makedirs(os.path.dirname(_config_path(dst_out, run_id)),
                    exist_ok=True)
        _sh.copy2(cfg_src, _config_path(dst_out, run_id))
    # delete tables are run_id-keyed parquet dirs: copy the run's rows
    for ddir, schema in (
        (deletes_mod.deletes_dir, deletes_mod.DELETES_SCHEMA),
        (deletes_mod.eq_deletes_dir, deletes_mod.EQ_DELETES_SCHEMA),
    ):
        src_d = ddir(src_out)
        if os.path.isdir(src_d):
            rows = spark.read.schema(schema).parquet(src_d).filter(
                F.col("run_id") == run_id
            )
            if rows.limit(1).count():
                storage.append_table(rows, ddir(dst_out))
    n_l = lineage_mod.read_lineage(spark, dst_out).filter(
        F.col("run_id") == run_id
    ).count()
    n_s = read_stripes(spark, dst_out, run_id).count()
    return {"stripes": int(n_s), "lineage": int(n_l)}


def read_stripes(spark: SparkSession, out_dir: str, run_id: str | None = None) -> DataFrame:
    # Explicit schema, always: a stripes dir written across engine
    # upgrades is mixed-schema (r3 added the zone-stat/bloom columns),
    # and inferred reads would depend on which file footer Spark
    # samples — pre-upgrade rows read their missing stat columns as
    # null, which pruning already treats as "always keep" (ADVICE r3).
    d = lineage_mod.stripes_dir(out_dir)
    if not storage.is_iceberg(d):
        from . import retention

        retention.recover_swap(d)  # interrupted rewrite: restore first
    if not storage.is_iceberg(d) and not os.path.exists(d):
        raise FileNotFoundError(d)  # schema'd reads must not mask typos
    s = storage.read_table(spark, d, encode_mod.STRIPE_SCHEMA)
    if run_id:
        s = s.filter(F.col("run_id") == run_id)
    return s


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Spark byte-string config values: '134217728', '128m', '4mb'."""
    s = str(v).strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIX:
        return int(float(s[:-1]) * _BYTE_SUFFIX[s[-1]])
    return int(s)


def _stripe_files_fit_one_task_each(spark: SparkSession, out_dir: str) -> bool:
    """True when no stripe part-file can be split across scan tasks,
    which guarantees each task reads complete stripe groups — see
    decode_stage.

    Spark splits files at maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalBytes/minPartitionNum)) — NOT plain
    maxPartitionBytes (FilePartition.maxSplitBytes) — so a file under
    maxPartitionBytes can still be split when the session raises that
    limit or many cores shrink bytesPerCore. Replicate the full
    formula, conservatively assuming parquet can split at any row-group
    boundary (multi-row-group files written by a large wave).
    """
    d = lineage_mod.stripes_dir(out_dir)
    try:
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
        )
        min_pn_conf = spark.conf.get("spark.sql.files.minPartitionNum", None)
        min_pn = (
            int(min_pn_conf)
            if min_pn_conf
            else spark.sparkContext.defaultParallelism
        )
    except ValueError:
        return False
    try:
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
    except OSError:
        return False
    if not sizes:
        return False
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost, total // max(min_pn, 1)))
    return max(sizes) <= max_split


def _epoch_keep_filter(spark: SparkSession, stripes: DataFrame, want_cols: set[str]):
    """Per partition, keep only the max epoch whose requested column set
    is complete (row alignment holds only within one encode pass).
    Returns a filtered stripes DF; bounded driver collect (one row per
    partition x epoch — metadata, never data)."""
    done = F.col("status") == "completed"
    meta = stripes.drop("data").filter(F.col("column").isin(list(want_cols)))
    # ONE metadata action for both the max-epoch short-circuit and the
    # per-partition keep-map (this runs on every decode — a second
    # driver job here is pure fixed cost on point lookups). A stripe
    # index with wanted rows but no completed one is a group whose
    # wanted rows all failed: decode never sees it, so a selected
    # epoch holding one is checked (zonemap.lost_group_check)
    counts = (
        meta.groupBy("partition_id", "epoch")
        .agg(
            F.countDistinct(F.when(done, F.col("column"))).alias("nc"),
            (
                F.countDistinct("stripe_idx")
                - F.countDistinct(F.when(done, F.col("stripe_idx")))
            ).alias("n_lost"),
        )
        .collect()
    )
    formed = [r for r in counts if r.nc]
    short = not formed or max(int(r.epoch) for r in formed) == 0
    best: dict[int, int] = {}
    for r in formed:
        if int(r.nc) >= len(want_cols):
            pid = int(r.partition_id)
            best[pid] = max(best.get(pid, -1), int(r.epoch))
    lost = [
        f"{r.partition_id}:{r.epoch}" for r in counts if r.n_lost
        and int(r.epoch) == (0 if short else best.get(int(r.partition_id)))
    ]
    if lost:
        zonemap.lost_group_check(
            stripes, want_cols, F.concat_ws(":", "partition_id", "epoch").isin(lost)
        )
    if short:
        return stripes.filter(done)  # common case
    keep = spark.createDataFrame(
        [(pid, ep) for pid, ep in sorted(best.items())],
        "partition_id int, epoch long",
    )
    return stripes.filter(F.col("status") == "completed").join(
        F.broadcast(keep), ["partition_id", "epoch"], "left_semi"
    )


def _key_partition_restriction(
    spark: SparkSession, out_dir: str, run_id: str, result_schema, predicate
):
    """Partition ids pinned ARITHMETICALLY by equality/IN conjuncts on
    the run's partition key — the primary-key fast path: partition_id
    = pmod(hash(xxhash64(key, salt)), n) is a pure function of the
    literal, so the blob-free METADATA scan itself shrinks to the
    probe's own partition(s) (1/n of the stripes table at any scale)
    before a single zone stat is read. The pid is evaluated with the
    SAME JVM expression the encode exchange used
    (skew.partition_id_expr over a literal-typed 1-row frame), so the
    mapping can never drift from the physical layout; a literal whose
    Python type cannot carry the key column's Spark type returns None
    (conservative — zone/bloom pruning still applies downstream).
    Multiple key conjuncts (AND) intersect their pid sets; an IN list
    unions within the conjunct. Returns sorted pids or None."""
    stored = load_run_config(out_dir, run_id) or {}
    key = stored.get("key")
    n = stored.get("n_partitions")
    if not key or not n:
        return None
    field = next(
        (f for f in result_schema.fields if f.name == key), None
    )
    if field is None:
        return None
    salt = int(stored.get("salt", 42))
    conj_vals = []
    for c, op, v in predicate or ():
        if c != key:
            continue
        if op in ("==", "="):
            conj_vals.append([v])
        elif op == "in" and isinstance(v, (list, tuple)) and v:
            conj_vals.append(list(v))
    if not conj_vals:
        return None
    from pyspark.sql.types import StructField, StructType

    probe_schema = StructType([StructField(key, field.dataType, True)])
    sets = []
    for vs in conj_vals:
        try:
            probe = spark.createDataFrame([(x,) for x in vs], probe_schema)
        except Exception:
            return None  # literal/type mismatch: stay conservative
        pids = {
            int(r.pid)
            for r in probe.select(
                skew.partition_id_expr(int(n), key, salt).alias("pid")
            ).collect()
        }
        sets.append(pids)
    out = sets[0]
    for s in sets[1:]:
        out &= s
    return sorted(out)


def decode_job(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    columns: list[str] | None = None,
    predicate: list[tuple] | None = None,
    allow_missing_columns: bool = False,
    missing_defaults: dict | None = None,
    verify_checksums: bool = False,
    as_of_epoch: int | None = None,
    as_of_tag: str | None = None,
    apply_deletes: bool = True,
    read_aliases: dict | None = None,
    _emit_positions: bool = False,
    _only_groups: list | None = None,
) -> DataFrame:
    """Decode a run's stripes. Skips the blob shuffle when the file
    layout proves co-location (the common case: encode tasks write one
    file each); falls back to an explicit repartition otherwise.

    Driver path: a predicated read (or a restricted decode given a
    keep-set list) of a local stripes directory whose metadata fits
    the footer budget (zonemap._driver_plan_budget_ok) starts NO Spark
    job here. The stripe metadata is read with pyarrow and planned by
    zonemap.plan_keep_groups (epoch keep, zone maps, blooms). When the
    kept groups hold at most _DRIVER_DECODE_MAX_ROWS rows and
    _DRIVER_DECODE_MAX_BYTES decoded bytes (the ledger's ``bytes_in``
    of the wanted columns), their blobs are decoded on the driver by
    the same decode_mod.decode_batches the decode task runs, and
    returned as ``spark.createDataFrame(table, schema)``: the caller's
    action is the read's only job. Larger keep-sets decode as Spark
    tasks behind literal group filters. Iceberg tables, runs over the
    budget and unpredicated scans plan with Spark jobs (key pin,
    fused metadata job or epoch keep-map) and decode as tasks.

    ``as_of_epoch`` — time travel: decode the table as it stood after
    encode wave ``k`` (Iceberg snapshot-read semantics over the resume
    lineage; ≙ the reference's state history,
    /root/reference/internal/state/history.go). Stripes from later
    resume epochs are invisible; each partition decodes from its
    newest epoch ≤ k whose requested columns are complete. Partitions
    with NO complete epoch ≤ k were still failed at that point in
    history and are absent from the result — the table as a reader
    would have seen it then. Exception, mirroring the plain decode of
    a faulted never-resumed table: when the capped view has only epoch
    0, the completeness short-circuit keeps partially-completed groups
    and decode fails LOUDLY on them rather than silently dropping the
    partition (the engine's exact-or-loud rule).

    ``apply_deletes`` (default True) — merge-on-read: row positions
    marked by :func:`delete_rows` are masked inside the decode task
    (delete vectors broadcast-joined onto the stripe metadata; Iceberg
    v2 position-delete semantics). False reads the undeleted view.

    ``as_of_tag`` — a named snapshot ref (lineage.write_tag; ≙ Iceberg
    tags) resolving to its pinned epoch; unknown names raise.

    ``_emit_positions`` (internal, delete_rows' scanner) appends the
    decode_stage POSITION_COLS provenance columns.

    ``predicate`` — zonemap conjuncts ((col, op, value), ...): stripe
    groups whose min/max provably cannot satisfy it are pruned from
    the metadata scan before any blob is decoded. Pruning is
    conservative; callers still apply
    ``zonemap.predicate_expr(predicate)`` to the decoded rows.

    ``allow_missing_columns=True`` null-fills requested columns that
    have no stripes in the run (schema evolution: a column added to
    the table after this run was encoded — Iceberg add-column read
    semantics). Default False: a missing column is a hard error, as
    silently reading nulls for a misspelled name would be worse.

    ``read_aliases`` — rename-on-read ({new_name: stored_name}):
    decode stored columns under the current table names, predicates
    and defaults included (Iceberg rename semantics, by explicit map
    since stripes are keyed by name rather than field id).
    """
    if read_aliases:
        # Rename-on-read (Iceberg rename semantics by mapping, since
        # this layout keys stripes by name, not field id): decode
        # under the STORED names, then alias to the requested ones.
        # Predicates arrive in requested names and map down too.
        from pyspark.sql.types import StructField, StructType

        req_cols = columns or [f.name for f in result_schema.fields]
        stored = {c: read_aliases.get(c, c) for c in req_cols}
        if len(set(stored.values())) != len(stored):
            raise ValueError(f"read_aliases collide: {read_aliases}")
        by_name = {f.name: f for f in result_schema.fields}
        storage_schema = StructType(
            [
                StructField(
                    stored.get(f.name, f.name), f.dataType, f.nullable
                )
                for f in result_schema.fields
            ]
        )
        inner = decode_job(
            spark, out_dir, run_id, storage_schema,
            columns=[stored[c] for c in req_cols],
            predicate=(
                [(stored.get(c, c), op, v) for c, op, v in predicate]
                if predicate else None
            ),
            allow_missing_columns=allow_missing_columns,
            missing_defaults=(
                {stored.get(c, c): v for c, v in missing_defaults.items()}
                if missing_defaults else None
            ),
            verify_checksums=verify_checksums,
            as_of_epoch=as_of_epoch, as_of_tag=as_of_tag,
            apply_deletes=apply_deletes,
            _emit_positions=_emit_positions, _only_groups=_only_groups,
        )
        return inner.select(
            *[F.col(stored[c]).alias(c) for c in req_cols]
        )
    if columns is not None:
        # Project result_schema onto the requested columns IN THEIR
        # REQUESTED ORDER — decode_stage emits batches in `columns`
        # order and declares this schema to mapInArrow, so a caller
        # passing a full schema with a reordered subset would
        # otherwise misalign batch columns against declared types
        # (Spark reads a string vector through a bigint accessor and
        # fails with getUTF8String — or worse, silently miscasts).
        from pyspark.sql.types import StructType

        by_name = {f.name: f for f in result_schema.fields}
        unknown = [c for c in columns if c not in by_name]
        if unknown:
            raise ValueError(
                f"requested column(s) {unknown} not in result_schema"
            )
        result_schema = StructType([by_name[c] for c in columns])
    want = set(columns or [f.name for f in result_schema.fields])
    if as_of_tag is not None:
        if as_of_epoch is not None:
            raise ValueError("pass as_of_epoch OR as_of_tag, not both")
        as_of_epoch = lineage_mod.resolve_tag(out_dir, run_id, as_of_tag)
    out_schema = result_schema
    if _emit_positions:
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            list(result_schema.fields)
            + [
                StructField(p, LongType(), False)
                for p in decode_mod.POSITION_COLS
            ]
        )
    # temporal keep-pins from the caller's schema: lower-bounded
    # timestamp scans ("since date X") prune only when the stat unit is
    # known (zonemap._pin_keep_cands)
    session_tz = spark.conf.get("spark.sql.session.timeZone") if predicate else None
    pins = _temporal_pins(result_schema, predicate, session_tz) if predicate else None
    spec_args = dict(
        missing_defaults=missing_defaults,
        verify_checksums=verify_checksums,
        # row-level residual inside the decode (conservative); callers'
        # zonemap.predicate_expr stays the exactness gate
        residual=predicate,
        emit_positions=_emit_positions,
        session_tz=session_tz,
    )
    sdir = lineage_mod.stripes_dir(out_dir)
    driver_plannable = (
        isinstance(_only_groups, list)
        or (predicate and _only_groups is None)
    )
    if driver_plannable and not storage.is_iceberg(sdir):
        from . import retention

        retention.recover_swap(sdir)  # as read_stripes: restore first
        if zonemap._driver_plan_budget_ok(sdir):
            return _driver_planned_read(
                spark, out_dir, run_id, out_schema, columns, want,
                predicate, pins, as_of_epoch, allow_missing_columns,
                apply_deletes, _only_groups, spec_args,
            )
    all_stripes = _capped_stripes(spark, out_dir, run_id, as_of_epoch)
    fill: list[str] = []
    if allow_missing_columns:
        present = {
            r.column
            for r in all_stripes.select("column").distinct().collect()
        }
        fill = sorted(want - present)
        want = want & present
        if not want:  # nothing encoded to anchor row counts on
            return spark.createDataFrame([], result_schema)
    if predicate:
        # nested-column conjuncts ("meta.status") prune via the
        # per-descendant stats rows encode emits
        nested = sorted({c for c, _, _ in predicate if "." in c})
        if nested:
            _check_nested_stats(
                nested,
                {
                    r.column
                    for r in all_stripes.select("column")
                    .filter(F.col("column").isin(nested))
                    .distinct()
                    .collect()
                },
                run_id,
            )
        # key-equality fast path: an ==/IN conjunct on the run's
        # PARTITION KEY pins the partition id arithmetically, so even
        # the metadata scan reads 1/n of the stripes table
        key_pids = _key_partition_restriction(
            spark, out_dir, run_id, result_schema, predicate
        )
        if key_pids is not None:
            all_stripes = all_stripes.filter(
                F.col("partition_id").isin(key_pids)
            )
        # ONE distributed metadata job for epoch keep-map + zone/bloom
        # keep-set (point lookups pay 2 driver actions total, not 4)
        stripes = zonemap.fused_prune(all_stripes, want, predicate, pins=pins)
        if stripes is None:  # keep-set too large for literal pushdown
            stripes = zonemap.prune_stripes(
                _epoch_keep_filter(spark, all_stripes, want), predicate,
                pins=pins,
            )
    elif _only_groups is not None and as_of_epoch is None:
        # the caller's keep-set carries exact (partition, EPOCH,
        # stripe) keys computed over epoch-filtered metadata — the
        # epoch keep-map action here would be pure redundant fixed
        # cost (metadata_count/sum/group's restricted decodes)
        stripes = all_stripes.filter(F.col("status") == "completed")
    else:
        stripes = _epoch_keep_filter(spark, all_stripes, want)
    if _only_groups is not None:
        # internal (metadata_count's mixed-stripe decode): restrict to
        # an explicit (partition_id, epoch, stripe_idx) keep-set; a
        # DataFrame keep-set (too large to collect) semi-joins
        if isinstance(_only_groups, DataFrame):
            stripes = stripes.join(
                _only_groups.select("partition_id", "epoch", "stripe_idx"),
                ["partition_id", "epoch", "stripe_idx"],
                "left_semi",
            )
        else:
            stripes = zonemap.restrict_groups(stripes, _only_groups)
    eq_dels: list = []
    if apply_deletes:
        eq_dels = deletes_mod.read_eq_deletes(out_dir, run_id)
        if eq_dels:
            _check_eq_delete_columns(
                eq_dels,
                {
                    r.column
                    for r in all_stripes.select("column").distinct().collect()
                },
                run_id,
            )
    return _task_decode(
        spark, out_dir, run_id, stripes, out_schema, columns, fill, eq_dels,
        apply_deletes, spec_args,
    )


# Driver-side decode gate (decode_job): a planned keep-set at most this
# large decodes on the driver and is handed back as a local DataFrame;
# a larger one runs the decode as Spark tasks. Set from the measured
# crossover of the two paths (see CHANGES.md).
_DRIVER_DECODE_MAX_ROWS = 65_536
_DRIVER_DECODE_MAX_BYTES = 16 << 20


def _check_nested_stats(nested: list, present: set, run_id: str) -> None:
    """A run encoded WITHOUT per-descendant stats rows would silently
    prune every group on a nested conjunct (a group with no row for a
    conjunct's column never survives) — hard-error instead, mirroring
    metadata_aggregate's exact-or-loud rule."""
    missing = [c for c in nested if c not in present]
    if missing:
        raise ValueError(
            f"no nested stats rows for predicate column(s) "
            f"{missing} in run {run_id!r} — the run predates "
            "nested-column statistics; decode without the "
            "predicate and filter the result instead"
        )


def _check_eq_delete_columns(eq_dels: list, present: set, run_id: str) -> None:
    bad = [c for c, _ in eq_dels if c not in present]
    if bad:
        raise ValueError(
            f"equality delete(s) on column(s) {bad} not encoded "
            f"in run {run_id!r} — cannot apply; decode with "
            "apply_deletes=False to read the raw table"
        )


def _task_decode(
    spark, out_dir, run_id, stripes, out_schema, columns, fill, eq_dels,
    apply_deletes, spec_args,
) -> DataFrame:
    """The decode as Spark tasks over the kept stripe rows. Delete
    vectors ride a broadcast metadata join: one ``_delete_vecs``
    array<binary> per stripe group that has delete files."""
    if apply_deletes:
        dels = deletes_mod.read_delete_vectors(spark, out_dir, run_id)
        if dels is not None:
            stripes = stripes.join(
                F.broadcast(deletes_mod.grouped_delete_vecs(dels)),
                ["partition_id", "epoch", "stripe_idx"],
                "left",
            )
    return decode_mod.decode_stage(
        stripes, out_schema, columns,
        _stripe_files_fit_one_task_each(spark, out_dir),
        fill_missing=fill or None, eq_deletes=eq_dels or None, **spec_args,
    )


def _stripes_dataset(out_dir: str):
    """The stripes directory as a pyarrow dataset under the Arrow form
    of STRIPE_SCHEMA: older files null-fill the columns they lack,
    exactly as the explicit-schema Spark read does."""
    import pyarrow.dataset as ds

    return ds.dataset(
        lineage_mod.stripes_dir(out_dir), format="parquet",
        schema=encode_mod._STRIPE_PA_SCHEMA,
    )


def _driver_planned_read(
    spark, out_dir, run_id, out_schema, columns, want, predicate, pins,
    as_of_epoch, allow_missing_columns, apply_deletes, only_groups,
    spec_args,
) -> DataFrame:
    """decode_job for a local stripes dir whose metadata fits the
    footer budget: plan with pyarrow on the driver (no Spark job, no
    key-pin probe — zone maps plus blooms over every group cost
    milliseconds here), then decode the kept groups on the driver
    when they are within the _DRIVER_DECODE_MAX_* gate, handing them
    back as a local DataFrame; larger keep-sets decode as Spark tasks
    behind literal group filters."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    dset = _stripes_dataset(out_dir)
    filt = ds.field("run_id") == run_id
    if as_of_epoch is not None:
        filt &= ds.field("epoch") <= int(as_of_epoch)
    meta = dset.to_table(
        columns=[*zonemap.PLAN_COLUMNS, "bytes_in"], filter=filt
    )
    present = set(pc.unique(meta["column"]).to_pylist())
    fill: list[str] = []
    if allow_missing_columns:
        fill = sorted(want - present)
        want = want & present
        if not want:  # nothing encoded to anchor row counts on
            return spark.createDataFrame([], out_schema)
    nested = sorted({c for c, _, _ in predicate or () if "." in c})
    if nested:
        _check_nested_stats(nested, present, run_id)
    eq_dels: list = []
    if apply_deletes:
        eq_dels = deletes_mod.read_eq_deletes(out_dir, run_id)
        _check_eq_delete_columns(eq_dels, present, run_id)
    only = None if only_groups is None else {
        (int(p), int(e), int(s)) for p, e, s in only_groups
    }
    if only is not None and not predicate and as_of_epoch is None:
        keys = sorted(only)  # exact keys over epoch-filtered metadata
    else:
        keys = zonemap.plan_keep_groups(
            meta, want, predicate or [], pins,
            max_groups=zonemap._PUSHDOWN_MAX_GROUPS if predicate else None,
        )
        if keys is not None and only is not None:
            keys = sorted(set(keys) & only)
    spec = decode_mod.DecodeSpec.build(
        out_schema, columns, fill or None, eq_deletes=eq_dels or None,
        **spec_args,
    )
    if keys is not None:
        gkeys = pa.array([f"{p}:{e}:{s}" for p, e, s in keys], pa.string())
        n_rows, n_bytes = _decoded_size(meta, gkeys, spec.want)
        if (
            n_rows <= _DRIVER_DECODE_MAX_ROWS
            and n_bytes <= _DRIVER_DECODE_MAX_BYTES
        ):
            return spark.createDataFrame(
                _driver_decode(
                    dset, out_dir, run_id, keys, gkeys, spec, out_schema,
                    apply_deletes,
                ),
                out_schema,
            )
    stripes = _capped_stripes(spark, out_dir, run_id, as_of_epoch)
    if keys is not None:
        stripes = zonemap.restrict_groups(
            stripes.filter(F.col("status") == "completed"), keys
        )
    else:  # keep-set too large for literal pushdown
        stripes = zonemap.prune_stripes(
            _epoch_keep_filter(spark, stripes, want), predicate, pins=pins
        )
        if only is not None:
            stripes = zonemap.restrict_groups(stripes, sorted(only))
    return _task_decode(
        spark, out_dir, run_id, stripes, out_schema, columns, fill, eq_dels,
        apply_deletes, spec_args,
    )


def _decoded_size(meta, gkeys, want) -> tuple[int, int]:
    """(rows, decoded bytes) of the kept groups: the stripe ledger's
    n_rows per group and bytes_in of the wanted columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    kept = meta.filter(
        pc.and_(
            pc.and_(
                pc.is_in(zonemap.group_key_strings(meta), value_set=gkeys),
                pc.equal(meta["status"], "completed"),
            ),
            pc.is_in(meta["column"], value_set=pa.array(sorted(want))),
        )
    )
    per_group = kept.group_by(["partition_id", "epoch", "stripe_idx"]).aggregate(
        [("n_rows", "max")]
    )
    return (
        pc.sum(per_group["n_rows_max"]).as_py() or 0,
        pc.sum(kept["bytes_in"]).as_py() or 0,
    )


def _capped_stripes(spark, out_dir, run_id, as_of_epoch) -> DataFrame:
    """The run's stripes as of epoch ``as_of_epoch``: the cap flows
    through every epoch-selection path, so "newest complete epoch"
    means "≤ k"."""
    s = read_stripes(spark, out_dir, run_id)
    if as_of_epoch is not None:
        s = s.filter(F.col("epoch") <= int(as_of_epoch))
    return s


def _driver_decode(
    dset, out_dir, run_id, keys, gkeys, spec, out_schema, apply_deletes
):
    """Read only the kept groups' blobs (a pyarrow filter on
    partition_id and column, then the exact group-key match) and run
    decode_batches over them on the driver. Returns an Arrow table."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    blobs = dset.to_table(
        columns=["partition_id", "epoch", "stripe_idx", "column", "data", "checksum"],
        filter=(ds.field("run_id") == run_id)
        & (ds.field("status") == "completed")
        & ds.field("partition_id").isin(sorted({p for p, _, _ in keys}))
        & ds.field("column").isin(sorted(spec.want)),
    )
    blobs = blobs.filter(
        pc.is_in(zonemap.group_key_strings(blobs), value_set=gkeys)
    )
    vecs = deletes_mod.delete_vecs_by_group(out_dir, run_id) if apply_deletes else None
    if vecs:
        blobs = blobs.append_column(
            "_delete_vecs",
            pa.array(
                [
                    vecs.get(k)
                    for k in zip(
                        *(blobs[c].to_pylist() for c in ("partition_id", "epoch", "stripe_idx"))
                    )
                ],
                pa.list_(pa.binary()),
            ),
        )
    # createDataFrame's Arrow stream ends at the first empty batch, so a
    # group the row filter emptied would drop every row after it
    batches = [
        b
        for b in decode_mod.decode_batches(blobs.to_batches(), spec)
        if b.num_rows
    ]
    if not batches:
        return to_arrow_schema(out_schema).empty_table()
    return pa.Table.from_batches(batches).combine_chunks()


def incremental_read(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    from_epoch: int,
    to_epoch: int,
    columns: list[str] | None = None,
) -> DataFrame:
    """Iceberg incremental-read semantics over one run's epoch history:
    the rows that BECAME VISIBLE after the as-of-``from_epoch``
    snapshot, up to and including ``to_epoch`` (resume waves completing
    previously-failed partitions; Iceberg: "incremental scan over
    append snapshots"; ≙ the reference's run-history deltas,
    /root/reference/internal/state/history.go).

    Cost model — the point at 100 TB: ONE stripe-metadata aggregation
    (the same bounded partition×epoch shape as _epoch_keep_filter)
    classifies every partition; a partition whose newest complete
    epoch is the same under both caps cannot contribute and is never
    read. Partitions that appear only under the ``to`` cap are pure
    appends and decode ONCE (no diffing). A partition whose kept epoch
    CHANGED between the caps (not producible by today's write paths,
    which only add partitions within a run — kept for forward
    compatibility with in-run overwrite) decodes at both caps and
    contributes the multiset difference.

    Position/equality deletes carry no commit epoch in this store
    (they mask stripes retroactively, Iceberg-v2 style), so both
    snapshots read deletes-applied state: a delete issued between the
    caps cancels out of the delta rather than surfacing as an event —
    compact first (a new run at a fresh epoch 0) to fold deletes into
    lineage this scan can see.
    """
    inserts, _deletes = _window_changes(
        spark, out_dir, run_id, result_schema, from_epoch, to_epoch,
        columns,
    )
    return inserts


def _window_changes(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    from_epoch: int,
    to_epoch: int,
    columns: list[str] | None,
) -> tuple[DataFrame, DataFrame]:
    """(inserts, deletes) of the epoch window — shared engine of
    incremental_read (inserts only) and changelog_read (both). See
    incremental_read's docstring for the cost model; the delete side
    costs nothing extra in the common all-append case (the replaced
    set is empty, so no second decode happens)."""
    if to_epoch < from_epoch:
        raise ValueError("to_epoch must be >= from_epoch")
    want = set(columns or [f.name for f in result_schema.fields])
    meta = (
        read_stripes(spark, out_dir, run_id)
        .drop("data")
        .filter(
            (F.col("status") == "completed")
            & F.col("column").isin(list(want))
            & (F.col("epoch") <= int(to_epoch))
        )
    )
    # bounded driver collect: one row per partition x epoch — metadata
    counts = (
        meta.groupBy("partition_id", "epoch")
        .agg(F.countDistinct("column").alias("nc"))
        .collect()
    )

    def _kept(cap: int) -> dict[int, int]:
        best: dict[int, int] = {}
        for r in counts:
            if int(r.nc) >= len(want) and int(r.epoch) <= cap:
                pid = int(r.partition_id)
                best[pid] = max(best.get(pid, -1), int(r.epoch))
        return best

    kf, kt = _kept(int(from_epoch)), _kept(int(to_epoch))
    appended = sorted(pid for pid in kt if pid not in kf)
    replaced = sorted(pid for pid in kt if pid in kf and kf[pid] != kt[pid])
    cols = sorted(want)

    def _decode_pids(pids: list[int], kept: dict[int, int], cap: int) -> DataFrame:
        pairs = {(p, kept[p]) for p in pids}
        if len(pairs) <= zonemap._PUSHDOWN_MAX_GROUPS:
            rows = (
                meta.filter(
                    F.concat_ws(":", "partition_id", "epoch").isin(
                        [f"{p}:{e}" for p, e in sorted(pairs)]
                    )
                )
                .select("partition_id", "epoch", "stripe_idx")
                .distinct()
                .collect()
            )
            og: object = [
                (int(r.partition_id), int(r.epoch), int(r.stripe_idx))
                for r in rows
            ]
        else:  # huge change set: keep it distributed (no driver collect)
            og = meta.join(
                F.broadcast(
                    spark.createDataFrame(
                        sorted(pairs), "partition_id int, epoch long"
                    )
                ),
                ["partition_id", "epoch"],
                "left_semi",
            ).select("partition_id", "epoch", "stripe_idx").distinct()
        return decode_job(
            spark, out_dir, run_id, result_schema,
            columns=cols, as_of_epoch=cap, _only_groups=og,
        )

    from pyspark.sql.types import StructType

    empty = spark.createDataFrame(
        [], StructType([f for f in result_schema.fields if f.name in want])
    ).select(cols)
    inserts, deletes = empty, empty
    if appended:
        inserts = _decode_pids(appended, kt, int(to_epoch))
    if replaced:
        new_side = _decode_pids(replaced, kt, int(to_epoch))
        old_side = _decode_pids(replaced, kf, int(from_epoch))
        inserts = inserts.unionByName(new_side.exceptAll(old_side))
        deletes = old_side.exceptAll(new_side)
    return inserts, deletes


def changelog_read(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    from_epoch: int,
    to_epoch: int,
    columns: list[str] | None = None,
) -> DataFrame:
    """CDC view of the epoch window — ``incremental_read``'s rows with
    an explicit ``_change_type`` column (Iceberg
    ``create_changelog_view`` / Delta CDF shape), so a downstream
    incremental consumer (feature refresh, index update) can apply the
    window as a changeset rather than re-deriving it.

    Same cost model as incremental_read (one metadata aggregation;
    appends decode once). Today's write paths only produce 'insert'
    rows (resume waves add partitions); a replaced partition (forward
    compat) would contribute 'delete' rows for its old image and
    'insert' rows for the new. Epoch-less v2 deletes cancel out of the
    window, as documented on incremental_read — compact first to
    surface them.
    """
    inserts, deletes = _window_changes(
        spark, out_dir, run_id, result_schema, from_epoch, to_epoch,
        columns,
    )
    return inserts.withColumn(
        "_change_type", F.lit("insert")
    ).unionByName(deletes.withColumn("_change_type", F.lit("delete")))


def delete_rows(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    predicate: list[tuple],
) -> int:
    """Mark every row matching ``predicate`` as deleted WITHOUT
    rewriting any stripe — Iceberg v2 position deletes over the stripe
    store (merge-on-read; ≙ the reference's non-destructive state
    edits, history kept until an explicit rewrite).

    The scanner is the ordinary predicated decode (zone/bloom pruning
    included), reading ONLY the predicate's columns plus provenance;
    matched row coordinates are packed into per-stripe bitmaps and
    APPENDED to ``<out_dir>/deletes``. Exactness: the scanner applies
    ``zonemap.predicate_expr`` (the same filter decode callers use),
    so exactly the SQL-WHERE rows are marked. Existing deletes are
    honored during the scan, so re-running a delete marks nothing new
    (idempotent up to duplicate vectors, which readers OR away).

    Returns the number of row positions marked by THIS call.

    Compaction (:func:`compact_run`) decodes the deletes-applied view
    and re-encodes, naturally dropping the delete files' relevance —
    vacuum the old run afterwards as usual.

    Scope note (Iceberg position-delete semantics): the scan covers
    rows READABLE NOW. A partition still failed (unreadable) at delete
    time materializes later at a resume epoch and is NOT covered —
    re-run the delete after the resume (idempotent: already-marked
    rows mark nothing new).
    """
    pcols = sorted({c.partition(".")[0] for c, _, _ in predicate})
    from pyspark.sql.types import StructType

    sub_schema = StructType(
        [f for f in result_schema.fields if f.name in pcols]
    )
    if len(sub_schema.fields) != len(pcols):
        missing = set(pcols) - {f.name for f in sub_schema.fields}
        raise ValueError(
            f"predicate column(s) {sorted(missing)} not in result_schema"
        )
    dec = decode_job(
        spark, out_dir, run_id, sub_schema,
        columns=pcols, predicate=predicate,
        _emit_positions=True,
    )
    hits = dec.filter(zonemap.predicate_expr(predicate)).select(
        *decode_mod.POSITION_COLS
    )
    return deletes_mod.write_delete_vectors(spark, hits, out_dir, run_id)


def read_runs(
    spark: SparkSession,
    out_dir: str,
    run_ids: list[str],
    result_schema,
    columns: list[str] | None = None,
    predicate: list[tuple] | None = None,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """One logical table from several runs of the same store — the
    append workflow (each crawl snapshot encoded as its own run_id,
    read together; ≙ Iceberg reading a table across appended
    snapshots' data files). Every run keeps its own epoch selection,
    pruning, and delete vectors; the union is a plan-level unionByName
    (no shuffle — Spark concatenates the scans).

    ``allow_missing_columns=True`` lets earlier runs predate added
    columns (null-filled), i.e. schema evolution across snapshots.
    """
    if not run_ids:
        raise ValueError("read_runs needs at least one run_id")
    parts = [
        decode_job(
            spark, out_dir, rid, result_schema,
            columns=columns, predicate=predicate,
            allow_missing_columns=allow_missing_columns,
        )
        for rid in run_ids
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def metadata_ndv(
    spark: SparkSession, out_dir: str, run_id: str, columns: list[str]
) -> DataFrame:
    """Approximate COUNT(DISTINCT) per column answered ENTIRELY from
    the per-stripe HyperLogLog sketches — zero data bytes read (the
    Iceberg ndv column-stat analogue). ~1.6% standard error (P=12).

    Exact-or-loud discipline, adapted to an approximate answer: any
    kept stripe WITHOUT a sketch (pre-upgrade rows, float columns)
    raises instead of under-counting, and live deletes raise because
    sketches describe the encoded rows. The merge is distributed
    (two-level applyInPandas over the blob-free metadata scan): no
    driver collect at any table size.

    Returns (column, ndv_estimate double).
    """
    meta = _ndv_kept_meta(spark, out_dir, run_id, set(columns))
    from . import ndv as ndv_mod

    merged = ndv_mod.merged_ndv(meta).collect()  # one row per column
    est = {r.column: r.ndv_sketch for r in merged}
    rows = []
    for c in sorted(set(columns)):
        blob = est.get(c)
        if blob is None:
            raise ValueError(f"column {c!r}: no stripes in run {run_id!r}")
        rows.append((c, float(ndv_mod.estimate(blob))))
    return spark.createDataFrame(
        rows, "column string, ndv_estimate double"
    )


def _ndv_kept_meta(
    spark: SparkSession, out_dir: str, run_id: str, want: set[str]
):
    """Blob-free kept-stripe metadata for sketch NDV, with the
    exact-or-loud guards: live deletes raise (sketches describe the
    encoded rows) and any kept stripe without a sketch raises rather
    than under-count."""
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — sketch NDV would "
            "count deleted rows; compact the run first"
        )
    stripes = read_stripes(spark, out_dir, run_id)
    meta = _epoch_keep_filter(spark, stripes, want).drop("data").filter(
        F.col("column").isin(list(want))
    )
    missing_sketch = (
        meta.filter(F.col("ndv").isNull() & (F.col("n_rows") > 0))
        .groupBy("column")
        .count()
        .collect()
    )
    if missing_sketch:
        bad = sorted(r.column for r in missing_sketch)
        raise ValueError(
            f"column(s) {bad} have unsketched stripes (float/decimal "
            "or pre-upgrade rows) — NDV from metadata would be wrong; "
            "decode and COUNT(DISTINCT) instead"
        )
    return meta


def metadata_union_ndv(
    spark: SparkSession,
    out_dir: str,
    run_ids: list[str],
    columns: list[str],
) -> DataFrame:
    """Approximate COUNT(DISTINCT) per column across SEVERAL runs,
    answered entirely from sketch union — zero data bytes read.

    This is the mergeability contract that makes sketch column stats
    worth persisting (the Iceberg Puffin idea): HyperLogLog registers
    merge by element-wise max across ANY partitioning of the data, so
    'distinct users across the whole year of snapshots' costs a tiny
    metadata fold instead of a 100 TB shuffle, and the answer is the
    same sketch estimate a single pass over the union would produce.
    Per-run guards are identical to :func:`metadata_ndv` (live deletes
    and unsketched stripes raise loudly, per run).

    Returns (column, ndv_estimate double).
    """
    if not run_ids:
        raise ValueError("metadata_union_ndv needs at least one run")
    want = set(columns)
    metas = [_ndv_kept_meta(spark, out_dir, r, want) for r in run_ids]
    meta = metas[0]
    for m in metas[1:]:
        meta = meta.unionByName(m)
    from . import ndv as ndv_mod

    merged = ndv_mod.merged_ndv(meta).collect()  # one row per column
    est = {r.column: r.ndv_sketch for r in merged}
    rows = []
    for c in sorted(want):
        blob = est.get(c)
        if blob is None:
            raise ValueError(
                f"column {c!r}: no stripes in runs {run_ids!r}"
            )
        rows.append((c, float(ndv_mod.estimate(blob))))
    return spark.createDataFrame(
        rows, "column string, ndv_estimate double"
    )


def delete_rows_eq(
    spark: SparkSession, out_dir: str, run_id: str, column: str, values
) -> int:
    """O(1) equality delete: append value-level delete rows (Iceberg
    v2 equality-delete files) — NOTHING is scanned now; decode masks
    `column IN values` at read time, decoding the column internally
    even when projected away. The right call for key-based retraction
    at 100 TB (GDPR by id, URL recall), where a position scan first
    would dwarf the delete. Returns the number of values recorded."""
    return deletes_mod.write_eq_deletes(
        spark, out_dir, run_id, column, values
    )


def upsert_rows(
    spark: SparkSession,
    df_updates: DataFrame,
    cfg: EncodeJobConfig,
    key: str | None = None,
) -> dict:
    """MERGE INTO, merge-on-read (Iceberg v2 upsert = one commit of an
    equality-DELETE file per existing data sequence + an appended data
    file; ≙ the reference's idempotent state overwrite on re-dispatch,
    state.go upsert-by-key): every row of ``df_updates`` REPLACES the
    row with the same ``key`` anywhere in the store, or is inserted if
    the key is new. Nothing is scanned and nothing is rewritten — cost
    is O(update batch), not O(table):

    1. the batch is encoded as a NEW run (``cfg.run_id``) via the
       ordinary resumable pipeline (one salted exchange, stripes +
       lineage + zone/bloom stats);
    2. the batch's keys are appended as equality deletes to EVERY
       pre-existing run, masking superseded versions at read time.

    Readers see the merged table through :func:`read_runs` over all
    runs. Encode-before-delete ordering makes a crash window show
    duplicate versions (old + new), never lost rows; re-running the
    same upsert resumes the append and re-appends the (idempotent,
    OR-combined) delete values.

    MERGE preconditions, checked loudly in one aggregate pass: source
    keys must be non-null and unique (Iceberg raises on multiple
    matches too), and the distinct-key set must fit the equality-
    delete bound (deletes.EQ_COLLECT_MAX = 64k per run) — above it,
    per-key masking is the wrong tool; compact the union instead.

    Returns {"run_id", "n_keys", "n_inserted_rows", "runs_masked"}.
    """
    from . import retention as retention_mod

    key = key or cfg.key
    if key not in df_updates.columns:
        raise ValueError(f"key column {key!r} not in the update batch")
    out_dir = cfg.out_dir
    existing = retention_mod.list_runs(spark, out_dir)
    if cfg.run_id in existing:
        raise ValueError(
            f"run_id {cfg.run_id!r} already exists in {out_dir!r} — an "
            "upsert appends a NEW run (pick a fresh id; to resume a "
            "half-finished upsert, re-run with the SAME update batch)"
        )
    tot, nonnull, dk = df_updates.agg(
        F.count(F.lit(1)), F.count(key), F.countDistinct(key)
    ).first()
    if tot != nonnull:
        raise ValueError(
            f"{tot - nonnull} update row(s) carry a NULL {key!r} — "
            "equality deletes never match null; merge keys must be "
            "non-null"
        )
    if nonnull != dk:
        raise ValueError(
            f"update batch has duplicate keys ({nonnull} rows, {dk} "
            f"distinct {key!r}) — a MERGE source must match each "
            "target row at most once"
        )
    cap = deletes_mod.EQ_COLLECT_MAX
    if dk > cap:
        raise ValueError(
            f"update batch carries {dk} distinct keys — above the "
            f"equality-delete bound ({cap}); per-key masking is the "
            "wrong tool at that size: encode the batch as its own run "
            "and compact the union instead"
        )
    keys = [r[0] for r in df_updates.select(key).distinct().collect()]
    run_encode_job(spark, df_updates, cfg)
    for rid in existing:
        deletes_mod.write_eq_deletes(spark, out_dir, rid, key, keys)
    return {
        "run_id": cfg.run_id,
        "n_keys": int(dk),
        "n_inserted_rows": int(tot),
        "runs_masked": existing,
    }


def decode_job_dnf(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    branches: list,
    columns: list[str] | None = None,
) -> DataFrame:
    """Predicated decode for a DISJUNCTION of conjunct lists — the
    DNF completion of decode_job's AND-only predicate: ``WHERE
    (a AND b) OR (c AND d)`` prunes at the stripe level as the UNION
    of each branch's zone-map keep-set (sound by construction: a
    stripe pruned by EVERY branch can satisfy no branch), then decodes
    each surviving group exactly once. Callers apply
    ``zonemap.predicate_dnf_expr(branches)`` to the decoded rows, the
    same conservative-residual contract as the conjunctive path.

    Scale shape: one blob-free metadata scan evaluates all branches
    (prune_stripes per branch over the same epoch-kept view — Spark
    caches nothing here because the metadata is tiny relative to
    data); the union keep-set routes through decode_job's _only_groups
    literal/semi-join pushdown, so small unions still become
    `partition_id isin` filters at the parquet scan.
    """
    if not branches or not all(branches):
        raise ValueError("DNF predicate needs >= 1 non-empty branch")
    want_tops = {
        c.partition(".")[0]
        for c in (columns or [f.name for f in result_schema.fields])
    }
    pcols = {
        c.partition(".")[0] for br in branches for c, _, _ in br
    }
    all_stripes = read_stripes(spark, out_dir, run_id)
    # key-equality fast path across the disjunction: only when EVERY
    # branch pins the partition key does the union of per-branch pid
    # sets bound the rows a branch can match (one unpinned branch can
    # match anywhere, so it voids the restriction)
    branch_pids: set[int] | None = set()
    for br in branches:
        pids = _key_partition_restriction(
            spark, out_dir, run_id, result_schema, br
        )
        if pids is None:
            branch_pids = None
            break
        branch_pids |= set(pids)
    if branch_pids is not None:
        all_stripes = all_stripes.filter(
            F.col("partition_id").isin(sorted(branch_pids))
        )
    meta = _epoch_keep_filter(
        spark, all_stripes, want_tops | pcols
    ).drop("data")
    keep = None
    for br in branches:
        g = zonemap.prune_stripes(
            meta, br, pins=_temporal_pins(
                result_schema, br, spark.conf.get("spark.sql.session.timeZone")
            ),
        ).select("partition_id", "epoch", "stripe_idx").distinct()
        keep = g if keep is None else keep.unionByName(g)
    keep = keep.distinct()
    rows = keep.limit(zonemap._PUSHDOWN_MAX_GROUPS + 1).collect()
    only: object
    if len(rows) <= zonemap._PUSHDOWN_MAX_GROUPS:
        only = [(r.partition_id, r.epoch, r.stripe_idx) for r in rows]
    else:
        only = keep
    return decode_job(
        spark, out_dir, run_id, result_schema, columns=columns,
        _only_groups=only,
    )


def metadata_aggregate(
    spark: SparkSession, out_dir: str, run_id: str, columns: list[str]
) -> DataFrame:
    """MIN / MAX / COUNT / null count per column answered ENTIRELY from
    the stripes table's zone statistics — zero data bytes read (the
    Iceberg `system.partitions` / parquet footer-aggregate analogue;
    Spark itself does this for parquet via
    spark.sql.parquet.aggregatePushdown).

    Exactness is guaranteed, never approximated: per-stripe min/max are
    exact for the stripe, so their min/max across the kept epoch is the
    table's; a column where ANY kept stripe holds data rows without
    family stats (NaN-poisoned floats, exotic types) raises ValueError
    instead of returning a wrong bound — decode-and-aggregate is the
    fallback. Epoch selection is the aggregate planner's (:func:`_plan`,
    the same as decode_job's); within the footer budget no Spark job
    runs before the returned DataFrame's own.

    At 100 TB this is the difference between a metadata scan (one row
    per stripe x column) and decoding the table to answer
    `SELECT MIN(ts), MAX(ts), COUNT(*)`.
    """
    want = sorted(set(columns))
    plan = _plan(
        spark, out_dir, run_id, None, [[]], want=want,
        what="metadata-only aggregates",
    )
    rows = plan.meta.filter(
        pc.is_in(
            zonemap.group_key_strings(plan.meta),
            value_set=zonemap.group_key_strings(plan.groups),
        )
    )
    no_stats = pc.and_(
        pc.and_(pc.is_null(rows["min_int"]), pc.is_null(rows["min_num"])),
        pc.is_null(rows["min_str"]),
    )
    rows = rows.append_column(
        "statless",
        pc.cast(pc.and_(
            pc.greater(rows["n_rows"], pc.fill_null(rows["null_count"], 0)), no_stats
        ), pa.int64()),
    ).append_column(
        "countless", pc.cast(pc.is_null(rows["null_count"]), pa.int64())
    ).append_column(
        # stat_exact=False marks WIDENED bounds (decimal128's
        # one-ulp-padded doubles): safe to prune with, wrong to report
        # as the column's min/max. Null (pre-upgrade rows, which never
        # widened) counts as exact.
        "inexact",
        pc.cast(pc.fill_null(pc.invert(rows["stat_exact"]), False), pa.int64()),
    )
    by_col = {
        r["column"]: r
        for r in rows.group_by("column").aggregate([
            ("n_rows", "sum"), ("null_count", "sum"),
            ("min_int", "min"), ("max_int", "max"),
            ("min_num", "min"), ("max_num", "max"),
            ("min_str", "min"), ("max_str", "max"),
            ("statless", "sum"), ("countless", "sum"), ("inexact", "sum"),
        ]).to_pylist()
    }
    missing = sorted(set(want) - set(by_col))
    if missing:
        raise ValueError(f"no stripes for column(s) {missing} in run {run_id!r}")
    out = []
    for c in want:
        r = by_col[c]
        if r["countless_sum"]:
            raise ValueError(
                f"column {c!r}: {r['countless_sum']} stripe(s) lack null counts — "
                "metadata aggregate would be inexact; decode instead"
            )
        if r["statless_sum"]:
            raise ValueError(
                f"column {c!r}: {r['statless_sum']} stripe(s) hold rows without "
                "zone stats (NaN-poisoned / unsupported type) — min/max "
                "from metadata would be wrong; decode instead"
            )
        if r["inexact_sum"]:
            raise ValueError(
                f"column {c!r}: {r['inexact_sum']} stripe(s) carry widened "
                "(pruning-only) bounds — decimal columns have no exact "
                "double min/max; decode-and-aggregate instead"
            )
        out.append((
            c, r["n_rows_sum"], r["null_count_sum"],
            *(r[f"{m}_{f}_{m}"] for f in ("int", "num", "str") for m in ("min", "max")),
        ))
    return spark.createDataFrame(
        out,
        "column string, n_rows bigint, n_nulls bigint, "
        "min_int bigint, max_int bigint, min_num double, max_num double, "
        "min_str string, max_str string",
    )


def _temporal_pins(result_schema, predicate: list[tuple], session_tz: str | None = None) -> dict:
    """col -> "us"/"days" for timestamp/date predicate columns — lets
    the ALL proofs hold under the single true int encoding instead of
    conservatively AND-ing both candidates (zonemap._conjunct_all's
    pin). A TimestampNTZ column under a non-UTC ``session_tz`` pins
    ``"ntz:<zone>"`` instead, nested ones included: its stats are wall
    clocks that Spark compares with a datetime literal as instants in
    that zone (zonemap._resolve_ntz). Other nested (dotted) columns
    stay unpinned (conservative)."""
    from pyspark.sql.types import (
        DateType, TimestampNTZType, TimestampType,
    )

    pins = {}
    for col, _, _ in predicate:
        t = _nested_field_type(result_schema, col)
        if isinstance(t, TimestampNTZType) and session_tz and session_tz not in zonemap._UTC_ZONES:
            pins[col] = zonemap.NTZ_PIN + session_tz
        elif "." in col:
            continue
        elif isinstance(t, (TimestampType, TimestampNTZType)):
            pins[col] = "us"
        elif isinstance(t, DateType):
            pins[col] = "days"
    return pins


def _bloom_relevant(predicate: list[tuple]) -> bool:
    """Whether the in-decode fused prune can add anything beyond the
    caller's own ALL/NONE classification: only equality-shaped
    conjuncts consult bloom bitsets; for pure range/null predicates
    the restricted decode skips its (redundant) metadata job."""
    return any(op in ("==", "=", "in", "contains_token") for _, op, _ in predicate)


def _tops_schema(result_schema, cols):
    """(tops, schema): the sorted top-level parents of ``cols`` (dotted
    names decode their parent struct) and ``result_schema`` cut to
    them in that order — decode_job pairs schema fields with
    ``columns`` positionally."""
    from pyspark.sql.types import StructType

    tops = sorted({c.partition(".")[0] for c in cols})
    by_name = {f.name: f for f in result_schema.fields}
    lost = sorted(set(tops) - set(by_name))
    if lost:
        raise ValueError(f"column(s) {lost} not in result_schema")
    return tops, StructType([by_name[t] for t in tops])


def _restricted_decode(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    cols,
    predicate: list[tuple] | None,
    only,
) -> DataFrame:
    """Decode ONLY the stripe groups in ``only`` as Spark tasks (see
    decode_job(_only_groups); more than zonemap._PUSHDOWN_MAX_GROUPS
    keys semi-join), projecting the top-level parents of ``cols``
    (:func:`_tops_schema`). The in-decode fused prune is engaged only
    when the predicate carries bloom-relevant conjuncts
    (equality/IN/token) — for pure range predicates the caller's
    classifier already did all the zone math."""
    tops, sub = _tops_schema(result_schema, cols)
    return decode_job(
        spark, out_dir, run_id, sub, columns=tops,
        predicate=(
            predicate if predicate and _bloom_relevant(predicate) else None
        ),
        _only_groups=only,
    )


# ------------------------------------------- the aggregate planner

# the stats of a target column an aggregate can name (classify_groups)
_STAT_FIELDS = (
    "n_rows", "null_count", "min_int", "max_int", "min_num", "max_num",
    "min_str", "max_str", "stat_exact", "sum_int", "sum_num", "m2",
)


class _MetaPlan(NamedTuple):
    """The planner's answer (:func:`_plan`). ``groups``: one row per
    selected stripe group (zonemap.classify_groups). ``meta``: the
    completed metadata rows the groups are formed from. ``dset``: the
    stripes dir as a pyarrow dataset when pyarrow read the metadata (a
    local store within the footer budget), which lets the decode tail
    decode on the driver; None when a Spark job collected it."""

    groups: pa.Table
    meta: pa.Table
    dset: object
    out_dir: str
    run_id: str


def _refuse_live_deletes(spark, out_dir: str, run_id: str, what: str) -> None:
    """Zone stats and sketches describe the ENCODED rows; live deletes
    would make a metadata answer include deleted rows — refuse rather
    than guess (compact_run materializes the live view)."""
    d = deletes_mod.delete_stats(spark, out_dir, run_id)
    if d["n_vectors"] or d["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes ({d['n_vectors']} "
            f"vector(s), {d['n_eq_values']} equality value(s)) — {what} "
            "describe the encoded rows; compact the run or decode-and-"
            "aggregate"
        )


def _plan(
    spark, out_dir, run_id, result_schema, branches, targets=None, *,
    want=(), lenient=(), blobs=(), what: str | None = "zone stats",
) -> _MetaPlan:
    """The one planner of the metadata aggregates. ``branches`` is the
    predicate in disjunctive normal form: a conjunction is one branch,
    ``[[]]`` matches every row. In order:

    1. the live-delete check (``what`` names the refused answer; None
       skips it, for the CLI dry run);
    2. the metadata read, of the predicate, ``targets`` and ``want``
       columns. A local store within the footer budget
       (zonemap._driver_plan_budget_ok) is read with pyarrow: no Spark
       job. Iceberg tables and stores over the budget run ONE Spark
       job (:func:`_spark_meta`) that collects those columns'
       blob-free rows: one row per stripe group per needed column,
       without blooms, ``blobs`` adding sketch fields to the target
       rows;
    3. zonemap.classify_groups: epoch selection over the top-level
       parents of those columns, ALL/NONE/MIXED per group OR-ed across
       branches, and each target's stats (``targets`` maps role ->
       column; fields come back as ``{role}_{field}``);
    4. the loud missing-column errors: a predicate column, or a target
       whose role is not in ``lenient``, with no stats row raises.
    """
    if what is not None:
        _refuse_live_deletes(spark, out_dir, run_id, what)
    targets = targets or {}
    conjuncts = [c for br in branches for c in br]
    pcols = {c for c, _, _ in conjuncts}
    need = pcols | set(targets.values()) | set(want)
    tops = {c.partition(".")[0] for c in need}
    pins = _temporal_pins(
        result_schema, conjuncts, spark.conf.get("spark.sql.session.timeZone")
    )
    fields = [*_STAT_FIELDS, *blobs] if targets else []
    bloom = any(_bloom_relevant(br) for br in branches)
    cols = list(dict.fromkeys([
        *(c for c in zonemap.PLAN_COLUMNS if c != "bloom" or bloom),
        "bytes_in", "stat_exact", *fields,
    ]))
    sdir = lineage_mod.stripes_dir(out_dir)
    dset = None
    if not storage.is_iceberg(sdir):
        from . import retention

        retention.recover_swap(sdir)  # as read_stripes: restore first
        if zonemap._driver_plan_budget_ok(sdir):
            dset = _stripes_dataset(out_dir)
    if dset is not None:
        import pyarrow.dataset as ds

        meta = dset.to_table(columns=cols, filter=ds.field("run_id") == run_id)
    else:
        meta = _spark_meta(
            spark, out_dir, run_id, result_schema, branches, need | tops, cols,
            set(targets.values()), blobs,
        )
    groups, meta, present = zonemap.classify_groups(
        meta, tops, branches, pins, targets, fields, extra=need
    )
    missing = sorted(
        (pcols | {c for r, c in targets.items() if r not in lenient}) - present
    )
    if missing:
        raise ValueError(
            f"no stats rows for column(s) {missing} in run {run_id!r} — "
            "decode-and-aggregate instead"
        )
    return _MetaPlan(groups, meta, dset, out_dir, run_id)


def _spark_meta(spark, out_dir, run_id, result_schema, branches, columns, cols, targets, blobs):
    """:func:`_plan`'s metadata read for Iceberg tables and stores over
    the footer budget: ONE Spark job collects the ``cols`` fields of
    the rows of ``columns`` (blooms left out; the ``blobs`` sketch
    fields on the ``targets`` rows only), cut to the partitions an
    ==/IN conjunct on the partition key pins when every branch pins."""
    stripes = read_stripes(spark, out_dir, run_id)
    pids: set | None = set()
    for br in branches:
        p = _key_partition_restriction(
            spark, out_dir, run_id, result_schema, br
        ) if br else None
        if p is None:
            pids = None
            break
        pids |= set(p)
    if pids is not None:
        stripes = stripes.filter(F.col("partition_id").isin(sorted(pids)))
    on_target = F.col("column").isin(sorted(targets))
    meta = stripes.filter(F.col("column").isin(sorted(columns))).select(
        *[
            F.when(on_target, F.col(c)).alias(c) if c in blobs else F.col(c)
            for c in cols if c != "bloom"
        ]
    ).toArrow()
    failed = pc.not_equal(meta["status"], "completed")
    if not pc.any(failed).as_py():
        return meta
    # a group whose needed stripes all failed exists when some other
    # column completed (zonemap.raise_lost_groups): the rare faulted
    # store pays one more job, for those partitions
    pids = pc.unique(meta.filter(failed)["partition_id"]).to_pylist()
    formed = stripes.filter(
        F.col("partition_id").isin(pids) & (F.col("status") == "completed")
    ).select(*zonemap.GROUP_KEYS, "status").distinct().toArrow()
    return pa.concat_tables([meta, formed], promote_options="default")


def _keys(groups) -> list[tuple[int, int, int]]:
    return list(zip(*(groups[k].to_pylist() for k in zonemap.GROUP_KEYS)))


def _decode_matching(spark, plan, result_schema, cols, keys, branches, arrow=False):
    """The shared tail of the aggregates: decode the kept groups
    ``keys`` that metadata cannot answer, with the top-level parents of
    ``cols`` (:func:`_tops_schema`), and keep the rows matching
    ``branches``. They decode through decode_job(_only_groups=keys)
    (:func:`_restricted_decode`): on the driver within the
    _DRIVER_DECODE_MAX_* gate for a local store within the footer
    budget, else as Spark tasks; a filtered DataFrame comes back.

    ``arrow=True`` (the count) decodes a pyarrow-planned store's groups
    within the gate right here, against the plan's own metadata, and
    returns the matching rows as an Arrow table when
    zonemap.rows_match_arrow expresses every branch exactly: no Spark
    job and no second metadata read."""
    if arrow and plan.dset is not None:
        tops, sub = _tops_schema(result_schema, cols)
        spec = decode_mod.DecodeSpec.build(sub, tops)
        gkeys = pa.array([f"{p}:{e}:{s}" for p, e, s in keys], pa.string())
        n_rows, n_bytes = _decoded_size(plan.meta, gkeys, spec.want)
        if n_rows <= _DRIVER_DECODE_MAX_ROWS and n_bytes <= _DRIVER_DECODE_MAX_BYTES:
            table = _driver_decode(
                plan.dset, plan.out_dir, plan.run_id, keys, gkeys, spec, sub,
                apply_deletes=False,
            )
            tz = spark.conf.get("spark.sql.session.timeZone")
            masks = [zonemap.rows_match_arrow(table, br, tz) for br in branches]
            if not all(exact for _, exact in masks):
                dec = spark.createDataFrame(table, sub)
                return dec.filter(zonemap.predicate_dnf_expr(branches))
            if any(m is None for m, _ in masks):
                return table
            mask = masks[0][0]
            for m, _ in masks[1:]:
                mask = pc.or_kleene(mask, m)
            return table.filter(mask)
    dec = _restricted_decode(
        spark, plan.out_dir, plan.run_id, result_schema, cols,
        branches[0] if len(branches) == 1 else None, keys,
    )
    return dec.filter(zonemap.predicate_dnf_expr(branches))


def _nested_field_type(result_schema, dotted: str):
    """Resolve the leaf DataType of a (possibly dotted) column path
    against a StructType; None when the path doesn't resolve."""
    from pyspark.sql.types import StructType

    node = result_schema
    for part in dotted.split("."):
        if not isinstance(node, StructType):
            return None
        f = next((f for f in node.fields if f.name == part), None)
        if f is None:
            return None
        node = f.dataType
    return node


def _is_integral(leaf) -> bool:
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    return isinstance(leaf, (ByteType, ShortType, IntegerType, LongType))


def _dnf_branches(branches, what: str) -> list:
    if not branches or not all(branches):
        raise ValueError(f"DNF {what} needs >= 1 non-empty branch")
    return branches


# ------------------------------------------------------------- COUNT

def _count(spark, out_dir, run_id, result_schema, branches) -> tuple[int, dict]:
    """COUNT(*) WHERE branches: ALL groups count their n_rows from
    metadata, NONE groups 0, and MIXED groups decode the predicate
    columns and count the matching rows — with zonemap.rows_match_arrow
    when they decode on the driver, else with one Spark count."""
    plan = _plan(
        spark, out_dir, run_id, result_schema, branches,
        what="zone-stat counts",
    )
    g = plan.groups
    kept = g.filter(g["keep"])
    mixed = kept.filter(pc.invert(kept["all"]))
    meta_rows = pc.sum(g.filter(g["all"])["n_rows"]).as_py() or 0
    n = meta_rows
    if mixed.num_rows:
        pcols = sorted({c for br in branches for c, _, _ in br})
        dec = _decode_matching(
            spark, plan, result_schema, pcols, _keys(mixed), branches, arrow=True
        )
        n += dec.num_rows if isinstance(dec, pa.Table) else dec.count()
    return n, {
        "n_all": kept.num_rows - mixed.num_rows,
        "n_mixed": mixed.num_rows,
        "rows_from_metadata": meta_rows,
    }


def metadata_count(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    predicate: list[tuple],
) -> tuple[int, dict]:
    """EXACT ``COUNT(*) WHERE predicate`` that decodes only boundary
    stripes — count pushdown over the zone maps (the ORC row-index /
    parquet `aggregatePushdown` trick, extended to predicates).

    Every stripe group is classified by the aggregate planner
    (:func:`_plan`): NONE (zone range or bloom provably excludes —
    contributes 0), ALL (zonemap.conjunct_all_arrow proves EVERY row
    satisfies — contributes n_rows with zero data bytes), else MIXED.
    Only the mixed groups are decoded (predicate columns only) and
    counted row-level. On a clustered column the mixed set is the two
    boundary stripes of the range — at 100 TB the count touches
    metadata + ~2 stripes.

    A local store within the footer budget starts no Spark job: the
    metadata is read with pyarrow, and mixed groups within the
    _DRIVER_DECODE_MAX_* gate decode on the driver and are counted by
    zonemap.rows_match_arrow. Fallbacks: a conjunct that function
    cannot express exactly (contains_token, a type pairing outside its
    proven set) is counted by Spark over the driver-decoded rows (one
    job); a mixed set over the gate decodes as Spark tasks. Iceberg
    tables and stores over the budget collect their metadata with one
    Spark job and decode as tasks.

    Exactness: ALL-proofs are sound under widened bounds and require
    null_count == 0 (SQL 3-value logic — one null breaks ALL); groups
    the proofs can't reach are decoded, never guessed. Live deletes
    raise (stats describe encoded rows), mirroring metadata_aggregate.

    Returns (count, {"n_all": …, "n_mixed": …, "rows_from_metadata":
    …}) — the detail dict evidences how much of the answer came from
    metadata alone.
    """
    if not predicate:
        raise ValueError("metadata_count needs a predicate; use "
                         "metadata_aggregate for the unfiltered COUNT")
    return _count(spark, out_dir, run_id, result_schema, [predicate])


def metadata_count_dnf(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    branches: list,
) -> tuple[int, dict]:
    """EXACT ``COUNT(*) WHERE (b1) OR (b2) OR ...`` — the DNF
    completion of :func:`metadata_count`: every stripe group is
    classified per BRANCH, and

    - any branch ALL  ⇒ every row matches that branch ⇒ the whole
      group counts from metadata (n_rows, zero data bytes);
    - every branch NONE ⇒ 0;
    - otherwise the group decodes (union of branch columns only) and
      counts row-level under the DNF residual.

    Sound + exact by the same argument as the conjunctive path; no
    inclusion-exclusion is needed because groups, not predicates, are
    the unit of accounting. On a clustered column an OR of K ranges
    decodes at most the 2K boundary stripes.

    Returns (count, {"n_all": ..., "n_mixed": ...,
    "rows_from_metadata": ...}).
    """
    return _count(
        spark, out_dir, run_id, result_schema, _dnf_branches(branches, "count")
    )


# --------------------------------------------------------------- SUM

def _sum(spark, out_dir, run_id, result_schema, column, branches):
    """(sum, count_nonnull, n_all, n_decode, metadata_sum,
    metadata_count_nonnull) of
    ``column`` WHERE branches: ALL groups with a recorded sum (or no
    non-null row) fold their footer sum and non-null count; every other
    kept group decodes and sums row-level."""
    plan = _plan(
        spark, out_dir, run_id, result_schema, branches, {"t": column},
        what="zone-stat sums",
    )
    kept = plan.groups.filter(plan.groups["keep"])
    # an all-null stripe (nn == 0, stats row present) has no recorded
    # sum but needs no decode: SUM skips nulls
    has_sum = pc.or_(
        pc.or_(pc.is_valid(kept["t_sum_int"]), pc.is_valid(kept["t_sum_num"])),
        pc.fill_null(pc.equal(kept["t_nn"], 0), False),
    )
    ok = pc.and_(kept["all"], has_sum)
    proven, rest = kept.filter(ok), kept.filter(pc.invert(ok))
    # int sums accumulate exactly: each stripe sum is bounded by the
    # encode-side 2^62 guard, the total over stripes is not
    s_int = pc.sum(pc.cast(proven["t_sum_int"], pa.decimal128(38, 0))).as_py()
    s_num = pc.sum(proven["t_sum_num"]).as_py()
    if s_int is not None and s_num is not None:
        raise ValueError(
            f"column {column!r} carries sums in BOTH stat families — "
            "mixed-type stripes; decode-and-aggregate instead"
        )
    meta_sum = int(s_int) if s_int is not None else s_num
    meta_nn = nn = pc.sum(proven["t_nn"]).as_py() or 0
    dec_sum = None
    if rest.num_rows:
        need = sorted({c for br in branches for c, _, _ in br} | {column})
        dec = _decode_matching(spark, plan, result_schema, need, _keys(rest), branches)
        # integral leaves aggregate in decimal(38,0) so the decode
        # residue stays exact past int64 (Spark's long SUM wraps)
        integral = _is_integral(_nested_field_type(result_schema, column))
        scol = F.col(column).cast("decimal(38,0)") if integral else F.col(column)
        row = dec.agg(F.sum(scol).alias("s"), F.count(column).alias("c")).first()
        nn += int(row.c)
        if row.s is not None:
            dec_sum = int(row.s) if integral else float(row.s)
    parts = [x for x in (meta_sum, dec_sum) if x is not None]
    total = sum(parts) if nn else None
    return total, nn, proven.num_rows, rest.num_rows, meta_sum, meta_nn


def metadata_sum(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    column: str,
    predicate: list[tuple] | None = None,
) -> tuple[float | int | None, int, dict]:
    """EXACT ``SUM(column), COUNT(column) WHERE predicate`` from the
    per-stripe sum statistics (ORC Integer/DoubleStatistics.sum; the
    Iceberg/parquet aggregate-pushdown analogue, extended to
    predicates like metadata_count).

    Stripe groups the planner proves ALL contribute their recorded
    sum_int/sum_num and non-null count with zero data bytes; NONE
    contribute nothing; MIXED groups — and ALL groups whose stripes
    never recorded a sum (NaN-poisoned floats, int64-overflow-risk
    ranges, decimals, pre-upgrade rows) — decode the target + predicate
    columns and aggregate row-level. Exact by construction: sums are
    recorded exactly or not at all, and unprovable groups decode,
    never estimate. SUM/COUNT skip nulls (SQL semantics) — the stripe
    stats already count non-null only. Live deletes raise.

    Returns (sum, count_nonnull, detail); sum is None when count is 0
    (SQL SUM of the empty set). AVG = sum / count at the caller.
    """
    total, nn, n_all, n_decode, _, meta_nn = _sum(
        spark, out_dir, run_id, result_schema, column, [predicate or []]
    )
    return total, nn, {
        "n_all": n_all, "n_mixed": n_decode, "rows_from_metadata": meta_nn,
    }


def metadata_sum_dnf(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    column: str,
    branches: list,
) -> tuple[float | int | None, dict]:
    """EXACT ``SUM(column) WHERE (b1) OR (b2) ...`` — the SUM member
    of the DNF pushdown family (see :func:`metadata_count_dnf` for the
    group-accounting argument): any-branch-ALL groups contribute their
    footer sum with zero data bytes (integral columns stay exact),
    every-branch-NONE contribute nothing, the rest decode the union of
    predicate columns plus the target and sum row-level under the DNF
    residual. Groups whose target sum is missing from the footer
    (overflow-declined, NaN poisoning, pre-upgrade rows) decode —
    exact either way. SQL semantics: nulls skipped;
    all-matching-rows-null yields None.

    Returns (sum | None, {"n_all", "n_mixed", "from_metadata"}).
    """
    total, _, n_all, n_decode, meta_sum, _ = _sum(
        spark, out_dir, run_id, result_schema, column,
        _dnf_branches(branches, "sum"),
    )
    return total, {"n_all": n_all, "n_mixed": n_decode, "from_metadata": meta_sum}


def metadata_minmax_dnf(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    column: str,
    branches: list,
) -> tuple[object, object, dict]:
    """EXACT ``MIN(column), MAX(column) WHERE (b1) OR (b2) ...`` —
    the MIN/MAX member completing the DNF pushdown family
    (count/sum/minmax × DNF): an any-branch-ALL group's zone bounds
    ARE candidate answers (every row matches, bounds are exact when
    ``stat_exact`` holds — truncated strings and widened decimals
    refuse into the decode half), every-branch-NONE groups contribute
    nothing, the rest decode under the DNF residual. Total = fold of
    both halves; all-null matching sets yield (None, None).

    Returns (min, max, {"n_all", "n_mixed", "from_metadata"}).
    """
    from pyspark.sql.types import (
        DateType, DoubleType, FloatType, StringType, TimestampNTZType,
        TimestampType,
    )

    branches = _dnf_branches(branches, "minmax")
    leaf = _nested_field_type(result_schema, column)
    if isinstance(leaf, StringType):
        fam = "str"
    elif _is_integral(leaf) or isinstance(
        leaf, (TimestampType, TimestampNTZType, DateType)
    ):
        fam = "int"
    elif isinstance(leaf, (FloatType, DoubleType)):
        fam = "num"
    else:
        raise ValueError(
            f"column {column!r} is {leaf} — MIN/MAX pushdown covers "
            "int/float/string/timestamp/date leaves"
        )
    plan = _plan(
        spark, out_dir, run_id, result_schema, branches, {"t": column},
        what="zone stats",
    )
    kept = plan.groups.filter(plan.groups["keep"])
    lo, hi = kept[f"t_min_{fam}"], kept[f"t_max_{fam}"]
    empty = pc.fill_null(pc.equal(kept["t_nn"], 0), False)
    bounded = pc.and_(
        pc.and_(pc.is_valid(lo), pc.is_valid(hi)),
        pc.fill_null(kept["t_stat_exact"], True),
    )
    ok = pc.and_(kept["all"], pc.or_(bounded, empty))
    proven = kept.filter(pc.and_(ok, pc.invert(empty)))
    rest = kept.filter(pc.invert(ok))
    mins, maxs = [], []
    if proven.num_rows:
        # the leaf type rebuilds a bound as Spark would collect it
        # (epoch-us/days to datetime/date; tz-free for NTZ)
        mins.append(leaf.fromInternal(pc.min(proven[f"t_min_{fam}"]).as_py()))
        maxs.append(leaf.fromInternal(pc.max(proven[f"t_max_{fam}"]).as_py()))
    if rest.num_rows:
        pcols = sorted({c for br in branches for c, _, _ in br} | {column})
        row = _decode_matching(
            spark, plan, result_schema, pcols, _keys(rest), branches
        ).agg(F.min(column).alias("mn"), F.max(column).alias("mx")).first()
        mins += [row.mn] if row.mn is not None else []
        maxs += [row.mx] if row.mx is not None else []
    return (min(mins) if mins else None), (max(maxs) if maxs else None), {
        "n_all": kept.num_rows - rest.num_rows,
        "n_mixed": rest.num_rows,
        "from_metadata": proven.num_rows > 0,
    }


def _moment_sums(groups):
    """Each group's target sum as a double (int sums widened)."""
    return pc.coalesce(groups["t_sum_num"], pc.cast(groups["t_sum_int"], pa.float64()))


def metadata_stddev(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    column: str,
    predicate: list[tuple] | None = None,
) -> dict:
    """EXACT ``VAR_POP/VAR_SAMP/STDDEV(column) WHERE predicate`` from
    per-stripe second central moments (stripe m2 = Σ(x−mean)²,
    zonemap._stripe_m2) merged with Chan et al.'s parallel-variance
    algebra — the variance analogue of metadata_sum, and the missing
    piece of the ORC-statistics aggregate-pushdown family.

    Fold: with per-component (nᵢ, sumᵢ, m2ᵢ) and the global mean
    μ = Σsumᵢ / Σnᵢ, the exact total moment is
    M2 = Σ m2ᵢ + Σ nᵢ·(μᵢ − μ)² — associative and numerically stable
    (no Σx² cancellation). ALL stripes contribute footer stats; MIXED
    groups — and stripes that declined a sum or moment (int64-overflow
    risk, NaN poisoning, pre-upgrade rows) — decode and contribute one
    (n, sum, m2) component via row-level VAR_POP. Nulls are skipped
    (SQL semantics). Only genuine numeric leaves qualify; other types
    raise. Live deletes raise.

    Scale shape: the planner's classification (:func:`_plan`) plus a
    numpy fold of one component per ALL group on the driver, and one
    Spark aggregate over the restricted boundary decode when there is
    one — at 10^12 rows a metadata-scale answer, never a data scan.

    Returns dict(count, avg, var_pop, var_samp, stddev_pop,
    stddev_samp, detail); the variance keys are None when count < 1
    (< 2 for the sample forms), matching SQL.
    """
    from pyspark.sql.types import DoubleType, FloatType

    leaf = _nested_field_type(result_schema, column)
    if not (_is_integral(leaf) or isinstance(leaf, (FloatType, DoubleType))):
        raise ValueError(
            f"column {column!r} is {leaf} — VAR/STDDEV needs a numeric "
            "leaf (int or float)"
        )
    predicate = predicate or []
    plan = _plan(
        spark, out_dir, run_id, result_schema, [predicate], {"t": column},
        what="zone-stat moments",
    )
    kept = plan.groups.filter(plan.groups["keep"])
    kept = kept.append_column("_s", _moment_sums(kept))
    empty = pc.fill_null(pc.equal(kept["t_nn"], 0), False)
    ok = pc.and_(
        kept["all"],
        pc.or_(pc.and_(pc.is_valid(kept["_s"]), pc.is_valid(kept["t_m2"])), empty),
    )
    comp = kept.filter(pc.and_(ok, pc.invert(empty)))
    n, s, m2 = (
        comp[c].to_numpy().astype(np.float64) for c in ("t_nn", "_s", "t_m2")
    )
    rest = kept.filter(pc.invert(ok))
    if rest.num_rows:
        need = sorted({c for c, _, _ in predicate} | {column})
        x = F.col(column).cast("double")
        row = _decode_matching(
            spark, plan, result_schema, need, _keys(rest), [predicate]
        ).agg(
            F.count(x).alias("c"), F.sum(x).alias("s"), F.var_pop(x).alias("v")
        ).first()
        if int(row.c):  # the decode residue is ONE component
            n, s, m2 = (
                np.append(n, row.c), np.append(s, row.s),
                np.append(m2, float(row.v or 0.0) * row.c),
            )
    total_n = int(n.sum())
    mean = float(s.sum()) / total_n if total_n else None
    m2_total = float((m2 + n * (s / n - mean) ** 2).sum()) if total_n else None
    var_pop = (m2_total / total_n) if total_n else None
    var_samp = (m2_total / (total_n - 1)) if total_n > 1 else None
    return {
        "count": total_n,
        "avg": mean,
        "var_pop": var_pop,
        "var_samp": var_samp,
        "stddev_pop": math.sqrt(var_pop) if var_pop is not None else None,
        "stddev_samp": (
            math.sqrt(var_samp) if var_samp is not None else None
        ),
        "detail": {"n_all": kept.num_rows - rest.num_rows, "n_mixed": rest.num_rows},
    }


# ------------------------------------------- the grouped aggregates

def _key_family(ltype) -> str | None:
    """The stat family that holds a value of leaf type ``ltype``
    exactly: min_str for strings, min_int for integral, boolean,
    timestamp and date values. TimestampNTZType is deliberately
    excluded: rebuilding an NTZ value from epoch-us goes through a
    session-timezone-sensitive cast, so NTZ keys classify impure and
    decode; floats, decimals and nested containers decode too."""
    from pyspark.sql.types import BooleanType, DateType, StringType, TimestampType

    if isinstance(ltype, StringType):
        return "str"
    if _is_integral(ltype) or isinstance(ltype, (BooleanType, TimestampType, DateType)):
        return "int"
    return None


def _leaf_value(src, ltype):
    """The ``ltype`` value of an int/num/str stat column."""
    from pyspark.sql.types import BooleanType, DateType, StringType, TimestampType

    if isinstance(ltype, TimestampType):
        return F.timestamp_micros(src)
    if isinstance(ltype, DateType):
        return F.date_from_unix_date(src.cast("int"))
    if isinstance(ltype, BooleanType):
        return src == 1
    if isinstance(ltype, StringType):
        return src
    return src.cast(ltype)


def _pure_groups(groups, gtype):
    """Groups PURE in the group key (planner role ``g``): the key is
    single-valued (zone min == max), null-free and its stats exact, so
    every row of the group carries that one key. The LEAF type picks
    the stat family even for dotted keys (nested stats rows ride the
    parent's stripes under the dotted name)."""
    fam = _key_family(gtype)
    if fam is None:
        return pa.array(np.zeros(groups.num_rows, dtype=bool))
    return pc.and_(
        pc.and_(
            pc.fill_null(pc.equal(groups[f"g_min_{fam}"], groups[f"g_max_{fam}"]), False),
            pc.fill_null(pc.equal(groups["g_null_count"], 0), False),
        ),
        pc.fill_null(groups["g_stat_exact"], True),
    )


def _group_value(gtype):
    """A pure group's typed key, as a Column over the plan's ``g_``
    stats — the same Spark type the decode half's key has."""
    fam = _key_family(gtype)
    if fam is None:
        return F.lit(None).cast(gtype) if gtype is not None else F.lit(None)
    return _leaf_value(F.col(f"g_min_{fam}"), gtype)


def metadata_group_aggregate(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    group_col: str,
    agg_col: str | None = None,
    predicate: list[tuple] | None = None,
    agg: str = "sum",
) -> DataFrame:
    """EXACT ``SELECT group_col, COUNT(*) [, SUM|MIN|MAX(agg_col)]
    WHERE p GROUP BY group_col`` where stripes PURE in the group
    column (zone min == max, zero nulls, exact stats) are answered
    from metadata — the grouped completion of
    metadata_count/metadata_sum/metadata_aggregate.

    ``agg="sum"`` (default) folds the per-stripe exact sums;
    ``agg="min"``/``"max"`` fold the per-stripe zone bounds — a pure
    predicate-ALL stripe's zone min/max IS its group contribution
    (MIN/MAX skip SQL nulls exactly like the zone stats do, and a
    stripe whose agg column is entirely null contributes its rows to
    cnt with no value). Leaves without an exact stat family (decimal's
    widened bounds, timestamp_ntz's tz-sensitive rebuild, nested
    containers) route every stripe to the decode half — exact either
    way, never estimated.

    On a group-clustered layout (cluster_by=group_col) nearly every
    stripe is single-valued in the key, so the whole GROUP BY costs
    the planner's classification plus the run-boundary stripes where
    two groups meet inside one stripe; impure / predicate-MIXED /
    sum-less stripes decode through the shared tail and re-aggregate
    row-level. Group keys come back typed via the stat family
    (string/min_str, integral & temporal/min_int) so metadata rows
    (a DataFrame over the plan) and decoded rows merge in one final
    groupBy. Live deletes raise (stats describe encoded rows).

    Returns a DataFrame (group_col, cnt, [<agg>_<agg_col>]) — cnt is
    COUNT(*) of the group's predicate-matching rows.
    """
    from pyspark.sql.types import DoubleType, FloatType

    if agg not in ("sum", "min", "max"):
        raise ValueError(f"agg must be 'sum', 'min' or 'max', got {agg!r}")
    if group_col.partition(".")[0] not in {f.name for f in result_schema.fields}:
        raise ValueError(f"group column {group_col!r} not in result_schema")
    atype = None
    if agg_col:
        # classify by the LEAF type — a dotted agg_col's top-level
        # field is a StructType, which would misroute an integer leaf
        # onto the float family
        atype = _nested_field_type(result_schema, agg_col)
        if atype is None:
            raise ValueError(f"agg column {agg_col!r} not in result_schema")
    predicate = predicate or []
    targets = {"g": group_col, **({"t": agg_col} if agg_col else {})}
    plan = _plan(
        spark, out_dir, run_id, result_schema, [predicate], targets,
        lenient=("g", "t"), what="zone-stat group aggregates",
    )
    gtype = _nested_field_type(result_schema, group_col)
    kept = plan.groups.filter(plan.groups["keep"])
    ok = pc.and_(kept["all"], _pure_groups(kept, gtype))
    int_agg = _is_integral(atype)
    fam = None
    if agg_col:
        if agg == "sum":
            # the agg column's type picks the stat family — int sums
            # stay exact end-to-end, float sums stay double
            has = pc.is_valid(kept["t_sum_int" if int_agg else "t_sum_num"])
        else:
            # MIN/MAX: zone bounds ARE the contribution; decimals
            # (widened bounds) and NTZ (tz-cast rebuild) decode
            fam = _key_family(atype) or (
                "num" if isinstance(atype, (FloatType, DoubleType)) else None
            )
            has = pa.array(np.zeros(kept.num_rows, dtype=bool)) if fam is None else pc.and_(
                pc.and_(pc.is_valid(kept[f"t_min_{fam}"]), pc.is_valid(kept[f"t_max_{fam}"])),
                pc.fill_null(kept["t_stat_exact"], True),
            )
        # an all-null agg stripe contributes its rows to cnt with a
        # null value (SQL SUM/MIN/MAX skip nulls) — no decode needed
        ok = pc.and_(ok, pc.or_(has, pc.fill_null(pc.equal(kept["t_nn"], 0), False)))
    # metadata contribution: one (group, cnt[, agg]) row per pure
    # stripe. Int sums accumulate in decimal(38,0): per-stripe sums
    # are int64-bounded by the encode guard but the per-GROUP total is
    # not, and a plain long SUM would wrap silently. Grouping rides an
    # internal key name (_gkey) so dotted group columns never hit
    # Spark's unresolvable-literal-dotted-name groupBy.
    maggs = [F.sum("n_rows").alias("cnt")]
    if agg_col and agg == "sum":
        maggs.append(
            F.sum(
                F.col("t_sum_int").cast("decimal(38,0)") if int_agg else F.col("t_sum_num")
            ).alias("_msum")
        )
    elif agg_col:
        mval = (
            _leaf_value(F.col(f"t_{agg}_{fam}"), atype) if fam else F.lit(None).cast(atype)
        )
        maggs.append((F.min if agg == "min" else F.max)(mval).alias("_msum"))
    both = (
        spark.createDataFrame(kept.filter(ok))
        .groupBy(_group_value(gtype).alias("_gkey")).agg(*maggs)
    )
    rest = kept.filter(pc.invert(ok))
    if rest.num_rows:
        need = sorted({c for c, _, _ in predicate} | set(targets.values()))
        dec = _decode_matching(
            spark, plan, result_schema, need, _keys(rest), [predicate]
        )
        daggs = [F.count(F.lit(1)).alias("cnt")]
        if agg_col and agg == "sum":
            daggs.append(
                F.sum(F.col(agg_col).cast("decimal(38,0)" if int_agg else "double")).alias("_msum")
            )
        elif agg_col:
            daggs.append((F.min if agg == "min" else F.max)(F.col(agg_col)).alias("_msum"))
        both = both.unionByName(dec.groupBy(F.col(group_col).alias("_gkey")).agg(*daggs))
    faggs = [F.sum("cnt").alias("cnt")]
    if agg_col:
        if agg == "sum":
            fsum = F.sum("_msum")
            if int_agg:
                # back to the advertised exact int64 column; a total
                # past int64 errors under ANSI (Spark 4 default) /
                # NULLs under non-ANSI — loud either way, never a
                # silent wrap
                fsum = fsum.cast("long")
        else:
            fsum = (F.min if agg == "min" else F.max)(F.col("_msum"))
        faggs.append(fsum.alias(f"{agg}_{agg_col}"))
    return (
        both.groupBy("_gkey").agg(*faggs)
        .withColumnRenamed("_gkey", group_col)
    )


def metadata_group_stddev(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    group_col: str,
    agg_col: str,
    predicate: list[tuple] | None = None,
) -> DataFrame:
    """EXACT ``SELECT group_col, COUNT(agg) , AVG, VAR_POP, VAR_SAMP
    WHERE p GROUP BY group_col`` with group-PURE stripes answered from
    per-stripe (n, sum, m2) footer moments — the grouped completion of
    :func:`metadata_stddev`, closing the aggregate-pushdown family
    (count/sum/min/max/ndv/percentile/variance × {global, grouped}).

    Each pure + predicate-ALL stripe with exact sum AND moment stats
    contributes one Chan component (nᵢ, sumᵢ, m2ᵢ) tagged with its
    single group key; impure / MIXED / stat-less stripes decode
    through the shared tail and contribute row-level components
    per group. The merge is the same two-pass parallel-variance
    algebra as metadata_stddev, but DISTRIBUTED per group: totals →
    per-group mean, then M2 = Σm2ᵢ + Σnᵢ(μᵢ−μ)² — associative and
    cancellation-free, never Σx².

    Groups whose predicate-matching rows are all NULL in ``agg_col``
    are omitted (count of non-null values is 0 — pair oracles with
    ``HAVING COUNT(agg_col) > 0``); NULL group keys route through the
    decode half (purity requires a null-free key stripe) and come back
    as SQL's NULL group. Live deletes raise.

    Scale shape: the component table is metadata-sized (≤ one row per
    stripe) plus the boundary decode; the two groupBys shuffle
    component rows keyed by group — at 10^12 rows this is ~5 orders
    of magnitude under a data scan, same as metadata_group_aggregate.

    Returns (group_col, n_vals, avg, var_pop, var_samp).
    """
    from pyspark.sql.types import DoubleType, FloatType

    leaf = _nested_field_type(result_schema, agg_col)
    if not (_is_integral(leaf) or isinstance(leaf, (FloatType, DoubleType))):
        raise ValueError(
            f"column {agg_col!r} is {leaf} — VAR/STDDEV needs a numeric "
            "leaf (int or float)"
        )
    predicate = predicate or []
    plan = _plan(
        spark, out_dir, run_id, result_schema, [predicate],
        {"g": group_col, "t": agg_col}, lenient=("g",),
        what="zone-stat moments",
    )
    gtype = _nested_field_type(result_schema, group_col)
    kept = plan.groups.filter(plan.groups["keep"])
    kept = kept.append_column("_s", _moment_sums(kept))
    ok = pc.and_(
        pc.and_(kept["all"], _pure_groups(kept, gtype)),
        pc.or_(
            pc.and_(pc.is_valid(kept["_s"]), pc.is_valid(kept["t_m2"])),
            pc.fill_null(pc.equal(kept["t_nn"], 0), False),
        ),
    )
    comps = spark.createDataFrame(
        kept.filter(pc.and_(ok, pc.fill_null(pc.greater(kept["t_nn"], 0), False)))
    ).select(
        _group_value(gtype).alias("_g"),
        F.col("t_nn").cast("double").alias("_n"),
        F.col("_s"),
        F.col("t_m2").alias("_m2"),
    )
    rest = kept.filter(pc.invert(ok))
    if rest.num_rows:
        dec = _decode_matching(
            spark, plan, result_schema,
            sorted({c for c, _, _ in predicate} | {group_col, agg_col}),
            _keys(rest), [predicate],
        )
        av = F.col(agg_col).cast("double")
        comps = comps.unionByName(
            dec.groupBy(F.col(group_col).alias("_g"))
            .agg(
                F.count(av).cast("double").alias("_n"),
                F.sum(av).alias("_s"),
                (F.var_pop(av) * F.count(av)).alias("_m2"),
            )
            .filter(F.col("_n") > 0)
        )
    # two-pass Chan merge, distributed per group
    tot = (
        comps.groupBy("_g")
        .agg(F.sum("_n").alias("_tn"), F.sum("_s").alias("_ts"))
        .withColumn("_mu", F.col("_ts") / F.col("_tn"))
        .withColumnRenamed("_g", "_gt")
    )
    merged = (
        # null-safe equality: SQL's NULL group must survive the join
        comps.join(tot, comps["_g"].eqNullSafe(tot["_gt"]))
        .drop("_gt")
        .groupBy("_g")
        .agg(
            F.first("_tn").alias("_tn"),
            F.first("_mu").alias("_mu"),
            F.sum(
                F.col("_m2")
                + F.col("_n") * F.pow(F.col("_s") / F.col("_n") - F.col("_mu"), 2)
            ).alias("_M2"),
        )
    )
    return merged.select(
        F.col("_g").alias(group_col.replace(".", "_")),
        F.col("_tn").cast("long").alias("n_vals"),
        F.col("_mu").alias("avg"),
        (F.col("_M2") / F.col("_tn")).alias("var_pop"),
        F.when(
            F.col("_tn") > 1, F.col("_M2") / (F.col("_tn") - 1)
        ).alias("var_samp"),
    )


def metadata_value_counts(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    column: str,
    predicate: list[tuple] | None = None,
) -> DataFrame:
    """EXACT ``SELECT column, COUNT(*) WHERE p GROUP BY column`` from
    the per-stripe value-count histograms (engine/vcounts.py) — the
    UNCLUSTERED complement of metadata_group_aggregate: a categorical
    column on a url-keyed crawl is impure in every stripe, but each
    stripe's footer carries its exact (value → count) map, so the
    GROUP BY folds maps associatively with zero data bytes read.

    Stripes that declined the histogram (> VCS_CAP distinct, long
    text, floats, pre-upgrade rows) or are predicate-MIXED route to
    the shared decode tail — exact either way, never estimated.
    NULL is a group (SQL semantics): histogram stripes contribute
    their footer null_count to it. Per-stripe coverage is gated loudly
    in-fold (sum of counts + nulls must equal n_rows). Live deletes
    raise (stats describe encoded rows).

    Scale shape: the planner's classification, then an explode of
    ≤ VCS_CAP pairs per ALL stripe (Arrow-batched pandas UDF over a
    DataFrame of the plan) → groupBy(value); at 10^12 rows that is a
    metadata-sized job ~5 orders of magnitude smaller than the data.
    Returns (column, cnt).
    """
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField as SF,
        StructType as ST,
    )

    from . import vcounts as vcounts_mod

    ltype = _nested_field_type(result_schema, column)
    if ltype is None:
        raise ValueError(f"column {column!r} not in result_schema")
    predicate = predicate or []
    plan = _plan(
        spark, out_dir, run_id, result_schema, [predicate], {"t": column},
        lenient=("t",), blobs=("vcs",), what="footer histograms",
    )
    kept = plan.groups.filter(plan.groups["keep"])
    ok = pc.and_(kept["all"], pc.is_valid(kept["t_vcs"]))
    j = spark.createDataFrame(kept.filter(ok)).select(
        F.col("t_vcs").alias("vcs"),
        F.coalesce("t_null_count", F.lit(0)).alias("_nulls"),
        F.col("t_n_rows").alias("_trows"),
    )

    str_key = isinstance(ltype, StringType)
    pair_t = ArrayType(
        ST([
            SF("v", StringType() if str_key else LongType(), True),
            SF("c", LongType(), False),
        ])
    )

    @F.pandas_udf(pair_t)
    def _pairs(vcs, nulls, trows):
        import pandas as pd

        out = []
        for blob, nn, tr in zip(vcs, nulls, trows):
            _, pairs = vcounts_mod.parse_vcs(bytes(blob))
            covered = sum(c for _, c in pairs) + int(nn)
            if covered != int(tr):
                raise ValueError(
                    f"vcs histogram covers {covered} of {tr} rows — "
                    "corrupt footer, refusing a wrong GROUP BY"
                )
            out.append(
                [(str(v) if str_key else int(v), int(c)) for v, c in pairs]
            )
        return pd.Series(out)

    mrows = j.withColumn("_p", _pairs("vcs", "_nulls", "_trows")).select(
        F.explode_outer("_p").alias("_pair")
    )
    meta_part = (
        mrows.select(
            _leaf_value(F.col("_pair.v"), ltype).alias("_gkey"),
            F.col("_pair.c").alias("cnt"),
        )
        .where(F.col("cnt").isNotNull())
        .groupBy("_gkey").agg(F.sum("cnt").alias("cnt"))
    )
    null_part = (
        j.filter(F.col("_nulls") > 0)
        .agg(F.sum("_nulls").alias("cnt"))
        .select(F.lit(None).cast(ltype).alias("_gkey"), "cnt")
        .where(F.col("cnt").isNotNull())
    )
    parts = meta_part.unionByName(null_part)
    rest = kept.filter(pc.invert(ok))
    if rest.num_rows:
        dec = _decode_matching(
            spark, plan, result_schema,
            sorted({c for c, _, _ in predicate} | {column}), _keys(rest),
            [predicate],
        )
        parts = parts.unionByName(
            dec.groupBy(F.col(column).alias("_gkey")).agg(F.count(F.lit(1)).alias("cnt"))
        )
    return (
        parts.groupBy("_gkey").agg(F.sum("cnt").cast("long").alias("cnt"))
        .withColumnRenamed("_gkey", column)
    )


def _quantile_leaf(column: str, ltype) -> bool:
    """Whether ``ltype`` has an int-domain order sketch (else float);
    raises for types with no sketch family at all."""
    from pyspark.sql.types import (
        DateType, DoubleType, FloatType, TimestampNTZType, TimestampType,
    )

    int_dom = _is_integral(ltype) or isinstance(
        ltype, (TimestampType, TimestampNTZType, DateType)
    )
    if not int_dom and not isinstance(ltype, (FloatType, DoubleType)):
        raise ValueError(
            f"column {column!r} ({ltype.simpleString()}) has no quantile-"
            "sketch family — strings/decimals/bools decode instead"
        )
    return int_dom


def metadata_percentile(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    column: str,
    qs: list[float],
    predicate: list[tuple] | None = None,
) -> DataFrame:
    """Approximate ``PERCENTILE_DISC(q) WITHIN GROUP (ORDER BY column)
    WHERE predicate`` for each q, with a PROVABLE worst-case rank-error
    bound of one rank gap per contributing unit (metadata stripe or
    decoded Arrow batch): ≤ N/(K−1) ≈ 1.6% of rows at K=64,
    independent of the value distribution. Stripes the planner
    proves predicate-ALL contribute their per-stripe order-statistic
    sketch (engine/quantiles.py) with ZERO data bytes; MIXED /
    unsketched (pre-upgrade) stripes decode through the shared tail
    and re-sketch per Arrow batch with exact gap weights. The
    returned value is always one actually recorded in the data, and
    its true rank is ≥ ceil(q·N) — the estimate can only land
    at-or-above the target rank, never below it.

    Distributed fold: sketch points explode to (value, weight) rows
    (stripes × K, ~1000× smaller than the data), the prefix-sum runs
    as range-partitioned partials + a bounded per-partition offset
    collect, and all quantiles resolve in ONE final aggregate.

    Exact-or-loud: live deletes raise; a decoded batch whose values
    can't be sketched (NaN — engines disagree on its sort position)
    raises instead of returning a biased value. NULLs are excluded,
    SQL-style. Returns (q double, value <column's type>), one row per
    requested q.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DateType, DoubleType, LongType, StructField, StructType,
        TimestampNTZType, TimestampType,
    )

    from . import quantiles as quantiles_mod

    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"qs must be in (0, 1], got {qs!r}")
    ltype = _nested_field_type(result_schema, column)
    if ltype is None:
        raise ValueError(f"column {column!r} not in result_schema")
    int_dom = _quantile_leaf(column, ltype)
    predicate = predicate or []
    plan = _plan(
        spark, out_dir, run_id, result_schema, [predicate], {"t": column},
        blobs=("qsk",), what="sketch percentiles",
    )
    kept = plan.groups.filter(plan.groups["keep"])
    # metadata half: predicate-ALL stripes with a sketch (an all-null
    # stripe's sketch is valid-and-empty, so it rides free); everything
    # else kept — MIXED, unsketched, pre-upgrade — decodes and
    # re-sketches exactly per batch
    ok = pc.and_(kept["all"], pc.is_valid(kept["t_qsk"]))
    out_schema = StructType(
        [
            StructField("q", DoubleType(), False),
            StructField("value", ltype, True),
        ]
    )
    vtype = LongType() if int_dom else DoubleType()
    pt_schema = StructType(
        [StructField("_v", vtype, False), StructField("_w", LongType(), False)]
    )

    def _explode(pdfs):
        for pdf in pdfs:
            vs, ws = [], []
            for blob, n_rows, nulls in zip(
                pdf["_qsk"], pdf["_qn"], pdf["_qnull"]
            ):
                nn = int(n_rows) - int(nulls or 0)
                if blob is None or nn <= 0:
                    continue
                v, w = quantiles_mod.unpack_points(bytes(blob), nn)
                vs.append(v)
                ws.append(w)
            if not vs:
                continue
            yield pd.DataFrame(
                {"_v": np.concatenate(vs), "_w": np.concatenate(ws)}
            )

    points = (
        spark.createDataFrame(kept.filter(ok))
        .select(
            F.col("t_qsk").alias("_qsk"), F.col("t_n_rows").alias("_qn"),
            F.coalesce("t_null_count", F.lit(0)).alias("_qnull"),
        )
        .mapInPandas(_explode, pt_schema)
    )
    rest = kept.filter(pc.invert(ok))
    if rest.num_rows:
        dec = _decode_matching(
            spark, plan, result_schema,
            sorted({c for c, _, _ in predicate} | {column}), _keys(rest),
            [predicate],
        )
        points = points.unionByName(
            quantiles_mod.column_batch_points(
                dec.select(F.col(column).alias("_c")), int_dom
            )
        )
    # distributed prefix sum: range-partition by value, per-partition
    # totals to the driver (bounded: one row per partition), then each
    # partition adds its offset locally
    n_parts = max(2, points.rdd.getNumPartitions())
    ranged = (
        points.repartitionByRange(n_parts, "_v")
        .sortWithinPartitions("_v")
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged = ranged.localCheckpoint(eager=True)  # pin the partitioning
    totals = {
        r._pid: r.t
        for r in ranged.groupBy("_pid").agg(F.sum("_w").alias("t")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += int(totals[pid])
    off_schema = StructType(
        [StructField("_v", vtype, False), StructField("_c", LongType(), False)]
    )

    def _cum(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            base = offsets.get(int(pdf["_pid"].iloc[0]), 0)
            yield pd.DataFrame(
                {"_v": pdf["_v"], "_c": base + pdf["_w"].cumsum()}
            )

    cum = ranged.mapInPandas(_cum, off_schema)
    # N = total point weight (the offsets pass already summed it);
    # zero matching non-null rows -> SQL-null percentiles
    total_nn = acc
    if total_nn == 0:
        return spark.createDataFrame(
            [(float(q), None) for q in sorted(qs)], out_schema
        )
    # target rank ceil(q*N), guarded against float drift on exact
    # multiples (0.5 * even N must not round up an extra rank)
    targets = {
        q: max(1, int(np.ceil(np.float64(q) * total_nn - 1e-9)))
        for q in qs
    }
    sel = cum.agg(
        *[
            F.min(F.when(F.col("_c") >= F.lit(t), F.col("_v"))).alias(
                f"_q{i}"
            )
            for i, (q, t) in enumerate(sorted(targets.items()))
        ]
    ).first()

    def _leaf(raw):
        """Rebuild the leaf-typed python value from its int64/float64
        point — calendar arithmetic for temporals (tz-free for NTZ,
        aware-UTC for TZ timestamps), so no session-timezone cast can
        shift the result."""
        import datetime

        if raw is None:
            return None
        if isinstance(ltype, TimestampType):
            return datetime.datetime(
                1970, 1, 1, tzinfo=datetime.timezone.utc
            ) + datetime.timedelta(microseconds=int(raw))
        if isinstance(ltype, TimestampNTZType):
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(
                microseconds=int(raw)
            )
        if isinstance(ltype, DateType):
            return datetime.date(1970, 1, 1) + datetime.timedelta(
                days=int(raw)
            )
        if int_dom:
            return int(raw)
        return float(raw)

    return spark.createDataFrame(
        [
            (float(q), _leaf(sel[f"_q{i}"]))
            for i, (q, _t) in enumerate(sorted(targets.items()))
        ],
        out_schema,
    )


def table_profile(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    columns: list[str],
) -> DataFrame:
    """One-call per-column profile from footer metadata only — the
    `DESCRIBE EXTENDED` / pandas-describe analogue at zero data bytes:
    exact row/null counts and min/max (metadata_aggregate), the HLL
    NDV estimate where the column is sketched, and the p50 order-
    statistic estimate where it is numeric. Best-effort by design
    where the exact operators are loud: a column whose NDV or
    percentile machinery would raise (floats without sketches,
    strings' long-form decline, pre-upgrade rows) simply reports null
    for that cell rather than failing the whole profile — the loud
    single-column operators remain the authoritative path.

    Returns (column, n_rows, n_nulls, min_repr string, max_repr
    string, ndv_estimate double|null, p50_repr string|null), one row
    per requested column, driver-assembled (one row per column — the
    bounded-collect shape every CLI report here uses).
    """
    prof = {
        r.column: r
        for r in metadata_aggregate(
            spark, out_dir, run_id, columns
        ).collect()
    }
    try:
        ndv_est = {
            r.column: float(r.ndv_estimate)
            for r in metadata_ndv(spark, out_dir, run_id, columns).collect()
        }
    except ValueError:
        # mixed table: retry column-at-a-time so sketched columns
        # still report
        ndv_est = {}
        for c in columns:
            try:
                ndv_est.update(
                    {
                        r.column: float(r.ndv_estimate)
                        for r in metadata_ndv(
                            spark, out_dir, run_id, [c]
                        ).collect()
                    }
                )
            except ValueError:
                pass
    p50 = {}
    for c in columns:
        try:
            rows = metadata_percentile(
                spark, out_dir, run_id, result_schema, c, [0.5]
            ).collect()
            if rows and rows[0].value is not None:
                p50[c] = str(rows[0].value)
        except Exception:  # noqa: BLE001 — loud ops stay loud standalone
            pass

    def _repr(r, lo: bool) -> str | None:
        for fam in ("int", "num", "str"):
            v = getattr(r, f"{'min' if lo else 'max'}_{fam}")
            if v is not None:
                return str(v)
        return None

    out = [
        (
            c,
            int(prof[c].n_rows),
            int(prof[c].n_nulls),
            _repr(prof[c], True),
            _repr(prof[c], False),
            ndv_est.get(c),
            p50.get(c),
        )
        for c in sorted(columns)
    ]
    return spark.createDataFrame(
        out,
        "column string, n_rows bigint, n_nulls bigint, "
        "min_repr string, max_repr string, ndv_estimate double, "
        "p50_repr string",
    )


def metadata_group_percentile(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    group_col: str,
    pct_col: str,
    qs: list[float],
    predicate: list[tuple] | None = None,
) -> DataFrame:
    """Approximate ``PERCENTILE_DISC(q) WITHIN GROUP (ORDER BY
    pct_col) ... GROUP BY group_col WHERE p`` — the grouped completion
    of metadata_percentile, with the same provable per-group rank
    bound (≤ one rank gap per contributing unit: metadata stripe or
    decoded batch slice). Stripes PURE in the group key and
    predicate-ALL contribute their order-statistic sketch with zero
    data bytes; everything else kept decodes (group, value) and
    re-sketches per batch slice.

    Per-group prefix sums run as window aggregates partitioned by the
    group key — a group's points are its stripes × K (metadata-scale),
    so this targets bounded-cardinality keys (the GROUP BY NDV/minmax
    caveat). Groups with zero non-null values are OMITTED (SQL's
    HAVING COUNT(pct_col) > 0 shape); NULL group keys form their own
    group. Returns (group_col, q double, value <pct_col type>).
    """
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DateType, DoubleType, LongType, StructField, StructType,
        TimestampNTZType, TimestampType,
    )

    from . import quantiles as quantiles_mod

    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"qs must be in (0, 1], got {qs!r}")
    ltype = _nested_field_type(result_schema, pct_col)
    if ltype is None:
        raise ValueError(f"column {pct_col!r} not in result_schema")
    int_dom = _quantile_leaf(pct_col, ltype)
    gtype = _nested_field_type(result_schema, group_col)
    if gtype is None:
        raise ValueError(f"group column {group_col!r} not in result_schema")
    predicate = predicate or []
    plan = _plan(
        spark, out_dir, run_id, result_schema, [predicate],
        {"g": group_col, "t": pct_col}, lenient=("g",), blobs=("qsk",),
        what="sketch percentiles",
    )
    kept = plan.groups.filter(plan.groups["keep"])
    ok = pc.and_(
        pc.and_(kept["all"], _pure_groups(kept, gtype)), pc.is_valid(kept["t_qsk"])
    )
    vtype = LongType() if int_dom else DoubleType()
    pt_schema = StructType(
        [
            StructField("_gkey", gtype, True),
            StructField("_v", vtype, False),
            StructField("_w", LongType(), False),
        ]
    )

    def _explode_g(pdfs):
        import pandas as pd

        for pdf in pdfs:
            out = []
            for g, blob, n_rows, nulls in zip(
                pdf["_gval"], pdf["_qsk"], pdf["_qn"], pdf["_qnull"]
            ):
                nn = int(n_rows) - int(nulls or 0)
                if blob is None or nn <= 0:
                    continue
                v, w = quantiles_mod.unpack_points(bytes(blob), nn)
                out.append(
                    pd.DataFrame({"_gkey": [g] * len(v), "_v": v, "_w": w})
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    points = (
        spark.createDataFrame(kept.filter(ok))
        .select(
            _group_value(gtype).alias("_gval"), F.col("t_qsk").alias("_qsk"),
            F.col("t_n_rows").alias("_qn"),
            F.coalesce("t_null_count", F.lit(0)).alias("_qnull"),
        )
        .mapInPandas(_explode_g, pt_schema)
    )
    rest = kept.filter(pc.invert(ok))
    if rest.num_rows:
        dec = _decode_matching(
            spark, plan, result_schema,
            sorted({c for c, _, _ in predicate} | {group_col, pct_col}),
            _keys(rest), [predicate],
        )
        points = points.unionByName(
            quantiles_mod.grouped_batch_points(
                dec.select(
                    F.col(group_col).alias("_g"), F.col(pct_col).alias("_c")
                ),
                int_dom,
            )
        )
    wcum = (
        Window.partitionBy("_gkey").orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = points.withColumn("_c", F.sum("_w").over(wcum)).withColumn(
        "_n", F.sum("_w").over(Window.partitionBy("_gkey"))
    )
    sel = None
    for q in sorted(qs):
        t = F.ceil(F.lit(float(q)) * F.col("_n") - F.lit(1e-9))
        part = (
            cum.filter(F.col("_c") >= F.greatest(t, F.lit(1)))
            .groupBy("_gkey")
            .agg(F.min("_v").alias("_v"))
            .withColumn("q", F.lit(float(q)))
        )
        sel = part if sel is None else sel.unionByName(part)
    if isinstance(ltype, TimestampType):
        vexpr = F.timestamp_micros(F.col("_v"))
    elif isinstance(ltype, TimestampNTZType):
        # calendar arithmetic from the NTZ epoch — tz-free, unlike a
        # TimestampType round trip through the session zone
        vexpr = F.expr(
            "timestampadd(MICROSECOND, _v, "
            "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
        )
    elif isinstance(ltype, DateType):
        vexpr = F.date_from_unix_date(F.col("_v").cast("int"))
    else:
        vexpr = F.col("_v").cast(ltype)
    return sel.select(
        F.col("_gkey").alias(group_col), "q", vexpr.alias("value")
    )


def metadata_group_ndv(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    group_col: str,
    ndv_col: str,
    predicate: list[tuple] | None = None,
) -> DataFrame:
    """Approximate ``SELECT group_col, COUNT(DISTINCT ndv_col) WHERE p
    GROUP BY group_col`` (~1.6% SE) — the grouped completion of
    metadata_ndv: stripes PURE in the group key and predicate-ALL
    contribute their per-stripe HyperLogLog sketch with zero data
    bytes; every other kept stripe decodes (group, value) and
    re-sketches per Arrow batch with the SAME hash streams
    (ndv.grouped_batch_sketches), so both halves fold in one
    associative register-max merge per group — groups never
    materialize their rows.

    Loud-or-approximate discipline (metadata_ndv's contract, grouped):
    live deletes raise; a metadata-half stripe without a sketch simply
    decodes, but a decode-half batch whose values can't be hashed
    (float/decimal) raises instead of under-counting.

    Returns (group_col, ndv_estimate double). COUNT(DISTINCT) skips
    SQL nulls, exactly like the hash streams do; NULL group keys form
    their own group.
    """
    from . import ndv as ndv_mod

    gtype = _nested_field_type(result_schema, group_col)
    if gtype is None:
        raise ValueError(f"group column {group_col!r} not in result_schema")
    if _nested_field_type(result_schema, ndv_col) is None:
        raise ValueError(f"ndv column {ndv_col!r} not in result_schema")
    predicate = predicate or []
    plan = _plan(
        spark, out_dir, run_id, result_schema, [predicate],
        {"g": group_col, "t": ndv_col}, lenient=("g", "t"), blobs=("ndv",),
        what="sketch NDV estimates",
    )
    kept = plan.groups.filter(plan.groups["keep"])
    ok = pc.and_(
        pc.and_(kept["all"], _pure_groups(kept, gtype)), pc.is_valid(kept["t_ndv"])
    )
    both = spark.createDataFrame(kept.filter(ok)).select(
        _group_value(gtype).alias("_gkey"), F.col("t_ndv").alias("ndv_sketch")
    )
    rest = kept.filter(pc.invert(ok))
    if rest.num_rows:
        dec = _decode_matching(
            spark, plan, result_schema,
            sorted({c for c, _, _ in predicate} | {group_col, ndv_col}),
            _keys(rest), [predicate],
        )
        both = both.unionByName(
            ndv_mod.grouped_batch_sketches(
                dec.select(
                    F.col(group_col).alias("_gkey"), F.col(ndv_col).alias("_val")
                )
            )
        )
    return (
        ndv_mod.merged_ndv_by(both, "_gkey")
        .withColumnRenamed("_gkey", group_col)
    )


def metadata_topk(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    order_col: str,
    k: int,
    descending: bool = True,
    columns: list[str] | None = None,
    tiebreak: str | None = None,
    predicate: list[tuple] | None = None,
) -> DataFrame:
    """EXACT ``WHERE order_col IS NOT NULL ORDER BY order_col [DESC]
    LIMIT k`` that decodes only the stripes that can contain a top-k
    row — the ORC row-index / Iceberg sort-order top-k pushdown,
    predicate-aware. NULL order values are excluded BY CONTRACT (the
    zone families rank values, not nulls) — callers wanting Spark's
    bare ORDER BY null placement (ASC NULLS FIRST / DESC NULLS LAST
    fill) add the null rows themselves; the CLI and the oracle twin
    state the same ``IS NOT NULL`` clause.

    Selection rule (DESC; ASC mirrors with bounds swapped): sort the
    kept stripe groups by their zone MIN descending and accumulate
    non-null counts; the threshold T is the largest zone-min at which
    the groups with min >= T already GUARANTEE k rows >= T. Any group
    whose zone max < T provably holds no top-k row and is skipped;
    every other group decodes and the final orderBy/limit runs on that
    small candidate set. Sound under widened bounds (outer bounds
    weaken the guarantee and widen the candidate set, never drop a
    contender); NaN-poisoned / stat-less groups have no bounds and are
    always candidates. On a time-clustered crawl table "newest k
    pages" touches the last stripe per partition. The threshold is a
    sort over the planner's groups (:func:`_plan`, one row per kept
    stripe group) on the driver.

    ``tiebreak`` (default: none) is appended to the final sort for a
    deterministic order on ties — selection only concerns order_col.
    Returns the decoded top-k DataFrame in the requested column set.
    Live deletes raise (zone counts describe encoded rows).
    """
    from pyspark.sql.types import (
        DateType, DoubleType, FloatType, StringType, TimestampNTZType,
        TimestampType,
    )

    if k <= 0:
        raise ValueError("k must be positive")
    of = next((f for f in result_schema.fields if f.name == order_col), None)
    if of is None:
        raise ValueError(f"order column {order_col!r} not in result_schema")
    if isinstance(of.dataType, StringType):
        fam = "str"
    elif isinstance(of.dataType, (FloatType, DoubleType)):
        fam = "num"
    elif _is_integral(of.dataType) or isinstance(
        of.dataType, (TimestampType, TimestampNTZType, DateType)
    ):
        fam = "int"
    else:
        raise ValueError(
            f"order column type {of.dataType} has no zone family — "
            "decode-and-sort instead"
        )
    predicate = predicate or []
    want = sorted(
        set(columns or [f.name for f in result_schema.fields])
        | {c for c, _, _ in predicate} | {order_col}
        | ({tiebreak} if tiebreak else set())
    )
    plan = _plan(
        spark, out_dir, run_id, result_schema, [predicate], {"o": order_col},
        lenient=("o",), what="zone-stat top-k",
    )
    kept = plan.groups.filter(plan.groups["keep"])
    rows = kept.select(
        [*zonemap.GROUP_KEYS, "all", f"o_min_{fam}", f"o_max_{fam}", "o_nn"]
    ).to_pylist()
    # the k-guarantee may count a group's rows ONLY when the predicate
    # provably holds for every row (all) — a zone/bloom-keep MIXED
    # group might contain zero matching rows, and counting it could
    # push the threshold past the stripes holding the true top-k.
    # DESC guarantees with zone mins (every non-null row of an ALL
    # group is a MATCH >= its min), ASC with maxes
    lo, hi = f"o_min_{fam}", f"o_max_{fam}"
    guar = sorted(
        ((r[lo] if descending else r[hi]), int(r["o_nn"] or 0))
        for r in rows if r["all"] and r[lo] is not None and r[hi] is not None
    )
    thresh = None
    total = 0
    for v, nn in (guar[::-1] if descending else guar):
        total += nn
        if total >= k:
            thresh = v
            break
    cands = [
        tuple(r[c] for c in zonemap.GROUP_KEYS)
        for r in rows
        if r[lo] is None or r[hi] is None or thresh is None
        or (r[hi] >= thresh if descending else r[lo] <= thresh)
    ]
    dec = _decode_matching(spark, plan, result_schema, want, cands, [predicate])
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc()
    ]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    out = dec.filter(F.col(order_col).isNotNull()).orderBy(*order).limit(k)
    final = (
        list(columns)
        if columns is not None
        else [f.name for f in result_schema.fields if f.name in set(want)]
    )
    return out.select(*[F.col(c).alias(c) for c in final])


def verify_roundtrip(
    original: DataFrame, decoded: DataFrame, key: str
) -> dict[str, int]:
    """Order-insensitive equality: exceptAll both ways + count match.

    ≙ the reference's output validation gate
    (/root/reference/internal/runner/runner.go:571-624).
    """
    cols = [f.name for f in original.schema.fields if f.name in set(decoded.columns)]
    o = original.select(cols)
    d = decoded.select(cols)
    return {
        "count_original": o.count(),
        "count_decoded": d.count(),
        "missing_from_decoded": o.exceptAll(d).count(),
        "extra_in_decoded": d.exceptAll(o).count(),
    }
