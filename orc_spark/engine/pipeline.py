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
        spark, cfg.out_dir, cfg.run_id, n_columns=len(columns)
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
            for r in stripe_meta.filter(F.col("status") == "completed")
            .groupBy("partition_id", "epoch")
            .agg(F.countDistinct("column").alias("nc"))
            .filter(F.col("nc") >= len(columns))
            .collect()
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
    meta = stripes.drop("data").filter(
        (F.col("status") == "completed") & F.col("column").isin(list(want_cols))
    )
    # ONE metadata action for both the max-epoch short-circuit and the
    # per-partition keep-map (this runs on every decode — a second
    # driver job here is pure fixed cost on point lookups)
    counts = (
        meta.groupBy("partition_id", "epoch")
        .agg(F.countDistinct("column").alias("nc"))
        .collect()
    )
    if not counts or max(int(r.epoch) for r in counts) == 0:
        return stripes.filter(F.col("status") == "completed")  # common case
    best: dict[int, int] = {}
    for r in counts:
        if int(r.nc) >= len(want_cols):
            pid = int(r.partition_id)
            best[pid] = max(best.get(pid, -1), int(r.epoch))
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
    pins = _temporal_pins(result_schema, predicate) if predicate else None
    spec_args = dict(
        missing_defaults=missing_defaults,
        verify_checksums=verify_checksums,
        # row-level residual inside the decode (conservative); callers'
        # zonemap.predicate_expr stays the exactness gate
        residual=predicate,
        emit_positions=_emit_positions,
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
            meta, br, pins=_temporal_pins(result_schema, br)
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
    fallback. Epoch selection matches decode_job's exactly.

    At 100 TB this is the difference between a metadata scan (one row
    per stripe x column) and decoding the table to answer
    `SELECT MIN(ts), MAX(ts), COUNT(*)`.
    """
    want = set(columns)
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        # zone stats describe the ENCODED rows; live deletes make the
        # footer answer wrong for COUNT and possibly MIN/MAX — refuse
        # rather than guess (compact_run materializes the live view)
        raise ValueError(
            f"run {run_id!r} carries live deletes "
            f"({dstats['n_vectors']} vector(s), "
            f"{dstats['n_eq_values']} equality value(s)) — metadata-"
            "only aggregates would include deleted rows; compact the "
            "run or decode-and-aggregate"
        )
    stripes = read_stripes(spark, out_dir, run_id)
    meta = _epoch_keep_filter(spark, stripes, want).drop("data").filter(
        F.col("column").isin(list(want))
    )
    rows = (
        meta.groupBy("column")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("null_count").alias("n_nulls"),
            F.min("min_int").alias("min_int"),
            F.max("max_int").alias("max_int"),
            F.min("min_num").alias("min_num"),
            F.max("max_num").alias("max_num"),
            F.min("min_str").alias("min_str"),
            F.max("max_str").alias("max_str"),
            F.sum(
                F.when(
                    (F.col("n_rows") > F.coalesce("null_count", F.lit(0)))
                    & F.col("min_int").isNull()
                    & F.col("min_num").isNull()
                    & F.col("min_str").isNull(),
                    1,
                ).otherwise(0)
            ).alias("n_statless"),
            F.sum(
                F.when(F.col("null_count").isNull(), 1).otherwise(0)
            ).alias("n_countless"),
            # stat_exact=False marks WIDENED bounds (decimal128's
            # one-ulp-padded doubles): safe to prune with, wrong to
            # report as the column's min/max. Null (pre-upgrade rows,
            # which never widened) counts as exact.
            F.sum(
                F.when(F.col("stat_exact") == F.lit(False), 1).otherwise(0)
            ).alias("n_inexact"),
        )
        .collect()
    )
    by_col = {r.column: r for r in rows}
    missing = sorted(want - set(by_col))
    if missing:
        raise ValueError(f"no stripes for column(s) {missing} in run {run_id!r}")
    out = []
    for c in sorted(want):
        r = by_col[c]
        if int(r.n_countless):
            raise ValueError(
                f"column {c!r}: {r.n_countless} stripe(s) lack null counts — "
                "metadata aggregate would be inexact; decode instead"
            )
        if int(r.n_statless):
            raise ValueError(
                f"column {c!r}: {r.n_statless} stripe(s) hold rows without "
                "zone stats (NaN-poisoned / unsupported type) — min/max "
                "from metadata would be wrong; decode instead"
            )
        if int(r.n_inexact):
            raise ValueError(
                f"column {c!r}: {r.n_inexact} stripe(s) carry widened "
                "(pruning-only) bounds — decimal columns have no exact "
                "double min/max; decode-and-aggregate instead"
            )
        out.append(
            (
                c, int(r.n_rows), int(r.n_nulls),
                r.min_int, r.max_int, r.min_num, r.max_num,
                r.min_str, r.max_str,
            )
        )
    return spark.createDataFrame(
        out,
        "column string, n_rows bigint, n_nulls bigint, "
        "min_int bigint, max_int bigint, min_num double, max_num double, "
        "min_str string, max_str string",
    )


def _temporal_pins(result_schema, predicate: list[tuple]) -> dict:
    """col -> "us"/"days" for timestamp/date predicate columns — lets
    _conjunct_all prove under the single true int encoding instead of
    conservatively AND-ing both candidates (zonemap._conjunct_all's
    pin). Nested (dotted) columns stay unpinned (conservative)."""
    from pyspark.sql.types import (
        DateType, TimestampNTZType, TimestampType,
    )

    by_name = {f.name: f.dataType for f in result_schema.fields}
    pins = {}
    for col, _, _ in predicate:
        t = by_name.get(col)
        if isinstance(t, (TimestampType, TimestampNTZType)):
            pins[col] = "us"
        elif isinstance(t, DateType):
            pins[col] = "days"
    return pins


def _classify_pred_groups(
    meta: DataFrame, predicate: list[tuple], gkeys: list[str],
    pins: dict | None = None,
) -> DataFrame:
    """Classify every stripe group of a blob-free metadata view
    against a conjunctive predicate: one row per group with `_keep`
    (zone ranges may match — zonemap._conjunct_keep) and `_all`
    (EVERY row provably matches — zonemap._conjunct_all). NONE groups
    are `~_keep`; MIXED are `_keep & ~_all`. Shared by metadata_count,
    metadata_sum and metadata_group_aggregate. Absent stats coalesce
    conservatively: keep=yes, all=no. Also emits `_has{j}` (1 when the
    j-th conjunct's column had a stats row in the group) so callers
    fold the loud missing-column check into their existing aggregate
    action instead of a separate metadata collect."""
    flags = []
    for j, (col, _, _) in enumerate(predicate):
        flags.append(
            F.max(
                F.when(F.col("column") == col, F.lit(1))
            ).alias(f"_has{j}")
        )
    for j, (col, op, val) in enumerate(predicate):
        hit = F.col("column") == col
        flags.append(
            F.max(
                F.when(
                    hit,
                    zonemap._conjunct_keep(
                        op, val, pin=(pins or {}).get(col)
                    ).cast("int"),
                )
            ).alias(f"_keep{j}")
        )
        flags.append(
            F.max(
                F.when(
                    hit,
                    zonemap._conjunct_all(
                        op, val, pin=(pins or {}).get(col)
                    ).cast("int"),
                )
            ).alias(f"_all{j}")
        )
    cls = meta.groupBy(*gkeys).agg(F.max("n_rows").alias("n_rows"), *flags)
    keep = F.lit(True)
    allf = F.lit(True)
    for j in range(len(predicate)):
        keep = keep & (F.coalesce(F.col(f"_keep{j}"), F.lit(1)) == 1)
        allf = allf & (F.coalesce(F.col(f"_all{j}"), F.lit(0)) == 1)
    return cls.select(
        *gkeys, "n_rows", keep.alias("_keep"), allf.alias("_all"),
        *[F.col(f"_has{j}") for j in range(len(predicate))],
    )


def _presence_aggs(predicate: list[tuple]):
    """Global aggregate columns over a _classify_pred_groups result:
    `_p{j}` is non-null iff conjunct j's column had a stats row in ANY
    group — the lazy twin of the loud missing-column check."""
    return [
        F.max(F.col(f"_has{j}")).alias(f"_p{j}")
        for j in range(len(predicate))
    ]


def _raise_missing(agg_row, predicate: list[tuple], run_id: str) -> None:
    missing = sorted(
        {
            predicate[j][0]
            for j in range(len(predicate))
            if getattr(agg_row, f"_p{j}") is None
        }
    )
    if missing:
        raise ValueError(
            f"no stats rows for predicate column(s) {missing} in run "
            f"{run_id!r} — decode-and-aggregate instead"
        )


def _bloom_relevant(predicate: list[tuple]) -> bool:
    """Whether the in-decode fused prune can add anything beyond the
    caller's own ALL/NONE classification: only equality-shaped
    conjuncts consult bloom bitsets; for pure range/null predicates
    the restricted decode skips its (redundant) metadata job."""
    return any(op in ("==", "=", "in", "contains_token") for _, op, _ in predicate)


def _classify_driver(
    spark: SparkSession,
    out_dir: str,
    stripes: DataFrame,
    need: list[str],
    want_tops: set[str],
    predicate: list[tuple],
    pins: dict,
    target: str | None = None,
):
    """Driver-side fast path for the ALL/NONE/MIXED classifier — the
    metadata_count/metadata_sum counterpart of zonemap.plan_keep_groups,
    with Spark Column flags: ONE single-stage Spark job (scan -> per-row conjunct flags ->
    collect, no exchange) and the group/epoch logic as a dict walk on
    the driver. Budget-gated on the parquet footers
    (zonemap._driver_plan_budget_ok); returns None past the budget and
    the distributed aggregation takes over — at 100 TB that gate
    always routes distributed.

    Semantics mirror the distributed path 1:1 by construction: the
    per-row flags are the SAME Spark expressions (_conjunct_keep /
    _conjunct_all with the caller's pins), group flags are max-over-
    rows, epoch completeness counts distinct want_tops columns per
    (partition, epoch) with the same epoch-0 short-circuit as
    _epoch_keep_filter.

    Returns (groups, present, tgt_present): groups maps
    (partition_id, epoch, stripe_idx) -> dict(n_rows, keep, all_,
    sum_int, sum_num, nn); present[j] says conjunct j's column had a
    stats row anywhere.
    """
    sdir = lineage_mod.stripes_dir(out_dir)
    if storage.is_iceberg(sdir) or not zonemap._driver_plan_budget_ok(sdir):
        return None
    scan_cols = sorted(set(need) | set(want_tops))
    proj = (
        stripes.drop("data")
        .filter(F.col("status") == "completed")
        .filter(F.col("column").isin(scan_cols))
    )
    n = len(predicate)
    for j, (col, op, val) in enumerate(predicate):
        hit = F.col("column") == col
        proj = proj.withColumn(
            f"_k{j}",
            F.when(
                hit,
                zonemap._conjunct_keep(op, val, pin=pins.get(col)).cast("int"),
            ),
        ).withColumn(
            f"_a{j}",
            F.when(
                hit,
                zonemap._conjunct_all(op, val, pin=pins.get(col)).cast("int"),
            ),
        )
    sel = [
        "partition_id", "epoch", "stripe_idx", "column", "n_rows",
        "null_count", "sum_int", "sum_num",
        *[f"_k{j}" for j in range(n)], *[f"_a{j}" for j in range(n)],
        "m2",  # appended LAST: the _k/_a flags index positionally at 8+j
    ]
    rows = proj.select(*sel).collect()  # single stage, no exchange
    # epoch completeness on the driver (mirrors _epoch_keep_filter)
    epoch_cols: dict[tuple[int, int], set[str]] = {}
    gmax = 0
    for r in rows:
        if r.column in want_tops:
            key = (int(r.partition_id), int(r.epoch))
            epoch_cols.setdefault(key, set()).add(r.column)
            gmax = max(gmax, key[1])
    if gmax == 0:
        kept = None  # epoch-0 short-circuit: every completed group
    else:
        best: dict[int, int] = {}
        for (pid, ep), cols in epoch_cols.items():
            if len(cols) >= len(want_tops):
                best[pid] = max(best.get(pid, -1), ep)
        kept = best
    groups: dict[tuple, dict] = {}
    present = [False] * n
    tgt_present = False
    pcols = [c for c, _, _ in predicate]
    for r in rows:
        pid, ep = int(r.partition_id), int(r.epoch)
        if kept is not None and kept.get(pid) != ep:
            continue
        key = (pid, ep, int(r.stripe_idx))
        g = groups.get(key)
        if g is None:
            g = groups[key] = {
                "n_rows": 0, "k": [None] * n, "a": [None] * n,
                "sum_int": None, "sum_num": None, "nn": None, "m2": None,
            }
        g["n_rows"] = max(g["n_rows"], int(r.n_rows))
        for j in range(n):
            if r.column == pcols[j]:
                present[j] = True
                kv, av = r[8 + j], r[8 + n + j]
                if kv is not None and (g["k"][j] is None or kv > g["k"][j]):
                    g["k"][j] = kv
                if av is not None and (g["a"][j] is None or av > g["a"][j]):
                    g["a"][j] = av
        if target is not None and r.column == target:
            tgt_present = True
            g["sum_int"] = r.sum_int
            g["sum_num"] = r.sum_num
            g["m2"] = r.m2
            g["nn"] = int(r.n_rows) - int(r.null_count or 0)
    for g in groups.values():
        g["keep"] = all(
            (g["k"][j] if g["k"][j] is not None else 1) == 1 for j in range(n)
        )
        g["all_"] = all(
            (g["a"][j] if g["a"][j] is not None else 0) == 1 for j in range(n)
        )
    return groups, present, tgt_present


def _restricted_decode(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    cols,
    predicate: list[tuple] | None,
    only,
) -> DataFrame:
    """Shared tail of every metadata aggregate: decode ONLY the stripe
    groups in ``only`` (list => literal pushdown, DataFrame =>
    semi-join; see decode_job(_only_groups)), projecting the top-level
    parents of ``cols`` (dotted names decode their parent struct;
    field order follows the sorted tops — decode_job pairs schema
    fields with `columns` positionally). The in-decode fused prune is
    engaged only when the predicate carries bloom-relevant conjuncts
    (equality/IN/token) — for pure range predicates the caller's
    classifier already did all the zone math."""
    from pyspark.sql.types import StructType

    tops = sorted({c.partition(".")[0] for c in cols})
    by_name = {f.name: f for f in result_schema.fields}
    lost = sorted(set(tops) - set(by_name))
    if lost:
        raise ValueError(f"column(s) {lost} not in result_schema")
    sub = StructType([by_name[t] for t in tops])
    return decode_job(
        spark, out_dir, run_id, sub, columns=tops,
        predicate=(
            predicate if predicate and _bloom_relevant(predicate) else None
        ),
        _only_groups=only,
    )


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

    One blob-free metadata job classifies every kept stripe group per
    conjunct: NONE (zone range provably excludes — contributes 0), ALL
    (zonemap._conjunct_all proves EVERY row satisfies — contributes
    n_rows with zero data bytes), else MIXED. Only the mixed groups
    are decoded (predicate columns only, through the ordinary fused
    predicated decode, bloom vetoes included) and counted row-level.
    On a clustered column the mixed set is the two boundary stripes of
    the range — at 100 TB the count touches metadata + ~2 stripes.

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
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone-stat counts "
            "describe the encoded rows; compact the run first"
        )
    pcols = sorted({c for c, _, _ in predicate})
    stripes = read_stripes(spark, out_dir, run_id)
    # key-equality fast path: groups outside the literal's own
    # partition(s) contribute 0 to a conjunct count by construction
    key_pids = _key_partition_restriction(
        spark, out_dir, run_id, result_schema, predicate
    )
    if key_pids is not None:
        stripes = stripes.filter(F.col("partition_id").isin(key_pids))
    # epoch completeness is judged on TOP-LEVEL columns (nested stats
    # rows ride their parent's stripes); classification then reads the
    # exact (possibly dotted) stats rows
    want_tops = {c.partition(".")[0] for c in pcols}
    pins = _temporal_pins(result_schema, predicate)
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    fast = _classify_driver(
        spark, out_dir, stripes, pcols, want_tops, predicate, pins
    )
    if fast is not None:
        # driver fast path: the whole classification is ONE
        # single-stage metadata job (footer-budget-gated)
        groups, present, _ = fast
        missing = sorted(
            {predicate[j][0] for j in range(len(predicate))
             if not present[j]}
        )
        if missing:
            raise ValueError(
                f"no stats rows for predicate column(s) {missing} in "
                f"run {run_id!r} — decode-and-aggregate instead"
            )
        meta_rows = sum(
            g["n_rows"] for g in groups.values() if g["keep"] and g["all_"]
        )
        only = [k for k, g in groups.items() if g["keep"] and not g["all_"]]
        n_mixed = len(only)
        detail = {
            "n_all": sum(
                1 for g in groups.values() if g["keep"] and g["all_"]
            ),
            "n_mixed": n_mixed,
            "rows_from_metadata": meta_rows,
        }
    else:
        meta = _epoch_keep_filter(
            spark, stripes, want_tops
        ).drop("data").filter(F.col("column").isin(pcols))
        cls = _classify_pred_groups(meta, predicate, gkeys, pins=pins)
        # ONE metadata action: classification totals + the loud
        # missing-column check ride the same aggregate
        agg = cls.agg(
            F.sum(F.when(F.col("_keep") & F.col("_all"), F.col("n_rows"))).alias("meta_rows"),
            F.sum(F.when(F.col("_keep") & F.col("_all"), 1).otherwise(0)).alias("n_all"),
            F.sum(F.when(F.col("_keep") & ~F.col("_all"), 1).otherwise(0)).alias("n_mixed"),
            *_presence_aggs(predicate),
        ).first()
        _raise_missing(agg, predicate, run_id)
        meta_rows = int(agg.meta_rows or 0)
        n_mixed = int(agg.n_mixed or 0)
        detail = {
            "n_all": int(agg.n_all or 0),
            "n_mixed": n_mixed,
            "rows_from_metadata": meta_rows,
        }
        only = None
    mixed_count = 0
    if n_mixed:
        if only is None:
            mixed = cls.filter(
                F.col("_keep") & ~F.col("_all")
            ).select(*gkeys)
            if n_mixed <= zonemap._PUSHDOWN_MAX_GROUPS:
                only = [
                    (r.partition_id, r.epoch, r.stripe_idx)
                    for r in mixed.collect()
                ]
            else:  # huge boundary set: semi-join, no driver collect
                only = mixed
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, pcols, predicate, only
        )
        mixed_count = dec.filter(zonemap.predicate_expr(predicate)).count()
    return meta_rows + mixed_count, detail


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

    Stripe groups the classifier proves ALL contribute their recorded
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
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone-stat sums "
            "describe the encoded rows; compact the run first"
        )
    predicate = predicate or []
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {column})
    stripes = read_stripes(spark, out_dir, run_id)
    # key-equality fast path (see metadata_count): partitions other
    # than the key literal's own cannot hold predicate-matching rows
    key_pids = _key_partition_restriction(
        spark, out_dir, run_id, result_schema, predicate
    )
    if key_pids is not None:
        stripes = stripes.filter(F.col("partition_id").isin(key_pids))
    want_tops = {c.partition(".")[0] for c in need}
    pins = _temporal_pins(result_schema, predicate)
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    fast = _classify_driver(
        spark, out_dir, stripes, need, want_tops, predicate, pins,
        target=column,
    )
    if fast is not None:
        groups, present, tgt_present = fast
        missing = sorted(
            {predicate[j][0] for j in range(len(predicate))
             if not present[j]}
        )
        if missing or not tgt_present:
            bad = missing or [column]
            raise ValueError(
                f"no stats rows for column(s) {bad} in run {run_id!r} "
                "— decode-and-aggregate instead"
            )
        s_int = s_num = None
        meta_nn = n_meta = 0
        only = []
        for k, g in groups.items():
            if not g["keep"]:
                continue
            # an all-null stripe (nn == 0, stats row present) has no
            # recorded sum but needs no decode: SUM skips nulls
            has_sum = (
                g["sum_int"] is not None
                or g["sum_num"] is not None
                or g["nn"] == 0
            )
            if g["all_"] and has_sum:
                n_meta += 1
                meta_nn += g["nn"] or 0
                if g["sum_int"] is not None:
                    s_int = (s_int or 0) + int(g["sum_int"])
                if g["sum_num"] is not None:
                    s_num = (s_num or 0.0) + float(g["sum_num"])
            else:
                only.append(k)
        n_decode = len(only)
    else:
        meta = _epoch_keep_filter(
            spark, stripes, want_tops
        ).drop("data").filter(F.col("column").isin(need))
        if predicate:
            cls = _classify_pred_groups(meta, predicate, gkeys, pins=pins)
        else:
            cls = (
                meta.groupBy(*gkeys)
                .agg(F.max("n_rows").alias("n_rows"))
                .select(
                    *gkeys, "n_rows",
                    F.lit(True).alias("_keep"), F.lit(True).alias("_all"),
                )
            )
        tgt = meta.filter(F.col("column") == column).select(
            *gkeys,
            F.col("sum_int"), F.col("sum_num"),
            (F.col("n_rows") - F.coalesce("null_count", F.lit(0))).alias("_nn"),
        )
        # left join: a group missing the target's stats row (evolved-in
        # column) or its sum (unsummable stripe) must decode, not vanish
        j = cls.join(tgt, gkeys, "left")
        # all-null stripes (nn == 0 with a stats row) contribute zero
        # to SUM/COUNT without decoding; coalesce keeps meta_ok
        # boolean-valued when the stats row is missing entirely (a
        # null meta_ok would drop the stripe from BOTH halves)
        has_sum = (
            F.col("sum_int").isNotNull()
            | F.col("sum_num").isNotNull()
            | F.coalesce(F.col("_nn") == 0, F.lit(False))
        )
        meta_ok = F.col("_keep") & F.col("_all") & has_sum
        # ONE metadata action: totals + the loud missing-column check for
        # predicate columns (_presence_aggs) and the target (_tp)
        agg = j.agg(
            # decimal(38,0) accumulation: each stripe sum is bounded by
            # the encode-side 2^62 guard, but the TOTAL over stripes is
            # not — a plain long SUM would wrap silently past int64
            # while the driver fast path (unbounded Python ints) stays
            # exact. 38 digits ≈ 2^126 keeps ~2^64 stripes exact.
            F.sum(
                F.when(meta_ok, F.col("sum_int").cast("decimal(38,0)"))
            ).alias("s_int"),
            F.sum(F.when(meta_ok, F.col("sum_num"))).alias("s_num"),
            F.sum(F.when(meta_ok, F.col("_nn"))).alias("nn"),
            F.sum(F.when(meta_ok, 1).otherwise(0)).alias("n_meta"),
            F.sum(
                F.when(F.col("_keep") & ~meta_ok, 1).otherwise(0)
            ).alias("n_decode"),
            F.count(F.col("_nn")).alias("_tp"),
            *_presence_aggs(predicate),
        ).first()
        _raise_missing(agg, predicate, run_id)
        if int(agg._tp or 0) == 0:
            raise ValueError(
                f"no stats rows for column(s) [{column!r}] in run "
                f"{run_id!r} — decode-and-aggregate instead"
            )
        s_int = int(agg.s_int) if agg.s_int is not None else None
        s_num = float(agg.s_num) if agg.s_num is not None else None
        meta_nn = int(agg.nn or 0)
        n_meta = int(agg.n_meta or 0)
        n_decode = int(agg.n_decode or 0)
        only = None
    if s_int is not None and s_num is not None:
        raise ValueError(
            f"column {column!r} carries sums in BOTH stat families — "
            "mixed-type stripes; decode-and-aggregate instead"
        )
    meta_sum = s_int if s_int is not None else s_num
    detail = {
        "n_all": n_meta,
        "n_mixed": n_decode,
        "rows_from_metadata": meta_nn,
    }
    dec_sum, dec_nn = None, 0
    if n_decode:
        if only is None:
            mixed = j.filter(F.col("_keep") & ~meta_ok).select(*gkeys)
            if n_decode <= zonemap._PUSHDOWN_MAX_GROUPS:
                only = [
                    (r.partition_id, r.epoch, r.stripe_idx)
                    for r in mixed.collect()
                ]
            else:
                only = mixed
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, need, predicate, only
        )
        if predicate:
            dec = dec.filter(zonemap.predicate_expr(predicate))
        from pyspark.sql.types import (
            ByteType, IntegerType, LongType, ShortType,
        )

        # integral leaves aggregate in decimal(38,0) so the decode
        # residue stays exact past int64 (Spark's long SUM wraps),
        # mirroring the decimal accumulation on the metadata side
        leaf = _nested_field_type(result_schema, column)
        scol = (
            F.col(column).cast("decimal(38,0)")
            if isinstance(leaf, (ByteType, ShortType, IntegerType, LongType))
            else F.col(column)
        )
        row = dec.agg(
            F.sum(scol).alias("s"), F.count(column).alias("c")
        ).first()
        dec_sum = row.s
        dec_nn = int(row.c)
        if dec_sum is not None and not isinstance(dec_sum, (int, float)):
            # Decimal: exact int for the integral path, float for
            # genuine decimal columns
            dec_sum = (
                int(dec_sum)
                if isinstance(
                    leaf, (ByteType, ShortType, IntegerType, LongType)
                )
                else float(dec_sum)
            )
    total_nn = meta_nn + dec_nn
    if meta_sum is None:
        total = dec_sum
    elif dec_sum is None:
        total = meta_sum
    else:
        total = meta_sum + dec_sum
    return total, total_nn, detail


def metadata_count_dnf(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    result_schema,
    branches: list,
) -> tuple[int, dict]:
    """EXACT ``COUNT(*) WHERE (b1) OR (b2) OR ...`` — the DNF
    completion of :func:`metadata_count`: every stripe group is
    classified per BRANCH (zonemap keep/ALL proofs), and

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
    if not branches or not all(branches):
        raise ValueError("DNF count needs >= 1 non-empty branch")
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone-stat counts "
            "describe the encoded rows; compact the run first"
        )
    pcols = sorted({c for br in branches for c, _, _ in br})
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in pcols}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(pcols)
    )
    present = {
        r.column for r in meta.select("column").distinct().collect()
    }
    missing = sorted(set(pcols) - present)
    if missing:
        raise ValueError(
            f"no stats rows for predicate column(s) {missing} in run "
            f"{run_id!r} — decode-and-aggregate instead"
        )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    joined = None
    hit_cols = []
    for bi, br in enumerate(branches):
        cls_b = _classify_pred_groups(
            meta, br, gkeys, pins=_temporal_pins(result_schema, br)
        ).select(
            *gkeys,
            F.col("n_rows").alias(f"_nr{bi}"),
            (F.col("_keep") & F.col("_all")).alias(f"_ba{bi}"),
            F.col("_keep").alias(f"_bk{bi}"),
        )
        hit_cols.append(bi)
        joined = cls_b if joined is None else joined.join(cls_b, gkeys)
    any_all = F.lit(False)
    any_keep = F.lit(False)
    for bi in hit_cols:
        any_all = any_all | F.col(f"_ba{bi}")
        any_keep = any_keep | F.col(f"_bk{bi}")
    agg = joined.agg(
        F.sum(F.when(any_all, F.col("_nr0"))).alias("meta_rows"),
        F.sum(F.when(any_all, 1).otherwise(0)).alias("n_all"),
        F.sum(F.when(any_keep & ~any_all, 1).otherwise(0)).alias("n_mixed"),
    ).first()
    meta_rows = int(agg.meta_rows or 0)
    n_mixed = int(agg.n_mixed or 0)
    mixed_count = 0
    if n_mixed:
        mixed = joined.filter(any_keep & ~any_all).select(*gkeys)
        only: object = mixed
        if n_mixed <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in mixed.collect()
            ]
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, pcols, None, only
        )
        mixed_count = dec.filter(
            zonemap.predicate_dnf_expr(branches)
        ).count()
    return meta_rows + mixed_count, {
        "n_all": int(agg.n_all or 0),
        "n_mixed": n_mixed,
        "rows_from_metadata": meta_rows,
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
    footer sum with zero data bytes (integral columns stay exact
    int64; floats fold in double), every-branch-NONE contribute
    nothing, the rest decode the union of predicate columns plus the
    target and sum row-level under the DNF residual. Groups whose
    target sum is missing from the footer (overflow-declined, NaN
    poisoning, pre-upgrade rows) decode — exact either way. SQL
    semantics: nulls skipped; all-matching-rows-null yields None.

    Returns (sum | None, {"n_all", "n_mixed", "from_metadata"}).
    """
    from pyspark.sql.types import (
        ByteType, IntegerType, LongType, ShortType,
    )

    if not branches or not all(branches):
        raise ValueError("DNF sum needs >= 1 non-empty branch")
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone-stat sums "
            "describe the encoded rows; compact the run first"
        )
    leaf = _nested_field_type(result_schema, column)
    int_sum = isinstance(leaf, (ByteType, ShortType, IntegerType, LongType))
    pcols = sorted({c for br in branches for c, _, _ in br} | {column})
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in pcols}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(pcols)
    )
    present = {
        r.column for r in meta.select("column").distinct().collect()
    }
    missing = sorted(set(pcols) - present)
    if missing:
        raise ValueError(
            f"no stats rows for column(s) {missing} in run {run_id!r} "
            "— decode-and-aggregate instead"
        )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    joined = None
    for bi, br in enumerate(branches):
        cls_b = _classify_pred_groups(
            meta, br, gkeys, pins=_temporal_pins(result_schema, br)
        ).select(
            *gkeys,
            (F.col("_keep") & F.col("_all")).alias(f"_ba{bi}"),
            F.col("_keep").alias(f"_bk{bi}"),
        )
        joined = cls_b if joined is None else joined.join(cls_b, gkeys)
    tgt = meta.filter(F.col("column") == column).select(
        *gkeys, "sum_int", "sum_num",
        (F.col("n_rows") - F.coalesce("null_count", F.lit(0))).alias("_nn"),
    )
    joined = joined.join(tgt, gkeys, "left")
    any_all = F.lit(False)
    any_keep = F.lit(False)
    for bi in range(len(branches)):
        any_all = any_all | F.col(f"_ba{bi}")
        any_keep = any_keep | F.col(f"_bk{bi}")
    s_col = F.col("sum_int") if int_sum else F.col("sum_num")
    has_sum = s_col.isNotNull() | (F.col("_nn") == 0)
    meta_ok = any_all & has_sum
    agg = joined.agg(
        F.sum(F.when(meta_ok, s_col)).alias("s"),
        F.sum(F.when(meta_ok & (F.col("_nn") > 0), F.col("_nn"))).alias("nn"),
        F.sum(F.when(meta_ok, 1).otherwise(0)).alias("n_all"),
        F.sum(F.when(any_keep & ~meta_ok, 1).otherwise(0)).alias("n_mixed"),
    ).first()
    meta_sum = agg.s
    meta_nn = int(agg.nn or 0)
    n_mixed = int(agg.n_mixed or 0)
    dec_sum = None
    dec_cnt = 0
    if n_mixed:
        mixed = joined.filter(any_keep & ~meta_ok).select(*gkeys)
        only: object = mixed
        if n_mixed <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in mixed.collect()
            ]
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, pcols, None, only
        ).filter(zonemap.predicate_dnf_expr(branches))
        row = dec.agg(
            F.sum(column).alias("s"), F.count(column).alias("c")
        ).first()
        dec_sum = row.s
        dec_cnt = int(row.c or 0)
    parts = [x for x in (meta_sum, dec_sum) if x is not None]
    total = sum(parts) if (meta_nn + dec_cnt) > 0 else None
    return total, {
        "n_all": int(agg.n_all or 0),
        "n_mixed": n_mixed,
        "from_metadata": meta_sum,
    }


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
        ByteType, DateType, DoubleType, FloatType, IntegerType,
        LongType, ShortType, StringType, TimestampNTZType, TimestampType,
    )

    if not branches or not all(branches):
        raise ValueError("DNF minmax needs >= 1 non-empty branch")
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone stats "
            "describe the encoded rows; compact the run first"
        )
    leaf = _nested_field_type(result_schema, column)
    if isinstance(leaf, StringType):
        fam = "str"
        rebuild = lambda c: c  # noqa: E731
    elif isinstance(leaf, (ByteType, ShortType, IntegerType, LongType)):
        fam = "int"
        rebuild = lambda c: c.cast(leaf)  # noqa: E731
    elif isinstance(leaf, TimestampType):
        fam = "int"
        rebuild = F.timestamp_micros
    elif isinstance(leaf, TimestampNTZType):
        # NTZ rebuilds DRIVER-side, tz-free (epoch-us of the naive
        # value back to a naive datetime — no session-timezone cast,
        # the same concern that keeps NTZ out of group purity)
        fam = "int"
        rebuild = "ntz"
    elif isinstance(leaf, DateType):
        fam = "int"
        rebuild = lambda c: F.date_from_unix_date(c.cast("int"))  # noqa: E731
    elif isinstance(leaf, (FloatType, DoubleType)):
        fam = "num"
        rebuild = lambda c: c  # noqa: E731
    else:
        raise ValueError(
            f"column {column!r} is {leaf} — MIN/MAX pushdown covers "
            "int/float/string/timestamp/date leaves"
        )
    pcols = sorted({c for br in branches for c, _, _ in br} | {column})
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in pcols}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(pcols)
    )
    present = {
        r.column for r in meta.select("column").distinct().collect()
    }
    missing = sorted(set(pcols) - present)
    if missing:
        raise ValueError(
            f"no stats rows for column(s) {missing} in run {run_id!r} "
            "— decode-and-aggregate instead"
        )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    joined = None
    for bi, br in enumerate(branches):
        cls_b = _classify_pred_groups(
            meta, br, gkeys, pins=_temporal_pins(result_schema, br)
        ).select(
            *gkeys,
            (F.col("_keep") & F.col("_all")).alias(f"_ba{bi}"),
            F.col("_keep").alias(f"_bk{bi}"),
        )
        joined = cls_b if joined is None else joined.join(cls_b, gkeys)
    tgt = meta.filter(F.col("column") == column).select(
        *gkeys,
        F.col(f"min_{fam}").alias("_mn"),
        F.col(f"max_{fam}").alias("_mx"),
        F.coalesce("stat_exact", F.lit(True)).alias("_ex"),
        (F.col("n_rows") - F.coalesce("null_count", F.lit(0))).alias("_nn"),
    )
    joined = joined.join(tgt, gkeys, "left")
    any_all = F.lit(False)
    any_keep = F.lit(False)
    for bi in range(len(branches)):
        any_all = any_all | F.col(f"_ba{bi}")
        any_keep = any_keep | F.col(f"_bk{bi}")
    has_stat = (
        F.col("_mn").isNotNull() & F.col("_mx").isNotNull() & F.col("_ex")
    ) | (F.col("_nn") == 0)
    meta_ok = any_all & has_stat
    agg = joined.agg(
        F.min(F.when(meta_ok, F.col("_mn"))).alias("mn"),
        F.max(F.when(meta_ok, F.col("_mx"))).alias("mx"),
        F.sum(F.when(meta_ok & (F.col("_nn") > 0), F.col("_nn"))).alias("nn"),
        F.sum(F.when(meta_ok, 1).otherwise(0)).alias("n_all"),
        F.sum(F.when(any_keep & ~meta_ok, 1).otherwise(0)).alias("n_mixed"),
    ).first()
    n_mixed = int(agg.n_mixed or 0)
    dec_mn = dec_mx = None
    dec_cnt = 0
    if n_mixed:
        mixed = joined.filter(any_keep & ~meta_ok).select(*gkeys)
        only: object = mixed
        if n_mixed <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in mixed.collect()
            ]
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, pcols, None, only
        ).filter(zonemap.predicate_dnf_expr(branches))
        row = dec.agg(
            F.min(column).alias("mn"), F.max(column).alias("mx"),
            F.count(column).alias("c"),
        ).first()
        dec_mn, dec_mx, dec_cnt = row.mn, row.mx, int(row.c or 0)
    # fold halves: metadata bounds rebuild through the leaf type
    have_meta = int(agg.nn or 0) > 0
    mrow = None
    if have_meta and rebuild == "ntz":
        import datetime as _dt

        _epoch = _dt.datetime(1970, 1, 1)

        class _R:  # tiny holder matching the Row access below
            a = _epoch + _dt.timedelta(microseconds=int(agg.mn))
            b = _epoch + _dt.timedelta(microseconds=int(agg.mx))

        mrow = _R
    elif have_meta:
        mrow = spark.createDataFrame(
            [(agg.mn, agg.mx)], "a " + ("string" if fam == "str" else
                                        "long" if fam == "int" else
                                        "double") + ", b " +
            ("string" if fam == "str" else
             "long" if fam == "int" else "double"),
        ).select(rebuild(F.col("a")).alias("a"),
                 rebuild(F.col("b")).alias("b")).first()
    cands_mn = [x for x in ((mrow.a if mrow else None), dec_mn)
                if x is not None]
    cands_mx = [x for x in ((mrow.b if mrow else None), dec_mx)
                if x is not None]
    total_mn = min(cands_mn) if cands_mn else None
    total_mx = max(cands_mx) if cands_mx else None
    return total_mn, total_mx, {
        "n_all": int(agg.n_all or 0),
        "n_mixed": n_mixed,
        "from_metadata": have_meta,
    }


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

    Scale shape: two aggregates over the blob-free metadata table (the
    second needs the global mean from the first) plus the shared
    restricted boundary decode — at 10^12 rows a metadata-scale job,
    never a data scan.

    Returns dict(count, avg, var_pop, var_samp, stddev_pop,
    stddev_samp, detail); the variance keys are None when count < 1
    (< 2 for the sample forms), matching SQL.
    """
    from pyspark.sql.types import (
        ByteType, DoubleType, FloatType, IntegerType, LongType,
        ShortType,
    )

    leaf = _nested_field_type(result_schema, column)
    if not isinstance(
        leaf, (ByteType, ShortType, IntegerType, LongType,
               FloatType, DoubleType)
    ):
        raise ValueError(
            f"column {column!r} is {leaf} — VAR/STDDEV needs a numeric "
            "leaf (int or float)"
        )
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone-stat moments "
            "describe the encoded rows; compact the run first"
        )
    predicate = predicate or []
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {column})
    stripes = read_stripes(spark, out_dir, run_id)
    # key-equality fast path (see metadata_count): partitions other
    # than the key literal's own cannot hold predicate-matching rows
    key_pids = _key_partition_restriction(
        spark, out_dir, run_id, result_schema, predicate
    )
    if key_pids is not None:
        stripes = stripes.filter(F.col("partition_id").isin(key_pids))
    want_tops = {c.partition(".")[0] for c in need}
    pins = _temporal_pins(result_schema, predicate)
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    # components: list of (n, sum, m2) driver-side — ONE per metadata
    # fold half + one for the decode residue (never per stripe)
    fast = _classify_driver(
        spark, out_dir, stripes, need, want_tops, predicate, pins,
        target=column,
    )
    comp_meta: list[tuple[int, float, float]] = []
    if fast is not None:
        groups, present, tgt_present = fast
        missing = sorted(
            {predicate[j][0] for j in range(len(predicate))
             if not present[j]}
        )
        if missing or not tgt_present:
            bad = missing or [column]
            raise ValueError(
                f"no stats rows for column(s) {bad} in run {run_id!r} "
                "— decode-and-aggregate instead"
            )
        n_meta = n_decode = 0
        only = []
        for k, g in groups.items():
            if not g["keep"]:
                continue
            s = g["sum_int"] if g["sum_int"] is not None else g["sum_num"]
            ok = (s is not None and g.get("m2") is not None) or g["nn"] == 0
            if g["all_"] and ok:
                n_meta += 1
                if g["nn"]:
                    comp_meta.append(
                        (int(g["nn"]), float(s), float(g["m2"]))
                    )
            else:
                only.append(k)
        n_decode = len(only)
        j = meta_ok = None
    else:
        meta = _epoch_keep_filter(
            spark, stripes, want_tops
        ).drop("data").filter(F.col("column").isin(need))
        if predicate:
            cls = _classify_pred_groups(meta, predicate, gkeys, pins=pins)
        else:
            cls = (
                meta.groupBy(*gkeys)
                .agg(F.max("n_rows").alias("n_rows"))
                .select(
                    *gkeys, "n_rows",
                    F.lit(True).alias("_keep"), F.lit(True).alias("_all"),
                )
            )
        tgt = meta.filter(F.col("column") == column).select(
            *gkeys,
            F.coalesce(
                F.col("sum_num"), F.col("sum_int").cast("double")
            ).alias("_s"),
            F.col("m2"),
            (F.col("n_rows") - F.coalesce("null_count", F.lit(0))).alias("_nn"),
        )
        j = cls.join(tgt, gkeys, "left")
        stats_ok = (
            (F.col("_s").isNotNull() & F.col("m2").isNotNull())
            | F.coalesce(F.col("_nn") == 0, F.lit(False))
        )
        meta_ok = F.col("_keep") & F.col("_all") & stats_ok
        agg = j.agg(
            F.sum(F.when(meta_ok, F.col("_s"))).alias("s"),
            F.sum(F.when(meta_ok, F.col("_nn"))).alias("nn"),
            F.sum(F.when(meta_ok, 1).otherwise(0)).alias("n_meta"),
            F.sum(
                F.when(F.col("_keep") & ~meta_ok, 1).otherwise(0)
            ).alias("n_decode"),
            F.count(F.col("_nn")).alias("_tp"),
            *_presence_aggs(predicate),
        ).first()
        _raise_missing(agg, predicate, run_id)
        if int(agg._tp or 0) == 0:
            raise ValueError(
                f"no stats rows for column(s) [{column!r}] in run "
                f"{run_id!r} — decode-and-aggregate instead"
            )
        n_meta = int(agg.n_meta or 0)
        n_decode = int(agg.n_decode or 0)
        only = None
    # decode residue as ONE component
    comp_dec: tuple[int, float, float] | None = None
    if n_decode:
        if only is None:
            mixed = j.filter(F.col("_keep") & ~meta_ok).select(*gkeys)
            if n_decode <= zonemap._PUSHDOWN_MAX_GROUPS:
                only = [
                    (r.partition_id, r.epoch, r.stripe_idx)
                    for r in mixed.collect()
                ]
            else:
                only = mixed
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, need, predicate, only
        )
        if predicate:
            dec = dec.filter(zonemap.predicate_expr(predicate))
        row = dec.agg(
            F.count(column).alias("c"),
            F.sum(F.col(column).cast("double")).alias("s"),
            F.var_pop(F.col(column).cast("double")).alias("v"),
        ).first()
        if int(row.c):
            comp_dec = (
                int(row.c), float(row.s), float(row.v or 0.0) * int(row.c)
            )
    # --- Chan merge across components ---------------------------------
    if fast is not None:
        comps = comp_meta + ([comp_dec] if comp_dec else [])
        total_n = sum(c[0] for c in comps)
        total_s = sum(c[1] for c in comps)
        mean = (total_s / total_n) if total_n else None
        m2_total = (
            sum(c[2] + c[0] * (c[1] / c[0] - mean) ** 2 for c in comps)
            if total_n else None
        )
    else:
        nn_meta = int(agg.nn or 0)
        s_meta = float(agg.s) if agg.s is not None else 0.0
        total_n = nn_meta + (comp_dec[0] if comp_dec else 0)
        total_s = s_meta + (comp_dec[1] if comp_dec else 0.0)
        mean = (total_s / total_n) if total_n else None
        m2_total = None
        if total_n:
            # second metadata action: the correction term needs the
            # global mean — still a blob-free metadata-table aggregate
            corr = j.filter(meta_ok & (F.col("_nn") > 0)).agg(
                F.sum("m2").alias("m2s"),
                F.sum(
                    F.col("_nn")
                    * F.pow(F.col("_s") / F.col("_nn") - F.lit(mean), 2)
                ).alias("adj"),
            ).first()
            m2_total = float(corr.m2s or 0.0) + float(corr.adj or 0.0)
            if comp_dec:
                c, s, m2 = comp_dec
                m2_total += m2 + c * (s / c - mean) ** 2
    detail = {"n_all": n_meta, "n_mixed": n_decode}
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
        "detail": detail,
    }


def _group_purity_view(meta, result_schema, group_col: str, gkeys):
    """(gview, leaf_type): per-stripe group-column purity + the single
    typed group value, from the zone stats. A stripe is PURE when the
    group column is single-valued (zone min == max), null-free, and
    its stats are exact. The LEAF type drives the stat family even for
    dotted keys (nested stats rows ride the parent's stripes under the
    dotted name); unresolvable paths / float / decimal / nested-
    container keys fall through to pure=False — their stripes decode,
    exact either way. TimestampNTZType is deliberately excluded:
    rebuilding an NTZ key from epoch-us goes through a session-
    timezone-sensitive cast, so NTZ keys classify impure and decode."""
    from pyspark.sql.types import (
        BooleanType, ByteType, DateType, IntegerType, LongType,
        ShortType, StringType, TimestampType,
    )

    gtype = _nested_field_type(result_schema, group_col)
    ghit = meta.filter(F.col("column") == group_col)
    if isinstance(gtype, StringType):
        pure = F.col("min_str").isNotNull() & (
            F.col("min_str") == F.col("max_str")
        )
        gval = F.col("min_str")
    elif isinstance(
        gtype, (ByteType, ShortType, IntegerType, LongType, BooleanType,
                TimestampType, DateType)
    ):
        pure = F.col("min_int").isNotNull() & (
            F.col("min_int") == F.col("max_int")
        )
        if isinstance(gtype, TimestampType):
            gval = F.timestamp_micros(F.col("min_int"))
        elif isinstance(gtype, DateType):
            gval = F.date_from_unix_date(F.col("min_int").cast("int"))
        elif isinstance(gtype, BooleanType):
            gval = F.col("min_int") == 1
        else:
            gval = F.col("min_int").cast(gtype)
    else:
        pure = F.lit(False)
        gval = F.lit(None).cast(gtype) if gtype is not None else F.lit(None)
    gview = ghit.select(
        *gkeys,
        (
            pure
            & (F.coalesce("null_count", F.lit(1)) == 0)
            & F.coalesce("stat_exact", F.lit(True))
        ).alias("_pure"),
        gval.alias("_gval"),
    )
    return gview, gtype


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
    stripe is single-valued in the key, so the whole GROUP BY costs a
    metadata aggregation plus the run-boundary stripes where two
    groups meet inside one stripe; impure / predicate-MIXED /
    sum-less stripes decode through the restricted predicated path
    and re-aggregate row-level — exact by construction, never
    estimated. Group keys come back typed via the stat family
    (string/min_str, integral & temporal/min_int, float/min_num) so
    metadata rows and decoded rows merge in one final groupBy. Live
    deletes raise (stats describe encoded rows).

    Returns a DataFrame (group_col, cnt, [<agg>_<agg_col>]) — cnt is
    COUNT(*) of the group's predicate-matching rows.
    """
    from pyspark.sql.types import (
        BooleanType, ByteType, DateType, DoubleType, FloatType,
        IntegerType, LongType, ShortType, StringType, TimestampType,
    )

    if agg not in ("sum", "min", "max"):
        raise ValueError(f"agg must be 'sum', 'min' or 'max', got {agg!r}")
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone-stat group "
            "aggregates describe the encoded rows; compact the run first"
        )
    predicate = predicate or []
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {group_col} | ({agg_col} if agg_col else set()))
    by_name = {f.name: f for f in result_schema.fields}
    gf = by_name.get(group_col.partition(".")[0])
    if gf is None:
        raise ValueError(f"group column {group_col!r} not in result_schema")
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in need}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(need)
    )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    if predicate:
        cls = _classify_pred_groups(
            meta, predicate, gkeys,
            pins=_temporal_pins(result_schema, predicate),
        )
    else:
        cls = (
            meta.groupBy(*gkeys)
            .agg(F.max("n_rows").alias("n_rows"))
            .select(
                *gkeys, "n_rows",
                F.lit(True).alias("_keep"), F.lit(True).alias("_all"),
            )
        )
    gview, gtype = _group_purity_view(meta, result_schema, group_col, gkeys)
    j = cls.join(gview, gkeys, "left")
    j = j.withColumn("_pure", F.coalesce("_pure", F.lit(False)))
    int_agg = False
    if agg_col:
        # classify by the LEAF type — a dotted agg_col's top-level
        # field is a StructType, which would misroute an integer leaf
        # onto the float family (sum_num is null for int leaves:
        # pushdown dead, decode sums in double, exactness lost)
        atype = _nested_field_type(result_schema, agg_col)
        if atype is None:
            raise ValueError(f"agg column {agg_col!r} not in result_schema")
        int_agg = isinstance(
            atype, (ByteType, ShortType, IntegerType, LongType)
        )
        if agg == "sum":
            tgt = meta.filter(F.col("column") == agg_col).select(
                *gkeys, "sum_int", "sum_num",
                # an all-null agg stripe has no recorded sum but
                # contributes its rows to cnt with a null summand
                # (SQL SUM skips nulls) — no decode needed
                (
                    F.coalesce("null_count", F.lit(0)) == F.col("n_rows")
                ).alias("_aallnull"),
            )
            j = j.join(tgt, gkeys, "left")
            # the agg column's type picks the stat family — int sums
            # stay exact int64 end-to-end, float sums stay double
            has_sum = (
                F.col("sum_int").isNotNull()
                if int_agg
                else F.col("sum_num").isNotNull()
            ) | F.coalesce("_aallnull", F.lit(False))
        else:
            # MIN/MAX: zone bounds ARE the contribution. Family +
            # leaf-type rebuild mirror the group-key logic above;
            # TimestampNTZType is excluded for the same tz-cast
            # reason, decimals for their widened (inexact) bounds.
            if isinstance(
                atype, (ByteType, ShortType, IntegerType, LongType,
                        BooleanType, TimestampType, DateType)
            ):
                fam = "int"
            elif isinstance(atype, (FloatType, DoubleType)):
                fam = "num"
            elif isinstance(atype, StringType):
                fam = "str"
            else:
                fam = None
            if fam is not None:
                tgt = meta.filter(F.col("column") == agg_col).select(
                    *gkeys,
                    F.col(f"min_{fam}").alias("_amin"),
                    F.col(f"max_{fam}").alias("_amax"),
                    F.coalesce("stat_exact", F.lit(True)).alias("_aexact"),
                    # an all-null agg stripe has no bounds but still
                    # contributes its rows to cnt; MIN/MAX over it is
                    # SQL-null, exactly what the fold produces
                    (
                        F.coalesce("null_count", F.lit(0))
                        == F.col("n_rows")
                    ).alias("_aallnull"),
                )
                j = j.join(tgt, gkeys, "left")
                has_sum = (
                    F.col("_amin").isNotNull()
                    & F.col("_amax").isNotNull()
                    & F.col("_aexact")
                ) | F.coalesce("_aallnull", F.lit(False))
            else:
                has_sum = F.lit(False)  # decode everything: exact
                # typed null placeholders keep the (never-matching)
                # metadata fold analyzable
                j = (
                    j.withColumn("_amin", F.lit(None))
                    .withColumn("_amax", F.lit(None))
                )
    else:
        has_sum = F.lit(True)

    def _mm_leaf(src):
        """Rebuild the leaf-typed value from its int/num/str stat."""
        if isinstance(atype, TimestampType):
            return F.timestamp_micros(src)
        if isinstance(atype, DateType):
            return F.date_from_unix_date(src.cast("int"))
        if isinstance(atype, BooleanType):
            return src == 1
        if isinstance(atype, StringType):
            return src
        return src.cast(atype)
    meta_ok = F.col("_keep") & F.col("_all") & F.col("_pure") & has_sum
    # metadata contribution: one (group, cnt[, sum]) row per pure
    # stripe. Int sums accumulate in decimal(38,0): per-stripe sums
    # are int64-bounded by the encode guard but the per-GROUP total is
    # not, and a plain long SUM would wrap silently. Grouping rides an
    # internal key name (_gkey) so dotted group columns never hit
    # Spark's unresolvable-literal-dotted-name groupBy.
    maggs = [F.sum("n_rows").alias("cnt")]
    if agg_col:
        if agg == "sum":
            maggs.append(
                F.sum(
                    F.col("sum_int").cast("decimal(38,0)")
                    if int_agg else F.col("sum_num")
                ).alias("_msum")
            )
        else:
            mfold = F.min if agg == "min" else F.max
            msrc = F.col("_amin" if agg == "min" else "_amax")
            maggs.append(mfold(_mm_leaf(msrc)).alias("_msum"))
    meta_part = (
        j.filter(meta_ok).groupBy("_gval").agg(*maggs)
        .withColumnRenamed("_gval", "_gkey")
    )
    decode_groups = j.filter(F.col("_keep") & ~meta_ok).select(*gkeys)
    # ONE metadata action: the decode-set size + the loud
    # missing-column check for predicate columns. A stat-less group
    # or agg column merely classifies its stripes impure/sum-less —
    # they decode and the result stays exact.
    chk = j.agg(
        F.sum(F.when(F.col("_keep") & ~meta_ok, 1).otherwise(0)).alias("_nd"),
        *_presence_aggs(predicate),
    ).first()
    _raise_missing(chk, predicate, run_id)
    n_decode = int(chk._nd or 0)
    dec_part = None
    if n_decode:
        if n_decode <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in decode_groups.collect()
            ]
        else:
            only = decode_groups
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, need, predicate, only
        )
        if predicate:
            dec = dec.filter(zonemap.predicate_expr(predicate))
        daggs = [F.count(F.lit(1)).alias("cnt")]
        if agg_col:
            if agg == "sum":
                dval = F.sum(
                    F.col(agg_col).cast(
                        "decimal(38,0)" if int_agg else "double"
                    )
                )
            else:
                dval = (F.min if agg == "min" else F.max)(F.col(agg_col))
            daggs.append(dval.alias("_msum"))
        dec_part = dec.groupBy(F.col(group_col).alias("_gkey")).agg(*daggs)
    both = meta_part if dec_part is None else meta_part.unionByName(dec_part)
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
    through the restricted path and contribute row-level components
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
    from pyspark.sql.types import (
        ByteType, DoubleType, FloatType, IntegerType, LongType,
        ShortType,
    )

    leaf = _nested_field_type(result_schema, agg_col)
    if not isinstance(
        leaf, (ByteType, ShortType, IntegerType, LongType,
               FloatType, DoubleType)
    ):
        raise ValueError(
            f"column {agg_col!r} is {leaf} — VAR/STDDEV needs a numeric "
            "leaf (int or float)"
        )
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone-stat moments "
            "describe the encoded rows; compact the run first"
        )
    predicate = predicate or []
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {group_col, agg_col})
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in need}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(need)
    )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    if predicate:
        cls = _classify_pred_groups(
            meta, predicate, gkeys,
            pins=_temporal_pins(result_schema, predicate),
        )
    else:
        cls = (
            meta.groupBy(*gkeys)
            .agg(F.max("n_rows").alias("n_rows"))
            .select(
                *gkeys, "n_rows",
                F.lit(True).alias("_keep"), F.lit(True).alias("_all"),
            )
        )
    gview, gtype = _group_purity_view(meta, result_schema, group_col, gkeys)
    tgt = meta.filter(F.col("column") == agg_col).select(
        *gkeys,
        F.coalesce(
            F.col("sum_num"), F.col("sum_int").cast("double")
        ).alias("_s"),
        F.col("m2"),
        (F.col("n_rows") - F.coalesce("null_count", F.lit(0))).alias("_nn"),
    )
    j = (
        cls.join(gview, gkeys, "left")
        .withColumn("_pure", F.coalesce("_pure", F.lit(False)))
        .join(tgt, gkeys, "left")
    )
    stats_ok = (
        (F.col("_s").isNotNull() & F.col("m2").isNotNull())
        | F.coalesce(F.col("_nn") == 0, F.lit(False))
    )
    meta_ok = F.col("_keep") & F.col("_all") & F.col("_pure") & stats_ok
    pres = j.agg(
        F.count(F.col("_nn")).alias("_tp"), *_presence_aggs(predicate)
    ).first()
    _raise_missing(pres, predicate, run_id)
    if int(pres._tp or 0) == 0:
        raise ValueError(
            f"no stats rows for column(s) [{agg_col!r}] in run "
            f"{run_id!r} — decode-and-aggregate instead"
        )
    comp_meta = (
        j.filter(meta_ok & (F.col("_nn") > 0))
        .select(
            F.col("_gval").alias("_g"),
            F.col("_nn").cast("double").alias("_n"),
            F.col("_s"),
            F.col("m2").alias("_m2"),
        )
    )
    mixed = j.filter(F.col("_keep") & ~meta_ok).select(*gkeys)
    n_decode = mixed.count()
    comps = comp_meta
    if n_decode:
        only: object = mixed
        if n_decode <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in mixed.collect()
            ]
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, need, predicate, only
        )
        if predicate:
            dec = dec.filter(zonemap.predicate_expr(predicate))
        av = F.col(agg_col).cast("double")
        comp_dec = (
            dec.groupBy(F.col(group_col).alias("_g"))
            .agg(
                F.count(av).cast("double").alias("_n"),
                F.sum(av).alias("_s"),
                (F.var_pop(av) * F.count(av)).alias("_m2"),
            )
            .filter(F.col("_n") > 0)
        )
        comps = comp_meta.unionByName(comp_dec)
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
    the restricted decode path — exact either way, never estimated.
    NULL is a group (SQL semantics): histogram stripes contribute
    their footer null_count to it. Per-stripe coverage is gated loudly
    in-fold (sum of counts + nulls must equal n_rows). Live deletes
    raise (stats describe encoded rows).

    Scale shape: the metadata half is one blob-free stripes scan →
    explode of ≤ VCS_CAP pairs per stripe (Arrow-batched pandas UDF)
    → groupBy(value); at 10^12 rows that is a metadata-table job ~5
    orders of magnitude smaller than the data. Returns
    (column, cnt).
    """
    from pyspark.sql.types import (
        ArrayType, BooleanType, ByteType, DateType, IntegerType,
        LongType, ShortType, StringType, StructField as SF,
        StructType as ST, TimestampType,
    )

    from . import vcounts as vcounts_mod

    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — footer histograms "
            "describe the encoded rows; compact the run first"
        )
    predicate = predicate or []
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {column})
    ltype = _nested_field_type(result_schema, column)
    if ltype is None:
        raise ValueError(f"column {column!r} not in result_schema")
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in need}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(need)
    )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    if predicate:
        cls = _classify_pred_groups(
            meta, predicate, gkeys,
            pins=_temporal_pins(result_schema, predicate),
        )
    else:
        cls = (
            meta.groupBy(*gkeys)
            .agg(F.max("n_rows").alias("n_rows"))
            .select(
                *gkeys, "n_rows",
                F.lit(True).alias("_keep"), F.lit(True).alias("_all"),
            )
        )
    tgt = meta.filter(F.col("column") == column).select(
        *gkeys, "vcs",
        F.coalesce("null_count", F.lit(0)).alias("_nulls"),
        F.col("n_rows").alias("_trows"),
    )
    j = cls.join(tgt, gkeys, "left")
    meta_ok = F.col("_keep") & F.col("_all") & F.col("vcs").isNotNull()

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

    def _leaf(src):
        if isinstance(ltype, TimestampType):
            return F.timestamp_micros(src)
        if isinstance(ltype, DateType):
            return F.date_from_unix_date(src.cast("int"))
        if isinstance(ltype, BooleanType):
            return src == 1
        if isinstance(ltype, StringType):
            return src
        if isinstance(ltype, (ByteType, ShortType, IntegerType, LongType)):
            return src.cast(ltype)
        return src  # unreachable: such columns never store vcs

    mrows = (
        j.filter(meta_ok)
        .withColumn("_p", _pairs("vcs", "_nulls", "_trows"))
        .select(F.explode_outer("_p").alias("_pair"))
    )
    meta_part = (
        mrows.select(
            _leaf(F.col("_pair.v")).alias("_gkey"),
            F.col("_pair.c").alias("cnt"),
        )
        .where(F.col("cnt").isNotNull())
        .groupBy("_gkey").agg(F.sum("cnt").alias("cnt"))
    )
    null_part = (
        j.filter(meta_ok & (F.col("_nulls") > 0))
        .agg(F.sum("_nulls").alias("cnt"))
        .select(F.lit(None).cast(ltype).alias("_gkey"), "cnt")
        .where(F.col("cnt").isNotNull())
    )
    decode_groups = j.filter(F.col("_keep") & ~meta_ok).select(*gkeys)
    chk = j.agg(
        F.sum(F.when(F.col("_keep") & ~meta_ok, 1).otherwise(0)).alias("_nd"),
        *_presence_aggs(predicate),
    ).first()
    _raise_missing(chk, predicate, run_id)
    n_decode = int(chk._nd or 0)
    parts = meta_part.unionByName(null_part)
    if n_decode:
        if n_decode <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in decode_groups.collect()
            ]
        else:
            only = decode_groups
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, need, predicate, only
        )
        if predicate:
            dec = dec.filter(zonemap.predicate_expr(predicate))
        dec_part = dec.groupBy(F.col(column).alias("_gkey")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        parts = parts.unionByName(dec_part)
    return (
        parts.groupBy("_gkey").agg(F.sum("cnt").cast("long").alias("cnt"))
        .withColumnRenamed("_gkey", column)
    )


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
    independent of the value distribution. Stripes the classifier
    proves predicate-ALL contribute their per-stripe order-statistic
    sketch (engine/quantiles.py) with ZERO data bytes; MIXED /
    unsketched (pre-upgrade) stripes decode through the restricted
    path and re-sketch per Arrow batch with exact gap weights. The
    returned value is always one actually recorded in the data, and
    its true rank is ≥ ceil(q·N) — the estimate can only land
    at-or-above the target rank, never below it.

    Distributed end-to-end: sketch points explode to (value, weight)
    rows (stripes × K, ~1000× smaller than the data), the prefix-sum
    runs as range-partitioned partials + a bounded per-partition
    offset collect, and all quantiles resolve in ONE final aggregate.
    No unbounded driver collect.

    Exact-or-loud: live deletes raise; a decoded batch whose values
    can't be sketched (NaN — engines disagree on its sort position)
    raises instead of returning a biased value. NULLs are excluded,
    SQL-style. Returns (q double, value <column's type>), one row per
    requested q.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ByteType, DateType, DoubleType, FloatType, IntegerType, LongType,
        ShortType, StructField, StructType, TimestampNTZType, TimestampType,
    )

    from . import quantiles as quantiles_mod

    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"qs must be in (0, 1], got {qs!r}")
    ltype = _nested_field_type(result_schema, column)
    if ltype is None:
        raise ValueError(f"column {column!r} not in result_schema")
    int_dom = isinstance(
        ltype, (ByteType, ShortType, IntegerType, LongType,
                TimestampType, TimestampNTZType, DateType)
    )
    if not int_dom and not isinstance(ltype, (FloatType, DoubleType)):
        raise ValueError(
            f"column {column!r} ({ltype.simpleString()}) has no quantile-"
            "sketch family — strings/decimals/bools decode instead"
        )
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — sketch percentiles "
            "describe the encoded rows; compact the run first"
        )
    predicate = predicate or []
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {column})
    stripes = read_stripes(spark, out_dir, run_id)
    # key-equality fast path (see metadata_count): partitions other
    # than the key literal's own cannot hold predicate-matching rows
    key_pids = _key_partition_restriction(
        spark, out_dir, run_id, result_schema, predicate
    )
    if key_pids is not None:
        stripes = stripes.filter(F.col("partition_id").isin(key_pids))
    want_tops = {c.partition(".")[0] for c in need}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(need)
    )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    if predicate:
        cls = _classify_pred_groups(
            meta, predicate, gkeys,
            pins=_temporal_pins(result_schema, predicate),
        )
    else:
        cls = (
            meta.groupBy(*gkeys)
            .agg(F.max("n_rows").alias("n_rows"))
            .select(
                *gkeys,
                F.lit(True).alias("_keep"), F.lit(True).alias("_all"),
            )
        )
    tgt = meta.filter(F.col("column") == column).select(
        *gkeys,
        F.col("qsk").alias("_qsk"),
        F.col("n_rows").alias("_qn"),
        F.coalesce("null_count", F.lit(0)).alias("_qnull"),
    )
    j = cls.join(tgt, gkeys, "left")
    # metadata half: predicate-ALL stripes with a sketch (an all-null
    # stripe's sketch is valid-and-empty, so it rides free); everything
    # else kept — MIXED, unsketched, pre-upgrade — decodes and
    # re-sketches exactly per batch
    meta_ok = F.col("_keep") & F.col("_all") & F.col("_qsk").isNotNull()
    chk = j.agg(
        F.sum(F.when(F.col("_keep") & ~meta_ok, 1).otherwise(0)).alias("_nd"),
        F.count(F.col("_qn")).alias("_tp"),
        *_presence_aggs(predicate),
    ).first()
    _raise_missing(chk, predicate, run_id)
    if int(chk._tp or 0) == 0:
        raise ValueError(f"no stripes for column {column!r} in run {run_id!r}")
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
        j.filter(meta_ok)
        .select("_qsk", "_qn", "_qnull")
        .mapInPandas(_explode, pt_schema)
    )
    n_decode = int(chk._nd or 0)
    if n_decode:
        decode_groups = j.filter(F.col("_keep") & ~meta_ok).select(*gkeys)
        if n_decode <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in decode_groups.collect()
            ]
        else:
            only = decode_groups
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, need,
            predicate or None, only,
        )
        if predicate:
            dec = dec.filter(zonemap.predicate_expr(predicate))
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
        ByteType, DateType, DoubleType, FloatType, IntegerType, LongType,
        ShortType, StructField, StructType, TimestampNTZType, TimestampType,
    )

    from . import quantiles as quantiles_mod

    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"qs must be in (0, 1], got {qs!r}")
    ltype = _nested_field_type(result_schema, pct_col)
    if ltype is None:
        raise ValueError(f"column {pct_col!r} not in result_schema")
    int_dom = isinstance(
        ltype, (ByteType, ShortType, IntegerType, LongType,
                TimestampType, TimestampNTZType, DateType)
    )
    if not int_dom and not isinstance(ltype, (FloatType, DoubleType)):
        raise ValueError(
            f"column {pct_col!r} ({ltype.simpleString()}) has no quantile-"
            "sketch family — strings/decimals/bools decode instead"
        )
    if _nested_field_type(result_schema, group_col) is None:
        raise ValueError(f"group column {group_col!r} not in result_schema")
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — sketch percentiles "
            "describe the encoded rows; compact the run first"
        )
    predicate = predicate or []
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {group_col, pct_col})
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in need}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(need)
    )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    if predicate:
        cls = _classify_pred_groups(
            meta, predicate, gkeys,
            pins=_temporal_pins(result_schema, predicate),
        )
    else:
        cls = (
            meta.groupBy(*gkeys)
            .agg(F.max("n_rows").alias("n_rows"))
            .select(
                *gkeys,
                F.lit(True).alias("_keep"), F.lit(True).alias("_all"),
            )
        )
    gview, gtype = _group_purity_view(meta, result_schema, group_col, gkeys)
    j = cls.join(gview, gkeys, "left")
    j = j.withColumn("_pure", F.coalesce("_pure", F.lit(False)))
    tgt = meta.filter(F.col("column") == pct_col).select(
        *gkeys,
        F.col("qsk").alias("_qsk"),
        F.col("n_rows").alias("_qn"),
        F.coalesce("null_count", F.lit(0)).alias("_qnull"),
    )
    j = j.join(tgt, gkeys, "left")
    meta_ok = (
        F.col("_keep") & F.col("_all") & F.col("_pure")
        & F.col("_qsk").isNotNull()
    )
    chk = j.agg(
        F.sum(F.when(F.col("_keep") & ~meta_ok, 1).otherwise(0)).alias("_nd"),
        F.count(F.col("_qn")).alias("_tp"),
        *_presence_aggs(predicate),
    ).first()
    _raise_missing(chk, predicate, run_id)
    if int(chk._tp or 0) == 0:
        raise ValueError(
            f"no stripes for column {pct_col!r} in run {run_id!r}"
        )
    vtype = LongType() if int_dom else DoubleType()
    # the metadata half's group key is the purity view's leaf-typed
    # single value — same Spark type the decode half produces
    ktype = gtype if gtype is not None else gview.schema["_gval"].dataType
    pt_schema = StructType(
        [
            StructField("_gkey", ktype, True),
            StructField("_v", vtype, False),
            StructField("_w", LongType(), False),
        ]
    )

    def _explode_g(pdfs):
        import numpy as np
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
        j.filter(meta_ok)
        .select("_gval", "_qsk", "_qn", "_qnull")
        .mapInPandas(_explode_g, pt_schema)
    )
    n_decode = int(chk._nd or 0)
    if n_decode:
        decode_groups = j.filter(F.col("_keep") & ~meta_ok).select(*gkeys)
        if n_decode <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in decode_groups.collect()
            ]
        else:
            only = decode_groups
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, need,
            predicate or None, only,
        )
        if predicate:
            dec = dec.filter(zonemap.predicate_expr(predicate))
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
    associative register-max merge per group — no driver collect at
    any size, groups never materialize their rows.

    Loud-or-approximate discipline (metadata_ndv's contract, grouped):
    live deletes raise; a metadata-half stripe without a sketch simply
    decodes, but a decode-half batch whose values can't be hashed
    (float/decimal) raises instead of under-counting.

    Returns (group_col, ndv_estimate double). COUNT(DISTINCT) skips
    SQL nulls, exactly like the hash streams do; NULL group keys form
    their own group.
    """
    from . import ndv as ndv_mod

    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — sketch NDV would "
            "count deleted rows; compact the run first"
        )
    predicate = predicate or []
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {group_col, ndv_col})
    if _nested_field_type(result_schema, group_col) is None:
        raise ValueError(f"group column {group_col!r} not in result_schema")
    if _nested_field_type(result_schema, ndv_col) is None:
        raise ValueError(f"ndv column {ndv_col!r} not in result_schema")
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in need}
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data").filter(
        F.col("column").isin(need)
    )
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    if predicate:
        cls = _classify_pred_groups(
            meta, predicate, gkeys,
            pins=_temporal_pins(result_schema, predicate),
        )
    else:
        cls = (
            meta.groupBy(*gkeys)
            .agg(F.max("n_rows").alias("n_rows"))
            .select(
                *gkeys, "n_rows",
                F.lit(True).alias("_keep"), F.lit(True).alias("_all"),
            )
        )
    gview, _ = _group_purity_view(meta, result_schema, group_col, gkeys)
    j = cls.join(gview, gkeys, "left")
    j = j.withColumn("_pure", F.coalesce("_pure", F.lit(False)))
    tgt = meta.filter(F.col("column") == ndv_col).select(
        *gkeys, F.col("ndv").alias("_sketch")
    )
    j = j.join(tgt, gkeys, "left")
    meta_ok = (
        F.col("_keep") & F.col("_all") & F.col("_pure")
        & F.col("_sketch").isNotNull()
    )
    meta_part = j.filter(meta_ok).select(
        F.col("_gval").alias("_gkey"),
        F.col("_sketch").alias("ndv_sketch"),
    )
    decode_groups = j.filter(F.col("_keep") & ~meta_ok).select(*gkeys)
    chk = j.agg(
        F.sum(F.when(F.col("_keep") & ~meta_ok, 1).otherwise(0)).alias("_nd"),
        *_presence_aggs(predicate),
    ).first()
    _raise_missing(chk, predicate, run_id)
    n_decode = int(chk._nd or 0)
    both = meta_part
    if n_decode:
        if n_decode <= zonemap._PUSHDOWN_MAX_GROUPS:
            only = [
                (r.partition_id, r.epoch, r.stripe_idx)
                for r in decode_groups.collect()
            ]
        else:
            only = decode_groups
        dec = _restricted_decode(
            spark, out_dir, run_id, result_schema, need,
            predicate or None, only,
        )
        if predicate:
            dec = dec.filter(zonemap.predicate_expr(predicate))
        dec_sk = ndv_mod.grouped_batch_sketches(
            dec.select(
                F.col(group_col).alias("_gkey"), F.col(ndv_col).alias("_val")
            )
        )
        both = meta_part.unionByName(dec_sk)
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
    pages" touches the last stripe per partition.

    ``tiebreak`` (default: none) is appended to the final sort for a
    deterministic order on ties — selection only concerns order_col.
    Returns the decoded top-k DataFrame in the requested column set.
    Live deletes raise (zone counts describe encoded rows).
    """
    from pyspark.sql.types import (
        ByteType, DateType, DoubleType, FloatType, IntegerType, LongType,
        ShortType, StringType, TimestampNTZType, TimestampType,
    )

    if k <= 0:
        raise ValueError("k must be positive")
    dstats = deletes_mod.delete_stats(spark, out_dir, run_id)
    if dstats["n_vectors"] or dstats["n_eq_values"]:
        raise ValueError(
            f"run {run_id!r} carries live deletes — zone-stat top-k "
            "describes the encoded rows; compact the run first"
        )
    predicate = predicate or []
    by_name = {f.name: f for f in result_schema.fields}
    of = by_name.get(order_col)
    if of is None:
        raise ValueError(f"order column {order_col!r} not in result_schema")
    if isinstance(of.dataType, StringType):
        mn, mx = "min_str", "max_str"
    elif isinstance(of.dataType, (FloatType, DoubleType)):
        mn, mx = "min_num", "max_num"
    elif isinstance(
        of.dataType,
        (ByteType, ShortType, IntegerType, LongType, TimestampType,
         TimestampNTZType, DateType),
    ):
        mn, mx = "min_int", "max_int"
    else:
        raise ValueError(
            f"order column type {of.dataType} has no zone family — "
            "decode-and-sort instead"
        )
    pcols = sorted({c for c, _, _ in predicate})
    need = sorted(set(pcols) | {order_col})
    want = sorted(
        set(columns or [f.name for f in result_schema.fields])
        | set(need) | ({tiebreak} if tiebreak else set())
    )
    stripes = read_stripes(spark, out_dir, run_id)
    want_tops = {c.partition(".")[0] for c in need}
    pins = _temporal_pins(result_schema, predicate)
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    meta = _epoch_keep_filter(spark, stripes, want_tops).drop("data")
    if predicate:
        cls = _classify_pred_groups(
            meta.filter(F.col("column").isin(need)), predicate, gkeys,
            pins=pins,
        ).filter(F.col("_keep")).select(*gkeys, "_all")
    else:
        cls = (
            meta.filter(F.col("column").isin(need))
            .groupBy(*gkeys).agg(F.max("n_rows").alias("n_rows"))
            .select(*gkeys, F.lit(True).alias("_all"))
        )
    ordstats = meta.filter(F.col("column") == order_col).select(
        *gkeys,
        F.col(mn).alias("_lo"), F.col(mx).alias("_hi"),
        (F.col("n_rows") - F.coalesce("null_count", F.lit(0))).alias("_nn"),
    )
    j = cls.join(ordstats, gkeys, "left")
    # the k-guarantee may count a group's rows ONLY when the predicate
    # provably holds for every row (_all) — a zone/bloom-keep MIXED
    # group might contain zero matching rows, and counting it could
    # push the threshold past the stripes holding the true top-k
    sdir = lineage_mod.stripes_dir(out_dir)
    if not storage.is_iceberg(sdir) and zonemap._driver_plan_budget_ok(sdir):
        # footer-budget fast path: one bounded collect (a row per kept
        # stripe group) and the threshold as a python sort
        rows = j.collect()
        bounded_all = [
            r for r in rows
            if r._all and r._lo is not None and r._hi is not None
        ]
        thresh = None
        if bounded_all:
            # guarantee list: DESC uses zone mins (every non-null row
            # of an ALL group is a MATCH >= its min), ASC uses maxes
            guar = sorted(
                ((r._lo if descending else r._hi), int(r._nn or 0))
                for r in bounded_all
            )
            if descending:
                guar = guar[::-1]
            total = 0
            for v, nn in guar:
                total += nn
                if total >= k:
                    thresh = v
                    break
        cands = []
        for r in rows:
            if r._lo is None or r._hi is None:
                cands.append((r.partition_id, r.epoch, r.stripe_idx))
                continue
            edge = r._hi if descending else r._lo
            if (
                thresh is None
                or (edge >= thresh if descending else edge <= thresh)
            ):
                cands.append((r.partition_id, r.epoch, r.stripe_idx))
        only = [(int(p), int(e), int(s)) for p, e, s in cands]
    else:
        # distributed threshold (100 TB route — stripe-group metadata
        # outgrows the driver): running-sum window over the guarantee
        # bound, ONE scalar to the driver, candidates stay a DataFrame
        # (decode_job semi-joins them)
        from pyspark.sql import Window

        gb = F.col("_lo") if descending else F.col("_hi")
        w = Window.orderBy(gb.desc() if descending else gb.asc())
        trow = (
            j.filter(
                F.col("_all")
                & F.col("_lo").isNotNull() & F.col("_hi").isNotNull()
            )
            .withColumn("_cum", F.sum(F.coalesce("_nn", F.lit(0))).over(w))
            .filter(F.col("_cum") >= k)
            .agg(
                (F.max(gb) if descending else F.min(gb)).alias("t")
            ).first()
        )
        thresh = trow.t if trow is not None else None
        edge = F.col("_hi") if descending else F.col("_lo")
        no_bounds = F.col("_lo").isNull() | F.col("_hi").isNull()
        if thresh is None:
            only = j.select(*gkeys)
        else:
            only = j.filter(
                no_bounds
                | (edge >= F.lit(thresh) if descending
                   else edge <= F.lit(thresh))
            ).select(*gkeys)
    dec = _restricted_decode(
        spark, out_dir, run_id, result_schema, want, predicate, only
    )
    if predicate:
        dec = dec.filter(zonemap.predicate_expr(predicate))
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
