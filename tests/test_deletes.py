"""Row-level position deletes (orc_spark/engine/deletes.py — Iceberg
v2 position-delete semantics, merge-on-read). Invariants:

- delete_rows marks exactly the SQL-WHERE rows; decode masks them
  inside the decode task (no stripe rewrite);
- delete files are append-only: concurrent/sequential deletes OR;
- re-running a delete marks nothing new (scan honors live deletes);
- apply_deletes=False reads the undeleted view;
- metadata_aggregate refuses a table with live deletes (exact-or-loud);
- compact_run materializes the live view; prune_history drops the
  expired runs' delete files.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from orc_spark.engine import deletes, pipeline, zonemap

from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def table(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="orcspark_del_")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id=f"del-{uuid.uuid4().hex[:8]}",
        key="doc_id", columns=["doc_id", "lang", "n_chars"],
        n_partitions=4, stripe_rows=16,
    )
    pipeline.run_encode_job(spark, docs, cfg)
    return docs, out, cfg


def test_delete_masks_exactly_the_where_rows(spark, table):
    docs, out, cfg = table
    n = pipeline.delete_rows(
        spark, out, cfg.run_id, docs.schema,
        [("doc_id", "between", (10, 29))],
    )
    assert n == docs.filter(F.col("doc_id").between(10, 29)).count()
    dec = pipeline.decode_job(spark, out, cfg.run_id, docs.schema)
    want = docs.filter(~F.col("doc_id").between(10, 29))
    assert _rows(dec) == _rows(want)
    # the undeleted view is still intact (no rewrite happened)
    assert pipeline.decode_job(
        spark, out, cfg.run_id, docs.schema, apply_deletes=False
    ).count() == docs.count()


def test_deletes_accumulate_and_rerun_is_idempotent(spark, table):
    docs, out, cfg = table
    pipeline.delete_rows(
        spark, out, cfg.run_id, docs.schema, [("lang", "==", "fr")]
    )
    dec = pipeline.decode_job(spark, out, cfg.run_id, docs.schema)
    want = docs.filter(
        ~F.col("doc_id").between(10, 29) & (F.col("lang") != "fr")
    )
    assert _rows(dec) == _rows(want)
    # scan honors live deletes: re-delete marks zero positions
    assert pipeline.delete_rows(
        spark, out, cfg.run_id, docs.schema,
        [("doc_id", "between", (10, 29))],
    ) == 0


def test_predicated_decode_composes_with_deletes(spark, table):
    docs, out, cfg = table
    pred = [("n_chars", ">=", 300)]
    got = pipeline.decode_job(
        spark, out, cfg.run_id, docs.schema, predicate=pred
    ).filter(zonemap.predicate_expr(pred))
    want = docs.filter(
        ~F.col("doc_id").between(10, 29)
        & (F.col("lang") != "fr")
        & (F.col("n_chars") >= 300)
    )
    assert _rows(got) == _rows(want)


def test_metadata_aggregate_refuses_live_deletes(spark, table):
    docs, out, cfg = table
    with pytest.raises(ValueError, match="delete"):
        pipeline.metadata_aggregate(spark, out, cfg.run_id, ["doc_id"])


def test_compact_materializes_live_view_and_agg_recovers(spark, table):
    docs, out, cfg = table
    new_id = f"{cfg.run_id}-c"
    pipeline.compact_run(
        spark, out, cfg.run_id, docs.schema, key="doc_id",
        new_run_id=new_id,
    )
    want = docs.filter(
        ~F.col("doc_id").between(10, 29) & (F.col("lang") != "fr")
    )
    dec = pipeline.decode_job(spark, out, new_id, docs.schema)
    assert _rows(dec) == _rows(want)
    # the compacted run has no delete vectors -> metadata agg answers
    res = {
        r.column: r
        for r in pipeline.metadata_aggregate(
            spark, out, new_id, ["doc_id"]
        ).collect()
    }
    assert res["doc_id"].n_rows == want.count()


def test_prune_history_drops_expired_runs_delete_files(spark, table):
    docs, out, cfg = table
    from orc_spark.engine import retention

    # the compacted run is newer; limit=1 expires the original run
    expired = retention.prune_history(spark, out, limit=1)
    assert cfg.run_id in expired
    assert deletes.delete_stats(spark, out, cfg.run_id)["n_vectors"] == 0


def test_delete_vector_bitmap_roundtrip(spark):
    """Pack/OR/mask unit check through a tiny end-to-end table."""
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(64)], "id long, grp long"
    )
    out = tempfile.mkdtemp(prefix="orcspark_delu_")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="u", key="id", columns=["id", "grp"],
        n_partitions=2, stripe_rows=8,
    )
    pipeline.run_encode_job(spark, df, cfg)
    assert pipeline.delete_rows(
        spark, out, "u", df.schema, [("grp", "==", 0)]
    ) == 22
    assert pipeline.delete_rows(
        spark, out, "u", df.schema, [("grp", "==", 1)]
    ) == 21
    dec = pipeline.decode_job(spark, out, "u", df.schema)
    assert sorted(r.grp for r in dec.collect()) == [2] * 21


# ---------------------------------------------------- equality deletes

@pytest.fixture(scope="module")
def eq_table(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="orcspark_eqdel_")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id=f"eq-{uuid.uuid4().hex[:8]}",
        key="doc_id", columns=["doc_id", "lang", "n_chars"],
        n_partitions=4, stripe_rows=16,
    )
    pipeline.run_encode_job(spark, docs, cfg)
    return docs, out, cfg


def test_eq_delete_masks_without_scanning(spark, eq_table):
    docs, out, cfg = eq_table
    assert pipeline.delete_rows_eq(
        spark, out, cfg.run_id, "lang", ["fr", "de"]
    ) == 2
    dec = pipeline.decode_job(spark, out, cfg.run_id, docs.schema)
    want = docs.filter(~F.col("lang").isin("fr", "de"))
    assert _rows(dec) == _rows(want)


def test_eq_delete_applies_through_projection(spark, eq_table):
    """A projection omitting the eq-deleted column must NOT resurrect
    rows: the column decodes internally for the mask."""
    from pyspark.sql.types import StructType

    docs, out, cfg = eq_table
    sub = StructType(
        [f for f in docs.schema.fields if f.name in ("doc_id", "n_chars")]
    )
    dec = pipeline.decode_job(
        spark, out, cfg.run_id, sub, columns=["doc_id", "n_chars"]
    )
    want = docs.filter(~F.col("lang").isin("fr", "de")).select(
        "doc_id", "n_chars"
    )
    assert _rows(dec) == _rows(want)


def test_eq_and_position_deletes_compose(spark, eq_table):
    docs, out, cfg = eq_table
    pipeline.delete_rows(
        spark, out, cfg.run_id, docs.schema,
        [("doc_id", "between", (0, 9))],
    )
    pipeline.delete_rows_eq(spark, out, cfg.run_id, "doc_id", [400])
    dec = pipeline.decode_job(spark, out, cfg.run_id, docs.schema)
    want = docs.filter(
        ~F.col("lang").isin("fr", "de")
        & ~F.col("doc_id").between(0, 9)
        & (F.col("doc_id") != 400)
    )
    assert _rows(dec) == _rows(want)
    # raw view unaffected; metadata agg refuses
    assert pipeline.decode_job(
        spark, out, cfg.run_id, docs.schema, apply_deletes=False
    ).count() == docs.count()
    with pytest.raises(ValueError, match="delete"):
        pipeline.metadata_aggregate(spark, out, cfg.run_id, ["doc_id"])


def test_eq_delete_rejects_unsupported_and_unencoded(spark, eq_table):
    docs, out, cfg = eq_table
    with pytest.raises(ValueError, match="bool/int/float/str"):
        pipeline.delete_rows_eq(
            spark, out, cfg.run_id, "lang", [object()]
        )
    pipeline.delete_rows_eq(spark, out, cfg.run_id, "nope_col", ["x"])
    with pytest.raises(ValueError, match="not encoded"):
        pipeline.decode_job(spark, out, cfg.run_id, docs.schema).count()


def test_doctor_surfaces_live_deletes(spark, eq_table):
    from orc_spark.engine import doctor

    docs, out, cfg = eq_table
    diag = doctor.diagnose_run(spark, out, cfg.run_id)
    entry = diag["runs"][cfg.run_id]
    assert entry["live_deletes"]["n_eq_values"] >= 2
    assert any("compact" in a for a in entry["advice"])


def test_vacuum_drops_orphaned_delete_vectors(spark):
    """Vectors keyed to vacuumed (superseded) epochs leak space and
    skew delete_stats — vacuum must drop them; vectors of the kept
    epoch must survive."""
    from dataclasses import replace

    from orc_spark.engine import retention

    df = spark.createDataFrame(
        [(i, i % 5) for i in range(128)], "id long, grp long"
    )
    out = tempfile.mkdtemp(prefix="orcspark_delvac_")
    cols = ["id", "grp"]
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="v", key="id", columns=cols,
        n_partitions=2, stripe_rows=16,
        fault_spec={"columns": cols, "partitions": [1]},
    )
    pipeline.run_encode_job(spark, df, cfg)
    # a delete lands on epoch-0 stripes of partition 0
    pipeline.delete_rows(spark, out, "v", df.schema, [("grp", "==", 0)])
    n0 = deletes.delete_stats(spark, out, "v")["n_vectors"]
    assert n0 > 0
    # resume completes partition 1 at epoch 1, then delete again:
    # new vectors reference epoch-1 stripes
    pipeline.run_encode_job(spark, df, replace(cfg, fault_spec=None))
    pipeline.delete_rows(spark, out, "v", df.schema, [("grp", "==", 1)])
    retention.vacuum_epochs(spark, out, "v")
    # reads stay exact after the vacuum. NOTE the grp==0 delete ran
    # while partition 1 was still FAILED: position deletes cover rows
    # readable at delete time (Iceberg semantics — later-materialized
    # data is not covered), so partition 1 keeps its grp==0 rows.
    from orc_spark.engine import skew

    pid = skew.partition_id_expr(2, "id", 42)
    dec = pipeline.decode_job(spark, out, "v", df.schema)
    want = df.withColumn("_pid", pid).filter(
        ~((F.col("grp") == 0) & (F.col("_pid") != 1))
        & (F.col("grp") != 1)
    ).drop("_pid")
    assert _rows(dec) == _rows(want)
    # every surviving vector points at a surviving stripe group
    dels = deletes.read_delete_vectors(spark, out, "v")
    stripes = pipeline.read_stripes(spark, out, "v").drop("data")
    orphans = dels.join(
        stripes.select("partition_id", "epoch", "stripe_idx").distinct(),
        ["partition_id", "epoch", "stripe_idx"],
        "left_anti",
    ).count()
    assert orphans == 0


# ------------------------------------------------------------- upsert


@pytest.fixture(scope="module")
def upsert_store(spark):
    """Base run over a deterministic 3-column slice of documents."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="orcspark_up_")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="up-base", key="doc_id",
        columns=["doc_id", "lang", "n_chars"],
        n_partitions=4, stripe_rows=64,
    )
    pipeline.run_encode_job(spark, docs, cfg)
    return docs, out


def _upsert_cfg(out, run_id):
    return pipeline.EncodeJobConfig(
        out_dir=out, run_id=run_id, key="doc_id",
        columns=["doc_id", "lang", "n_chars"],
        n_partitions=2, stripe_rows=64,
    )


def test_upsert_replaces_and_inserts(spark, upsert_store):
    from orc_spark.engine import retention

    docs, out = upsert_store
    upd = docs.filter(F.col("doc_id") % 10 == 3).withColumn(
        "lang", F.lit("zz")
    ).unionByName(
        docs.filter(F.col("doc_id") % 100 == 7).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.lit("new").alias("lang"),
            (F.col("n_chars") * 2).alias("n_chars"),
        )
    )
    res = pipeline.upsert_rows(spark, upd, _upsert_cfg(out, "up-1"))
    assert res["runs_masked"] == ["up-base"]
    assert res["n_keys"] == upd.count()
    merged = pipeline.read_runs(
        spark, out, retention.list_runs(spark, out), docs.schema
    )
    want = docs.join(
        upd.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(upd)
    assert _rows(merged) == _rows(want)

    # second, overlapping upsert: masking must reach up-1 too
    upd2 = docs.filter(F.col("doc_id") % 20 == 3).select(
        "doc_id", F.lit("yy").alias("lang"),
        F.lit(-1).cast("long").alias("n_chars"),
    )
    res2 = pipeline.upsert_rows(spark, upd2, _upsert_cfg(out, "up-2"))
    assert sorted(res2["runs_masked"]) == ["up-1", "up-base"]
    merged2 = pipeline.read_runs(
        spark, out, retention.list_runs(spark, out), docs.schema
    )
    want2 = want.join(
        upd2.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(upd2)
    assert _rows(merged2) == _rows(want2)
    # versions carried in up-1 for %20==3 keys are masked, not gone:
    unmasked = pipeline.decode_job(
        spark, out, "up-1", docs.schema, apply_deletes=False
    )
    assert unmasked.filter(F.col("lang") == "zz").count() > 0


def test_upsert_precondition_errors(spark, upsert_store):
    docs, out = upsert_store
    dup = docs.limit(3).unionByName(docs.limit(1))
    with pytest.raises(ValueError, match="duplicate keys"):
        pipeline.upsert_rows(spark, dup, _upsert_cfg(out, "up-dup"))
    nulls = docs.limit(2).select(
        F.lit(None).cast("long").alias("doc_id"), "lang", "n_chars"
    )
    with pytest.raises(ValueError, match="NULL"):
        pipeline.upsert_rows(spark, nulls, _upsert_cfg(out, "up-null"))
    with pytest.raises(ValueError, match="already exists"):
        pipeline.upsert_rows(
            spark, docs.limit(1), _upsert_cfg(out, "up-base")
        )
    with pytest.raises(ValueError, match="not in the update batch"):
        pipeline.upsert_rows(
            spark, docs.select("lang"), _upsert_cfg(out, "up-nokey")
        )


def test_upsert_key_cap_is_loud(spark, upsert_store, monkeypatch):
    docs, out = upsert_store
    monkeypatch.setattr(pipeline.deletes_mod, "EQ_COLLECT_MAX", 10)
    with pytest.raises(ValueError, match="equality-delete bound"):
        pipeline.upsert_rows(spark, docs, _upsert_cfg(out, "up-cap"))


def test_upsert_then_compact_clears_masks(spark, upsert_store):
    """Compacting the union materializes the merged view as one clean
    run: metadata aggregates work again (no live deletes)."""
    from orc_spark.engine import retention

    docs, out = upsert_store
    runs = retention.list_runs(spark, out)
    merged = pipeline.read_runs(spark, out, runs, docs.schema)
    out2 = tempfile.mkdtemp(prefix="orcspark_upc_")
    cfg2 = pipeline.EncodeJobConfig(
        out_dir=out2, run_id="up-flat", key="doc_id",
        columns=["doc_id", "lang", "n_chars"], n_partitions=2,
    )
    pipeline.run_encode_job(spark, merged, cfg2)
    agg = pipeline.metadata_aggregate(
        spark, out2, "up-flat", ["doc_id"]
    ).first()
    assert agg.n_rows == merged.count()


def test_delete_stats_reads_the_vectors_without_a_spark_job(spark, tmp_path):
    """delete_stats answers from pyarrow — the same dict the Spark
    aggregate gave — for each run of a table with deletes in two runs."""
    df = spark.range(600).select(F.col("id"), (F.col("id") % 10).alias("v"))
    out = str(tmp_path / "ds")
    for run in ("a", "b"):
        pipeline.run_encode_job(spark, df, pipeline.EncodeJobConfig(
            out_dir=out, run_id=run, key="id", n_partitions=2, stripe_rows=128,
        ))
    pipeline.delete_rows(spark, out, "a", df.schema, [("v", "==", 3)])
    pipeline.delete_rows(spark, out, "a", df.schema, [("v", "<", 2)])
    pipeline.delete_rows(spark, out, "b", df.schema, [("id", "<", 50)])
    pipeline.delete_rows_eq(spark, out, "b", "v", [9])
    sc = spark.sparkContext
    for run, n_eq in (("a", 0), ("b", 1), ("none", 0)):
        agg = (
            spark.read.schema(deletes.DELETES_SCHEMA)
            .parquet(deletes.deletes_dir(out))
            .filter(F.col("run_id") == run)
            .agg(
                F.count(F.lit(1)).alias("nv"),
                F.countDistinct("partition_id", "epoch", "stripe_idx").alias("ng"),
                F.sum("n_deleted").alias("nr"),
            )
            .first()
        )
        group = f"delete-stats-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "delete_stats")
        try:
            got = deletes.delete_stats(spark, out, run)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert got == {
            "n_vectors": agg.nv, "n_groups": agg.ng,
            "rows_marked_ub": int(agg.nr or 0), "n_eq_values": n_eq,
        }
        assert list(jobs) == [], run
    assert deletes.delete_stats(spark, out, "a")["n_groups"] > 0
