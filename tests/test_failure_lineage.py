"""Failure taxonomy + epoch-scoped resume (≙ reference failure_category
persistence, /root/reference/internal/state/state.go:29-41, and the
failure-stats breakdown /root/reference/internal/stats/stats.go:399-437).

Invariants pinned here:
- a stripe whose encode raises becomes a ``status='failed'`` ledger row
  with a taxonomy category — the wave itself succeeds;
- a partition with any failed stripe stays todo: resume re-encodes it
  WHOLE at the next epoch (row alignment holds only within one pass);
- decode uses, per partition, only the max epoch with a complete column
  set, and reproduces the input exactly;
- the failure report aggregates by category like the reference stats.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orc_spark.engine import encode, lineage, metrics, pipeline


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df.cache().count()
    return df


def _cfg(out, **kw):
    base = dict(out_dir=out, run_id="fl", key="doc_id", n_partitions=4)
    base.update(kw)
    return pipeline.EncodeJobConfig(**base)


def test_classify_failure_taxonomy():
    import pyarrow as pa

    assert encode.classify_failure(encode.InjectedFault("x")) == "injected_fault"
    assert encode.classify_failure(ValueError("bad codec")) == "codec_error"
    assert encode.classify_failure(KeyError("missing")) == "codec_error"
    assert encode.classify_failure(MemoryError()) == "resource_exhausted"
    assert encode.classify_failure(RuntimeError("?")) == "unknown_error"
    # ArrowInvalid subclasses ValueError — must map to validation_error,
    # not fall through to codec_error.
    assert encode.classify_failure(pa.ArrowInvalid("bad")) == "validation_error"


def test_injected_fault_ledgered_then_resumed(spark, docs, tmp_path):
    out = str(tmp_path / "run")
    r1 = pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": ["text"], "partitions": [1, 3]}),
    )
    assert r1.partitions_failed == 2
    assert r1.partitions_encoded == 2
    lin = lineage.read_lineage(spark, out)
    failed = lin.filter(F.col("status") == "failed").collect()
    assert len(failed) == 2
    assert {r.failure_category for r in failed} == {"injected_fault"}
    assert {r.partition_id for r in failed} == {1, 3}
    rep = metrics.failure_categories(lin).collect()
    assert [(r.failure_category, r.n, r.pct_of_failed) for r in rep] == [
        ("injected_fault", 2, 100.0)
    ]

    # resume without the fault: the 2 faulted partitions re-encode WHOLE
    r2 = pipeline.run_encode_job(spark, docs, _cfg(out))
    assert (r2.partitions_skipped, r2.partitions_encoded, r2.partitions_failed) == (2, 2, 0)
    lin = lineage.read_lineage(spark, out)
    epoch1 = lin.filter(F.col("epoch") == 1)
    assert epoch1.filter(F.col("status") == "completed").count() == 2 * len(r2.columns)
    assert sorted(
        r.partition_id for r in epoch1.select("partition_id").distinct().collect()
    ) == [1, 3]

    # decode: per partition, only the max complete epoch; bit-exact result
    dec = pipeline.decode_job(spark, out, "fl", docs.schema)
    chk = pipeline.verify_roundtrip(docs, dec, "doc_id")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0

    # idempotent third run
    r3 = pipeline.run_encode_job(spark, docs, _cfg(out))
    assert (r3.partitions_skipped, r3.partitions_encoded) == (4, 0)


def test_unknown_codec_is_codec_error_not_crash(spark, docs, tmp_path):
    out = str(tmp_path / "run2")
    r = pipeline.run_encode_job(
        spark,
        docs.select("doc_id", "lang"),
        _cfg(out, columns=["doc_id", "lang"],
             overrides={"lang": ["no_such_codec"]}),
    )
    assert r.partitions_failed == 4  # every partition's lang stripe failed
    lin = lineage.read_lineage(spark, out)
    cats = {r.failure_category for r in lin.filter(F.col("status") == "failed").collect()}
    assert cats == {"codec_error"}
    # the doc_id column of those partitions still encoded fine
    ok = lin.filter((F.col("status") == "completed") & (F.col("column") == "doc_id"))
    assert ok.count() == 4


def test_crash_before_lineage_append_never_reuses_epoch(spark, docs, tmp_path):
    """A wave whose stripes commit but whose lineage append is lost (the
    crash window) must not lead resume to reuse the epoch: with every
    partition failed in the crashed wave there are no complete column
    sets to orphan-backfill, so only the stripes table knows epoch 0
    happened. next_epoch derives from it (the atomic commit unit) —
    re-encoding lands at epoch 1 and decode never merges two encode
    passes into one stripe group."""
    import shutil

    out = str(tmp_path / "run4")
    pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": ["text"], "partitions": [0, 1, 2, 3]}),
    )
    shutil.rmtree(lineage.lineage_dir(out))  # die before append_lineage

    r = pipeline.run_encode_job(spark, docs, _cfg(out))
    assert r.partitions_encoded == 4
    stripes = pipeline.read_stripes(spark, out, "fl").drop("data")
    dup = (
        stripes.filter(F.col("status") == "completed")
        .groupBy("partition_id", "epoch", "stripe_idx", "column")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0, "epoch reused: duplicate stripe set at same coordinates"
    assert stripes.agg(F.max("epoch")).first()[0] == 1

    dec = pipeline.decode_job(spark, out, "fl", docs.schema)
    chk = pipeline.verify_roundtrip(docs, dec, "doc_id")
    assert chk["count_original"] == chk["count_decoded"] == 500
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0


def test_success_rate_reflects_failures(spark, docs, tmp_path):
    out = str(tmp_path / "run3")
    pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": ["text"], "partitions": [0]}),
    )
    row = metrics.success_rate(lineage.read_lineage(spark, out)).first()
    n_cols = 5
    expected = 100.0 * (4 * n_cols - 1) / (4 * n_cols)
    assert abs(row.success_pct - expected) < 1e-9


def test_vacuum_reclaims_superseded_epochs(spark, docs, tmp_path):
    """After a fault + resume, the faulted partitions' epoch-0 stripes
    are superseded; vacuum drops exactly those (stripes AND lineage),
    keeps every healthy partition's epoch 0, and decode still
    reproduces the input bit-exactly."""
    from orc_spark.engine import retention

    out = str(tmp_path / "run_vac")
    pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": ["text"], "partitions": [1, 3]}),
    )
    pipeline.run_encode_job(spark, docs, _cfg(out))  # resume, epoch 1
    n_cols = len(docs.columns)
    before = pipeline.read_stripes(spark, out, "fl").count()

    removed = retention.vacuum_epochs(spark, out, "fl")
    # partitions 1 and 3 each had (n_cols - 1) completed + 1 failed
    # epoch-0 stripes, all superseded by their complete epoch 1
    assert removed == 2 * n_cols, (removed, n_cols)
    after = pipeline.read_stripes(spark, out, "fl")
    assert after.count() == before - removed
    assert after.filter(F.col("status") == "failed").count() == 0
    assert (
        after.filter((F.col("partition_id").isin(1, 3)) & (F.col("epoch") == 0))
        .count() == 0
    )
    dec = pipeline.decode_job(spark, out, "fl", docs.schema)
    chk = pipeline.verify_roundtrip(docs, dec, "doc_id")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0
    # idempotent: nothing left to reclaim
    assert retention.vacuum_epochs(spark, out, "fl") == 0
    # the lineage ledger shrank consistently with the stripes table
    lin = lineage.read_lineage(spark, out)
    assert lin.filter(F.col("status") == "failed").count() == 0


def test_doctor_diagnoses_and_advises(spark, docs, tmp_path, capsys):
    """Rule-based doctor (≙ reference doctor.go failure-context
    gathering): names the failed partitions/columns/categories at the
    latest epoch and advises the resume command; clean runs get the
    all-clear."""
    import json as _json

    from orc_spark.__main__ import main
    from orc_spark.engine import doctor

    env = doctor.environment_report()
    assert env["pyspark"].startswith("4.")

    out = str(tmp_path / "run_doc")
    pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": ["text"], "partitions": [2]}),
    )
    diag = doctor.diagnose_run(spark, out, "fl")
    entry = diag["runs"]["fl"]
    assert entry["failed_partitions"] == [2]
    assert entry["failed_columns"] == ["text"]
    assert entry["failure_categories"] == ["injected_fault"]
    assert any("re-run the same encode command" in a for a in entry["advice"])
    assert any("injected_fault" in a for a in entry["advice"])

    # resume cleanly -> all-clear at the new epoch
    pipeline.run_encode_job(spark, docs, _cfg(out))
    diag2 = doctor.diagnose_run(spark, out, "fl")
    assert diag2["runs"]["fl"]["failed_stripes_latest_epoch"] == 0

    assert main(["doctor", "--out", out, "--run-id", "fl"]) == 0
    rep = _json.loads(capsys.readouterr().out)
    assert rep["diagnosis"]["found"] is True

    # interrupted-swap leftovers are surfaced (r4): park a fake _old
    # copy next to the stripes dir and doctor names it
    import os as _os
    import shutil as _shutil

    from orc_spark.engine import retention

    sdir = _os.path.join(out, "stripes")
    _shutil.copytree(sdir, sdir + retention._SWAP_OLD)
    diag3 = doctor.diagnose_run(spark, out, "fl")
    assert any("swap" in n for n in diag3.get("storage_notes", [])), diag3
    assert retention.recover_swap(sdir) is False  # live dir wins
    assert "storage_notes" not in doctor.diagnose_run(spark, out, "fl")


def test_decode_as_of_epoch_time_travel(spark, docs, tmp_path):
    """Iceberg-snapshot-style time travel over the resume lineage:
    as_of_epoch=0 shows the table as it stood after wave 0 (the two
    wholly-failed partitions absent), as_of_epoch>=1 (and no cap) show
    the fully-resumed table."""
    from orc_spark.engine import skew

    out = str(tmp_path / "run")
    all_cols = [f.name for f in docs.schema.fields]
    r1 = pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": all_cols, "partitions": [1, 3]}),
    )
    assert r1.partitions_failed == 2
    pipeline.run_encode_job(spark, docs, _cfg(out))  # resume, epoch 1

    pid = skew.partition_id_expr(4, "doc_id", 42)
    survivors = docs.withColumn("_pid", pid).filter(
        ~F.col("_pid").isin([1, 3])
    ).drop("_pid")

    asof0 = pipeline.decode_job(
        spark, out, "fl", docs.schema, as_of_epoch=0
    )
    chk = pipeline.verify_roundtrip(survivors, asof0, "doc_id")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0

    for k in (1, 7, None):
        full = pipeline.decode_job(
            spark, out, "fl", docs.schema, as_of_epoch=k
        )
        chk = pipeline.verify_roundtrip(docs, full, "doc_id")
        assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0

    # predicated time travel rides the same fused metadata path
    from orc_spark.engine import zonemap

    pred = [("doc_id", ">=", 100)]
    got = pipeline.decode_job(
        spark, out, "fl", docs.schema, predicate=pred, as_of_epoch=0
    ).filter(zonemap.predicate_expr(pred))
    want = survivors.filter(F.col("doc_id") >= 100)
    assert sorted(r.doc_id for r in got.select("doc_id").collect()) == sorted(
        r.doc_id for r in want.select("doc_id").collect()
    )


def test_incremental_read_appended_partitions(spark, docs, tmp_path):
    """Iceberg incremental-read semantics (pipeline.incremental_read):
    the epoch-0→1 delta is exactly the rows of the partitions the
    resume completed; unchanged partitions are pruned by metadata and
    never decoded; the trivial and inverted windows are empty/loud."""
    from orc_spark.engine import skew

    out = str(tmp_path / "run")
    all_cols = [f.name for f in docs.schema.fields]
    pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": all_cols, "partitions": [1, 3]}),
    )
    pipeline.run_encode_job(spark, docs, _cfg(out))  # resume, epoch 1

    delta = pipeline.incremental_read(
        spark, out, "fl", docs.schema, from_epoch=0, to_epoch=1
    )
    pid = skew.partition_id_expr(4, "doc_id", 42)
    resumed = docs.withColumn("_pid", pid).filter(
        F.col("_pid").isin([1, 3])
    ).drop("_pid")
    chk = pipeline.verify_roundtrip(resumed, delta, "doc_id")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0

    # same-cap window: no partition's kept epoch differs -> empty, and
    # the path must short-circuit without decoding anything
    assert pipeline.incremental_read(
        spark, out, "fl", docs.schema, from_epoch=1, to_epoch=1
    ).count() == 0
    assert pipeline.incremental_read(
        spark, out, "fl", docs.schema, from_epoch=0, to_epoch=0
    ).count() == 0

    # delta ∪ as-of-0 == full table (snapshot algebra holds)
    asof0 = pipeline.decode_job(spark, out, "fl", docs.schema, as_of_epoch=0)
    union = asof0.select(*sorted(docs.columns)).unionByName(
        delta.select(*sorted(docs.columns))
    )
    chk = pipeline.verify_roundtrip(docs, union, "doc_id")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0

    with pytest.raises(ValueError, match="to_epoch"):
        pipeline.incremental_read(
            spark, out, "fl", docs.schema, from_epoch=2, to_epoch=1
        )

    # CDC shape: same window as a changelog is all-insert and matches
    # the delta row-for-row; the trivial window is an empty changelog
    cdc = pipeline.changelog_read(
        spark, out, "fl", docs.schema, from_epoch=0, to_epoch=1
    )
    assert "_change_type" in cdc.columns
    by_type = {
        r["_change_type"]: r["n"]
        for r in cdc.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert by_type == {"insert": delta.count()}
    assert pipeline.changelog_read(
        spark, out, "fl", docs.schema, 1, 1
    ).count() == 0

    # column subset: delta restricted to (doc_id, lang) matches too
    sub = pipeline.incremental_read(
        spark, out, "fl", docs.schema, 0, 1, columns=["doc_id", "lang"]
    )
    assert sorted(sub.columns) == ["doc_id", "lang"]
    assert sub.count() == delta.count()

    # regression: decode_job must accept a REORDERED column subset
    # against a full schema (it projects the declared mapInArrow
    # schema onto the requested order; previously the batch columns
    # misaligned against the full schema's types and the read blew up)
    reordered = pipeline.decode_job(
        spark, out, "fl", docs.schema, columns=["lang", "doc_id"]
    )
    assert reordered.columns == ["lang", "doc_id"]
    assert (
        reordered.count()
        == pipeline.decode_job(spark, out, "fl", docs.schema).count()
    )
    with pytest.raises(ValueError, match="not in result_schema"):
        pipeline.decode_job(
            spark, out, "fl", docs.schema, columns=["doc_id", "nope"]
        )


def test_rollback_to_epoch(spark, docs, tmp_path, capsys):
    """Write-side rollback (retention.rollback_to_epoch): dropping
    epochs > k makes plain reads equal the as-of-k view, re-encode
    resumes and re-completes the dropped partitions, tags past the
    rollback point are removed, and the guard rails are loud."""
    from orc_spark.engine import lineage, retention, skew

    out = str(tmp_path / "run")
    all_cols = [f.name for f in docs.schema.fields]
    pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": all_cols, "partitions": [1, 3]}),
    )
    pipeline.run_encode_job(spark, docs, _cfg(out))  # resume, epoch 1
    lineage.write_tag(spark, out, "fl", "base", epoch=0)
    lineage.write_tag(spark, out, "fl", "resumed", epoch=1)

    removed = retention.rollback_to_epoch(spark, out, "fl", 0)
    assert removed == 2 * len(all_cols)  # 2 partitions x all columns

    # plain decode now equals the pre-resume survivors
    pid = skew.partition_id_expr(4, "doc_id", 42)
    survivors = docs.withColumn("_pid", pid).filter(
        ~F.col("_pid").isin([1, 3])
    ).drop("_pid")
    dec = pipeline.decode_job(spark, out, "fl", docs.schema)
    chk = pipeline.verify_roundtrip(survivors, dec, "doc_id")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0

    # tag hygiene: past-rollback tag dropped, earlier tag survives
    assert lineage.resolve_tag(out, "fl", "base") == 0
    with pytest.raises(ValueError, match="unknown tag"):
        lineage.resolve_tag(out, "fl", "resumed")

    # idempotent; then re-encode resumes at epoch 1 and re-completes
    assert retention.rollback_to_epoch(spark, out, "fl", 0) == 0
    r = pipeline.run_encode_job(spark, docs, _cfg(out))
    assert r.partitions_encoded == 2 and r.partitions_skipped == 2
    full = pipeline.decode_job(spark, out, "fl", docs.schema)
    chk = pipeline.verify_roundtrip(docs, full, "doc_id")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0

    # guard rails
    with pytest.raises(ValueError, match="has no stripes"):
        retention.rollback_to_epoch(spark, out, "nope", 0)
    with pytest.raises(ValueError, match=">= 0"):
        retention.rollback_to_epoch(spark, out, "fl", -1)

    # a run whose epoch-0 history was vacuumed away cannot roll back
    # to 0 — that would silently erase the run (loud instead)
    out2 = str(tmp_path / "run2")
    pipeline.run_encode_job(
        spark, docs,
        _cfg(out2, fault_spec={"columns": all_cols,
                               "partitions": [0, 1, 2, 3]}),
    )
    pipeline.run_encode_job(spark, docs, _cfg(out2))  # all complete @1
    from orc_spark.engine import retention as ret

    assert ret.vacuum_epochs(spark, out2) > 0  # drops every failed @0
    with pytest.raises(ValueError, match="no epoch <= 0"):
        ret.rollback_to_epoch(spark, out2, "fl", 0)

    # CLI surface: the first store is fully re-completed (epochs 0+1);
    # rolling back to 0 via the CLI drops the re-encoded wave again
    import json as _json

    from orc_spark.__main__ import main

    assert main(["rollback", "--out", out, "--run-id", "fl",
                 "--epoch", "0"]) == 0
    rep = _json.loads(capsys.readouterr().out)
    assert rep["stripes_removed"] == 2 * len(all_cols)


def test_publish_run_wap(spark, docs, tmp_path, capsys):
    """Write-audit-publish (retention.publish_run): a staged run
    renames atomically to its production run_id — stripes, lineage,
    config, and tags follow; the staged name is gone; collisions and
    missing stages are loud; resume works under the published name."""
    import json as _json

    from orc_spark.__main__ import main
    from orc_spark.engine import lineage, retention

    out = str(tmp_path / "run")
    cols = [f.name for f in docs.schema.fields]
    pipeline.run_encode_job(
        spark, docs, _cfg(out, run_id="stage")
    )
    lineage.write_tag(spark, out, "stage", "audited", epoch=0)

    moved = retention.publish_run(spark, out, "stage", "prod")
    assert moved == 4 * len(cols)

    dec = pipeline.decode_job(spark, out, "prod", docs.schema)
    chk = pipeline.verify_roundtrip(docs, dec, "doc_id")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0
    # staged name is gone from the ledger; tag moved
    assert "stage" not in retention.list_runs(spark, out)
    assert lineage.resolve_tag(out, "prod", "audited") == 0
    # resume identity guard accepts the published name (config followed)
    r = pipeline.run_encode_job(spark, docs, _cfg(out, run_id="prod"))
    assert r.partitions_skipped == 4 and r.partitions_encoded == 0

    with pytest.raises(ValueError, match="has no stripes"):
        retention.publish_run(spark, out, "stage", "prod2")
    with pytest.raises(ValueError, match="the same"):
        retention.publish_run(spark, out, "prod", "prod")
    pipeline.run_encode_job(spark, docs, _cfg(out, run_id="stage2"))
    with pytest.raises(ValueError, match="already exists"):
        retention.publish_run(spark, out, "stage2", "prod")

    # CLI surface
    assert main([
        "publish", "--out", out, "--staging-run-id", "stage2",
        "--run-id", "prod2",
    ]) == 0
    rep = _json.loads(capsys.readouterr().out)
    assert rep["stripes_published"] == 4 * len(cols)


def test_snapshot_tags_resolve_and_time_travel(spark, docs, tmp_path):
    """Named refs over the epoch history (Iceberg tag semantics):
    decode --as-of-tag equals decode --as-of-epoch of the pinned
    epoch; unknown tags and both-params are loud."""
    from orc_spark.engine import lineage as lin

    out = str(tmp_path / "run")
    all_cols = [f.name for f in docs.schema.fields]
    pipeline.run_encode_job(
        spark, docs,
        _cfg(out, fault_spec={"columns": all_cols, "partitions": [1]}),
    )
    assert lin.write_tag(spark, out, "fl", "wave0") == 0
    pipeline.run_encode_job(spark, docs, _cfg(out))
    assert lin.write_tag(spark, out, "fl", "complete") == 1
    assert lin.resolve_tag(out, "fl", "wave0") == 0

    by_tag = pipeline.decode_job(
        spark, out, "fl", docs.schema, as_of_tag="wave0"
    )
    by_epoch = pipeline.decode_job(
        spark, out, "fl", docs.schema, as_of_epoch=0
    )
    assert sorted(r.doc_id for r in by_tag.select("doc_id").collect()) == \
        sorted(r.doc_id for r in by_epoch.select("doc_id").collect())
    full = pipeline.decode_job(
        spark, out, "fl", docs.schema, as_of_tag="complete"
    )
    assert full.count() == docs.count()

    with pytest.raises(ValueError, match="unknown tag"):
        pipeline.decode_job(
            spark, out, "fl", docs.schema, as_of_tag="nope"
        )
    with pytest.raises(ValueError, match="not both"):
        pipeline.decode_job(
            spark, out, "fl", docs.schema, as_of_tag="wave0", as_of_epoch=1
        )
    # re-tagging moves the name (replace-tag semantics)
    assert lin.write_tag(spark, out, "fl", "wave0", epoch=1) == 1
    assert lin.resolve_tag(out, "fl", "wave0") == 1


def test_doctor_flags_fragmented_layout(spark, docs, tmp_path):
    """Many tiny stripes (incremental appends) draw a compaction
    advisory; a healthy full-stripe layout does not."""
    from orc_spark.engine import doctor, pipeline

    out = str(tmp_path / "frag")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="fr", key="doc_id", n_partitions=4,
        stripe_rows=16,  # 500 docs -> ~32 groups of ~16 rows
    )
    pipeline.run_encode_job(spark, docs, cfg)
    diag = doctor.diagnose_run(spark, out, "fr")
    entry = diag["runs"]["fr"]
    assert "fragmentation" in entry, entry
    assert any("compact" in a for a in entry["advice"])

    out2 = str(tmp_path / "ok")
    cfg2 = pipeline.EncodeJobConfig(
        out_dir=out2, run_id="ok", key="doc_id", n_partitions=4,
    )
    pipeline.run_encode_job(spark, docs, cfg2)
    entry2 = doctor.diagnose_run(spark, out2, "ok")["runs"]["ok"]
    assert "fragmentation" not in entry2, entry2


def test_resume_reencodes_a_faulted_partition_of_a_struct_table(spark, tmp_path):
    """The stats rows of a struct's descendants (meta.status, meta.n)
    ride their parent's stripes. Counted as columns, they made a
    partition whose `s` stripes failed look complete, so resume never
    re-encoded it and every predicated read kept failing."""
    import dataclasses

    from orc_spark.engine import zonemap

    df = spark.range(1200).select(
        F.col("id"),
        (F.col("id") % 100).cast("int").alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 17).cast("string")).alias("s"),
        F.struct(
            F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("status"),
            (F.col("id") % 5).cast("int").alias("n"),
        ).alias("meta"),
    )
    out = str(tmp_path / "struct")
    cfg = _cfg(
        out, run_id="st", key="id", n_partitions=2, stripe_rows=256,
        fault_spec={"columns": ["s"], "partitions": [1]},
    )
    pipeline.run_encode_job(spark, df, cfg)
    res = pipeline.run_encode_job(spark, df, dataclasses.replace(cfg, fault_spec=None))
    assert (res.partitions_skipped, res.partitions_encoded) == (1, 1)
    pred = [("v", "between", (10, 40)), ("meta.status", "==", "a")]
    got = (
        pipeline.decode_job(spark, out, "st", df.schema, predicate=pred)
        .filter(zonemap.predicate_expr(pred))
        .select("id", "s")
        .collect()
    )
    want = df.filter(zonemap.predicate_expr(pred)).select("id", "s").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and want
