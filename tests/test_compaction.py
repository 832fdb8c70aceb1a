"""Targeted compaction keeps the run's clustering layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from orc_spark.engine import pipeline, zonemap


def _kept_groups(spark, out_dir: str, run_id: str, pred) -> int:
    stripes = pipeline.read_stripes(spark, out_dir, run_id)
    kept = zonemap.fused_prune(stripes, {"doc_id", "v"}, pred)
    return kept.select("partition_id", "epoch", "stripe_idx").distinct().count()


def test_compact_fragmented_keeps_cluster_by_pruning(spark, tmp_path):
    # v is scattered across doc_id, so only the cluster_by sort makes
    # stripes range-local in v
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 7919) % 4000).alias("v"),
    )
    layout = dict(
        run_id="c", key="doc_id", columns=["doc_id", "v"], n_partitions=2,
        cluster_by="v",
    )
    frag = str(tmp_path / "frag")
    pipeline.run_encode_job(
        spark, df, pipeline.EncodeJobConfig(out_dir=frag, stripe_rows=64, **layout)
    )
    # stripe files larger than a scan split (the norm at scale) make
    # the decode shuffle stripe groups, so rows reach the re-encode in
    # no particular order
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1k")
    try:
        assert not pipeline._stripe_files_fit_one_task_each(spark, frag)
        rep = pipeline.compact_fragmented(
            spark, frag, "c", df.schema, target_stripe_rows=512
        )
    finally:
        spark.conf.set(conf, old)
    assert rep["partitions_compacted"] == 2
    fresh = str(tmp_path / "fresh")
    pipeline.run_encode_job(
        spark, df, pipeline.EncodeJobConfig(out_dir=fresh, stripe_rows=512, **layout)
    )
    pred = [("v", "between", (1000, 1100))]
    n_fresh = _kept_groups(spark, fresh, "c", pred)
    assert n_fresh < rep["stripes_after"]  # the range prunes a fresh encode
    assert _kept_groups(spark, frag, "c", pred) <= n_fresh
    # and the compacted table still reads every row exactly once
    got = pipeline.decode_job(spark, frag, "c", df.schema)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
