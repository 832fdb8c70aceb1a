"""Engine e2e: encode -> lineage -> decode -> bit-exact verify, plus
resume semantics (FIXTURES.md F5) and skew defusal (SURVEY.md §7.5)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from orc_spark.engine import lineage, metrics, pipeline, skew, stats, webgen


@pytest.fixture(scope="module")
def webdf(spark):
    df = webgen.generate_spark(spark, 8000, with_html=True)
    df.cache().count()
    return df


def test_partition_id_expr_matches_physical(spark, webdf):
    n = 8
    expect = skew.partition_id_expr(n, "url", 7)
    test = skew.salted_repartition(webdf.withColumn("_e", expect), n, "url", 7)
    assert test.filter(F.spark_partition_id() != F.col("_e")).count() == 0


def test_salted_repartition_defuses_host_skew(spark, webdf):
    rep = skew.salted_repartition(webdf, 16, "url", 42)
    counts = [r.n_rows for r in skew.partition_skew(rep).collect()]
    assert len(counts) == 16
    med = sorted(counts)[len(counts) // 2]
    assert max(counts) / med < 2.0, counts
    # while the INPUT really is host-clustered: top host >= 5% of rows
    top = skew.skew_report(webdf).first()
    assert top.share > 0.05


def test_encode_decode_roundtrip_webtable(spark, webdf, tmp_path):
    out = str(tmp_path / "job")
    cfg = pipeline.EncodeJobConfig(out_dir=out, run_id="rt1", key="url", n_partitions=8)
    res = pipeline.run_encode_job(spark, webdf, cfg)
    assert res.partitions_encoded == 8 and res.partitions_skipped == 0
    dec = pipeline.decode_job(spark, out, "rt1", webdf.schema)
    chk = pipeline.verify_roundtrip(webdf, dec, "url")
    assert chk["missing_from_decoded"] == 0
    assert chk["extra_in_decoded"] == 0
    assert chk["count_decoded"] == chk["count_original"]


def test_lineage_ledger_complete(spark, webdf, tmp_path):
    out = str(tmp_path / "job")
    cfg = pipeline.EncodeJobConfig(out_dir=out, run_id="rl1", key="url", n_partitions=4)
    pipeline.run_encode_job(spark, webdf, cfg)
    lin = lineage.read_lineage(spark, out)
    # every (partition, column) has at least one completed stripe row
    got = {
        (r.partition_id, r.column)
        for r in lin.select("partition_id", "column").distinct().collect()
    }
    assert got == {(p, c) for p in range(4) for c in ["url", "warc_ts", "html", "text", "lang"]}
    by_col = {r.column: r for r in metrics.compression_by_column(lin).collect()}
    assert by_col["text"].ratio > 2.0  # FSST on zipf text
    assert by_col["lang"].ratio > 3.0  # dict on 9 values
    sr = metrics.success_rate(lin).first()
    assert sr.success_pct == 100.0


def test_merge_child_runs_prefixes_and_rolls_up(spark, webdf, tmp_path):
    """Hierarchical ledger merge: child-run lineage folds into the
    parent under prefix/run_id keys (reference costs.go:101-128), and
    run_summary reports both levels."""
    out = str(tmp_path / "job")
    cfg = pipeline.EncodeJobConfig(out_dir=out, run_id="parent", key="url", n_partitions=4)
    pipeline.run_encode_job(spark, webdf, cfg)
    lin = lineage.read_lineage(spark, out)
    merged = metrics.merge_child_runs(
        lin, {"ingest": lin.withColumn("run_id", F.lit("epoch-1"))}
    )
    runs = {r.run_id for r in metrics.run_summary(merged).collect()}
    assert runs == {"parent", "ingest/epoch-1"}
    assert merged.count() == 2 * lin.count()


def test_resume_skips_completed_partitions(spark, webdf, tmp_path):
    """F5 kill-and-resume: first submission only sees partitions 0-7
    (simulating a job killed between waves — waves commit atomically),
    resume with the same run_id encodes only 8-15."""
    out = str(tmp_path / "job")
    n = 16
    pid = skew.partition_id_expr(n, "url", 42)
    first_half = webdf.filter(pid < 8)
    cfg = pipeline.EncodeJobConfig(out_dir=out, run_id="rr1", key="url", n_partitions=n)
    res1 = pipeline.run_encode_job(spark, first_half, cfg)
    assert res1.partitions_encoded <= 8
    done = lineage.completed_partitions(spark, out, "rr1", webdf.columns)
    assert set(done) <= set(range(8)) and len(done) == 8

    res2 = pipeline.run_encode_job(spark, webdf, cfg)
    assert res2.partitions_skipped == 8
    assert res2.partitions_encoded == 8

    # full decode equals original, exactly once per row
    dec = pipeline.decode_job(spark, out, "rr1", webdf.schema)
    chk = pipeline.verify_roundtrip(webdf, dec, "url")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0
    assert chk["count_decoded"] == webdf.count()

    # idempotent: a third submit does nothing
    res3 = pipeline.run_encode_job(spark, webdf, cfg)
    assert res3.partitions_encoded == 0 and res3.partitions_skipped == 16


def test_stats_sample_matches_duckdb(spark):
    import duckdb

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r.column: r
        for r in stats.stats_sample(df, ["doc_id", "lang", "text"]).collect()
    }
    sql = stats.stats_sample_sql(
        "read_parquet('/root/testdata/sf0.001/documents.parquet')",
        ["doc_id", "lang", "text"],
        {"lang", "text"},
    )
    for row in duckdb.sql(sql).fetchall():
        c, n, n_null, n_distinct, mn, mx, avg_len = row
        g = got[c]
        assert (g.n, g.n_null, g.n_distinct) == (n, n_null, n_distinct), c
        assert g.min_str == mn and g.max_str == mx, c
        if avg_len is not None:
            assert abs(g.avg_len - float(avg_len)) < 1e-9, c


def test_size_budget_fallback_to_raw(spark, tmp_path):
    """Incompressible data must fall back to raw and never inflate much."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {
            "k": np.arange(2000),
            "blob": [rng.bytes(256) for _ in range(2000)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "job")
    cfg = pipeline.EncodeJobConfig(out_dir=out, run_id="rb1", key="k", n_partitions=4)
    pipeline.run_encode_job(spark, df, cfg)
    lin = lineage.read_lineage(spark, out).filter(F.col("column") == "blob")
    rows = lin.select("codec", "bytes_in", "bytes_out").collect()
    for r in rows:
        assert r.bytes_out <= r.bytes_in * 1.02 + 128
    assert {r.codec for r in rows} == {"raw"}
    dec = pipeline.decode_job(spark, out, "rb1", df.schema)
    chk = pipeline.verify_roundtrip(df, dec, "k")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0


def test_decode_colocated_fast_path(spark, webdf, tmp_path):
    """Small stripe files => no-shuffle decode; huge-file layout (or a
    tiny maxPartitionBytes) => shuffle fallback. Both bit-identical."""
    from orc_spark.engine import pipeline

    out = str(tmp_path / "colo")
    cfg = pipeline.EncodeJobConfig(out_dir=out, run_id="colo", n_partitions=4)
    pipeline.run_encode_job(spark, webdf, cfg)
    assert pipeline._stripe_files_fit_one_task_each(spark, out)
    dec = pipeline.decode_job(spark, out, "colo", webdf.schema)
    assert "Exchange" not in dec._jdf.queryExecution().executedPlan().toString()
    v = pipeline.verify_roundtrip(webdf, dec, "url")
    assert v["missing_from_decoded"] == 0 and v["extra_in_decoded"] == 0

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        assert not pipeline._stripe_files_fit_one_task_each(spark, out)
        dec2 = pipeline.decode_job(spark, out, "colo", webdf.schema)
        v2 = pipeline.verify_roundtrip(webdf, dec2, "url")
        assert v2["missing_from_decoded"] == 0 and v2["extra_in_decoded"] == 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_distributed_webgen_deterministic(spark):
    from orc_spark.engine import webgen

    a = webgen.generate_distributed(spark, 4000, 4)
    assert a.count() == 4000
    r1 = a.orderBy("url").limit(5).collect()
    r2 = webgen.generate_distributed(spark, 4000, 4).orderBy("url").limit(5).collect()
    assert r1 == r2
    assert set(a.columns) == {"url", "warc_ts", "html", "text", "lang"}
    assert a.select("url").distinct().count() == 4000  # globally unique urls


def test_stripe_rows_rechunk_roundtrip(spark, webdf, tmp_path):
    """stripe_rows makes stripe size a job property: every stripe but
    each partition's last has exactly stripe_rows rows, regardless of
    the session's Arrow batch conf — and the roundtrip stays exact."""
    out = str(tmp_path / "job_sr")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="sr1", key="url", n_partitions=4,
        stripe_rows=500,
    )
    pipeline.run_encode_job(spark, webdf, cfg)
    per_stripe = (
        pipeline.read_stripes(spark, out, "sr1")
        .filter(F.col("column") == "url")
        .select("partition_id", "stripe_idx", "n_rows")
        .collect()
    )
    by_pid: dict[int, list] = {}
    for r in per_stripe:
        by_pid.setdefault(r.partition_id, []).append(r)
    assert len(by_pid) == 4
    for pid, rows in by_pid.items():
        rows.sort(key=lambda r: r.stripe_idx)
        body, last = rows[:-1], rows[-1]
        assert all(r.n_rows == 500 for r in body), (pid, rows)
        assert 0 < last.n_rows <= 500
    assert sum(r.n_rows for r in per_stripe) == webdf.count()
    dec = pipeline.decode_job(spark, out, "sr1", webdf.schema)
    chk = pipeline.verify_roundtrip(webdf, dec, "url")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0


def test_compact_run_merges_stripes(spark, webdf, tmp_path):
    """Many tiny stripes (streaming-shaped layout) -> one compaction
    pass -> far fewer stripes, exact same rows on decode."""
    out = str(tmp_path / "job_cp")
    small = pipeline.EncodeJobConfig(
        out_dir=out, run_id="cp-src", key="url", n_partitions=4,
        stripe_rows=200,
    )
    pipeline.run_encode_job(spark, webdf, small)
    n_small = (
        pipeline.read_stripes(spark, out, "cp-src")
        .filter(F.col("column") == "url").count()
    )
    res = pipeline.compact_run(
        spark, out, "cp-src", webdf.schema, key="url",
        n_partitions=4, stripe_rows=65536,
    )
    assert res.run_id == "cp-src-compact"
    assert res.partitions_encoded == 4
    n_big = (
        pipeline.read_stripes(spark, out, "cp-src-compact")
        .filter(F.col("column") == "url").count()
    )
    assert n_big <= 4 and n_big < n_small / 4, (n_small, n_big)
    dec = pipeline.decode_job(spark, out, "cp-src-compact", webdf.schema)
    chk = pipeline.verify_roundtrip(webdf, dec, "url")
    assert chk["missing_from_decoded"] == 0 and chk["extra_in_decoded"] == 0
    # the source run is untouched and still decodable
    assert (
        pipeline.decode_job(spark, out, "cp-src", webdf.schema).count()
        == webdf.count()
    )


def test_cli_compact(spark, webdf, tmp_path):
    from orc_spark.__main__ import main

    src = str(tmp_path / "cli_src.parquet")
    webdf.select("url", "warc_ts", "text", "lang").write.parquet(src)
    out = str(tmp_path / "cli_stripes")
    assert main([
        "encode", src, "--out", out, "--run-id", "c1", "--key", "url",
        "--partitions", "4", "--stripe-rows", "250",
    ]) == 0
    assert main([
        "compact", "--out", out, "--run-id", "c1", "--schema-from", src,
        "--key", "url", "--partitions", "4",
    ]) == 0
    dec = pipeline.decode_job(
        spark, out, "c1-compact", spark.read.parquet(src).schema
    )
    assert dec.count() == webdf.count()


def test_decode_schema_evolution_null_fills_new_column(spark, webdf, tmp_path):
    """A column added to the table schema AFTER a run was encoded
    decodes as all-null of the requested type (Iceberg add-column read
    semantics); without opting in, the missing column is a hard error."""
    from pyspark.sql.types import DoubleType, StructField

    out = str(tmp_path / "job_ev")
    cols = ["url", "text", "lang"]
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="ev1", key="url", columns=cols, n_partitions=4
    )
    pipeline.run_encode_job(spark, webdf.select(cols), cfg)
    evolved = pipeline.decode_job(
        spark, out, "ev1",
        webdf.select(cols).schema.add(StructField("score", DoubleType(), True)),
        allow_missing_columns=True,
    )
    assert evolved.count() == webdf.count()
    assert evolved.filter(F.col("score").isNotNull()).count() == 0
    assert evolved.schema["score"].dataType == DoubleType()
    # strict mode still refuses
    import pytest as _pytest

    with _pytest.raises(Exception, match="incomplete stripe groups"):
        pipeline.decode_job(
            spark, out, "ev1",
            webdf.select(cols).schema.add(StructField("score", DoubleType(), True)),
        ).count()


def test_suggest_partitions_scales_with_input(spark, webdf, tmp_path):
    """Partition count derives from scan size: floors at default
    parallelism for small inputs, grows ~linearly past the target."""
    small_p = str(tmp_path / "small.parquet")
    webdf.select("url", "text").limit(500).write.parquet(small_p)
    small_df = spark.read.parquet(small_p)
    floor = spark.sparkContext.defaultParallelism
    assert pipeline.suggest_partitions(spark, small_df) == floor
    # shrink the target so even this table spans multiple partitions
    n = pipeline.suggest_partitions(spark, small_df, target_bytes=4096)
    assert n > floor
    n2 = pipeline.suggest_partitions(spark, small_df, target_bytes=2048)
    assert n2 >= n


def test_decode_checksum_verification_catches_corruption(spark, webdf, tmp_path):
    """verify_checksums recomputes each stripe's value checksum at
    read time: the clean run decodes fine; a corrupted blob fails
    loudly instead of returning wrong rows."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "job_ck")
    cols = ["url", "lang"]
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="ck1", key="url", columns=cols, n_partitions=2
    )
    pipeline.run_encode_job(spark, webdf.select(cols), cfg)
    schema = webdf.select(cols).schema
    ok = pipeline.decode_job(spark, out, "ck1", schema, verify_checksums=True)
    assert ok.count() == webdf.count()

    # flip bytes inside one blob (bypassing the framing layer's own
    # structure checks by corrupting mid-payload)
    sdir = lineage.stripes_dir(out)
    f = sorted(glob.glob(f"{sdir}/*.parquet"))[0]
    t = pq.read_table(f)
    data = t.column("data").to_pylist()
    blob = bytearray(data[0])
    blob[len(blob) // 2] ^= 0xFF
    blob[-1] ^= 0xFF
    data[0] = bytes(blob)
    t = t.set_column(t.schema.get_field_index("data"), "data", [data])
    pq.write_table(t, f, compression="none")

    import pytest as _pytest

    with _pytest.raises(Exception, match="checksum mismatch|decode|zlib|error"):
        pipeline.decode_job(
            spark, out, "ck1", schema, verify_checksums=True
        ).count()


def test_mixed_schema_stripes_dir_reads_and_rewrites_safely(spark, webdf, tmp_path):
    """ADVICE r3 (medium): a stripes dir spanning an engine upgrade is
    mixed-schema (r3 added 8 zone-stat/bloom columns). Every read and
    rewrite path must use the explicit STRIPE_SCHEMA: pre-upgrade rows
    read their missing stat columns as null ("always keep"), and a
    retention rewrite must not strip the new columns from newer rows
    — whichever file footer Spark would have sampled."""
    from orc_spark.engine import retention
    from orc_spark.engine.encode import STRIPE_SCHEMA

    out = str(tmp_path / "job")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="new-run", key="url", n_partitions=4,
        cluster_by="url",
    )
    pipeline.run_encode_job(spark, webdf, cfg)
    sdir = lineage.stripes_dir(out)

    # simulate a pre-upgrade run: same dir, 14-column schema (no
    # zone stats, no bloom)
    legacy_cols = [
        "run_id", "partition_id", "stripe_idx", "column", "codec",
        "n_rows", "bytes_in", "bytes_out", "checksum", "encode_ms",
        "attempts", "status", "failure_category", "epoch", "data",
    ]
    legacy = (
        spark.read.schema(STRIPE_SCHEMA).parquet(sdir)
        .filter(F.col("run_id") == "new-run")
        .select(legacy_cols)
        .withColumn("run_id", F.lit("old-run"))
    )
    legacy.write.mode("append").option("compression", "none").parquet(sdir)
    lin_old = lineage.lineage_from_stripes(
        spark.read.schema(STRIPE_SCHEMA).parquet(sdir)
        .filter(F.col("run_id") == "old-run").drop("data")
    )
    lineage.append_lineage(lin_old, out)

    # reads: full schema with nulls for the legacy rows
    stripes = pipeline.read_stripes(spark, out)
    assert "bloom" in stripes.columns and "min_str" in stripes.columns
    old_rows = stripes.filter(F.col("run_id") == "old-run")
    assert old_rows.filter(F.col("bloom").isNotNull()).count() == 0
    assert old_rows.count() > 0

    # predicated decode of BOTH runs: legacy rows never pruned, new
    # rows pruned exactly; results match a plain filter
    url = webdf.select("url").orderBy("url").first()[0]
    pred = [("url", "==", url)]
    for rid in ("new-run", "old-run"):
        dec = pipeline.decode_job(
            spark, out, rid, webdf.schema, predicate=pred
        ).filter(F.col("url") == url)
        assert dec.count() == webdf.filter(F.col("url") == url).count(), rid

    # vacuum + retention rewrites keep the new run's stat columns
    retention.vacuum_epochs(spark, out)
    retention.prune_history(spark, out, limit=2)
    after = pipeline.read_stripes(spark, out, "new-run")
    assert after.filter(F.col("bloom").isNotNull()).count() > 0
    assert after.filter(F.col("min_str").isNotNull()).count() > 0


def test_metadata_aggregate_exact_or_loud(spark, tmp_path):
    """Zone-stat aggregates are exact or they refuse: NaN-poisoned
    float stripes (no stats recorded) raise instead of returning a
    wrong MIN/MAX; clean columns match decode-side aggregation,
    including nulls and an all-null column."""
    import pytest as _pytest

    rows = [
        (
            i,
            None if i % 5 == 0 else float(i) / 4,
            None,  # all-null string column
            f"s{i:04d}" if i % 3 else None,
        )
        for i in range(512)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, value double, empty string, tag string"
    )
    out = str(tmp_path / "ma")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="ma", key="event_id", n_partitions=4,
        stripe_rows=64,
    )
    pipeline.run_encode_job(spark, df, cfg)
    got = {
        r.column: r
        for r in pipeline.metadata_aggregate(
            spark, out, "ma", ["event_id", "value", "empty", "tag"]
        ).collect()
    }
    assert got["event_id"].min_int == 0 and got["event_id"].max_int == 511
    assert got["event_id"].n_nulls == 0 and got["event_id"].n_rows == 512
    assert got["value"].n_nulls == 103  # i % 5 == 0 in [0, 512)
    assert got["value"].min_num == 0.25 and got["value"].max_num == 511 / 4
    assert got["empty"].n_nulls == 512 and got["empty"].min_str is None
    assert got["tag"].min_str == "s0001" and got["tag"].max_str == "s0511"

    # NaN-poisoned float column: stats absent -> loud refusal
    bad = spark.createDataFrame(
        [(i, float("nan") if i == 7 else 1.0) for i in range(64)],
        "event_id long, value double",
    )
    out2 = str(tmp_path / "ma_nan")
    pipeline.run_encode_job(
        spark, bad,
        pipeline.EncodeJobConfig(
            out_dir=out2, run_id="nan", key="event_id", n_partitions=2
        ),
    )
    with _pytest.raises(ValueError, match="zone stats"):
        pipeline.metadata_aggregate(spark, out2, "nan", ["value"])
    # but the int column still answers
    ok = pipeline.metadata_aggregate(spark, out2, "nan", ["event_id"]).first()
    assert ok.min_int == 0 and ok.max_int == 63

    # CLI surface
    import json as _json

    from orc_spark.__main__ import main as _main
    import pytest as _pt

    assert _main([
        "agg", "--out", out2, "--run-id", "nan", "--columns", "event_id",
    ]) == 0


def test_join_pruned_decode_prunes_both_sides_and_broadcasts(spark, tmp_path):
    """Star join over two encoded runs: the key-range predicate prunes
    stripe groups on BOTH runs, the decoded dim side broadcasts, and
    the joined aggregate equals the plain-DataFrame join."""
    from orc_spark.engine import zonemap

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = int(od.agg(F.max("o_orderkey")).first()[0]) // 10
    cfg_f = pipeline.EncodeJobConfig(
        out_dir=str(tmp_path / "f"), run_id="jf", key="l_orderkey",
        n_partitions=4, cluster_by="l_orderkey", stripe_rows=512,
    )
    cfg_d = pipeline.EncodeJobConfig(
        out_dir=str(tmp_path / "d"), run_id="jd", key="o_orderkey",
        n_partitions=4, cluster_by="o_orderkey", stripe_rows=128,
    )
    pipeline.run_encode_job(spark, li, cfg_f)
    pipeline.run_encode_job(spark, od, cfg_d)
    pred_f = [("l_orderkey", "<=", hi)]
    pred_d = [("o_orderkey", "<=", hi)]
    fact = pipeline.decode_job(
        spark, cfg_f.out_dir, "jf", li.schema, predicate=pred_f
    ).filter(zonemap.predicate_expr(pred_f))
    dim = pipeline.decode_job(
        spark, cfg_d.out_dir, "jd", od.schema, predicate=pred_d
    ).filter(zonemap.predicate_expr(pred_d))
    got = (
        fact.join(F.broadcast(dim), fact["l_orderkey"] == dim["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    want = (
        li.filter(F.col("l_orderkey") <= hi)
        .join(od.filter(F.col("o_orderkey") <= hi),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # both runs actually pruned: 10% key range over clustered layouts
    for out_dir, run_id, pred in (
        (cfg_f.out_dir, "jf", pred_f),
        (cfg_d.out_dir, "jd", pred_d),
    ):
        stripes = pipeline.read_stripes(spark, out_dir, run_id)
        total = stripes.count()
        kept = zonemap.prune_stripes(stripes, pred).count()
        assert kept < total * 0.6, (run_id, kept, total)
    # and the dim side reached the join as a broadcast
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_type_promotion_decode_widens_and_rejects_narrowing(spark, tmp_path):
    """int32/float32 runs decode under the widened (long/double)
    schema bit-faithfully; narrowing (long run read as int) is NOT a
    silent truncation — Arrow's checked cast raises in the task."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        F.col("event_id").cast("int").alias("event_id"),
        F.col("value").cast("float").alias("value"),
    )
    cfg = pipeline.EncodeJobConfig(
        out_dir=str(tmp_path / "n"), run_id="tp", key="event_id",
        n_partitions=2,
    )
    pipeline.run_encode_job(spark, ev, cfg)
    wide = StructType(
        [StructField("event_id", LongType()), StructField("value", DoubleType())]
    )
    got = pipeline.decode_job(spark, cfg.out_dir, "tp", wide)
    assert dict(got.dtypes) == {"event_id": "bigint", "value": "double"}
    want = ev.select(
        F.col("event_id").cast("long"), F.col("value").cast("double")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # narrowing: encode a long that exceeds int32, read as int -> loud
    big = spark.range(1).select(
        (F.col("id") + 5_000_000_000).alias("event_id")
    )
    cfg2 = pipeline.EncodeJobConfig(
        out_dir=str(tmp_path / "w"), run_id="big", key="event_id",
        n_partitions=1,
    )
    pipeline.run_encode_job(spark, big, cfg2)
    narrow = StructType([StructField("event_id", IntegerType())])
    import pytest as _pytest

    with _pytest.raises(Exception):
        pipeline.decode_job(spark, cfg2.out_dir, "big", narrow).collect()


def test_missing_defaults_fill_constants_not_nulls(spark, tmp_path):
    """Iceberg v3 initial-default read: added columns fill with the
    default for pre-existing rows; columns without a default stay
    null; present columns are untouched."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    df = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang")
    cfg = pipeline.EncodeJobConfig(
        out_dir=str(tmp_path / "r"), run_id="de", key="doc_id",
        n_partitions=2,
    )
    pipeline.run_encode_job(spark, df, cfg)
    wider = StructType(
        list(df.schema.fields)
        + [
            StructField("tier", StringType()),
            StructField("w", DoubleType()),
            StructField("n", LongType()),
        ]
    )
    got = pipeline.decode_job(
        spark, cfg.out_dir, "de", wider,
        columns=["doc_id", "lang", "tier", "w", "n"],
        allow_missing_columns=True,
        missing_defaults={"tier": "bronze", "w": 0.5},
    )
    row = got.orderBy("doc_id").first()
    assert row.tier == "bronze" and row.w == 0.5 and row.n is None
    assert got.filter(
        (F.col("tier") != "bronze") | F.col("n").isNotNull()
    ).count() == 0
    assert got.count() == df.count()


def test_read_aliases_rename_with_predicate_and_collision_guard(
    spark, tmp_path
):
    """Rename-on-read: stored names decode under new names, predicates
    in new names prune, collisions raise."""
    from pyspark.sql.types import LongType, StructField, StructType

    from orc_spark.engine import zonemap

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id"
    )
    cfg = pipeline.EncodeJobConfig(
        out_dir=str(tmp_path / "r"), run_id="rn", key="event_id",
        n_partitions=2, cluster_by="event_id", stripe_rows=256,
    )
    pipeline.run_encode_job(spark, ev, cfg)
    renamed = StructType(
        [StructField("eid", LongType()), StructField("uid", LongType())]
    )
    pred = [("eid", "<=", 100)]
    got = pipeline.decode_job(
        spark, cfg.out_dir, "rn", renamed, predicate=pred,
        read_aliases={"eid": "event_id", "uid": "user_id"},
    ).filter(zonemap.predicate_expr(pred))
    want = ev.filter(F.col("event_id") <= 100).select(
        F.col("event_id").alias("eid"), F.col("user_id").alias("uid")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.columns == ["eid", "uid"]

    with pytest.raises(ValueError, match="collide"):
        pipeline.decode_job(
            spark, cfg.out_dir, "rn", renamed,
            read_aliases={"eid": "event_id", "uid": "event_id"},
        )


def test_cli_decode_or_where(spark, tmp_path, capsys):
    """--or-where branches decode as a disjunction; --where ANDs into
    every branch."""
    import json

    from orc_spark.__main__ import main as _main

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src.parquet")
    ev.write.parquet(src)
    out = str(tmp_path / "run")
    cfg = pipeline.EncodeJobConfig(
        out_dir=out, run_id="ow", key="event_id", n_partitions=2,
        cluster_by="event_id", stripe_rows=128,
    )
    pipeline.run_encode_job(spark, ev, cfg)
    dest = str(tmp_path / "decoded")
    assert _main([
        "decode", "--out", out, "--run-id", "ow",
        "--schema-from", src, "--output", dest,
        "--where", "event_type=click",
        "--or-where", "event_id<=50",
        "--or-where", "event_id>=900",
    ]) == 0
    rep = json.loads(capsys.readouterr().out)
    want = ev.filter(
        (F.col("event_type") == "click")
        & ((F.col("event_id") <= 50) | (F.col("event_id") >= 900))
    )
    assert rep["rows"] == want.count()
    got = spark.read.parquet(dest)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_cli_encode_override_pins_codec(spark, tmp_path, capsys):
    """--override bypasses the sampler for the named column; the
    lineage ledger records the pinned codec."""
    import json

    from orc_spark.__main__ import main as _main

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang")
    src = str(tmp_path / "src.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "run")
    assert _main([
        "encode", src, "--out", out, "--run-id", "ov",
        "--key", "doc_id", "--partitions", "2",
        "--override", "lang=raw",
    ]) == 0
    json.loads(capsys.readouterr().out)
    lin = lineage.read_lineage(spark, out).filter(F.col("column") == "lang")
    codecs = {r.codec for r in lin.select("codec").collect()}
    # the sampler would pick dict for a 5-value column; raw proves
    # the chain was pinned
    assert codecs == {"raw"}, codecs

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="override"):
        _main([
            "encode", src, "--out", out, "--run-id", "ov2",
            "--key", "doc_id", "--override", "nochain",
        ])
