"""CLI entry point: ``python -m orc_spark <command>``.

Mirrors the reference CLI's surface (`orc run/stats/report`,
/root/reference/cmd/orc/main.go) and its structured exit-code taxonomy
(/root/reference/internal/runner/exitcode.go:6-16):

    0 success
    1 generic failure
    2 bad usage / config
    3 verification failure (round-trip mismatch)
    4 interrupted
"""

from __future__ import annotations

import argparse
import datetime
import json
import sys

EXIT_OK = 0
EXIT_FAIL = 1
EXIT_USAGE = 2
EXIT_VERIFY = 3
EXIT_INTERRUPTED = 4


def _session(cores: int | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName("orc-spark-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if cores:
        b = b.master(f"local[{cores}]")
    return b.getOrCreate()


def _parse_overrides(specs) -> dict | None:
    """--override col=codec1|codec2 (repeatable): pin a column's codec
    fallback chain, bypassing the sampler. 'raw' always terminates the
    chain implicitly (the encode-side guarantee)."""
    if not specs:
        return None
    out: dict = {}
    for spec in specs:
        col, _, chain = spec.partition("=")
        if not col or not chain:
            raise SystemExit(
                f"--override expects col=codec1|codec2, got {spec!r}"
            )
        out[col.strip()] = [
            c.strip() for c in chain.split("|") if c.strip()
        ]
    return out


def cmd_encode(args) -> int:
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    fmt = getattr(args, "input_format", "parquet")
    if fmt == "orc":  # admit an existing ORC corpus (storage.read_orc)
        from orc_spark.engine import storage

        df = storage.read_orc(spark, args.input)
    elif fmt == "warc":  # Common-Crawl response shards (sources.warc)
        from orc_spark.sources import warc as warc_mod

        df = warc_mod.read_warc(spark, args.input)
    elif fmt == "wet":  # Common-Crawl extracted-text shards
        from orc_spark.sources import warc as warc_mod

        df = warc_mod.read_wet(spark, args.input)
    elif fmt == "jsonl":  # Dolma/FineWeb JSON-Lines (sources.jsonl)
        from orc_spark.sources import jsonl as jsonl_mod

        if not getattr(args, "schema_from", None):
            raise SystemExit(
                "--input-format jsonl needs --schema-from (a parquet "
                "file with the corpus schema — JSONL is never "
                "schema-inferred at scale)"
            )
        schema = spark.read.parquet(args.schema_from).schema
        df, n_corrupt = jsonl_mod.read_jsonl(spark, args.input, schema)
        if n_corrupt:
            print(
                json.dumps({"corrupt_lines_excluded": int(n_corrupt)}),
                flush=True,
            )
    else:
        df = spark.read.parquet(args.input)
    n_partitions = args.partitions or pipeline.suggest_partitions(spark, df)
    cfg = pipeline.EncodeJobConfig(
        out_dir=args.out,
        run_id=args.run_id,
        key=args.key,
        n_partitions=n_partitions,
        waves=args.waves,
        cluster_by=args.cluster_by,
        zorder_by=(
            [c.strip() for c in args.zorder_by.split(",") if c.strip()]
            if getattr(args, "zorder_by", None) else None
        ),
        compression=None if args.compression == "none" else args.compression,
        compression_level=args.compression_level,
        stripe_rows=args.stripe_rows,
        stripe_bytes=getattr(args, "stripe_bytes", None),
        token_bloom_columns=tuple(
            c.strip()
            for c in (getattr(args, "token_bloom", None) or "").split(",")
            if c.strip()
        ),
        overrides=_parse_overrides(getattr(args, "override", None)),
    )
    res = pipeline.run_encode_job(spark, df, cfg)
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "partitions_total": res.partitions_total,
                "partitions_skipped": res.partitions_skipped,
                "partitions_encoded": res.partitions_encoded,
                "columns": res.columns,
            }
        )
    )
    if args.verify:
        dec = pipeline.decode_job(spark, args.out, args.run_id, df.schema)
        chk = pipeline.verify_roundtrip(df, dec, args.key)
        print(json.dumps(chk))
        if chk["missing_from_decoded"] or chk["extra_in_decoded"]:
            return EXIT_VERIFY
    return EXIT_OK


# Longest alternative first so `>=` wins over `>`. Anchoring the
# operator right after the column NAME ([\w.]+) is what keeps operator
# characters inside a quoted right-hand side out of the scan: in
# `tag='a<b'` the only operator position considered is after `tag`,
# so the embedded `<` can never split the clause (ADVICE r4 #3).
_WHERE_RE = None  # compiled lazily (re import stays function-local)


def _parse_where(clause: str) -> tuple[str, str, object]:
    """`col>=value` -> a zonemap conjunct; value is int, then float,
    then bare string (quote to force string verbatim — operator and
    comma characters inside the quotes are literal). `col in a,b,c`
    -> an IN-list conjunct (blooms OR-combined); `col is [not] null`
    -> a null-count conjunct. Column names are identifiers (\\w+)."""
    import re as _re

    global _WHERE_RE
    if _WHERE_RE is None:
        _WHERE_RE = _re.compile(r"^\s*([\w.]+)\s*(>=|<=|==|!=|>|<|=)\s*(.+?)\s*$")
    m = _re.match(r"^\s*([\w.]+)\s+is\s+(not\s+)?null\s*$", clause, _re.IGNORECASE)
    if m:
        return m.group(1), ("not_null" if m.group(2) else "is_null"), None
    m = _WHERE_RE.match(clause)
    if m:
        return m.group(1), m.group(2), _parse_value(m.group(3))
    m = _re.match(
        r"^\s*([\w.]+)\s+contains\s+(.+?)\s*$", clause, _re.IGNORECASE
    )
    if m:
        tok = m.group(2)
        if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "'\"":
            tok = tok[1:-1]
        return m.group(1), "contains_token", tok
    m = _re.match(r"^\s*([\w.]+)\s+like\s+(.+?)\s*$", clause, _re.IGNORECASE)
    if m:
        pat = m.group(2)
        if len(pat) >= 2 and pat[0] == pat[-1] and pat[0] in "'\"":
            pat = pat[1:-1]
        # only the prefix form is zone-map-pruneable; anything else
        # (leading %, inner wildcards, escapes) errors loudly rather
        # than silently matching a different set
        body = pat[:-1]
        if not pat.endswith("%") or any(ch in body for ch in "%_\\"):
            raise ValueError(
                f"only prefix LIKE 'abc%' is supported, got {pat!r}"
            )
        return m.group(1), "like_prefix", body
    m = _re.match(r"^\s*([\w.]+)\s+in\s+(.+)$", clause, _re.IGNORECASE)
    if m:
        # split on commas OUTSIDE quotes so quoted list members may
        # contain commas/operators verbatim
        vals = [
            _parse_value(v.strip())
            for v in _re.findall(
                r"'[^']*'|\"[^\"]*\"|[^,]+", m.group(2)
            )
            if v.strip()
        ]
        return m.group(1), "in", vals
    raise ValueError(f"cannot parse --where clause: {clause!r}")


def _parse_value(raw: str) -> object:
    # An explicitly quoted value is a string VERBATIM — the only way to
    # force string semantics for numeric- or date-shaped values in a
    # string column (--where id='123'); coercing after stripping the
    # quotes made that row-losingly impossible (ADVICE r3).
    if len(raw) >= 2 and raw[0] == raw[-1] and raw[0] in "'\"":
        return raw[1:-1]
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        pass
    bare = raw
    try:
        # ISO timestamps/dates prune timestamp columns
        # (plain strings stay strings)
        value = datetime.datetime.fromisoformat(bare)
        if (value.hour, value.minute, value.second,
                value.microsecond) == (0, 0, 0, 0) and "T" not in bare and " " not in bare:
            return value.date()
        return value
    except ValueError:
        return bare


def cmd_decode(args) -> int:
    from orc_spark.engine import pipeline, zonemap

    spark = _session(args.cores)
    original = spark.read.parquet(args.schema_from)
    columns = args.columns.split(",") if args.columns else None
    schema = original.select(columns).schema if columns else original.schema
    predicate = [_parse_where(w) for w in args.where or []]
    if getattr(args, "or_where", None):
        # DNF: each --or-where is one OR branch of semicolon-joined
        # conjuncts; --where conjuncts (if any) AND into every branch
        branches = [
            predicate + [_parse_where(w) for w in b.split(";") if w]
            for b in args.or_where
        ]
        dec = pipeline.decode_job_dnf(
            spark, args.out, args.run_id, schema, branches,
            columns=columns,
        ).filter(zonemap.predicate_dnf_expr(branches))
        dec.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
        return EXIT_OK
    dec = pipeline.decode_job(
        spark, args.out, args.run_id, schema,
        columns=columns, predicate=predicate or None,
        allow_missing_columns=args.allow_missing_columns,
        verify_checksums=args.verify_checksums,
        as_of_epoch=args.as_of_epoch,
        as_of_tag=args.as_of_tag,
    )
    if predicate:
        dec = dec.filter(zonemap.predicate_expr(predicate))
    dec.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
    return EXIT_OK


def cmd_tag(args) -> int:
    """Pin a snapshot tag (named ref over the epoch history — Iceberg
    tag semantics) for decode --as-of-tag."""
    from orc_spark.engine import lineage

    spark = _session(args.cores)
    epoch = lineage.write_tag(
        spark, args.out, args.run_id, args.name, args.epoch
    )
    print(json.dumps({"run_id": args.run_id, "tag": args.name, "epoch": epoch}))
    return EXIT_OK


def cmd_delete(args) -> int:
    from orc_spark.engine import deletes, pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    predicate = [_parse_where(w) for w in args.where]
    if args.eq:
        # O(1) value-level delete: the conjunct must be a plain
        # equality/IN — anything else needs the position scan
        if len(predicate) != 1 or predicate[0][1] not in ("==", "=", "in"):
            raise SystemExit(
                "--eq takes exactly one equality/IN --where conjunct"
            )
        col, op, val = predicate[0]
        vals = list(val) if op == "in" else [val]
        n = pipeline.delete_rows_eq(spark, args.out, args.run_id, col, vals)
    else:
        n = pipeline.delete_rows(
            spark, args.out, args.run_id, schema, predicate
        )
    print(
        json.dumps(
            {
                "rows_marked": n,
                **deletes.delete_stats(spark, args.out, args.run_id),
            }
        )
    )
    return EXIT_OK


def cmd_upsert(args) -> int:
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    updates = spark.read.parquet(args.updates)
    cfg = pipeline.EncodeJobConfig(
        out_dir=args.out,
        run_id=args.run_id,
        key=args.key,
        n_partitions=args.partitions
        or pipeline.suggest_partitions(spark, updates),
        stripe_rows=args.stripe_rows,
        compression=None if args.compression == "none" else args.compression,
    )
    res = pipeline.upsert_rows(spark, updates, cfg, key=args.key)
    print(json.dumps(res))
    return EXIT_OK


def cmd_compact(args) -> int:
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    if args.fragmented_only:
        rep = pipeline.compact_fragmented(
            spark, args.out, args.run_id, schema,
            target_stripe_rows=args.stripe_rows,
            frag_ratio=args.frag_ratio,
            compression=(
                None if args.compression == "none" else args.compression
            ),
        )
        print(json.dumps(rep))
        return EXIT_OK
    res = pipeline.compact_run(
        spark, args.out, args.run_id, schema, key=args.key,
        new_run_id=args.new_run_id,
        n_partitions=args.partitions,
        stripe_rows=args.stripe_rows,
        compression=None if args.compression == "none" else args.compression,
        cluster_by=args.cluster_by,
    )
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "partitions_encoded": res.partitions_encoded,
                "partitions_skipped": res.partitions_skipped,
            }
        )
    )
    return EXIT_OK


def cmd_merge(args) -> int:
    """Consolidate several runs into one (pipeline.merge_runs):
    deletes materialize, epoch history collapses."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    res = pipeline.merge_runs(
        spark, args.out, args.run_ids.split(","), schema,
        args.new_run_id, key=args.key,
        n_partitions=args.partitions, stripe_rows=args.stripe_rows,
        cluster_by=args.cluster_by,
    )
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "partitions_encoded": res.partitions_encoded,
            }
        )
    )
    return EXIT_OK


def cmd_clone(args) -> int:
    """Copy one run verbatim into another store (pipeline.clone_run)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    info = pipeline.clone_run(spark, args.out, args.run_id, args.dest)
    print(json.dumps({"run_id": args.run_id, **info}))
    return EXIT_OK


def cmd_report(args) -> int:
    from orc_spark.engine import report

    spark = _session(args.cores)
    rep = report.build_report(spark, args.out, args.run_id)
    print(report.render(rep, args.format))
    return EXIT_OK if rep.get("found") else EXIT_FAIL


def cmd_stats(args) -> int:
    from orc_spark.engine import lineage, metrics

    spark = _session(args.cores)
    lin = lineage.read_lineage(spark, args.out)
    for r in metrics.run_summary(lin).collect():
        print(
            json.dumps(
                {
                    "run_id": r.run_id,
                    "n_partitions": r.n_partitions,
                    "bytes_in": r.bytes_in,
                    "bytes_out": r.bytes_out,
                    "ratio": round(r.ratio, 4),
                }
            )
        )
    return EXIT_OK


def cmd_failures(args) -> int:
    """Failure-category breakdown across the ledger (≙ `orc stats`
    failure section, /root/reference/internal/stats/stats.go:399-437)."""
    from orc_spark.engine import lineage, metrics

    spark = _session(args.cores)
    lin = lineage.read_lineage(spark, args.out)
    rate = metrics.success_rate(lin).first()
    print(
        json.dumps(
            {
                "n_stripes": rate.n_stripes,
                "success_pct": round(rate.success_pct, 3),
            }
        )
    )
    for r in metrics.failure_categories(lin).collect():
        print(
            json.dumps(
                {
                    "failure_category": r.failure_category,
                    "n": r.n,
                    "pct_of_failed": round(r.pct_of_failed, 2),
                }
            )
        )
    return EXIT_OK


def cmd_prune(args) -> int:
    from orc_spark.engine import retention

    spark = _session(args.cores)
    expired = retention.prune_history(spark, args.out, args.limit)
    print(json.dumps({"expired": expired}))
    return EXIT_OK


def cmd_doctor(args) -> int:
    """Deterministic failure diagnosis (≙ `orc doctor`,
    /root/reference/internal/doctor/doctor.go:46-85 — rule-based over
    the structured ledger instead of an LLM call)."""
    from orc_spark.engine import doctor

    report = {"environment": doctor.environment_report()}
    if args.out:
        spark = _session(args.cores)
        report["diagnosis"] = doctor.diagnose_run(spark, args.out, args.run_id)
    print(json.dumps(report, indent=2))
    return EXIT_OK


def cmd_vacuum(args) -> int:
    from orc_spark.engine import retention

    spark = _session(args.cores)
    removed = retention.vacuum_epochs(spark, args.out, args.run_id)
    print(json.dumps({"stripes_removed": removed}))
    return EXIT_OK


def cmd_rollback(args) -> int:
    from orc_spark.engine import retention

    spark = _session(args.cores)
    removed = retention.rollback_to_epoch(
        spark, args.out, args.run_id, args.epoch
    )
    print(json.dumps({
        "run_id": args.run_id, "epoch": args.epoch,
        "stripes_removed": removed,
    }))
    return EXIT_OK


def cmd_publish_table(args) -> int:
    """Decode a run into one of the three consumption layouts:
    Hive-partitioned parquet (directory pruning on a low-cardinality
    column), bucketed catalog table (shuffle-free co-located joins),
    or globally-sorted range-disjoint files (footer-stat range scans
    + manifest-prefix top-N)."""
    from orc_spark.engine import pipeline, storage

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    cols = args.columns.split(",") if args.columns else None
    rep: dict = {"mode": args.mode, "dest": args.dest}
    if args.mode == "partitioned":
        rep.update(
            storage.export_partitioned(
                spark, args.out, args.run_id, schema, args.by,
                args.dest, columns=cols,
            )
        )
    elif args.mode == "bucketed":
        storage.export_bucketed(
            spark, args.out, args.run_id, schema, args.by,
            args.table_name or f"pub_{args.run_id}", args.dest,
            n_buckets=args.n, columns=cols,
        )
        rep["table"] = args.table_name or f"pub_{args.run_id}"
    else:  # sorted
        man = storage.export_sorted(
            spark, args.out, args.run_id, schema, args.by,
            args.dest, n_files=args.n, columns=cols,
        ).collect()
        rep["files"] = len(man)
        rep["ranges"] = [
            {"lo": str(m.lo), "hi": str(m.hi), "n_rows": m.n_rows}
            for m in man
        ]
        if args.topn:
            top, scanned, total = storage.topn_sorted(
                spark,
                spark.createDataFrame(man),
                args.by,
                args.topn,
            )
            rep["topn"] = {
                "n": args.topn,
                "files_scanned": scanned,
                "files_total": total,
                "first": str(top.first()[0]) if args.topn else None,
            }
    print(json.dumps(rep))
    return EXIT_OK


def cmd_publish(args) -> int:
    """Write-audit-publish: rename an audited staging run to its
    production run_id (metadata-only atomic rewrite)."""
    from orc_spark.engine import retention

    spark = _session(args.cores)
    moved = retention.publish_run(
        spark, args.out, args.staging_run_id, args.run_id
    )
    print(json.dumps({
        "staging_run_id": args.staging_run_id,
        "run_id": args.run_id, "stripes_published": moved,
    }))
    return EXIT_OK


def cmd_export(args) -> int:
    """Decode a run and publish it for interchange: standard Apache
    ORC files (the reference's native format — storage.export_orc;
    any spec-conformant reader consumes the output), gzipped JSONL
    (the Dolma/FineWeb corpus convention), or RFC 4180 CSV."""
    from orc_spark.engine import pipeline, storage

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    cols = args.columns.split(",") if args.columns else None
    df = pipeline.decode_job(
        spark, args.out, args.run_id, schema, columns=cols
    )
    fmt = getattr(args, "format", "orc")
    if fmt == "jsonl":
        from orc_spark.sources import jsonl as jsonl_mod

        jsonl_mod.write_jsonl(df, args.dest)
        n = spark.read.schema(df.schema).json(args.dest).count()
    elif fmt == "csv":
        from orc_spark.sources import csvfile

        csvfile.write_csv(df, args.dest)
        back, _ = csvfile.read_csv(
            spark, args.dest, df.schema,
            multi_line=True, count_corrupt=False,
        )
        n = back.count()
    else:
        storage.export_orc(df, args.dest, args.compression)
        n = storage.read_orc(spark, args.dest).count()
    print(json.dumps({
        "dest": args.dest, "rows": int(n), "format": fmt,
        "compression": args.compression,
    }))
    return EXIT_OK


def cmd_agg(args) -> int:
    """MIN/MAX/COUNT/null-count per column from zone statistics only —
    zero data bytes read (pipeline.metadata_aggregate)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    rows = pipeline.metadata_aggregate(
        spark, args.out, args.run_id, args.columns.split(",")
    ).collect()
    print(json.dumps({"columns": [r.asDict() for r in rows]}))
    return EXIT_OK


def cmd_count(args) -> int:
    """Exact COUNT(*) WHERE predicate via zone-map ALL/NONE proofs —
    interior stripes answer from metadata, only boundary stripes
    decode (pipeline.metadata_count)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    predicate = [_parse_where(w) for w in args.where]
    cnt, detail = pipeline.metadata_count(
        spark, args.out, args.run_id, schema, predicate
    )
    print(json.dumps({"count": cnt, **detail}))
    return EXIT_OK


def cmd_sum(args) -> int:
    """Exact SUM/COUNT (AVG derivable) of one column, optionally WHERE
    predicate — per-stripe sum statistics answer ALL-classified
    groups, only boundary/unsummable stripes decode
    (pipeline.metadata_sum)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    predicate = [_parse_where(w) for w in args.where or []]
    s, c, detail = pipeline.metadata_sum(
        spark, args.out, args.run_id, schema, args.column,
        predicate or None,
    )
    avg = (s / c) if (s is not None and c) else None
    print(json.dumps({"sum": s, "count": c, "avg": avg, **detail}))
    return EXIT_OK


def cmd_stddev(args) -> int:
    """Exact VAR_POP/VAR_SAMP/STDDEV/AVG of one numeric column,
    optionally WHERE predicate — per-stripe second central moments
    merge via Chan's parallel-variance algebra, only boundary or
    moment-less stripes decode (pipeline.metadata_stddev)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    predicate = [_parse_where(w) for w in args.where or []]
    md = pipeline.metadata_stddev(
        spark, args.out, args.run_id, schema, args.column,
        predicate or None,
    )
    detail = md.pop("detail")
    print(json.dumps({**md, **detail}))
    return EXIT_OK


def cmd_groupagg(args) -> int:
    """Exact GROUP BY count/sum/min/max — stripes single-valued in the
    group key answer from metadata, boundary/impure stripes decode
    (pipeline.metadata_group_aggregate)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    predicate = [_parse_where(w) for w in args.where or []]
    rows = pipeline.metadata_group_aggregate(
        spark, args.out, args.run_id, schema, args.group_by,
        args.agg_col, predicate or None, agg=args.agg,
    ).orderBy(args.group_by).collect()
    print(json.dumps({"groups": [r.asDict() for r in rows]}, default=str))
    return EXIT_OK


def cmd_vcounts(args) -> int:
    """Exact GROUP BY col, COUNT(*) on UNCLUSTERED low-cardinality
    columns — per-stripe value-count histograms fold with zero data
    bytes, histogram-less/MIXED stripes decode
    (pipeline.metadata_value_counts)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    predicate = [_parse_where(w) for w in args.where or []]
    rows = pipeline.metadata_value_counts(
        spark, args.out, args.run_id, schema, args.column,
        predicate or None,
    ).orderBy(args.column).collect()
    print(json.dumps({"groups": [r.asDict() for r in rows]}, default=str))
    return EXIT_OK


def cmd_topk(args) -> int:
    """Exact ORDER BY col LIMIT k decoding only candidate stripes —
    zone-threshold top-k pushdown (pipeline.metadata_topk)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    predicate = [_parse_where(w) for w in args.where or []]
    rows = pipeline.metadata_topk(
        spark, args.out, args.run_id, schema, args.order_by, args.k,
        descending=not args.asc,
        columns=args.columns.split(",") if args.columns else None,
        tiebreak=args.tiebreak, predicate=predicate or None,
    ).collect()
    print(json.dumps({"rows": [r.asDict() for r in rows]}, default=str))
    return EXIT_OK


def cmd_plan(args) -> int:
    """EXPLAIN for the stripe store: classify every stripe group
    against the predicate (NONE/ALL/MIXED) with zero data reads and
    report what a predicated decode / metadata aggregate would touch —
    the pruning dry-run a user reads before paying for the scan."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    predicate = [_parse_where(w) for w in args.where]
    try:
        # classification only, with metadata_count's planner and its
        # loud contract: a misspelled / stats-less predicate column
        # must error, not print an all-zero classification that reads
        # as "everything prunes"
        plan = pipeline._plan(
            spark, args.out, args.run_id, schema, [predicate], what=None
        )
    except ValueError as e:
        raise SystemExit(f"error: {e}") from None
    import pyarrow.compute as pc

    groups = plan.groups
    kept = groups.filter(groups["keep"])
    proven = kept.filter(kept["all"])
    mixed = kept.filter(pc.invert(kept["all"]))
    n_none = groups.num_rows - kept.num_rows
    n_all, n_mixed = proven.num_rows, mixed.num_rows
    rows_all = pc.sum(proven["n_rows"]).as_py() or 0
    rows_mixed = pc.sum(mixed["n_rows"]).as_py() or 0
    print(json.dumps({
        "stripe_groups": {"none": n_none, "all": n_all, "mixed": n_mixed},
        "rows_provable_from_metadata": rows_all,
        "rows_needing_decode_at_most": rows_mixed,
        "planned_driver_side": plan.dset is not None,
    }))
    return EXIT_OK


def cmd_ndv(args) -> int:
    """Approximate COUNT(DISTINCT) per column from the per-stripe
    HyperLogLog sketches — zero data bytes read (pipeline.metadata_ndv);
    with --group-by, approximate per-group distinct counts of ONE
    column (pipeline.metadata_group_ndv)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    if args.group_by:
        cols = args.columns.split(",")
        if len(cols) != 1:
            raise SystemExit(
                "error: --group-by takes exactly one --columns entry"
            )
        schema = spark.read.parquet(args.schema_from).schema
        predicate = [_parse_where(w) for w in args.where or []]
        rows = pipeline.metadata_group_ndv(
            spark, args.out, args.run_id, schema, args.group_by,
            cols[0], predicate or None,
        ).orderBy(args.group_by).collect()
        print(json.dumps({"groups": [r.asDict() for r in rows]},
                         default=str))
        return EXIT_OK
    rows = pipeline.metadata_ndv(
        spark, args.out, args.run_id, args.columns.split(",")
    ).collect()
    print(json.dumps({"columns": [r.asDict() for r in rows]}))
    return EXIT_OK


def cmd_percentile(args) -> int:
    """Approximate percentiles from the per-stripe order-statistic
    sketches — zero data bytes read, provable N/(K-1) rank-error bound
    (pipeline.metadata_percentile)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    qs = [float(x) for x in args.q.split(",")]
    predicate = [_parse_where(w) for w in args.where or []]
    if args.group_by:
        rows = pipeline.metadata_group_percentile(
            spark, args.out, args.run_id, schema, args.group_by,
            args.column, qs, predicate or None,
        ).orderBy(args.group_by, "q").collect()
        print(json.dumps({"percentiles": [r.asDict() for r in rows]},
                         default=str))
        return EXIT_OK
    rows = pipeline.metadata_percentile(
        spark, args.out, args.run_id, schema, args.column, qs,
        predicate or None,
    ).orderBy("q").collect()
    print(json.dumps({"percentiles": [r.asDict() for r in rows]},
                     default=str))
    return EXIT_OK


def cmd_profile(args) -> int:
    """Per-column table profile (counts, min/max, NDV estimate, p50)
    from footer metadata only (pipeline.table_profile)."""
    from orc_spark.engine import pipeline

    spark = _session(args.cores)
    schema = spark.read.parquet(args.schema_from).schema
    rows = pipeline.table_profile(
        spark, args.out, args.run_id, schema, args.columns.split(",")
    ).collect()
    print(json.dumps({"profile": [r.asDict() for r in rows]}, default=str))
    return EXIT_OK


def cmd_history(args) -> int:
    """Time-travel points of a run: one row per epoch with its wave's
    partition/stripe counts and commit window (Iceberg snapshots-list
    analogue over the lineage ledger — feeds decode --as-of-epoch)."""
    from pyspark.sql import functions as F

    from orc_spark.engine import deletes, lineage

    spark = _session(args.cores)
    lin = lineage.read_lineage(spark, args.out).filter(
        F.col("run_id") == args.run_id
    )
    rows = (
        lin.groupBy("epoch")
        .agg(
            F.countDistinct("partition_id").alias("partitions"),
            F.sum(
                F.when(F.col("status") == "completed", 1).otherwise(0)
            ).alias("completed_stripes"),
            F.sum(
                F.when(F.col("status") == "failed", 1).otherwise(0)
            ).alias("failed_stripes"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("epoch")
        .collect()
    )
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "epochs": [
                    {
                        "epoch": int(r.epoch),
                        "partitions": int(r.partitions),
                        "completed_stripes": int(r.completed_stripes),
                        "failed_stripes": int(r.failed_stripes),
                        "first_ts": str(r.first_ts),
                        "last_ts": str(r.last_ts),
                    }
                    for r in rows
                ],
                "live_deletes": deletes.delete_stats(
                    spark, args.out, args.run_id
                ),
            }
        )
    )
    return EXIT_OK


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="orc_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="encode a parquet table into stripes")
    enc.add_argument("input")
    enc.add_argument(
        "--input-format", default="parquet",
        choices=["parquet", "orc", "warc", "wet", "jsonl"],
        help="orc: admit an existing Apache ORC corpus; warc/wet: "
        "Common-Crawl crawl shards (response html / extracted text); "
        "jsonl: Dolma/FineWeb JSON-Lines (+ --schema-from; corrupt "
        "lines counted and excluded)",
    )
    enc.add_argument(
        "--override", action="append",
        help="pin a column's codec chain, bypassing the sampler: "
        "col=codec1|codec2 (repeatable); raw terminates every chain "
        "implicitly",
    )
    enc.add_argument(
        "--schema-from", default=None,
        help="parquet file providing the schema for --input-format "
        "jsonl (never inferred)",
    )
    enc.add_argument("--out", required=True)
    enc.add_argument("--run-id", required=True)
    enc.add_argument("--key", required=True)
    enc.add_argument(
        "--partitions", type=int, default=32,
        help="0 = auto-size from the input scan estimate "
        "(~256MB of in-memory rows per partition)",
    )
    enc.add_argument("--waves", type=int, default=1)
    enc.add_argument(
        "--cluster-by",
        help="sort within partitions on this column so zone maps prune",
    )
    enc.add_argument(
        "--zorder-by",
        help="comma-separated numeric/temporal columns: Morton-"
        "interleaved clustering so MULTI-column box predicates prune "
        "(exclusive with --cluster-by)",
    )
    enc.add_argument(
        "--compression", choices=["zlib", "lzma", "none"], default="zlib",
        help="block compressor layered over the lightweight codecs "
        "(lzma: denser + slower, the cold-storage tier)",
    )
    enc.add_argument("--compression-level", type=int, default=1)
    enc.add_argument(
        "--token-bloom",
        help="comma-separated text columns to index with per-stripe "
        "TOKEN blooms (full-text search: decode --where "
        "\"text contains 'word'\")",
    )
    enc.add_argument(
        "--stripe-rows", type=int, default=None,
        help="fixed rows per stripe (bounds stripe memory, sets "
        "zone-map granularity; default: one stripe per Arrow batch)",
    )
    enc.add_argument(
        "--stripe-bytes", type=int, default=None,
        help="target UNCOMPRESSED bytes per stripe instead (ORC "
        "orc.stripe.size semantics; row target derived per partition "
        "from measured bytes/row — flat stripe memory across "
        "heterogeneous row widths); exclusive with --stripe-rows",
    )
    enc.add_argument("--verify", action="store_true")
    enc.set_defaults(fn=cmd_encode)

    dec = sub.add_parser("decode", help="decode stripes back to parquet")
    dec.add_argument("--out", required=True)
    dec.add_argument("--run-id", required=True)
    dec.add_argument("--schema-from", required=True)
    dec.add_argument("--output", required=True)
    dec.add_argument(
        "--columns", help="comma-separated projection (default: all)"
    )
    dec.add_argument(
        "--where", action="append",
        help="conjunct like 'event_id>=2500' — zone-map pruned, then "
        "row-filtered (repeatable)",
    )
    dec.add_argument(
        "--or-where", action="append",
        help="one OR branch of ';'-joined conjuncts (repeatable): "
        "--or-where 'id<=10' --or-where 'id>=90;kind=click' decodes "
        "WHERE (id<=10) OR (id>=90 AND kind=click); any --where "
        "conjuncts AND into every branch; stripe pruning is the union "
        "of branch keep-sets",
    )
    dec.add_argument(
        "--allow-missing-columns", action="store_true",
        help="null-fill requested columns with no stripes in the run "
        "(schema evolution: column added after this run was encoded)",
    )
    dec.add_argument(
        "--verify-checksums", action="store_true",
        help="recompute each stripe's value checksum against the "
        "ledgered one; corrupted blobs fail the read loudly",
    )
    dec.add_argument(
        "--as-of-epoch", type=int, default=None,
        help="time travel: decode the table as it stood after encode "
        "wave K (later resume epochs invisible; partitions not yet "
        "complete at K are absent)",
    )
    dec.add_argument(
        "--as-of-tag", default=None,
        help="time travel by snapshot tag name (see the tag command)",
    )
    dec.set_defaults(fn=cmd_decode)

    dl = sub.add_parser(
        "delete",
        help="mark rows deleted by position WITHOUT rewriting stripes "
        "(Iceberg v2 position-delete semantics; merge-on-read)",
    )
    dl.add_argument("--out", required=True)
    dl.add_argument("--run-id", required=True)
    dl.add_argument("--schema-from", required=True)
    dl.add_argument(
        "--where", action="append", required=True,
        help="conjunct selecting the rows to delete (repeatable)",
    )
    dl.add_argument(
        "--eq", action="store_true",
        help="record an O(1) EQUALITY delete (column=value masked at "
        "read time, nothing scanned now) — one ==/IN conjunct only",
    )
    dl.set_defaults(fn=cmd_delete)

    up = sub.add_parser(
        "upsert",
        help="MERGE a parquet batch into the store by key (replace "
        "matching rows everywhere, insert new ones) without rewriting "
        "anything — Iceberg v2 merge-on-read upsert",
    )
    up.add_argument("--out", required=True)
    up.add_argument("--run-id", required=True,
                    help="NEW run id for the appended batch")
    up.add_argument("--updates", required=True,
                    help="parquet path of the update batch")
    up.add_argument("--key", required=True,
                    help="merge key column (non-null, unique in batch)")
    up.add_argument("--partitions", type=int, default=None)
    up.add_argument("--stripe-rows", type=int, default=None)
    up.add_argument(
        "--compression", choices=["zlib", "lzma", "none"], default="zlib"
    )
    up.set_defaults(fn=cmd_upsert)

    mg = sub.add_parser(
        "merge", help="consolidate several runs into one "
        "(deletes materialize, epochs collapse)"
    )
    mg.add_argument("--out", required=True)
    mg.add_argument(
        "--run-ids", required=True, help="comma-separated source runs"
    )
    mg.add_argument("--new-run-id", required=True)
    mg.add_argument("--schema-from", required=True)
    mg.add_argument("--key", default=None)
    mg.add_argument("--partitions", type=int, default=None)
    mg.add_argument("--stripe-rows", type=int, default=65536)
    mg.add_argument("--cluster-by", default=None)
    mg.set_defaults(fn=cmd_merge)

    cl = sub.add_parser(
        "clone", help="copy one run verbatim into another store "
        "(backup/restore; refuses existing run ids)"
    )
    cl.add_argument("--out", required=True)
    cl.add_argument("--run-id", required=True)
    cl.add_argument("--dest", required=True)
    cl.set_defaults(fn=cmd_clone)

    cp = sub.add_parser(
        "compact", help="merge a run's stripes into fewer, larger ones"
    )
    cp.add_argument("--out", required=True)
    cp.add_argument("--run-id", required=True)
    cp.add_argument("--schema-from", required=True)
    cp.add_argument("--key", default=None,
                    help="defaults to the source run's persisted config")
    cp.add_argument("--new-run-id", default=None)
    cp.add_argument("--partitions", type=int, default=None)
    cp.add_argument("--stripe-rows", type=int, default=65536)
    cp.add_argument(
        "--compression", choices=["zlib", "lzma", "none"], default="zlib"
    )
    cp.add_argument("--cluster-by", default=None)
    cp.add_argument(
        "--fragmented-only", action="store_true",
        help="targeted bin-pack: rewrite only partitions whose kept "
        "stripes average below --frag-ratio * --stripe-rows (new "
        "epoch in place; cost ~ fragmentation, not table size)",
    )
    cp.add_argument("--frag-ratio", type=float, default=0.5)
    cp.set_defaults(fn=cmd_compact)

    rep = sub.add_parser("report", help="render a run report")
    rep.add_argument("--out", required=True)
    rep.add_argument("--run-id", required=True)
    rep.add_argument("--format", choices=["markdown", "json"], default="markdown")
    rep.set_defaults(fn=cmd_report)

    st = sub.add_parser("stats", help="summaries across runs")
    st.add_argument("--out", required=True)
    st.set_defaults(fn=cmd_stats)

    fl = sub.add_parser("failures", help="failure-category breakdown")
    fl.add_argument("--out", required=True)
    fl.set_defaults(fn=cmd_failures)

    pr = sub.add_parser("prune", help="expire old runs (history retention)")
    pr.add_argument("--out", required=True)
    pr.add_argument("--limit", type=int, default=10)
    pr.set_defaults(fn=cmd_prune)

    doc = sub.add_parser(
        "doctor", help="environment sanity + failure diagnosis with advice"
    )
    doc.add_argument("--out", default=None)
    doc.add_argument("--run-id", default=None)
    doc.set_defaults(fn=cmd_doctor)

    vac = sub.add_parser(
        "vacuum", help="reclaim stripes superseded by newer complete epochs"
    )
    vac.add_argument("--out", required=True)
    vac.add_argument("--run-id", default=None)
    vac.set_defaults(fn=cmd_vacuum)

    rb = sub.add_parser(
        "rollback",
        help="roll a run back to snapshot EPOCH (drops newer epochs)",
    )
    rb.add_argument("--out", required=True)
    rb.add_argument("--run-id", required=True)
    rb.add_argument("--epoch", type=int, required=True)
    rb.set_defaults(fn=cmd_rollback)

    ex = sub.add_parser(
        "export",
        help="decode a run and write standard Apache ORC files",
    )
    ex.add_argument("--out", required=True)
    ex.add_argument("--run-id", required=True)
    ex.add_argument("--schema-from", required=True)
    ex.add_argument("--dest", required=True)
    ex.add_argument(
        "--columns", help="comma-separated projection (default: all)"
    )
    ex.add_argument(
        "--compression", default="zlib", choices=["zlib", "snappy", "none"],
    )
    ex.add_argument(
        "--format", default="orc", choices=["orc", "jsonl", "csv"],
        help="interchange format (orc: spec files; jsonl: gzipped "
        "Dolma/FineWeb lines; csv: RFC 4180, every field quoted)",
    )
    ex.set_defaults(fn=cmd_export)

    pt = sub.add_parser(
        "publish-table",
        help="decode a run into a consumption layout: Hive-"
        "partitioned dirs, bucketed catalog table, or globally-"
        "sorted range-disjoint files (with optional manifest-prefix "
        "top-N proof)",
    )
    pt.add_argument("--out", required=True)
    pt.add_argument("--run-id", required=True)
    pt.add_argument("--schema-from", required=True)
    pt.add_argument("--dest", required=True)
    pt.add_argument(
        "--mode", required=True,
        choices=["partitioned", "bucketed", "sorted"],
    )
    pt.add_argument(
        "--by", required=True,
        help="partition / bucket / sort column",
    )
    pt.add_argument(
        "--n", type=int, default=8,
        help="bucket count (bucketed) or file count (sorted)",
    )
    pt.add_argument("--table-name", default=None)
    pt.add_argument("--columns", default=None)
    pt.add_argument(
        "--topn", type=int, default=None,
        help="sorted mode: also run a top-N read and report how few "
        "files it scanned",
    )
    pt.set_defaults(fn=cmd_publish_table)

    pub = sub.add_parser(
        "publish",
        help="write-audit-publish: rename a staged run to its "
        "production run_id",
    )
    pub.add_argument("--out", required=True)
    pub.add_argument("--staging-run-id", required=True)
    pub.add_argument("--run-id", required=True)
    pub.set_defaults(fn=cmd_publish)

    ag = sub.add_parser(
        "agg", help="min/max/count per column from zone stats (no data reads)"
    )
    ag.add_argument("--out", required=True)
    ag.add_argument("--run-id", required=True)
    ag.add_argument("--columns", required=True, help="comma-separated")
    ag.set_defaults(fn=cmd_agg)

    cn = sub.add_parser(
        "count",
        help="exact COUNT(*) WHERE predicate — metadata answers "
        "interior stripes, only boundary stripes decode",
    )
    cn.add_argument("--out", required=True)
    cn.add_argument("--run-id", required=True)
    cn.add_argument("--schema-from", required=True,
                    help="parquet path whose schema types the columns")
    cn.add_argument("--where", action="append", required=True,
                    help="conjunct, e.g. \"event_id>=500\" (repeatable)")
    cn.set_defaults(fn=cmd_count)

    sm = sub.add_parser(
        "sum",
        help="exact SUM/COUNT/AVG of a column (optional WHERE) — "
        "stripe sum stats answer interior groups, boundaries decode",
    )
    sm.add_argument("--out", required=True)
    sm.add_argument("--run-id", required=True)
    sm.add_argument("--column", required=True)
    sm.add_argument("--schema-from", required=True,
                    help="parquet path whose schema types the columns")
    sm.add_argument("--where", action="append", default=None,
                    help="conjunct, e.g. \"event_id>=500\" (repeatable)")
    sm.set_defaults(fn=cmd_sum)

    sd = sub.add_parser(
        "stddev",
        help="exact VAR_POP/VAR_SAMP/STDDEV of a column (optional "
        "WHERE) — per-stripe central moments merge via Chan's "
        "parallel variance, boundaries decode",
    )
    sd.add_argument("--out", required=True)
    sd.add_argument("--run-id", required=True)
    sd.add_argument("--column", required=True)
    sd.add_argument("--schema-from", required=True,
                    help="parquet path whose schema types the columns")
    sd.add_argument("--where", action="append", default=None,
                    help="conjunct, e.g. \"event_id>=500\" (repeatable)")
    sd.set_defaults(fn=cmd_stddev)

    ga = sub.add_parser(
        "groupagg",
        help="exact GROUP BY count/sum/min/max (optional WHERE) — "
        "key-pure stripes answer from metadata, boundaries decode",
    )
    ga.add_argument("--out", required=True)
    ga.add_argument("--run-id", required=True)
    ga.add_argument("--group-by", required=True)
    ga.add_argument("--sum", dest="agg_col", default=None,
                    help="optional aggregate column")
    ga.add_argument("--agg", choices=("sum", "min", "max"),
                    default="sum", help="fold applied to the column")
    ga.add_argument("--schema-from", required=True,
                    help="parquet path whose schema types the columns")
    ga.add_argument("--where", action="append", default=None,
                    help="conjunct, e.g. \"event_id>=500\" (repeatable)")
    ga.set_defaults(fn=cmd_groupagg)

    vc = sub.add_parser(
        "vcounts",
        help="exact GROUP BY col, COUNT(*) on unclustered categorical "
        "columns — footer value-count histograms, zero data bytes",
    )
    vc.add_argument("--out", required=True)
    vc.add_argument("--run-id", required=True)
    vc.add_argument("--column", required=True)
    vc.add_argument("--schema-from", required=True,
                    help="parquet path whose schema types the columns")
    vc.add_argument("--where", action="append", default=None,
                    help="conjunct, e.g. \"doc_id>=500\" (repeatable)")
    vc.set_defaults(fn=cmd_vcounts)

    tk = sub.add_parser(
        "topk",
        help="exact ORDER BY col LIMIT k — zone thresholds decode "
        "only candidate stripes (newest-k crawl slices)",
    )
    tk.add_argument("--out", required=True)
    tk.add_argument("--run-id", required=True)
    tk.add_argument("--order-by", required=True)
    tk.add_argument("--k", type=int, required=True)
    tk.add_argument("--asc", action="store_true",
                    help="ascending (default: descending)")
    tk.add_argument("--columns", default=None, help="comma-separated")
    tk.add_argument("--tiebreak", default=None,
                    help="secondary ascending sort column for ties")
    tk.add_argument("--schema-from", required=True,
                    help="parquet path whose schema types the columns")
    tk.add_argument("--where", action="append", default=None,
                    help="conjunct, e.g. \"lang='en'\" (repeatable)")
    tk.set_defaults(fn=cmd_topk)

    pl = sub.add_parser(
        "plan",
        help="pruning dry-run: NONE/ALL/MIXED stripe classification "
        "for a predicate, zero data reads",
    )
    pl.add_argument("--out", required=True)
    pl.add_argument("--run-id", required=True)
    pl.add_argument("--schema-from", required=True,
                    help="parquet path whose schema types the columns")
    pl.add_argument("--where", action="append", required=True,
                    help="conjunct, e.g. \"ts>='2024-03-01'\" (repeatable)")
    pl.set_defaults(fn=cmd_plan)

    nv = sub.add_parser(
        "ndv",
        help="approximate count-distinct per column from HyperLogLog "
        "sketches (no data reads, ~1.6%% error)",
    )
    nv.add_argument("--out", required=True)
    nv.add_argument("--run-id", required=True)
    nv.add_argument("--columns", required=True, help="comma-separated")
    nv.add_argument("--group-by", default=None,
                    help="per-group NDV of the single --columns entry")
    nv.add_argument("--schema-from", default=None,
                    help="parquet path typing the columns (--group-by)")
    nv.add_argument("--where", action="append", default=None,
                    help="conjunct predicate (--group-by, repeatable)")
    nv.set_defaults(fn=cmd_ndv)

    pc = sub.add_parser(
        "percentile",
        help="approximate percentiles from order-statistic sketches "
        "(no data reads, rank error <= ~1.6%% of rows)",
    )
    pc.add_argument("--out", required=True)
    pc.add_argument("--run-id", required=True)
    pc.add_argument("--column", required=True)
    pc.add_argument("--q", required=True,
                    help="comma-separated quantiles in (0, 1]")
    pc.add_argument("--schema-from", required=True,
                    help="parquet path typing the column")
    pc.add_argument("--where", action="append", default=None,
                    help="conjunct, e.g. \"event_id>=500\" (repeatable)")
    pc.add_argument("--group-by", default=None,
                    help="per-group percentiles of --column")
    pc.set_defaults(fn=cmd_percentile)

    pf = sub.add_parser(
        "profile",
        help="per-column profile (counts, min/max, ndv, p50) from "
        "footer metadata only",
    )
    pf.add_argument("--out", required=True)
    pf.add_argument("--run-id", required=True)
    pf.add_argument("--columns", required=True, help="comma-separated")
    pf.add_argument("--schema-from", required=True,
                    help="parquet path typing the columns")
    pf.set_defaults(fn=cmd_profile)

    hi = sub.add_parser(
        "history",
        help="epochs of a run with commit windows + live deletes — the "
        "time-travel points decode --as-of-epoch accepts",
    )
    hi.add_argument("--out", required=True)
    hi.add_argument("--run-id", required=True)
    hi.set_defaults(fn=cmd_history)

    tg = sub.add_parser(
        "tag",
        help="pin a snapshot tag name to an epoch (default: the run's "
        "newest) for decode --as-of-tag",
    )
    tg.add_argument("--out", required=True)
    tg.add_argument("--run-id", required=True)
    tg.add_argument("--name", required=True)
    tg.add_argument("--epoch", type=int, default=None)
    tg.set_defaults(fn=cmd_tag)

    try:
        args = p.parse_args(argv)
    except SystemExit as e:
        return EXIT_USAGE if e.code else EXIT_OK
    try:
        return args.fn(args)
    except KeyboardInterrupt:
        return EXIT_INTERRUPTED
    except Exception as e:  # noqa: BLE001 — CLI boundary
        print(f"error: {e}", file=sys.stderr)
        return EXIT_FAIL


if __name__ == "__main__":
    sys.exit(main())
