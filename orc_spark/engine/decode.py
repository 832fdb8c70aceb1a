"""Decode stage: stripes DataFrame -> reconstructed DataFrame.

Stripes are shuffled so that all columns of one (partition_id,
stripe_idx) group land in the same task, then reassembled into Arrow
batches inside mapInArrow — exact Arrow types end-to-end, no pandas
lossiness (nullable ints stay ints; None-vs-"" survives).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from functools import partial

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..codecs import decode_frame


#: provenance columns emitted by ``emit_positions`` — the coordinates
#: of every decoded row: (partition, epoch, stripe, within-stripe row
#: index BEFORE any delete mask or residual filter). The position
#: domain delete vectors are expressed in.
POSITION_COLS = ("_pid", "_epoch", "_sidx", "_rowpos")


def decode_stage(
    stripes: DataFrame,
    result_schema: StructType,
    columns: list[str] | None = None,
    colocated: bool = False,
    fill_missing: list[str] | None = None,
    missing_defaults: dict | None = None,
    verify_checksums: bool = False,
    residual: list | None = None,
    emit_positions: bool = False,
    eq_deletes: list | None = None,
) -> DataFrame:
    """Rebuild the original (encoded-column subset of the) table.

    ``result_schema`` must name the decoded columns in their Spark
    types; ``columns`` defaults to the schema's field names.

    ``residual`` — zonemap conjuncts applied ROW-LEVEL inside the
    decode task (Arrow compute over the just-rebuilt batch — the ORC
    SearchArgument row-filter analogue): rows that provably fail the
    predicate never cross the Arrow->Spark boundary. Conservative
    under Spark semantics (float NaN rows always kept, uncastable
    comparisons skip filtering), so callers still apply
    ``zonemap.predicate_expr`` — which then drops at most the kept
    NaN/uncertain rows.

    ``verify_checksums=True`` recomputes each decoded stripe's value
    checksum and compares it against the one the ENCODE task recorded
    (the reference's TestReader round-trip discipline applied at read
    time): a corrupted blob, a truncated write, or a codec regression
    fails the read loudly instead of returning silently-wrong rows.
    Costs one blake2b pass per stripe.

    ``fill_missing`` names requested columns that have NO stripes in
    this run (added to the table schema after the run was encoded);
    they are rebuilt as all-null arrays of the schema type — Iceberg
    add-column read semantics. ``missing_defaults`` optionally maps
    such a column to a constant instead (Iceberg v3 initial-default
    semantics: rows from BEFORE the column existed read the default,
    not null). Callers (decode_job) compute the list from the stripe
    metadata.

    Deletes — when the stripes DF carries a ``_delete_vecs`` column
    (array<binary> of packed little-endian row bitmaps, joined per
    stripe group by the caller), marked rows are masked out right
    after the batch is rebuilt, BEFORE the residual filter — Iceberg
    v2 position-delete merge-on-read semantics. Multiple vectors per
    group (append-only delete files) are OR-combined here.

    ``emit_positions=True`` appends the POSITION_COLS provenance
    columns to every output batch (``result_schema`` must include
    them): the row coordinates delete vectors are written against.
    Positions are assigned before masking/filtering, so they always
    name original stripe row indexes.

    ``eq_deletes`` — [(column, [values])] equality-delete sets: rows
    whose column equals any listed value are masked (null never
    equals — null rows survive, SQL semantics). Columns outside the
    projection are decoded INTERNALLY for the mask and dropped before
    yield, so a projection can never resurrect eq-deleted rows. A set
    that cannot be compared to its column's type raises — silently
    skipping a delete would return deleted data.

    ``colocated=True`` skips the blob shuffle: every encode task writes
    *all* columns of its partitions into one parquet file, so stripe
    groups never span files — as long as no file is split into
    multiple scan tasks, each task sees complete groups. The caller
    (decode_job) proves that by checking file sizes against
    ``spark.sql.files.maxPartitionBytes``; the in-task completeness
    check below still hard-fails rather than silently dropping rows if
    the assumption is ever violated.
    """
    spec = DecodeSpec.build(
        result_schema, columns, fill_missing, missing_defaults,
        verify_checksums, residual, emit_positions, eq_deletes,
    )
    if not colocated:
        stripes = stripes.repartition(F.col("partition_id"), F.col("stripe_idx"))
    return stripes.mapInArrow(partial(decode_batches, spec=spec), result_schema)


@dataclass(frozen=True)
class DecodeSpec:
    """What :func:`decode_batches` rebuilds: the output columns in
    order, the hidden eq-delete columns, the null-filled ones, their
    Arrow types, and every row-level step (see :func:`decode_stage`)."""

    cols: tuple
    hidden: tuple
    missing: frozenset
    arrow_types: dict
    missing_defaults: dict
    verify_checksums: bool
    residual: list | None
    emit_positions: bool
    eq_deletes: list | None

    @classmethod
    def build(
        cls, result_schema: StructType, columns=None, fill_missing=None,
        missing_defaults=None, verify_checksums=False, residual=None,
        emit_positions=False, eq_deletes=None,
    ) -> "DecodeSpec":
        from pyspark.sql.pandas.types import to_arrow_type

        cols = columns or [
            f.name
            for f in result_schema.fields
            if f.name not in POSITION_COLS
        ]
        missing = frozenset(fill_missing or ())
        # eq-delete columns outside the projection decode internally for
        # the mask and are dropped before yield (never resurrected rows)
        hidden = [
            c
            for c, _ in (eq_deletes or [])
            if c not in cols and c not in missing
        ]
        return cls(
            cols=tuple(cols), hidden=tuple(hidden), missing=missing,
            arrow_types={
                f.name: to_arrow_type(f.dataType) for f in result_schema.fields
            },
            missing_defaults=missing_defaults or {},
            verify_checksums=verify_checksums, residual=residual,
            emit_positions=emit_positions, eq_deletes=eq_deletes,
        )

    @property
    def all_cols(self) -> list:
        return [*self.cols, *self.hidden]

    @property
    def want(self) -> set:
        """The stored columns a stripe group must carry to decode."""
        return set(self.all_cols) - self.missing


def decode_batches(
    batches: Iterator[pa.RecordBatch], spec: DecodeSpec
) -> Iterator[pa.RecordBatch]:
    """Stripe rows (partition_id, stripe_idx, epoch, column, data,
    checksum, and ``_delete_vecs`` when deletes apply) -> decoded
    batches, one per complete stripe group. Pure: the decode task and
    the driver-side decode both run it. A group still missing columns
    when the input ends raises rather than drop its rows."""
    import numpy as np

    from ..codecs import column_checksum

    all_cols = spec.all_cols
    want = spec.want
    n_cols = len(want)
    types = spec.arrow_types

    def _decode_one(col: str, blob: bytes, expect: str):
        arr = decode_frame(blob)
        if spec.verify_checksums and expect:
            got = column_checksum(arr)
            if got != expect:
                raise RuntimeError(
                    f"checksum mismatch decoding column {col!r}: "
                    f"stripe recorded {expect}, decoded {got}"
                )
        # hidden eq-delete columns keep their natural decode type
        if col in types:
            return arr.cast(types[col])
        return arr

    def _fill(c, n):
        if spec.missing_defaults.get(c) is None:
            return pa.nulls(n, type=types[c])
        return pa.array([spec.missing_defaults[c]] * n, type=types[c])

    pending: dict[tuple[int, int], dict[str, tuple[bytes, str]]] = {}
    group_meta: dict[tuple[int, int], tuple[int, list]] = {}
    for batch in batches:
        d = batch.to_pydict()
        vecs_col = d.get("_delete_vecs")
        for i in range(batch.num_rows):
            col = d["column"][i]
            if col not in want:
                continue
            key = (d["partition_id"][i], d["stripe_idx"][i])
            grp = pending.setdefault(key, {})
            if key not in group_meta:
                group_meta[key] = (
                    d["epoch"][i],
                    (vecs_col[i] if vecs_col is not None else None),
                )
            grp[col] = (d["data"][i], d["checksum"][i])
            if len(grp) < n_cols:
                continue
            decoded = {
                c: _decode_one(c, *grp[c])
                for c in all_cols
                if c not in spec.missing
            }
            n = len(next(iter(decoded.values())))
            arrays = [
                decoded[c] if c not in spec.missing else _fill(c, n)
                for c in all_cols
            ]
            names = list(all_cols)
            epoch, vecs = group_meta.pop(key)
            if spec.emit_positions:
                for pname, pval in (
                    ("_pid", np.full(n, key[0], dtype=np.int64)),
                    ("_epoch", np.full(n, epoch, dtype=np.int64)),
                    ("_sidx", np.full(n, key[1], dtype=np.int64)),
                    ("_rowpos", np.arange(n, dtype=np.int64)),
                ):
                    arrays.append(pa.array(pval))
                    names.append(pname)
            out = pa.RecordBatch.from_arrays(arrays, names=names)
            if vecs:
                deleted = np.zeros(n, dtype=bool)
                for vec in vecs:
                    if not vec:
                        continue
                    bits = np.unpackbits(
                        np.frombuffer(vec, dtype=np.uint8),
                        bitorder="little",
                    )[:n]
                    # OR across append-only delete files
                    deleted[: len(bits)] |= bits.astype(bool)
                if deleted.any():
                    out = out.filter(pa.array(~deleted))
            if spec.eq_deletes:
                out = _apply_eq_deletes(out, spec.eq_deletes)
            if spec.hidden:
                out = out.select(
                    [nm for nm in out.schema.names if nm not in spec.hidden]
                )
            if spec.residual:
                out = _apply_residual(out, spec.residual)
            yield out
            del pending[key]
    if pending:
        raise RuntimeError(
            f"incomplete stripe groups (missing columns): {sorted(pending)[:4]}"
        )


def _apply_eq_deletes(
    batch: pa.RecordBatch, eq_deletes: list
) -> pa.RecordBatch:
    """Mask rows whose column equals any eq-deleted value. UNLIKE the
    residual filter this must never skip quietly: a delete that fails
    to apply returns deleted data — type mismatches raise."""
    import pyarrow.compute as pc

    keep = None
    for col, vals in eq_deletes:
        idx = batch.schema.get_field_index(col)
        if idx < 0:
            raise RuntimeError(
                f"equality delete on {col!r} but the column is not in "
                "the decoded batch — cannot apply the delete"
            )
        c = batch.column(idx)
        try:
            vset = pa.array(vals).cast(c.type)
            m = pc.is_in(c, value_set=vset)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
                pa.ArrowTypeError) as exc:
            raise RuntimeError(
                f"equality delete values {vals!r} are not comparable "
                f"to column {col!r} ({c.type}) — refusing to decode "
                "with an unapplied delete"
            ) from exc
        # null never equals: null rows survive (SQL semantics)
        k = pc.fill_null(pc.invert(m), True)
        keep = k if keep is None else pc.and_(keep, k)
    if keep is None:
        return batch
    return batch.filter(keep)


def _apply_residual(batch: pa.RecordBatch, predicate: list) -> pa.RecordBatch:
    """Row-level conservative filter on a rebuilt batch. Keeps a row
    unless it PROVABLY fails the conjunction under Spark semantics:
    float NaNs are always kept (Spark orders NaN above all numbers —
    Arrow IEEE comparisons would wrongly drop them), and any conjunct
    whose Arrow comparison cannot be built (type mismatch) keeps all
    rows. Null comparisons drop, matching Spark's WHERE."""
    import pyarrow.compute as pc

    names = set(batch.schema.names)
    mask = None
    for col, op, value in predicate:
        root, _, path = col.partition(".")
        if root not in names:
            continue
        c = batch.column(batch.schema.get_field_index(root))
        if path:
            # nested-column predicate ("meta.status"): descend via
            # struct_field — parent nulls propagate into the child,
            # matching Spark's meta.status IS NULL when meta is null
            try:
                c = pc.struct_field(c, path.split("."))
            except (pa.ArrowInvalid, KeyError, TypeError):
                continue  # unknown path -> keep every row (conservative)
        try:
            if op == "is_null":
                m = pc.is_null(c)
            elif op == "not_null":
                m = pc.is_valid(c)
            elif op == "!=":
                m = pc.not_equal(c, _residual_scalar(value, c.type))
            elif op == "in":
                m = pc.is_in(c, value_set=pa.array(list(value), type=c.type))
            elif op == "like_prefix":
                m = pc.starts_with(c, pattern=str(value))
            elif op == "contains_token":
                # boundary regex ≡ membership in the [a-z0-9]+ token
                # split (validated upstream: alphanumeric, no escaping)
                from .zonemap import _norm_token

                tok = _norm_token(value)
                if tok is None:
                    continue  # not a token: conservative keep
                m = pc.match_substring_regex(
                    pc.utf8_lower(c),
                    pattern=f"(^|[^a-z0-9]){tok}([^a-z0-9]|$)",
                )
            elif op == "between":
                m = pc.and_kleene(
                    pc.greater_equal(c, _residual_scalar(value[0], c.type)),
                    pc.less_equal(c, _residual_scalar(value[1], c.type)),
                )
            else:
                fn = {
                    "==": pc.equal, "=": pc.equal,
                    ">": pc.greater, ">=": pc.greater_equal,
                    "<": pc.less, "<=": pc.less_equal,
                }[op]
                m = fn(c, _residual_scalar(value, c.type))
            if pa.types.is_floating(c.type):
                m = pc.or_kleene(m, pc.is_nan(c))  # Spark-NaN conservatism
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError, TypeError, ValueError):
            continue  # can't express -> keep every row for this conjunct
        mask = m if mask is None else pc.and_kleene(mask, m)
    if mask is None:
        return batch
    return batch.filter(mask)  # null mask entries drop, like Spark WHERE


def _residual_scalar(value, t: pa.DataType):
    """Predicate literal -> Arrow scalar of the column's type (so a
    CLI date compares against a timestamp column and vice versa)."""
    import datetime as _dt

    if pa.types.is_timestamp(t) and isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
        value = _dt.datetime(value.year, value.month, value.day)
    if pa.types.is_date32(t) and isinstance(value, _dt.datetime):
        if value.time() != _dt.time():
            raise TypeError("datetime with time-of-day vs date column")
        value = value.date()
    return pa.scalar(value, type=t) if not isinstance(value, float) or pa.types.is_floating(t) else pa.scalar(value)
