"""Stripe zone maps: per-stripe min/max/null-count statistics and
metadata-only predicate pushdown for the decode path.

Classic columnar-engine machinery (ORC row-group indexes, parquet
column statistics — public formats; semantics only, not a port): the
encode stage records each stripe's value range in the stripes table's
metadata columns, and `prune_stripes` drops whole stripe groups whose
range provably cannot satisfy a conjunctive predicate BEFORE any blob
is read or decoded. Pruning is conservative — a stripe with no stats
(failed, decimal, NaN-poisoned float) is always kept — so
``decode(prune(P)) + residual filter(P)`` equals ``decode() +
filter(P)`` by construction.

At 100 TB the wins compound: the pruning decision runs on the
blob-free metadata scan (parquet column pruning keeps `data` out of
the read), so a selective predicate over a clustered column
(EncodeJobConfig.cluster_by sorts within partitions at encode time —
no extra shuffle) turns a full-table decode into a handful of stripe
groups.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A predicate is a list of conjuncts: (column, op, value) with op in
# {'==', '=', '!=', '>', '>=', '<', '<=', 'between', 'in', 'is_null',
# 'not_null'}; 'between' takes a (lo, hi) inclusive pair; 'in' takes
# an iterable of values (IN-list point lookups — zone-map ranges
# OR-combined, blooms OR-combined); 'is_null'/'not_null' ignore the
# value and prune on the per-stripe null_count; '!=' prunes only
# stripes PROVABLY single-valued at the literal (min == max == v);
# 'like_prefix' takes the literal prefix of a `LIKE 'abc%'` pattern
# and prunes via the string stats' overlap with [prefix, next(prefix)).
Conjunct = tuple  # (str, str, object)

_OPS = {
    "==", "=", "!=", ">", ">=", "<", "<=", "between", "in",
    "is_null", "not_null", "like_prefix", "contains_token",
}


# ------------------------------------------------------- encode side

def nested_stat_children(arr: pa.Array, prefix: str = "") -> list:
    """(dotted_name, child_array) pairs for a struct column's scalar
    descendants — the ORC nested-column-statistics analogue. Children
    come from flatten() (parent nulls propagated — matching Spark's
    `meta.f IS NULL` when meta itself is null); struct-of-struct
    recurses with dotted paths; list/map children carry no per-row
    scalar to bound, so they are skipped."""
    if not pa.types.is_struct(arr.type):
        return []
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    out = []
    for field, child in zip(arr.type, arr.flatten()):
        name = f"{prefix}{field.name}"
        t = field.type
        if pa.types.is_struct(t):
            out.extend(nested_stat_children(child, prefix=f"{name}."))
        elif (
            pa.types.is_integer(t)
            or pa.types.is_boolean(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_date32(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_binary(t)
            or pa.types.is_large_binary(t)
        ):
            out.append((name, child))
    return out


def _stripe_m2(arr) -> float | None:
    """Second central moment Σ(x − mean)² of one stripe's non-null
    values, in float64 — the per-stripe half of Chan's parallel
    variance (the ORC-statistics analogue for metadata-only
    VAR/STDDEV; stored exactly-or-absent like the sums). One numpy
    pass; NaN/inf poisoning declines (None) rather than records a
    useless stat."""
    vals = arr.drop_null()
    if len(vals) == 0:
        return None
    x = vals.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    with np.errstate(invalid="ignore", over="ignore"):  # inf-poisoned -> NaN -> decline
        mean = x.mean()
        m2 = float(np.square(x - mean).sum())
    return m2 if np.isfinite(m2) else None


def stripe_zone_stats(arr: pa.Array) -> dict:
    """Zone-map entry for one stripe: typed min/max + null count.

    Int-family values (ints, bools, timestamps, dates) land in
    min_int/max_int as int64; floats in min_num/max_num; strings in
    min_str/max_str. Anything else — or a float stripe containing NaN
    (Spark orders NaN above every number, so a finite max would
    wrongly prune `c > huge`) — records nulls only, which pruning
    treats as "always keep".
    """
    out = {
        "min_int": None, "max_int": None,
        "min_num": None, "max_num": None,
        "min_str": None, "max_str": None,
        "null_count": int(arr.null_count),
        "stat_exact": True,
        "sum_int": None, "sum_num": None, "m2": None,
    }
    if len(arr) - arr.null_count == 0:
        return out
    t = arr.type
    try:
        if (
            pa.types.is_integer(t)
            or pa.types.is_boolean(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_date32(t)
        ):
            view = arr
            if pa.types.is_timestamp(t):
                # normalize to epoch-us, the unit _as_scalar produces
                view = arr.cast(pa.timestamp("us")).cast(pa.int64())
            elif pa.types.is_date32(t):
                view = arr.cast(pa.int32())  # epoch-days
            elif pa.types.is_boolean(t):
                view = arr.cast(pa.int64())
            mm = pc.min_max(view)
            out["min_int"] = int(mm["min"].as_py())
            out["max_int"] = int(mm["max"].as_py())
            # exact per-stripe SUM (ORC IntegerStatistics.sum) for
            # metadata-only SUM/AVG — only when n·max|bound| provably
            # fits int64 (pc.sum would wrap silently past 2^63);
            # declined sums decode instead, never miscount
            bound = max(abs(out["min_int"]), abs(out["max_int"]))
            if bound * (len(arr) - arr.null_count) < (1 << 62):
                out["sum_int"] = int(pc.sum(view).as_py())
            # second central moment for metadata-only VAR/STDDEV
            # (pipeline.metadata_stddev): recorded only for GENUINE
            # int columns — variance of a timestamp/date/bool is not
            # a SQL aggregate, and skipping them keeps the footer lean
            if pa.types.is_integer(t):
                out["m2"] = _stripe_m2(view)
        elif pa.types.is_floating(t):
            if pc.any(pc.is_nan(arr)).as_py():
                return out  # NaN-poisoned: no numeric bounds are safe
            mm = pc.min_max(arr)
            out["min_num"] = float(mm["min"].as_py())
            out["max_num"] = float(mm["max"].as_py())
            s = pc.sum(arr).as_py()
            if s is not None and np.isfinite(s):
                out["sum_num"] = float(s)
            out["m2"] = _stripe_m2(arr)
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            mm = pc.min_max(arr)
            mn, mx, exact = _truncated_str_bounds(
                mm["min"].as_py(), mm["max"].as_py()
            )
            out["min_str"] = mn
            out["max_str"] = mx
            if not exact:
                # truncated bounds prune safely (lower-bounded min,
                # strictly-greater max) but are NOT the column's
                # values — metadata-only MIN/MAX must refuse, same
                # contract as decimal's widened bounds
                out["stat_exact"] = False
        elif pa.types.is_decimal128(t):
            # decimals prune through the num family with ONE-ULP
            # widened double bounds: a nearest-rounding cast could pull
            # min UP / max DOWN past true values and wrongly prune —
            # nextafter re-widens, keeping the zone map conservative
            mm = pc.min_max(arr)
            lo = float(mm["min"].as_py())
            hi = float(mm["max"].as_py())
            out["min_num"] = float(np.nextafter(lo, -np.inf))
            out["max_num"] = float(np.nextafter(hi, np.inf))
            # widened bounds prune safely but are NOT the column's
            # exact min/max — metadata-only aggregates must refuse
            out["stat_exact"] = False
    except pa.ArrowNotImplementedError:
        pass
    return out


_STR_STAT_MAX = 256


def _truncated_str_bounds(mn, mx):
    """ORC string-statistics truncation (spec: lowerBound/upperBound
    at 1024 bytes; 256 chars here — the footer of a 10^12-doc crawl
    cannot carry two full 300-byte texts per stripe per column):
    a long min truncates to its prefix (a valid LOWER bound — the
    prefix sorts <= the string), a long max truncates and bumps the
    rightmost bumpable char, dropping the tail (a valid strictly-
    greater UPPER bound; the surrogate gap is skipped). Returns
    (min, max, exact) — max may come back None in the degenerate
    all-U+10FFFF case, which the str pruning family already treats as
    "no stat: keep"."""
    exact = True
    if mn is not None and len(mn) > _STR_STAT_MAX:
        mn = mn[:_STR_STAT_MAX]
        exact = False
    if mx is not None and len(mx) > _STR_STAT_MAX:
        p = mx[:_STR_STAT_MAX]
        mx = None
        for i in range(len(p) - 1, -1, -1):
            o = ord(p[i])
            if o < 0x10FFFF:
                nxt = o + 1
                if 0xD800 <= nxt <= 0xDFFF:
                    nxt = 0xE000
                mx = p[:i] + chr(nxt)
                break
        exact = False
    return mn, mx, exact


# ------------------------------------------------------- decode side

def _as_scalar(v):
    """Normalize a predicate value onto the stat columns' domains:
    (int_values, num_value, str_value) — exactly one is non-None.
    int_values is a LIST: temporal values carry both their epoch-us
    and epoch-days encodings, because the predicate's author may not
    know whether the column is timestamp (us stats) or date32 (days
    stats) — checking both, OR-combined, keeps pruning conservative
    under the mismatch instead of silently dropping rows."""
    if isinstance(v, bool):
        return [int(v)], None, None
    if isinstance(v, int):
        return [v], None, None
    if isinstance(v, float):
        return None, v, None
    if isinstance(v, str):
        return None, None, v
    if isinstance(v, datetime.datetime):
        # epoch-us via the EXACT rule PySpark applies to a
        # TimestampType literal (tz-aware → UTC, naive → driver-local
        # mktime). The residual row filter compares against
        # predicate_expr's F.lit(v); deriving the stat-side scalar any
        # other way (e.g. naive-as-UTC) makes the ALL/NONE proofs and
        # the row filter disagree on the same literal whenever the
        # driver timezone is not UTC — silently wrong metadata
        # aggregates (review r5 #2). Verified live: F.lit epoch ==
        # toInternal under TZ=America/New_York.
        from pyspark.sql.types import TimestampType

        us = TimestampType().toInternal(v)
        d = (
            v.astimezone(datetime.timezone.utc).date()
            if v.tzinfo is not None else v.date()
        )
        epoch_day = (d - datetime.date(1970, 1, 1)).days
        return [us, epoch_day], None, None
    if isinstance(v, datetime.date):
        days = (v - datetime.date(1970, 1, 1)).days
        return [days * 86_400_000_000, days], None, None
    raise TypeError(f"unsupported predicate value type: {type(v).__name__}")


_DAY_US = 86_400_000_000


def _pin_keep_cands(ints, pin):
    """Keep-side candidate pinning: a caller that knows the column
    type (decode_job / the metadata aggregates carry result_schema)
    selects the single true int encoding (index 0 = epoch-us,
    1 = epoch-days), so the OR over candidates stops keeping stripes
    the wrong-unit comparison can never veto — this is what lets a
    lower-bounded timestamp scan ("everything since date X") prune at
    all. Day-truncation of a fractional datetime literal only widens
    keep-ranges (floor(lo) keeps more on the left, floor(hi) prunes
    only rows strictly past hi) — sound for keep in both directions.
    Bare ints have one candidate and pass through."""
    if ints is None or len(ints) < 2 or pin is None:
        return ints
    return [ints[0]] if pin == "us" else [ints[1]]


def _range_overlap(lo, hi, pin: str | None = None) -> Column:
    """Keep-condition: the stripe's [min, max] intersects [lo, hi]
    (either bound None = unbounded). Evaluated per stat family; a
    family's stats being null means it can't veto."""
    ilo, nlo, slo = _as_scalar(lo) if lo is not None else (None, None, None)
    ihi, nhi, shi = _as_scalar(hi) if hi is not None else (None, None, None)
    ilo, ihi = _pin_keep_cands(ilo, pin), _pin_keep_cands(ihi, pin)

    def fam(minc: str, maxc: str, flo, fhi) -> Column:
        cond = F.col(minc).isNotNull()
        if fhi is not None:
            cond = cond & (F.col(minc) <= F.lit(fhi))
        if flo is not None:
            cond = cond & (F.col(maxc) >= F.lit(flo))
        return cond

    if slo is not None or shi is not None:
        checked = fam("min_str", "max_str", slo, shi)
        stats_present = F.col("min_str").isNotNull()
    else:
        # int candidates pair by index (us with us, days with days);
        # a bare int has one candidate
        n_cand = max(len(ilo or ()), len(ihi or ()))
        int_checks = [
            fam(
                "min_int", "max_int",
                ilo[i] if ilo is not None and i < len(ilo) else None,
                ihi[i] if ihi is not None and i < len(ihi) else None,
            )
            for i in range(n_cand)
        ]
        # numeric predicates also check the float family (an int
        # predicate on a float column compares via min_num)
        first_ilo = ilo[0] if ilo else None
        first_ihi = ihi[0] if ihi else None
        checked = fam(
            "min_num", "max_num",
            float(first_ilo) if first_ilo is not None else nlo,
            float(first_ihi) if first_ihi is not None else nhi,
        )
        for c in int_checks:
            checked = checked | c
        stats_present = F.col("min_int").isNotNull() | F.col("min_num").isNotNull()
    return checked | ~stats_present  # no stats -> never prune


def _single_valued_at(value) -> Column:
    """True when the stripe's stats PROVE every non-null value equals
    ``value`` (min == max == v in the literal's stat family) — the only
    layout a `!=` predicate can prune. Null rows never match `!=`
    under Spark WHERE semantics, so nulls don't block the prune;
    absent stats never prove anything (keep)."""
    ints, num, s = _as_scalar(value)
    if ints is not None and len(ints) >= 2 and ints[0] != ints[1] * _DAY_US:
        # fractional-time temporal literal: its epoch-DAYS candidate is
        # TRUNCATED, so "stripe single-valued at floor(v)" does NOT
        # mean every row equals v (a date column's midnight rows differ
        # from a 12:30 literal and DO match !=) — proving through the
        # truncated candidate would wrongly prune live rows. Only the
        # exact epoch-us candidate may prove.
        ints = [ints[0]]

    def fam(minc: str, maxc: str, v) -> Column:
        return (
            F.col(minc).isNotNull()
            & (F.col(minc) == F.lit(v))
            & (F.col(maxc) == F.lit(v))
        )

    if s is not None:
        return fam("min_str", "max_str", s)
    if num is not None:
        cond = fam("min_num", "max_num", num)
        if float(num).is_integer():
            # an integral float literal can also be proven by an int
            # column's int-family stats (ADVICE r4 #5 — pruning
            # opportunity only; either family proving it suffices)
            cond = cond | fam("min_int", "max_int", int(num))
        return cond
    cond = fam("min_num", "max_num", float(ints[0]))
    for iv in ints:  # temporal literals: either encoding may prove it
        cond = cond | fam("min_int", "max_int", iv)
    return cond


def _prefix_upper(prefix: str) -> str | None:
    """Smallest string GREATER than every string starting with
    ``prefix`` — the exclusive upper bound of the prefix range
    [prefix, upper). Increments the last incrementable code point
    (dropping any trailing U+10FFFF ceilings); skips the surrogate
    block (U+D7FF increments to U+E000 — surrogates never appear in
    valid UTF-8, and both Arrow's min_max and Spark's comparisons
    order strings by UTF-8 bytes = code points). Returns None when no
    upper bound exists (all-ceiling prefix): callers keep that side."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp >= 0x10FFFF:
            continue
        nxt = cp + 1
        if 0xD800 <= nxt <= 0xDFFF:
            nxt = 0xE000
        return prefix[:i] + chr(nxt)
    return None


def _prefix_overlap(prefix: str) -> Column:
    """Keep iff the stripe's string range may contain a value starting
    with ``prefix`` — [min_str, max_str] intersects [prefix, upper).
    Empty prefix matches every string (keep); absent string stats keep
    (non-string columns carry none — the residual filter resolves the
    conjunct row-level)."""
    if not prefix:
        return F.lit(True)
    stats_present = F.col("min_str").isNotNull() & F.col("max_str").isNotNull()
    keep = F.col("max_str") >= F.lit(prefix)
    upper = _prefix_upper(prefix)
    if upper is not None:
        keep = keep & (F.col("min_str") < F.lit(upper))
    return keep | ~stats_present


def _conjunct_keep(op: str, value, pin: str | None = None) -> Column:
    if op not in _OPS:
        raise ValueError(f"unsupported predicate op: {op!r}")
    if op == "like_prefix":
        return _prefix_overlap(str(value))
    if op == "contains_token":
        # validate EARLY and loudly: a non-token literal (punctuation,
        # spaces) can never equal anything the splitter produces, and
        # a silently-empty result would read as "no matches"
        if _norm_token(value) is None:
            raise ValueError(
                f"contains_token needs a lowercase [a-z0-9]+ token, "
                f"got {value!r}"
            )
        # zone stats cannot bound token membership; ALL pruning power
        # lives in the token bloom (the probe sites), so the zone
        # level keeps every stripe that has stats rows at all
        return F.lit(True)
    if op == "is_null":
        # keep iff the stripe may contain a null (absent count: keep)
        return F.col("null_count").isNull() | (F.col("null_count") > 0)
    if op == "not_null":
        return F.col("null_count").isNull() | (
            F.col("null_count") < F.col("n_rows")
        )
    if op == "!=":
        return ~_single_valued_at(value)
    if op == "between":
        lo, hi = value
        return _range_overlap(lo, hi, pin)
    if op == "in":
        vals = list(value)
        if not vals:
            return F.lit(False)  # empty IN-list matches nothing
        keep = _range_overlap(vals[0], vals[0], pin)
        for v in vals[1:]:
            keep = keep | _range_overlap(v, v, pin)
        return keep
    if op in ("==", "="):
        return _range_overlap(value, value, pin)
    if op == ">=":
        return _range_overlap(value, None, pin)
    if op == ">":
        # strict: a stripe whose max == value still can't satisfy, but
        # only when max is exact; inclusive overlap stays conservative
        return _range_overlap(value, None, pin)
    if op == "<=":
        return _range_overlap(None, value, pin)
    return _range_overlap(None, value, pin)  # '<'


# ------------------------------------ the same keep tests over Arrow
#
# Driver-side twins of _conjunct_keep and its helpers, evaluated with
# pyarrow.compute over a table of stripe metadata rows. Every
# comparison follows Spark's: Kleene AND/OR (a null flag stays null,
# exactly as the Column expression evaluates), NaN sorting above every
# number and equal to itself. tests/test_zonemap_arrow.py holds the two
# in lockstep differentially.

def _cmp_arrow(arr, op: str, v):
    """``arr <op> v`` under Spark's ordering; null rows give null."""
    t = arr.type
    if not pa.types.is_floating(t):
        fn = {
            "==": pc.equal, "<": pc.less, "<=": pc.less_equal,
            ">": pc.greater, ">=": pc.greater_equal,
        }[op]
        return fn(arr, pa.scalar(v, type=t))
    v = float(v)
    nan = pc.is_nan(arr)
    if v != v:  # NaN literal: only NaN equals it, every value is below
        return {
            "==": nan, ">=": nan,
            "<": pc.invert(nan),
            "<=": pc.or_kleene(nan, pc.invert(nan)),
            ">": pc.and_kleene(nan, pc.invert(nan)),
        }[op]
    s = pa.scalar(v, type=t)
    if op == "==":
        return pc.equal(arr, s)
    if op == "<":
        return pc.less(arr, s)
    if op == "<=":
        return pc.less_equal(arr, s)
    if op == ">":
        return pc.or_kleene(pc.greater(arr, s), nan)
    return pc.or_kleene(pc.greater_equal(arr, s), nan)  # '>='


def _const_arrow(meta: pa.Table, value: bool) -> pa.Array:
    return pa.array(np.full(meta.num_rows, value, dtype=bool))


def _range_overlap_arrow(meta: pa.Table, lo, hi, pin: str | None = None):
    """Arrow twin of :func:`_range_overlap`."""
    ilo, nlo, slo = _as_scalar(lo) if lo is not None else (None, None, None)
    ihi, nhi, shi = _as_scalar(hi) if hi is not None else (None, None, None)
    ilo, ihi = _pin_keep_cands(ilo, pin), _pin_keep_cands(ihi, pin)

    def fam(minc: str, maxc: str, flo, fhi):
        cond = pc.is_valid(meta[minc])
        if fhi is not None:
            cond = pc.and_kleene(cond, _cmp_arrow(meta[minc], "<=", fhi))
        if flo is not None:
            cond = pc.and_kleene(cond, _cmp_arrow(meta[maxc], ">=", flo))
        return cond

    if slo is not None or shi is not None:
        checked = fam("min_str", "max_str", slo, shi)
        stats_present = pc.is_valid(meta["min_str"])
    else:
        n_cand = max(len(ilo or ()), len(ihi or ()))
        first_ilo = ilo[0] if ilo else None
        first_ihi = ihi[0] if ihi else None
        checked = fam(
            "min_num", "max_num",
            float(first_ilo) if first_ilo is not None else nlo,
            float(first_ihi) if first_ihi is not None else nhi,
        )
        for i in range(n_cand):
            checked = pc.or_kleene(checked, fam(
                "min_int", "max_int",
                ilo[i] if ilo is not None and i < len(ilo) else None,
                ihi[i] if ihi is not None and i < len(ihi) else None,
            ))
        stats_present = pc.or_(
            pc.is_valid(meta["min_int"]), pc.is_valid(meta["min_num"])
        )
    return pc.or_kleene(checked, pc.invert(stats_present))


def _single_valued_at_arrow(meta: pa.Table, value):
    """Arrow twin of :func:`_single_valued_at`."""
    ints, num, s = _as_scalar(value)
    if ints is not None and len(ints) >= 2 and ints[0] != ints[1] * _DAY_US:
        ints = [ints[0]]

    def fam(minc: str, maxc: str, v):
        return pc.and_kleene(
            pc.is_valid(meta[minc]),
            pc.and_kleene(
                _cmp_arrow(meta[minc], "==", v), _cmp_arrow(meta[maxc], "==", v)
            ),
        )

    if s is not None:
        return fam("min_str", "max_str", s)
    if num is not None:
        cond = fam("min_num", "max_num", num)
        if float(num).is_integer():
            cond = pc.or_kleene(cond, fam("min_int", "max_int", int(num)))
        return cond
    cond = fam("min_num", "max_num", float(ints[0]))
    for iv in ints:
        cond = pc.or_kleene(cond, fam("min_int", "max_int", iv))
    return cond


def _prefix_overlap_arrow(meta: pa.Table, prefix: str):
    """Arrow twin of :func:`_prefix_overlap`."""
    if not prefix:
        return _const_arrow(meta, True)
    stats_present = pc.and_(
        pc.is_valid(meta["min_str"]), pc.is_valid(meta["max_str"])
    )
    keep = _cmp_arrow(meta["max_str"], ">=", prefix)
    upper = _prefix_upper(prefix)
    if upper is not None:
        keep = pc.and_kleene(keep, _cmp_arrow(meta["min_str"], "<", upper))
    return pc.or_kleene(keep, pc.invert(stats_present))


def conjunct_keep_arrow(meta: pa.Table, op: str, value, pin: str | None = None):
    """Per-row keep flags of one conjunct over a stripe metadata table:
    :func:`_conjunct_keep` evaluated with pyarrow on the driver."""
    if op not in _OPS:
        raise ValueError(f"unsupported predicate op: {op!r}")
    if op == "like_prefix":
        return _prefix_overlap_arrow(meta, str(value))
    if op == "contains_token":
        if _norm_token(value) is None:
            raise ValueError(
                f"contains_token needs a lowercase [a-z0-9]+ token, "
                f"got {value!r}"
            )
        return _const_arrow(meta, True)
    nc = meta["null_count"]
    if op == "is_null":
        return pc.or_kleene(pc.is_null(nc), pc.greater(nc, 0))
    if op == "not_null":
        return pc.or_kleene(pc.is_null(nc), pc.less(nc, meta["n_rows"]))
    if op == "!=":
        return pc.invert(_single_valued_at_arrow(meta, value))
    if op == "between":
        lo, hi = value
        return _range_overlap_arrow(meta, lo, hi, pin)
    if op == "in":
        vals = list(value)
        keep = _const_arrow(meta, False)
        for v in vals:
            keep = pc.or_kleene(keep, _range_overlap_arrow(meta, v, v, pin))
        return keep
    if op in ("==", "="):
        return _range_overlap_arrow(meta, value, value, pin)
    if op in (">=", ">"):
        return _range_overlap_arrow(meta, value, None, pin)
    return _range_overlap_arrow(meta, None, value, pin)  # '<=', '<'


_F53 = float(1 << 53)  # doubles are exact below this; proofs above risk rounding


def _conjunct_all(op: str, value, pin: str | None = None) -> Column:
    """Provably EVERY row of the stripe satisfies (col op value) — the
    dual of :func:`_conjunct_keep`, powering metadata-only COUNT
    (pipeline.metadata_count). Evaluated on one stats row; null/absent
    stats prove nothing (False, the stripe stays mixed and is decoded).

    Soundness notes:
    - Widened (pruning-only) bounds are OUTER bounds — stored min ≤
      true min and stored max ≥ true max — so every implication drawn
      from them holds for the true values; no stat_exact gate needed.
    - Temporal int literals carry two candidate encodings (epoch-us /
      epoch-days). With ``pin`` unset an ALL-proof must hold under
      BOTH (AND) since a bare stats row doesn't name its unit —
      conservative: a `<= ts` proof usually fails and the stripe is
      decoded instead, never miscounted. Callers that KNOW the column
      type (metadata_count/sum/group_by carry result_schema) pass
      pin="us" (timestamp columns) or pin="days" (date columns) to
      select the single true encoding — upper-bounded time-range
      proofs then fire, which is the whole game for warc_ts scans.
    - Cross-family proofs (int literal via min_num, float literal via
      min_int) compare through doubles, exact only below 2^53 —
      guarded; beyond it the family simply can't prove.
    - Every op except is_null additionally requires null_count == 0:
      a null row satisfies no SQL comparison, so one null breaks ALL.
    """
    if op not in _OPS:
        raise ValueError(f"unsupported predicate op: {op!r}")
    no_nulls = F.col("null_count") == 0
    all_nulls = F.col("null_count") == F.col("n_rows")
    if op == "is_null":
        return F.coalesce(all_nulls, F.lit(False))
    if op == "not_null":
        return F.coalesce(no_nulls, F.lit(False))
    if op == "contains_token":
        return F.lit(False)  # token membership is never zone-provable

    def _pin_cands(ints):
        """Restrict a temporal literal's candidate encodings to the
        pinned unit (index 0 = epoch-us, 1 = epoch-days). Bare ints
        have one candidate and are unaffected. A fractional-time
        literal's days candidate is TRUNCATED — proving through it
        would miscount (midnight rows at floor(v) fail `>= v` but the
        floored proof would claim them) — so an unfaithful days pin
        keeps BOTH candidates (the AND never proves; the group
        decodes, exact)."""
        if ints is None or len(ints) < 2 or pin is None:
            return ints
        if pin == "us":
            return [ints[0]]
        return [ints[1]] if ints[0] == ints[1] * _DAY_US else ints

    def within(lo, hi, strict_lo=False, strict_hi=False) -> Column:
        """All values in the interval (bounds None = unbounded)."""
        ilo, nlo, slo = _as_scalar(lo) if lo is not None else (None,) * 3
        ihi, nhi, shi = _as_scalar(hi) if hi is not None else (None,) * 3
        ilo, ihi = _pin_cands(ilo), _pin_cands(ihi)
        lo_cmp = (lambda c, v: c > F.lit(v)) if strict_lo else (
            lambda c, v: c >= F.lit(v)
        )
        hi_cmp = (lambda c, v: c < F.lit(v)) if strict_hi else (
            lambda c, v: c <= F.lit(v)
        )
        if slo is not None or shi is not None:
            cond = F.col("min_str").isNotNull() & F.col("max_str").isNotNull()
            if slo is not None:
                cond = cond & lo_cmp(F.col("min_str"), slo)
            if shi is not None:
                cond = cond & hi_cmp(F.col("max_str"), shi)
            return cond
        # numeric: the stripe carries int XOR num stats; a proof in
        # whichever family is present is a proof for the column
        flo = float(ilo[0]) if ilo else nlo
        fhi = float(ihi[0]) if ihi else nhi
        num_ok = (flo is None or abs(flo) < _F53) and (
            fhi is None or abs(fhi) < _F53
        )
        num_proof = F.lit(False)
        if num_ok:
            num_proof = (
                F.col("min_num").isNotNull() & F.col("max_num").isNotNull()
            )
            if flo is not None:
                num_proof = num_proof & lo_cmp(F.col("min_num"), flo)
            if fhi is not None:
                num_proof = num_proof & hi_cmp(F.col("max_num"), fhi)
        int_ok = (nlo is None or abs(nlo) < _F53) and (
            nhi is None or abs(nhi) < _F53
        )
        int_proof = F.lit(False)
        if int_ok:
            int_proof = (
                F.col("min_int").isNotNull() & F.col("max_int").isNotNull()
            )
            n_cand = max(len(ilo or ()), len(ihi or ()), 1)
            for i in range(n_cand):  # AND: prove under every encoding
                clo = (
                    ilo[i] if ilo is not None and i < len(ilo) else nlo
                )
                chi = (
                    ihi[i] if ihi is not None and i < len(ihi) else nhi
                )
                if clo is not None:
                    int_proof = int_proof & lo_cmp(F.col("min_int"), clo)
                if chi is not None:
                    int_proof = int_proof & hi_cmp(F.col("max_int"), chi)
        return int_proof | num_proof

    if op in ("==", "="):
        cond = within(value, value)
    elif op == "between":
        lo, hi = value
        cond = within(lo, hi)
    elif op == ">=":
        cond = within(value, None)
    elif op == ">":
        cond = within(value, None, strict_lo=True)
    elif op == "<=":
        cond = within(None, value)
    elif op == "<":
        cond = within(None, value, strict_hi=True)
    elif op == "in":
        vals = list(value)
        cond = F.lit(False)  # ALL-proof: single-valued at some member
        for v in vals:
            cond = cond | within(v, v)
    elif op == "!=":
        # no value can equal the literal: the whole range sits
        # strictly on one side (per encoding candidate, AND-combined)
        cond = within(None, value, strict_hi=True) | within(
            value, None, strict_lo=True
        )
    elif op == "like_prefix":
        prefix = str(value)
        if not prefix:
            cond = F.col("min_str").isNotNull()  # '' prefixes all
        else:
            cond = (
                F.col("min_str").isNotNull()
                & F.col("max_str").isNotNull()
                & (F.col("min_str") >= F.lit(prefix))
            )
            upper = _prefix_upper(prefix)
            if upper is not None:
                cond = cond & (F.col("max_str") < F.lit(upper))
    else:  # pragma: no cover — _OPS guard above
        raise ValueError(f"unsupported predicate op: {op!r}")
    return F.coalesce(cond & no_nulls, F.lit(False))


def prune_stripes(
    stripes: DataFrame,
    predicate: list[Conjunct],
    pins: dict | None = None,
) -> DataFrame:
    """Drop stripe groups that provably cannot satisfy ``predicate``.

    Metadata-only: the keep-set is computed on the blob-free columns
    (`data` is never materialized for pruned groups — parquet column
    pruning keeps it out of the scan). When the keep-set is small
    (selective predicates — the point-lookup case) it is collected and
    applied as LITERAL filters: `partition_id isin(...)` reaches the
    parquet scan as a pushed filter, so whole blob files/row groups
    are skipped, not just their decode (encode tasks write one file
    per partition, so file-level statistics make this pruning exact at
    the IO layer). Large keep-sets fall back to a left-semi join on
    (partition_id, epoch, stripe_idx).
    """
    if not predicate:
        return stripes
    keep = None
    meta = stripes.drop("data")
    has_bloom = "bloom" in stripes.columns  # pre-r3 tables: stats only
    for col, op, value in predicate:
        cond = _conjunct_keep(op, value, pin=(pins or {}).get(col))
        rows = meta.filter(F.col("column") == col).filter(cond)
        pvals = _bloom_probe_vals(op, value)
        if has_bloom and pvals is not None:
            vals = pvals
            bks = [
                b
                for b in (bloom_keep_expr(v, op=op) for v in vals)
                if b is not None
            ]
            if bks and len(bks) == len(vals):
                keep_b = bks[0]  # OR: any member may be present
                for b in bks[1:]:
                    keep_b = keep_b | b
                rows = rows.filter(keep_b)
        rows = rows.select("partition_id", "epoch", "stripe_idx")
        keep = rows if keep is None else keep.join(
            rows, ["partition_id", "epoch", "stripe_idx"], "left_semi"
        )
    keep = keep.distinct()
    keys = keep.limit(_PUSHDOWN_MAX_GROUPS + 1).collect()
    if len(keys) <= _PUSHDOWN_MAX_GROUPS:
        return restrict_groups(
            stripes, [(r.partition_id, r.epoch, r.stripe_idx) for r in keys]
        )
    return stripes.join(
        keep, ["partition_id", "epoch", "stripe_idx"], "left_semi"
    )


# Above this many surviving stripe groups the keep-set is no longer a
# "lookup" — skip the driver collect and use the distributed semi join.
_PUSHDOWN_MAX_GROUPS = 2048

# Driver-side planning budget (fused_prune fast path): plan on the
# driver only when the run's blob-free stripe metadata — measured from
# the parquet FOOTERS alone, the Iceberg-manifest analogue — is small.
# Past any of these, the distributed metadata job takes over.
_DRIVER_PLAN_MAX_FILES = 256
_DRIVER_PLAN_MAX_META_BYTES = 64 << 20
_DRIVER_PLAN_MAX_ROWS = 200_000


def _driver_plan_budget_ok(stripes_path: str) -> bool:
    """True when the stripes dir is provably small enough to plan
    driver-side: file count, total rows, and the byte volume of every
    non-``data`` column chunk (bloom blobs included) all come from the
    parquet footers — no data pages are touched, exactly like a query
    coordinator reading Iceberg manifests before task planning."""
    import pyarrow.parquet as pq

    try:
        files = [
            os.path.join(stripes_path, f)
            for f in os.listdir(stripes_path)
            if f.endswith(".parquet")
        ]
    except OSError:
        return False
    if not files or len(files) > _DRIVER_PLAN_MAX_FILES:
        return False
    rows = 0
    meta_bytes = 0
    for path in files:
        try:
            md = pq.read_metadata(path)
        except OSError:
            return False
        rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema != "data":
                    meta_bytes += col.total_compressed_size
        if rows > _DRIVER_PLAN_MAX_ROWS or meta_bytes > _DRIVER_PLAN_MAX_META_BYTES:
            return False
    return True


#: the non-blob stripe columns the keep-set planner reads
PLAN_COLUMNS = [
    "partition_id", "epoch", "stripe_idx", "column", "status", "n_rows",
    "null_count", "min_int", "max_int", "min_num", "max_num", "min_str",
    "max_str", "bloom",
]


def group_key_strings(t: pa.Table):
    """``"partition_id:epoch:stripe_idx"`` per row — the stripe-group
    key the literal decode filter matches (see :func:`restrict_groups`)."""
    return pc.binary_join_element_wise(
        *[t[k].cast(pa.string()) for k in ("partition_id", "epoch", "stripe_idx")],
        ":",
    )


def plan_keep_groups(
    meta: pa.Table,
    want,
    predicate: list[Conjunct],
    pins: dict | None = None,
    max_groups: int | None = _PUSHDOWN_MAX_GROUPS,
) -> list[tuple[int, int, int]] | None:
    """The keep-set of a predicated read, planned on the driver from an
    Arrow table of blob-free stripe metadata (``PLAN_COLUMNS``).

    Per stripe group: each conjunct's zone flag (the max of
    :func:`conjunct_keep_arrow` over the group's rows of that column —
    a group with no row for a conjunct's column is pruned); per
    partition, the newest epoch whose wanted column set is complete,
    short-circuited to epoch 0 when no wanted column has a later epoch
    (mirrors pipeline._epoch_keep_filter, so predicated and
    unpredicated decodes select the same stripe sets); then the bloom
    veto (AND across conjuncts, OR across IN-list members; absent or
    cross-domain blobs keep). Semantics equal the distributed metadata
    job in :func:`fused_prune`.

    Returns sorted (partition_id, epoch, stripe_idx) keys, or None when
    more than ``max_groups`` groups pass the zones (None = no cap).
    """
    want_set = set(want)
    pcols = {c for c, _, _ in predicate}
    ctype = meta.schema.field("column").type
    meta = meta.filter(
        pc.and_(
            pc.equal(meta["status"], "completed"),
            pc.is_in(
                meta["column"],
                value_set=pa.array(sorted(want_set | pcols), type=ctype),
            ),
        )
    ).combine_chunks()
    gkeys = ["partition_id", "epoch", "stripe_idx"]
    col = meta["column"]
    flags = {k: meta[k] for k in gkeys}
    for i, (c, op, value) in enumerate(predicate):
        k = conjunct_keep_arrow(meta, op, value, pin=(pins or {}).get(c))
        flags[f"_k{i}"] = pc.if_else(
            pc.equal(col, c), k.cast(pa.int8()), pa.scalar(None, pa.int8())
        )
    g = pa.table(flags).group_by(gkeys, use_threads=False).aggregate(
        [(f"_k{i}", "max") for i in range(len(predicate))]
    )
    w = meta.filter(
        pc.is_in(col, value_set=pa.array(sorted(want_set), type=ctype))
    )
    if not w.num_rows or pc.max(w["epoch"]).as_py() == 0:
        keep = pc.equal(g["epoch"], 0)
    else:
        per = w.group_by(["partition_id", "epoch"]).aggregate(
            [("column", "count_distinct")]
        )
        best = per.filter(
            pc.greater_equal(per["column_count_distinct"], len(want_set))
        ).group_by("partition_id").aggregate([("epoch", "max")])
        best_ep = pc.take(
            best["epoch_max"],
            pc.index_in(g["partition_id"], value_set=best["partition_id"]),
        )
        keep = pc.fill_null(pc.equal(g["epoch"], best_ep), False)
    for i in range(len(predicate)):
        keep = pc.and_(keep, pc.fill_null(pc.equal(g[f"_k{i}_max"], 1), False))
    surv = g.filter(keep)
    if max_groups is not None and surv.num_rows > max_groups:
        return None
    if "bloom" in meta.column_names:
        for c, op, value in predicate:
            vals = _bloom_probe_vals(op, value)
            if not vals or any(_probe_hash_pairs(op, v) is None for v in vals):
                continue
            brows = meta.filter(
                pc.and_(pc.equal(col, c), pc.is_valid(meta["bloom"]))
            )
            blobs = pc.take(
                brows["bloom"],
                pc.index_in(
                    group_key_strings(surv), value_set=group_key_strings(brows)
                ),
            )
            kept = np.zeros(surv.num_rows, dtype=bool)
            for v in vals:
                pairs, domain = _probe_hash_pairs(op, v)
                kept |= bloom_membership(blobs, pairs, domain)
            surv = surv.filter(pa.array(kept))
    return sorted(zip(*(surv[k].to_pylist() for k in gkeys)))


def restrict_groups(stripes: DataFrame, keys) -> DataFrame:
    """Keep only the listed (partition_id, epoch, stripe_idx) groups.
    Up to _PUSHDOWN_MAX_GROUPS keys become LITERAL filters:
    `partition_id isin` reaches the parquet scan as a pushed filter
    (encode tasks write one file per partition, so whole blob files
    are skipped) and the group-key match is exact, post-scan. A larger
    keep-set semi-joins a broadcast key table instead."""
    if len(keys) > _PUSHDOWN_MAX_GROUPS:
        gdf = stripes.sparkSession.createDataFrame(
            [(int(p), int(e), int(s)) for p, e, s in keys],
            "partition_id int, epoch bigint, stripe_idx int",
        )
        return stripes.join(
            F.broadcast(gdf), ["partition_id", "epoch", "stripe_idx"], "left_semi"
        )
    if not keys:
        return stripes.filter(F.lit(False))
    pids = sorted({int(p) for p, _, _ in keys})
    group_keys = [f"{int(p)}:{int(e)}:{int(s)}" for p, e, s in keys]
    return stripes.filter(
        F.col("partition_id").isin(pids)
        & F.concat_ws(":", "partition_id", "epoch", "stripe_idx").isin(group_keys)
    )


def fused_prune(
    stripes: DataFrame,
    want_cols: set[str],
    predicate: list[Conjunct],
    max_groups: int = _PUSHDOWN_MAX_GROUPS,
    stripes_path: str | None = None,
    pins: dict | None = None,
) -> DataFrame | None:
    """Epoch keep-map + zonemap/bloom keep-set in ONE bounded metadata
    job (VERDICT r3 #4: a predicated decode previously paid three
    driver actions — epoch-count collect, prune-keep collect, decode —
    whose fixed cost made small-table point lookups slower than full
    decode).

    One aggregation over the blob-free metadata computes, per stripe
    group, (a) each conjunct's ZONE survival flag and (b) the group's
    requested-column set; window functions then derive each
    partition's newest COMPLETE epoch and keep only its surviving
    groups — all inside the same job, so only the survivors (≤
    ``max_groups``, the point-lookup case by construction) ever reach
    the driver, where they become literal `partition_id isin` filters
    pushed to the parquet scan exactly as in :func:`prune_stripes`.

    BLOOM probes run DRIVER-SIDE over the collected survivors' blobs
    (one numpy bloom_membership call per conjunct): a pandas/arrow UDF
    here would add a Python-worker stage whose fixed cost exceeds the
    whole metadata job at small table sizes — the very overhead this
    fusion exists to remove. Collected blob volume is bounded by
    ``max_groups`` x BLOOM_MAX_BITS/8 (2048 x 64 KB = 128 MB worst
    case, ~10 MB typical); above the cap the caller's fallback path
    evaluates blooms distributed via bloom_keep_expr.

    Returns None when the surviving keep-set exceeds ``max_groups`` —
    the caller falls back to the distributed two-job path
    (_epoch_keep_filter + prune_stripes), which joins instead of
    collecting.

    ``stripes_path`` (local/posix dirs only — pass None for Iceberg):
    when the run's blob-free metadata fits the driver budget measured
    from parquet footers, the metadata rows are collected as Arrow
    (one single-stage job, no exchange) and planned by
    :func:`plan_keep_groups`. Identical semantics; at 100 TB the
    budget gate always routes to the distributed path below.

    Epoch completeness: when the newest wanted-column epoch is 0 the
    completeness requirement short-circuits (every epoch-0 group kept,
    complete or not), mirroring _epoch_keep_filter so predicated and
    unpredicated decodes select identical stripe sets and a faulted
    never-resumed table fails DECODE-loudly on both paths instead of
    returning zero rows on one of them (ADVICE r4 #2).
    """
    from pyspark.sql import Window

    want = sorted(want_cols)
    pcols = {c for c, _, _ in predicate}
    base = stripes.filter(F.col("status") == "completed")
    proj = base.drop("data").filter(
        F.col("column").isin(sorted(set(want) | pcols))
    )
    has_bloom = "bloom" in stripes.columns
    if stripes_path is not None and _driver_plan_budget_ok(stripes_path):
        meta = proj.select(
            *[c for c in PLAN_COLUMNS if has_bloom or c != "bloom"]
        ).toArrow()
        keys = plan_keep_groups(meta, want, predicate, pins, max_groups)
        return None if keys is None else restrict_groups(base, keys)
    flags = []
    bloom_probes: dict[str, list] = {}  # agg alias -> probe values
    for i, (c, op, value) in enumerate(predicate):
        cond = _conjunct_keep(op, value, pin=(pins or {}).get(c))
        # null when the group has no row for the conjunct's column —
        # which prunes, matching prune_stripes' intersection semantics
        proj = proj.withColumn(
            f"_k{i}", F.when(F.col("column") == c, cond.cast("int"))
        )
        flags.append(f"_k{i}")
        pvals = _bloom_probe_vals(op, value)
        if has_bloom and pvals is not None:
            vals = pvals
            if vals and all(
                _probe_hash_pairs(op, v) is not None for v in vals
            ):
                bloom_probes[f"_b{i}"] = [(f"_k{i}", c, op, vals)]
    aggs = [
        F.collect_set(
            F.when(F.col("column").isin(want), F.col("column"))
        ).alias("_cols"),
        *[F.max(F.col(f)).alias(f) for f in flags],
        *[
            F.first(
                F.when(F.col("column") == spec[0][1], F.col("bloom")),
                ignorenulls=True,
            ).alias(alias)
            for alias, spec in bloom_probes.items()
        ],
    ]
    g = proj.groupBy("partition_id", "epoch", "stripe_idx").agg(*aggs)
    w_pe = Window.partitionBy("partition_id", "epoch")
    w_p = Window.partitionBy("partition_id")
    # global newest wanted-column epoch: 0 (or no wanted rows at all)
    # short-circuits completeness exactly like _epoch_keep_filter —
    # one tiny broadcast branch, so the single-epoch common case keeps
    # incomplete partitions on BOTH decode paths (ADVICE r4 #2)
    gmax = proj.filter(F.col("column").isin(want)).agg(
        F.max("epoch").alias("_gmax")
    )
    g = (
        g.crossJoin(F.broadcast(gmax))
        .withColumn(
            "_nc",
            F.size(F.array_distinct(F.flatten(F.collect_list("_cols").over(w_pe)))),
        )
        .withColumn(
            "_complete",
            (F.col("_nc") >= len(want))
            | (F.coalesce(F.col("_gmax"), F.lit(0)) == 0),
        )
        .withColumn(
            "_best", F.max(F.when(F.col("_complete"), F.col("epoch"))).over(w_p)
        )
        .filter(F.col("epoch") == F.col("_best"))  # null best: no epoch kept
    )
    for f in flags:
        g = g.filter(F.col(f) == 1)
    keys = (
        g.select("partition_id", "epoch", "stripe_idx", *bloom_probes)
        .limit(max_groups + 1)
        .collect()
    )
    if len(keys) > max_groups:
        return None
    # driver-side bloom veto: AND across conjuncts, OR across IN-list
    # members; absent/cross-domain blobs keep (bloom_membership)
    for alias, spec in bloom_probes.items():
        _, _, p_op, vals = spec[0]
        blobs = [r[alias] for r in keys]
        keep = np.zeros(len(keys), dtype=bool)
        for v in vals:
            pairs, domain = _probe_hash_pairs(p_op, v)
            keep |= bloom_membership(blobs, pairs, domain)
        keys = [r for r, k in zip(keys, keep.tolist()) if k]
    return restrict_groups(
        base, [(r.partition_id, r.epoch, r.stripe_idx) for r in keys]
    )


def predicate_expr(predicate: list[Conjunct]) -> Column:
    """The residual row filter equivalent to ``predicate`` (zone maps
    are conservative; callers apply this after decode)."""
    cond = F.lit(True)
    for col, op, value in predicate:
        c = F.col(col)
        if op == "is_null":
            cond = cond & c.isNull()
        elif op == "not_null":
            cond = cond & c.isNotNull()
        elif op == "!=":
            cond = cond & (c != F.lit(value))
        elif op == "in":
            cond = cond & c.isin(list(value))
        elif op == "like_prefix":
            # startswith of the LITERAL prefix (no LIKE metacharacter
            # re-escaping to get wrong); null input -> null -> dropped,
            # matching SQL LIKE on nulls
            cond = cond & c.startswith(F.lit(str(value)))
        elif op == "contains_token":
            tok = _norm_token(value)
            if tok is None:
                raise ValueError(
                    f"contains_token needs a lowercase [a-z0-9]+ "
                    f"token, got {value!r}"
                )
            cond = cond & F.array_contains(
                F.split(F.lower(c), TOKEN_SPLIT_PATTERN), tok
            )
        elif op == "between":
            cond = cond & c.between(F.lit(value[0]), F.lit(value[1]))
        elif op in ("==", "="):
            cond = cond & (c == F.lit(value))
        elif op == ">":
            cond = cond & (c > F.lit(value))
        elif op == ">=":
            cond = cond & (c >= F.lit(value))
        elif op == "<":
            cond = cond & (c < F.lit(value))
        elif op == "<=":
            cond = cond & (c <= F.lit(value))
        else:
            raise ValueError(f"unsupported predicate op: {op!r}")
    return cond


# ------------------------------------------------------ bloom filters

# ORC spec bloom-filter index semantics (per-stripe bitset per column,
# k split hashes; public format, bytes layout ours): ~8 bits/value,
# k=4 gives ~2.4% false-positive rate; capped so a 64k-row stripe's
# index stays 64 KB.
BLOOM_BITS_PER_VALUE = 8
BLOOM_K = 4
BLOOM_MIN_BITS = 1 << 10
BLOOM_MAX_BITS = 1 << 19
# bump when the hash chain OR blob layout changes:
#   v2 = polynomial rolling hash, layout [version][bitset]
#   v3 = v2 hashes + a hash-DOMAIN tag byte: [version][domain][bitset].
# The tag records which value domain the writer hashed (int-family
# int64s vs string/binary bytes); the reader only lets a bloom VETO a
# stripe when the probe value hashes in the SAME domain. Without it an
# int literal probed against a string column's bloom (e.g. 123 vs
# '123', which Spark's row filter would match via implicit casts)
# produced a false negative and silently dropped matching rows.
_BLOOM_VERSION = b"\x03"
BLOOM_DOMAIN_INT = b"i"  # ints/bools/timestamps(us)/dates(days)
BLOOM_DOMAIN_STR = b"s"  # utf-8 / binary bytes
BLOOM_DOMAIN_TOK = b"t"  # distinct lowercase [a-z0-9]+ tokens of a
# text column — the full-text search index (contains_token predicate).
# Same v3 blob layout; readers that don't know the tag keep (no veto).


def _bloom_m(n_values: int) -> int:
    m = BLOOM_MIN_BITS
    while m < n_values * BLOOM_BITS_PER_VALUE and m < BLOOM_MAX_BITS:
        m <<= 1
    return m


_MIX_MUL1 = np.uint64(0xBF58476D1CE4E5B9)  # splitmix64 finalizer
_MIX_MUL2 = np.uint64(0x94D049BB133111EB)


def _mix64(x):
    """Vectorized splitmix64 finalizer (public-domain constants):
    int64 values -> two well-dispersed uint64 hash streams."""
    x = x.astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _MIX_MUL1
    x ^= x >> np.uint64(27)
    x *= _MIX_MUL2
    x ^= x >> np.uint64(31)
    h1 = x
    h2 = (x >> np.uint64(32)) | (x << np.uint64(32))
    return h1, (h2 | np.uint64(1))  # odd h2: full-period double hashing


def _hash_pairs(arr: pa.Array):
    """(h1, h2) uint64 streams for the dense values of an int-family,
    string, or binary column; None for unsupported types. Fully
    vectorized both ways: splitmix64 over int64 views; a position-
    weighted byte sum over the Arrow value buffer for strings/bytes
    (no per-row Python anywhere)."""
    t = arr.type
    dense = arr.drop_null()
    if pa.types.is_string(t) or pa.types.is_large_string(t) or \
            pa.types.is_binary(t) or pa.types.is_large_binary(t):
        # set-membership only needs DISTINCT values: a low-cardinality
        # column's bloom shrinks to its dictionary (and the python-list
        # conversion below stops scaling with row count)
        dense = dense.unique()
    if (
        pa.types.is_integer(t)
        or pa.types.is_boolean(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_date32(t)
    ):
        from ..codecs.framing import _int64_values

        if pa.types.is_boolean(t):
            dense = dense.cast(pa.int64())
        elif pa.types.is_timestamp(t):
            dense = dense.cast(pa.timestamp("us")).cast(pa.int64())
        v = _int64_values(dense)
        return _mix64(v)
    if (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    ):
        from ..codecs.framing import _string_parts

        lengths, data = _string_parts(dense)
        return _mix64(_string_prehash(lengths, np.frombuffer(data, np.uint8)))
    return None


_GOLD = np.uint64(0x9E3779B97F4A7C15)


def _string_prehash(lengths: np.ndarray, data: np.ndarray) -> np.ndarray:
    """Vectorized polynomial rolling hash per string (mod 2^64) — no
    per-row Python: h = Σ b[pos]·GOLD^(pos+1), segment-summed with one
    cumsum. Geometric weights make the map position-sensitive and
    non-linear in the byte values (a linear Σ b·(pos+1) collapses
    same-length near-identical strings — e.g. URLs differing in a few
    digits — into a tiny value range and saturates the bloom with
    false positives); _mix64 then gives full avalanche. False
    negatives are impossible: the predicate side runs the identical
    function."""
    n = len(lengths)
    lengths = lengths.astype(np.int64, copy=False)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    b = data.astype(np.uint64)
    pos = (
        np.arange(len(b), dtype=np.uint64)
        - np.repeat(starts.astype(np.uint64), lengths)
    ).astype(np.int64)
    max_len = int(lengths.max()) if n else 0
    # GOLD^(j+1) via cumprod (array uint64 ops wrap silently, O(max
    # string length) not rows)
    powers = np.cumprod(np.full(max_len + 1, _GOLD, dtype=np.uint64))
    weighted = b * powers[pos]
    c = np.concatenate([np.zeros(1, np.uint64), np.cumsum(weighted)])
    s1 = c[ends] - c[starts]  # wrap-safe: uint64 arithmetic is mod 2^64
    return s1 ^ (lengths.astype(np.uint64) << np.uint64(40))


# strings/bytes longer than this on average skip the bloom: equality
# lookups target keys/urls/tags, never whole documents, and hashing
# megabytes of text would tax encode for an index nobody can use
BLOOM_MAX_AVG_LEN = 128


def _build_bloom(h1, h2, domain: bytes) -> bytes | None:
    if len(h1) == 0:
        return None
    # Size by DISTINCT insertions, not rows: duplicates set the same
    # bits, so the false-positive rate is a function of distinct
    # values only (the ORC writer's fpp math is per distinct key).
    # A 64k-row stripe of a 13-value lang column now carries a 1 KB
    # bitset instead of 64 KB — at 10^12 rows that is the difference
    # between a bloom index that fits the metadata cache and one that
    # doesn't. Distinct count comes from the already-computed 64-bit
    # hashes (np.unique; a hash collision undercounts by at most a
    # rounding step of the power-of-two size ladder).
    n = len(np.unique(h1))
    m = _bloom_m(n)
    # boolean scatter + packbits beats bitwise_or.at (unbuffered ufunc)
    # by ~10x; little bitorder matches the reader's (idx>>3, idx&7)
    bb = np.zeros(m, dtype=bool)
    for i in range(BLOOM_K):
        bb[((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)] = True
    # version prefix: a reader probing with a DIFFERENT hash chain than
    # the writer would produce false negatives (wrong pruning); any
    # unrecognized version is treated as "always keep"
    return _BLOOM_VERSION + domain + np.packbits(bb, bitorder="little").tobytes()


# the contains_token tokenizer, shared verbatim (as a pattern) by the
# Spark residual (split), the Arrow residual (boundary regex), the
# DuckDB oracle twin (string_split_regex), and the encode-side bloom:
# lowercase maximal [a-z0-9]+ runs, every other code point a separator
TOKEN_SPLIT_PATTERN = "[^a-z0-9]+"


def _norm_token(value) -> str | None:
    """A probe-able search token: lowercased, and a FULL [a-z0-9]+
    run (anything else cannot equal a token the splitter produces)."""
    import re

    if not isinstance(value, str):
        return None
    tok = value.lower()
    return tok if re.fullmatch("[a-z0-9]+", tok) else None


def _token_stream(arr: pa.Array) -> pa.Array:
    """Distinct lowercase tokens across a string stripe — the value
    stream of the per-stripe full-text bloom."""
    toks = pc.list_flatten(
        pc.split_pattern_regex(
            pc.utf8_lower(arr.drop_null()), TOKEN_SPLIT_PATTERN
        )
    ).unique()
    return toks.filter(pc.not_equal(toks, ""))


def stripe_bloom(arr: pa.Array, token_mode: bool = False) -> bytes | None:
    """Per-stripe bloom bitset for equality pruning, or None when the
    type is unsupported / the stripe is empty / the values are
    long-form text (see BLOOM_MAX_AVG_LEN).

    ``token_mode`` (string columns only — the full-text search index):
    hash the stripe's DISTINCT lowercase tokens instead of its values,
    tagged BLOOM_DOMAIN_TOK so equality probes never consult it (and
    token probes never consult value bitsets). Long-form text is the
    point here, so the avg-len skip does not apply."""
    t = arr.type
    is_bytes_like = (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    )
    if token_mode:
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
            return None
        try:
            toks = _token_stream(arr)
            if len(toks) == 0:
                return None
            from ..codecs.framing import _string_parts

            lengths, data = _string_parts(toks)
            h1, h2 = _mix64(
                _string_prehash(lengths, np.frombuffer(data, np.uint8))
            )
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None
        return _build_bloom(h1, h2, BLOOM_DOMAIN_TOK)
    if is_bytes_like:
        n_valid = len(arr) - arr.null_count
        if n_valid and arr.nbytes / n_valid > BLOOM_MAX_AVG_LEN:
            return None
    try:
        pair = _hash_pairs(arr)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None  # e.g. exotic timestamp casts: index is optional,
        # a failed bloom must never fail the stripe itself
    if pair is None:
        return None
    h1, h2 = pair
    return _build_bloom(h1, h2, BLOOM_DOMAIN_STR if is_bytes_like else BLOOM_DOMAIN_INT)


def _value_hash_pairs(value) -> tuple[list[tuple[int, int]], bytes] | None:
    """The scalar twin of _hash_pairs for a predicate literal — MUST
    run the identical hash chain or membership breaks. Returns
    ([(h1, h2), ...], domain): temporal literals carry BOTH their
    epoch-us and epoch-days hash pairs (the predicate author may not
    know whether the column is timestamp or date32 — either encoding
    matching keeps the stripe), mirroring _as_scalar."""
    if isinstance(value, bool):
        ints = [int(value)]
    elif isinstance(value, int):
        ints = [value]
    elif isinstance(value, (str, bytes)):
        raw = value.encode() if isinstance(value, str) else value
        pre = _string_prehash(
            np.array([len(raw)], dtype=np.int64),
            np.frombuffer(raw, np.uint8),
        )
        h1, h2 = _mix64(pre)
        return [(int(h1[0]), int(h2[0]))], BLOOM_DOMAIN_STR
    elif isinstance(value, (datetime.datetime, datetime.date)):
        ints, _, _ = _as_scalar(value)  # [epoch_us, epoch_days]
    else:
        return None
    h1, h2 = _mix64(np.array(ints, dtype=np.int64))
    return (
        [(int(a), int(b)) for a, b in zip(h1.tolist(), h2.tolist())],
        BLOOM_DOMAIN_INT,
    )


def _probe_hash_pairs(op: str, value):
    """(pairs, domain) for a bloom-probeable (op, literal) — equality
    probes hash the literal in its value domain; contains_token
    probes hash the normalized token in the token domain. None when
    the literal cannot probe (conservative keep)."""
    if op == "contains_token":
        tok = _norm_token(value)
        if tok is None:
            return None
        raw = tok.encode()
        h1, h2 = _mix64(
            _string_prehash(
                np.array([len(raw)], dtype=np.int64),
                np.frombuffer(raw, np.uint8),
            )
        )
        return [(int(h1[0]), int(h2[0]))], BLOOM_DOMAIN_TOK
    return _value_hash_pairs(value)


def _bloom_probe_vals(op: str, value) -> list | None:
    """The probe literals of a bloom-usable conjunct, else None."""
    if op in ("==", "="):
        return [value]
    if op == "in":
        return list(value)
    if op == "contains_token":
        return [value]
    return None


def bloom_membership(
    blooms, pairs: list[tuple[int, int]], domain: bytes
) -> np.ndarray:
    """Vectorized maybe-contains over a sequence of bloom blobs.

    True unless a blob PROVABLY excludes every probe pair. Absent /
    empty / unknown-version blobs keep; so do blobs whose hash DOMAIN
    tag differs from the probe's (an int literal cannot veto a
    string-hashed bitset — Spark's row filter may still match via
    implicit casts, so a cross-domain veto would drop real rows).

    Pure array ops over the Arrow binary column's OWN buffers: blob
    starts come from the offsets buffer (zero copy), and the
    version/domain checks plus every one of the k x len(pairs) probe
    bits are vectorized gathers into the flat data buffer at
    start_offset + byte_index — no per-blob numpy calls, joins, or
    Python probing (at 10^12-doc scale the stripes table is 10^7+
    rows and a per-row k=4 probe loop was the pruning bottleneck).
    Bitset length only varies across stripe row counts, so the
    per-unique-length loop is O(few). Accepts a pa.Array /
    pa.ChunkedArray (the fast path — what the arrow UDF delivers) or
    any sequence of bytes/None (converted once).
    """
    if not isinstance(blooms, (pa.Array, pa.ChunkedArray)):
        blooms = pa.array(iter(blooms), type=pa.large_binary())
    if isinstance(blooms, pa.ChunkedArray):
        blooms = blooms.combine_chunks()
    n = len(blooms)
    out = np.ones(n, dtype=bool)
    if n == 0:
        return out
    t = blooms.type
    if pa.types.is_binary(t):
        odt = np.int32
    elif pa.types.is_large_binary(t):
        odt = np.int64
    else:
        blooms = blooms.cast(pa.large_binary())
        odt = np.int64
    bufs = blooms.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odt)[
        blooms.offset : blooms.offset + n + 1
    ].astype(np.int64, copy=False)
    flat = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    starts = offsets[:-1]
    lens = offsets[1:] - starts  # null slots have zero length: keep
    rows = np.nonzero(lens >= 3)[0]
    if rows.size == 0:
        return out
    ok_hdr = (flat[starts[rows]] == _BLOOM_VERSION[0]) & (
        flat[starts[rows] + 1] == domain[0]
    )
    rows = rows[ok_hdr]  # unknown writer / domain mismatch: never veto
    if rows.size == 0:
        return out
    bit_lens = lens[rows] - 2
    base = starts[rows] + 2
    keep = np.zeros(rows.size, dtype=bool)
    for nbytes in np.unique(bit_lens):
        sel = bit_lens == nbytes
        gbase = base[sel]
        m = int(nbytes) << 3
        gkeep = np.zeros(gbase.size, dtype=bool)
        for h1, h2 in pairs:  # OR over probe encodings
            ok = np.ones(gbase.size, dtype=bool)
            for k in range(BLOOM_K):  # AND over the k split hashes
                idx = ((h1 + k * h2) & 0xFFFFFFFFFFFFFFFF) % m
                ok &= (flat[gbase + (idx >> 3)] & np.uint8(1 << (idx & 7))) != 0
            gkeep |= ok
        keep[sel] = gkeep
    out[rows] = keep
    return out


def bloom_keep_expr(value, op: str = "==") -> "Column | None":
    """Keep-condition over the stripes' `bloom` column for an equality
    (or contains_token) predicate: False only when the bitset PROVABLY
    excludes the value (all-null / absent / cross-domain blooms always
    keep). Vectorized pandas UDF over metadata rows only — never data
    blobs."""
    hp = _probe_hash_pairs(op, value)
    if hp is None:
        return None
    pairs, domain = hp

    try:  # Spark 4.x: the UDF receives the pa.Array itself (zero-copy
        # into bloom_membership's buffer gathers)
        from pyspark.sql.functions import arrow_udf

        @arrow_udf("boolean")
        def maybe_contains(blooms: pa.Array) -> pa.Array:
            return pa.array(bloom_membership(blooms, pairs, domain))

    except ImportError:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("boolean")
        def maybe_contains(blooms):
            import pandas as pd

            return pd.Series(bloom_membership(blooms, pairs, domain))

    return maybe_contains(F.col("bloom"))


def predicate_dnf_expr(branches: list) -> Column:
    """Residual row filter for a DISJUNCTION of conjunct lists
    (OR-of-ANDs): ``predicate_expr(b1) OR predicate_expr(b2) OR ...``.
    Pairs with pipeline.decode_job_dnf the way predicate_expr pairs
    with decode_job."""
    if not branches:
        return F.lit(True)
    cond = F.lit(False)
    for br in branches:
        cond = cond | predicate_expr(br)
    return cond
