"""Spans, Spark job counts and the single-threaded layer profile.

Everything here is recorded from the benchmark's side of the engine's
public functions: spans come from wrappers installed on engine module
attributes for the length of a traced run, job/stage/task counts from
Spark's status tracker keyed by a job group per operation, and the
layer profile calls the codec, selector, zone-map and sketch functions
directly on the workload's batches in this process.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager

import pyarrow as pa

# (module, function, span name): driver-side engine calls worth a span.
# A function missing from a later engine version is skipped, and the
# metrics derived from its span read 0.
WRAPPED = [
    ("orc_spark.engine.lineage", "completed_partitions", "lineage.resume_check"),
    ("orc_spark.engine.lineage", "next_epoch", "lineage.resume_check"),
    ("orc_spark.engine.lineage", "append_lineage", "lineage.append"),
    ("orc_spark.engine.zonemap", "fused_prune", "zonemap.prune"),
    ("orc_spark.engine.decode", "decode_stage", "decode.plan"),
]


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id)."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[list] = []
        self.groups: dict[str, str] = {}  # job group -> op kind
        self.enabled = False
        self._stack: list[int] = []
        self._op: str | None = None
        self._restore: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self._op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def op(self, kind: str, op_id: str):
        """One benchmark operation: a root span plus a Spark job group."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        self.groups[op_id] = kind
        self.sc.setJobGroup(op_id, kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            self._op = None

    def install(self) -> None:
        import importlib

        for mod_name, fn_name, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name, None)
            if orig is None:
                continue

            def wrapper(*a, _orig=orig, _name=span_name, **kw):
                with self.span(_name):
                    return _orig(*a, **kw)

            setattr(mod, fn_name, functools.wraps(orig)(wrapper))
            self._restore.append((mod, fn_name, orig))

    def uninstall(self) -> None:
        for mod, fn_name, orig in reversed(self._restore):
            setattr(mod, fn_name, orig)
        self._restore.clear()

    # ---- derived numbers ---------------------------------------------

    def job_counts(self) -> dict[str, list[tuple[int, int, int]]]:
        """op kind -> [(jobs, stages, tasks) per op], from the status
        tracker (stages and tasks that actually ran; skipped ones are
        not counted)."""
        st = self.sc.statusTracker()
        out: dict[str, list] = {}
        for group, kind in self.groups.items():
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            out.setdefault(kind, []).append((len(jobs), stages, tasks))
        return out

    def span_ms(self, name: str, kind: str) -> float:
        """Median over ops of one kind of the summed duration of the
        named spans inside each op."""
        per_op: dict[str, float] = {}
        for op_id, k in self.groups.items():
            if k == kind:
                per_op[op_id] = 0.0
        for nm, t0, t1, _, op_id in self.spans:
            if nm == name and op_id in per_op and t1 is not None:
                per_op[op_id] += (t1 - t0) * 1000.0
        return statistics.median(per_op.values()) if per_op else 0.0

    def self_ms(self, kind: str) -> float:
        """Median self time of the root span of ops of one kind: its
        duration minus the part its child spans cover."""
        child: dict[int, float] = {}
        for nm, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child[parent] = child.get(parent, 0.0) + (t1 - t0)
        vals = [
            (t1 - t0 - child.get(i, 0.0)) * 1000.0
            for i, (nm, t0, t1, _, _) in enumerate(self.spans)
            if nm == f"op.{kind}" and t1 is not None
        ]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.spans,
                    "groups": self.groups,
                    "jobs": self.job_counts(),
                },
                f,
            )


# ---- stripe ledger ----------------------------------------------------

LEDGER_COLUMNS = [
    "partition_id", "stripe_idx", "column", "codec", "n_rows", "encode_ms",
    "attempts", "status",
]


def read_ledger(stripes_dir: str) -> pa.Table:
    """The stripe ledger of a store, read with pyarrow (blob column
    skipped); metadata-only rows (codec "stats") are dropped."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(stripes_dir, format="parquet").to_table(columns=LEDGER_COLUMNS)
    return t.filter(pc.not_equal(t["codec"], "stats"))


def ledger_ok(ledger: pa.Table, n_rows: int, n_columns: int) -> bool:
    """Every stripe completed and every column holds every input row."""
    import pyarrow.compute as pc

    if pc.any(pc.not_equal(ledger["status"], "completed")).as_py():
        return False
    per_col = ledger.group_by("column").aggregate([("n_rows", "sum")])
    return per_col.num_rows == n_columns and all(
        v == n_rows for v in per_col["n_rows_sum"].to_pylist()
    )


def ledger_metrics(
    ledger: pa.Table, wall_s: float, slots: int
) -> dict[str, tuple[float, str]]:
    import pyarrow.compute as pc

    enc_s = pc.sum(ledger["encode_ms"]).as_py() / 1000.0
    groups = ledger.group_by(["partition_id", "stripe_idx"]).aggregate([])
    first_col = ledger["column"][0]
    rows = (
        ledger.filter(pc.equal(ledger["column"], first_col))
        .group_by("partition_id")
        .aggregate([("n_rows", "sum")])["n_rows_sum"]
        .to_pylist()
    )
    return {
        "encode.ledger_encode_s": (enc_s, "s"),
        "encode.codec_share": (enc_s / (wall_s * slots), "ratio"),
        "selector.attempts_per_stripe": (pc.mean(ledger["attempts"]).as_py(), "ratio"),
        "skew.max_over_mean_rows": (max(rows) / (sum(rows) / len(rows)), "ratio"),
        "storage.stripes_per_encode": (groups.num_rows, "count"),
    }


# ---- single-threaded layer profile -------------------------------------

# The codecs the selector picks on the two workloads' columns (web:
# dict, prefix, fsst, rle_auto; lineitem: dict, rle_auto, alp). A codec
# a workload never picks reads 0 there; one outside this list still
# counts in codecs.encode_mb_s and is named on standard error.
PROFILED_CODECS = ("dict", "prefix", "fsst", "rle_auto", "alp")


def layer_profile(
    table: pa.Table, batch_rows: int
) -> tuple[dict[str, tuple[float, str]], bool]:
    """Time the codec, selector, zone-map and sketch functions on the
    workload's batches, one thread, with the pipeline's default zlib.

    Each stripe-column goes through the engine's own
    encode_with_fallback (selector pick plus size-budget walk); its time
    and bytes are charged to the codec it returns, and that blob's
    decode_frame to the same codec. choose_codec is also timed alone for
    selector.choose_s. Returns the metrics and whether every decode
    round-tripped.
    """
    import sys

    from orc_spark.codecs import decode_frame
    from orc_spark.engine import encode as encode_mod
    from orc_spark.engine import ndv, quantiles, selector, vcounts, zonemap

    plans = selector.plan_for_schema(table.schema)
    state = {c: {} for c in table.column_names}
    enc: dict[str, float] = {}
    dec: dict[str, float] = {}
    b_in: dict[str, int] = {}
    b_out: dict[str, int] = {}
    choose = stats = sketch = 0.0
    ok = True
    for batch in table.to_batches(max_chunksize=batch_rows):
        for col in table.column_names:
            arr = batch.column(col)
            chain = plans[col].chain
            t0 = time.perf_counter()
            selector.choose_codec(arr, chain)
            t1 = time.perf_counter()
            codec, blob, _ = encode_mod.encode_with_fallback(
                arr, chain, state=state[col], compression="zlib"
            )
            t2 = time.perf_counter()
            back = decode_frame(blob)
            t3 = time.perf_counter()
            ok = ok and back.equals(arr)
            choose += t1 - t0
            enc[codec] = enc.get(codec, 0.0) + t2 - t1
            dec[codec] = dec.get(codec, 0.0) + t3 - t2
            b_in[codec] = b_in.get(codec, 0) + arr.nbytes
            b_out[codec] = b_out.get(codec, 0) + len(blob)
            t0 = time.perf_counter()
            zonemap.stripe_zone_stats(arr)
            zonemap.stripe_bloom(arr)
            t1 = time.perf_counter()
            ndv.stripe_hll(arr)
            quantiles.stripe_qsketch(arr)
            vcounts.stripe_value_counts(arr)
            t2 = time.perf_counter()
            stats += t1 - t0
            sketch += t2 - t1
    mb = table.nbytes / 1e6
    out = {
        "codecs.encode_mb_s": (mb / sum(enc.values()), "MB/s"),
        "codecs.decode_mb_s": (mb / sum(dec.values()), "MB/s"),
        "selector.choose_s": (choose, "s"),
        "zonemap.stats_s": (stats, "s"),
        "sketch.s": (sketch, "s"),
    }
    for c in PROFILED_CODECS:
        out[f"codecs.{c}.encode_s"] = (enc.get(c, 0.0), "s")
        out[f"codecs.{c}.decode_s"] = (dec.get(c, 0.0), "s")
        out[f"codecs.{c}.bytes_ratio"] = (
            b_out[c] / b_in[c] if b_in.get(c) else 0.0, "ratio",
        )
    for c in sorted(set(enc) - set(PROFILED_CODECS)):
        print(f"perfbench: codec {c} picked but not profiled by name", file=sys.stderr)
    return out, ok
