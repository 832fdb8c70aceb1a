"""Benchmark of the orc_spark engine: one closed-loop client, one local
Spark session, two seeded workloads (web, lineitem).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload web --seed 1 --seconds 26 --trace 0

Every metric is printed as "name = value unit"; the last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run. See
perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Store builds per run: the store the reads query, then the loop's first
# encodes (the same build into a fresh directory); setup_s is their median.
SETUP_REPS = 3
WARM_MAX, WARM_TOL = 3, 0.2  # warm-up calls per op kind; settle band
OVERRUN_S = 6  # the loop's limit past --seconds while a kind is untimed
KINDS = ["encode", "scan", "lookup", "range", "count"]
# One round of the closed loop: an encode, then the reads shuffled per
# round by the seed. Lookups get the most calls: their p50 and tail are
# the latencies users see. The encode leads so that the two encodes the
# loop owes set-up start within two rounds.
ROUND_READS = [
    "scan", "scan", "lookup", "lookup", "lookup", "range", "range", "count", "count",
]
TAIL_Q = 0.9  # lookup_tail_ms is this quantile of the run's lookups
MALLOC_THRESHOLD = str(1 << 30)  # keep large temps on the retained heap


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["web", "lineitem"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def slots() -> int:
    """Task slots: at most four, never more than the CPUs we may use."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def prepare_env(work: Path) -> None:
    """Process environment the JVM and Python workers inherit: the
    engine on the workers' path, all scratch inside the work dir, and
    Arrow on the system allocator (which obeys the MALLOC_* tunables
    main() sets, as the repo's own harness does)."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["ARROW_DEFAULT_MEMORY_POOL"] = "system"
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")


def make_session(work: Path, n_slots: int):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{n_slots}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n_slots))
        .config("spark.default.parallelism", str(n_slots))
        # fixed physical plans, so job/stage/task counts repeat exactly
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        # C1-only JIT: the driver JVM reaches steady speed after one
        # call per plan shape instead of tens (see README)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={work / 'tmp'}",
        )
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def tail(values: list[float]) -> float:
    """The TAIL_Q quantile, interpolated between the two samples around
    it; the only sample when there is one."""
    if len(values) < 2:
        return values[0]
    n = round(1 / (1 - TAIL_Q))
    return statistics.quantiles(values, n=n, method="inclusive")[n - 2]


def settled(xs: list[float]) -> bool:
    return len(xs) >= 2 and abs(xs[-1] / xs[-2] - 1) <= WARM_TOL


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pid: int, timeout: float = 10.0) -> None:
    deadline = time.monotonic() + timeout
    while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
        time.sleep(0.05)


def log(msg: str, t0: float) -> None:
    print(f"perfbench: {msg} ({time.perf_counter() - t0:.1f} s)", file=sys.stderr)


class RssSampler(threading.Thread):
    """Peak VmHWM over the JVM's Python worker descendants, polled
    from /proc while the loop runs. VmHWM is a per-process high-water
    mark and the workers live as long as the session, so a slow poll
    loses nothing and keeps the GIL free for the client's calls."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._done = threading.Event()

    def run(self):
        while not self._done.wait(1.0):
            self.sample()

    def stop(self):
        self._done.set()
        self.join(timeout=5)
        self.sample()

    def sample(self):
        for pid in descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark" not in f.read():
                        continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                continue  # the worker exited between listing and reading


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.slots = slots()
        self.rng = random.Random(args.seed)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.times: dict[str, list[float]] = {k: [] for k in KINDS}
        self.untraced_lookups: list[float] = []
        self.encodes: list[dict] = []  # encodes of the measured loop
        self.counts: list[dict] = []  # metadata_count details, same
        self.recording = False
        self.n_dirs = 0
        self.warm_calls: dict[str, int] = {}  # calls before the first timed one

    # ---- engine lifetime -----------------------------------------------

    def start(self) -> None:
        """Launch the JVM and build the seeded input meanwhile."""
        from tracing import Tracer
        from workloads import WORKLOADS

        made: dict = {}

        def generate():
            try:
                made["wl"] = WORKLOADS[self.args.workload](self.args.seed)
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                made["err"] = exc

        gen = threading.Thread(target=generate)
        gen.start()
        try:
            self.spark = make_session(self.work, self.slots)
        finally:
            gen.join()
        if "err" in made:
            raise made["err"]
        self.wl = made["wl"]
        import pyarrow.parquet as pq

        path = str(self.work / "input.parquet")
        pq.write_table(self.wl.table, path, row_group_size=8192)
        self.df = self.spark.read.parquet(path)
        self.schema = self.df.schema
        self.tracer = Tracer(self.spark.sparkContext)

    def close(self) -> None:
        """Stop Spark, then the JVM and its workers, and wait for all."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        kids = descendants(proc.pid) if proc is not None else []
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the launcher exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — kill, then wait again
                    proc.kill()
                    proc.wait(timeout=10)
            for pid in kids:
                wait_gone(pid)

    # ---- operations ------------------------------------------------------

    def fresh_dir(self) -> str:
        self.n_dirs += 1
        return str(self.work / f"store-{self.n_dirs}")

    def run_op(self, kind: str) -> float | None:
        """Run one verified operation; returns its wall time, or None
        when it raised or returned a wrong answer."""
        wl, spark, store, schema = self.wl, self.spark, self.store, self.schema
        self.attempted += 1
        op_id = f"{kind}-{self.attempted}"
        try:
            with self.tracer.op(kind, op_id):
                if kind == "encode":
                    out = self.fresh_dir()
                    try:
                        dt, ok = self.encode(out)
                    finally:
                        shutil.rmtree(out, ignore_errors=True)
                elif kind == "scan":
                    t0 = time.perf_counter()
                    got = wl.scan(spark, store, schema)
                    dt = time.perf_counter() - t0
                    ok = wl.check_scan(got)
                elif kind == "lookup":
                    key = wl.lookup_key()
                    t0 = time.perf_counter()
                    got = wl.lookup(spark, store, schema, key)
                    dt = time.perf_counter() - t0
                    ok = wl.check_lookup(key, got)
                elif kind == "range":
                    w = wl.range_window()
                    t0 = time.perf_counter()
                    got = wl.range_read(spark, store, schema, w)
                    dt = time.perf_counter() - t0
                    ok = wl.check_range(w, got)
                else:
                    w = wl.count_window()
                    t0 = time.perf_counter()
                    n, detail = wl.count(spark, store, schema, w)
                    dt = time.perf_counter() - t0
                    ok = wl.check_count(w, n)
                    if self.recording:
                        self.counts.append({"n": n, **detail})
        except Exception as exc:  # noqa: BLE001 — counted, reported, run goes on
            print(f"perfbench: {op_id} raised {exc!r}", file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: {op_id} gave a wrong answer or failed", file=sys.stderr)
            return None
        return dt

    def encode(self, out: str) -> tuple[float, bool]:
        """Encode the input into ``out`` and verify its ledger."""
        from orc_spark.engine import lineage, pipeline

        from tracing import ledger_ok, read_ledger

        t0 = time.perf_counter()
        res = pipeline.run_encode_job(self.spark, self.df, self.wl.encode_config(out))
        dt = time.perf_counter() - t0
        sdir = lineage.stripes_dir(out)
        ledger = read_ledger(sdir)
        ok = res.partitions_failed == 0 and ledger_ok(
            ledger, self.wl.table.num_rows, self.wl.table.num_columns
        )
        if self.recording:
            self.encodes.append(
                {
                    "s": dt,
                    "ledger": ledger,
                    "stored": dir_bytes(sdir) + dir_bytes(lineage.lineage_dir(out)),
                    "files": sum(f.endswith(".parquet") for f in os.listdir(sdir)),
                }
            )
        return dt, ok

    # ---- phases ------------------------------------------------------------

    def setup(self) -> float:
        """Build the store the reads query from the input in a fresh
        directory and verify its ledger. This is the cold first encode;
        the loop's encodes repeat the same build."""
        self.store = self.fresh_dir()
        self.attempted += 1
        try:
            dt, ok = self.encode(self.store)
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            print(f"perfbench: store build raised {exc!r}", file=sys.stderr)
            dt, ok = float("inf"), False
        if not ok:
            self.failed += 1
        return dt

    def warm_up(self, build_s: float) -> None:
        """One cold call of each read kind; the store build was the
        cold encode. Every kind settles inside the measured loop."""
        self.calls = {k: [] for k in KINDS}
        self.calls["encode"].append(build_s)
        for kind in KINDS[1:]:
            self.calls[kind].append(self.run_op(kind) or float("inf"))

    def measure(self, traced: bool) -> None:
        """The closed loop: rounds of an encode and ROUND_READS in a
        seeded order, for --seconds and on until every kind (and,
        traced, an untraced lookup) has a timed call and SETUP_REPS - 1
        encodes have run in the loop, at most OVERRUN_S more. A kind's
        calls are warm-up, timed into no metric, until its latest two
        calls differ by at most WARM_TOL (or it has had WARM_MAX calls);
        both calls of that first settled pair are timed when both ran in
        the loop. Traced runs alternate traced and untraced lookups, so
        the tracing overhead is measured in the same run."""
        live = {k: False for k in KINDS}
        self.recording = True
        t_end = time.perf_counter() + self.args.seconds
        untraced = False
        pending: dict[str, tuple] = {}  # a kind's last untimed loop call

        def done() -> bool:
            now = time.perf_counter()
            timed = (
                all(self.times[k] for k in KINDS)
                and len(self.encodes) >= SETUP_REPS - 1
                and (self.untraced_lookups or not traced)
            )
            return now >= t_end + OVERRUN_S or (now >= t_end and timed)

        while not done():
            reads = list(ROUND_READS)
            self.rng.shuffle(reads)
            r = ["encode"] + reads
            for kind in r:
                if done():
                    break
                skip = traced and kind == "lookup" and untraced
                self.tracer.enabled = traced and not skip
                dt = self.run_op(kind)
                hist = self.calls[kind]
                hist.append(dt or float("inf"))
                target = self.untraced_lookups if skip else self.times[kind]
                prev = pending.pop(kind, None)
                if not live[kind] and settled(hist) and prev:
                    # the settled pair is the first warm window: both count
                    live[kind] = True
                    self.warm_calls[kind] = len(hist) - 2
                    prev[1].append(prev[0])
                elif not live[kind] and (settled(hist) or len(hist) >= WARM_MAX):
                    live[kind] = True
                    self.warm_calls[kind] = len(hist) - 1
                if live[kind] and dt is not None:
                    target.append(dt)
                elif dt is not None:
                    pending[kind] = (dt, target)
                if kind == "lookup":
                    untraced = not untraced
        self.tracer.enabled = False
        self.recording = False
        missing = [k for k in KINDS if not self.times[k]] + (
            [] if self.encodes else ["encode in the loop"]
        )
        if missing:
            raise RuntimeError(f"no timed call of {missing} within the run")

    # ---- results -------------------------------------------------------------

    def end_to_end(self, build_s: float) -> dict:
        med = statistics.median
        mb = self.wl.nbytes / 1e6
        setup_times = [build_s] + [e["s"] for e in self.encodes[: SETUP_REPS - 1]]
        print(
            f"perfbench: lookup_tail_ms is p{100 * TAIL_Q:.0f} of "
            f"{len(self.times['lookup'])} lookups"
        )
        return {
            "setup_s": (med(setup_times), "s"),
            "encode_mb_s": (mb / med(self.times["encode"]), "MB/s"),
            "decode_mb_s": (mb / med(self.times["scan"]), "MB/s"),
            "stored_bytes_ratio": (
                med([e["stored"] for e in self.encodes]) / self.wl.nbytes, "ratio",
            ),
            "lookup_p50_ms": (1000 * med(self.times["lookup"]), "ms"),
            "lookup_tail_ms": (1000 * tail(self.times["lookup"]), "ms"),
            "range_p50_ms": (1000 * med(self.times["range"]), "ms"),
            "count_p50_ms": (1000 * med(self.times["count"]), "ms"),
            "worker_rss_mb": (self.rss.peak_kb / 1024, "MB"),
        }

    def per_layer(self) -> tuple[dict, bool]:
        from tracing import layer_profile, ledger_metrics

        from workloads import BATCH_ROWS

        med = statistics.median
        out, ok = layer_profile(self.wl.table, BATCH_ROWS)
        led = [ledger_metrics(e["ledger"], e["s"], self.slots) for e in self.encodes]
        for k, (_, unit) in led[0].items():
            out[k] = (med(d[k][0] for d in led), unit)
        out["storage.files_per_encode"] = (med(e["files"] for e in self.encodes), "count")
        out["zonemap.count.groups_mixed"] = (
            med(d["n_mixed"] for d in self.counts), "count",
        )
        out["zonemap.count.rows_from_metadata_share"] = (
            med(d["rows_from_metadata"] / d["n"] for d in self.counts if d["n"]),
            "ratio",
        )
        tr = self.tracer
        out["lineage.resume_check_ms"] = (tr.span_ms("lineage.resume_check", "encode"), "ms")
        out["zonemap.prune_ms"] = (tr.span_ms("zonemap.prune", "lookup"), "ms")
        out["decode.plan_ms"] = (tr.span_ms("decode.plan", "lookup"), "ms")
        out["trace.lookup_self_ms"] = (tr.self_ms("lookup"), "ms")
        jobs = tr.job_counts()
        for kind in KINDS:
            per_op = jobs.get(kind, [(0, 0, 0)])
            n_jobs = med(r[0] for r in per_op)
            out[f"pipeline.{kind}.jobs"] = (n_jobs, "count")
            out[f"pipeline.{kind}.stages"] = (med(r[1] for r in per_op), "count")
            out[f"pipeline.{kind}.tasks"] = (med(r[2] for r in per_op), "count")
            p50_ms = 1000 * med(self.times[kind])
            out[f"pipeline.{kind}.ms_per_job"] = (p50_ms / n_jobs if n_jobs else 0.0, "ms")
            out[f"warmup.{kind}.calls"] = (self.warm_calls[kind], "count")
        out["trace.overhead_pct"] = (
            100 * (med(self.times["lookup"]) / med(self.untraced_lookups) - 1), "%",
        )
        tr.dump(str(self.work.parent / f"trace-{self.args.workload}.json"))
        return out, ok

    def run(self) -> dict:
        traced = bool(self.args.trace)
        t0 = time.perf_counter()
        self.start()
        log("session up, input built", t0)
        t0 = time.perf_counter()
        build_s = self.setup()
        log(f"store built in {build_s:.2f} s", t0)
        t0 = time.perf_counter()
        self.warm_up(build_s)
        log("cold calls done", t0)
        from pyspark import SparkContext

        self.rss = RssSampler(SparkContext._gateway.proc.pid)
        self.rss.start()
        if traced:
            self.tracer.install()
        t0 = time.perf_counter()
        try:
            self.measure(traced)
        finally:
            self.tracer.uninstall()
            self.rss.stop()
        log(f"measured; warm-up calls {self.warm_calls}, {self.attempted} ops in all", t0)
        for kind, xs in self.times.items():
            ms = " ".join(f"{1000 * x:.0f}" for x in xs)
            print(f"perfbench: {kind} samples (ms): {ms}", file=sys.stderr)
        ok = True
        if traced:
            time.sleep(1.0)  # the listener bus reports the last jobs late
            metrics, ok = self.per_layer()
        else:
            metrics = self.end_to_end(build_s)
        for name, (v, unit) in metrics.items():
            print(f"perfbench: {name} = {v:.6g} {unit}")
        print(f"perfbench: error_rate = {self.failed / self.attempted:.6g} ratio")
        return {
            "correct": ok and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "orc_spark" / "__init__.py").is_file():
        print(f"perfbench: no orc_spark package under {ROOT}", file=sys.stderr)
        return 2
    if os.environ.get("MALLOC_MMAP_THRESHOLD_") != MALLOC_THRESHOLD:
        # glibc reads its tunables at start-up: restart this process
        # with them so the driver's collected tables obey them too
        os.environ["MALLOC_MMAP_THRESHOLD_"] = MALLOC_THRESHOLD
        os.environ["MALLOC_TRIM_THRESHOLD_"] = MALLOC_THRESHOLD
        os.execv(sys.executable, [sys.executable, __file__, *sys.argv[1:]])
    work = ROOT / ".perfbench_work" / str(os.getpid())
    prepare_env(work)
    sys.path[:0] = [str(ROOT), str(HERE)]
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
