#!/usr/bin/env python3
"""Benchmark for both halves of the engine: Singer ingest and queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see perfbench/README.md for
why each exists and which layer it stresses):

  ingest     a Singer sync through the listen loop (two append streams of
             RECORDs, a keyed stream of BATCH upserts into a preloaded
             table), then a bulk backfill through demux_singer_file
  query_mix  a fixed TPC-H + dedup query mix, cold pass then warm passes

One single-threaded closed-loop client drives each workload. The last
line of stdout is one JSON object ``{correct, attempted, failed,
metrics}``; with ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones from a separate traced pass.
Everything the run writes lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable, Iterator
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, TracedSpark, TracedWriter, job_stats, plan_phases_s  # noqa: E402

WORKLOADS = ("ingest", "query_mix")
SETUP_REPEATS = 5  # set-ups in the running JVM, after the first one that launches it
# query_mix: one group per family the roadmap optimises. Each group is a
# subset of its family: the whole catalog stays with bench.py.
QUERY_GROUPS = {
    "tpch": ("q1_pricing_summary", "q3_shipping_priority", "q6_revenue_forecast"),
    "dedup": ("join_interval_overlap",),
}
MIN_WARM_PASSES = 6
# ingest: one chunk (10k RECORDs and a BATCH) synced per CHUNK_SECONDS
# of --seconds, and one chunk file backfilled per FILE_SECONDS
CHUNK_SECONDS = 3
FILE_SECONDS = 2

# the summary lines printed above the result, by the names ROADMAP.md uses
REPORT_UNITS = {"records_per_s": "records/s", "sync_records_per_s": "records/s",
                "backfill_records_per_s": "records/s", "state_lag_p50_s": "s",
                "state_lag_samples": "samples", "records": "records",
                "space_amp": "stored parquet B / record JSON B",
                "sync_cpu_ms_per_record": "CPU ms", "backfill_cpu_ms_per_record": "CPU ms",
                "tpch_cpu_ms_per_query": "CPU ms", "dedup_cpu_ms_per_query": "CPU ms",
                "cold_s": "s", "cold_cpu_s": "CPU s", "first_setup_s": "s", "setup_wall_s": "s",
                "first_setup_cpu_s": "CPU s",
                "query_warm_total_s": "s", "query_cold_total_s": "s", "query_warm_p50_s": "s",
                "warm_passes": "passes", "queries": "queries", "setup_s": "CPU s",
                "peak_rss_mb": "MB", "failed_frac": "failed / attempted"}
# Every workload reports every gated metric. The two CPU figures are
# the workload's two paths: ingest's sync and backfill (CPU ms per
# record), query_mix's tpch and dedup groups (CPU ms per query run).
E2E_UNITS = {"setup_s": "s", "first_setup_cpu_s": "s", "sync_or_tpch_cpu_ms": "ms",
             "backfill_or_dedup_cpu_ms": "ms", "cold_cpu_s": "s"}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


# -- start-up --------------------------------------------------------------

def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if not 0 < args.seconds <= 600:
        ap.error("--seconds must be in (0, 600]")
    return args


def host_env(run_dir: str) -> dict[str, str]:
    """The engine's environment for this run, validated up front so a
    bad value fails in seconds rather than after the run."""
    env: dict[str, str] = {}
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if not cpus.isdigit() or int(cpus) < 1:
        raise SystemExit(f"SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}")
    env["SPARK_GRAFT_CPUS"] = cpus
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        # an eighth of the host, at most 2g: the inputs are small and the
        # host is shared
        mem = f"{max(1, min(2, total_kb // (8 * 1024 * 1024)))}g"
    if not re.fullmatch(r"[1-9][0-9]*[mMgG]", mem):
        raise SystemExit(f"SPARK_GRAFT_DRIVER_MEM must look like 2g or 1500m, got {mem!r}")
    env["SPARK_GRAFT_DRIVER_MEM"] = mem
    # per-run isolation: fresh cache root (sim_* queries persist an IVF
    # index there) and temp dirs inside the checkout
    env["SPARK_GRAFT_CACHE_ROOT"] = os.path.join(run_dir, "cache")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM started (spark-submit's launcher and the driver) keeps its
    # temp files in the run directory and writes no /tmp/hsperfdata file
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    for d in ("cache", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    return env


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of this
    process and every live process below it: the JVM, the Python
    workers Spark forks."""
    ticks = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(f) for f in fields[11:15])
    me = os.getpid()

    def under(pid: int) -> bool:
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 1)
        return False

    return sum(c for pid, c in cpu.items() if under(pid)) / ticks


class Window:
    """Wall and CPU seconds of a timed window, less the checks run in it.
    CPU counts this process and everything below it (JVM, workers)."""

    def __init__(self, bench: "Bench"):
        self.bench = bench

    def __enter__(self) -> "Window":
        self.p0, self.pc0 = self.bench.paused, self.bench.paused_cpu
        self.c0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0 - (self.bench.paused - self.p0)

    def __exit__(self, *exc: object) -> None:
        self.wall = self.elapsed()
        self.cpu = tree_cpu_s() - self.c0 - (self.bench.paused_cpu - self.pc0)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pctl(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


# -- the run ---------------------------------------------------------------

class Bench:
    """State of one benchmark run: session, tracer, counters."""

    def __init__(self, args: argparse.Namespace, root: str, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.inputs_root = os.path.join(root, ".perfbench", "inputs")
        os.makedirs(self.inputs_root, exist_ok=True)
        self.spark: Any = None
        self.tracer = Tracer(False, f"{args.workload}-s{args.seed}")
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict[str, Any] = {}  # figures for the summary lines
        self.setup_samples: list[float] = []  # wall seconds
        self.setup_cpu: list[float] = []  # CPU seconds
        self.session_samples: list[float] = []
        self._ctx_seq = 0
        # wall and CPU seconds spent in checks, ever increasing; timed
        # windows subtract what accrued inside them
        self.paused = 0.0
        self.paused_cpu = 0.0

    # -- bookkeeping --------------------------------------------------------
    def op(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED {name}: {detail}")
        return ok

    def checked(self, name: str, fn: Callable[[], Any]) -> Any:
        """Run a check outside the clock: its wall and CPU time are
        subtracted from the timed window it interrupts and, when tracing,
        its span is a child that no layer's self time includes."""
        t0, c0 = time.perf_counter(), time.process_time()
        try:
            with self.tracer.span(f"check.{name}", job_group=False):
                return fn()
        finally:
            self.paused += time.perf_counter() - t0
            self.paused_cpu += time.process_time() - c0

    # -- session ------------------------------------------------------------
    def start_session(self) -> None:
        from target_iceberg_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the UI's REST API serves the traced run's job counts; the
            # untraced run saves its start-up and listener cost
            "spark.ui.enabled": "true" if self.args.trace else "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
        })
        self.session_samples.append(time.perf_counter() - t0)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark and the JVM it started, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone; the JVM still is waited for
            pass
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def setup(self, build: Callable[[], Any]) -> Any:
        """One set-up: session start + ``build``, wall and CPU timed."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        self.start_session()
        ctx = build()
        self.setup_samples.append(time.perf_counter() - t0)
        self.setup_cpu.append(tree_cpu_s() - c0)
        return ctx

    def first_setup(self, build: Callable[[], Any]) -> Any:
        """The first set-up, whose session start launches the JVM: its
        CPU time is ``first_setup_cpu_s``, its wall time ``first_setup_s``."""
        ctx = self.setup(build)
        self.e2e["first_setup_cpu_s"] = self.setup_cpu[0]
        self.report["first_setup_s"] = self.setup_samples[0]
        self.layer["session.launch_s"] = self.session_samples[0]
        log(f"first setup {self.setup_samples[0]:.2f}s, {self.setup_cpu[0]:.2f} CPU s")
        return ctx

    def repeat_setups(self, build: Callable[[], Any]) -> Any:
        """SETUP_REPEATS more set-ups in the running JVM: the median of
        their CPU times is ``setup_s``. CPU, like the other gated
        figures: their wall time rose by half whenever the shared host
        was busy."""
        ctx = None
        for _ in range(SETUP_REPEATS):
            ctx = self.setup(build)
        log(f"setups done: {[round(x, 2) for x in self.setup_samples]} s, "
            f"{[round(x, 2) for x in self.setup_cpu]} CPU s")
        self.e2e["setup_s"] = median(self.setup_cpu[1:])
        self.report["setup_wall_s"] = median(self.setup_samples[1:])
        self.layer["session.start_s"] = median(self.session_samples[1:])
        return ctx

    def new_dir(self, label: str) -> str:
        self._ctx_seq += 1
        d = os.path.join(self.run_dir, f"{label}{self._ctx_seq}")
        os.makedirs(d)
        return d

    def finish(self) -> None:
        py, jvm = vm_hwm_mb("self"), vm_hwm_mb(self.jvm_pid())
        log(f"VmHWM python {py:.0f} MB, jvm {jvm:.0f} MB")
        self.e2e["peak_rss_mb"] = py + jvm

    def enable_tracing(self) -> Tracer:
        self.tracer = Tracer(True, self.tracer.run_id, self.spark.sparkContext)
        return self.tracer


# -- ingest ------------------------------------------------------------------

class StateSink:
    """The ``state_out`` stream handed to ``build_target``: records when
    each STATE line is re-emitted and runs the durability check."""

    def __init__(self, on_state: Callable[[dict, float], None]):
        self._buf = ""
        self._on_state = on_state

    def write(self, s: str) -> int:
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            if line.strip():
                self._on_state(json.loads(line), time.perf_counter())
        return len(s)

    def flush(self) -> None:
        pass


class IngestCtx:
    """One target over one fresh warehouse, plus what was fed into it."""

    def __init__(self, bench: Bench, namespace: str, cfg: dict):
        from target_iceberg_spark.__main__ import build_target

        self.bench = bench
        self.warehouse = bench.new_dir("wh")
        self.namespace = namespace
        self.fed: list[int] = []  # pool index of every chunk fed, in order
        self.state_reads: list[float] = []
        self.state_emits: list[float] = []
        self.on_state: Callable[[int], None] = lambda i: None
        self.target = build_target(
            bench.spark,
            {**cfg, "warehouse": self.warehouse, "iceberg_catalog_namespace_name": namespace},
            StateSink(self._emitted), mode="parquet")

    def _emitted(self, state: dict, t: float) -> None:
        self.state_emits.append(t)
        i = len(self.state_emits) - 1
        self.bench.checked("state", lambda: self.on_state(i))

    def table_dir(self, stream: str) -> str:
        return os.path.join(self.warehouse, self.namespace, stream)

    def install_tracer(self, tracer: Tracer) -> None:
        t = self.target
        t.writer = TracedWriter(t.writer, tracer)
        t.spark = TracedSpark(t.spark, tracer)
        # no job group per line: that is one JVM call per line, and the
        # jobs a line starts run inside the writer and hand-off spans
        line_span = tracer.wrap(t.process_line, "singer.process_line", job_group=False)
        batch_span = tracer.wrap(t.process_line, "bulk.batch")
        t.process_line = lambda line: (batch_span if line.startswith('{"type": "BATCH"')
                                       else line_span)(line)

    def lags(self) -> list[float]:
        return [e - r for r, e in zip(self.state_reads, self.state_emits)]


def feed(ctx: IngestCtx, inputs: dict, chunks: int) -> Iterator[str]:
    """The header, then per chunk its RECORD lines, one BATCH message
    naming its keyed file, and its STATE, for ``chunks`` chunks cycling
    through the pool; then the ACTIVATE_VERSION that closes the sync."""
    with open(inputs["header"]) as fh:
        header = fh.readlines()
    yield from header
    c = 0
    while True:
        pool = c % len(inputs["chunks"])
        with open(inputs["chunks"][pool]) as fh:
            lines = fh.readlines()
        yield from lines[:-1]
        yield json.dumps({"type": "BATCH", "stream": gen.KEYED_STREAM,
                          "encoding": {"format": "jsonl"},
                          "manifest": [f"file://{inputs['keyed'][pool]}"]}) + "\n"
        c += 1
        ctx.fed.append(pool)
        ctx.state_reads.append(time.perf_counter())
        yield lines[-1]
        if c == chunks:
            yield header[-1]  # the sync's ACTIVATE_VERSION, again: retire older versions
            return


def sync(bench: Bench, ctx: IngestCtx, inputs: dict, chunks: int) -> Window:
    """Feed ``chunks`` chunks through ``target.run``, timed from the
    first line to the return of ``run``, checks excluded."""
    with Window(bench) as w:
        ctx.target.run(feed(ctx, inputs, chunks))
    log(f"sync: {len(ctx.fed)} chunks in {w.wall:.2f}s, {w.cpu:.2f} CPU s")
    return w


def backfill(bench: Bench, ctx: IngestCtx, inputs: dict, files: int) -> Window:
    """``files`` chunk files through demux_singer_file +
    StreamWriter.append, one file at a time."""
    from target_iceberg_spark.sources.singer import demux_singer_file

    schemas = {s: inputs["meta"]["schemas"][s] for s in gen.APPEND_STREAMS}
    with Window(bench) as w:
        for i in range(files):
            pool = i % len(inputs["chunks"])
            with bench.tracer.span("bulk.demux"):
                for s, df in demux_singer_file(bench.spark, inputs["chunks"][pool], schemas).items():
                    ctx.target.writer.append(df, s)
            ctx.fed.append(pool)
            bench.checked("backfill", lambda: ctx.on_state(i))
    log(f"backfill: {len(ctx.fed)} files in {w.wall:.2f}s, {w.cpu:.2f} CPU s")
    return w


def cumulative(meta: dict, fed: list[int], upto: int, stream: str) -> tuple[int, int]:
    n = s = 0
    for pool in fed[: upto + 1]:
        m = meta["chunks"][pool][stream]
        n += m["count"]
        s += m["seq_sum"]
    return n, s


def fed_records(inputs: dict, ctx: IngestCtx, streams: tuple[str, ...]) -> int:
    return sum(cumulative(inputs["meta"], ctx.fed, len(ctx.fed) - 1, s)[0] for s in streams)


def append_check(bench: Bench, ctx: IngestCtx, inputs: dict, con: Any) -> Callable[[int], None]:
    """After the i-th chunk: every append-stream record of chunks
    fed[0..i] is in the table, and nothing else."""
    import checks

    def check(i: int) -> None:
        for s in gen.APPEND_STREAMS:
            want = cumulative(inputs["meta"], ctx.fed, i, s)
            got = checks.table_count_seq(con, ctx.table_dir(s))
            bench.op(f"{ctx.namespace}[{i}].{s}", got == want,
                     f"table (rows, sum seq) {got} != fed {want}")

    return check


def upsert_check(bench: Bench, ctx: IngestCtx, inputs: dict, t: gen.Traffic,
                 con: Any) -> Callable[[int], None]:
    """After the i-th chunk: the keyed table holds, for every key fed so
    far, its last record (count and sum of seq over this sync's rows),
    and the preloaded row of every other key."""
    import checks

    last: dict[int, int] = {}
    done = [0]

    def check(i: int) -> None:
        for pool in ctx.fed[done[0]: i + 1]:
            for key, seq in inputs["meta"]["chunks"][pool][gen.KEYED_STREAM]["keys"]:
                last[key] = seq
        done[0] = i + 1
        table = ctx.table_dir(gen.KEYED_STREAM)
        want = (len(last), sum(last.values()))
        got = checks.table_count_seq(con, table, f"_sdc_table_version = {t.version}")
        bench.op(f"{ctx.namespace}[{i}].{gen.KEYED_STREAM}", got == want,
                 f"rows of this sync (n, sum seq) {got} != {want}")
        rows = t.preload_rows + sum(1 for k in last if k >= t.preload_rows)
        total = checks.table_count_seq(con, table)[0]
        bench.op(f"{ctx.namespace}[{i}].{gen.KEYED_STREAM}.rows", total == rows,
                 f"{total} rows, expected {rows}")

    return check


def preload(bench: Bench, ctx: IngestCtx, t: gen.Traffic) -> None:
    """Rows of an earlier sync (table version ``t.version - 1``), written
    with plain Spark, not through the writer."""
    import pyspark.sql.functions as F

    h = F.abs(F.hash(F.lit(bench.args.seed), F.col("id")))
    ts = F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
    df = bench.spark.range(0, t.preload_rows, 1, 4).select(
        F.col("id"),
        (-1 - F.col("id")).alias("seq"),
        F.concat(F.lit("pre-"), F.col("id").cast("string")).alias("name"),
        ((h % 5_000_000) / 100.0).alias("balance"),
        F.element_at(F.array(F.lit("active"), F.lit("frozen")), (h % 2 + 1).cast("int")).alias("status"),
        ts.alias("updated_at"),
        F.struct(F.lit("free").alias("tier"), (h % 50).alias("seats")).alias("plan"),
        F.array(F.lit("legacy")).alias("labels"),
        ts.alias("_sdc_extracted_at"), ts.alias("_sdc_received_at"), ts.alias("_sdc_batched_at"),
        F.lit(None).cast("timestamp").alias("_sdc_deleted_at"),
        F.lit(0).cast("long").alias("_sdc_sequence"),
        F.lit(t.version - 1).cast("long").alias("_sdc_table_version"),
    )
    df.write.mode("overwrite").parquet(ctx.table_dir(gen.KEYED_STREAM))


def record_json_bytes(inputs: dict, ctx: IngestCtx, keyed: bool) -> int:
    """Bytes of the records fed: RECORD lines, plus BATCH file lines."""
    total = 0
    for pool in ctx.fed:
        with open(inputs["chunks"][pool], "rb") as fh:
            total += sum(len(line) for line in fh if line.startswith(b'{"type": "RECORD"'))
        if keyed:
            total += os.path.getsize(inputs["keyed"][pool])
    return total


def ingest(bench: Bench) -> None:
    """A Singer sync through the listen loop, then a bulk backfill.

    The sync interleaves RECORDs of two append streams with BATCH
    manifests of a keyed, skewed stream that upserts into a preloaded
    table, between two ACTIVATE_VERSIONs. The backfill runs the append
    streams' files through demux."""
    import checks

    args = bench.args
    t = gen.INGEST
    inputs = gen.singer_inputs(bench.inputs_root, t, args.seed)
    streams = (*gen.APPEND_STREAMS, gen.KEYED_STREAM)
    con = checks.connect()
    cfg = {"upsert_on_keys": True, "add_record_metadata": True}

    def build(inp: dict) -> tuple[IngestCtx, IngestCtx]:
        s = IngestCtx(bench, "sync", cfg)
        preload(bench, s, t)
        b = IngestCtx(bench, "backfill", {})
        append_rows, upsert_rows = append_check(bench, s, inp, con), upsert_check(bench, s, inp, t, con)
        s.on_state = lambda i: (append_rows(i), upsert_rows(i))
        b.on_state = append_check(bench, b, inp, con)
        return s, b

    def both(s: IngestCtx, b: IngestCtx, inp: dict, chunks: int, files: int) -> tuple[Window, Window]:
        # the backfill first: its CPU per record is a third of the sync's,
        # so the JIT and GC work a sync leaves behind would weigh on it
        wb = backfill(bench, b, inp, files)
        return sync(bench, s, inp, chunks), wb

    # A fixed amount of work, scaled by --seconds: a time box would let
    # the host's speed decide how many chunks share the sync's fixed
    # costs, and so move the cost per record.
    chunks = math.ceil(args.seconds / CHUNK_SECONDS)
    n_files = math.ceil(args.seconds / FILE_SECONDS)
    # cold: one chunk synced and one file backfilled through the first
    # set-up's targets, the first work of the fresh JVM. It also warms the
    # JIT: set-ups repeated before it each ran faster than the one before.
    cs, cb = both(*bench.first_setup(lambda: build(inputs)), inputs, 1, 1)
    s, b = bench.repeat_setups(lambda: build(inputs))
    ws, wb = both(s, b, inputs, chunks, n_files)
    ns, nb = fed_records(inputs, s, streams), fed_records(inputs, b, gen.APPEND_STREAMS)
    rps = (ns + nb) / (ws.wall + wb.wall)
    lags = s.lags()
    bench.e2e["sync_or_tpch_cpu_ms"] = ws.cpu * 1000 / ns
    bench.e2e["backfill_or_dedup_cpu_ms"] = wb.cpu * 1000 / nb
    bench.e2e["cold_cpu_s"] = cs.cpu + cb.cpu
    bench.report.update(records_per_s=rps, sync_records_per_s=ns / ws.wall,
                        backfill_records_per_s=nb / wb.wall, state_lag_p50_s=median(lags),
                        state_lag_samples=len(lags), records=ns + nb,
                        sync_cpu_ms_per_record=bench.e2e["sync_or_tpch_cpu_ms"],
                        backfill_cpu_ms_per_record=bench.e2e["backfill_or_dedup_cpu_ms"],
                        cold_s=cs.wall + cb.wall, cold_cpu_s=cs.cpu + cb.cpu)

    for ctx in (s, b):
        files = [inputs["chunks"][p] for p in ctx.fed]
        for st in gen.APPEND_STREAMS:
            schema = inputs["meta"]["schemas"][st]
            want = checks.expected_from_singer(con, files, st, schema)
            got = checks.actual_from_table(con, ctx.table_dir(st), schema)
            bench.op(f"content.{ctx.namespace}.{st}", got == want, f"table {got} != expected {want}")
    schema = inputs["meta"]["schemas"][gen.KEYED_STREAM]
    want = checks.expected_from_singer(con, [inputs["keyed"][p] for p in s.fed], None, schema,
                                       last_per_key="id", extra=(f"{t.version}::BIGINT",))
    got = checks.actual_from_table(con, s.table_dir(gen.KEYED_STREAM), schema,
                                   extra=("_sdc_table_version::BIGINT",))
    bench.op(f"content.sync.{gen.KEYED_STREAM}", got == want, f"table {got} != expected {want}")
    stored = files = 0
    for ctx, sts in ((s, streams), (b, gen.APPEND_STREAMS)):
        for st in sts:
            nbytes, nfiles = checks.parquet_bytes(ctx.table_dir(st))
            stored += nbytes
            files += nfiles
    json_bytes = record_json_bytes(inputs, s, True) + record_json_bytes(inputs, b, False)
    bench.report["space_amp"] = stored / json_bytes

    if args.trace:
        s2, b2 = build(inputs)
        tracer = bench.enable_tracing()
        s2.install_tracer(tracer)
        b2.install_tracer(tracer)
        before = job_stats(bench.spark.sparkContext)
        wb2 = backfill(bench, b2, inputs, n_files)
        backfilled = job_stats(bench.spark.sparkContext)
        ws2 = sync(bench, s2, inputs, chunks)
        after = job_stats(bench.spark.sparkContext)
        n2 = fed_records(inputs, s2, streams) + fed_records(inputs, b2, gen.APPEND_STREAMS)
        L = bench.layer
        ingest_layers(bench, tracer, n2, ws2.wall + wb2.wall, after)
        # the backfill writes through the writer directly, so only the
        # sync's target counts batches
        batches = sum(st.batches_written for st in s2.target.streams.values())
        L["singer.records_per_batch"] = fed_records(inputs, s2, streams) / batches
        lines = 0
        for pool in b2.fed:
            with open(inputs["chunks"][pool], "rb") as fh:
                lines += sum(1 for _ in fh)
        demux_jobs = (sum(g["jobs"] for g in backfilled.values())
                      - sum(g["jobs"] for g in before.values()))
        L["bulk.batch.s"] = tracer.total("bulk.batch")
        L["bulk.handoff.calls"] = tracer.count_under("handoff", {"bulk.batch", "bulk.demux"})
        L["bulk.demux.s"] = tracer.total("bulk.demux")
        L["bulk.jobs"] = demux_jobs + sum(after.get(g, {}).get("jobs", 0)
                                          for g in ("bulk.batch", "writer.upsert"))
        L["bulk.input_scans"] = (sum(g["input_records"] for g in backfilled.values())
                                 - sum(g["input_records"] for g in before.values())) / lines
        L["writer.space_amp"] = stored / json_bytes
        L["writer.files"] = files
        L["trace.overhead_pct"] = (rps / (n2 / (ws2.wall + wb2.wall)) - 1) * 100
    con.close()


def ingest_layers(bench: Bench, tracer: Tracer, records: int, wall: float, stats: dict) -> None:
    L = bench.layer
    L["singer.self_s"] = tracer.self_time("singer.process_line")
    L["handoff.s"] = tracer.total("handoff")
    L["handoff.calls"] = tracer.counts["handoff.calls"]
    L["handoff.rows"] = tracer.counts["handoff.rows"]
    for m in ("append", "upsert", "delete_where", "read"):
        L[f"writer.{m}.s"] = tracer.total(f"writer.{m}")
    L["writer.append.calls"] = len(tracer.durations("writer.append"))
    L["writer.upsert.p90_s"] = pctl(tracer.durations("writer.upsert"), 0.9)
    writer_groups = [g for g in stats if g.startswith("writer.")]
    L["writer.jobs"] = sum(stats[g]["jobs"] for g in writer_groups)
    L["writer.bytes_written_per_record"] = sum(stats[g]["output_bytes"] for g in writer_groups) / records
    L["trace.covered_share"] = tracer.top_level_s() / wall
    L["trace.records"] = records
    L["trace.wall_s"] = wall


# -- queries -------------------------------------------------------------------

def query_mix(bench: Bench) -> None:
    import checks
    from target_iceberg_spark.plans import all_specs

    args = bench.args
    fixture = gen.query_tables(bench.inputs_root, args.seed)
    specs = all_specs()
    names = [(g, n) for g, ns in QUERY_GROUPS.items() for n in ns]
    con = checks.connect()
    checks.register_fixture(con, fixture)
    expected = {n: checks.oracle_result(con, specs[n].oracle) for _, n in names}
    con.close()

    bench.first_setup(lambda: None)
    # restarts here, not after the cold pass: a restart costs the next
    # pass much of what the cold pass warmed up
    bench.repeat_setups(lambda: None)
    builders = {n: specs[n].builder for _, n in names}

    def one(g: str, n: str, collect: bool = False) -> float:
        """Build and run one query; time both. ``collect``: fetch the
        result and check it against the oracle (after the clock stops)
        instead of running it into the noop sink."""
        t0 = time.perf_counter()
        try:
            df = builders[n](bench.spark, fixture)
            if bench.tracer.enabled:
                with bench.tracer.span(f"plans.{g}.plan", job_group=False):
                    bench.layer[f"plans.{g}.plan_s"] += plan_phases_s(df)
            with bench.tracer.span(f"plans.{g}.exec"):
                if collect:
                    result = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        except Exception:
            bench.op(n, False, traceback.format_exc())
            return float("nan")
        if not collect:
            bench.op(n, True)
            return dt
        bench.checked("result", lambda: check_result(n, result))
        return dt

    def check_result(n: str, result: Any) -> None:
        got = checks.canonical(result)
        bench.op(n, got == expected[n], f"{len(got[1])} rows {got[0]} differ from the "
                                        f"oracle's {len(expected[n][1])} rows {expected[n][0]}")

    def warm_passes(seconds: float) -> tuple[dict[str, list[float]], dict[str, list[float]]]:
        """Per query its warm wall times, and per group the CPU seconds
        of its queries in each pass."""
        times: dict[str, list[float]] = {n: [] for _, n in names}
        cpu: dict[str, list[float]] = {g: [] for g in QUERY_GROUPS}
        passes = 0
        t0 = time.perf_counter()
        while passes < MIN_WARM_PASSES or time.perf_counter() - t0 < seconds:
            for g, group in QUERY_GROUPS.items():
                with Window(bench) as w:
                    for n in group:
                        times[n].append(one(g, n))
                cpu[g].append(w.cpu)
            passes += 1
        return times, cpu

    # the cold pass fetches every result, which the oracle check needs;
    # the results are a few rows each, so fetching costs what the noop
    # sink would
    with Window(bench) as cold:
        cold_times = {n: one(g, n, collect=True) for g, n in names}
    log(f"cold pass {cold.wall:.2f}s, {cold.cpu:.2f} CPU s: "
        f"{({n: round(v, 2) for n, v in cold_times.items()})}")
    warm, pass_cpu = warm_passes(args.seconds)
    # steady state: the later half of the passes (the first warm passes
    # still pay for late JIT compilation)
    per_query = {n: median(ts[len(ts) // 2:]) for n, ts in warm.items()}
    total = sum(per_query.values())
    log(f"warm passes: CPU s {({g: [round(x, 2) for x in c] for g, c in pass_cpu.items()})}, "
        f"total {total:.2f}s: "
        f"{({n: [round(x, 2) for x in v] for n, v in warm.items()})}")
    # per group, the mean of the later passes: a single query's CPU in one
    # pass also carries whatever JIT and GC work the JVM does meanwhile
    cpu_ms = {g: statistics.mean(c[len(c) // 2:]) * 1000 / len(QUERY_GROUPS[g])
              for g, c in pass_cpu.items()}
    bench.e2e["sync_or_tpch_cpu_ms"] = cpu_ms["tpch"]
    bench.e2e["backfill_or_dedup_cpu_ms"] = cpu_ms["dedup"]
    bench.e2e["cold_cpu_s"] = cold.cpu
    bench.report.update(query_warm_total_s=total, query_cold_total_s=cold.wall,
                        query_warm_p50_s=median(list(per_query.values())),
                        warm_passes=len(pass_cpu["tpch"]), queries=len(per_query),
                        tpch_cpu_ms_per_query=cpu_ms["tpch"],
                        dedup_cpu_ms_per_query=cpu_ms["dedup"], cold_cpu_s=cold.cpu)

    if args.trace:
        tracer = bench.enable_tracing()
        for g, n in names:
            builders[n] = tracer.wrap(specs[n].builder, f"plans.{g}.build")
        for g in QUERY_GROUPS:
            bench.layer[f"plans.{g}.plan_s"] = 0.0
        with Window(bench) as tw:
            traced, _ = warm_passes(args.seconds)
        stats = job_stats(bench.spark.sparkContext)
        passes = len(traced[names[0][1]])
        L = bench.layer
        for g in QUERY_GROUPS:
            build, exe = stats.get(f"plans.{g}.build", {}), stats.get(f"plans.{g}.exec", {})
            L[f"plans.{g}.build_s"] = tracer.total(f"plans.{g}.build") / passes
            L[f"plans.{g}.plan_s"] /= passes
            L[f"plans.{g}.exec_s"] = tracer.total(f"plans.{g}.exec") / passes
            L[f"plans.{g}.build_jobs"] = build.get("jobs", 0) / passes
            L[f"plans.{g}.exec_jobs"] = exe.get("jobs", 0) / passes
            L[f"plans.{g}.tasks"] = (build.get("tasks", 0) + exe.get("tasks", 0)) / passes
            L[f"plans.{g}.shuffle_bytes"] = (
                build.get("shuffle_bytes", 0) + exe.get("shuffle_bytes", 0)) / passes
        t_total = sum(median(ts[len(ts) // 2:]) for ts in traced.values())
        L["trace.overhead_pct"] = (t_total / total - 1) * 100
        L["trace.covered_share"] = tracer.top_level_s() / tw.wall
        L["trace.wall_s"] = tw.wall


# -- output --------------------------------------------------------------------

def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "target_iceberg_spark", "__init__.py")):
        log(f"no target_iceberg_spark package in {root}: run from the root of a checkout")
        return 2
    if not os.path.isfile(os.path.join(HERE, "..", "BENCHMARK.json")):
        log("BENCHMARK.json not found next to perfbench/")
        return 2
    run_dir = os.path.join(root, ".perfbench", "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.environ.update(host_env(run_dir))
    sys.path.insert(0, root)

    bench = Bench(args, root, run_dir)
    crashed = False
    try:
        {"ingest": ingest, "query_mix": query_mix}[args.workload](bench)
    except Exception:
        crashed = True
        bench.op(args.workload, False, traceback.format_exc())
    finally:
        if bench.spark is not None and not crashed:
            bench.finish()
        if bench.tracer.enabled:
            trace_dir = os.path.join(root, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            bench.tracer.dump(os.path.join(trace_dir, f"{bench.tracer.run_id}-{os.getpid()}.jsonl"))
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {n: {"value": float(bench.layer.get(n, 0.0)), "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": float(bench.e2e.get(n, 0.0)), "unit": u} for n, u in E2E_UNITS.items()}
    r = bench.report
    summary = {
        "workload": args.workload, "seed": args.seed,
        **{k: round(v, 6) if isinstance(v, float) else v for k, v in r.items()},
        "setup_s": bench.e2e.get("setup_s"), "first_setup_cpu_s": bench.e2e.get("first_setup_cpu_s"),
        "peak_rss_mb": bench.e2e.get("peak_rss_mb"),
        "failed_frac": bench.failed / max(1, bench.attempted),
    }
    for k, v in summary.items():
        print(f"{k:>28} {v} {REPORT_UNITS.get(k, '')}".rstrip())
    correct = not crashed and bench.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, bench.attempted),
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
