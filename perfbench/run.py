"""Benchmark driver for gmall_flink_20_spark.

    python3 perfbench/run.py --workload events_batch --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed`` (three times, checking the
files are byte-identical), starts one SparkSession on ``local[nproc]``,
runs one untimed warm-up pass whose results are checked against the
DuckDB oracles, then runs whole passes -- every entry of the workload
back to back, one client, each result materialised with ``toPandas()``
-- two at least and more until ``--seconds`` have elapsed. Row counts
are checked on every run.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also turns on
the Spark event log, gives every query call a fresh job group, patches
timing wrappers onto the package's layer functions and listens to the
streaming progress; it prints the per-layer metrics (per traced pass)
and writes the span ledger to ``.perfbench/ledger/``. Its
``trace.overhead_ratio`` compares the traced passes with the untraced
passes they alternate with.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the
run writes goes under ``.perfbench/`` in the checkout; the work
directory is removed on exit. Before it exits, on every path, the run
stops the session and its JVM and waits until every process it started
(the JVM, the Python workers) has ended.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(1, str(ROOT))

import gen  # noqa: E402
from proc import descendants, end_processes, jit_cpu_s, jit_delta, peak_rss_mb, tree_cpu_s  # noqa: E402
from stats import median, percentile  # noqa: E402
from workloads import ALL_QUERIES, WORKLOADS  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "input_rows_per_cpu_s": "rows/cpu-s",
    "query_cpu_s.p50": "s",
    "query_cpu_s.p90": "s",
    "heap_live_mb": "MB",
    "py_peak_rss_mb": "MB",
}

_STREAM_DURATIONS = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
}

PER_LAYER_UNITS = {
    "trace.overhead_ratio": "ratio",
    "wall.input_rows_per_s": "rows/s",
    "wall.query_s.p50": "s",
    "wall.query_s.p90": "s",
    "jit.cpu_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "io.load_table.calls": "count",
    "io.load_table.s": "s",
    "queries.plan_s": "s",
    "collect.s": "s",
    "result.rows": "count",
    "result.bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs_unattributed": "count",
    "driver.residual_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "scan.input_bytes": "bytes",
    "replay.stage_s": "s",
    "replay.sentinel_s": "s",
    "replay.run_s": "s",
    "stream.batches": "count",
    "stream.empty_batches": "count",
    **{k: "ms" for k in _STREAM_DURATIONS},
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "microbatch_ms.p50": "ms",
    "microbatch_ms.p90": "ms",
    "index.append_s": "s",
    "index.compact_s": "s",
    "index.query_s": "s",
    "index.files_written": "count",
    "index.bytes_written": "bytes",
    "io_sinks.run_concurrently.s": "s",
    **{f"query.{q}.s": "s" for q in ALL_QUERIES},
    **{f"query.{q}.jobs": "count" for q in ALL_QUERIES},
}

# (module, attribute, layer, index-dir argument position) -- the module
# attribute each caller looks up at call time
_WRAPS = (
    ("gmall_flink_20_spark.io", "load_table", "io", None),
    ("gmall_flink_20_spark.queries", "load_table", "io", None),
    ("gmall_flink_20_spark.streaming.replay", "replay_stream", "replay", None),
    ("gmall_flink_20_spark.streaming.replay", "sentinel_pair", "replay", None),
    ("gmall_flink_20_spark.streaming.replay", "run_to_completion", "replay", None),
    ("gmall_flink_20_spark.operators.dedup", "lsh_index_append", "index.append", 1),
    ("gmall_flink_20_spark.operators.dedup", "lsh_index_append_atomic", "index.append", 1),
    ("gmall_flink_20_spark.operators.dedup", "lsh_index_compact", "index.compact", 1),
    ("gmall_flink_20_spark.operators.dedup", "lsh_index_compact_incremental", "index.compact", 1),
    ("gmall_flink_20_spark.operators.dedup", "lsh_index_query_incremental", "index.query", None),
    ("gmall_flink_20_spark.io_sinks", "run_concurrently", "concurrent", None),
)


# timed passes a run makes at least. The first pass after the cold one
# still runs partly compiled code, with a varying share of JIT work, so
# each entry counts at its best of two.
MIN_PASSES = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _digest(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def generate_inputs(work: Path, seed: int, sizes: dict, repeats: int = 3):
    """Generate ``repeats`` times; return (data dir, times, identical?)."""
    times, digests = [], []
    for i in range(repeats):
        d = work / f"data{i}"
        t0 = time.perf_counter()
        gen.generate(str(d), seed, **sizes)
        times.append(time.perf_counter() - t0)
        digests.append({p.name: _digest(p) for p in sorted(d.glob("*.parquet"))})
    for i in range(1, repeats):
        shutil.rmtree(work / f"data{i}")
    return work / "data0", times, all(x == digests[0] for x in digests)


def start_session(work: Path, trace: bool):
    from gmall_flink_20_spark.session import get_spark

    # only where Spark and the JVM write (no hsperfdata under /tmp); the
    # memory settings stay get_spark's
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.streaming.checkpointLocation": str(work / "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark=None) -> None:
    """Stop the session (if any), then the JVM behind it, and wait until
    every process below this one has ended. The JVM would otherwise only
    exit once this process had, by seeing its stdin close."""
    from pyspark import SparkContext

    t0 = time.perf_counter()
    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        procs.update(descendants(os.getpid()))
        stray = end_processes(procs)
        if stray:
            log(f"signalled processes that did not end on their own: {stray}")
        if procs:
            log(f"session and {len(procs)} processes stopped in {time.perf_counter() - t0:.2f}s")


def oracle_errors(results: dict, data: Path, work: Path) -> dict[str, str]:
    """Check each result against its DuckDB oracle; name -> error."""
    import duckdb

    from gmall_flink_20_spark.oracles import ORACLES
    from gmall_flink_20_spark.testing import assert_frames_match

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={nproc()}")
        con.execute(f"SET temp_directory='{work / 'duckdb'}'")
        for p in sorted(data.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        errors = {}
        for q, pdf in results.items():
            try:
                assert_frames_match(pdf, con.execute(ORACLES[q]).df(), q)
            except Exception as e:  # a mismatch or an oracle error fails the op
                errors[q] = f"{type(e).__name__}: {e}"
        return errors
    finally:
        con.close()


class Bench:
    """One workload in one SparkSession: passes, samples and failures."""

    def __init__(self, spark, data: Path, workload, tracer=None) -> None:
        from gmall_flink_20_spark.queries import QUERIES

        self.spark = spark
        self.data = str(data)
        self.workload = workload
        self.registry = QUERIES
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.expected_rows: dict[str, int] = {}
        self.checked: dict = {}  # warm-up results awaiting the oracle check
        self.call_seq = 0
        self.spans: list = []  # eventlog.Span per query call (trace mode)
        self.result = Counter()  # result.rows / result.bytes (traced passes)
        self.jit_s = Counter()  # JIT compiler CPU seconds per phase
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid

    def run_query(self, q: str, phase: str, group: bool):
        """Run one entry to a pandas frame; return (frame, wall seconds,
        CPU seconds of the driver, its JVM and the Python workers) or
        (None, None, None) on failure."""
        self.attempted += 1
        self.call_seq += 1
        sc = self.spark.sparkContext
        gid = f"perfbench-{self.call_seq}-{q}"
        if group:
            sc.setJobGroup(gid, f"{phase}:{q}")
        tr = self.tracer
        w0 = time.time()
        c0, j0 = tree_cpu_s(os.getpid()), jit_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            if tr is None:
                pdf = self.registry[q](self.spark, self.data).toPandas()
            else:
                tr.begin_query(q)
                try:
                    i = tr.begin("queries.call", "queries")
                    try:
                        df = self.registry[q](self.spark, self.data)
                    finally:
                        tr.end(i)
                    i = tr.begin("collect", "collect")
                    try:
                        pdf = df.toPandas()
                    finally:
                        tr.end(i)
                finally:
                    tr.end_query()
                self.result["result.rows"] += len(pdf)
                self.result["result.bytes"] += int(pdf.memory_usage(deep=True).sum())
        except Exception:
            self.failed += 1
            self.errors.append(f"{phase} {q}: {traceback.format_exc(limit=3)}")
            return None, None, None
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if self.spans is not None:
                from eventlog import Span

                self.spans.append(Span(f"{phase}:{q}", gid if group else f"nogroup-{self.call_seq}", w0, time.time()))
        dt = time.perf_counter() - t0
        jit = jit_delta(j0, jit_cpu_s(self.jvm_pid))
        cpu = tree_cpu_s(os.getpid()) - c0
        self.jit_s[phase] += jit
        log(f"{phase} {q}: {dt:.3f}s, work cpu {cpu:.3f}s, jit cpu {jit:.3f}s, {len(pdf)} rows")
        want = self.expected_rows.get(q)
        if want is not None and want != len(pdf):
            self.failed += 1
            self.errors.append(f"{phase} {q}: {len(pdf)} rows, checked run had {want}")
            return None, None, None
        return pdf, dt, cpu

    def warm_up(self, group: bool) -> float:
        """The untimed pass; its results are kept for the oracle check
        and its row counts for every later run. Returns its seconds."""
        t0 = time.perf_counter()
        for q in self.workload.queries:
            pdf, _, _ = self.run_query(q, "warmup", group)
            if pdf is not None:
                self.checked[q] = pdf
                self.expected_rows[q] = len(pdf)
        return time.perf_counter() - t0

    def check_oracles(self, work: Path) -> float:
        """Check the warm-up results against their oracles; seconds."""
        t0 = time.perf_counter()
        for q, err in oracle_errors(self.checked, Path(self.data), work).items():
            self.failed += 1
            self.errors.append(f"oracle {q}: {err[:2000]}")
        self.checked.clear()
        return time.perf_counter() - t0

    def timed_pass(self, phase: str, group: bool) -> dict[str, tuple[float, float]]:
        """Every entry once, back to back; entry -> (wall, CPU) seconds."""
        out = {}
        for q in self.workload.queries:
            _, dt, cpu = self.run_query(q, phase, group)
            if dt is not None:
                out[q] = (dt, cpu)
        return out


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append(
                {
                    "num_input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    return Progress()


def _rows_in(workload, data: Path) -> dict[str, int]:
    import pyarrow.parquet as pq

    tables = set(workload.input_table.values())
    rows = {t: pq.ParquetFile(data / f"{t}.parquet").metadata.num_rows for t in tables}
    return {q: rows[t] for q, t in workload.input_table.items()}


def best_of(passes: list[dict], i: int) -> dict[str, float]:
    """Each entry's best run over the passes, by field ``i`` (0 wall,
    1 CPU): on a shared host noise only adds time."""
    return {q: min(p[q][i] for p in passes if q in p) for q in {q for p in passes for q in p}}


def end_to_end_metrics(spark, passes, workload, data: Path, setup_s: float) -> dict:
    rows = _rows_in(workload, data)
    cpu = best_of(passes, 1)
    py_peak = peak_rss_mb(os.getpid())
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return {
        "setup_s": setup_s,
        "input_rows_per_cpu_s": sum(rows[q] for q in cpu) / sum(cpu.values()),
        "query_cpu_s.p50": median(list(cpu.values())),
        "query_cpu_s.p90": percentile(list(cpu.values()), 90),
        "heap_live_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
        "py_peak_rss_mb": py_peak,
    }


def layer_metrics(bench: Bench, tracer, listener, traced_passes, baseline, work: Path, session_s: float, peak_mb: float, ledger_path: Path) -> dict:
    import eventlog
    from tracer import layer_totals

    n = len(traced_passes)
    secs, calls = layer_totals(tracer.spans)
    logs = list((work / "eventlog").iterdir())
    with open(logs[0]) as f:
        jobs = eventlog.read_jobs(f)
    per_key, unattributed = eventlog.attribute(jobs, bench.spans)
    traced = Counter()
    for key, c in per_key.items():
        if key.startswith("traced:"):
            traced.update(c)
    b = listener.batches
    trig = [x["duration_ms"].get("triggerExecution", 0) for x in b]
    base_s = median([sum(w for w, _ in p.values()) for p in baseline])
    traced_s = median([sum(w for w, _ in p.values()) for p in traced_passes])
    rows = _rows_in(bench.workload, Path(bench.data))
    wall = best_of(baseline, 0)
    m = {
        "trace.overhead_ratio": traced_s / base_s - 1.0 if base_s else 0.0,
        "wall.input_rows_per_s": sum(rows[q] for q in wall) / sum(wall.values()),
        "wall.query_s.p50": median(list(wall.values())),
        "wall.query_s.p90": percentile(list(wall.values()), 90),
        "jit.cpu_s": bench.jit_s["traced"] / n,
        "peak_rss_mb": peak_mb,
        "session.start_s": session_s,
        "io.load_table.calls": (calls["io.load_table"] + calls["queries.load_table"]) / n,
        "io.load_table.s": (secs["io.load_table"] + secs["queries.load_table"]) / n,
        "queries.plan_s": secs["queries.call"] / n,
        "collect.s": secs["collect"] / n,
        "result.rows": bench.result["result.rows"] / n,
        "result.bytes": bench.result["result.bytes"] / n,
        "spark.jobs_unattributed": unattributed,
        "replay.stage_s": secs["replay.replay_stream"] / n,
        "replay.sentinel_s": secs["replay.sentinel_pair"] / n,
        "replay.run_s": secs["replay.run_to_completion"] / n,
        "stream.batches": len(b) / n,
        "stream.empty_batches": sum(1 for x in b if x["num_input_rows"] == 0) / n,
        **{k: sum(x["duration_ms"].get(v, 0) for x in b) / n for k, v in _STREAM_DURATIONS.items()},
        "stream.state_rows": max((x["state_rows"] for x in b), default=0),
        "stream.state_mem_bytes": max((x["state_mem_bytes"] for x in b), default=0),
        "microbatch_ms.p50": median(trig) if trig else 0.0,
        "microbatch_ms.p90": percentile(trig, 90) if trig else 0.0,
        "io_sinks.run_concurrently.s": secs["io_sinks.run_concurrently"] / n,
        "index.files_written": tracer.files["index.files_written"] / n,
        "index.bytes_written": tracer.files["index.bytes_written"] / n,
    }
    for layer in ("append", "compact", "query"):
        m[f"index.{layer}_s"] = sum(
            s.end - s.start for s in tracer.spans if s.outermost and s.layer == f"index.{layer}"
        ) / n
    for k in ("spark.jobs", "driver.residual_s", *eventlog.ENGINE_METRICS):
        m[k] = traced[k] / n
    for q in ALL_QUERIES:
        c = per_key.get(f"traced:{q}", Counter())
        m[f"query.{q}.s"] = c["wall_s"] / n
        m[f"query.{q}.jobs"] = c["spark.jobs"] / n
    metrics = {k: {"value": m.get(k, 0), "unit": u} for k, u in PER_LAYER_UNITS.items()}

    ledger_path.parent.mkdir(parents=True, exist_ok=True)
    with open(ledger_path, "w") as f:
        json.dump(
            {
                "traced_passes": n,
                "untraced_pass_s": [sum(w for w, _ in p.values()) for p in baseline],
                "traced_pass_s": [sum(w for w, _ in p.values()) for p in traced_passes],
                "jobs_total": len(jobs),
                "jobs_unattributed": unattributed,
                "per_call_key": {k: dict(v) for k, v in sorted(per_key.items())},
                "metrics": {k: v["value"] for k, v in metrics.items()},
                "stream_batches": b,
                "spans": [vars(s) for s in tracer.spans],
            },
            f,
            indent=1,
        )
    return metrics


def run(args, work: Path) -> dict:
    workload = WORKLOADS[args.workload]
    trace = bool(args.trace)
    data, gen_times, identical = generate_inputs(work, args.seed, workload.sizes)
    log(f"inputs generated in {median(gen_times):.2f}s (byte-identical repeats: {identical})")
    spark, session_s = start_session(work, trace)
    try:
        bench = Bench(spark, data, workload)
        warm_s = bench.warm_up(group=trace)
        setup_s = session_s + median(gen_times) + warm_s
        log(f"session {session_s:.2f}s, warm-up pass {warm_s:.2f}s")
        if not trace:
            passes = []
            t0 = time.perf_counter()
            while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
                passes.append(bench.timed_pass("timed", group=False))
            log(f"{len(passes)} timed passes")
            # read before the oracle check, whose DuckDB work shares this process
            metrics = end_to_end_metrics(spark, passes, workload, data, setup_s)
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
        else:
            import importlib

            from tracer import Tracer

            # untraced and traced passes alternate, so warm-up drift
            # does not bias the overhead estimate
            tracer = Tracer()
            listener = _progress_listener()
            baseline, traced = [], []
            t0 = time.perf_counter()
            while not traced or time.perf_counter() - t0 < args.seconds:
                baseline.append(bench.timed_pass("baseline", group=False))
                for mod, attr, layer, path_arg in _WRAPS:
                    tracer.wrap(importlib.import_module(mod), attr, layer, path_arg)
                bench.tracer = tracer
                spark.streams.addListener(listener)
                try:
                    traced.append(bench.timed_pass("traced", group=True))
                finally:
                    tracer.uninstall()
                    bench.tracer = None
                    deadline = time.time() + 10
                    while listener.terminated < listener.started and time.time() < deadline:
                        time.sleep(0.05)
                    spark.streams.removeListener(listener)
            peak_mb = peak_rss_mb(os.getpid()) + peak_rss_mb(bench.jvm_pid)
        log(f"oracle check {bench.check_oracles(work):.2f}s")
    finally:
        stop_spark(spark)
    if trace:
        ledger = ROOT / ".perfbench" / "ledger" / f"{args.workload}-seed{args.seed}.json"
        metrics = layer_metrics(bench, tracer, listener, traced, baseline, work, session_s, peak_mb, ledger)
        log(f"ledger written to {ledger.relative_to(ROOT)}")
    for e in bench.errors:
        log(e)
    return {
        "correct": identical and bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="gmall_flink_20_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import gmall_flink_20_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the package under test from {ROOT}: {e}")
        return 2
    work = ROOT / ".perfbench" / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # Python, the JVM and the Python workers all put temp files here
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    # a terminated run still unwinds, stopping what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run(args, work)
    finally:
        try:
            stop_spark()  # a session that failed to start may have left its JVM
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
