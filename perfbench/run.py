"""Benchmark entry point.

    python3 perfbench/run.py --workload {search_stored,search_serve}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Starts one local Spark session sized to
the machine's cores, builds the workload's seeded inputs, measures for
``--seconds``, checks every output against an independent oracle and
prints one metric per line followed by a JSON summary as the last line
of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans and Spark work counters around each call into a layer and
reports the per-layer metrics instead. Exits 1 when a correctness check
fails and 2 when the program under test cannot be imported.

All files the run makes live under ``.bench_work/`` (removed at exit)
and ``.bench_traces/`` (span dumps and results) in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

T_START = time.perf_counter()

import harness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("search_stored", "search_serve")

# Per-layer metrics, reported by every traced run (0 on layers the
# workload bypasses). Order is the print order.
LAYER_METRICS = {
    "session.start_s": "s",
    "extract.busy_s": "s",
    "extract.docs_out": "count",
    "extract.spans_out": "count",
    "extract.mega_docs": "count",
    "extract.error_rows": "count",
    "tokenize.term_postings_s": "s",
    "tokenize.postings_rows": "count",
    "tokenize.cjk_docs": "count",
    "tokenize.query_us": "us",
    "pipeline.docs_per_s": "docs/s",
    "pipeline.run_extraction_job_s": "s",
    "pipeline.build_postings_s": "s",
    "pipeline.self_s": "s",
    "pipeline.bytes_written": "bytes",
    "pipeline.spark_tasks": "count",
    "search.plan_ms": "ms",
    "search.match_terms_ms": "ms",
    "search.spark_jobs_per_query": "count",
    "search.tasks_per_query": "count",
    "api.search_pages_ms": "ms",
    "api.status_4xx": "count",
    "api.status_5xx": "count",
    "server.http_overhead_ms": "ms",
    "server.send_lag_ms": "ms",
    "server.open_loop_p50_ms": "ms",
    "sync.poll_s": "s",
    "sync.fresh_query_ms": "ms",
    "sync.files_changed": "count",
    "sync.docs_changed": "count",
    "sync.spark_tasks": "count",
    "index_maintain.compute_s": "s",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "storage.buckets_rewritten": "count",
    "storage.write_amp": "ratio",
    "storage.files_total": "count",
    "trace.spans": "count",
    "trace.overhead_ms": "ms",
    "traced.query_p50_ms": "ms",
    "traced.throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

E2E_METRICS = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
}


@dataclass
class Ctx:
    """What a workload gets: the session, measurement tools and the
    places to put its results."""

    spark: object
    tracer: object
    counters: object  # SparkCounters when tracing, else None
    work: str
    seed: int
    seconds: float
    cores: int
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    notes: list = field(default_factory=list)  # printed as '# ' lines

    def count(self, ok: bool, what: str) -> bool:
        """Record one operation or check; a failure keeps its message."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def group(self, label: str):
        """Spark job-group counter when tracing, else a null context."""
        if self.counters is None:
            return nullcontext(harness.SparkWork())
        return self.counters.group(label)

    def setup_done(self, builds: list, once_s: float) -> None:
        """setup_s: process start to a ready session, plus the median of
        the repeated input builds, plus the one-off rest (warm-up)."""
        self.e2e["setup_s"] = self.layers["session.start_s"] + harness.median(builds) + once_s
        self.notes.append("set-up builds " + " ".join(f"{b:.2f}s" for b in builds)
                          + f", warm-up {once_s:.2f}s")


def _prepare_dirs(workload: str, seed: int) -> tuple[str, str]:
    base = os.path.abspath(".bench_work")
    work = os.path.join(base, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    traces = os.path.abspath(".bench_traces")
    os.makedirs(traces, exist_ok=True)
    return work, traces


def _start_spark(work: str, cores: int):
    # every scratch file of the JVM, the Python workers and Spark itself
    # stays under the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a 1g heap keeps the JVM's share of peak RSS from swinging with
    # heap growth; the inputs are a few MB
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from ocr_search_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process the run
    started (JVM, Python worker daemon and workers) has ended."""
    from pyspark import SparkContext

    started = harness.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # workers orphaned by the JVM are no longer our descendants: follow
    # the pids seen before the stop
    deadline = time.monotonic() + 30
    while harness.running(started) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in harness.running(started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while harness.running(started) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import ocr_search_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as err:
        print(f"perfbench: program under test not importable: {err}", file=sys.stderr)
        return 2

    import workloads

    cores = len(os.sched_getaffinity(0))
    work, traces = _prepare_dirs(args.workload, args.seed)
    rss = harness.RssSampler().start()
    tracer = harness.Tracer(enabled=bool(args.trace))
    spark = None
    try:
        spark = _start_spark(work, cores)
        session_s = time.perf_counter() - T_START
        ctx = Ctx(
            spark=spark,
            tracer=tracer,
            counters=harness.SparkCounters(spark) if args.trace else None,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            cores=cores,
        )
        ctx.layers["session.start_s"] = session_s
        getattr(workloads, args.workload)(ctx)
    finally:
        if spark is not None:
            _stop_spark(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    ctx.layers["peak_rss_mb"] = peak_mb
    ctx.notes.append(f"peak RSS {peak_mb:.0f}MB: {rss.describe()}")
    ctx.notes.append(f"run took {time.perf_counter() - T_START:.1f}s, Spark stop included")

    if args.trace:
        spans = len(tracer.spans)
        ctx.layers["trace.spans"] = spans
        ctx.layers["trace.overhead_ms"] = 1e3 * (spans * tracer.span_cost_s() + ctx.counters.read_s)
        ctx.layers["traced.query_p50_ms"] = ctx.e2e["query_p50_ms"]
        ctx.layers["traced.throughput_per_s"] = ctx.e2e["throughput_per_s"]
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.spans.jsonl"))
        top = sorted(tracer.self_times().items(), key=lambda kv: -kv[1])[:8]
        ctx.notes.append("self time: " + ", ".join(f"{name} {t:.3g}s" for name, t in top))
        metrics = {k: (ctx.layers.get(k, 0), u) for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: (ctx.e2e[k], u) for k, u in E2E_METRICS.items()}

    load1 = os.getloadavg()[0]
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} nproc={cores} loadavg1={load1:.2f}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {_fmt(value)} {unit}")
    print(f"ops_attempted {ctx.attempted}")
    print(f"ops_failed {ctx.failed}")
    for note in ctx.notes:
        print(f"# {note}")
    for msg in ctx.failures:
        print(f"# FAILED: {msg}")
    if args.trace:
        _report_overhead(traces, args, ctx)
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if not args.trace:
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.e2e.json"), "w") as f:
            json.dump(result, f)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0 if ctx.failed == 0 else 1


def _report_overhead(traces: str, args, ctx: Ctx) -> None:
    """Traced vs untraced end-to-end numbers, when an untraced run of the
    same workload and seed left its result here."""
    path = os.path.join(traces, f"{args.workload}-seed{args.seed}.e2e.json")
    if not os.path.exists(path):
        print("# tracing overhead: no untraced result for this seed to compare")
        return
    with open(path) as f:
        base = json.load(f)["metrics"]
    for name in ("query_p50_ms", "throughput_per_s"):
        b, t = base[name]["value"], ctx.e2e[name]
        print(f"# tracing overhead {name}: untraced {b:.6g} traced {t:.6g} ({(t - b) / b:+.1%})")


if __name__ == "__main__":
    sys.exit(main())
