"""The repository benchmark: event-path drain and latency, and analytic pass time.

Usage (from any working directory)::

    python3 perfbench/run.py --workload {events-small,events-bulk,analytic} \\
        --seed N --seconds S --trace {0,1} [--trace-file PATH] [--cores N]

One run:

1. the workload's generator process writes its inputs from ``--seed`` into a
   per-run directory under ``.perfbench_tmp/`` at the repository root;
2. set-up (timed as ``setup_s``): Spark session start, then the workload's
   warm-up (events: warm-up drains or a warm-up open loop; analytic: the
   cold pass);
3. the timed phase, for about ``--seconds``;
4. with ``--trace 1``, the timed phase again with spans and layer counters
   on; the per-layer numbers come from the traced phase, and
   ``trace.overhead_pct`` compares its throughput with the untraced one's;
5. output checks, outside the timed phases.

Every end-to-end metric is printed by name with its unit; the last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
holding the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Spark runs at ``local[nproc]`` unless ``--cores`` is given;
the program's own settings are left as shipped.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # runs leave no __pycache__ in the checkout
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("events-small", "events-bulk", "analytic")
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s",
             "latency_p50_ms": "ms", "latency_p99_ms": "ms"}
_LAYER_UNITS = {
    "sources.latest_offset_ms": "ms/batch", "sources.get_batch_ms": "ms/batch",
    "sources.backlog_events": "count", "sources.rows_per_batch": "rows/batch",
    "consumer.add_batch_ms": "ms/batch", "consumer.dispatch_ms": "ms",
    "consumer.self_ms": "ms", "consumer.messages_in": "count",
    "consumer.handler_calls": "count", "consumer.match_ratio": "ratio",
    "consumer.unmatched_or_corrupt": "count", "consumer.executor_run_ms": "ms",
    "consumer.executor_cpu_ms": "ms", "consumer.branch_input_bytes": "bytes",
    "producer.emit_calls": "count", "producer.emit_ms": "ms",
    "producer.messages_emitted": "count", "producer.bytes_emitted": "bytes",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.dropped_by_watermark": "count",
    "spark.wal_commit_ms": "ms/batch", "spark.commit_offsets_ms": "ms/batch",
    "spark.query_planning_ms": "ms/batch", "spark.trigger_ms": "ms/batch",
    "generator.max_lag_ms": "ms",
    "operators.plan_build_s": "s", "operators.execute_s": "s",
    "operators.first_pass_s": "s", "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s", "operators.input_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes", "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.tasks": "count",
    "operators.task_skew_max": "ratio",
    "caching.cached_bytes": "bytes", "caching.cached_rdds": "count",
    "process.peak_rss_mb": "MB", "trace.overhead_pct": "%", "trace.spans": "count",
}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name and its unit."""
    from analytic import QUERIES

    return {**_LAYER_UNITS, **{f"operators.{q}_s": "s" for q in QUERIES}}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-file", help="write the raw spans here (JSON lines)")
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: the usable cores)")
    args = ap.parse_args(argv)
    if args.seconds <= 0 or args.cores < 1:
        ap.error("--seconds and --cores must be positive")
    return args


def isolate(run_dir: str) -> None:
    """Keep every file Spark, Python or DuckDB write inside ``run_dir``, and
    let Python workers import the package and this directory's modules from
    any working directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_spark(run_dir: str, cores: int):
    from event_streamer_spark.session import get_spark

    java_opts = (f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir}/derby "
                 "-XX:-UsePerfData")
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            # keep every batch's progress record for the latency join
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def make_workload(name: str, seed: int, run_dir: str):
    if name == "analytic":
        from analytic import AnalyticWorkload

        return AnalyticWorkload(name, seed, run_dir)
    from events import EventsWorkload

    return EventsWorkload(name, seed, run_dir)


def run(args: argparse.Namespace, run_dir: str) -> dict:
    wl = make_workload(args.workload, args.seed, run_dir)
    wl.prepare(bool(args.trace))
    layers = {}
    spark = None
    with tracing.RssSampler() if args.trace else contextlib.nullcontext() as rss:
        try:
            t0 = time.perf_counter()
            spark = start_spark(run_dir, args.cores)
            wl.setup(spark)
            setup_s = time.perf_counter() - t0
            result = wl.measure(args.seconds, "main")
            if args.trace:
                tracer = tracing.Tracer(True)
                wl.use_tracer(tracer)
                traced = wl.measure(args.seconds, "traced")
                layers = wl.layer_metrics(traced)
                layers["trace.overhead_pct"] = 100.0 * (
                    result["throughput_per_s"] / traced["throughput_per_s"] - 1.0)
                layers["trace.spans"] = len(tracer.spans)
                for name, (total, own) in sorted(tracer.totals_ms().items()):
                    print(f"# span {name}: total {total:.1f} ms, self {own:.1f} ms",
                          file=sys.stderr)
                if args.trace_file:
                    tracer.write(args.trace_file)
            wl.check()
        finally:
            if spark is not None:
                stop_spark(spark)
    if args.trace:
        layers["process.peak_rss_mb"] = rss.peak_kb / 1024
    return {"setup_s": setup_s, "result": result, "layers": layers,
            "attempted": wl.attempted, "failed": wl.failed}


def report(args: argparse.Namespace, out: dict) -> None:
    r = out["result"]
    e2e = {"setup_s": out["setup_s"], "throughput_per_s": r["throughput_per_s"],
           "latency_p50_ms": r["latency_p50_ms"], "latency_p99_ms": r["latency_p99_ms"]}
    failed_frac = out["failed"] / max(1, out["attempted"])
    w = args.workload
    print(f"{w} setup_s {e2e['setup_s']:.4f} s")
    if w == "analytic":
        print(f"{w} pass_s {r['pass_s']:.4f} s")
        print(f"{w} throughput_per_s {e2e['throughput_per_s']:.4f} queries/s")
    else:
        print(f"{w} drain_eps {e2e['throughput_per_s']:.2f} events/s")
    for k in ("latency_p50_ms", "latency_p99_ms"):
        print(f"{w} {k} {e2e[k]:.3f} ms (n={r['latency_samples']})")
    print(f"{w} failed_frac {failed_frac:.6f} ratio ({out['failed']}/{out['attempted']})")
    if args.trace:
        # a layer the workload does not run reads 0
        metrics = {k: {"value": out["layers"].get(k, 0), "unit": u} for k, u in per_layer().items()}
        for k, m in metrics.items():
            print(f"{w} {k} {m['value']} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the finally blocks: stop Spark, remove the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    # fail fast, before writing anything, where the program is absent
    import event_streamer_spark  # noqa: F401

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    try:
        isolate(run_dir)
        out = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    report(args, out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
