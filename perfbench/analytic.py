"""The ``analytic`` workload: 10 headline registry queries in a closed loop.

One client runs the queries back to back. Each run builds the plan
(``REGISTRY[name].fn``) and materializes every output column through the
``noop`` sink, so Catalyst cannot prune columns the way ``count()`` lets it.
The first pass is set-up: it fills the prepared-plan cache and the persisted
slots, and its collected rows are kept for the output check. Timed passes run
until ``--seconds`` have passed, and at least ``MIN_PASSES``.

Output check, after the timed passes: each query with a DuckDB oracle must
match it by ``scripts/check_oracles.canon_hash`` (plus row count and column
names); ``d2_minhash_lsh`` and ``d3_pq_topk`` have none, so their result must be
non-empty and within a bound.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import subprocess
import sys
import time

import tracing

# Ten of bench.py's 31 headline queries, one or two per operator family,
# kept here so the workload does not change when bench.py's list does. All 31
# do not fit: their cold pass alone takes ~43 s on 4 cores, and every run of
# every workload must fit the benchmark's time budget (see NOTES.md).
QUERIES = [
    "b11_tpch_q1", "b05_join_inner", "b26_json_fns", "c3_session_window",
    "d1_exact_dedup", "d2_minhash_lsh", "b50_tpch_q21", "b53_tpch_q9",
    "d19_assoc_rules", "d3_pq_topk",
]
# Oracle-less queries: (min rows, max rows). 500 documents give at most
# 500*499/2 candidate pairs; the PQ re-rank returns a top 10.
BOUNDED = {"d2_minhash_lsh": (1, 500 * 499 // 2), "d3_pq_topk": (1, 10)}
# Table scale: lineitem ~6,000 rows. Small on purpose: the workload loads
# planning, scheduling, shuffles and persisted slots, not scan bandwidth.
SCALE = 0.001

MIN_PASSES = 3

HERE = os.path.dirname(os.path.abspath(__file__))


def _check_oracles_module():
    path = os.path.join(os.path.dirname(HERE), "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _query_medians(passes: list[dict]) -> dict[str, float]:
    """Each query's median wall (plan build + execution) over the passes it
    completed in."""
    out = {}
    for name in QUERIES:
        times = [p[name]["plan_build_s"] + p[name]["execute_s"] for p in passes if name in p]
        if times:
            out[name] = statistics.median(times)
    return out


class AnalyticWorkload:
    def __init__(self, workload: str, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "tables")
        self.failed = 0
        self.attempted = 0
        self.first_pass: dict[str, tuple] = {}  # name -> (seconds, columns, rows)

    def prepare(self, traced: bool) -> None:
        """Have the generator process write the tables."""
        os.makedirs(self.sf_dir, exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen_tables.py"), self.sf_dir,
             str(self.seed), str(SCALE)],
            check=True, timeout=120,
        )

    def setup(self, spark) -> None:
        """The cold pass: build every plan and collect its rows."""
        from event_streamer_spark.operators import REGISTRY

        self.spark = spark
        self.tracer = tracing.Tracer(False)
        self.registry = REGISTRY
        for name in QUERIES:
            t0 = time.perf_counter()
            try:
                df = REGISTRY[name].fn(spark, self.sf_dir)
                rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
                print(f"# {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
                self.first_pass[name] = (time.perf_counter() - t0, None, None)
                continue
            self.first_pass[name] = (time.perf_counter() - t0, df.columns, rows)

    def use_tracer(self, tracer: tracing.Tracer) -> None:
        """Time later passes' plan build and execution as spans, and tag
        each query's jobs with a job group for its stage metrics."""
        self.tracer = tracer

    def _one_pass(self, label: str) -> dict:
        tracer = self.tracer
        sc = self.spark.sparkContext
        per_query = {}
        for name in QUERIES:
            group = f"{name}@{label}"
            if tracer.enabled:
                sc.setJobGroup(group, group)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("operators.plan_build"):
                    df = self.registry[name].fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tracer.span("operators.execute"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
                print(f"# {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
                self.failed += 1
                continue
            t2 = time.perf_counter()
            per_query[name] = {"plan_build_s": t1 - t0, "execute_s": t2 - t1}
            if tracer.enabled:
                per_query[name]["stages"] = tracing.stage_metrics(self.spark, group)
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return per_query

    def measure(self, seconds: float, label: str) -> dict:
        """Closed loop: whole passes until ``seconds`` have passed, and at
        least ``MIN_PASSES``. Each query's time is its median over the
        passes; ``pass_s`` is the sum of those medians, throughput is
        queries over ``pass_s``, and the latency percentiles are taken over
        the per-query medians, so one slow execution does not move them."""
        passes = []
        start = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - start < seconds:
            passes.append(self._one_pass(f"{label}{len(passes)}"))
        per_query = _query_medians(passes)
        pass_s = sum(per_query.values())
        lat = [t * 1e3 for t in per_query.values()]
        return {"throughput_per_s": len(per_query) / pass_s,
                "latency_p50_ms": tracing.percentile(lat, 0.50),
                "latency_p99_ms": tracing.percentile(lat, 0.99), "latency_samples": len(lat),
                "pass_s": pass_s, "passes": passes}

    def check(self) -> None:
        """Compare the cold pass's rows with the DuckDB oracles."""
        import duckdb

        co = _check_oracles_module()
        con = duckdb.connect()
        con.execute("SET preserve_insertion_order = false")
        con.execute(f"SET temp_directory = '{os.path.join(self.run_dir, 'duckdb')}'")
        from event_streamer_spark.tables import TABLES

        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        for name in QUERIES:
            self.attempted += 1
            _, cols, rows = self.first_pass[name]
            if rows is None:
                self.failed += 1
                continue
            if name in BOUNDED:
                lo, hi = BOUNDED[name]
                ok = lo <= len(rows) <= hi
            else:
                rel = con.sql(self.registry[name].oracle)
                orows = rel.fetchall()
                ok = (sorted(c.lower() for c in cols) == sorted(c.lower() for c in rel.columns)
                      and len(rows) == len(orows)
                      and co.canon_hash(cols, rows) == co.canon_hash(rel.columns, orows))
            if not ok:
                print(f"# output check failed: {name}", file=sys.stderr)
                self.failed += 1
        con.close()

    def layer_metrics(self, result: dict) -> dict[str, float]:
        """Per-layer numbers of a traced ``measure`` result (medians over passes)."""
        passes = result["passes"]

        def med(fn) -> float:
            return statistics.median(fn(p) for p in passes)

        def stage_sum(key):
            return med(lambda p: sum(q["stages"][key] for q in p.values()))

        out = {
            "operators.plan_build_s": med(lambda p: sum(q["plan_build_s"] for q in p.values())),
            "operators.execute_s": med(lambda p: sum(q["execute_s"] for q in p.values())),
            "operators.first_pass_s": sum(v[0] for v in self.first_pass.values()),
            "operators.executor_run_s": stage_sum("run_ms") / 1e3,
            "operators.executor_cpu_s": stage_sum("cpu_ms") / 1e3,
            "operators.input_bytes": stage_sum("input_bytes"),
            "operators.shuffle_read_bytes": stage_sum("shuffle_read_bytes"),
            "operators.shuffle_write_bytes": stage_sum("shuffle_write_bytes"),
            "operators.spill_bytes": stage_sum("spill_bytes"),
            "operators.tasks": stage_sum("tasks"),
            "operators.task_skew_max": max(q["stages"]["skew"] for p in passes for q in p.values()),
        }
        for name, seconds in _query_medians(passes).items():
            out[f"operators.{name}_s"] = seconds
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["caching.cached_rdds"] = len(infos)
        out["caching.cached_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
        return out
