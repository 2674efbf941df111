"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Headline set: the flagship aggregation + one representative per operator
family (join, window, set-op, JSON, dedup exact/near, similarity, text).
Each timed run writes the query's output to the noop sink, which
materializes every column (a ``count()`` would let Catalyst prune them).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from event_streamer_spark.operators import REGISTRY  # noqa: E402
from event_streamer_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "b11_tpch_q1",
    "b05_join_inner",
    "b09_range_join",
    "b10_broadcast_join",
    "b15_window_rank",
    "b17_window_frame",
    "b19_union_all",
    "b26_json_fns",
    "c1_tumbling_window",
    "c3_session_window",
    "d1_exact_dedup",
    "d2_minhash_lsh",
    "d3_topk_cosine",
    "d4_quality_score",
    # round-6 breadth: the most shuffle-intensive TPC-H plan (Q21's
    # multi-EXISTS self-join) and the composed D-pipeline
    "b50_tpch_q21",
    "d6_curation_pipeline",
    # round-7 breadth: the largest join chain (Q9: 6-table
    # part×supplier×lineitem×partsupp-less profit rollup) and the
    # skew-hardened salted-cohorts path, so regressions in the skew
    # toolkit surface in BENCH, not just the oracles
    "b53_tpch_q9",
    "b33_retention_cohorts_salted",
    # round-8 breadth: the validation family — the double-distrank
    # robust anomaly scan and the one-scan PSI drift table — so the
    # dataset-quality path's cost is tracked in BENCH, not just oracled
    "d15_anomaly_mad",
    "d14_column_drift",
    "d16_order_reconcile",
    "b62_session_paths",
    "d17_pagerank",
    # round-8 session 3: blocked record linkage (equi-join + distinct +
    # scoring over the persisted keyed table), the dense-grid linear
    # interpolation resample (sequence explode + 4 running carries),
    # and oriented triangle enumeration (wedge join over cached edges)
    "d18_er_blocked_match",
    "b70_gap_fill_interp",
    "d17_triangles",
    # round-8 session 4: the per-basket collect_set pair expansion +
    # broadcast rule joins (the co-occurrence mining cost center) and
    # the triple-distrank RFM quintile cube (three global rankings on
    # one frame — the auto-mode threshold's bench representative)
    "d19_assoc_rules",
    "b72_rfm_segments",
    # round-9: the two retrieval legs the 100 TB story leans on —
    # PQ+ADC re-rank and BM25+cosine RRF fusion — so their scale curves
    # get artifact-pinned per round (VERDICT r8 #8)
    "d3_pq_topk",
    "d3_hybrid_rrf",
    # round-10 session 2: the corpus-selection representative — DSIR
    # importance resampling (two token-keyed shuffles + a per-source
    # rank), so the data-selection path's scale curve gets pinned per
    # round alongside retrieval and dedup
    "d7_dsir_resample",
]


def materialize(df) -> None:
    """Run ``df`` to completion, computing every output column."""
    df.write.format("noop").mode("overwrite").save()


def _sentinel(spark, runs: int = 5) -> dict[str, float]:
    """Machine-noise sentinel (VERDICT r8 #3): a fixed micro-op pair —
    a pure-JVM codegen sum and a fixed-SF parquet scan count — timed at
    bench start. Their cost is invariant to this repo's code, so the
    ratio of sentinel times between two BENCH artifacts estimates the
    box-speed shift between rounds (r7→r8 drifted +33% uniformly with
    zero plan changes); per-query cross-round comparisons divide it
    out. median-of-5 (VERDICT r12 #4): min-of-3 biased the probe low on
    a box whose intra-session speed swings 0.36↔0.62 s, which made the
    per-query sentinel-unit columns drift even when raw walls were
    flat; the median tracks the box's typical speed, not its best."""
    import statistics

    range_t, scan_t, par_t = [], [], []
    # parallel leg sized so each of the default 32 cores gets real work
    # (~10M rows/core): a single-threaded probe cannot see multi-core
    # capacity loss under hypervisor-neighbor load (VERDICT r13 #1b)
    n_par = 10_000_000 * max(spark.sparkContext.defaultParallelism, 1)
    for _ in range(runs):
        t0 = time.time()
        spark.range(10_000_000).selectExpr("sum(id)").collect()
        range_t.append(time.time() - t0)
        t0 = time.time()
        spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").count()
        scan_t.append(time.time() - t0)
        t0 = time.time()
        # xxhash64 gives real per-row CPU work; avg avoids ANSI long
        # overflow on the summed hashes
        spark.range(n_par).selectExpr("avg(xxhash64(id))").collect()
        par_t.append(time.time() - t0)
    med_r = statistics.median(range_t)
    med_s = statistics.median(scan_t)
    return {
        "range_sum_sec": round(med_r, 4),
        "parquet_count_sec": round(med_s, 4),
        "sentinel_sec": round(med_r + med_s, 4),
        "sentinel_min_sec": round(min(range_t) + min(scan_t), 4),
        "sentinel_samples": [round(a + b, 4) for a, b in zip(range_t, scan_t)],
        # all-cores leg (r14, VERDICT r13 #1): kept OUT of sentinel_sec
        # so su units stay r13-comparable; reported alongside so a
        # cross-round reader can spot multi-core capacity shifts the
        # single-threaded pair misses
        "sentinel_par_sec": round(statistics.median(par_t), 4),
        "sentinel_par_samples": [round(v, 4) for v in par_t],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # same default as get_spark's local[N]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers + Python/Arrow worker pool once so
    # per-query times measure the query, not session bootstrap (a real
    # deployment is a long-lived session)
    REGISTRY["b01_parquet_scan"].fn(spark, sf_dir).count()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_warm("id")).count()

    # sentinel AFTER session warm-up (it measures the box, not JVM
    # bootstrap), BEFORE the headline warm-up loop (so a slow box is
    # reported even if a query then fails)
    sentinel = _sentinel(spark)
    print(f"# sentinel: {sentinel}", file=sys.stderr)

    # then run every headline query once at a smaller SF: exercises
    # each query's own code paths (codegen compilation, applyInPandas
    # worker spin-up, broadcast machinery) so the measured pass below is
    # steady-state, not first-run-variance (observed 13.5↔20 s swings
    # without this). sf0.01, not sf0.001: AQE picks different physical
    # shapes per input size (broadcast vs SMJ, coalesced stage counts),
    # and codegen is compiled PER SHAPE — the 10×-smaller warm-up
    # compiles the shapes the sf0.1 cold pass actually runs, where the
    # 100×-smaller one left them cold (round 8: measured on the pass-0
    # deltas of the AQE-replanned queries). Data-dependent caches are
    # keyed by plan, so the at-scale cache builds still count as cold.
    warm_dir = "/root/testdata/sf0.01"
    if os.path.isdir(warm_dir) and not os.path.samefile(warm_dir, sf_dir):
        for name in HEADLINE:
            try:
                REGISTRY[name].fn(spark, warm_dir).count()
            except Exception as exc:  # noqa: BLE001 — warm-up must not gate
                print(f"# warm-up {name} failed: {exc}", file=sys.stderr)

    # pre-build the target-SF table frames: load() pays ~80-115 ms of
    # file listing + parquet footer schema inference per table on first
    # call — session-fixed cost a long-lived deployment has already
    # paid, not part of any query's cold cost. Builds plans only; no job.
    from event_streamer_spark.tables import TABLES
    from event_streamer_spark.tables import load as _load_table

    for t in TABLES:
        try:
            _load_table(spark, sf_dir, t)
        except Exception:  # noqa: BLE001 — optional tables may be absent
            pass

    # cold/warm split: pass 1 at the target SF is "cold" (first at-scale
    # run: real scan + codegen for these plan shapes); the min over the
    # remaining passes is "warm" (steady-state, and min is robust to
    # ambient sandbox load — the r3 bench swung 3× on load alone).
    # warm = min over (repeats-1) samples; 4 passes → min of 3, which is
    # robust to the 2-3× ambient-load swings observed on shared sandboxes
    repeats = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "4")))
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for rep in range(repeats):
        for name in HEADLINE:
            fn = REGISTRY[name].fn
            t0 = time.time()
            materialize(fn(spark, sf_dir))
            dt = round(time.time() - t0, 3)
            if rep == 0:
                cold[name] = dt
            else:
                warm[name] = min(warm.get(name, dt), dt)
            print(f"# pass{rep} {name}: {dt:.2f}s", file=sys.stderr)

    # isolated floor (VERDICT r10 #5): the mixed-workload warm column
    # above is the deployment-realistic number, but on a memory-
    # constrained box later queries evict earlier queries' persisted
    # slots, so a query's benched time can read far above its own
    # steady-state floor (sf10 r10: q21 18.6 s mixed vs 7.5 s isolated
    # — pure cache-eviction pressure, no plan change). Measure the
    # floor explicitly: drop every cached frame, let the query rebuild
    # ONLY its own working set, then time the steady-state run. Both
    # columns ship in the artifact so a cross-round reader compares
    # like with like instead of misreading eviction noise as a plan
    # regression.
    from event_streamer_spark.caching import clear_slot

    # the prepared-plan cache must be bypassed here: persist() side
    # effects happen at plan-BUILD time, so a cache-hit fn() returns a
    # frame whose cleared InMemoryRelations never re-register and both
    # runs measure raw lineage recompute instead of the floor (caught
    # by the r11 sf1 artifact: isolated read ~cold for every
    # slot-backed query)
    isolated: dict[str, float] = {}
    # restore (not pop) on exit: a user-exported
    # EVENT_STREAMER_PLAN_CACHE=0 must survive the isolated loop (r12,
    # ADVICE: the unconditional pop silently re-enabled the cache)
    prior_plan_cache = os.environ.get("EVENT_STREAMER_PLAN_CACHE")
    os.environ["EVENT_STREAMER_PLAN_CACHE"] = "0"
    try:
        for name in HEADLINE:
            clear_slot()
            spark.catalog.clearCache()
            fn = REGISTRY[name].fn
            try:
                fn(spark, sf_dir).count()  # rebuild this query's caches
                t0 = time.time()
                materialize(fn(spark, sf_dir))
                isolated[name] = round(time.time() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — must not gate
                print(f"# isolated {name} failed: {exc}", file=sys.stderr)
    finally:
        if prior_plan_cache is None:
            os.environ.pop("EVENT_STREAMER_PLAN_CACHE", None)
        else:
            os.environ["EVENT_STREAMER_PLAN_CACHE"] = prior_plan_cache
    clear_slot()
    spark.catalog.clearCache()

    warm_total = round(sum(warm.values()), 3)
    cold_total = round(sum(cold.values()), 3)
    isolated_total = round(sum(isolated.values()), 3)
    s_sec = sentinel["sentinel_sec"]
    s_min = sentinel["sentinel_min_sec"]

    def in_units(col: dict[str, float]) -> dict[str, float]:
        # per-query sentinel units (r12, VERDICT #2): divide every
        # column by the box-speed probe so cross-round comparison is
        # one lookup, not a judge exercise in sentinel arithmetic
        return {k: round(v / s_sec, 2) for k, v in col.items()}

    full = {
        "metric": "headline_queries_total_sec",
        "value": warm_total,
        "unit": "sec",
        "queries": warm,
        "cold": {
            "total_sec": cold_total,
            "queries": cold,
            "total_sentinel_units": round(cold_total / s_sec, 2),
            "queries_sentinel_units": in_units(cold),
        },
        "warm": {
            "total_sec": warm_total,
            "queries": warm,
            "total_sentinel_units": round(warm_total / s_sec, 2),
            "queries_sentinel_units": in_units(warm),
        },
        "isolated": {
            "total_sec": isolated_total,
            "queries": isolated,
            "total_sentinel_units": round(isolated_total / s_sec, 2),
            "queries_sentinel_units": in_units(isolated),
        },
        "sentinel": sentinel,
        # totals in sentinel units: divide by the box-speed
        # probe so cross-round tables compare plans, not boxes
        "warm_total_sentinel_units": round(warm_total / s_sec, 2),
        "cold_total_sentinel_units": round(cold_total / s_sec, 2),
        "isolated_total_sentinel_units": round(isolated_total / s_sec, 2),
        # r14 (VERDICT r13 #1a): su under BOTH sentinel definitions —
        # the r12→r13 comparison mixed a min-of-3 denominator with a
        # median-of-5 one; publishing both ends the ambiguity
        "totals_su_min": {
            "cold": round(cold_total / s_min, 2),
            "warm": round(warm_total / s_min, 2),
            "isolated": round(isolated_total / s_min, 2),
        },
        "repeats": repeats,
        "sf": sf,
        "cpus": cpus,
    }

    # Full detail to a file; the LAST stdout line is a compact summary
    # guaranteed < 2,000 chars. The driver captures only the last 2,000
    # chars of stdout and parses the final line — r12's single fat line
    # (~3.4 kB) was truncated mid-`warm` and the artifact arrived with
    # parsed:null (VERDICT r12 #1). The compact line keeps the driver
    # contract (metric/value/unit/queries/sf) plus su totals and the
    # top-10 warm su headliners; everything else lives in the file,
    # whose path the summary carries.
    # per-cpus default filename (r14, VERDICT r13 #2): the shared
    # BENCH_full_sf0.1.json was clobbered per run, so the driver's
    # 32-core per-query columns were lost to its later 8-core run
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"BENCH_full_sf{sf}_c{cpus}.json",
        ),
    )
    try:
        with open(out_path, "w") as f:
            json.dump(full, f, indent=1)
    except OSError as exc:
        print(f"# bench full-artifact write failed: {exc}", file=sys.stderr)
        out_path = None

    warm_su = in_units(warm)
    top10_su = dict(
        sorted(warm_su.items(), key=lambda kv: -kv[1])[:10]
    )
    summary = {
        "metric": "headline_queries_total_sec",
        "value": warm_total,
        "unit": "sec",
        "queries": warm,
        "sf": sf,
        "sentinel_sec": s_sec,
        "sentinel_min_sec": s_min,
        "sentinel_par_sec": sentinel["sentinel_par_sec"],
        "totals_sec": {
            "cold": cold_total,
            "warm": warm_total,
            "isolated": isolated_total,
        },
        "totals_su": {
            "cold": round(cold_total / s_sec, 2),
            "warm": round(warm_total / s_sec, 2),
            "isolated": round(isolated_total / s_sec, 2),
        },
        "totals_su_min": full["totals_su_min"],
        "top10_warm_su": top10_su,
        "full_artifact": out_path,
    }
    line = json.dumps(summary)
    # hard budget: the driver tail is 2,000 chars; leave headroom for a
    # trailing newline and any stray stderr interleave. Shed detail in
    # order of dispensability until the line fits.
    for victim in (
        "totals_su_min",
        "sentinel_min_sec",
        "sentinel_par_sec",
        "top10_warm_su",
        "queries",
        "full_artifact",
    ):
        if len(line) <= 1900:
            break
        summary.pop(victim, None)
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
