"""Query registry + determinism helpers for the DuckDB-oracle gate.

Every declared operator (SURVEY.md §2) registers here as a
``(spark, sf_dir) -> DataFrame`` callable, optionally paired with an
ANSI-SQL oracle string DuckDB runs over the same parquet tables. The
driver hash-compares both sides order-insensitively, sorting columns by
name — so **column names must match exactly** and float outputs must be
made bit-stable on both sides.

Determinism protocol (FIXTURES.md §3):

* Money arithmetic goes through ``DECIMAL(18,2)`` (exact) on BOTH sides,
  cast back to DOUBLE at the end — partial-aggregation order then cannot
  perturb low bits, so ``round(x, 6)`` is stable.
* Timestamps are serialized to strings before output.
* Integer-typed aggregates are cast to BIGINT on both sides (DuckDB's
  ``SUM(BIGINT)`` is HUGEINT otherwise).
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from typing import Callable, Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    # For oracle-less queries whose CORRECTNESS is nevertheless pinned
    # by a registered bounded-check twin (b13-style): the twin's name.
    # The sweep artifact then counts this query as covered rather than
    # bare rows-only (VERDICT r10 #2).
    covered_by: Optional[str] = None


REGISTRY: dict[str, QuerySpec] = {}

# -- prepared-plan cache ----------------------------------------------
#
# Every registered query is a pure function of (spark, sf_dir): the
# DataFrame it returns is an immutable logical plan. Rebuilding that
# plan costs 100-400 ms of py4j round trips (measured: ~5-10 ms per
# Column op in this sandbox) — for the cheap half of the headline bench
# that is MORE than execution itself. So ``wrapped`` memoizes the built
# frame per (applicationId, sf_dir, table-mtime fingerprint) — exactly a
# prepared statement. The fingerprint is CONTENT-DERIVED (r12, VERDICT
# r11 #6): per table, file count + total bytes + lexicographically-max
# part filename — all listable on any object store, where mtime is
# coarse, clock-skewed, or synthesized (the r10/r11 watch item). A
# rewrite changes bytes or part names, so it invalidates; a bare
# ``touch`` does NOT (correct: the plan is still valid). After the
# pathological same-size/same-names in-place rewrite of a directory,
# call ``clear_plan_cache()``; EVENT_STREAMER_PLAN_CACHE=0 kills the
# cache outright.
# The applicationId drops entries from stopped sessions.

_PLAN_CACHE: dict[tuple, DataFrame] = {}
_PLAN_LOCK = threading.Lock()
# URI-scheme dirs (s3a://, hdfs://, …) can't be locally fingerprinted —
# the plan cache bypasses them entirely (file:// is still local)
import re as _re

_NONLOCAL_RE = _re.compile(r"^(?!file:)[a-zA-Z][a-zA-Z0-9+.-]*://")
_TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _sf_fingerprint(sf_dir: str) -> tuple:
    from event_streamer_spark.tables import table_fingerprint

    return tuple(
        (t, table_fingerprint(os.path.join(sf_dir, f"{t}.parquet")))
        for t in _TABLE_NAMES
    )


def clear_plan_cache() -> None:
    with _PLAN_LOCK:
        _PLAN_CACHE.clear()


def materialize_multiref_ctes(sql: str) -> str:
    """Add ``MATERIALIZED`` to every top-level WITH-clause CTE that the
    rest of the statement references two or more times.

    DuckDB 1.0 INLINES a CTE at each reference — the same plan-
    explosion gotcha Catalyst has and this repo's Spark legs pin with
    ``bounded_persist``. For iterative/graph/shingle oracles the
    repeated subtree is the expensive fact join: the d17_triangles
    oracle needed >75 GB of spill at the sf1-dirty grain un-hinted and
    5 s materialized (identical rows/hash — the hint is plan-only);
    d17_hits re-ran its ``pairs`` join ~6x. Applied at REGISTRATION so
    the driver, the sweep, and the fuzzer all run one canonical text.

    A real scanner, not a regex-over-everything: top-level CTEs are
    enumerated by walking ``WITH name AS (balanced…)[, …]``, so WINDOW
    clause definitions (``WINDOW w AS (PARTITION BY …)`` — same
    ``name AS (`` shape, where MATERIALIZED is a syntax error) and
    anything nested inside CTE bodies are never touched. Reference
    counts use whole-word matches outside the CTE's own definition
    span; over-counting (a name echoed in a string literal) merely
    materializes a CTE that did not need it, which is harmless.
    """
    import re

    m = re.search(r"\bWITH\b", sql)
    if not m:
        return sql
    i = m.end()
    n = len(sql)
    ctes: list[tuple[str, int, int, bool]] = []  # name, def_start, def_end, mat
    while True:
        while i < n and sql[i].isspace():
            i += 1
        nm = re.match(r"(\w+)\s+AS\s+(MATERIALIZED\s+)?\(", sql[i:], re.I)
        if not nm:
            break
        name, already = nm.group(1), bool(nm.group(2))
        body_open = i + nm.end() - 1  # index of '('
        depth, j = 0, body_open
        while j < n:
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            return sql  # unbalanced — leave untouched
        ctes.append((name, i, j + 1, already))
        i = j + 1
        while i < n and sql[i].isspace():
            i += 1
        if i < n and sql[i] == ",":
            i += 1
        else:
            break
    out = sql
    for name, d0, d1, already in reversed(ctes):  # right-to-left edits
        if already:
            continue
        outside = sql[:d0] + sql[d1:]
        refs = len(re.findall(rf"\b{re.escape(name)}\b", outside))
        if refs < 2:
            continue
        defn = out[d0:d1]
        defn2 = re.sub(
            rf"^({re.escape(name)}\s+AS\s+)\(", r"\1MATERIALIZED (",
            defn, count=1, flags=re.I,
        )
        out = out[:d0] + defn2 + out[d1:]
    return out


def query(
    name: str,
    oracle: Optional[str] = None,
    covered_by: Optional[str] = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` → driver does a rows-only check
    (pass ``covered_by=<twin>`` when a bounded-check twin pins its
    correctness so the sweep artifact can report it as covered).
    Oracle SQL is normalized through :func:`materialize_multiref_ctes`
    at registration."""
    if oracle is not None:
        oracle = materialize_multiref_ctes(oracle)

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver owns the SparkSession; pin the runtime-settable
            # confs our determinism protocol depends on (UTC timestamps
            # must match DuckDB's naive-UTC reads).
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            if os.environ.get("EVENT_STREAMER_PLAN_CACHE", "1") == "0":
                return fn(spark, sf_dir)
            if _NONLOCAL_RE.match(sf_dir):
                # a non-local (object-store) dir has no listable local
                # content identity — table_fingerprint returns None for
                # every table and the key would never invalidate, so
                # bypass (r13, ADVICE). A *locally missing* table is
                # different: its (t, None) entry is stable AND
                # invalidation-correct — if the file later appears the
                # fingerprint flips None→tuple and the key changes —
                # and partial fixture dirs (a tmp dir holding only
                # orders.parquet) rely on still being cacheable.
                return fn(spark, sf_dir)
            fps = _sf_fingerprint(sf_dir)
            key = (
                name,
                spark.sparkContext.applicationId,
                os.path.abspath(sf_dir),
                fps,
            )
            with _PLAN_LOCK:
                cached = _PLAN_CACHE.get(key)
            if cached is not None:
                return cached
            df = fn(spark, sf_dir)
            with _PLAN_LOCK:
                if len(_PLAN_CACHE) > 1024:  # stale sessions/fingerprints
                    _PLAN_CACHE.clear()
                _PLAN_CACHE[key] = df
            return df

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # introspection: point at the real body
        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "",
            covered_by=covered_by,
        )
        return fn

    return deco


# -- determinism helpers (Spark side) ---------------------------------

def money(col: Union[str, Column]) -> Column:
    """Exact decimal view of a 2-decimal money column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def dsum(col: Union[str, Column], alias: str) -> Column:
    """Order-stable SUM of money: exact decimal sum, then double."""
    return F.sum(money(col)).cast("double").alias(alias)


def davg(col: Union[str, Column], alias: str) -> Column:
    """Order-stable AVG of money: exact decimal sum / count, then round."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(money(c)).cast("double") / F.count(c), 6
    ).alias(alias)


def fmt_ts(col: Union[str, Column], alias: Optional[str] = None) -> Column:
    """Timestamp → 'yyyy-MM-dd HH:mm:ss' string (UTC) for stable hashing."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return out.alias(alias) if alias else out


def fmt_date(col: Union[str, Column], alias: Optional[str] = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    out = F.date_format(c, "yyyy-MM-dd")
    return out.alias(alias) if alias else out


# -- determinism helpers (oracle / DuckDB SQL fragments) ---------------

def o_money(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(18,2))"


def o_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM({o_money(expr)}) AS DOUBLE) AS {alias}"


def o_davg(expr: str, alias: str) -> str:
    return f"ROUND(CAST(SUM({o_money(expr)}) AS DOUBLE) / COUNT({expr}), 6) AS {alias}"


def o_fmt_ts(expr: str, alias: str) -> str:
    return f"strftime({expr}, '%Y-%m-%d %H:%M:%S') AS {alias}"


def o_fmt_date(expr: str, alias: str) -> str:
    return f"strftime({expr}, '%Y-%m-%d') AS {alias}"
