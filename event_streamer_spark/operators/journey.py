"""User-journey analytics (B60-B62): attribution, Markov transitions,
and top session paths.

The marketing/product questions an event stream exists to answer:
which first touch brings the users who buy (B60), how does behavior
flow step-to-step (B61), and what do sessions actually look like
(B62). All three are window + aggregate compositions over the same
``(user_id)`` partitioning — no UDFs, no driver state, and every
ordered window is pinned deterministic with the ``(ts, event_id)``
tiebreak. NULL timestamps are excluded on both engines (ordered-window
NULL placement diverges: Spark NULLS FIRST vs DuckDB NULLS LAST).

Scale posture: one shuffle on ``user_id`` feeds every per-user window
(work per partition bounded by events-per-user); the roll-ups after it
group on tiny keys (event-type pairs, truncated paths) and combine
map-side. The reference has no analytics surface; these extend the
funnel/retention family (``analytics.py``) along the journey axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_streamer_spark.operators.registry import query
from event_streamer_spark.tables import load

# Session gap for path analysis (micro-seconds) and the path-length cap
# that keeps a runaway session from emitting an unbounded group key.
_PATH_GAP_US = 30 * 60 * 1_000_000
_PATH_MAX_EVENTS = 8
_PATH_TOP_K = 20


@query(
    "b60_attribution",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts NULLS LAST,
                                         event_id NULLS LAST) AS rn_f,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC NULLS FIRST,
                                         event_id DESC NULLS FIRST) AS rn_l
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    rev AS (
      SELECT user_id,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS revenue_cents
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
            AND user_id IS NOT NULL
      GROUP BY user_id),
    f AS (SELECT user_id, event_type AS first_touch
          FROM ranked WHERE rn_f = 1),
    l AS (SELECT user_id, event_type AS last_touch
          FROM ranked WHERE rn_l = 1),
    touches AS (
      SELECT f.user_id, f.first_touch, l.last_touch
      FROM f JOIN l ON f.user_id = l.user_id)
    SELECT t.first_touch, t.last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COALESCE(SUM(COALESCE(r.revenue_cents, 0)), 0) AS BIGINT)
             AS revenue_cents
    FROM touches t FULL JOIN rev r ON t.user_id = r.user_id
    GROUP BY t.first_touch, t.last_touch
    """,
)
def b60_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """B60: first-/last-touch attribution — per (first event type,
    last event type) pair, how many users follow that arc and how much
    purchase revenue they generate.

    Both row_numbers (ascending and descending) ride the SAME user_id
    exchange, and the touch pair comes out of ONE conditional aggregate
    over that window pass — filtering rn=1 twice and self-joining would
    recompute the whole window subtree (plan-audited: 3 scans → 2).
    Revenue aggregates from its own unfiltered scan because a purchase
    with a NULL timestamp still earns money even though it cannot be
    ordered — and the revenue join is FULL outer (review r8): a user
    whose EVERY event has a NULL timestamp has no touch pair at all,
    and a left join would silently drop their money; they report under
    the (NULL, NULL) touch arc instead, keeping the output's revenue
    total equal to the corpus's. The join stays co-partitioned on
    user_id. Revenue is integer cents per the money protocol; users
    who never purchase attribute 0, not NULL.

    Domain (round-9 dirty corpus): NULL user_ids are excluded on both
    engines — attribution needs an identity, and left in, Spark's
    window pass gives the NULL partition a touch pair while the
    oracle's f⋈l equi-join drops it.
    """
    e = load(spark, sf, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    # one total order, reversed exactly for the last-touch pass: NULL
    # event_id tiebreaks pinned LAST ascending / FIRST descending on
    # both engines (round-9 dirty corpus)
    w_f = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    w_l = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc_nulls_first(),
        F.col("event_id").desc_nulls_first(),
    )
    touches = (
        e.select(
            "user_id",
            "event_type",
            F.row_number().over(w_f).alias("rn_f"),
            F.row_number().over(w_l).alias("rn_l"),
        )
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("rn_f") == 1, F.col("event_type"))
            ).alias("first_touch"),
            F.max(
                F.when(F.col("rn_l") == 1, F.col("event_type"))
            ).alias("last_touch"),
        )
    )
    rev = (
        load(spark, sf, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "revenue_cents"
            )
        )
    )
    return (
        touches.join(rev, "user_id", "full")
        .groupBy("first_touch", "last_touch")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.coalesce(
                F.sum(F.coalesce(F.col("revenue_cents"), F.lit(0))),
                F.lit(0),
            ).alias("revenue_cents"),
        )
    )


@query(
    "b61_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE ts IS NOT NULL)
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6)
             AS prob
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def b61_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """B61: first-order Markov transition matrix over event types —
    the behavioral bigram counts and row-normalized probabilities.

    One LAG window on the user_id exchange, then a group on the
    (prev, next) pair; the row normalization is a window over the
    #event-types² aggregate, not the events. The probability divides
    two exact BIGINTs and rounds, so it hashes identically on both
    engines.
    """
    e = load(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_norm = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_norm),
            6,
        ).alias("prob"),
    )


# The sessionize→path CTE chain, shared by the b62 ranking and b64
# pattern-match oracles (one definition, two consumers — the engine
# pair can't drift between the queries).
_SESSION_PATHS_CTES = f"""
    ordered AS (
      -- rno anchors every downstream window to the SAME tie order the
      -- lag saw (one window pass): re-sorting by (ts, event_id) lets
      -- exact-duplicate rows cross the is_new flag and split a session
      -- nondeterministically (r14 — the c3_session_window oracle class)
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                          > {_PATH_GAP_US}
                  THEN 1 ELSE 0 END AS is_new,
             ROW_NUMBER() OVER w AS rno
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY ts NULLS LAST, event_id NULLS LAST)),
    sess AS (
      SELECT user_id, event_type, rno,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY rno
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM ordered),
    numbered AS (
      SELECT user_id, session_seq, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                ORDER BY rno) AS rn
      FROM sess),
    paths AS (
      -- COALESCE: a session whose every event type is NULL aggregates
      -- to NULL here but to '' on the Spark side (collect_list skips
      -- NULL structs' types); both engines skip NULL types INSIDE a
      -- mixed path identically (round-9 dirty corpus)
      SELECT user_id, session_seq,
             COALESCE(STRING_AGG(event_type, '>' ORDER BY rn), '') AS path
      FROM numbered WHERE rn <= {_PATH_MAX_EVENTS}
      GROUP BY user_id, session_seq)
"""


def _session_paths(spark: SparkSession, sf: str) -> DataFrame:
    """``(user_id, session_seq, path)`` — the Spark twin of
    :data:`_SESSION_PATHS_CTES`; see ``b62_session_paths`` for the
    determinism notes."""
    e = load(spark, sf, "events").filter(F.col("ts").isNotNull())
    # NULL event_id tiebreaks pinned LAST on both engines (round 9)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    us = F.unix_micros(F.col("ts"))
    prev_us = F.unix_micros(F.lag("ts").over(w))
    # r14 (guide §2.4 — establish the ordering once): the whole chain
    # runs on ONE user_id exchange. The per-user row_number rides the
    # same Window pass as the lag; the within-session rank is
    # rn_user − (rn_user of the session's first event) + 1, where the
    # session-start rn is a running max in rn_user order — the r13
    # shape ran a second row_number over (user_id, session_seq, ts,
    # event_id). The session-start rn replaces session_seq as the group
    # key: both are unique per session within a user, and the key never
    # leaves this helper.
    ordered = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            prev_us.isNull() | ((us - prev_us) > _PATH_GAP_US), 1
        ).otherwise(0).alias("is_new"),
        F.row_number().over(w).alias("rn_user"),
    )
    # ordering by rn_user, not (ts, event_id), fixes the tie order of
    # exact-duplicate rows by the row_number above, as the SQL oracle's
    # running sum is anchored on rno; it costs a local sort on
    # (user_id, rn_user), no exchange
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("rn_user")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = ordered.withColumn(
        "session_start",
        # is_new=1 on every session's first row (lag NULL on the first
        # user row), so the running max is never NULL
        F.max(F.when(F.col("is_new") == 1, F.col("rn_user"))).over(w_run),
    )
    numbered = sess.select(
        "user_id",
        "event_type",
        "session_start",
        (F.col("rn_user") - F.col("session_start") + 1).alias("rn"),
    ).filter(F.col("rn") <= _PATH_MAX_EVENTS)
    return numbered.groupBy(
        "user_id", F.col("session_start").alias("session_seq")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x.event_type,
            ),
            ">",
        ).alias("path")
    )


@query(
    "b62_session_paths",
    oracle=f"""
    WITH {_SESSION_PATHS_CTES}
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_TOP_K}
    """,
)
def b62_session_paths(spark: SparkSession, sf: str) -> DataFrame:
    """B62: top-20 session event paths — sessionize per user with a
    30-minute gap (gaps-and-islands), truncate each session to its
    first 8 events (the cap bounds the group key; a runaway session
    cannot emit an unbounded string), and rank the resulting paths.

    All three windows (gap flag, running session id, within-session
    rank) share the single user_id exchange. The path itself is built
    from ``array_sort`` over ``collect_list(struct(rn, event_type))``
    — struct order makes the concat deterministic without trusting
    collect order — and the final top-k is a TakeOrdered over the
    #distinct-paths aggregate with the (count DESC, path) total order
    pinning the cut.
    """
    return (
        _session_paths(spark, sf)
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PATH_TOP_K)
    )


# Token-boundary-anchored conversion pattern (review r8): `(^|>)` and
# `($|>)` pin `signup`/`purchase` to whole path tokens — an unanchored
# `signup.*purchase` would false-match a `presignup` token and a
# `[a-z]+` intermediate class would miss event types containing `_` or
# digits. `(>.*)?>` allows ANY events (or none) between the two.
_CONVERSION_PATTERN = "(^|>)signup(>.*)?>purchase($|>)"


@query(
    "b64_session_conversion",
    oracle=f"""
    WITH {_SESSION_PATHS_CTES}
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COALESCE(SUM(CASE WHEN REGEXP_MATCHES(path,
                '{_CONVERSION_PATTERN}') THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_converting,
           ROUND(CAST(COALESCE(SUM(CASE WHEN REGEXP_MATCHES(path,
                '{_CONVERSION_PATTERN}') THEN 1 ELSE 0 END), 0)
                AS DOUBLE) / COUNT(*), 6) AS conversion_rate
    FROM paths GROUP BY user_id
    """,
)
def b64_session_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """B64: MATCH_RECOGNIZE-lite — per user, the share of sessions
    whose event sequence matches signup→…→purchase (any events
    between, within the same session).

    Sequence matching over a distributed event log without a pattern
    engine: sessionize, serialize each session to its path string
    (shared machinery with B62 — one definition, both oracles), and
    run an ordinary regexp over the bounded string. Spark ``RLIKE``
    and DuckDB ``REGEXP_MATCHES`` are both unanchored contains-matches
    (the dialect pair pinned by the round-8 fuzzer), and the 8-event
    cap bounds the regexp input. One user_id exchange end-to-end; the
    per-user roll-up stays on the same partitioning.
    """
    return (
        _session_paths(spark, sf)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("path").rlike(_CONVERSION_PATTERN), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_converting"),
        )
        .withColumn(
            "conversion_rate",
            F.round(
                F.col("n_converting").cast("double")
                / F.col("n_sessions"),
                6,
            ),
        )
    )


@query(
    "b63_running_distinct_users",
    oracle="""
    WITH active AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS d, user_id
      FROM events WHERE ts IS NOT NULL),
    first_day AS (
      SELECT event_type, user_id, MIN(d) AS d0
      FROM active GROUP BY event_type, user_id),
    new_users AS (
      SELECT event_type, d0 AS d, COUNT(*) AS n_new
      FROM first_day GROUP BY event_type, d0),
    daily AS (
      SELECT event_type, d, COUNT(*) AS n_active
      FROM active GROUP BY event_type, d)
    SELECT da.event_type, strftime(da.d, '%Y-%m-%d') AS d,
           da.n_active,
           CAST(SUM(COALESCE(nu.n_new, 0))
                OVER (PARTITION BY da.event_type ORDER BY da.d
                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_distinct_users
    FROM daily da
    LEFT JOIN new_users nu
      ON nu.event_type = da.event_type AND nu.d = da.d
    """,
)
def b63_running_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """B63: running distinct-user counts per event type by day — the
    portable rewrite of ``COUNT(DISTINCT) OVER``, which neither engine
    supports in a window.

    Recipe: a user contributes to the cumulative count exactly once,
    on their first active day — so distinct-so-far = running SUM of
    first-day counts. Three map-combinable aggregates (active days,
    first day per user, new-user counts) plus one cumulative window
    over the #types × #days table — never over the events. Daily
    active counts ride the same ``active`` dedup. At 100 TB this is
    the difference between a per-day DISTINCT re-scan (quadratic in
    history) and one pass.
    """
    e = load(spark, sf, "events").filter(F.col("ts").isNotNull())
    active = e.select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    first_day = active.groupBy("event_type", "user_id").agg(
        F.min("d").alias("d0")
    )
    new_users = first_day.groupBy(
        "event_type", F.col("d0").alias("d")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    daily = active.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        daily.join(new_users, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            "n_active",
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w)
            .alias("cum_distinct_users"),
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "n_active",
            "cum_distinct_users",
        )
    )


@query(
    "b65_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                  ORDER BY o_orderstatus NULLS LAST,
                                           o_totalprice NULLS LAST) AS rn
        FROM orders) WHERE rn = 1),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0
                  THEN ROUND(o_totalprice + 1.0, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM old WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000, 'O', 1.23 FROM old
      WHERE o_orderkey % 25 = 0)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type
    FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR ROUND(o.o_totalprice * 100) <> ROUND(n.o_totalprice * 100)
    """,
)
def b65_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """B65: keyed snapshot CDC diff (`writers.snapshot_diff`) as a
    registered query — "new" is a deterministic perturbation of the
    orders snapshot (every 10th key deleted, every 3rd repriced by a
    dollar, every 25th re-inserted under a shifted key), so the oracle
    can state the expected insert/delete/update classification as
    plain relational algebra while the Spark side exercises the
    library's hash-reduced full-outer-join path. Money compared at
    integer cents on the oracle side to match the hash's string-cast
    exactness.
    """
    from pyspark.sql import Window

    from event_streamer_spark.writers import snapshot_diff

    # a snapshot is a MAP key -> payload: a CDC diff over a NON-unique
    # key is ill-defined (the round-10 sf0.01 hostile corpus planted
    # conflicting duplicate orderkeys and the engines classified the
    # 2x2 pair fan-out differently). Canonicalize each snapshot to one
    # row per key (min payload, NULLS LAST pinned) on BOTH engines —
    # the same precondition d1 span dedup enforces for doc_id.
    wk = Window.partitionBy("o_orderkey").orderBy(
        F.col("o_orderstatus").asc_nulls_last(),
        F.col("o_totalprice").asc_nulls_last(),
    )
    base = (
        load(spark, sf, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    new = (
        base.filter(F.col("o_orderkey") % 10 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.round(F.col("o_totalprice") + 1.0, 2),
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 25 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                F.lit("O").alias("o_orderstatus"),
                F.lit(1.23).alias("o_totalprice"),
            )
        )
    )
    return snapshot_diff(base, new, ["o_orderkey"])
