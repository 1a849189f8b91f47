"""Temporal joins & reshaping: as-of join, pivot/unpivot, sliding windows,
salted skew join (SURVEY.md §2.3/§2.9 extensions).

The reference has no joins at all (SURVEY.md §2.3, verified by full read);
these are the time-series and skew-safe join forms the north star needs
that plain equi-joins don't give:

* **as-of join** — "latest prior fact" matching, the backbone of feature
  back-filling (point-in-time-correct features for training data).
* **pivot/unpivot** — long↔wide reshaping for feature matrices.
* **sliding windows** — overlapping time aggregates.
* **salted join** — the skew-mitigation pattern for hot keys, proven
  semantically identical to the plain join by the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataframework_spark.catalog import load_table
from dataframework_spark.registry import register

# ---------------------------------------------------------------------------
# As-of join: each purchase matched to the user's most recent prior signup
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """As-of (backward) join: for each left row, attach the latest right row
    with ``right_ts <= left_ts`` on the same key.

    Implemented as the union + windowed ``last(ignorenulls)`` backfill
    (SURVEY.md §2.3) rather than a range join: both sides are tagged and
    interleaved on (key, ts); one window pass per key carries the most
    recent right-side values forward onto left rows.  ONE shuffle on the
    key, O(n log n) within partitions — no quadratic range-condition
    blow-up, and skewed keys are still just one partition's sort.
    """
    rc = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    lt = left.select(
        F.col(on), F.col(left_ts).alias("_ts"), F.lit(1).alias("_is_left"),
        *[F.col(c) for c in left.columns if c not in (on, left_ts)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}") for c in rc],
    )
    rt = right.select(
        F.col(on), F.col(right_ts).alias("_ts"), F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in (on, left_ts)],
        *[F.col(c).alias(f"{c}{suffix}") for c in rc],
    )
    # right rows sort before left rows at equal ts (ties: right visible to left)
    w = (
        Window.partitionBy(on)
        .orderBy("_ts", "_is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = lt.unionByName(rt)
    for c in rc:
        filled = filled.withColumn(f"{c}{suffix}", F.last(f"{c}{suffix}", ignorenulls=True).over(w))
    filled = filled.withColumn("_asof_ts", F.last(F.when(F.col("_is_left") == 0, F.col("_ts")), ignorenulls=True).over(w))
    return (
        filled.where(F.col("_is_left") == 1)
        .drop("_is_left")
        .withColumnRenamed("_ts", left_ts)
    )


@register(
    "join_asof_events",
    oracle="""
    WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
    SELECT p.user_id,
           p.ts                                   AS purchase_ts,
           ROUND(p.value, 2)                      AS purchase_value,
           MAX(s.ts)                              AS last_signup_ts
    FROM p LEFT JOIN s ON s.user_id = p.user_id AND s.ts <= p.ts
    GROUP BY p.user_id, p.ts, p.value
    """,
)
def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase event picks up the user's most recent
    prior signup timestamp (point-in-time-correct feature attachment).

    The oracle states the semantics as the classic inequality-join +
    ``MAX`` formulation (O(n·m) if executed literally); the Spark plan is
    the linear union+window form from :func:`asof_join` — same answer,
    single shuffle.  This asymmetry is the point: declare once, pick the
    physical strategy that survives scale."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "event_type", "value"])
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("ts").alias("signup_ts")
    )
    joined = asof_join(purchases, signups, on="user_id", right_cols=["signup_ts"])
    return joined.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
        F.col("signup_ts_asof").alias("last_signup_ts"),
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot (long ↔ wide)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "reshape_pivot",
    oracle=f"""
    SELECT user_id,
      {", ".join(f"ROUND(COALESCE(SUM(value) FILTER (event_type = '{t}'), 0), 2) AS {t}_value" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: per-user sum of ``value`` per event type as columns.

    The value list is declared explicitly, which keeps pivot a SINGLE
    groupBy shuffle — omitting it would add a distinct-values collect
    before planning (an extra pass over 100 TB).  Sums are left unrounded
    here and rounded at the edge for hash stability."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_type", "value"])
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.coalesce(F.sum("value"), F.lit(0.0)))
    )
    out = wide.select(
        "user_id", *[F.round(F.coalesce(F.col(t), F.lit(0.0)), 2).alias(f"{t}_value") for t in _EVENT_TYPES]
    )
    return out


# oracle must round identically: wrap the pivot sums
@register(
    "reshape_unpivot",
    oracle=f"""
    WITH wide AS (
      SELECT user_id,
        {", ".join(f"COALESCE(SUM(value) FILTER (event_type = '{t}'), 0) AS {t}" for t in _EVENT_TYPES)}
      FROM events GROUP BY user_id),
    long AS (
      SELECT user_id, kv.k AS event_type, kv.v AS total
      FROM wide, LATERAL (VALUES {", ".join(f"('{t}', {t})" for t in _EVENT_TYPES)}) AS kv(k, v))
    SELECT user_id, event_type, ROUND(total, 2) AS total
    FROM long WHERE total > 0
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (``stack``/melt) back from the pivoted form —
    the inverse reshape, narrow per-row work after the pivot's shuffle."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_type", "value"])
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.coalesce(F.sum("value"), F.lit(0.0)))
    )
    for t in _EVENT_TYPES:
        wide = wide.withColumn(t, F.coalesce(F.col(t), F.lit(0.0)))
    stack_expr = "stack({n}, {args}) as (event_type, total)".format(
        n=len(_EVENT_TYPES), args=", ".join(f"'{t}', {t}" for t in _EVENT_TYPES)
    )
    return (
        wide.select("user_id", F.expr(stack_expr))
        .where(F.col("total") > 0)
        .select("user_id", "event_type", F.round("total", 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# Sliding (overlapping) time windows
# ---------------------------------------------------------------------------


@register(
    "window_sliding_hourly",
    oracle="""
    WITH w AS (
      SELECT e.event_type, e.value,
             date_trunc('hour', e.ts) - (off.o * INTERVAL 30 MINUTE)
               + CASE WHEN minute(e.ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END AS window_start
      FROM events e, (VALUES (0), (1)) AS off(o))
    SELECT window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM w GROUP BY window_start, event_type
    """,
)
def window_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in exactly
    two windows).  ``window()`` replicates rows window-count times BEFORE
    the shuffle — at scale the fan-out factor (width/slide) is the cost
    knob, so keep it small and let partial aggregation shrink the shuffle.

    The oracle derives the two containing window starts arithmetically —
    same fan-out, declared relationally."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "event_type", "value"])
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# Salted join (skew mitigation), oracle-proven equivalent to the plain join
# ---------------------------------------------------------------------------

_N_SALT = 8


def salted_join(
    big: DataFrame, small: DataFrame, big_key: str, small_key: str, n_salt: int = _N_SALT
) -> DataFrame:
    """Skew-safe equi-join: the big side gets a deterministic salt from its
    row content; the small side is replicated ``n_salt`` times with every
    salt value; the join key becomes (key, salt).

    A hot key's rows now spread across ``n_salt`` partitions instead of
    melting one straggler task.  Cost: small side inflates n_salt× (it is
    small — that's why it's the replicated side).  AQE's skew-join split
    handles moderate skew automatically; explicit salting is for the
    pathological keys you know about (null-heavy foreign keys, celebrity
    users)."""
    salted_big = big.withColumn("_salt", F.pmod(F.xxhash64(F.col(big_key)) + F.monotonically_increasing_id(), F.lit(n_salt)))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("_salt")
    salted_small = small.select("*", salts)
    return salted_big.join(
        salted_small,
        (F.col(big_key) == F.col(small_key)) & (salted_big["_salt"] == salted_small["_salt"]),
    ).drop("_salt")


@register(
    "join_salted_skew",
    oracle="""
    SELECT n.n_name,
           COUNT(*)                     AS n_customers,
           ROUND(SUM(c.c_acctbal), 2)   AS sum_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation via explicit salting (8 salts), aggregated per
    nation — the oracle runs the PLAIN join, proving the salted plan is
    semantically identical (the whole point of salting: same answer,
    different partition layout)."""
    cust = load_table(spark, sf_dir, "customer", columns=["c_nationkey", "c_acctbal"])
    nation = load_table(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    joined = salted_join(cust, nation, "c_nationkey", "n_nationkey")
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


@register(
    "events_gap_fill_daily",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             COUNT(*) AS n, ROUND(SUM(value), 2) AS sv
      FROM events GROUP BY 1, 2),
    spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
    cal AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM spans)
    SELECT c.user_id, c.day,
           COALESCE(d.n, 0)             AS n_events,
           ROUND(COALESCE(d.sv, 0), 2)  AS sum_value
    FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
    """,
)
def events_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill (time-series densification): per-user daily
    aggregates with an explicit zero row for every silent day between the
    user's first and last activity.

    Spark-first plan: instead of building a calendar table and left-joining
    it back (the oracle's formulation — which Catalyst plans as TWO scans
    of the raw events, because the min/max aggregate collapses through the
    daily aggregate and breaks subplan reuse), each daily row looks at the
    *next* active day via ``lead()`` and generates the missing dates in
    between itself.  One scan, one daily-aggregate shuffle, one small
    window exchange over the aggregated rows, **no join** — the plan is
    pinned by ``test_gap_fill_single_scan_no_join``.  Missing days emit 0,
    not "no row" — the distinction downstream forecasting code depends
    on."""
    from pyspark.sql.window import Window

    from dataframework_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"])
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    spanned = daily.withColumn("next_day", F.lead("day").over(w))
    exploded = spanned.select(
        "user_id",
        "day",
        "n",
        "sv",
        F.explode(
            F.sequence(
                F.col("day"),
                F.coalesce(F.date_sub("next_day", 1), F.col("day")),
            )
        ).alias("cal_day"),
    )
    is_active = F.col("cal_day") == F.col("day")
    return exploded.select(
        "user_id",
        F.col("cal_day").alias("day"),
        F.when(is_active, F.col("n")).otherwise(F.lit(0)).alias("n_events"),
        F.round(F.when(is_active, F.col("sv")).otherwise(F.lit(0.0)), 2).alias("sum_value"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_viewed,
           (SELECT COUNT(*) FROM s3) AS n_purchased
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → later view → later purchase):
    how many users reach each stage, where each stage must happen strictly
    after the previous one.

    Spark-first plan: the oracle's staged-join formulation (the readable
    spec) would scan events three times; here the three stage timestamps
    are *conditional window minimums over one user partition* — one scan,
    ONE exchange on user_id, three window passes that all reuse the same
    partitioning, then a tiny global aggregate.  The idiom generalizes to
    any funnel depth without extra shuffles."""
    from dataframework_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "event_type"])
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "view") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return staged.agg(
        F.countDistinct(F.when(F.col("t1").isNotNull(), F.col("user_id"))).alias("n_signup"),
        F.countDistinct(F.when(F.col("t2").isNotNull(), F.col("user_id"))).alias("n_viewed"),
        F.countDistinct(F.when(F.col("t3").isNotNull(), F.col("user_id"))).alias(
            "n_purchased"
        ),
    )


@register(
    "events_user_retention",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1),
    r AS (
      SELECT f.cohort_day, datediff('day', f.cohort_day, d.day) AS day_offset,
             COUNT(*) AS n_active
      FROM d JOIN f USING (user_id) GROUP BY 1, 2),
    c AS (SELECT cohort_day, COUNT(*) AS cohort_n FROM f GROUP BY 1)
    SELECT r.cohort_day, r.day_offset, r.n_active,
           ROUND(r.n_active::DOUBLE / c.cohort_n, 4) AS retention
    FROM r JOIN c USING (cohort_day)
    """,
)
def events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, then for
    each day-offset the count (and fraction) of that cohort active again —
    the standard growth-analytics triangle.

    Plan shape for 100 TB: the oracle states it as distinct + self-join +
    cohort-size join (three passes over events); the Spark plan does it
    join-free in ONE scan — ``collect_set(day)`` per user (map-side partial,
    one shuffle on user_id; a user's distinct-day set is bounded by the
    observation window, so sets stay small), then each user row emits its
    (cohort_day = array_min, day_offset) pairs narrowly.  The cohort size
    never needs a join at all: every user is active on their own first day,
    so cohort_n ≡ n_active at offset 0 — recovered by a window over the
    already-tiny (cohort × offset) aggregate.  ``day_offset`` is cast to
    bigint to match the oracle dialect's datediff type exactly."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
    per_user = ev.groupBy("user_id").agg(
        F.collect_set(F.to_date("ts")).alias("days")
    )
    offs = per_user.select(
        F.array_min("days").alias("cohort_day"), F.explode("days").alias("day")
    ).select(
        "cohort_day",
        F.datediff(F.col("day"), F.col("cohort_day")).cast("bigint").alias("day_offset"),
    )
    r = offs.groupBy("cohort_day", "day_offset").agg(F.count(F.lit(1)).alias("n_active"))
    w = Window.partitionBy("cohort_day")
    cohort_n = F.max(F.when(F.col("day_offset") == 0, F.col("n_active"))).over(w)
    return r.select(
        "cohort_day",
        "day_offset",
        "n_active",
        F.round(F.col("n_active").cast("double") / cohort_n, 4).alias("retention"),
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
    SELECT p.user_id,
           p.ts                                   AS purchase_ts,
           ROUND(p.value, 2)                      AS purchase_value,
           MAX(s.ts)                              AS recent_signup_ts
    FROM p LEFT JOIN s
      ON s.user_id = p.user_id
     AND s.ts <= p.ts
     AND s.ts >= p.ts - INTERVAL 72 HOURS
    GROUP BY p.user_id, p.ts, p.value
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: each purchase attaches the
    most recent prior signup ONLY if it happened within the last 72 hours —
    merge_asof's ``tolerance`` parameter, the guard real feature pipelines
    need against silently joining months-stale facts.

    Same linear union+window plan as :func:`asof_join` (the tolerance adds
    zero shuffles): the backward-fill finds the latest prior match, then a
    narrow timestamp comparison nulls it out when it exceeds the bound.
    The oracle is the bounded-inequality-join formulation — quadratic if
    executed literally, identical semantics."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "event_type", "value"])
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("ts").alias("signup_ts")
    )
    joined = asof_join(purchases, signups, on="user_id", right_cols=["signup_ts"])
    within = F.col("signup_ts_asof") >= F.col("ts") - F.expr("INTERVAL 72 HOURS")
    return joined.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
        F.when(within, F.col("signup_ts_asof")).alias("recent_signup_ts"),
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1)
    SELECT day, n_events,
           ROUND((n_events - AVG(n_events) OVER ()) / STDDEV_POP(n_events) OVER (), 4) AS z,
           ABS((n_events - AVG(n_events) OVER ()) / STDDEV_POP(n_events) OVER ()) > 2 AS is_anomaly
    FROM daily
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: z-score of each day's event count
    against the whole observation window, flagging |z| > 2 — the
    monitoring query every ingestion pipeline runs over its own metrics.

    The raw scan collapses to one row per DAY before any window math
    (calendar-sized: ~36.5k rows for a century); the corpus mean/stddev
    are a one-row aggregate of that, broadcast back with a cross join —
    no whole-table window frame anywhere."""
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n_events"))
    stats = daily.agg(
        F.avg("n_events").alias("_mu"), F.stddev_pop("n_events").alias("_sd")
    )
    daily = daily.crossJoin(F.broadcast(stats))
    z = (F.col("n_events") - F.col("_mu")) / F.col("_sd")
    return daily.select(
        "day",
        "n_events",
        F.round(z, 4).alias("z"),
        (F.abs(z) > 2).alias("is_anomaly"),
    )


@register(
    "events_scd2_state",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    c AS (
      SELECT user_id, event_type AS state, ts AS effective_from
      FROM o WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, state, effective_from,
           LEAD(effective_from) OVER (PARTITION BY user_id ORDER BY effective_from)
             AS effective_to,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY effective_from)
             AS version,
           LEAD(effective_from) OVER (PARTITION BY user_id ORDER BY effective_from)
             IS NULL AS is_current
    FROM c
    """,
)
def events_scd2_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each user's event
    stream into state intervals — a new version whenever ``event_type``
    changes, with ``effective_from``/``effective_to`` validity bounds and an
    ``is_current`` flag on the open-ended row.  This is the standard
    history-preserving dimension load (Kimball SCD2) that warehouse
    pipelines run over CDC streams.

    Plan: one shuffle on user_id, then ALL window math (change detection
    via ``lag``, interval close via ``lead``, version numbering) runs in a
    single per-user sorted pass — Spark evaluates the three functions over
    one Window spec without re-exchanging.  Ordering ties on ts are broken
    by event_id so the plan is deterministic (oracle discipline: no
    unordered LAG)."""
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id", "ts", "event_type"])
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("event_type").over(w_ord))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", F.col("event_type").alias("state"), F.col("ts").alias("effective_from"))
    )
    w_ver = Window.partitionBy("user_id").orderBy("effective_from")
    eff_to = F.lead("effective_from").over(w_ver)
    return changes.select(
        "user_id",
        "state",
        "effective_from",
        eff_to.alias("effective_to"),
        F.row_number().over(w_ver).alias("version"),
        eff_to.isNull().alias("is_current"),
    )


@register(
    "events_ewma_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1),
    acc AS (
      SELECT day, n_events,
             list(n_events) OVER (ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
      FROM daily)
    SELECT day, n_events,
           ROUND(list_reduce(list_transform(xs, x -> x::DOUBLE),
                             (acc, v) -> 0.3 * v + 0.7 * acc), 4) AS ewma
    FROM acc
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume
    (alpha = 0.3, pandas ``ewm(adjust=False)`` recurrence: ewma_1 = x_1,
    ewma_t = 0.3·x_t + 0.7·ewma_{t-1}) — the smoothing baseline behind
    alerting thresholds and trend dashboards.

    EWMA's recurrence is not a frame-able window aggregate, so each day
    folds its prefix of daily counts with ``aggregate`` over a windowed
    ``collect_list``.  That prefix is CALENDAR-sized, not data-sized: the
    raw scan collapses to one row per day first (one shuffle), so even a
    century of 100 TB telemetry folds ≤36.5k-element arrays — the global
    window runs over the tiny aggregate only.  For per-entity EWMA the
    identical plan partitions the window by key."""
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy().orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)  # _GLOBAL_WINDOW_OK: input is the per-day aggregate (calendar-sized)
    acc = daily.withColumn("xs", F.collect_list("n_events").over(w))
    fold = (
        "aggregate(slice(xs, 2, size(xs) - 1), cast(element_at(xs, 1) as double), "
        "(acc, v) -> 0.3 * v + 0.7 * acc)"
    )
    return acc.select("day", "n_events", F.round(F.expr(fold), 4).alias("ewma"))


@register(
    "events_max_concurrency",
    oracle="""
    WITH pts AS (
      SELECT ts AS p, 1 AS d FROM events
      UNION ALL
      SELECT ts + INTERVAL 15 MINUTES AS p, -1 AS d FROM events),
    net AS (SELECT p, SUM(d) AS nd FROM pts GROUP BY p),
    run AS (
      SELECT p, SUM(nd) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS conc
      FROM net)
    SELECT CAST(p AS DATE) AS day, CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM run GROUP BY 1
    """,
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval sweep-line: peak number of concurrently-active sessions per
    day, modeling each event as a 15-minute activity interval — the
    capacity-planning query (peak load, license seats, connection pools).

    The textbook sweep is a GLOBAL ordered running sum over ±1 deltas —
    a single-partition sort over data-sized input, the oracle's (fine for
    DuckDB) formulation and exactly what a 100 TB plan must avoid.  This
    plan factors it: (1) net deltas collapse to one row per distinct
    timestamp (one shuffle, partial-agg'd map-side); (2) the running sum
    runs INSIDE each day partition — parallel across days; (3) each day's
    carry-in (concurrency inherited at midnight) is the prefix sum of
    per-day delta totals, a calendar-sized global window; (4) carry is
    broadcast back.  Identity: global_prefix(t) = day_prefix(t) +
    carry(day(t)), so values match the oracle exactly."""
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    # r12 opt (guide §2.4 + §1.2): ONE events scan (the ±1 endpoint pair is
    # exploded per row instead of a two-leg self-union — one full read, not
    # two); the midnight carry folds on the CALENDAR-sized day frame and the
    # answer is max_run + carry per day — the old shape's broadcast join
    # back onto data-sized rows (and the double evaluation of the delta
    # pipeline that fed it) is gone.
    # r13 opt (r12 ADVICE; guide §2.2/§2.5): the r12 form pushed RAW
    # endpoint rows through an explicit repartition("day") — an exchange
    # keyed on a calendar-cardinality column (parallelism capped at #days,
    # a hot day lands on one task) whose barrier also forfeited map-side
    # partial aggregation.  Now the deltas collapse via groupBy(day, p)
    # (fine-grained keys, partial-agg'd map-side), and only DISTINCT
    # timestamps cross the second, day-keyed exchange for the in-day
    # prefix window — bounded by seconds-per-day × days, not by data.
    pts = ev.select(
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("p"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("p"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("x")
    ).select(F.col("x.p").alias("p"), F.col("x.d").alias("d")).withColumn(
        "day", F.to_date("p")
    )
    net = pts.groupBy("day", "p").agg(F.sum("d").alias("nd"))
    w_in_day = (
        Window.partitionBy("day").orderBy("p").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run_in_day = net.withColumn("run", F.sum("nd").over(w_in_day))
    per_day = run_in_day.groupBy("day").agg(
        F.max("run").alias("max_run"), F.sum("nd").alias("day_net")
    )
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)  # _GLOBAL_WINDOW_OK: input is the per-day aggregate (calendar-sized)
    carry = per_day.withColumn("carry", F.coalesce(F.sum("day_net").over(w_days), F.lit(0)))
    # identity: global_prefix(t) = day_prefix(t) + carry(day(t)), and carry
    # is constant within a day, so max(global) = max(day_prefix) + carry
    return carry.select("day", (F.col("max_run") + F.col("carry")).alias("max_concurrent"))


@register(
    "events_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
      FROM events),
    c AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY from_type), 4) AS p
    FROM c
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain of user behavior: for every ordered pair of
    consecutive events within a user's stream, the transition count and the
    row-normalized probability P(next=b | current=a) — the model behind
    next-action prediction, funnel leak detection, and session-replay
    compression.

    Plan: one shuffle on user_id for the ``lead`` ordering pass, then the
    pair counts partial-aggregate into a |types|² table; normalization is
    a window over that tiny matrix.  Sequence order ties on ts break by
    event_id, so the chain is deterministic in both engines."""
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    c = s.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 4).alias("p"),
    )


# ---------------------------------------------------------------------------
# OHLC downsampling: per-user daily open/high/low/close bars
# ---------------------------------------------------------------------------


@register(
    "events_ohlc_daily",
    oracle="""
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           round(arg_min(value, ts), 2) AS open,
           round(max(value), 2)        AS high,
           round(min(value), 2)        AS low,
           round(arg_max(value, ts), 2) AS close,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to daily OHLC bars per user — the
    classic resample/rollup every metrics store (and every hypertable
    continuous aggregate) is built on.

    ``min_by``/``max_by`` give open/close in the SAME single aggregate
    as high/low — no window, no self-join, one shuffle on the
    (user, day) key, partial aggregation map-side.  (user_id, ts) is
    unique in the data, so the ts key is a total order and arg_min /
    min_by agree across engines.  At 100 TB: the bar table is
    days×users sized — this is the canonical pre-aggregation that later
    queries (EWMA, anomaly flags) read instead of raw events."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"])
    return ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.min_by("value", "ts"), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.max_by("value", "ts"), 2).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Inter-order gap statistics per customer
# ---------------------------------------------------------------------------


@register(
    "window_order_gaps",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS gap
      FROM orders)
    SELECT o_custkey, COUNT(*) AS n_gaps,
           round(AVG(gap), 2) AS avg_gap_days,
           MIN(gap) AS min_gap_days, MAX(gap) AS max_gap_days
    FROM g WHERE gap IS NOT NULL GROUP BY 1
    """,
)
def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase cadence: days between consecutive orders per
    customer (lag diff), rolled up to per-customer gap statistics — the
    churn-risk / reorder-prediction feature.  Orderkey tiebreak makes
    same-day sequences deterministic.  One shuffle on o_custkey serves
    BOTH the lag window and the groupBy (AQE reuses the partitioning);
    at 100 TB this is one sort-within-partition pass over orders."""
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_custkey", "o_orderkey", "o_orderdate"]
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap"), 2).alias("avg_gap_days"),
        F.min("gap").alias("min_gap_days"),
        F.max("gap").alias("max_gap_days"),
    )


# ---------------------------------------------------------------------------
# Weekly seasonality profile: day-of-week × hour-of-day activity grid
# ---------------------------------------------------------------------------


@register(
    "events_seasonality_profile",
    oracle="""
    SELECT isodow(ts) AS dow, hour(ts) AS hod,
           COUNT(*) AS n_events,
           ROUND(AVG(CAST(ROUND(value * 100) AS BIGINT))) / 100 AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality heat-grid: event count and mean value for each
    (day-of-week × hour-of-day) cell — the profile behind traffic
    forecasting and anomaly baselines.  Spark ``weekday()`` is Mon=0,
    DuckDB ``isodow`` is Mon=1; the +1 pins the ISO convention in both
    dialects.  Aggregate is 168 cells — fully map-side combinable, the
    exchange is constant-size at any corpus scale.

    ``value`` carries whole cents, so the mean is taken over integer
    cents and rounded to a whole cent before the division by 100: the
    sum is then exact in any order, where a double sum's last bits depend
    on the summation order and can round a mean on a half cent apart
    (95.02 vs 95.03 at sf0.001)."""
    ev = load_table(spark, sf_dir, "events", columns=["ts", "value"])
    return ev.groupBy(
        (F.weekday("ts") + F.lit(1)).alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.round(F.avg(F.round(F.col("value") * 100).cast("bigint"))) / 100).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Path analysis: most common 3-step behavior sequences
# ---------------------------------------------------------------------------


@register(
    "events_top_paths",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts) AS e3
      FROM events)
    SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
    FROM s WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path LIMIT 25
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 25 three-step behavior paths (consecutive event-type
    trigrams per user) — the path-analysis primitive behind funnel
    discovery, generalizing ``events_markov_transitions`` beyond first
    order.  Two leads in ONE window pass (same user_id sort serves
    both); the trigram-count exchange is bounded by |types|³ = 125
    rows, and the final top-k is TakeOrderedAndProject.  (user_id, ts)
    is unique so sequences are deterministic."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy("ts")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    return (
        s.select(F.concat_ws(">", "event_type", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Robust anomaly flags: median absolute deviation on daily volume
# ---------------------------------------------------------------------------


@register(
    "events_anomaly_mad",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*)::DOUBLE AS n
               FROM events GROUP BY 1),
    med AS (SELECT quantile_cont(n, 0.5) AS m FROM d),
    mad AS (SELECT quantile_cont(abs(n - m), 0.5) AS mad FROM d, med)
    SELECT day, CAST(n AS BIGINT) AS n_events,
           round((n - m) / (1.4826 * mad), 2) AS robust_z,
           CAST(abs(n - m) > 3 * 1.4826 * mad AS INT) AS is_anomaly
    FROM d, med, mad
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly flags via median absolute deviation —
    the breakdown-resistant sibling of ``events_anomaly_zscore``: one
    wild day inflates a stddev (masking itself) but moves a median
    barely at all.  Two exact medians over the CALENDAR-sized daily
    aggregate (data-sized work is only the first count), both broadcast
    back; daily counts are integers, so medians and deviations are
    exact binary fractions — no cross-engine interpolation ulps.
    1.4826·MAD estimates σ under normality, making ±3 comparable to the
    z-score query's threshold."""
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    med = d.agg(F.percentile("n", F.lit(0.5)).alias("m"))
    mad = d.crossJoin(F.broadcast(med)).agg(
        F.percentile(F.abs(F.col("n") - F.col("m")), F.lit(0.5)).alias("mad")
    )
    return (
        d.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "day",
            F.col("n").cast("long").alias("n_events"),
            F.round((F.col("n") - F.col("m")) / (1.4826 * F.col("mad")), 2).alias("robust_z"),
            (F.abs(F.col("n") - F.col("m")) > 3 * 1.4826 * F.col("mad"))
            .cast("int")
            .alias("is_anomaly"),
        )
    )


class BucketDensityExceeded(RuntimeError):
    """An interval-overlap bucket holds more intervals than the caller's
    ``max_per_bucket`` cap — the pair expansion for that bucket alone
    would emit ~n²/2 rows, which is the documented way this operator
    melts a cluster on a skewed tenant (SCALE.md: 270 s at the 10×
    replica purely from output growth)."""


def overdense_buckets(
    iv: DataFrame, bucket: str, max_per_bucket: int
) -> DataFrame:
    """Buckets whose interval count exceeds the cap, with their counts —
    a bucket-sized aggregate (one exchange over |buckets| rows), cheap to
    inspect before or after a guarded run."""
    return (
        iv.groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("n_intervals"))
        .where(F.col("n_intervals") > max_per_bucket)
    )


def interval_overlap_pairs(
    iv: DataFrame,
    bucket: str = "day",
    ident: str = "user_id",
    start: str = "s",
    end: str = "e",
    max_per_bucket: int | None = None,
    on_exceed: str = "error",
) -> DataFrame:
    """Bucket-local interval-overlap pair join with an optional density
    guard (the knob VERDICT r3 #6 asked for).

    The join itself is linear in its OUTPUT: per bucket the pair count is
    ~n²/2 for n co-active intervals, so one pathological bucket (a bot
    account, a replayed tenant) dominates the whole job.  The guard runs
    a bucket-sized aggregate first (one exchange over |buckets| rows —
    negligible next to the pair expansion it protects):

    * ``max_per_bucket=None`` (default) — exact semantics, no guard;
    * ``on_exceed="error"`` — raise :class:`BucketDensityExceeded` naming
      the densest offending bucket BEFORE the quadratic stage runs (the
      pre-check is a bounded one-row driver action);
    * ``on_exceed="prune"`` — drop over-dense buckets and continue; call
      :func:`overdense_buckets` with the same cap to enumerate exactly
      what was dropped (no silent truncation).
    """
    # Validate on_exceed unconditionally: a caller passing a typo (or
    # 'prune' with no cap, expecting a guard) must hear about it at entry,
    # not silently get the unguarded quadratic join.
    if on_exceed not in ("error", "prune"):
        raise ValueError(f"on_exceed must be 'error' or 'prune', got {on_exceed!r}")
    if max_per_bucket is not None:
        if on_exceed == "error":
            worst = (
                overdense_buckets(iv, bucket, max_per_bucket)
                .orderBy(F.desc("n_intervals"))
                .first()
            )
            if worst is not None:
                raise BucketDensityExceeded(
                    f"bucket {worst[bucket]!r} holds {worst['n_intervals']} "
                    f"intervals (cap {max_per_bucket}): ~"
                    f"{worst['n_intervals'] ** 2 // 2} pairs from one bucket. "
                    "Raise the cap, use a finer bucket, or pass "
                    "on_exceed='prune'."
                )
        elif on_exceed == "prune":
            ok = (
                iv.groupBy(bucket)
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") <= max_per_bucket)
                .drop("_n")
            )
            iv = iv.join(ok, bucket)
    a = iv.select(
        F.col(ident).alias("id_a"), F.col(bucket).alias("_bkt"),
        F.col(start).alias("s_a"), F.col(end).alias("e_a"),
    )
    b = iv.select(
        F.col(ident).alias("id_b"), F.col(bucket).alias("_bkt_b"),
        F.col(start).alias("s_b"), F.col(end).alias("e_b"),
    )
    return a.join(
        b,
        (F.col("_bkt") == F.col("_bkt_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("s_a") <= F.col("e_b"))
        & (F.col("s_b") <= F.col("e_a")),
    ).drop("_bkt", "_bkt_b")


@register(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(ts) AS s, MAX(ts) AS e
      FROM events GROUP BY 1, 2)
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           COUNT(*) AS n_overlap_days,
           ROUND(SUM(epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s)))
                 / 60000000.0, 2) AS total_overlap_min
    FROM iv a JOIN iv b
      ON a.day = b.day
     AND a.user_id < b.user_id
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY 1, 2
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed interval-overlap join: per (user, day) activity
    interval [first event, last event], find all user pairs whose
    intervals intersect and total their concurrent minutes — the
    concurrency/co-presence join (Flink interval join, spatial binning).

    The scale shape: the equi key is the TIME BUCKET (day) — the classic
    interval-join binning that turns an unbounded theta join into a
    bucket-local one; the precise overlap test is a cheap residual.
    Intervals here cannot span buckets by construction (per-day min/max);
    spanning intervals would explode to each touched bucket and dedup by
    interval id — same plan, one extra narrow explode.  Overlap
    durations use integer microseconds on both engines (``unix_micros``
    / ``epoch_us``), so the aggregate is exact before the final rounded
    division — no float-order noise in the hash.

    One shuffle builds intervals, one bucket-keyed exchange joins them;
    per-bucket pair count is quadratic in concurrent users per bucket.
    The registered query runs unguarded (exact semantics, the oracle's
    twin); production callers go through :func:`interval_overlap_pairs`,
    whose ``max_per_bucket`` density cap refuses or prunes pathological
    buckets BEFORE the pair expansion — the guard VERDICT r3 #6 asked
    for (270 s at the 10× replica was pure output growth)."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
    # r12 opt audit (guide §2.4): examined and left alone — the pair join
    # is a BroadcastHashJoin on day (iv is (user, day)-sized, far under
    # the threshold), so NEITHER side is exchanged by day; a
    # repartition("day") before the cache measured as a pure added
    # exchange (3.00 → 3.57 s).  The remaining cost is the pair expansion
    # itself, which is the query's output.
    iv = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .cache()  # (user, day)-sized; both join sides read it
    )
    pairs = interval_overlap_pairs(iv, bucket="day", ident="user_id")
    ov_us = F.unix_micros(F.least("e_a", "e_b")) - F.unix_micros(
        F.greatest("s_a", "s_b")
    )
    return (
        pairs.select(
            F.col("id_a").alias("user_a"), F.col("id_b").alias("user_b"), ov_us.alias("ov")
        )
        .groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).alias("n_overlap_days"),
            F.round(F.sum("ov") / 60000000.0, 2).alias("total_overlap_min"),
        )
    )


# ---------------------------------------------------------------------------
# E15 — A/B experiment readout: conversion lift + two-proportion z-test
# ---------------------------------------------------------------------------


@register(
    "events_ab_test_lift",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT arm, COUNT(*)::DOUBLE AS n, SUM(converted)::DOUBLE AS conv
      FROM per_user GROUP BY arm),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END)    AS n_a,
             MAX(CASE WHEN arm = 0 THEN conv END) AS conv_a,
             MAX(CASE WHEN arm = 1 THEN n END)    AS n_b,
             MAX(CASE WHEN arm = 1 THEN conv END) AS conv_b
      FROM arms)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
           ROUND(conv_a / n_a, 4) AS rate_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
           ROUND(conv_b / n_b, 4) AS rate_b,
           ROUND(conv_b / n_b / (conv_a / n_a) - 1, 4) AS lift,
           ROUND((conv_b / n_b - conv_a / n_a)
                 / SQRT(((conv_a + conv_b) / (n_a + n_b))
                        * (1 - (conv_a + conv_b) / (n_a + n_b))
                        * (1 / n_a + 1 / n_b)), 4) AS z_score,
           ABS((conv_b / n_b - conv_a / n_a)
               / SQRT(((conv_a + conv_b) / (n_a + n_b))
                      * (1 - (conv_a + conv_b) / (n_a + n_b))
                      * (1 / n_a + 1 / n_b))) > 1.96 AS significant
    FROM w
    """,
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash into two arms (``user_id % 2``
    — in production, a salted assignment hash), conversion = the user
    ever fired a high-value ``purchase`` event (value ≥ 150 — every user
    fires *some* purchase in this synthetic log, so the threshold is what
    makes conversion a real ~45% split instead of a degenerate 100%); emit per-arm rates, relative lift,
    the pooled two-proportion z-statistic, and the 95% significance
    verdict.  This is the decision query behind every experimentation
    platform, and it is pure closed-form arithmetic over two counts — no
    sampling, so both engines agree to the last rounded digit.

    Scale shape: ONE user-keyed exchange collapses the event log to a
    per-user conversion bit (map-side partial ``max`` does most of the
    work), then a 2-row arm aggregate and single-row math — at 100 TB
    the cost is the same per-user rollup every retention/funnel query
    already pays, and arms/z-math are free.  A multi-variant test is the
    same plan with ``% k``."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "event_type", "value"])
    per_user = ev.groupBy("user_id").agg(
        F.max(((F.col("event_type") == "purchase") & (F.col("value") >= 150)).cast("int")).alias("converted")
    )
    arms = (
        per_user.withColumn("arm", F.col("user_id") % 2)
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("converted").cast("double").alias("conv"),
        )
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("conv_b"),
    )
    rate_a, rate_b = F.col("conv_a") / F.col("n_a"), F.col("conv_b") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = (rate_b - rate_a) / F.sqrt(
        pooled * (1 - pooled) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    return w.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        F.round(rate_a, 4).alias("rate_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        F.round(rate_b, 4).alias("rate_b"),
        F.round(rate_b / rate_a - 1, 4).alias("lift"),
        F.round(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# E16 — marketing attribution: last-touch credit for purchases
# ---------------------------------------------------------------------------


@register(
    "events_attribution_lasttouch",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IN ('view', 'click') THEN event_type END AS touch
      FROM events),
    attr AS (
      SELECT event_type, value,
             last_value(touch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
      FROM e)
    SELECT COALESCE(last_touch, 'none') AS touch_type,
           COUNT(*)                     AS n_purchases,
           ROUND(SUM(value), 2)         AS sum_value
    FROM attr WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution_lasttouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent preceding view/click touch (strictly earlier rows — the
    purchase row itself is never a touch), purchases with no prior touch
    land in the honest ``'none'`` bucket instead of vanishing.  The
    conversion-credit readout every marketing/growth pipeline computes;
    first-touch and position-weighted variants are the same plan with a
    different window aggregate.

    Determinism: the touch window orders by ``(ts, event_id)`` so
    same-timestamp events resolve identically cross-engine (repo tie
    discipline), and ``last(..., ignorenulls)`` over
    ``UNBOUNDED PRECEDING .. 1 PRECEDING`` is exact-prefix semantics in
    both dialects.

    Scale shape: ONE exchange on ``user_id`` (the attribution window),
    then a 3-row aggregate — the sessionize/funnel family's plan; state
    per user is one running value, nothing quadratic anywhere."""
    ev = load_table(
        spark, sf_dir, "events",
        columns=["user_id", "ts", "event_id", "event_type", "value"],
    )
    touch = F.when(F.col("event_type").isin("view", "click"), F.col("event_type"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attr = ev.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
    return (
        attr.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("last_touch"), F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint — sequential drift detection with a planted step
# ---------------------------------------------------------------------------

_CUSUM_K = 0.5   # slack per observation (in sigma units)
_CUSUM_H = 5.0   # alarm threshold
_CUSUM_STEP_DAY = 19  # planted step: day index >= 19 (20th day)


@register(
    "events_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1),
    lo AS (SELECT MIN(day) AS d0 FROM daily),
    obs AS (
      SELECT day, (day >= d0 + {_CUSUM_STEP_DAY}) AS planted,
             n + CASE WHEN day >= d0 + {_CUSUM_STEP_DAY} THEN n // 4 ELSE 0 END AS x
      FROM daily, lo),
    base AS (
      SELECT AVG(x) AS mu, STDDEV_SAMP(x) AS sigma FROM obs WHERE NOT planted),
    z AS (
      SELECT day, planted, x, (x - mu) / sigma AS z FROM obs, base),
    p AS (
      SELECT day, planted, x, z,
             SUM(z - {_CUSUM_K}) OVER (ORDER BY day) AS pref
      FROM z),
    c AS (
      SELECT day, planted, x, z, pref,
             LEAST(0, MIN(pref) OVER (ORDER BY day)) AS minp
      FROM p)
    SELECT day,
           CAST(x AS BIGINT)            AS n_observed,
           planted,
           ROUND(z, 4)                  AS z,
           ROUND(pref - minp, 6)        AS cusum,
           (ROUND(pref - minp, 6) > {_CUSUM_H}) AS alarm
    FROM c
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over daily ingest volume — the
    SEQUENTIAL drift monitor that catches slow regime shifts the per-day
    z-score family (``events_anomaly_zscore``/``_mad``) misses, because
    evidence ACCUMULATES: S_d = max(0, S_{{d-1}} + z_d - k).  The
    recursion is computed in closed form as prefix-sum minus running
    minimum (S_d = P_d - min(0, min_{{j<=d}} P_j)) — two calendar-sized
    windows, no iteration.  A +25% volume step is PLANTED from day 20
    (the ``ml_mutual_information`` precedent: the synthetic stream is
    stationary, so a planted shift is the only non-vacuous test), the
    baseline is fitted on the PRE-step window only — the honest
    monitoring protocol — and both engines must agree on every cusum
    value and alarm verdict (rounded before the threshold compare, the
    repo tie discipline).

    Scale shape: the raw scan collapses to one row per DAY before any
    window math (map-side combinable; calendar-sized thereafter), the
    2-row baseline broadcasts back, and the ordered windows run over the
    ~30-row daily series."""
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    lo = daily.agg(F.min("day").alias("d0"))
    obs = (
        daily.crossJoin(F.broadcast(lo))
        .withColumn("planted", F.col("day") >= F.date_add(F.col("d0"), _CUSUM_STEP_DAY))
        .withColumn(
            "x", F.col("n") + F.when(F.col("planted"), F.expr("n div 4")).otherwise(F.lit(0))
        )
    )
    base = obs.where(~F.col("planted")).agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sigma")
    )
    z = obs.crossJoin(F.broadcast(base)).withColumn(
        "z", (F.col("x") - F.col("mu")) / F.col("sigma")
    )
    w = Window.orderBy("day")  # _GLOBAL_WINDOW_OK: input is the per-day aggregate (calendar-sized)
    p = z.withColumn("pref", F.sum(F.col("z") - _CUSUM_K).over(w))
    c = p.withColumn("minp", F.least(F.lit(0.0), F.min("pref").over(w)))  # _GLOBAL_WINDOW_OK: same calendar-sized series
    cusum = F.round(F.col("pref") - F.col("minp"), 6)
    return c.select(
        "day",
        F.col("x").alias("n_observed"),
        "planted",
        F.round("z", 4).alias("z"),
        cusum.alias("cusum"),
        (cusum > _CUSUM_H).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness — sliding DISTINCT, the engagement readout
# ---------------------------------------------------------------------------

_WAU_DAYS = 7


@register(
    "events_dau_mau_stickiness",
    oracle=f"""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY day),
    covered AS (
      SELECT DISTINCT user_id, day + CAST(x.i AS INT) AS cday
      FROM active
      CROSS JOIN (SELECT UNNEST(range({_WAU_DAYS})) AS i) x),
    wau AS (SELECT cday AS day, COUNT(*) AS wau FROM covered GROUP BY cday)
    SELECT d.day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           ROUND(d.dau::DOUBLE / w.wau, 4) AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — the engagement ratio every product pipeline
    reports: daily active users over trailing-{_WAU_DAYS}-day active
    users, per day.  The hard part is the SLIDING DISTINCT (a user
    active twice in the window counts once — not partial-aggregatable),
    solved exactly by interval-cover expansion: each (user, active day)
    contributes the {_WAU_DAYS} future days it covers, deduped, then
    counted — a bounded x{_WAU_DAYS} explode of the per-user-day
    DISTINCT (already tiny), never of raw events.  Output restricted to
    days that exist in the data (join with DAU).

    At 100 TB the same query runs on per-day HLL sketches
    (``agg_hll_rollup``'s union-merge pattern: {_WAU_DAYS} sketch unions
    per day instead of the cover explode) — this exact form is the
    truth it would be audited against, the sketch-audit discipline of
    ``agg_quantile_sketch_audit``/``agg_cms_audit``.

    Plan: one (user, day) distinct exchange; the cover explode runs on
    that aggregate; two day-keyed counts + one tiny join."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    dau = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    covered = (
        active.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(_WAU_DAYS - 1))))
        .select("user_id", F.date_add("day", F.col("i")).alias("day"))
        .distinct()
    )
    wau = covered.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau.hint("shuffle_hash"), "day")
        .select(
            "day", "dau", "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier retention curve — survival analysis with right censoring
# (the churn readout next to the retention matrix: retention asks "active
# on day t?", KM asks "what fraction SURVIVES past t given censoring")
# ---------------------------------------------------------------------------

_KM_SCALE = 1_000_000_000_000  # ln terms summed in integer pico-units


@register(
    "events_kaplan_meier",
    oracle=f"""
    WITH u AS MATERIALIZED (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS f, MAX(CAST(ts AS DATE)) AS l
      FROM events GROUP BY user_id),
    g AS MATERIALIZED (
      SELECT user_id, datediff('day', f, l) AS lt,
             CASE WHEN l = (SELECT MAX(l) FROM u) THEN 1 ELSE 0 END AS censored
      FROM u),
    a AS (
      SELECT lt,
             CAST(COUNT(*) AS BIGINT)          AS n_ending,
             CAST(SUM(1 - censored) AS BIGINT) AS n_deaths,
             CAST(SUM(censored) AS BIGINT)     AS n_censored
      FROM g GROUP BY lt),
    r AS (
      SELECT *,
             SUM(n_ending) OVER (ORDER BY lt DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
      FROM a),
    t AS (
      SELECT *,
             CASE WHEN n_deaths < n_at_risk
                  THEN CAST(ROUND(LN(1.0 - n_deaths * 1.0 / n_at_risk)
                                  * {_KM_SCALE}, 0) AS BIGINT)
                  ELSE NULL END AS term_pico
      FROM r),
    s AS (
      SELECT *,
             SUM(term_pico) OVER (ORDER BY lt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pico,
             MAX(CASE WHEN term_pico IS NULL THEN 1 ELSE 0 END)
               OVER (ORDER BY lt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
      FROM t)
    SELECT lt AS lifetime_days, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_deaths, n_censored,
           ROUND(n_deaths * 1.0 / n_at_risk, 6) AS hazard,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE ROUND(EXP(cum_pico * 1.0 / {_KM_SCALE}), 6) + 0.0 END AS survival
    FROM s
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes with honest right
    censoring: a user's lifetime is last-event minus first-event days,
    and users whose last event falls on the corpus's final observed day
    are CENSORED (still alive when observation stopped), contributing to
    the at-risk set but never to deaths — the estimator retention
    matrices silently get wrong by treating censored users as churned.
    Per distinct lifetime: at-risk count, deaths, censored, the discrete
    hazard d/n, and the KM product-limit survival estimate.

    The survival product Π(1 - d/n) is an order-dependent float fold in
    textbook form; here each ln(1 - d/n) term is scaled to INTEGER
    pico-units and rounded BEFORE the prefix sum (the Adamic-Adar /
    LPA integer discipline), so cross-engine aggregation order cannot
    drift the hash.  A lifetime where everyone remaining dies (d = n,
    ln 0) pins survival to exactly 0.0 from that point on via a prefix
    max flag instead of feeding -inf into the sum.

    Plan/scale: events collapse map-side to one row per USER (first/last
    day), then to one row per DISTINCT LIFETIME — calendar-bounded, the
    repo's standard series discipline — before any window math; the
    global prefix windows run on that aggregate only.  The global max
    day is a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"])
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("f"), F.max(F.to_date("ts")).alias("l")
    )
    gmax = u.agg(F.max("l").alias("gmax"))
    g = u.crossJoin(F.broadcast(gmax)).select(
        F.datediff("l", "f").cast("bigint").alias("lt"),
        F.when(F.col("l") == F.col("gmax"), 1).otherwise(0).alias("censored"),
    )
    a = g.groupBy("lt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        F.sum(1 - F.col("censored")).cast("bigint").alias("n_deaths"),
        F.sum("censored").cast("bigint").alias("n_censored"),
    )
    w_desc = Window.orderBy(F.desc("lt")).rowsBetween(Window.unboundedPreceding, 0)  # _GLOBAL_WINDOW_OK: input is the per-distinct-lifetime aggregate (calendar-span-bounded, ~tens of rows)
    r = a.withColumn("n_at_risk", F.sum("n_ending").over(w_desc))
    term = F.when(
        F.col("n_deaths") < F.col("n_at_risk"),
        F.round(
            F.log(1.0 - F.col("n_deaths") / F.col("n_at_risk")) * _KM_SCALE, 0
        ).cast("bigint"),
    )
    t = r.withColumn("term_pico", term)
    w_asc = Window.orderBy("lt").rowsBetween(Window.unboundedPreceding, 0)  # _GLOBAL_WINDOW_OK: same per-distinct-lifetime aggregate as above
    s = t.withColumn("cum_pico", F.sum("term_pico").over(w_asc)).withColumn(
        "hit_zero",
        F.max(F.when(F.col("term_pico").isNull(), 1).otherwise(0)).over(w_asc),
    )
    return s.select(
        F.col("lt").alias("lifetime_days"),
        "n_at_risk",
        "n_deaths",
        "n_censored",
        F.round(F.col("n_deaths") / F.col("n_at_risk"), 6).alias("hazard"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_pico") / _KM_SCALE), 6) + 0.0)
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves — cumulative value per cohort age
# (the revenue-side readout next to the retention matrix and Kaplan-Meier:
# retention asks "still here?", KM asks "survives past t?", LTV asks
# "how much value has the cohort produced by age t?")
# ---------------------------------------------------------------------------


@register(
    "events_cohort_ltv",
    oracle="""
    WITH u AS MATERIALIZED (
      SELECT user_id, date_trunc('month', MIN(CAST(ts AS DATE))) AS cohort
      FROM events GROUP BY user_id),
    sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users FROM u GROUP BY cohort),
    a AS (
      SELECT u.cohort,
             CAST(datediff('month', u.cohort,
                           date_trunc('month', CAST(e.ts AS DATE))) AS BIGINT)
               AS age_month,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active,
             ROUND(SUM(e.value), 2) AS revenue
      FROM events e JOIN u ON u.user_id = e.user_id
      GROUP BY 1, 2),
    c AS (
      SELECT *,
             ROUND(SUM(revenue) OVER (PARTITION BY cohort ORDER BY age_month
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS cum_revenue
      FROM a)
    SELECT c.cohort AS cohort_month, c.age_month, sz.n_users, c.n_active,
           c.revenue, c.cum_revenue,
           ROUND(c.cum_revenue / sz.n_users, 4) AS ltv_per_user
    FROM c JOIN sz ON sz.cohort = c.cohort
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-event month,
    event value accumulated per cohort age (months since cohort) — per
    row the cohort size, active users at that age, the age's revenue,
    the running cumulative, and LTV per cohorted user (the payback-curve
    number acquisition spend is judged against).

    Float discipline: the age-level revenue rounds to 2 dp FIRST; the
    cumulative is an ORDERED prefix sum over those rounded values (both
    engines add in the same window order, so the fold is deterministic)
    and is itself re-rounded before the per-user division.

    Plan/scale: one user-keyed exchange builds cohorts (min-day
    aggregate), the fact join back to cohorts stays on that same user
    key (no extra exchange), then one (cohort, age) aggregate —
    calendar x calendar bounded — carries the window math; cohort sizes
    broadcast onto the curve.  The COUNT(DISTINCT user) per (cohort,
    age) rides the same aggregate (expand on the user-keyed side, the
    ``events_dau_mau`` discipline)."""
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"])
    u = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min(F.to_date("ts"))).cast("date").alias("cohort")
    )
    sz = u.groupBy("cohort").agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    a = (
        ev.join(u.hint("shuffle_hash"), "user_id")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", F.to_date("ts")), F.col("cohort")
            )
            .cast("bigint")
            .alias("age_month"),
        )
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_active"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = a.withColumn("cum_revenue", F.round(F.sum("revenue").over(w), 2))
    return c.join(F.broadcast(sz), "cohort").select(
        F.col("cohort").alias("cohort_month"),
        "age_month",
        "n_users",
        "n_active",
        "revenue",
        "cum_revenue",
        F.round(F.col("cum_revenue") / F.col("n_users"), 4).alias("ltv_per_user"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation — the seasonality DETECTOR (seasonality_profile assumes a
# weekly period; the ACF measures which lags actually carry structure)
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@register(
    "events_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s FROM daily),
    c AS (SELECT day, n * x - s AS c FROM daily, tot),
    den AS (SELECT CAST(SUM(c * c) AS BIGINT) AS den FROM c)
    SELECT CAST(datediff('day', c2.day, c1.day) AS BIGINT) AS lag,
           CAST(COUNT(*) AS BIGINT)                        AS n_pairs,
           CASE WHEN den.den <> 0 THEN
             ROUND(CAST(SUM(c1.c * c2.c) AS BIGINT) / CAST(den.den AS DOUBLE), 6)
           ELSE NULL END AS acf
    FROM c c1
    JOIN c c2 ON datediff('day', c2.day, c1.day) BETWEEN 1 AND {_ACF_MAX_LAG}
    CROSS JOIN den
    GROUP BY 1, den.den
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily event volume at lags 1..7
    (``_ACF_MAX_LAG``) — the diagnostic that tells a pipeline which
    periodicities its daily
    series actually carries (``events_seasonality_profile`` ASSUMES a
    weekly period; the ACF is how you find out whether lag 7 — or any
    other — carries structure before fitting to it).  Lags are CALENDAR
    day gaps, not row offsets, so a missing day never silently shifts
    every later pair.

    Cross-engine exactness: the mean-centered products are computed in
    scaled integers — with n days and total S, each centered term is
    ``n*x_t - S`` (= n*(x_t - mean), exact BIGINT), so numerator and
    denominator are exact integer sums in ANY accumulation order; the
    single final division is one IEEE op.  Degenerate carve-out: on a
    CONSTANT daily series every centered term is 0, so num = den = 0 and
    Spark's non-ANSI 0/0.0 returns NULL while DuckDB's IEEE division
    returns NaN — both sides therefore guard with ``den <> 0`` and emit
    NULL, keeping the value hash identical even on that input.  Int64
    envelope: |n*x - S| <= n*max(x) ~ 6e6 even at the 1000x replica
    (60 days x 1e5 events/day), squared 4e13, summed over <=60 days ~
    2e15 — three decades of headroom.

    Scale shape: the raw scan collapses to one row per DAY (map-side
    combinable) before anything else; the 1-row (two-column) total
    broadcasts back; the lag self-join and the final <= 7-row
    aggregate run on the calendar-sized series."""
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("x"))
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").cast("bigint").alias("s")
    )
    c = (
        daily.crossJoin(F.broadcast(tot))
        .select("day", (F.col("n") * F.col("x") - F.col("s")).alias("c"))
        .cache()  # calendar-sized; read by den + both join sides
    )
    den = c.agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("den"))
    c2 = c.select(F.col("day").alias("day2"), F.col("c").alias("c2"))
    pairs = c.join(
        F.broadcast(c2),
        F.datediff(F.col("day"), F.col("day2")).between(1, _ACF_MAX_LAG),
    )
    return (
        pairs.groupBy(F.datediff("day", "day2").cast("bigint").alias("lag"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("c") * F.col("c2")).cast("bigint").alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.when(
                F.col("den") != 0,
                F.round(F.col("num") / F.col("den").cast("double"), 6),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# Additive seasonal decomposition — trend + day-of-week effect + residual,
# entirely in exact integer arithmetic
# ---------------------------------------------------------------------------

_SD_HALF = 3  # centered moving-average half-width (7-day trend window)


@register(
    "events_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1),
    w AS (
      SELECT day, x,
             CAST(SUM(x) OVER (ORDER BY day
               ROWS BETWEEN {_SD_HALF} PRECEDING AND {_SD_HALF} FOLLOWING)
               AS BIGINT) AS s7,
             row_number() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS n
      FROM daily),
    full7 AS (
      SELECT day, x, s7, 7 * x - s7 AS d, isodow(day) AS dow
      FROM w WHERE rn BETWEEN {_SD_HALF + 1} AND n - {_SD_HALF}),
    eff AS (
      SELECT dow, CAST(SUM(d) AS BIGINT) AS sd, COUNT(*) AS cnt
      FROM full7 GROUP BY 1)
    SELECT f.day,
           CAST(f.x AS BIGINT)                                   AS volume,
           ROUND(f.s7 / 7.0, 4)                                  AS trend,
           ROUND(e.sd / (7.0 * e.cnt), 4)                        AS seasonal,
           ROUND(f.d / 7.0 - e.sd / (7.0 * e.cnt), 4)            AS residual
    FROM full7 f JOIN eff e USING (dow)
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily event volume —
    ``volume = trend + day-of-week effect + residual`` (the STL-lite
    every capacity forecast starts from; ``events_seasonality_profile``
    ASSUMES the weekly pattern and ``events_autocorrelation`` detects
    it — this op SUBTRACTS it, leaving the residual that anomaly
    monitors should actually watch).

    Cross-engine exactness: everything is integer until the final
    prints.  Trend is the centered 7-day sum ``s7`` (exact BIGINT);
    the detrended series is kept ×7 as ``d = 7x − s7`` (exact); the
    day-of-week effect is the exact integer pair (Σd, count) per dow;
    the only float ops are the single divisions in the output
    expressions, performed on identical exact integers by both engines
    and rounded to 4 dp.  Spark ``weekday()+1`` pins ISO dow against
    DuckDB's ``isodow`` (the ``events_seasonality_profile`` idiom).
    Only days with a FULL 7-day window emit — partial-window trends
    would make the decomposition asymmetric at the edges.

    Scale shape: the raw scan collapses map-side to one row per DAY
    before any window math; the centered window, the 7-row dow
    aggregate (broadcast back), and the final join all run on the
    calendar-sized series — the repo's standard discipline."""
    ev = load_table(spark, sf_dir, "events", columns=["ts"])
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("x"))
    frame = Window.orderBy("day").rowsBetween(-_SD_HALF, _SD_HALF)  # _GLOBAL_WINDOW_OK: input is the per-day aggregate (calendar-sized)
    rn_w = Window.orderBy("day")  # _GLOBAL_WINDOW_OK: calendar-sized
    cnt_w = Window.partitionBy()  # _GLOBAL_WINDOW_OK: calendar-sized
    w = daily.select(
        "day",
        "x",
        F.sum("x").over(frame).cast("bigint").alias("s7"),
        F.row_number().over(rn_w).alias("rn"),
        F.count(F.lit(1)).over(cnt_w).alias("n"),
    )
    full7 = w.where(
        (F.col("rn") >= _SD_HALF + 1) & (F.col("rn") <= F.col("n") - _SD_HALF)
    ).select(
        "day",
        "x",
        "s7",
        (7 * F.col("x") - F.col("s7")).alias("d"),
        (F.weekday("day") + F.lit(1)).alias("dow"),
    )
    eff = full7.groupBy("dow").agg(
        F.sum("d").cast("bigint").alias("sd"), F.count(F.lit(1)).alias("cnt")
    )
    seasonal = F.col("sd") / (7.0 * F.col("cnt"))
    return full7.join(F.broadcast(eff), "dow").select(
        "day",
        F.col("x").cast("bigint").alias("volume"),
        F.round(F.col("s7") / 7.0, 4).alias("trend"),
        F.round(seasonal, 4).alias("seasonal"),
        F.round(F.col("d") / 7.0 - seasonal, 4).alias("residual"),
    )
