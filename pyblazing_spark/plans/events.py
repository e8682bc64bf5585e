"""Event-stream analytics over the ``events`` table (driver extension —
the reference has NO streaming or event-time operators, SURVEY.md §2.9;
these are the Spark-native batch equivalents; the true streaming versions
live in :mod:`pyblazing_spark.streaming`).

Scale: time-bucketed aggregation groups on (bucket, type) — partial aggs
collapse each executor's slice before the shuffle; sessionization is a
windowed gap-and-island computation partitioned by user_id, the standard
distributed formulation (shuffle once on user_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyblazing_spark.plans.registry import register
from pyblazing_spark.plans.tpch import money, ratio
from pyblazing_spark.sources.tables import load_table as T


@register(
    "events_time_bucket",
    tags=("events", "datetime", "aggregate"),
    oracle="""
SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY hour_bucket, event_type
LIMIT 500
""",
)
def events_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregation (batch form of a streaming
    windowed count)."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), money(F.sum("value")).alias("total_value"))
        .orderBy("hour_bucket", "event_type")
        .limit(500)
    )


@register(
    "events_sessionize",
    bench=True,
    tags=("events", "window", "sessionize"),
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
 s AS (
  SELECT user_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g)
SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
FROM s
GROUP BY user_id
ORDER BY user_id
LIMIT 300
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap -> session ids via
    lag + running sum (gaps-and-islands). The standard scale-out pattern:
    one shuffle on user_id, all window math within partitions."""
    ev = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = W.partitionBy("user_id").orderBy("ts").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull() | ((F.col("ts") - prev_ts) > F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sessions = ev.select(
        "user_id",
        "ts",
        new_session.alias("new_session"),
    ).select(
        "user_id", F.sum("new_session").over(wrun).cast("long").alias("session_id")
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
        .limit(300)
    )


@register(
    "events_funnel",
    tags=("events", "aggregate", "case"),
    oracle="""
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)     AS views,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)    AS clicks,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)   AS purchase_value
FROM events
GROUP BY user_id
HAVING sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
ORDER BY user_id
LIMIT 300
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel counts (conditional aggregation) with HAVING."""
    ev = T(spark, sf_dir, "events")

    def n_of(t: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long")

    return (
        ev.groupBy("user_id")
        .agg(
            n_of("view").alias("views"),
            n_of("click").alias("clicks"),
            n_of("purchase").alias("purchases"),
            money(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0))
            ).alias("purchase_value"),
        )
        .where(F.col("purchases") > 0)
        .orderBy("user_id")
        .limit(300)
    )


@register(
    "events_daily_active",
    tags=("events", "distinct", "datetime"),
    oracle="""
SELECT date_trunc('day', ts) AS day,
       count(DISTINCT user_id) AS dau,
       count(*) AS n_events,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY 1
ORDER BY day
LIMIT 400
""",
)
def events_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users (distinct count per time bucket)."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
            ratio(F.avg("value")).alias("avg_value"),
        )
        .orderBy("day")
        .limit(400)
    )


@register(
    "events_hopping_window",
    tags=("events", "window", "hopping"),
    oracle="""
SELECT date_trunc('hour', ts) - i * INTERVAL 1 HOUR AS win_start,
       event_type, count(*) AS n
FROM events JOIN generate_series(0, 1) t(i) ON true
GROUP BY 1, 2
ORDER BY win_start, event_type
LIMIT 500
""",
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 2-hour windows every 1 hour — each
    event lands in exactly two windows. Spark's ``window(ts, dur,
    slide)`` generates the copies; the oracle joins a 0..1 series.

    Scale: the x2 row expansion happens pre-aggregation but map-side
    partial agg collapses it before any shuffle."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n",
        )
        .orderBy("win_start", "event_type")
        .limit(500)
    )


@register(
    "join_asof",
    tags=("events", "asof", "temporal"),
    oracle="""
WITH clicks AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
 buys AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT c.user_id, c.event_id, c.ts,
       b.ts AS ts_right, round(b.value, 2) AS value_right
FROM clicks c ASOF LEFT JOIN buys b
  ON c.user_id = b.user_id AND c.ts >= b.ts
ORDER BY c.user_id, c.event_id
LIMIT 2000
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each click matched to the user's latest prior
    purchase (union + carry-forward window — one shuffle on user_id;
    DuckDB's native ASOF JOIN is the oracle).

    See :func:`pyblazing_spark.operators.temporal.asof_join`.

    Plan notes (r14): one output row per click + trailing ORDER BY
    user_id, event_id LIMIT 2000 means the survivors are exactly the
    top-2000 clicks ((user_id, event_id) is unique — event_id is the
    event PK). Take them FIRST (TakeOrderedAndProject) and as-of join
    only those, semi-filtering purchases to the surviving users, so
    the union+window shuffle moves thousands of rows instead of every
    click and purchase (guide §5 / §2.4: never move rows a limit will
    discard — the join_asof_cogroup rewrite, same argument)."""
    from pyblazing_spark.operators.temporal import asof_join

    ev = T(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    # reuse: top feeds the purchase semi-filter and the as-of join
    top = clicks.orderBy("user_id", "event_id").limit(2000).localCheckpoint()
    buys_f = buys.join(
        F.broadcast(top.select("user_id").distinct()), "user_id", "left_semi"
    )
    out = asof_join(top, buys_f, on="user_id", right_cols=["value"])
    return (
        out.select(
            "user_id", "event_id", "ts", "ts_right",
            F.round("value_right", 2).alias("value_right"),
        )
        .orderBy("user_id", "event_id")
        .limit(2000)
    )


@register(
    "join_range",
    tags=("events", "range", "temporal"),
    oracle="""
WITH clicks AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
 wins AS (SELECT user_id, ts - INTERVAL 1 HOUR AS win_start, ts AS win_end
          FROM events WHERE event_type = 'purchase')
SELECT c.user_id, c.event_id, c.ts, w.win_start, w.win_end
FROM clicks c JOIN wins w
  ON c.user_id = w.user_id
 AND c.ts >= w.win_start AND c.ts <= w.win_end
ORDER BY c.user_id, c.event_id, w.win_start
LIMIT 2000
""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join: clicks inside the hour before each
    purchase. The bucketed formulation turns Spark's
    BroadcastNestedLoop/inequality plan into an equi join on
    (user_id, hour-bucket) with an in-bucket filter — a plain hash
    shuffle that scales linearly instead of quadratically.

    See :func:`pyblazing_spark.operators.temporal.range_join`."""
    from pyblazing_spark.operators.temporal import range_join

    ev = T(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    wins = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("win_start"),
        F.col("ts").alias("win_end"),
    )
    out = range_join(
        clicks, wins,
        left_point="ts", right_start="win_start", right_end="win_end",
        equi_keys=["user_id"],
    )
    return (
        out.select("user_id", "event_id", "ts", "win_start", "win_end")
        .orderBy("user_id", "event_id", "win_start")
        .limit(2000)
    )


@register(
    "events_time_rollup",
    tags=("events", "rollup", "hypertable"),
    oracle="""
SELECT CASE WHEN GROUPING(hour_b) = 0 THEN 'hour'
            WHEN GROUPING(day_b) = 0 THEN 'day' ELSE 'total' END AS grain,
       day_b AS day_bucket, hour_b AS hour_bucket,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM (SELECT date_trunc('day', ts) AS day_b,
             date_trunc('hour', ts) AS hour_b, value
      FROM events)
GROUP BY ROLLUP (day_b, hour_b)
ORDER BY grain, day_bucket NULLS FIRST, hour_bucket NULLS FIRST
LIMIT 1000
""",
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour -> day -> total in ONE
    pass via ROLLUP over truncated time columns (each finer grain's
    partials feed the coarser — no re-scan per resolution)."""
    ev = T(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day_b"),
        F.date_trunc("hour", "ts").alias("hour_b"),
        "value",
    )
    grain = (
        F.when(F.grouping("hour_b") == 0, "hour")
        .when(F.grouping("day_b") == 0, "day")
        .otherwise("total")
    )
    return (
        ev.rollup("day_b", "hour_b")
        .agg(
            grain.alias("grain"),
            F.count(F.lit(1)).alias("n"),
            money(F.sum("value")).alias("total_value"),
        )
        .select(
            "grain",
            F.col("day_b").alias("day_bucket"),
            F.col("hour_b").alias("hour_bucket"),
            "n",
            "total_value",
        )
        .orderBy("grain", F.asc_nulls_first("day_bucket"), F.asc_nulls_first("hour_bucket"))
        .limit(1000)
    )


@register(
    "events_retention",
    tags=("events", "cohort", "aggregate"),
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
 c AS (
  SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM d JOIN c USING (user_id)
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
""",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on
    each subsequent day-offset — the product-analytics retention-curve
    query. Two aggregations on the same user_id key: Spark reuses one
    shuffle partitioning for the distinct, the min-cohort, and the join
    back (all hash on user_id); the final (cohort, offset) rollup is
    tiny."""
    ev = T(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    c = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        d.join(c, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("int").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "events_gap_fill",
    tags=("events", "datetime", "gapfill", "window"),
    oracle="""
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS b,
         round(avg(value) + 1e-9, 4) AS v
  FROM events
  WHERE user_id < 40
    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
  GROUP BY 1, 2),
 grid AS (
  SELECT u.user_id, g.b
  FROM (SELECT DISTINCT user_id FROM obs) u
  CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                            TIMESTAMP '2024-01-02 23:00:00',
                            INTERVAL 1 HOUR)) AS b) g),
 j AS (SELECT g.user_id, g.b, o.v
       FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b),
 f AS (SELECT user_id, b, v,
       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
       FROM j)
SELECT user_id,
       CAST(count(v) AS BIGINT)             AS n_observed,
       CAST(count(fv) - count(v) AS BIGINT) AS n_filled,
       round(sum(fv) + 1e-4, 2)             AS total_value
FROM f GROUP BY user_id ORDER BY user_id
""",
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (the hypertable ``time_bucket_gapfill`` +
    ``locf`` shape): each user's hourly averages over a fixed 48-bucket
    grid, missing buckets forward-filled from the last observation.
    Grid = distinct users x a generated hour sequence; fill = one
    IGNORE NULLS last_value window per user. Buckets before a user's
    first observation stay NULL (locf has nothing to carry) and are
    counted implicitly by n_observed + n_filled < 48.

    Scale: the observation aggregate partials map-side on (user,
    bucket); the grid is |users| x 48 rows of two narrow columns; the
    fill is ONE window shuffle on user_id. At 100 TB the grid is
    generated, never materialized from the fact table, so gap filling
    costs one pass over observations plus a dimension-sized join."""
    ev = T(spark, sf_dir, "events").where(
        (F.col("user_id") < 40)
        & (F.col("ts") >= F.expr("TIMESTAMP_NTZ '2024-01-01 00:00:00'"))
        & (F.col("ts") < F.expr("TIMESTAMP_NTZ '2024-01-03 00:00:00'"))
    )
    obs = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("b")
    ).agg(F.round(F.avg("value") + 1e-9, 4).alias("v"))
    users = obs.select("user_id").distinct()
    hours = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00',"
                " TIMESTAMP_NTZ '2024-01-02 23:00:00', INTERVAL 1 HOUR)"
            )
        ).alias("b")
    )
    grid = users.crossJoin(F.broadcast(hours))
    j = grid.join(obs, ["user_id", "b"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    f = j.select(
        "user_id", "b", "v", F.last("v", ignorenulls=True).over(w).alias("fv")
    )
    return (
        f.groupBy("user_id")
        .agg(
            F.count("v").alias("n_observed"),
            (F.count("fv") - F.count("v")).alias("n_filled"),
            F.round(F.sum("fv") + 1e-4, 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


@register(
    "events_gap_fill_linear",
    tags=("events", "datetime", "gapfill", "interpolate", "window"),
    oracle="""
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS b,
         round(avg(value) + 1e-9, 4) AS v
  FROM events
  WHERE user_id < 40
    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
  GROUP BY 1, 2),
 grid AS (
  SELECT u.user_id, g.b
  FROM (SELECT DISTINCT user_id FROM obs) u
  CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                            TIMESTAMP '2024-01-02 23:00:00',
                            INTERVAL 1 HOUR)) AS b) g),
 j AS (SELECT g.user_id, g.b,
              row_number() OVER (PARTITION BY g.user_id ORDER BY g.b) AS rn,
              o.v
       FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b),
 ctx AS (
  SELECT user_id, b, rn, v,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS prn,
         first_value(v IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wf AS nrn
  FROM j
  WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY rn
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
 filled AS (
  SELECT user_id, v,
         CASE WHEN v IS NOT NULL THEN v
              WHEN pv IS NOT NULL AND nv IS NOT NULL
              THEN pv + (nv - pv) * (rn - prn) / (nrn - prn)
              ELSE NULL END AS fv
  FROM ctx)
SELECT user_id,
       CAST(count(v) AS BIGINT)             AS n_observed,
       CAST(count(fv) - count(v) AS BIGINT) AS n_interp,
       round(sum(fv) + 1e-4, 2)             AS total_value
FROM filled GROUP BY user_id ORDER BY user_id
""",
)
def events_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling by LINEAR INTERPOLATION (the hypertable
    ``interpolate()`` shape): like :func:`events_gap_fill` but missing
    hourly buckets between two observations get the time-weighted
    average of their neighbors instead of a carried-forward copy;
    buckets before the first / after the last observation stay NULL
    (no extrapolation).

    The neighbor search is two IGNORE NULLS window passes (value and
    grid position carried together), so interpolation costs the same
    ONE shuffle on user_id as locf — no self-join against the
    observation set. The lerp fraction uses grid row numbers, not
    epoch arithmetic: on an hourly grid they are proportional, and
    integer positions keep both engines' math identical."""
    ev = T(spark, sf_dir, "events").where(
        (F.col("user_id") < 40)
        & (F.col("ts") >= F.expr("TIMESTAMP_NTZ '2024-01-01 00:00:00'"))
        & (F.col("ts") < F.expr("TIMESTAMP_NTZ '2024-01-03 00:00:00'"))
    )
    obs = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("b")
    ).agg(F.round(F.avg("value") + 1e-9, 4).alias("v"))
    users = obs.select("user_id").distinct()
    hours = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00',"
                " TIMESTAMP_NTZ '2024-01-02 23:00:00', INTERVAL 1 HOUR)"
            )
        ).alias("b")
    )
    grid = users.crossJoin(F.broadcast(hours))
    j = grid.join(obs, ["user_id", "b"], "left").withColumn(
        "rn", F.row_number().over(W.partitionBy("user_id").orderBy("b"))
    )
    wp = (
        W.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    marked = F.when(F.col("v").isNotNull(), F.col("rn"))
    ctx = j.select(
        "user_id",
        "rn",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(marked, ignorenulls=True).over(wp).alias("prn"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(marked, ignorenulls=True).over(wf).alias("nrn"),
    )
    filled = ctx.select(
        "user_id",
        "v",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("rn") - F.col("prn"))
            / (F.col("nrn") - F.col("prn")),
        )
        .alias("fv"),
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count("v").alias("n_observed"),
            (F.count("fv") - F.count("v")).alias("n_interp"),
            F.round(F.sum("fv") + 1e-4, 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


@register(
    "events_attribution",
    tags=("events", "window", "attribution"),
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
         first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                     IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch
  FROM events),
 purchases AS (
  SELECT coalesce(last_touch, 'direct')  AS last_touch,
         coalesce(first_touch, 'direct') AS first_touch,
         value
  FROM seq WHERE event_type = 'purchase')
SELECT last_touch AS channel,
       CAST(count(*) AS BIGINT)                 AS n_last_touch,
       round(sum(value) + 1e-4, 2)              AS revenue_last_touch,
       CAST(sum(CASE WHEN first_touch = last_touch THEN 1 ELSE 0 END)
            AS BIGINT)                          AS n_also_first_touch
FROM purchases
GROUP BY last_touch
ORDER BY channel
""",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style purchase attribution: every purchase is credited
    to the user's most recent preceding non-purchase event (last-touch),
    with a first-touch agreement count alongside; purchases with no
    preceding touch go to 'direct'.

    Scale: ONE shuffle on user_id serves both IGNORE NULLS window
    passes (same partitioning, same ordering — Catalyst evaluates them
    in a single Window operator), then the credit aggregation partials
    map-side to ≤|channels| rows per task. No self-join against the
    touch set — the standard distributed attribution formulation."""
    ev = T(spark, sf_dir, "events")
    wprev = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    seq = ev.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(wprev).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(wprev).alias("first_touch"),
    )
    purchases = seq.where(F.col("event_type") == "purchase").select(
        F.coalesce("last_touch", F.lit("direct")).alias("last_touch"),
        F.coalesce("first_touch", F.lit("direct")).alias("first_touch"),
        "value",
    )
    return (
        purchases.groupBy(F.col("last_touch").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_last_touch"),
            F.round(F.sum("value") + 1e-4, 2).alias("revenue_last_touch"),
            F.sum(
                F.when(F.col("first_touch") == F.col("last_touch"), 1).otherwise(0)
            ).alias("n_also_first_touch"),
        )
        .orderBy("channel")
    )


@register(
    "events_anomaly_zscore",
    tags=("events", "window", "anomaly", "monitoring"),
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS b,
         CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2),
 scored AS (
  SELECT event_type, b, c,
         avg(c)    OVER w AS mu,
         stddev(c) OVER w AS sigma,
         count(*)  OVER w AS n_hist
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
 z AS (
  SELECT event_type, b, c,
         CASE WHEN n_hist >= 12 AND sigma > 0
              THEN round((c - mu) / sigma + 1e-9, 4) END AS zscore
  FROM scored)
SELECT event_type,
       CAST(count(*) AS BIGINT)                         AS n_buckets,
       CAST(count(zscore) AS BIGINT)                    AS n_scored,
       CAST(sum(CASE WHEN abs(zscore) > 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                        AS n_anomalies,
       round(max(zscore) + 1e-9, 4)                     AS max_z
FROM z
GROUP BY event_type
ORDER BY event_type
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-monitoring shape in batch form: hourly event counts per
    type, z-scored against a trailing 24-bucket window (mean/stddev of
    the PRECEDING buckets only — no leakage of the scored bucket into
    its own baseline); buckets with <12 history buckets or zero
    variance are unscored, |z| > 2 counts as an anomaly.

    Scale: the hourly rollup partials map-side to (type, bucket) rows;
    the trailing-statistics pass is ONE window shuffle on event_type
    over the already-aggregated (tiny) bucket series. At 100 TB the
    fact scan dominates and everything after the first aggregate is
    dimension-sized — the standard pre-aggregate-then-window telemetry
    pipeline."""
    ev = T(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    w = (
        W.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "b",
        "c",
        F.avg("c").over(w).alias("mu"),
        F.stddev("c").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    z = scored.select(
        "event_type",
        "c",
        F.when(
            (F.col("n_hist") >= 12) & (F.col("sigma") > 0),
            F.round((F.col("c") - F.col("mu")) / F.col("sigma") + 1e-9, 4),
        ).alias("zscore"),
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.count("zscore").alias("n_scored"),
            F.sum(F.when(F.abs("zscore") > 2, 1).otherwise(0)).alias("n_anomalies"),
            F.round(F.max("zscore") + 1e-9, 4).alias("max_z"),
        )
        .orderBy("event_type")
    )


@register(
    "events_markov_transitions",
    tags=("events", "window", "markov"),
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
 trans AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type),
 tot AS (
  SELECT prev_type, sum(n) AS row_total FROM trans GROUP BY prev_type)
SELECT t.prev_type, t.next_type, t.n,
       round(t.n * 1.0 / tt.row_total + 1e-9, 4) AS p
FROM trans t JOIN tot tt USING (prev_type)
ORDER BY prev_type, next_type
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: counts
    and row-normalized probabilities of every (previous event type ->
    next event type) step within each user's timeline.

    Scale: ONE shuffle on user_id for the lag window, then the
    transition count partials map-side to ≤|types|² rows per task; the
    row totals join is over the |types|-sized matrix. The standard
    distributed estimator for behavioral transition models."""
    ev = T(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(wseq).alias("prev_type")
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        trans.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("row_total") + 1e-9, 4).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "join_asof_cogroup",
    tags=("events", "asof", "cogroup", "applyInPandas"),
    oracle="""
WITH clicks AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
 buys AS (SELECT user_id, ts, round(max(value), 2) AS value
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.user_id, c.event_id, c.ts,
       b.ts AS ts_right, b.value AS value_right
FROM clicks c ASOF LEFT JOIN buys b
  ON c.user_id = b.user_id AND c.ts >= b.ts
ORDER BY c.user_id, c.event_id
LIMIT 2000
""",
)
def join_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME point-in-time semantics as :func:`join_asof`, computed
    through Spark's ``groupBy().cogroup().applyInPandas`` API instead of
    the union+window formulation: both sides co-shuffle on a user-hash
    bucket, each bucket's (clicks, purchases) pair lands in one Arrow
    batch, and a vectorized ``pandas.merge_asof(by='user_id')`` performs
    the backward match for every user in the bucket at once. Purchases
    are pre-deduplicated to one row per (user, ts) — max value — so tie
    resolution is defined identically in both engines.

    This pins the cogroup surface (SURVEY §2.10 — absent from the
    reference) against DuckDB's native ASOF JOIN: an off-by-one in the
    merge direction ('latest ts <= click' vs 'earliest ts >= click')
    cannot match.

    Plan notes (r14): the entry emits one row per click and ends in
    ORDER BY user_id, event_id LIMIT 2000, so the surviving rows are
    exactly the top-2000 clicks — take them FIRST
    (TakeOrderedAndProject) and as-of join only those, semi-filtering
    purchases to the surviving users (guide §5: never move rows a limit
    will discard). And cogrouping per BUCKET instead of per user
    replaces one Python call per user (~9 s at sf0.1, measured) with
    ≤4x-parallelism vectorized calls; bucket count derives from the
    session's core count, nothing hard-coded."""
    import pandas as pd

    ev = T(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("value"))
    )

    # (user_id, event_id) is unique (event_id is the event PK), so the
    # top-2000 set is deterministic. Bounded by construction: 2000 rows.
    # reuse: top feeds the purchase semi-filter and the as-of join
    top = clicks.orderBy("user_id", "event_id").limit(2000).localCheckpoint()
    buys_f = buys.join(
        F.broadcast(top.select("user_id").distinct()), "user_id", "left_semi"
    )

    n_buckets = spark.sparkContext.defaultParallelism * 4
    bucketed_top = top.withColumn(
        "__b", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
    )
    bucketed_buys = buys_f.withColumn(
        "__b", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
    )

    def align(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=["user_id", "event_id", "ts", "ts_right", "value_right"]
            )
        left = left.drop(columns="__b").sort_values("ts", kind="mergesort")
        right = right.drop(columns="__b").rename(columns={"value": "value_right"})
        right["ts_right"] = right["ts"]
        right = right.sort_values("ts", kind="mergesort")
        out = pd.merge_asof(
            left, right, on="ts", by="user_id", direction="backward"
        )
        return out[["user_id", "event_id", "ts", "ts_right", "value_right"]]

    out = (
        bucketed_top.groupBy("__b")
        .cogroup(bucketed_buys.groupBy("__b"))
        .applyInPandas(
            align,
            schema="user_id bigint, event_id bigint, ts timestamp_ntz, "
            "ts_right timestamp_ntz, value_right double",
        )
    )
    return out.orderBy("user_id", "event_id").limit(2000)


@register(
    "events_ab_lift",
    tags=("events", "ab-test", "analytics"),
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id),
 v AS (
  SELECT variant,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_converted,
         round(sum(converted) * 1.0 / count(*) + 1e-9, 4) AS conv_rate
  FROM u GROUP BY variant)
SELECT a.n_users AS n_a, a.n_converted AS conv_a, a.conv_rate AS rate_a,
       b.n_users AS n_b, b.n_converted AS conv_b, b.conv_rate AS rate_b,
       round(b.conv_rate - a.conv_rate + 1e-9, 4) AS abs_lift
FROM (SELECT * FROM v WHERE variant = 'A') a
CROSS JOIN (SELECT * FROM v WHERE variant = 'B') b
""",
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: users split into variants
    by md5 hash bucket (the same engine-portable assignment every
    sampler here uses — reproducible across reruns, engines, and
    cluster sizes, which is what makes an experiment auditable),
    conversion = any 'purchase' event, reporting per-variant rates and
    the absolute lift. Scale shape: one per-user aggregation (map-side
    combined max over the fact scan), then a two-row variant rollup —
    nothing user-level ever leaves the first shuffle."""
    ev = T(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .select(
            F.when(bucket == 0, "A").otherwise("B").alias("variant"), "converted"
        )
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(
            F.sum("converted") / F.count(F.lit(1)) + F.lit(1e-9), 4
        ).alias("conv_rate"),
    )
    a = v.where(F.col("variant") == "A").select(
        F.col("n_users").alias("n_a"),
        F.col("n_converted").alias("conv_a"),
        F.col("conv_rate").alias("rate_a"),
    )
    b = v.where(F.col("variant") == "B").select(
        F.col("n_users").alias("n_b"),
        F.col("n_converted").alias("conv_b"),
        F.col("conv_rate").alias("rate_b"),
    )
    return a.crossJoin(b).select(
        "n_a", "conv_a", "rate_a", "n_b", "conv_b", "rate_b",
        F.round(F.col("rate_b") - F.col("rate_a") + F.lit(1e-9), 4).alias("abs_lift"),
    )


@register(
    "join_asof_forward",
    tags=("events", "asof", "temporal", "forward"),
    oracle="""
WITH clicks AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
 buys AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT c.user_id, c.event_id, c.ts,
       b.ts AS ts_right, round(b.value, 2) AS value_right
FROM clicks c ASOF LEFT JOIN buys b
  ON c.user_id = b.user_id AND c.ts <= b.ts
ORDER BY c.user_id, c.event_id
LIMIT 2000
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward point-in-time join: each click matched to the user's NEXT
    purchase (time-to-conversion direction) — the mirrored union +
    carry-BACKWARD window, one shuffle on user_id; DuckDB's native
    forward ASOF (``l.ts <= r.ts``) is the oracle.

    See :func:`pyblazing_spark.operators.temporal.asof_join_forward`.

    Plan notes (r14): same limit-pushdown as :func:`join_asof` — the
    top-2000 clicks are taken first and purchases semi-filtered to the
    surviving users before the union+window shuffle."""
    from pyblazing_spark.operators.temporal import asof_join_forward

    ev = T(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    # reuse: top feeds the purchase semi-filter and the as-of join
    top = clicks.orderBy("user_id", "event_id").limit(2000).localCheckpoint()
    buys_f = buys.join(
        F.broadcast(top.select("user_id").distinct()), "user_id", "left_semi"
    )
    out = asof_join_forward(top, buys_f, on="user_id", right_cols=["value"])
    return (
        out.select(
            "user_id", "event_id", "ts", "ts_right",
            F.round("value_right", 2).alias("value_right"),
        )
        .orderBy("user_id", "event_id")
        .limit(2000)
    )


@register(
    "events_sequence_motif",
    tags=("events", "window", "pattern"),
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type, 1) OVER w AS prev1,
         lag(event_type, 2) OVER w AS prev2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
 m1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM seq
  WHERE prev2 = 'view' AND prev1 = 'click' AND event_type = 'purchase'),
 m2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM seq
  WHERE prev1 = 'error' AND event_type = 'error')
SELECT 'error,error' AS motif, n_occurrences, n_users FROM m2
UNION ALL
SELECT 'view,click,purchase', n_occurrences, n_users FROM m1
ORDER BY motif
""",
)
def events_sequence_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence-motif detection (the MATCH_RECOGNIZE /
    funnel-pattern shape): count occurrences of ordered event patterns
    inside each user's timeline — here the purchase path
    view→click→purchase and the repeated-failure pair error→error —
    plus how many distinct users exhibit each.

    Scale shape: BOTH motifs are matched from ONE window pass (a
    single user_id shuffle; both LAG offsets plan into one Window
    operator — asserted in tests/test_plan_audits.py) and counted by
    ONE aggregate job with conditional counts (the two
    count-distinct-user measures share the scan via Spark's Expand),
    then unpivoted with ``stack`` — never one scan-window-aggregate
    chain per motif. No per-user string materialization, no
    self-joins; state is bounded by the motif length regardless of a
    user's history size, and longer motifs add lag columns, not
    passes. Overlapping matches count individually (every event
    closing a pattern instance is one occurrence) — the semantics
    streaming CEP engines use."""
    ev = T(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(wseq).alias("prev1"),
        F.lag("event_type", 2).over(wseq).alias("prev2"),
    )
    f1 = (
        (F.col("prev2") == "view")
        & (F.col("prev1") == "click")
        & (F.col("event_type") == "purchase")
    )
    f2 = (F.col("prev1") == "error") & (F.col("event_type") == "error")
    agg = seq.agg(
        F.sum(F.when(f1, 1).otherwise(0)).alias("n1"),
        F.countDistinct(F.when(f1, F.col("user_id"))).alias("u1"),
        F.sum(F.when(f2, 1).otherwise(0)).alias("n2"),
        F.countDistinct(F.when(f2, F.col("user_id"))).alias("u2"),
    )
    return agg.select(
        F.expr(
            "stack(2,"
            " 'error,error', n2, u2,"
            " 'view,click,purchase', n1, u1)"
            " AS (motif, n_occurrences, n_users)"
        )
    ).orderBy("motif")


@register(
    "join_interval_overlap",
    bench=True,  # scale-critical new r8 ops: visible per-round
    tags=("join", "temporal", "interval", "overlap"),
    oracle="""
WITH a AS (
  SELECT o_orderkey, o_orderdate AS a_start,
         o_orderdate + INTERVAL 30 DAY AS a_end
  FROM orders WHERE o_orderkey % 97 = 0),
 b AS (
  SELECT l_orderkey, l_shipdate AS b_start,
         l_shipdate + to_days(CAST(l_partkey % 21 + 1 AS INTEGER)) AS b_end
  FROM lineitem WHERE l_orderkey % 89 = 0 AND l_linenumber = 1),
 pairs AS (
  SELECT o_orderkey, l_orderkey,
         greatest(a_start, b_start) AS ov_start
  FROM a JOIN b ON a_start <= b_end AND b_start <= a_end)
SELECT CAST(year(ov_start) * 100 + month(ov_start) AS BIGINT) AS month_id,
       CAST(count(*) AS BIGINT)       AS n_pairs,
       CAST(sum(o_orderkey) AS BIGINT) AS a_key_sum,
       CAST(sum(l_orderkey) AS BIGINT) AS b_key_sum
FROM pairs
GROUP BY month_id
ORDER BY month_id
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval OVERLAP join — validity windows against
    shipping windows ([o_orderdate, +30d] vs [l_shipdate, +1..21d]),
    the temporal-overlap shape ``join_range`` (point-in-interval) and
    ``join_asof`` (nearest-event) don't cover; reference parity:
    BlazingSQL plans this as cross-product + filter (its non-equi path).

    Scale: :func:`pyblazing_spark.operators.temporal.interval_overlap_join`
    buckets both sides by calendar month and equi-joins on the bucket —
    a LINEAR hash join instead of a quadratic nested loop; each pair is
    emitted exactly once, from the bucket containing the overlap's
    first instant (greatest of the starts), so no post-join distinct.
    The oracle is the naive non-equi join — proving the bucketed
    rewrite exact.
    """
    from pyblazing_spark.operators.temporal import interval_overlap_join

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    a = orders.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.col("o_orderdate").alias("a_start"),
        # timestampadd(DAY, ...) is CALENDAR-day arithmetic, matching the
        # oracle's `+ INTERVAL 30 DAY` / to_days() exactly in every session
        # timezone; a day-time interval (make_dt_interval) is a fixed 24h
        # and would diverge across DST transitions (r8 advice).
        F.expr("timestampadd(DAY, 30, o_orderdate)").alias("a_end"),
    )
    b = li.where((F.col("l_orderkey") % 89 == 0) & (F.col("l_linenumber") == 1)).select(
        "l_orderkey",
        F.col("l_shipdate").alias("b_start"),
        F.expr(
            "timestampadd(DAY, CAST(l_partkey % 21 + 1 AS INT), l_shipdate)"
        ).alias("b_end"),
    )

    def month_bucket(c):
        return (F.year(c) * 12 + F.month(c)).cast("long")

    pairs = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", bucket=month_bucket
    ).select(
        "o_orderkey",
        "l_orderkey",
        F.greatest("a_start", "b_start").alias("ov_start"),
    )
    return (
        pairs.groupBy(
            (F.year("ov_start") * 100 + F.month("ov_start"))
            .cast("long")
            .alias("month_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("o_orderkey").alias("a_key_sum"),
            F.sum("l_orderkey").alias("b_key_sum"),
        )
        .orderBy("month_id")
    )


@register(
    "events_rfm",
    tags=("events", "rfm", "segmentation", "analytics"),
    oracle="""
WITH purch AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
 gmax AS (SELECT max(ts) AS gts FROM purch),
 per_user AS (
  -- floor() each epoch BEFORE differencing: DuckDB epoch() is a DOUBLE
  -- carrying sub-second fractions and CAST(double AS BIGINT) ROUNDS,
  -- while Spark's unix_timestamp() truncates each timestamp to whole
  -- seconds — an unfloored difference diverges on sub-second data.
  SELECT user_id,
         CAST(floor(epoch(gmax.gts)) AS BIGINT)
           - CAST(floor(epoch(max(ts))) AS BIGINT) AS recency_s,
         CAST(count(*) AS BIGINT)                          AS freq,
         round(coalesce(sum(value), 0) + 1e-9, 2)          AS money
  FROM purch CROSS JOIN gmax
  GROUP BY user_id, gmax.gts),
 scored AS (
  SELECT user_id,
         ntile(4) OVER (ORDER BY recency_s, user_id) AS r_score,
         ntile(4) OVER (ORDER BY freq, user_id)      AS f_score,
         ntile(4) OVER (ORDER BY money, user_id)     AS m_score
  FROM per_user)
SELECT CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS segment,
       CAST(count(*) AS BIGINT)     AS n_users,
       CAST(sum(user_id) AS BIGINT) AS user_sum
FROM scored
GROUP BY segment
ORDER BY segment
""",
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic lifecycle-marketing rollup: per purchasing user, seconds
    since last purchase, purchase count, and total spend, each scored
    into quartiles (ascending metric + user_id tie-break, so score
    semantics are r=1 most recent, f=4 most frequent, m=4 top spend),
    then segment populations (segment = r·100 + f·10 + m) with a
    user-id sum pinning full membership. Monetary is rounded to 2dp on
    BOTH engines BEFORE ranking so float representation can't reorder
    ties.

    Scale: the fact scan collapses to one per-user aggregate (shuffle
    on user_id); each quartile is
    :func:`pyblazing_spark.operators.global_window.global_ntile` — the
    two-phase range-partitioned rank, NOT an unpartitioned ntile window
    (which would serialize all users through one task) — over
    users-sized (three-long) rows. The oracle uses plain ntile, proving
    the two-phase form exact.

    Plan notes: the per-user frame is eagerly materialized once (fact
    scanned exactly once; RDD-keyed per invocation, no cross-run
    caching) and the global max timestamp folds into a literal from a
    1-row bounded collect. The three quartiles run through ONE
    :func:`global_ntile` call — one percentile-sketch job for all three
    metrics, one counts collect marginalized driver-side, three Window
    stages in one linear plan (15 jobs a run: the per-user
    materialization, the max-ts collect, the sketch + counts pair, and
    the consumer aggregation's AQE stages)."""
    from pyblazing_spark.operators.global_window import global_ntile

    ev = T(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase")
    # reuse: pu is collected for the max ts, then scored (sketch, counts, final)
    pu = (
        purch.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("freq"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)) + 1e-9, 2).alias("money"),
        )
        .localCheckpoint()
    )
    # bounded driver collect: one row, the global max purchase ts
    gts = pu.agg(F.max("last_ts").alias("gts")).collect()[0]["gts"]
    per_user = pu.select(
        "user_id",
        (
            F.unix_timestamp(F.lit(gts).cast(pu.schema["last_ts"].dataType))
            - F.unix_timestamp("last_ts")
        )
        .cast("long")
        .alias("recency_s"),
        "freq",
        "money",
    )
    scored = global_ntile(
        per_user,
        [
            (["recency_s", "user_id"], 4, "r_score"),
            (["freq", "user_id"], 4, "f_score"),
            (["money", "user_id"], 4, "m_score"),
        ],
    )
    return (
        scored.groupBy(
            (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
            .cast("int")
            .alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("user_id").alias("user_sum"),
        )
        .orderBy("segment")
    )


@register(
    "join_asof_nearest",
    bench=True,  # scale-critical r9 op: per-round visibility with controls
    tags=("events", "asof", "temporal", "nearest"),
    oracle="""
WITH views AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'view' AND user_id < 40),
 buys AS (
  SELECT user_id, ts, arg_min(value, event_id) AS value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts)
SELECT v.user_id, v.event_id, v.ts,
       n.ts                                    AS near_ts,
       CAST(n.d AS BIGINT)                     AS delta_us,
       round(n.value, 2)                       AS near_value
FROM views v LEFT JOIN LATERAL (
  SELECT b.ts, b.value,
         abs(epoch_us(b.ts) - epoch_us(v.ts)) AS d
  FROM buys b WHERE b.user_id = v.user_id
  ORDER BY d, b.ts LIMIT 1) n ON TRUE
ORDER BY v.user_id, v.event_id
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST point-in-time join (pandas ``merge_asof
    direction='nearest'``): each view matched to the user's CLOSEST
    purchase in either time direction, distance ties to the earlier
    one — the third as-of mode next to backward (``join_asof``) and
    forward (``join_asof_forward``), covered by neither. Purchases are
    pre-aggregated unique per (user, ts) (``min_by`` on event_id) so
    tie-breaks are engine-identical. The oracle is the naive per-row
    LATERAL nearest-neighbor scan — quadratic, fine for the fixture —
    proving the single-shuffle two-frame window rewrite
    (:func:`pyblazing_spark.operators.temporal.asof_join_nearest`)
    exact. Scale: ONE exchange on user_id, one sort, two frames over
    it; the naive form Spark would otherwise need is a per-row
    subquery."""
    from pyblazing_spark.operators.temporal import asof_join_nearest

    ev = T(spark, sf_dir, "events")
    views = ev.where(
        (F.col("event_type") == "view") & (F.col("user_id") < 40)
    ).select("user_id", "event_id", "ts")
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min_by("value", "event_id").alias("value"))
    )
    out = asof_join_nearest(views, buys, on="user_id", right_cols=["value"])
    return out.select(
        "user_id",
        "event_id",
        "ts",
        F.col("ts_right").alias("near_ts"),
        F.abs(F.unix_micros(F.col("ts_right").cast("timestamp"))
              - F.unix_micros(F.col("ts").cast("timestamp")))
        .cast("long")
        .alias("delta_us"),
        F.round("value_right", 2).alias("near_value"),
    ).orderBy("user_id", "event_id")
