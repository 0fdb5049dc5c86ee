"""Time-window queries on the events stream table: tumbling, sliding,
session windows, as-of join, watermark read, upsert (SURVEY.md §2B
"Streaming" batch analogues + §4.3 custom ops).

These are the batch-SQL twins of the streaming jobs in
hapiy_etl_spark/streaming/ — same window semantics, DuckDB-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hapiy_etl_spark.io import load_tables
from hapiy_etl_spark.operators.asof import asof_join
from hapiy_etl_spark.operators.upsert import upsert_by_key
from hapiy_etl_spark.registry import register

DEC = "decimal(18,2)"


@register(
    "window_tumbling",
    oracle="""
    SELECT
        time_bucket(INTERVAL '1 hour', ts) AS window_start,
        event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Tumbling 1h window aggregation (F.window ≡ time_bucket).",
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "window_sliding",
    oracle="""
    SELECT window_start, event_type, COUNT(*) AS n
    FROM (
        SELECT e.event_type,
               time_bucket(INTERVAL '30 minutes', e.ts) - (k.k * INTERVAL '30 minutes') AS window_start
        FROM events e
        CROSS JOIN (VALUES (0), (1)) AS k(k)
    )
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="Sliding window 1h/30m — each row lands in len/slide=2 windows.",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


@register(
    "window_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, user_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    doc="Session windows (30m gap) in batch — F.session_window semantics: "
    "end = last event + gap.",
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "asof_join_events",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts AS p_ts,
               MAX(value) AS p_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts,
           p.p_ts AS last_purchase_ts,
           ROUND(p.p_value, 4) AS last_purchase_value
    FROM clicks c
    ASOF JOIN purchases p
      ON c.user_id = p.user_id AND p.p_ts < c.ts
    ORDER BY c.event_id
    """,
    doc="As-of join: each click ← most recent strictly-prior purchase per "
    "user. Union+running-window implementation (one shuffle, no pair "
    "blow-up); DuckDB native ASOF JOIN as oracle.",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
        .select("user_id", F.col("ts").alias("p_ts"), "p_value")
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_cols=["p_ts", "p_value"],
        strict=True,
        how="inner",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("p_ts").alias("last_purchase_ts"),
        F.round("p_value", 4).alias("last_purchase_value"),
    ).orderBy("event_id")


@register(
    "watermark_read",
    oracle="""
    SELECT MAX(ts) AS high_watermark, COUNT(ts) AS n_nonnull
    FROM events
    """,
    doc="High-watermark read: null-safe MAX (REF R8, git_etl.ts:141-153).",
)
def watermark_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    return t["events"].agg(F.max("ts").alias("high_watermark"), F.count("ts").alias("n_nonnull"))


@register(
    "incremental_since",
    oracle="""
    SELECT event_type, COUNT(*) AS n, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events
    WHERE ts > (SELECT MAX(ts) - INTERVAL 7 DAY FROM events)
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Incremental fetch-since: strict > watermark filter pushed to scan "
    "(REF R2/R9 — strict > replaces the reference's +1s hack).",
)
def incremental_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("wm"))
    return (
        ev.join(F.broadcast(wm))
        .where(F.col("ts") > F.col("wm"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .orderBy("event_type")
    )


@register(
    "resample_ffill",
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE user_id < 100),
    bounds AS (
        SELECT user_id,
               (floor(epoch(MIN(ts)))::BIGINT // 3600) * 3600 AS lo,
               (floor(epoch(MAX(ts)))::BIGINT // 3600) * 3600 AS hi
        FROM ev GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS ep FROM bounds
    ),
    slotted AS (
        SELECT user_id, (floor(epoch(ts))::BIGINT // 3600) * 3600 AS ep, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, (floor(epoch(ts))::BIGINT // 3600) * 3600
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM ev
    ),
    s1 AS (SELECT user_id, ep, value FROM slotted WHERE rn = 1)
    SELECT sp.user_id,
           to_timestamp(sp.ep)::TIMESTAMP AS grid_ts,
           ROUND(last_value(s1.value IGNORE NULLS) OVER (
               PARTITION BY sp.user_id ORDER BY sp.ep
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_ffill
    FROM spine sp
    LEFT JOIN s1 ON s1.user_id = sp.user_id AND s1.ep = sp.ep
    ORDER BY sp.user_id, grid_ts
    """,
    doc="Time-series resample to a 1h grid + forward fill (gap-fill): "
    "spine via sequence/explode, carry-forward via last(ignorenulls) "
    "window — the feature-engineering resample kernel.",
)
def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hapiy_etl_spark.operators.timeseries import resample_ffill as rf

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].where(F.col("user_id") < 100)
    out = rf(ev, key="user_id", ts="ts", value="value", step_seconds=3600)
    return out.select(
        "user_id", "grid_ts", F.round("value_ffill", 4).alias("value_ffill")
    ).orderBy("user_id", "grid_ts")


@register(
    "resample_interpolate",
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE user_id < 100),
    bounds AS (
        SELECT user_id,
               (floor(epoch(MIN(ts)))::BIGINT // 3600) * 3600 AS lo,
               (floor(epoch(MAX(ts)))::BIGINT // 3600) * 3600 AS hi
        FROM ev GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS ep FROM bounds
    ),
    slotted AS (
        SELECT user_id, (floor(epoch(ts))::BIGINT // 3600) * 3600 AS ep, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, (floor(epoch(ts))::BIGINT // 3600) * 3600
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM ev
    ),
    s1 AS (SELECT user_id, ep, value FROM slotted WHERE rn = 1),
    g AS (
        SELECT sp.user_id, sp.ep, s1.value AS v
        FROM spine sp LEFT JOIN s1 ON s1.user_id = sp.user_id AND s1.ep = sp.ep
    ),
    f AS (
        SELECT user_id, ep, v,
               last_value(v IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN ep END IGNORE NULLS)
                   OVER w_prev AS pe,
               first_value(v IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN ep END IGNORE NULLS)
                   OVER w_next AS ne
        FROM g
        WINDOW w_prev AS (PARTITION BY user_id ORDER BY ep
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY user_id ORDER BY ep
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           to_timestamp(ep)::TIMESTAMP AS grid_ts,
           floor((CASE WHEN v IS NOT NULL THEN v
                       WHEN pv IS NOT NULL AND nv IS NOT NULL
                            THEN pv + (nv - pv) * (ep - pe) / (ne - pe)
                       WHEN pv IS NOT NULL THEN pv
                  END) * 10000 + 0.5) / 10000.0 AS value_interp,
           (v IS NOT NULL) AS is_observed
    FROM f
    ORDER BY user_id, grid_ts
    """,
    doc="Time-series resample to a 1h grid + LINEAR interpolation across "
    "interior gaps (tail forward-filled, head left null) — the "
    "companion gap-fill to resample_ffill for continuous signals. Two "
    "symmetric ignore-nulls window passes on one key partitioning (last "
    "observation looking back, first looking ahead), then scan-local "
    "weighting — no self-join, scales as one shuffle per key regardless "
    "of gap length. Identical interpolation expression text in both "
    "engines keeps the float arithmetic bitwise-aligned; the output is "
    "quantized with tie-stable floor(x*1e4 + 0.5) because interpolation "
    "weights like 0.375 land EXACTLY on decimal ROUND boundaries, where "
    "Spark (HALF_UP on shortest decimal) and DuckDB (scaled-double) "
    "disagree (the quantize_int8 lesson applied to gap-fill).",
)
def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hapiy_etl_spark.operators.timeseries import resample_interpolate as ri

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].where(F.col("user_id") < 100)
    out = ri(ev, key="user_id", ts="ts", value="value", step_seconds=3600)
    quant = F.floor(F.col("value_interp") * 10000 + F.lit(0.5)) / 10000.0
    return out.select(
        "user_id",
        "grid_ts",
        quant.alias("value_interp"),
        "is_observed",
    ).orderBy("user_id", "grid_ts")


@register(
    "sort_null_ordering",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS maybe_type
    FROM events
    WHERE event_id <= 100
    ORDER BY maybe_type ASC NULLS LAST, event_id DESC
    """,
    doc="Explicit null ordering in sorts (nulls-last asc + desc tiebreak).",
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    maybe = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("event_type"))
    return (
        t["events"]
        .where(F.col("event_id") <= 100)
        .select("event_id", maybe.alias("maybe_type"))
        .orderBy(F.col("maybe_type").asc_nulls_last(), F.col("event_id").desc())
    )


@register(
    "upsert_merge",
    oracle="""
    WITH old_batch AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 != 0
    ),
    new_batch AS (
        SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 4) AS o_totalprice
    FROM (
        SELECT * FROM new_batch
        UNION ALL
        SELECT * FROM old_batch WHERE o_orderkey NOT IN (SELECT o_orderkey FROM new_batch)
    )
    ORDER BY o_orderkey
    """,
    doc="Keyed upsert (MERGE emulation): new batch wins, survivors via "
    "anti-join (REF R6, git_etl.ts:127-132).",
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))
    o = t["orders"]
    old_batch = o.where(F.col("o_orderkey") % 3 != 0).select("o_orderkey", "o_orderstatus", "o_totalprice")
    new_batch = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    merged = upsert_by_key(old_batch, new_batch, keys=["o_orderkey"])
    return merged.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 4).alias("o_totalprice")
    ).orderBy("o_orderkey")


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN ts END IGNORE NULLS) OVER w AS touch_ts
        FROM events
        -- floor(epoch)::BIGINT matches Spark's ts.cast('long') second
        -- truncation in BOTH the ordering and the lookback arithmetic
        -- (events carry sub-second precision; raw epoch() would order
        -- and bound on fractions Spark never sees)
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY floor(epoch(ts))::BIGINT, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    purchases AS (
        SELECT CASE WHEN touch_type IS NOT NULL
                     AND floor(epoch(ts))::BIGINT
                         - floor(epoch(touch_ts))::BIGINT <= 604800
                    THEN touch_type ELSE 'organic' END AS touch_type,
               value
        FROM marked WHERE event_type = 'purchase'
    )
    SELECT touch_type,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM purchases GROUP BY touch_type ORDER BY touch_type
    """,
    doc="Last-touch revenue attribution — the marketing-analytics "
    "companion to the funnel family: each purchase credits the user's "
    "most recent PRIOR non-purchase event within a 7-day lookback, "
    "else 'organic'. One ignore-nulls window pass per user stream "
    "(fully ordered by (ts, event_id) for tie determinism — no as-of "
    "self-join, no pair blowup), then a tiny grouped rollup; revenue "
    "sums ride the DECIMAL(18,2) exact-sum convention so aggregation "
    "order cannot perturb the hash.",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"), "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    marked = t["events"].select(
        "ts",
        "event_type",
        "value",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    attributed = F.when(
        F.col("touch_type").isNotNull()
        & (F.col("ts").cast("long") - F.col("touch_ts").cast("long") <= 604800),
        F.col("touch_type"),
    ).otherwise(F.lit("organic"))
    return (
        marked.where(F.col("event_type") == "purchase")
        .select(attributed.alias("touch_type"), "value")
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("touch_type")
    )


@register(
    "events_trending_topk",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT day, event_type, n_events,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY day
                   ORDER BY n_events DESC, event_type) AS BIGINT) AS rnk
        FROM daily
    ),
    with_delta AS (
        SELECT day, event_type, n_events, rnk,
               lag(rnk) OVER (PARTITION BY event_type ORDER BY day) - rnk
                   AS rank_delta
        FROM ranked
    )
    SELECT day, event_type, n_events, rnk, rank_delta
    FROM with_delta WHERE rnk <= 3
    ORDER BY day, rnk
    """,
    doc="Trending leaderboard: per-day top-3 event types by volume with "
    "the day-over-day rank movement (positive = rising). Two windows, "
    "both post-aggregate grain: the daily rank partitions by day over a "
    "handful of types, the movement lag partitions by type over days — "
    "the raw event scan collapses to (day, type) cardinality in the "
    "first map-side-combined aggregate, so the window state is "
    "negligible at any corpus size. The delta is computed on the FULL "
    "daily ranking before the top-3 cut (a type falling out of the "
    "top 3 still yields the right movement for those that remain).",
)
def events_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    daily = (
        t["events"]
        .groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    ranked = daily.withColumn(
        "rnk",
        F.row_number()
        .over(W.partitionBy("day").orderBy(F.col("n_events").desc(), "event_type"))
        .cast("long"),
    )
    delta = (
        F.lag("rnk").over(W.partitionBy("event_type").orderBy("day")) - F.col("rnk")
    ).alias("rank_delta")
    return (
        ranked.select("day", "event_type", "n_events", "rnk", delta)
        .where(F.col("rnk") <= 3)
        .orderBy("day", "rnk")
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH signups AS (
        SELECT user_id, MIN(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    converted AS (
        SELECT DISTINCT e.user_id
        FROM events e JOIN signups s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts >= s.signup_ts
          AND e.ts < s.signup_ts + INTERVAL 7 DAY
    )
    SELECT (SELECT COUNT(*) FROM signups) AS n_signups,
           (SELECT COUNT(*) FROM converted) AS n_converted,
           ROUND(CAST((SELECT COUNT(*) FROM converted) AS DOUBLE)
                 / (SELECT COUNT(*) FROM signups), 4) AS conv_rate
    """,
    doc="Sequential funnel: users whose first signup is followed by a "
    "purchase within 7 days. Aggregate-then-join shape (signups collapse "
    "to one row per user BEFORE the join) so the shuffle carries user "
    "keys, not event logs.",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    signups = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    converted = (
        e.where(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .where(
            (F.col("ts") >= F.col("signup_ts"))
            & (F.col("ts") < F.col("signup_ts") + F.expr("INTERVAL 7 DAYS"))
        )
        .select("user_id")
        .distinct()
    )
    n_s = signups.agg(F.count("*").alias("n_signups"))
    n_c = converted.agg(F.count("*").alias("n_converted"))
    return n_s.crossJoin(n_c).select(
        "n_signups",
        "n_converted",
        F.round(F.col("n_converted").cast("double") / F.col("n_signups"), 4).alias("conv_rate"),
    )


@register(
    "interval_overlap_sessions",
    oracle="""
    WITH s AS (
        SELECT event_id AS session_id, user_id,
               ts AS s_start, ts + INTERVAL 1 HOUR AS s_end
        FROM events WHERE event_type = 'signup'
    ),
    e AS (
        SELECT event_id AS error_id, user_id,
               ts AS e_start, ts + INTERVAL 10 MINUTE AS e_end
        FROM events WHERE event_type = 'error'
    )
    SELECT s.session_id, e.error_id, s.user_id
    FROM s JOIN e
      ON s.user_id = e.user_id
     AND s.s_start < e.e_end AND e.e_start < s.s_end
    ORDER BY session_id, error_id
    """,
    doc="Interval overlap join (operators/asof.py:interval_overlap_join, "
    "bucketized): per-user signup sessions [ts, ts+1h) x error windows "
    "[ts, ts+10m) that intersect. Both sides explode onto 1h time "
    "buckets and equi-join on (user_id, bucket) before the exact overlap "
    "filter — a hash join with bounded fan-out instead of a per-key "
    "cartesian; the oracle checks the plain inequality-join semantics.",
)
def interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hapiy_etl_spark.operators.asof import interval_overlap_join

    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    sessions = e.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("session_id"),
        "user_id",
        F.col("ts").alias("s_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("s_end"),
    )
    errors = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("e_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e_end"),
    )
    joined = interval_overlap_join(
        sessions,
        errors,
        on="user_id",
        left_start="s_start",
        left_end="s_end",
        right_start="e_start",
        right_end="e_end",
        bucket_seconds=3600,
    )
    return joined.select(
        F.col("l.session_id").alias("session_id"),
        F.col("r.error_id").alias("error_id"),
        F.col("l.user_id").alias("user_id"),
    ).orderBy("session_id", "error_id")


@register(
    "events_cohort_retention",
    oracle="""
    WITH cohort AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS act_week
        FROM events e JOIN cohort c ON e.user_id = c.user_id
        WHERE e.ts >= c.cohort_week
    )
    SELECT c.cohort_week,
           CAST(datediff('day', c.cohort_week, a.act_week) / 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM cohort c JOIN activity a ON a.user_id = c.user_id
    WHERE datediff('day', c.cohort_week, a.act_week) / 7 <= 4
    GROUP BY c.cohort_week, week_offset
    ORDER BY c.cohort_week, week_offset
    """,
    doc="Cohort retention matrix: users bucketed by signup week, counted "
    "as active per week-offset (0..4). Aggregate-then-join both sides "
    "(cohort = one row per user, activity deduped to user-week) so the "
    "join never fans out beyond user x week.",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    cohort = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = (
        e.join(cohort, "user_id")
        .where(F.col("ts") >= F.col("cohort_week"))
        .select("user_id", "cohort_week", F.date_trunc("week", "ts").alias("act_week"))
        .distinct()
    )
    offset = (F.datediff("act_week", "cohort_week") / 7).cast("bigint")
    return (
        activity.withColumn("week_offset", offset)
        .where(F.col("week_offset") <= 4)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_value_histogram",
    oracle="""
    SELECT CASE WHEN value < 0 THEN 0
                WHEN value >= 200 THEN 11
                ELSE CAST(FLOOR(value / 20) AS BIGINT) + 1 END AS bucket,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM events
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="Fixed-width histogram via width_bucket(value, 0, 200, 10): "
    "single-pass binned aggregation (bucket 0 = underflow, 11 = "
    "overflow; the oracle mirrors with floor arithmetic since DuckDB "
    "lacks width_bucket).",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .select(
            F.width_bucket("value", F.lit(0.0), F.lit(200.0), F.lit(10)).alias("bucket"),
            "value",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("total"),
        )
        .orderBy("bucket")
    )


@register(
    "table_diff_snapshots",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 3 != 0
    ),
    new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 4 != 0
    )
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
           ROUND(COALESCE(n.o_totalprice, o.o_totalprice), 4) AS o_totalprice
    FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    ORDER BY o_orderkey
    """,
    doc="Snapshot reconciliation diff (operators/upsert.py:table_diff): "
    "full-outer join on the key, null-safe column comparison, rows "
    "tagged I/U/D — the CDC-generation primitive whose output replayed "
    "through the upsert/SCD2 sink reproduces new from old.",
)
def table_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hapiy_etl_spark.operators.upsert import table_diff

    t = load_tables(spark, sf_dir, ("orders",))
    o = t["orders"]
    old = o.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.where(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, "X").otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        "o_totalprice",
    )
    d = table_diff(old, new, keys=["o_orderkey"])
    return d.select(
        "op", "o_orderkey", "o_orderstatus", F.round("o_totalprice", 4).alias("o_totalprice")
    ).orderBy("o_orderkey")


@register(
    "events_equidepth_histogram",
    oracle="""
    WITH cuts AS (
        SELECT quantile_disc(value, 0.125) AS b1,
               quantile_disc(value, 0.250) AS b2,
               quantile_disc(value, 0.375) AS b3,
               quantile_disc(value, 0.500) AS b4,
               quantile_disc(value, 0.625) AS b5,
               quantile_disc(value, 0.750) AS b6,
               quantile_disc(value, 0.875) AS b7
        FROM events
    ),
    binned AS (
        SELECT value,
               1 + CASE WHEN value > b1 THEN 1 ELSE 0 END
                 + CASE WHEN value > b2 THEN 1 ELSE 0 END
                 + CASE WHEN value > b3 THEN 1 ELSE 0 END
                 + CASE WHEN value > b4 THEN 1 ELSE 0 END
                 + CASE WHEN value > b5 THEN 1 ELSE 0 END
                 + CASE WHEN value > b6 THEN 1 ELSE 0 END
                 + CASE WHEN value > b7 THEN 1 ELSE 0 END AS bin
        FROM events, cuts
    )
    SELECT bin,
           COUNT(*) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
    doc="Equi-depth (quantile) histogram (rebuilt scale-safe r11): "
    "every bin holds ~the same row count and the [lo, hi] bounds trace "
    "the empirical distribution — the optimizer-statistics / "
    "skew-diagnosis complement to the fixed-width width_bucket "
    "histogram. Bin edges are EXACT percentile_disc boundaries (data "
    "elements, no interpolation — both engines pick the same stored "
    "double) assigned by range comparison, replacing the r10 global "
    "NTILE whose single window partition funneled the whole table "
    "through one reducer. Plan: a 1-row percentile aggregate broadcast "
    "back onto the scan + a groupBy — two passes, zero windows, fully "
    "parallel. Ties at an edge collapse into the lower bin "
    "(deterministically, both engines), so bins are near-equal rather "
    "than exactly-equal depth — the correct trade at 100 TB.",
)
def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    qs = [i / 8 for i in range(1, 8)]
    cuts = e.agg(
        *[
            F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)").alias(
                f"b{i}"
            )
            for i, q in enumerate(qs, start=1)
        ]
    )
    bin_expr = F.lit(1)
    for i in range(1, 8):
        # when/otherwise, not a boolean cast: CASE semantics send a
        # NULL comparison to 0 in BOTH engines (a cast would give a
        # NULL bin in Spark only — a latent twin-divergence if the
        # regenerated testdata ever grows NULL values; review r11)
        bin_expr = bin_expr + F.when(
            F.col("value") > F.col(f"b{i}"), F.lit(1)
        ).otherwise(F.lit(0))
    return (
        e.crossJoin(F.broadcast(cuts))
        .select("value", bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("bin")
    )


@register(
    "events_funnel_multistep",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click'
          AND e.ts >= s1.t1 AND e.ts < s1.t1 + INTERVAL 7 DAY
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts >= s2.t2 AND e.ts < s2.t2 + INTERVAL 7 DAY
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_clicked,
           (SELECT COUNT(*) FROM s3) AS n_purchased,
           ROUND(CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
                 / (SELECT COUNT(*) FROM s1), 4) AS step2_rate,
           ROUND(CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
                 / (SELECT COUNT(*) FROM s1), 4) AS step3_rate
    """,
    doc="Ordered multi-step funnel: signup -> first click within 7 days "
    "-> first purchase within 7 days of that click. Each step collapses "
    "to one (user, first_ts) row BEFORE the next join, so every stage "
    "shuffles user keys only and step ordering is enforced by the "
    "anchored timestamps, not a fragile sessionization.",
)
def events_funnel_multistep(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]

    def first_after(prev, etype, anchor_col):
        return (
            e.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where(
                (F.col("ts") >= F.col(anchor_col))
                & (F.col("ts") < F.col(anchor_col) + F.expr("INTERVAL 7 DAYS"))
            )
            .groupBy("user_id")
            .agg(F.min("ts"))
        )

    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(s1, "click", "t1").withColumnRenamed("min(ts)", "t2")
    s3 = first_after(s2, "purchase", "t2").withColumnRenamed("min(ts)", "t3")
    n1 = s1.agg(F.count("*").alias("n_signup"))
    n2 = s2.agg(F.count("*").alias("n_clicked"))
    n3 = s3.agg(F.count("*").alias("n_purchased"))
    return (
        n1.crossJoin(n2)
        .crossJoin(n3)
        .select(
            "n_signup",
            "n_clicked",
            "n_purchased",
            F.round(F.col("n_clicked").cast("double") / F.col("n_signup"), 4).alias("step2_rate"),
            F.round(F.col("n_purchased").cast("double") / F.col("n_signup"), 4).alias("step3_rate"),
        )
    )


@register(
    "events_frequent_users",
    oracle="""
    WITH total AS (SELECT COUNT(*) AS n FROM events)
    SELECT e.user_id,
           COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 / MAX(t.n), 6) AS frequency
    FROM events e CROSS JOIN total t
    GROUP BY e.user_id
    HAVING COUNT(*) > 0.0075 * MAX(t.n)
    ORDER BY n DESC, user_id
    """,
    doc="Frequent-items (heavy hitters): every user above 0.75% of the "
    "event stream, EXACT, via per-partition Misra-Gries candidate "
    "summaries (O(capacity) task memory, NO shuffle of singleton keys) "
    "+ broadcast semi-join exact recount "
    "(operators/heavyhitters.py:frequent_items). The plain GROUP BY "
    "oracle proves the bounded-memory path loses nothing: any key over "
    "N/(capacity+1) must survive at least one partition summary.",
)
def events_frequent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hapiy_etl_spark.operators.heavyhitters import frequent_items

    t = load_tables(spark, sf_dir, ("events",))
    return frequent_items(t["events"], "user_id", phi=0.0075)


@register(
    "events_redact_props",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+(\\.[0-9]+)?', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(props, '[0-9]+(\\.[0-9]+)?')) AS BIGINT)
               AS n_redacted
    FROM events
    WHERE event_id < 500
    ORDER BY event_id
    """,
    doc="Pattern-redaction pass (the PII/log-scrub shape): every "
    "numeric literal in the raw props payload replaced by a <NUM> "
    "sentinel, with a per-record redaction count for audit. Pure "
    "map-side regexp on the scan — the same plumbing carries "
    "email/phone/SSN patterns on a real corpus; redaction never "
    "shuffles, so it costs one pass at any scale.",
)
def events_redact_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    pat = r"[0-9]+(\.[0-9]+)?"
    return (
        t["events"]
        .where(F.col("event_id") < 500)
        .select(
            "event_id",
            F.regexp_replace("props", pat, "<NUM>").alias("redacted"),
            F.size(F.regexp_extract_all("props", F.lit(pat), 0))
            .cast("long")
            .alias("n_redacted"),
        )
        .orderBy("event_id")
    )


@register(
    "events_rolling_distinct_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day AS day,
           COUNT(DISTINCT u.user_id) AS users_7d
    FROM days d
    JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    ORDER BY d.day
    """,
    doc="Trailing-7-day distinct active users per day — the rolling "
    "COUNT DISTINCT shape that window frames cannot express (DISTINCT "
    "over a sliding range). Formulated scale-first: dedup to "
    "(day, user) grain, then each pair CONTRIBUTES to its 7 target "
    "days via sequence+explode — a pure equi-shuffle of 7x|day-user| "
    "rows, no theta join, no per-day rescan; a semi-join against the "
    "observed-day spine drops phantom trailing days.",
)
def events_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    du = (
        t["events"]
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
    )
    contrib = du.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("w_day"),
        "user_id",
    )
    spine = du.select("day").distinct()
    return (
        contrib.groupBy("w_day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .join(spine, contrib.w_day == spine.day, "left_semi")
        .select(F.col("w_day").alias("day"), "users_7d")
        .orderBy("day")
    )


@register(
    "asof_forward_tolerance",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts AS c_ts, MIN(event_id) AS c_event_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ),
    purchases AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    nxt AS (
        SELECT p.event_id, p.user_id, p.ts, p.value,
               (SELECT MIN(c.c_ts) FROM clicks c
                WHERE c.user_id = p.user_id
                  AND c.c_ts >= p.ts
                  AND c.c_ts <= p.ts + INTERVAL 2 HOUR) AS next_click_ts
        FROM purchases p
    )
    SELECT n.event_id, n.user_id, n.ts,
           ROUND(n.value, 4) AS purchase_value,
           n.next_click_ts,
           c.c_event_id AS next_click_id
    FROM nxt n
    LEFT JOIN clicks c
      ON c.user_id = n.user_id AND c.c_ts = n.next_click_ts
    ORDER BY n.event_id
    """,
    doc="FORWARD as-of join with a 2-hour tolerance: each purchase -> "
    "the next click by the same user within the window (post-purchase "
    "engagement attribution), unmatched purchases kept with nulls. "
    "Same union + running-window plan as the backward as-of — time "
    "sorted descending turns 'latest preceding' into 'nearest "
    "following'; the tolerance rides the filled struct, so it is one "
    "shuffle regardless of window width (a range-join formulation "
    "would rescan |clicks| per purchase).",
)
def asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hapiy_etl_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("c_event_id"))
        .select("user_id", F.col("ts").alias("c_ts"), "c_event_id")
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="c_ts",
        right_cols=["c_ts", "c_event_id"],
        strict=False,
        how="left",
        direction="forward",
        tolerance_seconds=2 * 3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 4).alias("purchase_value"),
        F.col("c_ts").alias("next_click_ts"),
        F.col("c_event_id").alias("next_click_id"),
    ).orderBy("event_id")


@register(
    "interval_union_coverage",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts AS s, ts + INTERVAL 1 HOUR AS e
        FROM events
    ),
    m AS (
        SELECT user_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pme
        FROM iv
    ),
    seg AS (
        SELECT user_id, s, e,
               SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS g
        FROM m
    ),
    isl AS (
        SELECT user_id, g, MIN(s) AS s, MAX(e) AS e
        FROM seg GROUP BY user_id, g
    )
    SELECT user_id,
           CAST(SUM(epoch_us(e) - epoch_us(s)) AS BIGINT) AS covered_micros,
           COUNT(*) AS n_segments
    FROM isl
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Interval-union aggregate: total ACTIVE time per user after "
    "merging overlapping/touching 1-hour activity windows around each "
    "event, plus merged-segment count — the gaps-and-islands sweep "
    "(operators/timeseries.py:interval_union_stats) as one shuffle of "
    "window algebra. Durations summed in integer microseconds: exact "
    "long arithmetic, no float-accumulation seam.",
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hapiy_etl_spark.operators.timeseries import interval_union_stats

    t = load_tables(spark, sf_dir, ("events",))
    iv = t["events"].select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e"),
    )
    return interval_union_stats(iv, key="user_id", start="s", end="e").orderBy(
        "user_id"
    )


@register(
    "events_daily_anomaly",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
        FROM events GROUP BY event_type, day
    ),
    stats AS (
        SELECT event_type, day, n,
               AVG(n * 1.0) OVER (PARTITION BY event_type) AS mu,
               STDDEV_SAMP(n * 1.0) OVER (PARTITION BY event_type) AS sigma
        FROM daily
    )
    SELECT event_type, day, n,
           ROUND((n - mu) / NULLIF(sigma, 0), 4) AS zscore,
           ABS(ROUND((n - mu) / NULLIF(sigma, 0), 4)) > 2 AS anomaly
    FROM stats
    ORDER BY event_type, day
    """,
    doc="Daily volume anomaly detection: per-type daily counts z-scored "
    "against that type's own distribution (window aggregates over the "
    "day-grain rollup, never the raw stream), rows beyond 2 sigma "
    "flagged — the monitoring/alerting shape. The heavy input "
    "collapses to |types| x |days| rows before any window runs.",
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ("events",))
    daily = (
        t["events"]
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("event_type")
    mu = F.avg(F.col("n") * 1.0).over(w)
    sigma = F.stddev_samp(F.col("n") * 1.0).over(w)
    # the flag derives from the ROUNDED zscore: both engines compare
    # the same 4-decimal quantity, so a day sitting on the 2-sigma
    # boundary cannot flip between them (stddev merge algorithms
    # differ in the last ulps)
    zscore = F.round((F.col("n") - mu) / F.nullif(sigma, F.lit(0)), 4)
    return daily.select(
        "event_type",
        "day",
        "n",
        zscore.alias("zscore"),
        (F.abs(zscore) > 2).alias("anomaly"),
    ).orderBy("event_type", "day")


@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (
        SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day
    ),
    mau AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS mau
        FROM days d
        JOIN du u ON u.day BETWEEN d.day - INTERVAL 27 DAY AND d.day
        GROUP BY d.day
    )
    SELECT d.day, dau.dau, mau.mau,
           ROUND(dau.dau * 1.0 / mau.mau, 6) AS stickiness
    FROM days d JOIN dau ON dau.day = d.day JOIN mau ON mau.day = d.day
    ORDER BY d.day
    """,
    doc="DAU/MAU stickiness per day: daily actives over trailing-28-day "
    "actives — the product-engagement ratio. Same "
    "contribute-then-aggregate formulation as the rolling-distinct "
    "kernel (each (day,user) explodes onto the 28 target days it "
    "supports; pure equi-shuffle), composed with the per-day distinct "
    "count; no theta join, no per-day rescan.",
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    du = (
        t["events"]
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
        .cache()
    )
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    contrib = du.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 27 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("w_day"),
        "user_id",
    )
    # no spine semi-join needed: the inner join with dau below already
    # restricts to observed days (unlike the rolling-distinct query,
    # which has no such join)
    mau = (
        contrib.groupBy("w_day")
        .agg(F.countDistinct("user_id").alias("mau"))
        .select(F.col("w_day").alias("day"), "mau")
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            F.round(F.col("dau") * 1.0 / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "incremental_mv_refresh",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(value), 6) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Incrementally-maintained materialized aggregate view "
    "(operators/incremental_mv.py): the events table lands in a "
    "transactional TxTable as three hash-disjoint appends, and the "
    "view refreshes after each — the first refresh builds, the later "
    "ones read ONLY the newly-appended data dirs (dir-set diff on the "
    "manifest) and merge algebraic partials (count/decimal-sum/min/"
    "max), never rescanning history. The oracle aggregates the whole "
    "table from scratch, proving refresh-by-parts == recompute; the "
    "query raises if a later refresh failed to take the incremental "
    "path. At 100 TB this is the dynamic-table pattern: refresh cost "
    "tracks new data, not table size.",
)
def incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "event_type", "value", F.pmod(F.xxhash64("event_id"), F.lit(3)).alias("b")
    )
    # Per-(application, sf) workspace, cleared on entry: the returned
    # DataFrame reads these files lazily (the caller collects after we
    # return), so we cannot delete on exit — instead each run removes
    # THIS session's previous files, bounding the footprint to one copy
    # per live application. Keyed by applicationId (like the graph edge
    # cache) so concurrent processes on the same sf — pytest alongside
    # bench — never rmtree each other's live TxTable mid-query
    # (ADVICE r6).
    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_mv_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    mv = IncrementalAggView(spark, src, f"{base}/mv", ["event_type"], "value")
    for i in range(3):
        src.append(ev.where(F.col("b") == i).drop("b"))
        report = mv.refresh()
        expected = "full" if i == 0 else "incremental"
        if report["mode"] != expected:  # pragma: no cover - invariant guard
            raise AssertionError(f"refresh {i}: {report}")
    return mv.result().orderBy("event_type")


@register(
    "incremental_mv_join_refresh",
    oracle="""
    SELECT c_mktsegment AS mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_value,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) / COUNT(o_totalprice), 6) AS avg_value,
           MIN(o_totalprice) AS min_value,
           MAX(o_totalprice) AS max_value
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY mktsegment
    """,
    doc="Incrementally-maintained aggregate over a JOIN "
    "(operators/incremental_mv.py:IncrementalJoinAggView, r9): the "
    "view is GROUP BY mktsegment over orders ⋈ customer, both landing "
    "as append-only TxTables, refreshed by the delta rule "
    "ΔF ⋈ D_new ∪ F_old ⋈ ΔD. The scenario interleaves appends on "
    "BOTH sides: a fact-only refresh must not re-read fact history "
    "(report-asserted), and a late dim batch must pick up the fact "
    "rows that arrived BEFORE it — orders of a not-yet-loaded "
    "customer contribute nothing until their customer lands, then "
    "surface through the F_old ⋈ ΔD term. The oracle recomputes the "
    "whole join from scratch: refresh-by-parts == recompute. At "
    "100 TB this is join-IVM for the star schema: refresh cost tracks "
    "the delta, the dim side broadcasts, history is never rescanned "
    "on the common fact-append path.",
)
def incremental_mv_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.incremental_mv import IncrementalJoinAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    t = load_tables(spark, sf_dir, ("orders", "customer"))
    fact = t["orders"].select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("value"),
        F.pmod(F.xxhash64("o_orderkey"), F.lit(3)).alias("b"),
    )
    dim = t["customer"].select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.pmod(F.xxhash64("c_custkey"), F.lit(2)).alias("b"),
    )
    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_mvjoin_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    f_tx = TxTable(spark, f"{base}/orders")
    d_tx = TxTable(spark, f"{base}/customer")
    mv = IncrementalJoinAggView(
        spark, f_tx, d_tx, f"{base}/mv", ["custkey"], ["mktsegment"], "value"
    )
    # v1: half the customers + a third of the orders -> full build.
    # Orders of the missing customers are ALREADY in the fact table but
    # must stay invisible until their dim rows arrive.
    f_tx.append(fact.where(F.col("b") == 0).drop("b"))
    d_tx.append(dim.where(F.col("b") == 0).drop("b"))
    r1 = mv.refresh()
    # v2: fact-only append — incremental, fact history NOT re-read
    f_tx.append(fact.where(F.col("b") == 1).drop("b"))
    r2 = mv.refresh()
    # v3: late dim batch + another fact batch — both delta terms fire
    d_tx.append(dim.where(F.col("b") == 1).drop("b"))
    f_tx.append(fact.where(F.col("b") == 2).drop("b"))
    r3 = mv.refresh()
    ok = (
        r1["mode"] == "full"
        and r2["mode"] == "incremental"
        and not r2["scanned_fact_history"]
        and r2["new_dim_dirs"] == 0
        and r3["mode"] == "incremental"
        and r3["scanned_fact_history"]
    )
    if not ok:  # pragma: no cover - invariant guard
        raise AssertionError(f"refresh reports: {r1} {r2} {r3}")
    return mv.result().orderBy("mktsegment")


@register(
    "incremental_mv_multi",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(value), 6) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(LENGTH(props) AS DECIMAL(28,4))) AS DOUBLE) AS sum_props_len,
           ROUND(CAST(SUM(CAST(LENGTH(props) AS DECIMAL(28,4))) AS DOUBLE) / COUNT(props), 6) AS avg_props_len,
           CAST(MIN(LENGTH(props)) AS BIGINT) AS min_props_len,
           CAST(MAX(LENGTH(props)) AS BIGINT) AS max_props_len,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS approx_distinct_day
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Multi-aggregate incremental materialized view over a "
    "PARTITIONED source (operators/incremental_mv.py): events land in "
    "a TxTable as three appends each carrying a manifest partition "
    "spec, and the view maintains count + sum/avg/min/max over TWO "
    "value columns PLUS a KMV distinct-day sketch per group — all "
    "algebraic partials merged per refresh from only the newly-"
    "appended dirs (loaded through the layout-aware reader). The KMV "
    "sketch (k=512) is in its exact regime here (≤ tens of distinct "
    "days per group), so the approximate distinct matches the oracle's "
    "exact COUNT(DISTINCT) bit-for-bit; above k it degrades to the "
    "bounded-error estimator the sketch pytest covers. At 100 TB this "
    "is the dynamic-table pattern with a full metric panel: refresh "
    "cost tracks new data, and even the distinct count never rescans "
    "history (sketches merge; exact COUNT(DISTINCT) does not).",
)
def incremental_mv_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "event_type",
        "value",
        F.length("props").cast("long").alias("props_len"),
        F.to_date("ts").alias("day"),
        F.pmod(F.xxhash64("event_id"), F.lit(3)).alias("b"),
    )
    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_mvm_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    mv = IncrementalAggView(
        spark,
        src,
        f"{base}/mv",
        ["event_type"],
        value_cols=["value", "props_len"],
        distinct_col="day",
        kmv_k=512,
    )
    for i in range(3):
        src.append(
            ev.where(F.col("b") == i).drop("b"), partition={"bucket": i}
        )
        report = mv.refresh()
        expected = "full" if i == 0 else "incremental"
        if report["mode"] != expected:  # pragma: no cover - invariant guard
            raise AssertionError(f"refresh {i}: {report}")
    return mv.result().orderBy("event_type")


@register(
    "incremental_mv_topk",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id, COUNT(*) AS cnt
        FROM events WHERE user_id IS NOT NULL
        GROUP BY event_type, user_id
    ),
    r AS (
        SELECT event_type, user_id, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY cnt DESC, user_id
               ) AS rk
        FROM c
    ),
    tk AS (
        SELECT event_type,
               string_agg(user_id || ':' || cnt, ',' ORDER BY rk)
                   AS top3_user_id
        FROM r WHERE rk <= 3 GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(value), 6) AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           COALESCE(MIN(tk.top3_user_id), '') AS top3_user_id
    FROM events e LEFT JOIN tk ON e.event_type = tk.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    doc="Heavy-hitter panel in the incremental materialized view "
    "(operators/incremental_mv.py topk_col, r10): the metric panel "
    "gains per-group TOP-K FREQUENT ITEMS — Spark's mergeable "
    "approx_top_k sketch (JVM aggregate, parquet-serializable) rides "
    "the same algebraic-partial machinery as the sums and the KMV "
    "sketch, so 'which users dominate each event type' maintains "
    "incrementally: each refresh accumulates only the newly-appended "
    "dirs and combines with the stored sketch, never rescanning "
    "history (exact top-k does not merge; the sketch does). Finalized "
    "as a DETERMINISTIC 'item:count,...' string (count desc, item asc "
    "— the sketch's own tie order is unspecified and would flap "
    "hashes). In its exact regime here (distinct users per group ≤ "
    "the 1M tracked slots) counts are exact, so the panel matches the "
    "oracle's COUNT(*) ranking bit-for-bit; above capacity it "
    "degrades to bounded-error frequent-items. At 100 TB this is the "
    "trending/abuse dashboard maintained at append cost.",
)
def incremental_mv_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "event_type",
        "value",
        "user_id",
        F.pmod(F.xxhash64("event_id"), F.lit(3)).alias("b"),
    )
    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_mvtopk_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    mv = IncrementalAggView(
        spark,
        src,
        f"{base}/mv",
        ["event_type"],
        "value",
        topk_col="user_id",
        topk_k=3,
        topk_track=1_000_000,
    )
    for i in range(3):
        src.append(ev.where(F.col("b") == i).drop("b"))
        report = mv.refresh()
        expected = "full" if i == 0 else "incremental"
        if report["mode"] != expected:  # pragma: no cover - invariant guard
            raise AssertionError(f"refresh {i}: {report}")
    return mv.result().orderBy("event_type")


@register(
    "incremental_mv_quantiles",
    oracle="""
    WITH binned AS (
        SELECT event_type,
               CASE WHEN value = 0 THEN 0
                    WHEN value > 0 THEN
                        CAST(LEAST(GREATEST(FLOOR((LOG10(ABS(value)) + 6) * 8), 0), 143) AS INT) + 1
                    ELSE
                        CAST(LEAST(GREATEST(FLOOR((LOG10(ABS(value)) + 6) * 8), 0), 143) AS INT) + 145
               END AS bin
        FROM events
        WHERE value IS NOT NULL
    ),
    counts AS (
        SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2
    ),
    ordered AS (
        SELECT event_type, bin, c,
               CASE WHEN bin = 0 THEN 0
                    WHEN bin <= 144 THEN bin
                    ELSE 144 - bin END AS ord
        FROM counts
    ),
    cum AS (
        SELECT event_type, bin, c, ord,
               SUM(c) OVER (PARTITION BY event_type ORDER BY ord) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS total
        FROM ordered
    ),
    mid AS (
        SELECT event_type, cum, total,
               cum - c AS prev_cum,
               CASE WHEN bin = 0 THEN 0.0
                    WHEN bin <= 144 THEN POWER(10.0, -6 + (bin - 1 + 0.5) / 8)
                    ELSE -POWER(10.0, -6 + (bin - 145 + 0.5) / 8) END AS midv
        FROM cum
    ),
    totals AS (
        -- the MV's n is COUNT(*) over ALL rows; the histogram total
        -- excludes NULL values, so it must not stand in for n
        SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    )
    SELECT totals.event_type,
           MAX(totals.n) AS n,
           ROUND(MAX(CASE WHEN prev_cum < CEIL(0.5 * total) AND cum >= CEIL(0.5 * total) THEN midv END), 6) AS approx_p50_value,
           ROUND(MAX(CASE WHEN prev_cum < CEIL(0.95 * total) AND cum >= CEIL(0.95 * total) THEN midv END), 6) AS approx_p95_value,
           ROUND(MAX(CASE WHEN prev_cum < CEIL(0.99 * total) AND cum >= CEIL(0.99 * total) THEN midv END), 6) AS approx_p99_value
    -- driven FROM totals with a null-safe LEFT JOIN: a group whose
    -- values are entirely NULL (absent from the histogram) or whose
    -- KEY is NULL still surfaces with n>0 and NULL quantiles, matching
    -- the MV (r8 advice, events.py)
    FROM totals LEFT JOIN mid ON mid.event_type IS NOT DISTINCT FROM totals.event_type
    GROUP BY totals.event_type
    ORDER BY totals.event_type
    """,
    doc="Incremental quantile panel (operators/sketches.py log-"
    "histogram + operators/incremental_mv.py): the view maintains a "
    "DDSketch-style log-scale histogram per group — a FIXED array of "
    "bucket counts whose merge is element-wise integer addition, i.e. "
    "an EXACT algebraic partial — through three incremental refreshes, "
    "then finalizes p50/p95/p99 as bucket midpoints (bounded RELATIVE "
    "error of one bucket, 10^(1/8)=1.33x). The sketch is deterministic "
    "end-to-end, so the oracle REPLAYS the same bucketing/midpoint "
    "arithmetic in SQL over the raw table and the comparison is a "
    "hash-match, not a tolerance check. At 100 TB this is how a "
    "percentile dashboard refreshes from new data only: "
    "percentile_approx partials cannot be stored-and-merged across "
    "refreshes, histogram counts can.",
)
def incremental_mv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "event_type", "value", F.pmod(F.xxhash64("event_id"), F.lit(3)).alias("b")
    )
    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_mvq_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    mv = IncrementalAggView(
        spark,
        src,
        f"{base}/mv",
        ["event_type"],
        value_cols=["value"],
        histogram_col="value",
        quantiles=(0.5, 0.95, 0.99),
    )
    for i in range(3):
        src.append(ev.where(F.col("b") == i).drop("b"))
        report = mv.refresh()
        expected = "full" if i == 0 else "incremental"
        if report["mode"] != expected:  # pragma: no cover - invariant guard
            raise AssertionError(f"refresh {i}: {report}")
    return (
        mv.result()
        .select(
            "event_type",
            "n",
            F.round("approx_p50_value", 6).alias("approx_p50_value"),
            F.round("approx_p95_value", 6).alias("approx_p95_value"),
            F.round("approx_p99_value", 6).alias("approx_p99_value"),
        )
        .orderBy("event_type")
    )


@register(
    "incremental_mv_kll_quantiles",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS total
        FROM events
        WHERE value IS NOT NULL
    ),
    totals AS (
        SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    )
    SELECT t.event_type,
           MAX(t.n) AS n,
           ROUND(MAX(CASE WHEN rn = GREATEST(1, CEIL(0.5 * total)) THEN value END), 6) AS approx_p50_value,
           ROUND(MAX(CASE WHEN rn = GREATEST(1, CEIL(0.95 * total)) THEN value END), 6) AS approx_p95_value,
           ROUND(MAX(CASE WHEN rn = GREATEST(1, CEIL(0.99 * total)) THEN value END), 6) AS approx_p99_value
    -- driven FROM totals with a null-safe LEFT JOIN: an event_type
    -- whose values are all NULL (absent from ranked) or whose KEY is
    -- NULL still surfaces with n>0 and NULL quantiles, matching the
    -- MV output (r8 advice, events.py:1279)
    FROM totals t LEFT JOIN ranked r ON r.event_type IS NOT DISTINCT FROM t.event_type
    GROUP BY t.event_type
    ORDER BY t.event_type
    """,
    doc="Incremental quantile panel on the KLL-family rank sketch "
    "(operators/sketches.py kll_*, r8 — the finer-precision opt-in "
    "next to the log-histogram): the view maintains one deterministic "
    "MRL-compaction rank sketch per group through three incremental "
    "refreshes, merging serialized level buffers as algebraic "
    "partials. Sized to its EXACT regime here (k=32768 ≥ any group's "
    "row count at the tested scales), the merged sketch holds the "
    "full value multiset and p50/p95/p99 are exact order statistics — "
    "so the oracle computes PERCENTILE_DISC semantics (smallest value "
    "whose cumulative count reaches ceil(q*n)) with window functions "
    "and the comparison is a hash-match. Above capacity the sketch "
    "degrades to the bounded RANK error the pytest covers — the "
    "regime where loghist's 1.33x relative buckets lose to it on "
    "narrow-range distributions. At 100 TB: rank-quantile dashboards "
    "that refresh from new data only, with sketches small enough to "
    "store per group per day and merge across any rollup.",
)
def incremental_mv_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.incremental_mv import IncrementalAggView
    from hapiy_etl_spark.operators.txstore import TxTable

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "event_type", "value", F.pmod(F.xxhash64("event_id"), F.lit(3)).alias("b")
    )
    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_mvk_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    mv = IncrementalAggView(
        spark,
        src,
        f"{base}/mv",
        ["event_type"],
        value_cols=["value"],
        histogram_col="value",
        quantiles=(0.5, 0.95, 0.99),
        rank_sketch="kll",
        kll_k=32768,
    )
    for i in range(3):
        src.append(ev.where(F.col("b") == i).drop("b"))
        report = mv.refresh()
        expected = "full" if i == 0 else "incremental"
        if report["mode"] != expected:  # pragma: no cover - invariant guard
            raise AssertionError(f"refresh {i}: {report}")
    return (
        mv.result()
        .select(
            "event_type",
            "n",
            F.round("approx_p50_value", 6).alias("approx_p50_value"),
            F.round("approx_p95_value", 6).alias("approx_p95_value"),
            F.round("approx_p99_value", 6).alias("approx_p99_value"),
        )
        .orderBy("event_type")
    )


@register(
    "optimize_clustered_slice",
    oracle="""
    WITH bounds AS (
        SELECT MIN(event_id) AS mn, MAX(event_id) AS mx FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events, bounds
    WHERE event_id <= mn + (mx - mn) // 8
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Range-clustered compaction (operators/txstore.py "
    "optimize_clustered, r8): events land as three hash-interleaved "
    "appends — every dir spans the whole event_id range, so the "
    "accumulated stats prune NOTHING (the query asserts a pre-optimize "
    "slice reads all 3 dirs). One clustered OPTIMIZE rewrites the "
    "snapshot as four range-disjoint dirs with tight per-dir stats "
    "computed from the written files (approx-percentile boundaries, one "
    "shuffle-write into a bucket spool, subdirs promoted by rename), "
    "after which the same bottom-eighth slice reads ONE dir (asserted). "
    "The oracle aggregates the raw table under the same range filter. "
    "At 100 TB this is the compaction that IMPROVES skipping instead "
    "of destroying it: plain OPTIMIZE collapses to one dir whose "
    "union bounds span everything; the clustered form is Delta's "
    "OPTIMIZE ZORDER at dir granularity.",
)
def optimize_clustered_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.txstore import TxTable, dirs_read

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "event_id", "event_type", "value",
        F.pmod(F.xxhash64("event_id"), F.lit(3)).alias("b"),
    )
    mn, mx = ev.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    cut = int(mn) + (int(mx) - int(mn)) // 8

    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_optc_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    for i in range(3):  # hash-interleaved: every dir spans the key range
        src.append(ev.where(F.col("b") == i).drop("b"), stats_cols=["event_id"])
    pre = src.read(where_range={"event_id": (None, cut)})
    if len(dirs_read(pre)) != 3:  # pragma: no cover - invariant guard
        raise AssertionError("interleaved appends should be unprunable")

    src.optimize_clustered("event_id", n_dirs=4)
    df = src.read(where_range={"event_id": (None, cut)})
    touched = dirs_read(df)
    if len(touched) != 1:  # pragma: no cover - invariant guard
        raise AssertionError(
            f"clustered slice read {len(touched)} of 4 dirs (want 1)"
        )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "optimize_zorder_slice",
    oracle="""
    WITH bounds AS (
        SELECT MIN(event_id) AS mne, MAX(event_id) AS mxe,
               MIN(user_id) AS mnu, MAX(user_id) AS mxu
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events, bounds
    WHERE event_id <= mne + (mxe - mne) // 4
      AND user_id <= mnu + (mxu - mnu) // 4
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Multi-column Z-ORDER compaction (operators/txstore.py "
    "optimize_clustered with a column LIST, r9): events land as three "
    "hash-interleaved appends, then one clustered OPTIMIZE buckets the "
    "snapshot by percentiles of the Morton interleave of min-max-"
    "scaled (event_id, user_id) — 8 dirs whose per-dir read-back "
    "stats are tight in BOTH columns. A bottom-quarter box slice "
    "(both predicates) then reads a small fraction of the dirs "
    "(asserted <= 3 of 8); single-column range clustering can never "
    "beat every-dir-matching-the-first-column on such a slice. The "
    "oracle aggregates the raw table under the same integer-arithmetic "
    "box. At 100 TB this is Delta OPTIMIZE ZORDER at dir granularity: "
    "multi-dimension locality so that dashboard slices predicated on "
    "two keys skip, not scan.",
)
def optimize_zorder_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.txstore import TxTable, dirs_read

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "event_id", "user_id", "event_type", "value",
        F.pmod(F.xxhash64("event_id"), F.lit(3)).alias("b"),
    )
    mne, mxe, mnu, mxu = ev.agg(
        F.min("event_id"), F.max("event_id"),
        F.min("user_id"), F.max("user_id"),
    ).collect()[0]
    cut_e = int(mne) + (int(mxe) - int(mne)) // 4
    cut_u = int(mnu) + (int(mxu) - int(mnu)) // 4

    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_zord_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    for i in range(3):  # hash-interleaved: every dir spans both ranges
        src.append(
            ev.where(F.col("b") == i).drop("b"),
            stats_cols=["event_id", "user_id"],
        )
    src.optimize_clustered(["event_id", "user_id"], n_dirs=8)
    df = src.read(
        where_range={
            "event_id": (None, cut_e),
            "user_id": (None, cut_u),
        }
    )
    touched = dirs_read(df)
    if len(touched) > 3:  # pragma: no cover - invariant guard
        raise AssertionError(
            f"z-order box slice read {len(touched)} of 8 dirs (want <= 3)"
        )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "merge_pruned_upsert",
    oracle="""
    WITH bounds AS (
        SELECT MIN(event_id) AS mn, MAX(event_id) AS mx FROM events
    ),
    corrected AS (
        SELECT event_type,
               CASE WHEN event_id >= mn + (mx - mn) * 7 // 8
                    THEN value * 2 ELSE value END AS value
        FROM events, bounds
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM corrected
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="MERGE file pruning end-to-end (operators/txstore.py:merge "
    "prune_col): events land as four key-range appends carrying "
    "event_id [min,max] stats, then a correction batch (top eighth of "
    "the key range, values doubled) MERGEs with prune_col='event_id' — "
    "the batch's computed key range proves three of the four dirs "
    "cannot contain a matching key, so they carry forward untouched "
    "(the query asserts the manifest kept their dir ids) and only the "
    "top dir joins the upsert. The oracle applies the same correction "
    "arithmetically over the raw table. At 100 TB this is the Delta-"
    "style upsert posture: time-ordered ingest means a merge touches "
    "the recent tail, never the table.",
)
def merge_pruned_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.txstore import TxTable

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select("event_id", "event_type", "value")
    mn, mx = ev.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    cuts = [mn + (mx - mn) * i // 4 for i in (1, 2, 3)]
    thr = mn + (mx - mn) * 7 // 8

    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_mergeprune_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    lo = None
    for hi in [*cuts, None]:
        batch = ev
        if lo is not None:
            batch = batch.where(F.col("event_id") >= lo)
        if hi is not None:
            batch = batch.where(F.col("event_id") < hi)
        src.append(batch, stats_cols=["event_id"])
        lo = hi
    dirs_before = list(src._manifest(src.latest_version())["dirs"])

    correction = ev.where(F.col("event_id") >= thr).withColumn(
        "value", F.col("value") * 2
    )
    src.merge(correction, keys=["event_id"], prune_col="event_id")
    m = src._manifest(src.latest_version())
    carried = [d for d in dirs_before if d in m["dirs"]]
    if len(carried) != 3:  # pragma: no cover - invariant guard
        raise AssertionError(
            f"merge pruning must carry 3 of 4 dirs, kept {len(carried)}: {m['dirs']}"
        )
    return (
        src.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_pruned_time_slice",
    oracle="""
    WITH bounds AS (
        SELECT MIN(ts) + INTERVAL 10 DAY AS lo,
               MIN(ts) + INTERVAL 17 DAY AS hi
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
    FROM events, bounds
    WHERE ts >= lo AND ts <= hi
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Manifest-statistics time slicing (operators/txstore.py): the "
    "events table lands in a TxTable as weekly appends, each recording "
    "its ts [min, max] in the manifest (append(stats_cols=...) — "
    "Iceberg-style file statistics at dir granularity, computed from "
    "the written data, never a trusted declaration). A 7-day windowed "
    "read (read(where_range=...)) then skips every dir whose recorded "
    "range cannot intersect the window — the query asserts at least "
    "one dir was pruned via inputFiles — and re-applies the bounds "
    "row-level so overlapping dirs stay exact. The oracle filters the "
    "raw table with the same BETWEEN. At 100 TB this is how a commit "
    "log answers 'last week' without listing a year of files: batches "
    "arrive roughly in time order, so ranges barely overlap and the "
    "planner touches only the handful of dirs under the window.",
)
def stats_pruned_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt
    import shutil
    import tempfile
    from pathlib import Path

    from hapiy_etl_spark.operators.txstore import TxTable

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select("event_type", "value", "ts")
    mn = ev.agg(F.min("ts")).collect()[0][0]
    lo, hi = mn + dt.timedelta(days=10), mn + dt.timedelta(days=17)

    base = str(
        Path(tempfile.gettempdir())
        / f"spark_graft_stats_demo_{spark.sparkContext.applicationId}_{Path(sf_dir).name}"
    )
    shutil.rmtree(base, ignore_errors=True)
    src = TxTable(spark, f"{base}/src")
    wk = ev.withColumn(
        "wk", F.floor(F.datediff(F.col("ts"), F.lit(mn)) / F.lit(7))
    )
    # which weeks are non-empty, in ONE job (optimization r16, guide
    # §1.2): the per-week limit(1).count() probe was one scan job per
    # candidate week before any append ran. Events with a NULL ts form
    # a NULL week: no window can hold them, so no dir is appended.
    present = {
        int(r["wk"])
        for r in wk.groupBy("wk").count().collect()
        if r["wk"] is not None
    }
    n_dirs = 0
    for w in range(6):
        if w in present:
            src.append(wk.where(F.col("wk") == w).drop("wk"), stats_cols=["ts"])
            n_dirs += 1
    sliced = src.read(where_range={"ts": (lo, hi)})
    from hapiy_etl_spark.operators.txstore import dirs_read

    touched = dirs_read(sliced)
    if not (len(touched) < n_dirs):  # pragma: no cover - invariant guard
        raise AssertionError(
            f"expected manifest-stats pruning: {len(touched)} of {n_dirs} dirs read"
        )
    return (
        sliced.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "constraints_quarantine",
    oracle="""
    WITH dirty AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN -o_totalprice ELSE o_totalprice END AS price,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS cust,
               CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS status
        FROM orders
    )
    SELECT o_orderkey,
           concat_ws(',',
               CASE WHEN cust IS NULL THEN 'custkey_not_null' END,
               CASE WHEN NOT (price >= 0) THEN 'nonneg_price' END,
               CASE WHEN NOT (status IN ('O', 'F', 'P')) THEN 'valid_status' END
           ) AS violations
    FROM dirty
    WHERE cust IS NULL OR NOT (price >= 0) OR NOT (status IN ('O', 'F', 'P'))
    ORDER BY o_orderkey
    """,
    doc="Write-path constraint enforcement with quarantine "
    "(operators/constraints.py): orders deterministically corrupted "
    "three ways (negated price on keys %5, nulled FK on %7, invalid "
    "status on %11 — overlapping keys collect MULTIPLE reasons), then "
    "validate_split flags each row against declared CHECK rules in one "
    "map-only pass and returns the quarantined rows with their sorted "
    "machine-readable reason list. NULL follows ANSI CHECK semantics "
    "(unknown passes; null-rejection is its own declared rule), which "
    "the nulled-FK mutation exercises: it trips ONLY custkey_not_null, "
    "never the range rule. The landing path (clean rows into a "
    "TxTable, violations into a versioned quarantine table) is "
    "pytest-verified: tests/test_operators.py::"
    "test_checked_append_quarantine_and_fail_modes.",
)
def constraints_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hapiy_etl_spark.operators.constraints import (
        VIOLATIONS_COL,
        Check,
        validate_split,
    )

    t = load_tables(spark, sf_dir, ("orders",))
    k = F.col("o_orderkey")
    dirty = t["orders"].select(
        "o_orderkey",
        F.when(k % 5 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(k % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(k % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    checks = [
        Check("custkey_not_null", "o_custkey IS NOT NULL"),
        Check("nonneg_price", "o_totalprice >= 0"),
        Check("valid_status", "o_orderstatus IN ('O', 'F', 'P')"),
    ]
    _clean, quarantined = validate_split(dirty, checks)
    return quarantined.select(
        "o_orderkey", F.array_join(VIOLATIONS_COL, ",").alias("violations")
    ).orderBy("o_orderkey")


@register(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               ROUND(epoch(ts) - lag(epoch(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id), 6) AS gap_s
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           ROUND(CAST(SUM(CAST(gap_s AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(gap_s), 4) AS avg_gap_s,
           ROUND(MIN(gap_s), 4) AS min_gap_s,
           ROUND(MAX(gap_s), 4) AS max_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Per-user inter-arrival gap statistics by event type (r13): "
    "lag over (user, time) gives each event its distance to the "
    "user's previous event (any type — the gap attributes to the "
    "CURRENT event's type), then one grouped aggregate — the "
    "engagement-cadence panel behind bot screens (impossibly uniform "
    "or zero gaps) and session-timeout calibration (where the gap "
    "distribution's tail starts is where sessionization should cut). "
    "Scale shape: the window partitions on user_id (data-grain key, "
    "millions of independent partitions — never a global window) with "
    "a deterministic (ts, event_id) tie order shared with the twin; "
    "gaps are double epoch-seconds rounded to 6 before the "
    "DECIMAL-quantized sum, so the average is order-independent and "
    "cross-engine exact.",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = t["events"].select(
        "event_type",
        F.round(
            F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w),
            6,
        ).alias("gap_s"),
    )
    return (
        gaps.where(F.col("gap_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(
                F.sum(F.col("gap_s").cast("decimal(18,6)")).cast("double")
                / F.count("gap_s"),
                4,
            ).alias("avg_gap_s"),
            F.round(F.min("gap_s"), 4).alias("min_gap_s"),
            F.round(F.max("gap_s"), 4).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


@register(
    "events_bot_cadence_screen",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch(ts) - lag(epoch(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS g
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(COUNT(g) AS BIGINT) AS n_gaps,
               ROUND(quantile_cont(g, 0.5), 4) AS med_gap_s,
               ROUND(MIN(g), 4) AS min_gap_s
        FROM gaps WHERE g IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, n_gaps, med_gap_s, min_gap_s
    FROM per_user
    WHERE n_gaps >= 20 AND med_gap_s <= 21600
    ORDER BY user_id
    """,
    doc="Bot / automation cadence screen (r13): users whose MEDIAN "
    "inter-event gap is implausibly short for a human (<= 6h here, "
    "tuned to the synthetic cadence band) over a minimum event count "
    "— the abuse-filtering sibling of events_interarrival_stats "
    "(median, not mean: one long idle gap shouldn't launder a "
    "machine-gun session). Scale shape: the lag window partitions on "
    "user_id (data-grain key), the median is a per-user grouped "
    "percentile (exact interpolated percentile == DuckDB "
    "quantile_cont, the agg_percentiles-proven seam), one filter — "
    "no global windows, no second scan.",
)
def events_bot_cadence_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = t["events"].select(
        "user_id",
        (F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)).alias("g"),
    ).where(F.col("g").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("g").alias("n_gaps"),
            F.round(F.expr("percentile(g, 0.5)"), 4).alias("med_gap_s"),
            F.round(F.min("g"), 4).alias("min_gap_s"),
        )
        .where((F.col("n_gaps") >= 20) & (F.col("med_gap_s") <= 21600))
        .orderBy("user_id")
    )
