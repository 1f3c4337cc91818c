"""Event-stream operators over the ``events`` table, batch-mode.

Covers the time-series surface a stream pipeline needs — tumbling and
sliding windows, gap-based sessionization, and an event funnel (range
join).  The same logic runs under Structured Streaming in
:mod:`padawan_spark.streaming` (tumbling/session windows with
watermarks); these batch variants are the oracle-checkable semantics.

Scale notes: windows aggregate on (bucket, type) — high cardinality,
shuffle-friendly; sessionization partitions by user_id (bounded state per
key); the funnel is an equi-join on user_id with a range predicate
residual, NOT a time-range cross join.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import DEC, dsum, load, query, sql_dsum


@query("ev_tumbling_window", oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS w_end,
       event_type, COUNT(*) AS n, {sql_dsum('value', 'total_value')}
FROM events GROUP BY 1, 2, 3
""")
def ev_tumbling_window(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
            .select(F.col("w.start").alias("w_start"),
                    F.col("w.end").alias("w_end"), "event_type", "n",
                    "total_value"))


@query("ev_sliding_window", oracle=f"""
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
  FROM events)
SELECT w_start, w_start + INTERVAL '1 hour' AS w_end, COUNT(*) AS n,
       {sql_dsum('value', 'total_value')}
FROM assigned GROUP BY w_start
""")
def ev_sliding_window(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
            .select(F.col("w.start").alias("w_start"),
                    F.col("w.end").alias("w_end"), "n", "total_value"))


@query("ev_sessionize", oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
              - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 14400000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, ts, event_id,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS session_id
  FROM flagged)
SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
""")
def ev_sessionize(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap in exact MICROSECONDS: a whole-second cast would truncate
    # fractional seconds and merge sessions whose gap is 4h + <1s
    # (surfaced by the sf0.1 sweep; both engines now compare epoch-us)
    gap = (F.unix_micros(F.col("ts"))
           - F.unix_micros(F.lag(F.col("ts")).over(w)))
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 4 * 3600 * 1_000_000), 1).otherwise(0))
    cum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(cum).cast("bigint"))
    return (sessions.groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).alias("n_events")))


@query("ev_session_concurrency", oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
              - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 14400000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
numbered AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged),
sessions AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e
  FROM numbered GROUP BY user_id, sid),
segs AS (
  SELECT GREATEST(s, d) AS seg_start,
         LEAST(e, d + INTERVAL '1 day' - INTERVAL '1 microsecond') AS seg_end,
         d AS day
  FROM sessions,
       UNNEST(generate_series(date_trunc('day', s), date_trunc('day', e),
                              INTERVAL '1 day')) AS t(d)),
pts AS (
  SELECT day, seg_start AS pt, 1 AS delta FROM segs
  UNION ALL SELECT day, seg_end, -1 FROM segs),
run AS (
  SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY pt, delta DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM pts)
SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_sessions
FROM run GROUP BY day
""")
def ev_session_concurrency(spark, sf_dir):
    """Peak number of simultaneously-active sessions per calendar day —
    the capacity-planning / load-profile primitive over the same 4h-gap
    sessions as :func:`ev_sessionize`.

    Scale shape: the classic +1/-1 interval sweep needs a running sum
    over a total order — a GLOBAL ordered window would serialize on one
    task.  Instead each session is clipped to the days it spans
    (``sequence`` + ``explode``), so the sweep window partitions by day
    and per-partition state is bounded by the sessions touching that
    day; a day-long session still registers on every day it covers.
    Finer clips (hour) are the same plan with a different bucket.  All
    arithmetic is integer counting — engine-exact.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros(F.col("ts"))
           - F.unix_micros(F.lag(F.col("ts")).over(w)))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        e.select("user_id", "ts", "event_id")
        .withColumn("new_session",
                    F.when(gap.isNull() | (gap > 4 * 3600 * 1_000_000), 1)
                    .otherwise(0))
        .withColumn("sid", F.sum("new_session").over(cum))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    segs = (
        sessions
        .withColumn("d", F.explode(F.sequence(
            F.date_trunc("DAY", "s"), F.date_trunc("DAY", "e"),
            F.expr("INTERVAL 1 DAY"))))
        .select(
            F.col("d").alias("day"),
            F.greatest("s", "d").alias("seg_start"),
            F.least("e", F.col("d") + F.expr(
                "INTERVAL 1 DAY") - F.expr(
                "INTERVAL 1 MICROSECOND")).alias("seg_end")))
    pts = (segs.select("day", F.col("seg_start").alias("pt"),
                       F.lit(1).alias("delta"))
           .unionAll(segs.select("day", F.col("seg_end"),
                                 F.lit(-1))))
    sweep = (Window.partitionBy("day").orderBy(F.col("pt"),
                                               F.col("delta").desc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    run = pts.withColumn("conc", F.sum("delta").over(sweep))
    return (run.groupBy("day")
            .agg(F.max("conc").cast("bigint").alias("peak_sessions")))


@query("ev_funnel", oracle="""
SELECT s.user_id, s.ts AS signup_ts, MIN(p.ts) AS first_purchase_ts,
       COUNT(*) AS purchases_24h
FROM events s JOIN events p
  ON s.user_id = p.user_id AND s.event_type = 'signup'
 AND p.event_type = 'purchase' AND p.ts > s.ts
 AND p.ts <= s.ts + INTERVAL '24 hours'
GROUP BY s.user_id, s.ts
""")
def ev_funnel(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    s = e.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts"))
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    j = s.join(p, (F.col("s_user") == F.col("p_user"))
               & (F.col("p_ts") > F.col("signup_ts"))
               & (F.col("p_ts") <= F.col("signup_ts") + F.expr("INTERVAL 24 HOURS")))
    return (j.groupBy(F.col("s_user").alias("user_id"), "signup_ts")
            .agg(F.min("p_ts").alias("first_purchase_ts"),
                 F.count(F.lit(1)).alias("purchases_24h")))


@query("ev_gapfill", oracle=f"""
WITH buckets AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-01-30 23:00:00',
                                INTERVAL '1 hour')) AS h),
hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS h, COUNT(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT b.h AS hour, CAST(COALESCE(hourly.n, 0) AS BIGINT) AS n
FROM buckets b LEFT JOIN hourly ON b.h = hourly.h
""")
def ev_gapfill(spark, sf_dir):
    """Dense hourly series with zero-filled gaps — generate_series +
    left join, the hypertable gap-fill pattern (scales as a broadcast of
    the generated spine against the aggregated side)."""
    e = load(spark, sf_dir, "events")
    hourly = (e.where(F.col("event_type") == "purchase")
              .groupBy(F.date_trunc("hour", "ts").alias("h"))
              .agg(F.count(F.lit(1)).alias("n")))
    spine = spark.sql("""
        SELECT explode(sequence(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-01-30 23:00:00',
                                INTERVAL 1 HOUR)) AS hour""")
    return (spine.join(hourly, spine.hour == hourly.h, "left")
            .select("hour", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")))


@query("ev_retention", oracle="""
WITH first AS (
  SELECT user_id,
    CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
      AS cohort
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id,
    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wk
  FROM events)
SELECT f.cohort,
  CAST(EXTRACT(EPOCH FROM a.wk - f.cohort) / 604800 AS INTEGER)
    AS week_offset,
  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM first f JOIN activity a ON f.user_id = a.user_id
GROUP BY 1, 2
""")
def ev_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen week, counted
    distinct per week offset.  ONE aggregation over events:
    cohort = min(ts) week and the distinct active-week SET
    ride the same user_id shuffle — the old two-pass form (cohort agg +
    distinct activity + join on user_id) scanned events twice and
    shuffled three times for the same rows (explode(collect_set(wk)) ==
    the distinct (user, wk) pairs; the inner join was a no-op since
    both sides came from the same table).  Per-user state is bounded by
    calendar weeks; week offsets are exact integers (UTC, no DST) so
    the output is hash-stable."""
    e = load(spark, sf_dir, "events")
    per_user = (e.groupBy("user_id")
                .agg(F.date_trunc("week", F.min("ts")).alias("cohort"),
                     F.collect_set(F.date_trunc("week", "ts")).alias("wks")))
    j = per_user.select("user_id", "cohort", F.explode("wks").alias("wk"))
    offset = ((F.col("wk").cast("long") - F.col("cohort").cast("long"))
              / 604800).cast("int")
    return (j.groupBy("cohort", offset.alias("week_offset"))
            .agg(F.countDistinct("user_id").cast("bigint").alias("n_users")))


@query("ev_ohlc", oracle=f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
       arg_min(value, ts) AS open_v,
       CAST(MAX(value) AS DOUBLE) AS high_v,
       CAST(MIN(value) AS DOUBLE) AS low_v,
       arg_max(value, ts) AS close_v,
       COUNT(*) AS n, {sql_dsum('value', 'volume')}
FROM events GROUP BY 1, 2
""")
def ev_ohlc(spark, sf_dir):
    """OHLC bars — the market-data / telemetry rollup: per (hour, type)
    bucket, the first (open) and last (close) value by event time plus
    the high/low/volume.  open/close use min/max over a (ts, event_id,
    value) struct — Spark structs compare lexicographically, so this is
    an argmin/argmax with a total tie-break that runs as an ordinary
    partial+final hash aggregation (one shuffle on the bucket key, no
    window sort at all); the DuckDB oracle's arg_min/arg_max agree
    because event timestamps are unique per type.  The struct-min trick
    is THE scale pattern for "value at extremum" — a windowed
    row_number would sort every group; this never sorts."""
    e = load(spark, sf_dir, "events")
    key = F.struct("ts", "event_id", "value")
    return (e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.min(key).getField("value").alias("open_v"),
                 F.max("value").alias("high_v"),
                 F.min("value").alias("low_v"),
                 F.max(key).getField("value").alias("close_v"),
                 F.count(F.lit(1)).alias("n"),
                 dsum(F.col("value"), "volume")))


@query("ev_rolling_actives", oracle="""
WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   user_id FROM events),
spine AS (SELECT DISTINCT d FROM ud)
SELECT spine.d AS day, COUNT(DISTINCT ud.user_id) AS wau
FROM spine JOIN ud
  ON ud.d >= spine.d - INTERVAL 6 DAY AND ud.d <= spine.d
GROUP BY spine.d
""")
def ev_rolling_actives(spark, sf_dir):
    """Rolling 7-day active users (WAU) — the rolling-DISTINCT metric
    window frames cannot express (distinct doesn't compose over sliding
    frames).  Formulated as: compact (day, user) pairs → day spine
    BROADCAST-range-joined to the pairs (each pair lands in ≤7 spine
    days) → distinct count per day.  The expensive side stays one
    distinct pass over raw events; the range join fans out only the
    deduplicated day×user pairs, which is what keeps WAU/MAU tractable
    on a 100 TB event log."""
    e = load(spark, sf_dir, "events")
    ud = (e.select(F.date_trunc("day", "ts").alias("d"), "user_id")
          .distinct())
    spine = ud.select("d").distinct().withColumnRenamed("d", "day")
    return (ud.join(F.broadcast(spine),
                    (F.col("d") >= F.expr("day - INTERVAL 6 DAY"))
                    & (F.col("d") <= F.col("day")))
            .groupBy("day")
            .agg(F.countDistinct("user_id").alias("wau")))


@query("ev_funnel_steps", oracle="""
WITH per_user AS (
  SELECT user_id,
    list_min(list(ts) FILTER (WHERE event_type = 'view')) AS v,
    list(ts) FILTER (WHERE event_type = 'click') AS clicks,
    list(ts) FILTER (WHERE event_type = 'purchase') AS purchases
  FROM events GROUP BY user_id),
steps AS (
  SELECT user_id, v,
    list_min(list_filter(clicks, t -> t > v)) AS c,
    list_min(list_filter(purchases,
      t -> t > list_min(list_filter(clicks, x -> x > v)))) AS p
  FROM per_user)
SELECT CAST(COUNT(v) AS BIGINT) AS n_viewed,
       CAST(COUNT(c) AS BIGINT) AS n_clicked_after,
       CAST(COUNT(p) AS BIGINT) AS n_purchased_after
FROM steps
""")
def ev_funnel_steps(spark, sf_dir):
    """Ordered 3-step funnel (view → click → purchase): each stage must
    strictly follow the user's previous stage.  Computed by collecting
    per-user event-time arrays in ONE aggregation and resolving the
    stage chain with array_min/filter — no N-way self-join, so the cost
    is one shuffle on user_id regardless of funnel depth, and per-user
    state is bounded by that user's event count (the standard product-
    analytics funnel shape at event-log scale)."""
    e = load(spark, sf_dir, "events")

    def times(t):
        return F.collect_list(F.when(F.col("event_type") == t,
                                     F.col("ts")))

    per_user = (e.groupBy("user_id")
                .agg(F.array_min(times("view")).alias("v"),
                     times("click").alias("clicks"),
                     times("purchase").alias("purchases")))
    c = F.array_min(F.filter("clicks",
                             lambda t: t > F.col("v")))
    steps = per_user.select(
        "user_id", "v", c.alias("c"),
        F.array_min(F.filter("purchases", lambda t: t > c)).alias("p"))
    return steps.agg(F.count("v").alias("n_viewed"),
                     F.count("c").alias("n_clicked_after"),
                     F.count("p").alias("n_purchased_after"))


@query("ev_anomaly_mad", oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
mad AS (
  SELECT e.event_type, med,
         quantile_cont(abs(e.value - med), 0.5) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type, med)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM events e JOIN mad m ON e.event_type = m.event_type
GROUP BY e.event_type
""")
def ev_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection: flag values beyond 3 robust sigmas
    using the median absolute deviation (MAD x 1.4826 ≈ sigma for
    normal data) — unlike mean/stddev, the median pair is immune to
    the outliers it is hunting.  Two grouped exact percentiles (each a
    shuffle on the small type key) then a broadcast of the per-type
    thresholds back onto the events scan; the interpolated medians are
    engine-exact, and both engines evaluate the identical threshold
    expression, so the anomaly counts match bit-for-bit."""
    e = load(spark, sf_dir, "events")
    med = (e.groupBy("event_type")
           .agg(F.expr("percentile(value, 0.5)").alias("med")))
    mad = (e.join(F.broadcast(med), "event_type")
           .groupBy("event_type", "med")
           .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad")))
    return (e.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.abs(F.col("value") - F.col("med"))
                              > 3 * 1.4826 * F.col("mad"), 1)
                       .otherwise(0)).cast("bigint").alias("n_anomalies")))


@query("ev_journey_similarity", oracle="""
WITH j AS (
  SELECT user_id,
    substr(string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id),
           1, 20) AS journey
  FROM events GROUP BY user_id),
jb AS (SELECT user_id, journey, substr(journey, 1, 1) AS blk FROM j)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(levenshtein(a.journey, b.journey) AS INT) AS dist
FROM jb a JOIN jb b ON a.blk = b.blk AND a.user_id < b.user_id
WHERE levenshtein(a.journey, b.journey) <= 8
""")
def ev_journey_similarity(spark, sf_dir):
    """Behavioral trajectory similarity: each user's session history is
    collapsed into an ordered event-type string (the journey), and
    near-identical journeys are found by edit distance — the sequence-
    similarity search of trajectory papers, grounded to event logs.
    Journeys are built with a deterministic ordered aggregation
    (sort_array of (ts, event_id, char) structs, engine-equal to
    DuckDB's ORDER BY string_agg) and truncated to a 20-step prefix
    (bounding the DP cost per pair), and the quadratic comparison is
    BLOCKED by the journey's first step so Levenshtein runs only
    within plausible pairs — never an unblocked cross join."""
    e = load(spark, sf_dir, "events")
    j = (e.groupBy("user_id")
         .agg(F.substring(F.array_join(
             F.transform(
                 F.sort_array(F.collect_list(F.struct(
                     "ts", "event_id",
                     F.substring("event_type", 1, 1).alias("c")))),
                 lambda s: s["c"]), ""), 1, 20).alias("journey")))
    # jb is self-joined but NOT checkpointed: both join sides
    # share jb's identical user_id Exchange, which AQE reuses at
    # runtime — the collect_list aggregation computes once either way
    # (measured 2.0 vs 2.2 task-sec, one serial barrier less)
    jb = j.withColumn("blk", F.substring("journey", 1, 1))
    a, b = jb.alias("a"), jb.alias("b")
    dist = F.levenshtein(F.col("a.journey"), F.col("b.journey"))
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.user_id") < F.col("b.user_id")))
            .where(dist <= 8)
            .select(F.col("a.user_id").alias("user_a"),
                    F.col("b.user_id").alias("user_b"),
                    dist.cast("int").alias("dist")))


@query("ev_bot_detection", oracle="""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts - LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)) AS gap_us
  FROM events),
stats AS (
  SELECT user_id, COUNT(*) AS n_gaps,
    SUM(gap_us) AS sum_gap_us,
    SUM(CAST(CAST(gap_us AS HUGEINT) * gap_us AS DECIMAL(38,0)))
      AS sum_sq
  FROM gaps WHERE gap_us IS NOT NULL
  GROUP BY user_id HAVING COUNT(*) >= 20)
SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
       CAST(sum_gap_us AS BIGINT) AS sum_gap_us,
       CAST(CAST(sum_sq AS DECIMAL(38,0)) AS VARCHAR) AS sum_sq,
       CASE WHEN 20 * CAST(n_gaps AS HUGEINT) * CAST(sum_sq AS HUGEINT)
                 < 21 * CAST(sum_gap_us AS HUGEINT)
                      * CAST(sum_gap_us AS HUGEINT)
            THEN 1 ELSE 0 END AS bot_flag
FROM stats
""")
def ev_bot_detection(spark, sf_dir):
    """Bot/automation detection by inter-event-time regularity — the
    traffic-hygiene filter a training-data pipeline runs before user
    content is trusted: humans have high-variance gaps between actions,
    schedulers do not.  Per user (>= 20 gaps): gap count, exact gap sum
    (int64 microseconds), exact sum of squared gaps (decimal, emitted as a digit
    string — an int64 square would overflow and float transports lose
    low digits).  The flag is the variance test
    var < 0.05 * mean^2, algebraically cleared of all divisions to
    20*n*SUM(x^2) < 21*SUM(x)^2 so every quantity stays an exact
    integer (Spark DECIMAL(38) / DuckDB HUGEINT) and no
    engine-dependent float rounding exists anywhere.  One window
    shuffle on user_id feeding one aggregation on the same key —
    Catalyst reuses the exchange."""
    from pyspark.sql.window import Window
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (e.select("user_id", "ts", "event_id")
            .withColumn("prev", F.lag(F.unix_micros("ts")).over(w))
            .withColumn("gap_us", F.unix_micros("ts") - F.col("prev"))
            .where(F.col("gap_us").isNotNull()))
    d18 = "decimal(18,0)"
    stats = (gaps.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_gaps"),
                  F.sum("gap_us").alias("sum_gap_us"),
                  F.sum(F.col("gap_us").cast(d18)
                        * F.col("gap_us").cast(d18)).alias("sum_sq"))
             .where(F.col("n_gaps") >= 20))
    lhs = (F.lit(20).cast(d18) * F.col("n_gaps")) * F.col("sum_sq")
    rhs = ((F.lit(21).cast(d18) * F.col("sum_gap_us"))
           * F.col("sum_gap_us").cast(d18))
    return stats.select(
        "user_id",
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.col("sum_gap_us").cast("bigint").alias("sum_gap_us"),
        F.col("sum_sq").cast("decimal(38,0)").cast("string")
        .alias("sum_sq"),
        F.when(lhs < rhs, 1).otherwise(0).alias("bot_flag"))


@query("ev_rare_transitions", oracle="""
WITH pairs AS (
  SELECT user_id, event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events),
p AS (
  SELECT src, dst, CAST(cnt AS DOUBLE) / outw AS prob
  FROM (
    SELECT src, dst, COUNT(*) AS cnt,
           CAST(SUM(COUNT(*)) OVER (PARTITION BY src) AS DOUBLE) AS outw
    FROM pairs WHERE dst IS NOT NULL
    GROUP BY src, dst))
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN prob < 0.18 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rare,
       CAST(SUM(CASE WHEN prob < 0.18 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS rare_rate
FROM pairs JOIN p USING (src, dst)
GROUP BY user_id
HAVING COUNT(*) >= 20
""")
def ev_rare_transitions(spark, sf_dir):
    """Per-user anomaly signal: how often a user's next event is a RARE
    transition under the global first-order Markov model — the
    sequence-anomaly pattern (fraud, bots, broken clients) that avoids
    per-user model state entirely.

    Plan: one user-partitioned lead window builds the transition pairs
    (high-cardinality key — parallel), the transition-probability table
    (types² rows) is aggregated from the same pairs and BROADCAST back
    onto them, and the per-user flag counts aggregate on user_id.  No
    transcendentals anywhere (a surprisal formulation would hit libm
    drift): the rarity test is a plain double comparison against the
    exact cnt/outw probability, so results are engine-exact.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # pairs is referenced twice (Markov-model aggregation + scoring
    # join) but NOT materialized: both references share an identical
    # user_id Exchange, so the shuffle is computed once at runtime and
    # only the cheap post-shuffle window re-runs — an eager checkpoint
    # here writes an events-sized table to save less than it costs
    # (measured 1.4 vs 0.5 task-sec).  The out-weight
    # normalization is a window sum over the types²-sized count table
    # (guide §2.4: the old groupBy+join re-ran the count aggregation for
    # its second reference); cnt / cast(sum double) division unchanged.
    pairs = (e.select("user_id", F.col("event_type").alias("src"),
                      F.lead("event_type").over(w).alias("dst"))
             .where(F.col("dst").isNotNull()))
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    wo = Window.partitionBy("src")
    p = counts.select(
        "src", "dst",
        (F.col("cnt") / F.sum("cnt").over(wo).cast("double")).alias("prob"))
    rare = F.when(F.col("prob") < 0.18, 1).otherwise(0)
    return (pairs.join(F.broadcast(p), ["src", "dst"])
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
                 F.sum(rare).cast("bigint").alias("n_rare"),
                 (F.sum(rare).cast("double") / F.count(F.lit(1)))
                 .alias("rare_rate"))
            .where(F.col("n_transitions") >= 20))


@query("ev_seasonal_baseline", oracle="""
WITH h AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hod, value FROM events),
base AS (
  SELECT event_type, hod, quantile_cont(value, 0.5) AS season_med
  FROM h GROUP BY event_type, hod),
resid AS (
  SELECT h.event_type, h.hod, h.value - b.season_med AS r
  FROM h JOIN base b ON h.event_type = b.event_type AND h.hod = b.hod),
mad AS (
  SELECT event_type, quantile_cont(abs(r), 0.5) AS rmad FROM resid
  GROUP BY event_type)
SELECT r.event_type, r.hod, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN abs(r.r) > 3 * 1.4826 * m.rmad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM resid r JOIN mad m ON r.event_type = m.event_type
GROUP BY r.event_type, r.hod
""")
def ev_seasonal_baseline(spark, sf_dir):
    """Seasonality-aware anomaly detection: the per-(type, hour-of-day)
    median is the seasonal baseline, residuals are scored against a
    per-type robust MAD threshold — the decomposition ev_anomaly_mad
    skips, so a value that is normal at peak hour but wild at 3am gets
    flagged (and vice versa).

    Plan: two grouped exact percentiles (baseline keyed on the small
    (type, hour) grid, residual-MAD on type), each broadcast back onto
    the events scan — the thresholds are grid-sized regardless of event
    volume, so the pipeline is two scans + two tiny broadcasts at any
    scale.  Interpolated medians and the threshold expression evaluate
    identically in both engines (ev_anomaly_mad policy)."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hod"), "value")
    base = (e.groupBy("event_type", "hod")
            .agg(F.expr("percentile(value, 0.5)").alias("season_med")))
    resid = (e.join(F.broadcast(base), ["event_type", "hod"])
             .select("event_type", "hod",
                     (F.col("value") - F.col("season_med")).alias("r")))
    mad = (resid.groupBy("event_type")
           .agg(F.expr("percentile(abs(r), 0.5)").alias("rmad")))
    return (resid.join(F.broadcast(mad), "event_type")
            .groupBy("event_type", "hod")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.abs(F.col("r"))
                              > 3 * 1.4826 * F.col("rmad"), 1)
                       .otherwise(0)).cast("bigint").alias("n_anomalies")))


_LTTB_BUCKET = 16    # points per bucket (downsample ratio)


def _lttb_buckets(spark, sf_dir):
    """(event_type, bucket, event_id, ts, value) bucket table for LTTB.

    TWO-LEVEL per-series rank (the user-edge-builder trick): a flat
    partitionBy(event_type) window would sort each whole series on
    ONE task (~5 series here, regardless of cluster size).  Days
    partition the (ts, event_id) order, so global rank = rank within
    (series, day) + the exclusive prefix count of earlier days — the
    prefix table is types x days rows, windowed in negligible time,
    and the heavy rank runs (series x day)-parallel."""
    from pyspark.sql.window import Window
    e = load(spark, sf_dir, "events")
    ed = e.withColumn("day", F.date_trunc("DAY", "ts"))
    wd = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    counts = (ed.groupBy("event_type", "day")
              .agg(F.count(F.lit(1)).alias("c")))
    wdays = (Window.partitionBy("event_type").orderBy("day")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = counts.select(
        "event_type", "day",
        F.coalesce(F.sum("c").over(wdays), F.lit(0)).alias("off"))
    return (ed.withColumn("rnd", F.row_number().over(wd) - 1)
            .join(offs, ["event_type", "day"])
            .withColumn("rn", F.col("off") + F.col("rnd"))
            .withColumn("bucket", F.floor(F.col("rn") / _LTTB_BUCKET))
            .select("event_type", "bucket", "event_id", "ts", "value"))


@query("ev_downsample_lttb", oracle=f"""
WITH pts AS (
  SELECT event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) - 1 AS rn
  FROM events),
bk AS (
  SELECT *, rn // {_LTTB_BUCKET} AS bucket FROM pts),
stats AS (
  SELECT event_type, bucket,
    CAST(SUM(CAST(epoch_us(ts) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mx,
    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS my
  FROM bk GROUP BY event_type, bucket),
nb AS (
  SELECT event_type, bucket,
    LAG(mx)  OVER w AS ax, LAG(my)  OVER w AS ay,
    LEAD(mx) OVER w AS cx, LEAD(my) OVER w AS cy
  FROM stats WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
scored AS (
  SELECT bk.event_type, bk.bucket, bk.event_id, bk.ts,
    abs((nb.ax - nb.cx) * (CAST(bk.value AS DOUBLE) - nb.ay)
        - (nb.ax - CAST(epoch_us(bk.ts) AS DOUBLE)) * (nb.cy - nb.ay))
      AS area
  FROM bk JOIN nb ON bk.event_type = nb.event_type AND bk.bucket = nb.bucket
  WHERE nb.ax IS NOT NULL AND nb.cx IS NOT NULL)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket, event_id, ts FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, bucket
            ORDER BY area DESC, ts, event_id) AS pick
  FROM scored) WHERE pick = 1
""")
def ev_downsample_lttb(spark, sf_dir):
    """Largest-triangle downsampling for time-series visualization
    (LTTB family): each series is cut into fixed-size buckets and the
    point with the largest triangle area against the NEIGHBOR BUCKET
    MEANS is kept — the standard trick for shrinking millions of points
    to a plottable few thousand while preserving visual extremes.

    This is the parallel variant: classic LTTB anchors on the
    previously SELECTED point (a sequential chain); anchoring on bucket
    means instead makes every bucket independent, so the whole pass is
    two windows (per-series rank, neighbor-stat lag/lead over the tiny
    bucket-summary table) and one argmax — no sequential dependency,
    fully distributed per series.  Determinism: bucket means go
    through exact decimal; the area formula is identical per-row IEEE
    arithmetic in both engines; argmax ties break on (ts, event_id)."""
    from pyspark.sql.window import Window
    bk = _lttb_buckets(spark, sf_dir)
    d6 = "decimal(38,6)"
    stats = (bk.groupBy("event_type", "bucket")
             .agg((F.sum(F.unix_micros("ts").cast(d6)).cast("double")
                   / F.count(F.lit(1))).alias("mx"),
                  (F.sum(F.col("value").cast(d6)).cast("double")
                   / F.count(F.lit(1))).alias("my")))
    wb = Window.partitionBy("event_type").orderBy("bucket")
    nb = (stats.select("event_type", "bucket",
                       F.lag("mx").over(wb).alias("ax"),
                       F.lag("my").over(wb).alias("ay"),
                       F.lead("mx").over(wb).alias("cx"),
                       F.lead("my").over(wb).alias("cy")))
    scored = (bk.join(nb, ["event_type", "bucket"])
              .where(F.col("ax").isNotNull() & F.col("cx").isNotNull())
              .withColumn("area", F.abs(
                  (F.col("ax") - F.col("cx"))
                  * (F.col("value").cast("double") - F.col("ay"))
                  - (F.col("ax") - F.unix_micros("ts").cast("double"))
                  * (F.col("cy") - F.col("ay")))))
    # argmax per bucket as a hash aggregate, not a window:
    # min(struct(-area, ts, event_id)) picks exactly the
    # row_number-over-(area desc, ts asc, event_id asc) row — area is
    # abs() of finite-double arithmetic (never NaN, never -0.0), so
    # ascending -area IS descending area, and event_id makes the key
    # unique.  Partial aggregation collapses the ~bucket-size rows per
    # key map-side instead of sorting the whole scored table after a
    # full-width exchange.
    return (scored.groupBy("event_type", "bucket")
            .agg(F.min(F.struct((-F.col("area")).alias("na"),
                                F.col("ts"), F.col("event_id"))).alias("m"))
            .select("event_type", F.col("bucket").cast("bigint").alias("bucket"),
                    F.col("m.event_id").alias("event_id"),
                    F.col("m.ts").alias("ts")))
