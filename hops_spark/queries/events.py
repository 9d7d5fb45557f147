"""Event/stream-shaped inventory queries (SURVEY.md §2.8) — run here in
batch mode over the `events` fixture; the same logic runs as Structured
Streaming in hops_spark/streaming.py (batch-equivalence tested in
tests/test_streaming.py, per FIXTURES.md's oracle note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hops_spark.io.readers import load_table
from hops_spark.ops.text import window_starts
from hops_spark.registry import register

SESSION_GAP_MIN = 30


@register(
    "tumbling_window_agg",
    sql="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    doc="Tumbling 1-hour event-time window aggregation (Spark window(); "
        "the CDC-log stream realization of SURVEY §2.8).",
    tags=("events", "window", "streaming"),
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value"))
             .select(F.col("w.start").alias("window_start"), "event_type",
                     "n_events", "sum_value")
             .orderBy("window_start", "event_type"))


@register(
    "sliding_window_agg",
    sql="""
    WITH grid AS (
        SELECT *, time_bucket(INTERVAL '30 minutes', ts) AS b FROM events
    ), expanded AS (
        SELECT event_id, value, ws
        FROM grid, unnest([b, b - INTERVAL '30 minutes']) AS t(ws)
    )
    SELECT ws AS window_start, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM expanded
    GROUP BY ws
    ORDER BY window_start
    """,
    doc="Sliding window: 1 hour every 30 minutes (each event lands in 2 "
        "windows) — Spark window(ts, '1 hour', '30 minutes').",
    tags=("events", "window", "streaming"),
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
             .agg(F.count("*").alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value"))
             .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
             .orderBy("window_start"))


@register(
    "session_window_agg",
    sql=f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL '{SESSION_GAP_MIN} minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    doc="Sessionization (30-min gap): gaps-and-islands form; the streaming "
        "twin uses session_window(ts, '30 minutes') — batch-equivalence "
        "tested in tests/test_streaming.py.",
    tags=("events", "window", "streaming", "flagship"),
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id") \
               .rowsBetween(Window.unboundedPreceding, 0)
    # Interval comparison (not epoch casts): TIMESTAMP_NTZ has no cast to
    # BIGINT under ANSI mode, and ts - prev_ts > INTERVAL matches the
    # oracle's arithmetic exactly (millisecond precision preserved).
    gap_exceeded = F.col("ts") > F.col("prev_ts") + F.expr(
        f"INTERVAL {SESSION_GAP_MIN} MINUTES")
    return (e.withColumn("prev_ts", F.lag("ts").over(w))
             .withColumn("new_session",
                         F.when(F.col("prev_ts").isNull()
                                | gap_exceeded, 1).otherwise(0))
             .withColumn("session_id", F.sum("new_session").over(ws))
             .groupBy("user_id", "session_id")
             .agg(F.min("ts").alias("session_start"),
                  F.max("ts").alias("session_last"),
                  F.count("*").alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value"))
             .drop("session_id")
             .orderBy("user_id", "session_start"))


@register(
    "event_dedup",
    sql="""
    SELECT event_id, min(ts) AS first_ts, count(*) AS n_copies
    FROM events
    GROUP BY event_id
    ORDER BY event_id
    """,
    doc="Event dedup by id (batch twin of dropDuplicatesWithinWatermark): "
        "first-arrival wins; n_copies exposes the duplicate rate.",
    tags=("events", "dedup", "streaming"),
)
def event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy("event_id")
             .agg(F.min("ts").alias("first_ts"), F.count("*").alias("n_copies"))
             .orderBy("event_id"))


@register(
    "late_data_policy",
    sql="""
    WITH mx AS (SELECT max(ts) AS max_ts FROM events)
    SELECT event_type,
           count(*) AS n_total,
           CAST(sum(CASE WHEN ts < max_ts - INTERVAL '7 days' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late
    FROM events, mx
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Watermark late-data accounting (batch view): events older than "
        "watermark = max(ts) - 7d would be dropped by the streaming twin.",
    tags=("events", "streaming"),
)
def late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("max_ts"))
    return (e.crossJoin(F.broadcast(mx))
             .groupBy("event_type")
             .agg(F.count("*").alias("n_total"),
                  F.sum(F.when(F.col("ts") < F.col("max_ts") - F.expr("INTERVAL 7 DAYS"),
                               1).otherwise(0)).alias("n_late"))
             .orderBy("event_type"))


@register(
    "join_range_events",
    sql="""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS lag_s
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts
     AND b.ts <  a.ts + INTERVAL '10 minutes'
    ORDER BY id_a, id_b
    """,
    doc="Range/interval join (declared superset — SURVEY §2.3 notes the "
        "reference has no theta/range joins): purchases within 10 min "
        "after a click, same user. Bucketed band join: both sides keyed "
        "by (user, 10-min time bucket), the narrow side exploded to its "
        "two candidate buckets — the join is a plain equi-join Catalyst "
        "hash-partitions; the range predicate is a post-filter. Never a "
        "per-user cross product: cost is O(pairs in adjacent buckets), "
        "the standard band-join decomposition.",
    tags=("join", "range", "events", "superset"),
)
def join_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket_s = 600  # = the interval width → 2 candidate buckets suffice
    clicks = (e.filter(F.col("event_type") == "click")
               .select(F.col("event_id").alias("id_a"), "user_id",
                       F.col("ts").alias("ts_a"))
               .withColumn("_b0", F.floor(F.unix_timestamp("ts_a") / bucket_s))
               .withColumn("_bucket", F.explode(F.array("_b0", F.col("_b0") + 1)))
               .drop("_b0"))
    buys = (e.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("id_b"),
                     F.col("user_id").alias("user_b"),
                     F.col("ts").alias("ts_b"))
             .withColumn("_bucket", F.floor(F.unix_timestamp("ts_b") / bucket_s)))
    return (clicks.join(buys, (F.col("user_id") == F.col("user_b"))
                              & (clicks["_bucket"] == buys["_bucket"]))
                  .filter((F.col("ts_b") >= F.col("ts_a"))
                          & (F.col("ts_b") < F.col("ts_a") + F.expr("INTERVAL 10 minutes")))
                  .select("id_a", "id_b", "user_id",
                          (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a"))
                          .alias("lag_s"))
                  .orderBy("id_a", "id_b"))


@register(
    "rolling_window_agg",
    sql="""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events
    )
    SELECT user_id, event_id, epoch_s,
           CAST(sum(cents) OVER w AS BIGINT) AS win_sum_cents,
           CAST(count(*) OVER w AS BIGINT) AS n_in_window
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                 RANGE BETWEEN 259200 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    doc="RANGE-frame rolling aggregate: per-user trailing 3-day sum and "
        "count, frame bounded by VALUE (epoch seconds), not row count — "
        "the moving-average window capability the ROWS-frame queries "
        "don't cover; ties at the same timestamp share one frame in "
        "both engines. Integer cents keep the varying-frame sum exact. "
        "One user_id Exchange.",
    tags=("events", "window", "analytics"),
)
def rolling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    w = (Window.partitionBy("user_id").orderBy("epoch_s")
               .rangeBetween(-259200, Window.currentRow))
    return (e.select("user_id", "event_id", "epoch_s",
                     F.sum("cents").over(w).alias("win_sum_cents"),
                     F.count("*").over(w).alias("n_in_window"))
             .orderBy("user_id", "event_id"))


@register(
    "skew_profile",
    sql="""
    WITH per_key AS (
        SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
    ), tot AS (
        SELECT CAST(sum(n_rows) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_keys
        FROM per_key
    ), ranked AS (
        SELECT user_id, n_rows,
               row_number() OVER (ORDER BY n_rows DESC, user_id) AS rnk
        FROM per_key
    )
    SELECT rnk, user_id, n_rows,
           CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm,
           CAST(n_rows * n_keys * 1000000 // total AS BIGINT)
               AS skew_x_mean_ppm
    FROM ranked, tot
    WHERE rnk <= 10
    ORDER BY rnk
    """,
    doc="Join/agg key skew profiler — the pre-flight diagnostic before "
        "choosing salting or AQE skew-join at 100 TB: per-key row "
        "counts, top-10 heaviest keys, each key's corpus share and its "
        "multiple of the mean key size (integer ppm). One "
        "map-side-combined aggregate + a TakeOrdered top-k + a 1-row "
        "broadcast total — the profile never shuffles the data twice.",
    tags=("events", "profiling", "maintenance"),
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    tot = per_key.agg(F.sum("n_rows").cast("long").alias("total"),
                      F.count("*").cast("long").alias("n_keys"))
    top = (per_key.orderBy(F.col("n_rows").desc(), "user_id").limit(10)
                  .withColumn("rnk", F.row_number().over(
                      Window.orderBy(F.col("n_rows").desc(), "user_id"))))
    return (top.crossJoin(F.broadcast(tot))
               .select("rnk", "user_id", "n_rows",
                       F.expr("n_rows * 1000000 div total").cast("long")
                        .alias("share_ppm"),
                       F.expr("n_rows * n_keys * 1000000 div total")
                        .cast("long").alias("skew_x_mean_ppm"))
               .orderBy("rnk"))


@register(
    "weekly_anomaly",
    sql="""
    WITH wk AS (
        SELECT date_trunc('week', ts) AS week, event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY week, event_type
    ), d AS (
        SELECT CAST(week AS DATE) AS week, event_type, n_events,
               lag(n_events) OVER (PARTITION BY event_type
                                   ORDER BY week) AS prev_n
        FROM wk
    )
    SELECT week, event_type, n_events, prev_n,
           CAST(CASE WHEN prev_n IS NULL THEN NULL
                ELSE (n_events - prev_n) * 1000000 // prev_n END
                AS BIGINT) AS delta_ppm,
           CAST(prev_n IS NOT NULL
                AND abs(n_events - prev_n) * 2 > prev_n AS BOOLEAN)
               AS is_anomaly
    FROM d
    ORDER BY event_type, week
    """,
    doc="Week-over-week volume change detection per event type — the "
        "monitoring query a pipeline owner alerts on: floor-division "
        "integer ppm delta (tie-free across engines), anomaly flag at "
        "|change| > 50% expressed as the integer inequality "
        "2*|n - prev| > prev (no float threshold). Tiny weekly "
        "aggregate + a lag window over it.",
    tags=("events", "analytics", "profiling"),
)
def weekly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    wk = (e.groupBy(F.date_trunc("week", "ts").cast("date").alias("week"),
                    "event_type")
           .agg(F.count("*").alias("n_events")))
    w = Window.partitionBy("event_type").orderBy("week")
    d = wk.withColumn("prev_n", F.lag("n_events").over(w))
    return (d.select(
                "week", "event_type", "n_events", "prev_n",
                F.expr("CASE WHEN prev_n IS NULL THEN NULL "
                       "ELSE (n_events - prev_n) * 1000000 div prev_n END")
                 .cast("long").alias("delta_ppm"),
                (F.col("prev_n").isNotNull()
                 & (F.abs(F.col("n_events") - F.col("prev_n")) * 2
                    > F.col("prev_n"))).alias("is_anomaly"))
            .orderBy("event_type", "week"))


PATH_N = 3       # event-type n-gram length
PATH_TOP = 20


@register(
    "event_path_mining",
    sql=f"""
    WITH seq AS (
        SELECT user_id, list(event_type ORDER BY ts, event_id) AS w
        FROM events GROUP BY user_id
    ), g AS (
        SELECT w[i.i] || '>' || w[i.i + 1] || '>' || w[i.i + 2] AS path
        FROM seq,
             LATERAL (SELECT unnest(range(1,
                  greatest(len(w) - {PATH_N - 1}, 0) + 1)) AS i) i
        WHERE len(w) >= {PATH_N}
    ), cnt AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY path
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS t FROM g
    )
    SELECT path, n,
           CAST((n * 1000000) // t AS BIGINT) AS share_ppm
    FROM cnt, tot
    ORDER BY n DESC, path
    LIMIT {PATH_TOP}
    """,
    doc="Sequential path mining over the event log (the n-gram face of "
        "frequent-sequence mining, Agrawal & Srikant 1995's use case; "
        "the behavioral-path report funnels can't give because funnels "
        "fix the pattern up front): per-user event-type sequences in "
        "exact (ts, event_id) order — sort_array canonicalizes the "
        "collect, so partition order never leaks — sliding 3-grams via "
        "ops/text.window_starts, corpus-wide counts + share "
        "ppm, top-20 with a lexicographic tie-break. One keyed shuffle "
        "to assemble sequences, map-side gram explode, one count "
        "aggregate. Scale note: the per-user array is the standard "
        "sessionized-sequence bound — an unbounded actor gets "
        "pre-chunked by (user, day) upstream, same plan shape.",
    tags=("events", "analytics"),
)
def event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    seq = (e.groupBy("user_id")
            .agg(F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type")))
                 .alias("evs"))
            .select(F.expr("transform(evs, x -> x.event_type)").alias("w")))
    grams = F.transform(
        window_starts("w", PATH_N),
        lambda i: F.concat_ws(
            ">", *[F.element_at("w", i + F.lit(j)) for j in range(PATH_N)]))
    g = seq.select(F.explode(grams).alias("path"))
    cnt = g.groupBy("path").agg(F.count("*").cast("long").alias("n"))
    # total from the path-bounded aggregate, NOT a second pass over g
    # (which would re-run the full sequence-assembly shuffle)
    tot = cnt.agg(F.sum("n").cast("long").alias("t"))
    return (cnt.crossJoin(F.broadcast(tot))
               .select("path", "n",
                       F.expr("CAST((n * 1000000) div t AS BIGINT)")
                        .alias("share_ppm"))
               .orderBy(F.col("n").desc(), "path")
               .limit(PATH_TOP))
