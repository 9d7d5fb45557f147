"""Multi-touch attribution over an event log (the marketing-analytics
workload: distribute conversion credit across the touchpoints that
preceded it; public formulation e.g. Shao & Li 2011 "Data-driven
multi-touch attribution models" — we implement the standard
position-free LINEAR rule plus last-touch, both deterministic).

Scale shape: conversions join touches on user equality with a trailing
time-range residual (the join_range_events shape — SMJ/SHJ on user_id,
range as post-filter), so the joined volume is Σ per-conversion
trailing-window touches, bounded by touches-per-user-window rather than
|conversions| × |touches|. Both downstream windows partition by
conversion id (bounded per key); credit is integer ppm (1e6 div
n_touch) so every aggregate is an order-free integer sum.

``credit_by_channel`` is the SHARED derivation: the batch query feeds
it the full log's conversions and touches; the streaming twin
(``streaming.fold_stream(…, attribution_batch_update)``) feeds it each
micro-batch's conversions against the trailing touch store — same code
path, so batch-fold equivalence is by construction (the
incremental_dedup_stream discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TOUCH_TYPES = ("click", "view", "signup")


def conv_rows(events: DataFrame, conv_type: str = "purchase") -> DataFrame:
    """(conv_id, user_id, conv_ts) — the conversion stream."""
    return (events.filter(F.col("event_type") == conv_type)
                  .select(F.col("event_id").alias("conv_id"), "user_id",
                          F.col("ts").alias("conv_ts")))


def touch_rows(events: DataFrame,
               touch_types: tuple[str, ...] = TOUCH_TYPES) -> DataFrame:
    """(touch_id, user_id, touch_ts, channel) — the touchpoint stream."""
    return (events.filter(F.col("event_type").isin(*touch_types))
                  .select(F.col("event_id").alias("touch_id"), "user_id",
                          F.col("ts").alias("touch_ts"),
                          F.col("event_type").alias("channel")))


def credit_by_channel(conv: DataFrame, touch: DataFrame,
                      window_days: int = 7) -> DataFrame:
    """(channel, n_touches, linear_credit_ppm, last_touch_convs): every
    conversion spreads 1,000,000 ppm equally (integer div) over the
    user's touches in the trailing ``window_days``; the last touch
    (ts desc, id desc — the id tiebreak pins same-timestamp touches)
    claims the last-touch conversion. Conversions with no touch in the
    window contribute nothing (unattributable). Each conversion is
    scored independently, so per-channel rows are ADDITIVE across
    disjoint conversion sets — the property the streaming twin's
    per-batch delta append relies on."""
    j = conv.join(
        touch,
        (conv["user_id"] == touch["user_id"])
        & (touch["touch_ts"] < conv["conv_ts"])
        & (touch["touch_ts"] >= F.expr(
            f"conv_ts - INTERVAL {window_days} DAYS")),
    ).select("conv_id", "touch_id", "channel", "touch_ts")
    wc = Window.partitionBy("conv_id")
    wr = Window.partitionBy("conv_id").orderBy(F.col("touch_ts").desc(),
                                               F.col("touch_id").desc())
    r = (j.withColumn("n_touch", F.count("*").over(wc).cast("long"))
          .withColumn("rn", F.row_number().over(wr)))
    return (r.groupBy("channel")
             .agg(F.count("*").cast("long").alias("n_touches"),
                  F.sum(F.expr("1000000 div n_touch")).cast("long")
                   .alias("linear_credit_ppm"),
                  F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
                   .cast("long").alias("last_touch_convs"))
             .orderBy("channel"))


def attribution_credit(events: DataFrame, conv_type: str = "purchase",
                       touch_types: tuple[str, ...] = TOUCH_TYPES,
                       window_days: int = 7) -> DataFrame:
    """Batch face: (channel, n_touches, linear_credit_ppm,
    last_touch_convs) from a full event log (event_id, user_id, ts,
    event_type)."""
    return credit_by_channel(conv_rows(events, conv_type),
                             touch_rows(events, touch_types), window_days)
