"""Event-time windowed aggregation queries (the batch-equivalent forms of
the streaming surface in ``streaming/windows.py``), oracle-gated.

Spark's ``window()``/``session_window()`` aggregate functions have exact
batch semantics: tumbling/sliding buckets are epoch-aligned floors, session
windows merge events with gaps < the timeout. The DuckDB oracles recompute
both from first principles (epoch arithmetic; gaps-and-islands), so the
gate verifies the window semantics themselves.

No final ORDER BY on these: the output cardinality grows with the data
(buckets x types, sessions ~ users), so a presentation sort would be a
full-result range-exchange at 100 TB for nothing — result sets are sets,
and the driver's hash compare is order-insensitive. Queries keep a final
sort only when ordering is semantic (top-k under LIMIT).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.operators.layout import key_is_dense
from amsterdam_map_data_wrangling_spark.plans.catalog import _t, query


@query(
    "tumbling_window_stats",
    """
    SELECT TIMESTAMP '1970-01-01'
             + CAST(floor(epoch(ts) / 3600) AS BIGINT) * INTERVAL '1 hour'
             AS window_start,
           COUNT(*) AS num_events,
           COUNT(DISTINCT user_id) AS num_users,
           round(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY window_start
    """,
    "Tumbling 1-hour event-time windows: count, distinct users, value sum "
    "per bucket — the §2.8 north-star aggregation in batch form (identical "
    "logical plan under Structured Streaming + watermark, see "
    "streaming/windows.py). Scale: window() is a narrow bucket assignment; "
    "one agg shuffle on (bucket); no state since batch.",
)
def tumbling_window_stats(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("num_events"),
            F.count_distinct("user_id").alias("num_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "num_events", "num_users", "sum_value")
    )


@query(
    "sliding_window_by_type",
    """
    WITH ev AS (
      SELECT event_type, ts, epoch(ts) AS sec FROM events
    ), contrib AS (
      SELECT event_type,
             TIMESTAMP '1970-01-01'
               + (CAST(floor(sec / 7200) AS BIGINT) * 7200 - off.o)
                 * INTERVAL '1 second' AS window_start
      FROM ev, (SELECT unnest([0, 7200, 14400]) AS o) off
      WHERE CAST(floor(sec / 7200) AS BIGINT) * 7200 - off.o > sec - 21600
    )
    SELECT window_start, event_type, COUNT(*) AS num
    FROM contrib GROUP BY window_start, event_type
    """,
    "Sliding windows (6-hour length, 2-hour slide) per event type: each "
    "event lands in exactly 3 overlapping epoch-aligned buckets. Scale: "
    "window() expands rows 3x (length/slide) before the agg shuffle — the "
    "overlap factor, not the data, is the cost knob.",
)
def sliding_window_by_type(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "6 hours", "2 hours").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("num"))
        .select(F.col("w.start").alias("window_start"), "event_type", "num")
    )


@query(
    "session_window_per_user",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '1 hour'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, COUNT(*) AS num_events
    FROM numbered GROUP BY user_id, sid
    """,
    "Session windows (1-hour inactivity gap) per user: Spark's "
    "session_window() vs a first-principles gaps-and-islands oracle. "
    "Scale: one shuffle on user_id; per-key in-order merge. In streaming "
    "this becomes applyInPandasWithState / built-in session_window with "
    "watermark-bounded state.",
)
def session_window_per_user(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    # the chunked twin replays session_window's MERGE RULE exactly:
    # point-event windows [ts, ts+gap) merge iff the next event starts
    # STRICTLY before the running end, i.e. same session iff
    # consecutive diff < gap — in exact integer micros,
    # diff <= gap-1, which is chunked_gap_sessionize with
    # gap_us = 3_600_000_000 - 1 (ties at diff 0 are same-session in
    # both). session_start = min event ts per session (w.start is the
    # earliest event, not gap-extended); counts are exact integers.
    # Value identity oracle-gated on a half-null corpus
    # (tests/test_skew.py) and at both gate SFs.
    if key_is_dense(f"{sf_dir}/events.parquet", "user_id"):
        return (
            events.groupBy(
                F.session_window("ts", "1 hour").alias("w"), "user_id"
            )
            .agg(F.count("*").alias("num_events"))
            .select(
                F.col("w.start").alias("session_start"),
                "user_id",
                "num_events",
            )
        )
    from amsterdam_map_data_wrangling_spark.operators.skew import (
        chunked_gap_sessionize,
    )

    base = events.select(
        "user_id", F.unix_micros(F.col("ts")).alias("us"), "event_id"
    )
    sess = chunked_gap_sessionize(
        base, "user_id", "us", "event_id", 3_600_000_000 - 1
    )
    return (
        sess.groupBy("user_id", "sess_idx")
        .agg(
            F.timestamp_micros(F.min("us")).alias("session_start"),
            F.count("*").alias("num_events"),
        )
        .select("session_start", "user_id", "num_events")
    )


@query(
    "interval_join_click_error",
    """
    SELECT c.event_id AS click_id,
           e.event_id AS error_id,
           c.user_id AS user_id,
           c.ts AS click_ts,
           e.ts AS error_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    JOIN (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'error') e
      ON c.user_id = e.user_id
     AND e.ts >= c.ts
     AND e.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    "Interval join: click→error pairs for the same user with the error "
    "inside [click, click+30min] — the attribution/funnel shape, and the "
    "batch twin of the stream-stream join in streaming/join.py (whose "
    "event-time bound is what bounds the join state on an unbounded "
    "stream). Scale: equi-key on user_id makes this a hash/sort-merge "
    "join plus a residual range predicate — one shuffle on user_id; "
    "never a cross product.",
)
def interval_join_click_error(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.streaming.join import (
        interval_join_core,
    )

    (events,) = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    errors = events.filter(F.col("event_type") == "error")
    return interval_join_core(clicks, errors)


@query(
    "resample_locf_daily",
    """
    WITH obs AS (
      SELECT user_id, date_trunc('day', ts) AS bucket,
             max(value) AS v_obs, COUNT(*) AS n_obs
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, date_trunc('day', ts)
    ), bounds AS (
      SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
      FROM obs GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
      FROM bounds
    ), j AS (
      SELECT g.user_id, g.bucket, o.v_obs, coalesce(o.n_obs, 0) AS n_obs
      FROM grid g LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.bucket = o.bucket
    )
    SELECT user_id, bucket,
           round(last_value(v_obs IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS v_locf_r,
           CAST(n_obs AS BIGINT) AS n_obs,
           (v_obs IS NULL) AS is_gap
    FROM j
    """,
    "Time-grid resampling with LOCF gap fill — the sequence-modeling "
    "prep step: each user's sparse purchase stream lands on a daily "
    "grid spanning their [first, last] active day, missing days carry "
    "the last observed value forward and are flagged. Grid generation "
    "is JVM-side explode(sequence(...)) — no Python in the fan-out; "
    "the per-bucket representative is max(value), deterministic and "
    "accumulation-order-free, so the carried double is bit-identical "
    "cross-engine (rounded to 6 per the catalog convention anyway). "
    "Scale: all shuffles are on the entity key; grid fan-out is "
    "span/step per key; the carry-forward is one ordered window over "
    "the grid, never over raw events.",
)
def resample_locf_daily(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.timeseries import (
        resample_locf,
    )

    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    out = resample_locf(purchases, "user_id", "ts", "value", unit="day")
    return out.select(
        "user_id",
        "bucket",
        F.round("v_locf", 6).alias("v_locf_r"),
        "n_obs",
        "is_gap",
    )


@query(
    "trailing_window_revenue",
    """
    WITH keyed AS (
      SELECT o_custkey, o_orderkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_custkey % 10 = 0
    )
    SELECT o_custkey, o_orderkey,
           CAST(SUM(cents) OVER (
             PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS trailing_cents,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_in_window
    FROM keyed
    """,
    "Trailing 30-day revenue per customer — the RANGE-frame window "
    "(value-range frames over event time: every order sees the sum and "
    "count of that customer's orders in the preceding 30 days, "
    "including same-day peers), the ML-feature-engineering staple the "
    "ROWS-frame queries (running_revenue_per_customer) don't cover: a "
    "RANGE frame is defined by the ORDER-BY VALUE distance, so ties "
    "enter the frame together and the frame is a set, not a row "
    "prefix. Time travels as integer epoch days on both engines "
    "(identical frame boundaries); the set-sum is gated in exact "
    "integer cents (a RANGE frame has no deterministic accumulation "
    "order, so a float sum would be association-luck). Scale: computed "
    "as a CHUNKED segmented window (operators/skew.py:"
    "trailing_range_window — r14, after the 100x Zipf soak measured "
    "the naive per-key window 5.5x slow with one customer at 10% of "
    "rows): rows shuffle on (custkey, 31-day chunk) with a context "
    "replica in the next chunk, so the max task is bounded by a key's "
    "orders per month, not its total history — values identical by "
    "the RANGE frame's value-selection + exact-integer sums.",
)
def trailing_window_revenue(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.skew import (
        trailing_range_window,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    d = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    keyed = orders.filter(F.col("o_custkey") % 10 == 0).select(
        "o_custkey", "o_orderkey", d.alias("d"), cents.alias("cents")
    )
    out = trailing_range_window(
        keyed,
        "o_custkey",
        "d",
        30,
        {
            "trailing_cents": lambda w: F.sum("cents").over(w),
            "n_in_window": lambda w: F.count("*").over(w),
        },
    )
    return out.select(
        "o_custkey", "o_orderkey", "trailing_cents", "n_in_window"
    )
