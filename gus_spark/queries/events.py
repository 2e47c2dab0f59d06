"""Event-stream analytics in batch form: JSON extraction, time-bucketed
rollups, sessionization, lag/lead. The same plans run under Structured
Streaming (gus_spark.streaming) — this module is their batch/oracle twin,
completing the reference's absent Subscription surface (reference:
src/cli/server/model/graphql.rs:193, 251-253, 353 — declared, `todo!()`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gus_spark.functions.deterministic import sql_dsum
from gus_spark.queries import register, register_sql, table

SESSION_GAP_MIN = 30

# Tumbling-window rollup (batch twin of the streaming windowed agg).
register_sql(
    "events_hourly_rollup",
    f"""
    SELECT hour_start, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM (SELECT *, date_trunc('hour', ts) AS hour_start FROM {{events}})
    GROUP BY hour_start, event_type
    """,
)


@register(
    "events_lag_json",
    oracle="""
    SELECT event_id, user_id, ts,
           LAG(event_type) OVER w AS prev_type,
           LEAD(event_type) OVER w AS next_type,
           CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS DOUBLE) / 1000000
             AS secs_since_prev,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    WHERE user_id <= 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_lag_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD over per-user event timelines plus semi-structured JSON
    column access (merges the former `events_lag_lead` +
    `events_json_extract` probes) — JVM-side get_json_object, no Python
    in the loop."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        # integer-micros difference divided once — identical double bits
        # to the oracle's (epoch_us(a) - epoch_us(b)) / 1e6
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
            .cast("double")
            / F.lit(1000000.0)
        ).alias("secs_since_prev"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


# Gap-based sessionization: lag -> new-session flag -> running sum as
# session id -> per-session aggregates. One shuffle on user_id; the
# windows and the aggregation reuse the same partitioning.
register_sql(
    "events_sessionization",
    f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM {{events}}
    ), sessions AS (
      SELECT user_id, ts, event_id, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM marked
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           {sql_dsum('value')} AS session_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)


# (events_user_funnel was rotated out: its FILTER-count conditional-agg
# shape is covered by q12_shipping_modes' pivot-as-conditional-agg +
# null_semantics; the slot
# went to text.redact_pii_documents.)
