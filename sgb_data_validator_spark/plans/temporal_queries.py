"""Temporal-join queries over the events table, with DuckDB twins.

* asof_attribution — attribute every purchase to the user's most recent
  preceding click (classic as-of join; DuckDB twin is the O(n²)-per-key
  inequality join + row_number, fine at oracle scale — the Spark side
  is the single-shuffle union-window shape from operators.temporal).
* error_context    — for each error event, how much click/view activity
  happened in the 5 minutes before it (point-in-interval range join,
  bucketized so Catalyst runs a hash join, never a nested-loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators.temporal import as_of_join, epoch_us, range_join
from sgb_data_validator_spark.plans.constants import _t


# ----------------------------------------------------------- as-of join

def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    joined = as_of_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_id"],
        right_order="click_id",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "click_id",
        (epoch_us(F.col("ts")) - epoch_us(F.col("__asof_ts"))).alias("gap_us"),
    )


SQL_ASOF_ATTRIBUTION = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
),
j AS (
  SELECT p.purchase_id, p.user_id, c.click_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
         row_number() OVER (
           PARTITION BY p.purchase_id ORDER BY c.ts DESC, c.click_id DESC
         ) AS rn
  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
)
SELECT purchase_id, user_id, click_id, gap_us FROM j WHERE rn = 1
"""


# ---------------------------------------------------------- range join

RANGE_WINDOW_US = 300_000_000  # 5 minutes


def q_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    activity = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "ts", "value"
    )
    pairs = range_join(
        errors,
        activity,
        start_us=epoch_us(F.col("ts")) - F.lit(RANGE_WINDOW_US),
        end_us=epoch_us(F.col("ts")),
        right_ts="ts",
        bucket_us=RANGE_WINDOW_US,
    )
    ctx = pairs.groupBy("error_id").agg(
        F.count("r_event_id").alias("n_nearby"),
        F.sum("r_value").alias("sum_value"),
    )
    # inner range join drops zero-context errors; restore them with 0s
    return errors.join(ctx, "error_id", "left").select(
        "error_id",
        "user_id",
        F.coalesce("n_nearby", F.lit(0)).cast("bigint").alias("n_nearby"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


SQL_ERROR_CONTEXT = f"""
WITH err AS (
  SELECT event_id AS error_id, user_id, ts FROM events WHERE event_type = 'error'
),
ctx AS (
  SELECT event_id, ts, value FROM events WHERE event_type IN ('click', 'view')
)
SELECT err.error_id, err.user_id,
       count(ctx.event_id) AS n_nearby,
       coalesce(sum(ctx.value), 0.0) AS sum_value
FROM err LEFT JOIN ctx
  ON epoch_us(ctx.ts) >= epoch_us(err.ts) - {RANGE_WINDOW_US}
 AND epoch_us(ctx.ts) <  epoch_us(err.ts)
GROUP BY 1, 2
"""


TEMPORAL_QUERIES: dict[str, tuple] = {
    "asof_attribution": (q_asof_attribution, SQL_ASOF_ATTRIBUTION),
    "error_context": (q_error_context, SQL_ERROR_CONTEXT),
}
