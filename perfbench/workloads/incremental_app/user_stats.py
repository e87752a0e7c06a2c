"""Consume the unread events exactly once and upsert the per-user
totals of the users they touch (running sums merged with the stored
row)."""
from patterns import Table
from pyspark.sql import functions as F

raw = Table("raw", "r")
stats = Table("stats", "w")
stats.init(unique_on=["user_id"])

delta = raw.as_stream(order_by="event_id").consume_spark()
if delta is not None:
    batch = delta.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("long").alias("n_purchases"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        F.max("event_id").alias("last_event"),
    )
    if stats.record_count:
        old = stats.read_spark()
        batch = batch.alias("b").join(old.alias("o"), "user_id", "left").select(
            "user_id",
            *[
                (F.col(f"b.{c}") + F.coalesce(F.col(f"o.{c}"), F.lit(0))).alias(c)
                for c in ("n_events", "n_purchases", "value_cents")
            ],
            F.col("b.last_event").alias("last_event"),
        )
    stats.upsert(batch)
