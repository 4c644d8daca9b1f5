"""Stream-stream interval join (SURVEY.md §2.8).

``attribution_join`` attributes each purchase to every same-user click
in the preceding window. Batch and streaming inputs share the one
implementation: on streams, watermarks and the time-range condition
bound the join state. The contract query ``events_attribution`` runs its
batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "60 minutes",
) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: each purchase is
    attributed to every click by the same user in the preceding
    ``max_delay``. For streaming inputs both sides get a watermark and
    the time-range condition bounds the join state (Spark drops
    buffered clicks once the purchase-side watermark passes
    click_ts + max_delay) — without the range condition a stream-stream
    inner join buffers forever.

    Emits (click_id, purchase_id, user_id, delay_usec); microsecond
    integer delay keeps the DuckDB oracle exact (no float epoch).
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return c.join(p, cond).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "delay_usec"
        ),
    )
