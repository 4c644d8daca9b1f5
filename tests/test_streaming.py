"""Structured Streaming test: the stream-stream interval join keeps
its state across checkpointed restarts and equals the batch join."""

import pandas as pd

from ksj2gp_spark.streaming import events as stream_ops


def test_stream_stream_attribution_join_buffers_across_runs(spark, tmp_path):
    """Stream-stream interval join: clicks arrive in run 1, purchases
    in run 2 (same checkpoint) — the join state persisted in the
    checkpoint must still produce the pairs, and the union of both
    runs' output must equal the batch join."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "event_id": range(8),
            "ts": pd.to_datetime(
                [
                    # clicks
                    "2024-01-01 00:00:00",  # u1 → purchase at 00:10 ✓
                    "2024-01-01 00:05:00",  # u1 → purchase at 00:10 ✓
                    "2024-01-01 00:02:00",  # u2 → purchase at 01:00 ✗ (>30m)
                    "2024-01-01 00:20:00",  # u3, no purchase
                    # purchases
                    "2024-01-01 00:10:00",  # u1
                    "2024-01-01 01:00:00",  # u2
                    "2024-01-01 00:04:00",  # u4, no click
                    "2024-01-01 00:30:00",  # u1 — 30:00 after click 0: ✗ (strict <), 25m after click 1 ✓
                ]
            ),
            "user_id": [1, 1, 2, 3, 1, 2, 4, 1],
            "event_type": ["click"] * 4 + ["purchase"] * 4,
            "value": [1.0] * 8,
            "props": ["{}"] * 8,
        }
    )
    full = spark.createDataFrame(pdf)
    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    out = str(tmp_path / "attr_out")
    ckpt = str(tmp_path / "attr_ckpt")
    full.filter(F.col("event_type") == "click").coalesce(1).write.parquet(
        clicks_dir
    )
    # purchases dir must exist with a schema-bearing empty file for run 1
    full.filter(F.col("event_type") == "purchase").limit(0).coalesce(
        1
    ).write.parquet(purch_dir)

    def run_once():
        c = spark.readStream.schema(full.schema).parquet(clicks_dir)
        p = spark.readStream.schema(full.schema).parquet(purch_dir)
        joined = stream_ops.attribution_join(c, p, max_delay="30 minutes")

        def write_batch(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            joined.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(write_batch)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # clicks only → no pairs yet
    # deliver purchases as a NEW file, restart from the checkpoint
    full.filter(F.col("event_type") == "purchase").coalesce(1).write.mode(
        "append"
    ).parquet(purch_dir)
    run_once()

    got = spark.read.parquet(out)
    batch = stream_ops.attribution_join(
        full.filter(F.col("event_type") == "click"),
        full.filter(F.col("event_type") == "purchase"),
        max_delay="30 minutes",
    )
    key = ["click_id", "purchase_id", "user_id", "delay_usec"]
    assert sorted(map(tuple, got.select(key).collect())) == sorted(
        map(tuple, batch.select(key).collect())
    )
    # the expected pairs, by hand: clicks 0,1 → purchase 4; click 1 → purchase 7
    assert {(r.click_id, r.purchase_id) for r in got.collect()} == {
        (0, 4), (1, 4), (1, 7)
    }
