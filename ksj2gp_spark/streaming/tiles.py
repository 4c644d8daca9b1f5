"""Streaming spatial-tile assignment — the engine's core join over an
incremental image feed (Structured Streaming, SURVEY.md §2.8).

New image files landing in the table directory are picked up by a file
source, pushed through the SAME fused assign-or-kNN kernel as the
batch path (operators/spatial.py — the transformation is stream-
agnostic since it's a stateless mapInPandas), and appended to parquet
via ``foreachBatch`` with a checkpoint. Restart with the same
checkpoint resumes from the last committed file offsets — streaming's
native form of the pipeline's resume contract.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import spatial


def read_image_stream(
    spark: SparkSession, path: str, schema=None, max_files: int = 4
) -> DataFrame:
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_tile_assign(
    images_stream: DataFrame,
    polygons_pdf: pd.DataFrame,
    out_path: str,
    checkpoint: str,
    scheme: str = "grid",
    res: int | None = None,
    k_ocean: int = 3,
    available_now: bool = True,
):
    """Incremental tile assignment: stream → fused assign-or-kNN →
    checkpointed parquet append. Returns the StreamingQuery. The
    polygon index is built and broadcast once; every micro-batch
    reuses it for the life of the query."""
    res = res if res is not None else spatial.DEFAULT_RES[scheme]
    index = spatial.PolygonIndex.build(
        images_stream.sparkSession, polygons_pdf, scheme, res
    )
    tiles = spatial.fused_assign_or_knn(
        images_stream, index, scheme=scheme, res=res, k=k_ocean
    )

    def write_batch(batch_df: DataFrame, epoch_id: int):
        (
            batch_df.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    writer = (
        tiles.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(write_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
