"""Streaming count-min sketch: per-batch partial cells, exact merge.

The batch CMS (operators/sketches.py) claims its defining scale
property is CELL-ADDITIVITY — per-partition (or per-micro-batch)
partial sketches merge by plain addition into the sketch of the whole
stream. This module makes that claim executable: each micro-batch of
wire posts contributes its own DEPTH x WIDTH partial-cell frame
(appended via foreachBatch, the engine's durable-sink idiom), and
`merged_cells` folds them with one groupBy-sum. The invariant — merged
streaming cells == batch cells over the same lines, cell for cell — is
pinned by `tests/test_streaming_sketch.py`.

At production scale this is the sketch you keep per executor or per
trigger: the merge is associative + commutative, so late batches,
replays, and executor-local partials all fold in without coordination.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from reddit_sentiment_spark_streaming_pipeline_spark.functions.text import tokens
from reddit_sentiment_spark_streaming_pipeline_spark.operators.posts import parse_posts
from reddit_sentiment_spark_streaming_pipeline_spark.operators.sketches import CMS_DEPTH, _STACK


def cms_cells(posts_text: DataFrame, text_col: str = "text") -> DataFrame:
    """(depth, bucket, cnt) partial-cell frame for a batch of texts —
    the same md5-salted row hashes as the batch CMS query."""
    exact = (
        posts_text.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.select("cnt", F.expr(f"stack({CMS_DEPTH}, {_STACK}) AS (depth, bucket)"))
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def start_cms_stream(wire: DataFrame, out_dir: str) -> StreamingQuery:
    """Wire stream -> per-batch partial cells appended under out_dir."""
    cells_dir = os.path.join(out_dir, "cms_cells")

    def write_partial(posts: DataFrame, batch_id: int) -> None:
        (
            cms_cells(posts)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(cells_dir)
        )

    # parsed and filtered in the streaming plan, analysed once per query
    posts = parse_posts(wire).filter(F.col("type") == "submission")
    return (
        posts.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", os.path.join(out_dir, "_cms_checkpoint"))
        .start()
    )


def merged_cells(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fold every batch's partial cells into the stream-lifetime sketch."""
    cells_dir = os.path.join(out_dir, "cms_cells")
    return (
        spark.read.parquet(cells_dir)
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
