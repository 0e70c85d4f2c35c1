"""Deterministic file-replay source — the testable stand-in for the
reference's socket source (S1, reddit_consumer.py:143-152).

The socket source is non-replayable and offers no fault tolerance (SURVEY
§2.9 T6/T8); a file source over ts-ordered chunk files gives deterministic
micro-batches (`maxFilesPerTrigger=1`), durable checkpoints, and real
`maxOffsets`-style throttling — the replayable-source design the new engine
standardizes on (Kafka in production, files in tests).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table


def _order_files_by_name(out_dir: str, suffix: str) -> int:
    """Stamp strictly increasing mtimes in filename order.

    The file stream source replays files oldest-mtime-first; a parallel
    write gives every part file the same mtime, which would leave replay
    order to listing luck — and out-of-ts-order chunks would advance the
    watermark early and drop the remaining chunks as late. Filename order
    IS range-partition order, so monotonic mtimes pin replay to ts order.
    """
    files = sorted(f for f in os.listdir(out_dir) if f.endswith(suffix))
    base = time.time() - len(files)
    for k, fn in enumerate(files):
        os.utime(os.path.join(out_dir, fn), (base + k, base + k))
    return len(files)


def write_chunks(frame: DataFrame, out_dir: str, n_chunks: int, key: str) -> int:
    """Range-partition `frame` on `key` into n parquet chunk files, each
    sorted on `key`, with mtimes stamped in key order (one micro-batch
    each when replayed with maxFilesPerTrigger=1). Returns the row count.

    Fully distributed: repartitionByRange samples the key boundaries and
    every chunk is written from the executors — nothing is collected to
    the driver, so the same call works on a 100 TB table (the old
    toPandas() fixture writer OOMed the driver past test scale).
    """
    n = frame.count()
    (
        frame.repartitionByRange(n_chunks, key)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _order_files_by_name(out_dir, ".parquet")
    return n


def read_chunk_stream(spark: SparkSession, chunk_dir: str, schema,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming frame over parquet chunk files, read with an explicit
    `schema` (DDL string or StructType)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(chunk_dir)
    )


def write_replay_chunks(spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 5) -> int:
    """Split `events` into n ts-range parquet chunks. Returns the row count."""
    return write_chunks(load_table(spark, sf_dir, "events"), out_dir, n_chunks, "ts")


def write_wire_chunks(wire_df, out_dir: str, n_chunks: int = 4) -> int:
    """Split a wire frame (`value: string`, JSON lines) into n text chunk
    files — the replayable stand-in for the producer's TCP stream. Returns
    the line count. Distributed write: executors emit the chunk files
    directly.

    Chunks are range-partitioned on the payload's `created_utc` (like
    write_replay_chunks on `ts`) so replay order is event-time order: a
    round-robin split would make every watermarked consumer depend on the
    watermark delay exceeding the fixture's full event-time spread, and
    silently drop rows the moment a fixture outgrows the default."""
    from pyspark.sql import functions as F

    n = wire_df.count()
    cu = F.get_json_object("value", "$.created_utc").cast("double")
    (
        wire_df.withColumn("_cu", F.coalesce(cu, F.lit(0.0)))
        .repartitionByRange(n_chunks, "_cu")
        .sortWithinPartitions("_cu")
        .select("value")
        .write.mode("overwrite")
        .text(out_dir)
    )
    _order_files_by_name(out_dir, ".txt")
    return n


def read_wire_stream(spark: SparkSession, wire_dir: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming `value: string` frame over wire chunk files."""
    return (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(wire_dir)
    )


def read_wire_socket(spark: SparkSession, host: str, port: int) -> DataFrame:
    """The reference's ingestion path (S1, reddit_consumer.py:143-152):
    TCP lines with arrival timestamp. Non-replayable — no fault tolerance;
    kept for wire-contract parity, tests and production use the file/Kafka
    path. The reference also set Kafka-only options (maxOffsetsPerTrigger,
    socketTimeout) here that the socket source silently ignores — omitted."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .option("includeTimestamp", "true")
        .load()
    )


def read_wire_kafka(spark: SparkSession, bootstrap_servers: str, topic: str,
                    max_offsets_per_trigger: int = 1000):
    """Production wire source: Kafka JSON lines → `value: string`.

    This is where the reference's ignored `maxOffsetsPerTrigger`
    (reddit_consumer.py:149 — a Kafka option set on a socket source)
    actually works: real replay, offsets-based exactly-once, and
    backpressure. Returns the configured reader; `.load()` requires the
    spark-sql-kafka package, which this container doesn't ship, so tests
    cover construction and the file-replay source covers the semantics.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .option("startingOffsets", "earliest")
    )


def read_replay_stream(spark: SparkSession, replay_dir: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming DataFrame over the replay directory (schema from files).

    pyarrow writes timestamps without isAdjustedToUTC, which Spark reads as
    TIMESTAMP_NTZ — watermarks require TIMESTAMP, so cast those back.
    """
    schema = spark.read.parquet(replay_dir).schema
    stream = read_chunk_stream(spark, replay_dir, schema, max_files_per_trigger)
    for f in schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            stream = stream.withColumn(f.name, stream[f.name].cast("timestamp"))
    return stream
