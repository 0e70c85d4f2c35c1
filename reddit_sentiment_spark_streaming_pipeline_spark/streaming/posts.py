"""The reference's full per-batch analytics over the wire stream.

This is the complete `process_batch` (reddit_consumer.py:282-444) re-built
idiomatically. The parse, the P2 filter and sentiment run inside the
streaming query (`operators/posts.py::tag_posts` plus `with_sentiment`),
so the engine analyses that plan once per query, not once per micro-batch,
and each batch arrives as every wire line tagged with its post columns,
`sentiment` and a validity flag. The batch is persisted once and feeds
every sink; the reference recomputed the parse/filter/UDF pipeline for
each of its ~10 actions per batch (SURVEY §3.1, X9).

Result tables (exact reference shapes):
- ``sentiment(timestamp, average_sentiment)`` — one row per micro-batch
  (reddit_consumer.py:361-366).
- ``subreddit_stats(subreddit, post_count, unique_authors, avg_length,
  timestamp)`` — one row per (batch × subreddit); the reference writes no
  timestamp and its dashboard back-fills one from file ctime
  (streamlit_app.py:114-115) — here the batch event-time is written so the
  column is real, not forensic.
- ``references(timestamp, total_user_refs, total_sub_refs, total_urls)``
  — one row per batch (reddit_consumer.py:422-429).
Plus raw wire append (K1) and the processed posts table (K2 made an append
to one directory instead of one overwrite-file per batch).

Per micro-batch (`process_posts_batch`) five Spark jobs run: `isEmpty`,
the raw append (the wire columns), the processed append (the valid lines'
post columns), and ONE aggregate over the valid lines —
`rollup("subreddit")`, a grand-total row plus one row per subreddit —
collected to the driver (two jobs: AQE stays on for frames built inside
foreachBatch, so the shuffle map stage is its own job). Its cardinality
is bounded by the number of subreddits, not by the batch. These steps
only select, filter and aggregate the batch, with Columns
`PostsBatchPlan` built when the query started, so the driver analyses a
few operators over one relation per batch. The driver writes the three
aggregate tables with pyarrow (`streaming/stats.py` `write_driver_rows`),
each batch's rows as `batch-{N:010d}.parquet` in the sink's flat
directory: on batches this small, job scheduling rather than row work
sets the trigger time, and a Spark write would cost a job per table.
Timestamps are built from the collected epoch micros, and a batch with no
valid post is stamped epoch 0 (`streaming.EPOCH_FALLBACK`, a UTC
instant), so no time zone can shift them. unique_authors
keeps approx_count_distinct (HLL++) exactly like the reference
(reddit_consumer.py:379) — exact distinct would shuffle author strings
per subreddit for no consumer benefit.

Replay: a crash after the sink writes but before the checkpoint commit
re-runs the batch. The three aggregate files have fixed per-batch names,
so the replay overwrites them and those sinks stay exact. Raw and
processed are still Spark appends: a replay duplicates the batch's rows
there (ROADMAP item 5's open half).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from reddit_sentiment_spark_streaming_pipeline_spark.functions.sentiment import with_sentiment
from reddit_sentiment_spark_streaming_pipeline_spark.operators.posts import POST_VALID, parse_posts, tag_posts
from reddit_sentiment_spark_streaming_pipeline_spark.operators.refs import (
    SUB_REF_PATTERN,
    URL_PATTERN,
    USER_REF_PATTERN,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming import EPOCH_FALLBACK
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.retention import enforce_retention
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stats import write_driver_rows

# per-post reference count column, its pattern, its references-sink total
_REF_COUNTS = (("u", USER_REF_PATTERN, "total_user_refs"),
               ("s", SUB_REF_PATTERN, "total_sub_refs"),
               ("l", URL_PATTERN, "total_urls"))

# the three aggregate sinks' schemas, nullability included, as a Spark
# DataFrame write of the same aggregates types them
_STAMP = StructField("timestamp", TimestampType(), False)
SENTIMENT_SCHEMA = StructType([_STAMP, StructField("average_sentiment", DoubleType())])
STATS_SCHEMA = StructType([
    StructField("subreddit", StringType()),
    StructField("post_count", LongType(), False),
    StructField("unique_authors", LongType(), False),
    StructField("avg_length", DoubleType()),
    _STAMP,
])
REFS_SCHEMA = StructType([_STAMP] + [StructField(t, DoubleType()) for *_, t in _REF_COUNTS])


class PostsSinks:
    """The reference's five output tables under one root. A running
    query's sinks also carry its `PostsBatchPlan`."""

    def __init__(self, out_root: str, retention_bytes: int | None = None,
                 plan: PostsBatchPlan | None = None):
        self.out_root = out_root
        self.retention_bytes = retention_bytes
        self.plan = plan
        self.raw_dir = os.path.join(out_root, "raw")
        self.processed_dir = os.path.join(out_root, "processed")
        self.sentiment_dir = os.path.join(out_root, "sentiment")
        self.stats_dir = os.path.join(out_root, "subreddit_stats")
        self.refs_dir = os.path.join(out_root, "references")

    def dirs(self) -> list[str]:
        return [self.raw_dir, self.processed_dir, self.sentiment_dir,
                self.stats_dir, self.refs_dir]


def enrich_posts(wire: DataFrame) -> DataFrame:
    """Wire lines → the engine's central posts fact table:
    parse/filter/derive (P1-P3) + sentiment (U1) in one narrow pass."""
    return with_sentiment(parse_posts(wire))


def _ref_counts() -> list[Column]:
    """F3-F6: per-post /u/, /r/ and URL reference counts."""
    return [F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias(c)
            for c, pat, _ in _REF_COUNTS]


def _ref_sums() -> list[Column]:
    """A8: the reference counts summed, as the references sink types them."""
    return [F.sum(c).cast("double").alias(total) for c, _, total in _REF_COUNTS]


def references_totals_frame(posts: DataFrame) -> DataFrame:
    """F3-F6 + A8 grand totals (reddit_consumer.py:398-420) in one pass."""
    return posts.select(*_ref_counts()).agg(*_ref_sums())


def _rollup_aggs() -> list[Column]:
    """Every per-batch aggregate, for `rollup("subreddit")`: the
    grand-total row (`g` = 1: A1 batch time, A3 sentiment, A8 reference
    totals) plus one row per subreddit (`g` = 0: A4/A5,
    reddit_consumer.py:375-384)."""
    return [
        F.grouping_id().alias("g"),
        F.count(F.lit(1)).alias("post_count"),
        F.approx_count_distinct("author").alias("unique_authors"),
        F.round(F.avg("text_length"), 6).alias("avg_length"),
        F.round(F.avg("sentiment"), 6).alias("average_sentiment"),
        *_ref_sums(),
        F.unix_micros(F.max("created_time")).alias("ts_micros"),
    ]


class PostsBatchPlan:
    """The Columns every micro-batch of one posts query uses, built once
    when the query starts: the wire columns (raw), the validity flag and
    the posts relation's columns (processed), and the rollup's inputs and
    aggregates."""

    def __init__(self, wire_columns: list[str], post_columns: list[str]):
        self.raw = [F.col(c) for c in wire_columns]
        self.valid = F.col(POST_VALID)
        self.posts = [F.col(c) for c in post_columns]
        self.rollup_inputs = [
            F.col(c) for c in ("subreddit", "author", "text_length", "sentiment", "created_time")
        ] + _ref_counts()
        self.rollup_aggs = _rollup_aggs()


def write_batch_aggregates(spark: SparkSession, sinks: PostsSinks, batch_id: int,
                           rows: list) -> None:
    """The collected rollup rows → the sentiment, subreddit_stats
    and references sinks, each batch's rows in its own fixed-name file."""
    total = next((r for r in rows if r.g == 1), None)
    if total is None:
        # no valid post: the rollup has no rows, where a plain aggregate
        # still gives one all-null row
        sentiment, refs, stamp = None, (None,) * len(_REF_COUNTS), None
    else:
        sentiment, stamp = total.average_sentiment, total.ts_micros
        refs = tuple(total[t] for *_, t in _REF_COUNTS)
    # A1: batch event-time stamp, deterministic fallback (the reference
    # falls back to now(), reddit_consumer.py:315-317)
    if stamp is None:
        stamp = int(EPOCH_FALLBACK.timestamp()) * 1_000_000
    groups = sorted(
        (r for r in rows if r.g == 0),
        key=lambda r: (-r.post_count, r.subreddit is not None, r.subreddit or ""),
    )
    name = f"batch-{batch_id:010d}.parquet"
    write_driver_rows(spark, sinks.sentiment_dir, name, SENTIMENT_SCHEMA,
                      [(stamp, sentiment)])
    write_driver_rows(spark, sinks.stats_dir, name, STATS_SCHEMA,
                      [(r.subreddit, r.post_count, r.unique_authors, r.avg_length, stamp)
                       for r in groups])
    write_driver_rows(spark, sinks.refs_dir, name, REFS_SCHEMA,
                      [(stamp, *refs)])


def process_posts_batch(batch_df: DataFrame, batch_id: int, sinks: PostsSinks) -> None:
    """One micro-batch of `start_posts_pipeline`'s enriched lines → the
    five sinks. Every DataFrame built here is a projection, filter or
    aggregate of the batch over `sinks.plan`'s Columns."""
    plan = sinks.plan
    batch_df.persist()
    try:
        # A9: a zero-line batch writes nothing (an empty Spark write would
        # still leave a schema-only file in raw and processed)
        if batch_df.isEmpty():
            return
        # K1: raw wire append — keepalives and malformed lines included,
        # so the raw table is a replayable record of the stream
        batch_df.select(*plan.raw).write.mode("append").parquet(sinks.raw_dir)

        posts = batch_df.filter(plan.valid)
        # K2: processed posts append (reference: one overwrite-file per
        # batch, reddit_consumer.py:321-327 — append scales, files don't)
        posts.select(*plan.posts, F.lit(batch_id).alias("batch_id")).write.mode(
            "append"
        ).parquet(sinks.processed_dir)
        rows = (
            posts.select(*plan.rollup_inputs)
            .rollup("subreddit")
            .agg(*plan.rollup_aggs)
            .collect()
        )
        # A3/A4/A5/A7/A8 → K3
        write_batch_aggregates(batch_df.sparkSession, sinks, batch_id, rows)

        if sinks.retention_bytes:
            for d in sinks.dirs():
                enforce_retention(d, sinks.retention_bytes)
    finally:
        batch_df.unpersist()


def windowed_sentiment_stream(wire: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Native streaming form of `windowed_subreddit_sentiment`: the parsed
    wire stream with an event-time watermark feeding the shared windowed
    frame (append-mode safe; state bounded by the watermark)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.windows import windowed_sentiment_frame

    posts = enrich_posts(wire).withWatermark("created_time", watermark)
    return windowed_sentiment_frame(posts)


def subreddit_dim(spark, sf_dir: str) -> DataFrame:
    """Tiny static dimension: subreddit → activity category (derived
    deterministically from the corpus so tests have a closed form)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.col("source").alias("subreddit"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "subreddit",
            F.when(F.col("n_docs") >= 100, F.lit("high"))
            .when(F.col("n_docs") >= 30, F.lit("mid"))
            .otherwise(F.lit("low"))
            .alias("category"),
        )
    )


def enriched_posts_stream(wire: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension — Catalyst broadcasts the dim into every batch, so the
    stream side never shuffles. The standard dimension-lookup pattern that
    replaces driver-side dict lookups at scale."""
    return parse_posts(wire).join(F.broadcast(dim), "subreddit", "left")


def deduped_posts_stream(wire: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exactly-once-per-id posts: at-least-once wire delivery
    (producer reconnects, replayed chunks) deduped on the post id within
    the event-time watermark — state is bounded by the watermark instead of
    growing with the stream (dropDuplicates without one never evicts)."""
    return (
        parse_posts(wire)
        .withWatermark("created_time", watermark)
        .dropDuplicatesWithinWatermark(["id"])
    )


def start_posts_pipeline(wire: DataFrame, out_root: str,
                         retention_bytes: int | None = None) -> StreamingQuery:
    """Wire stream (`value: string`) → the five reference tables.

    The parse, the P2 flag and sentiment are part of the streaming query,
    so the engine analyses them once, not once per micro-batch: each batch
    reaches `process_posts_batch` as every wire line with its wire columns
    unchanged, its post columns, `sentiment` and `POST_VALID`."""
    lines = with_sentiment(tag_posts(wire))
    posts = [c for c in lines.columns if c not in wire.columns and c != POST_VALID]
    sinks = PostsSinks(out_root, retention_bytes, PostsBatchPlan(wire.columns, posts))
    return (
        lines.writeStream.foreachBatch(lambda df, bid: process_posts_batch(df, bid, sinks))
        .option("checkpointLocation", os.path.join(out_root, "_checkpoint"))
        .start()
    )


# DuckDB mirror of the drained sink tables: survivors (the engine's
# P1/P2 filter) per deterministic micro-batch (doc_id % 3), per-doc
# sentiment via the inlined lexicon (identical CTE to operators/sentiment),
# per-batch avg + reference totals + processed-post counts — i.e. the
# EXPECTED CONTENTS of the sentiment / references / processed sinks.
def _batch_tables_sql() -> str:
    from reddit_sentiment_spark_streaming_pipeline_spark.functions.sentiment import lexicon_values_sql
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.posts import _EPOCH_2024

    return f"""
    WITH lex(word, score) AS (VALUES {lexicon_values_sql()}),
    surv AS (
        SELECT doc_id, text, doc_id % 3 AS batch,
               make_timestamp(({_EPOCH_2024} + doc_id) * 1000000) AS created_time
        FROM documents
        WHERE doc_id % 97 <> 0
          AND text IS NOT NULL AND text <> '' AND length(text) > 10
    ),
    tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM surv
    ),
    valence AS (
        SELECT t.doc_id, sum(coalesce(CAST(l.score AS DOUBLE), 0.0)) AS s
        FROM tok t LEFT JOIN lex l ON t.word = l.word
        GROUP BY t.doc_id
    ),
    sent AS (
        SELECT doc_id, round(s / sqrt(s * s + 15.0), 6) AS sentiment FROM valence
    )
    SELECT max(s.created_time)                    AS timestamp,
           round(avg(st.sentiment), 6)            AS average_sentiment,
           CAST(sum(len(regexp_extract_all(s.text, '/u/\\w+'))) AS DOUBLE)          AS total_user_refs,
           CAST(sum(len(regexp_extract_all(s.text, '/r/\\w+'))) AS DOUBLE)          AS total_sub_refs,
           CAST(sum(len(regexp_extract_all(s.text, 'https?://[^\\s]+'))) AS DOUBLE) AS total_urls,
           count(*)                               AS n_posts
    FROM surv s JOIN sent st USING (doc_id)
    GROUP BY s.batch
    ORDER BY timestamp
    """


from reddit_sentiment_spark_streaming_pipeline_spark.registry import register  # noqa: E402


@register(
    "posts_batch_result_tables",
    oracle=_batch_tables_sql(),
    doc="K1-K3 end-to-end: the synthetic wire fixture drained through the "
    "REAL Structured Streaming foreachBatch pipeline (3 deterministic "
    "micro-batches, one chunk file per trigger), then the committed "
    "sentiment / references / processed sink tables read back and "
    "reconciled per batch — a green row proves the streaming sink "
    "CONTENTS, not just the batch operators they reuse "
    "(reference reddit_consumer.py:282-444)",
)
def posts_batch_result_tables(spark, sf_dir: str) -> DataFrame:
    """Drain → read-back → reconcile. The per-batch timestamp (max
    surviving created_time) is the join key across sink tables: it is
    unique per batch and independent of trigger order, so the check does
    not assume which chunk the engine picked up first.

    Fixture setup (3 tiny chunk writes) is test-scale machinery; the
    drained pipeline itself is the production path (the parse planned
    once per query, each micro-batch persisted once and feeding all five
    sinks)."""
    import glob
    import shutil
    import tempfile

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.posts import synthetic_wire
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.replay import (
        _order_files_by_name,
        read_wire_stream,
    )

    # pid-keyed path: the returned frame lazily reads the sink parquet, so
    # the directory must outlive this function — but a FIXED shared path
    # would let two concurrent processes (oracle sweep + pytest on the
    # same sf) rmtree each other's in-flight streaming drain. Stale
    # siblings from dead processes are reaped by age so /tmp stays
    # bounded at ~one copy per live process.
    parent = os.path.join(tempfile.gettempdir(), "spark_graft_roundtrips")
    prefix = "posts_batch_" + os.path.basename(os.path.normpath(sf_dir)) + "_"
    if os.path.isdir(parent):
        import time as _time

        cutoff = _time.time() - 2 * 3600
        for d in os.listdir(parent):
            p = os.path.join(parent, d)
            if d.startswith(prefix) and os.path.isdir(p):
                try:
                    if os.path.getmtime(p) < cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
    root = os.path.join(parent, prefix + str(os.getpid()))
    shutil.rmtree(root, ignore_errors=True)
    chunks = os.path.join(root, "wire")
    os.makedirs(chunks)
    wire = synthetic_wire(spark, sf_dir, n_batches=3)
    for b in range(3):
        part_dir = os.path.join(root, f"_part{b}")
        (
            wire.filter(F.col("batch") == b)
            .select("value")
            .coalesce(1)
            .write.mode("overwrite")
            .text(part_dir)
        )
        src = glob.glob(os.path.join(part_dir, "part-*"))[0]
        os.replace(src, os.path.join(chunks, f"{b:03d}.txt"))
        shutil.rmtree(part_dir, ignore_errors=True)
    _order_files_by_name(chunks, ".txt")

    out_root = os.path.join(root, "tables")
    q = start_posts_pipeline(read_wire_stream(spark, chunks), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    sinks = PostsSinks(out_root)
    sent = spark.read.parquet(sinks.sentiment_dir)
    refs = spark.read.parquet(sinks.refs_dir)
    proc = (
        spark.read.parquet(sinks.processed_dir)
        .groupBy("batch_id")
        .agg(
            F.max("created_time").alias("timestamp"),
            F.count(F.lit(1)).alias("n_posts"),
        )
        .select("timestamp", "n_posts")
    )
    return (
        sent.join(refs, "timestamp")
        .join(proc, "timestamp")
        .select(
            "timestamp", "average_sentiment", "total_user_refs",
            "total_sub_refs", "total_urls", "n_posts",
        )
        .orderBy("timestamp")
    )
