"""The reference's wire-contract pipeline: JSON lines → typed posts relation.

Parity (reference file:line):
- wire schema:        reddit_producer.py:79-86 (submission), :113-115 (keepalive)
- posts StructType:   reddit_consumer.py:77-84
- parse + filter:     reddit_consumer.py:296-309 (P1/P2/P3: from_json,
  drop keepalives/short/null text, derive created_time + text_length)

The registered query synthesizes the wire stream deterministically from the
`documents` table (to_json), corrupts a known subset of lines (malformed →
from_json nulls → filtered), interleaves keepalive records, then runs the
exact parse/filter/derive pipeline. The DuckDB oracle computes the expected
survivors directly from `documents` — a true end-to-end JSON round-trip
check with a closed-form answer.

Scale: the whole pipeline is narrow (no shuffle) — parse, filter and derive
are per-row expressions that fuse into one WholeStageCodegen stage over the
scan; at 100 TB this is embarrassingly parallel and I/O-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from reddit_sentiment_spark_streaming_pipeline_spark.registry import register
from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table

# The reference's post schema (reddit_consumer.py:77-84).
POST_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("subreddit", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("created_utc", T.DoubleType()),
        T.StructField("author", T.StringType()),
    ]
)

# Epoch of 2024-01-01 00:00:00 UTC — base for synthetic created_utc.
_EPOCH_2024 = 1704067200


# The flag `tag_posts` gives each wire line: true where the line is a post
# that survives P2.
POST_VALID = "post_valid"


def _parsed(wire: DataFrame, value_col: str, keep: list[str]) -> DataFrame:
    """P1: the `keep` wire columns, then the post fields of each line
    (from_json in PERMISSIVE mode: a malformed line gives all nulls). When
    the source carries an arrival timestamp (the socket source with
    includeTimestamp, A2's `ingest_time` at reddit_consumer.py:299), it is
    kept under that name."""
    data = F.from_json(F.col(value_col), POST_SCHEMA)
    carried = (
        [F.col("timestamp").alias("ingest_time")] if "timestamp" in wire.columns else []
    )
    return wire.withColumn("data", data).select(*keep, "data.*", *carried)


def _post_rule() -> tuple[Column, dict[str, Column]]:
    """P2/P3, the one definition: the survivor predicate over the parsed
    post fields, and the columns derived for a survivor.

    `created_time` is a try_cast: a valid post whose `created_utc` no
    timestamp takes (NaN, 1e300) is kept with a null `created_time`, as
    the reference's non-ANSI cast gave. Under ANSI a plain cast raises,
    and a streaming batch that raises is replayed on every restart."""
    text = F.col("text")
    valid = (
        text.isNotNull()
        & (text != "")
        & (F.length(text) > 10)
        & (F.col("type") != "keepalive")
    )
    derived = {
        "created_time": F.col("created_utc").try_cast("timestamp"),
        "text_length": F.length(text),
    }
    return valid, derived


def parse_posts(wire: DataFrame, value_col: str = "value") -> DataFrame:
    """P1/P2/P3 on a wire DataFrame of JSON lines: the posts relation.

    Works identically on a batch frame and a streaming frame (the socket /
    file-replay source both yield `value: string`).
    """
    valid, derived = _post_rule()
    return (
        _parsed(wire, value_col, [])
        .filter(valid)
        .select("*", *(c.alias(name) for name, c in derived.items()))
    )


def tag_posts(wire: DataFrame, value_col: str = "value") -> DataFrame:
    """P1/P2/P3 with no line dropped: each wire line keeps its wire
    columns and gains the posts relation's columns plus `POST_VALID`.
    `tag_posts(w).filter(POST_VALID)` holds the rows of `parse_posts(w)`,
    each beside its wire columns.

    The derived columns are null on a line the flag drops."""
    valid, derived = _post_rule()
    return _parsed(wire, value_col, wire.columns).select(
        "*",
        *(F.when(valid, c).alias(name) for name, c in derived.items()),
        F.coalesce(valid, F.lit(False)).alias(POST_VALID),
    )


def synthetic_wire(
    spark: SparkSession, sf_dir: str, n_batches: int | None = None
) -> DataFrame:
    """Deterministic wire-stream fixture from `documents`:
    - submission JSON per doc (subreddit←source, author←lang),
    - every 97th line corrupted (unparseable JSON),
    - keepalive heartbeat interleaved per 20th doc,
    - optional `batch` column (doc_id % n_batches) for deterministic
      micro-batch splits in streaming fixtures.
    """
    docs = load_table(spark, sf_dir, "documents")
    submission = F.to_json(
        F.struct(
            F.lit("submission").alias("type"),
            F.col("source").alias("subreddit"),
            F.col("doc_id").cast("string").alias("id"),
            F.col("text").alias("text"),
            (F.lit(_EPOCH_2024) + F.col("doc_id")).cast("double").alias("created_utc"),
            F.col("lang").alias("author"),
        )
    )
    corrupted = F.when(F.col("doc_id") % 97 == 0, F.concat(F.lit("{malformed "), submission)).otherwise(submission)
    # batch assignment (doc_id % n) is closed-form so a SQL oracle can
    # reproduce each micro-batch's membership exactly; None keeps the
    # plain single-column wire shape
    batch = (
        [(F.col("doc_id") % n_batches).alias("batch")] if n_batches else []
    )
    wire = docs.select(corrupted.alias("value"), *batch)
    keepalives = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            F.to_json(
                F.struct(
                    F.lit("keepalive").alias("type"),
                    (F.lit(_EPOCH_2024) + F.col("doc_id")).cast("double").alias("created_utc"),
                )
            ).alias("value"),
            *batch,
        )
    )
    return wire.unionByName(keepalives)


@register(
    "wire_posts_pipeline",
    oracle=f"""
    SELECT 'submission'                 AS type,
           source                       AS subreddit,
           CAST(doc_id AS VARCHAR)      AS id,
           length(text)                 AS text_length,
           make_timestamp(({_EPOCH_2024} + doc_id) * 1000000) AS created_time,
           lang                         AS author
    FROM documents
    WHERE doc_id % 97 <> 0
      AND text IS NOT NULL AND text <> '' AND length(text) > 10
    """,
    doc="F1/P1/P2/P3: JSON-lines wire → parsed+filtered+derived posts "
    "(keepalives and malformed lines dropped)",
)
def wire_posts_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = parse_posts(synthetic_wire(spark, sf_dir))
    return posts.select("type", "subreddit", "id", "text_length", "created_time", "author")


def _vader_wire_oracle() -> str:
    from reddit_sentiment_spark_streaming_pipeline_spark.functions.sentiment import vader_doc_sql

    survivors = (
        "SELECT doc_id, text FROM documents "
        "WHERE doc_id % 97 <> 0 AND text IS NOT NULL AND text <> '' "
        "AND length(text) > 10"
    )
    return (
        vader_doc_sql(source_sql=survivors)
        + """
    SELECT d.source                   AS subreddit,
           count(*)                   AS post_count,
           round(avg(v.sentiment), 6) AS avg_sentiment
    FROM vader_doc v JOIN documents d USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
    """
    )


@register(
    "wire_posts_vader",
    oracle=_vader_wire_oracle(),
    doc="The reference consumer's headline analytics with REAL VADER "
    "semantics: wire JSON parse → filter → per-post compound sentiment "
    "(negation/boosters/caps/punctuation, reddit_consumer.py:90-99,308) → "
    "per-subreddit average (reddit_consumer.py:356-389). Narrow per-row "
    "scoring fused into the scan stage; one 5-row aggregate shuffle.",
)
def wire_posts_vader(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_sentiment_spark_streaming_pipeline_spark.functions.sentiment import with_vader_sentiment

    posts = parse_posts(synthetic_wire(spark, sf_dir))
    # spread the CPU-dominant VADER scoring across all cores (the 1-file
    # scan would otherwise pin the whole narrow pipeline to ~2 partitions)
    posts = posts.repartition(spark.sparkContext.defaultParallelism)
    return (
        with_vader_sentiment(posts)
        .groupBy("subreddit")
        .agg(
            F.count(F.lit(1)).alias("post_count"),
            F.round(F.avg("sentiment"), 6).alias("avg_sentiment"),
        )
        .orderBy("subreddit")
    )


@register(
    "doc_source_stats",
    oracle="""
    SELECT source,
           count(*)               AS post_count,
           count(DISTINCT lang)   AS unique_authors,
           round(avg(n_chars), 6) AS avg_length
    FROM documents
    GROUP BY source
    HAVING count(*) > 0
    ORDER BY post_count DESC, source
    """,
    doc="A4/A5/O2 on the text corpus: the reference's subreddit_stats "
    "(reddit_consumer.py:375-389) with exact distinct for the oracle",
)
def doc_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("post_count"),
            F.countDistinct("lang").alias("unique_authors"),
            F.round(F.avg("n_chars"), 6).alias("avg_length"),
        )
        .filter(F.col("post_count") > 0)
        .orderBy(F.desc("post_count"), "source")
    )


@register(
    "wire_quality_report",
    oracle=f"""
    WITH cat AS (
        SELECT CASE
                 WHEN doc_id % 97 = 0 THEN 'malformed'
                 WHEN text IS NULL OR text = '' OR length(text) <= 10 THEN 'too_short'
                 ELSE 'parsed' END AS category
        FROM documents
        UNION ALL
        SELECT 'keepalive' FROM documents WHERE doc_id % 20 = 0
    ),
    tot AS (SELECT count(*) AS n FROM cat)
    SELECT category,
           count(*)                              AS n_lines,
           round(count(*) * 1.0 / max(tot.n), 6) AS pct
    FROM cat CROSS JOIN tot
    GROUP BY category
    ORDER BY category
    """,
    doc="Wire-quality accounting the reference lacks (it drops malformed "
    "lines silently via from_json's permissive nulls): every line "
    "attributed to parsed / malformed / keepalive / too_short in one "
    "narrow pass + a 4-row aggregate — the ingest observability a "
    "production stream publishes per batch",
)
def wire_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # from_json in PERMISSIVE mode yields all-null fields for a malformed
    # line, so malformed = the type field is null (every well-formed wire
    # record carries one); `parsed` is tag_posts' P2 flag, so the report
    # counts exactly the posts the consumer keeps
    cat = (
        F.when(F.col("type").isNull(), "malformed")
        .when(F.col("type") == "keepalive", "keepalive")
        .when(F.col(POST_VALID), "parsed")
        .otherwise("too_short")
    )
    counts = (
        tag_posts(synthetic_wire(spark, sf_dir))
        .select(cat.alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    total = F.sum("n_lines").over(Window.partitionBy())
    return counts.select(
        "category", "n_lines", F.round(F.col("n_lines") / total, 6).alias("pct")
    ).orderBy("category")
