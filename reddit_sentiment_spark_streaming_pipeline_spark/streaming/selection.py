"""Streaming DSIR selection gate: score-based admission for a crawl
ingestion pipeline — the streaming production path of the batch
`incremental_selection_gate` twin (operators/selection.py), which is the
oracle-checked semantics spec.

A production crawl pipeline needs more than dedup gates (streaming/
dedup.py): it must decide per document whether the content is worth
KEEPING at all. This gate freezes a DSIR importance model ONCE — the
full-domain Laplace bucket table plus the mu/sigma admission threshold,
built from a curated calibration corpus BEFORE the stream opens and
written durably beside the checkpoint — then scores every micro-batch
against that frozen model and admits docs at sel_z >= DSIR_SELECT_Z.

Freezing is what makes the gate well-defined: the model and threshold
never depend on micro-batch composition, so admission is per-doc
deterministic and the drained stream equals the batch twin over ANY
chunking of the corpus (tests/test_streaming.py::
test_selection_gate_matches_batch_twin) — no id-ordering requirement,
unlike the dedup gates' smaller-id rule.

Replay contract: the batch-owned layout of streaming/stats.py — every
batch overwrites its OWN `batch_id=N` results partition with ALL its
scored rows (admitted flagged) and its own stats row. There is NO store
read at all — admission depends only on the immutable model — so a
replay recomputes the identical decision set and per-batch cost never
grows with stream lifetime.

Scale shape (100 TB): the model is DSIR_BUCKETS + 1 rows (~8k) whatever
the corpus size — always broadcastable; per-batch scoring is the
dsir_score_against_model plan: hashed-gram explode inside codegen, a
broadcast-hash join to the bucket table, ONE map-side-combined doc
aggregate (the only batch-proportional exchange), and a 1-row params
broadcast for the threshold. No store join, no state, no growth.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
    dsir_features,
    dsir_frozen_model,
    dsir_score_against_model,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.replay import (
    read_chunk_stream,
    write_chunks,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stats import (
    count_true,
    start_gate,
    write_partition,
    write_stats_row,
)

# chunk layout for the selection stream: the raw documents table's
# scoring columns (no snapshot fixture — selection has no duplicate
# semantics to plant; lang rides along because the twin reports it)
SEL_CHUNK_SCHEMA = "doc_id bigint, text string, lang string, source string"

# frozen-model layout beside the checkpoint
MODEL_LR_SCHEMA = "bucket bigint, logratio double"
MODEL_PARAMS_SCHEMA = "mu double, sigma double, n_cal bigint"

# results partition rows (the twin's columns + the owning batch)
RESULT_SCHEMA = (
    "doc_id bigint, lang string, n_feats bigint, dsir_logratio double, "
    "sel_z double, admitted boolean, batch_id bigint"
)


def write_selection_chunks(spark: SparkSession, sf_dir: str, out_dir: str,
                           n_chunks: int = 4) -> int:
    """Replayable document chunks for the selection stream — the raw
    documents table range-partitioned on doc_id (deterministic file
    order, like write_doc_chunks). Returns the corpus row count."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text", "lang", "source"
    )
    return write_chunks(docs, out_dir, n_chunks, "doc_id")


def read_selection_stream(spark: SparkSession, chunk_dir: str,
                          max_files_per_trigger: int = 1) -> DataFrame:
    return read_chunk_stream(spark, chunk_dir, SEL_CHUNK_SCHEMA, max_files_per_trigger)


def freeze_selection_model(cal_docs: DataFrame, model_dir: str) -> None:
    """Build the frozen DSIR model from the calibration corpus and write
    it durably under model_dir (lr/ + params/). Runs ONCE before the
    stream opens; the gate only ever READS it. The empty-target-slice
    assert_true inside dsir_frozen_model fires here — a misconfigured
    target tag fails the freeze loudly, before any batch is admitted."""
    lr, params = dsir_frozen_model(dsir_features(cal_docs))
    # one scored-calibration pass feeds both writes; n_cal rides the
    # params row so operators can audit the freeze's sample size
    lr.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(model_dir, "lr")
    )
    cal_n = cal_docs.select(F.count(F.lit(1)).alias("n_cal"))
    params.crossJoin(cal_n).select("mu", "sigma", "n_cal").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(model_dir, "params"))


def read_selection_model(spark: SparkSession,
                         model_dir: str) -> tuple[DataFrame, DataFrame]:
    """(lr, params) with explicit schemas (no footer inference — same
    rationale as the dedup stores' reads)."""
    lr = spark.read.schema(MODEL_LR_SCHEMA).parquet(
        os.path.join(model_dir, "lr")
    )
    params = spark.read.schema(MODEL_PARAMS_SCHEMA).parquet(
        os.path.join(model_dir, "params")
    ).select("mu", "sigma")
    return lr, params


def selection_gate_batch(batch_df: DataFrame, batch_id: int, model_dir: str,
                         results_dir: str, stats_dir: str) -> None:
    """Score one micro-batch against the frozen model; write the batch's
    scored rows (admitted flagged) into its OWN batch_id=N partition and
    one per-partition stats row (streaming/stats.py's contract, with no
    store read)."""
    spark = batch_df.sparkSession
    lr, params = read_selection_model(spark, model_dir)
    # single-source-scan contract (the lesson the chaos-neardup rehearsal
    # taught gate_batch/neardup_gate_batch): the raw n_batch count and
    # the scored build would otherwise each scan the streaming source —
    # 2× ingest I/O and an inflated numInputRows. Persist the scoring
    # projection and materialize it with the n_batch count. Token-less
    # docs are absent from the scored output (the twin's convention), so
    # stats record the raw delivery (n_batch) and the scored count
    # separately; both of the latter ride the results write.
    base = batch_df.select("doc_id", "lang", "text").persist()
    scored = dsir_score_against_model(dsir_features(base), lr, params)
    try:
        n_batch = base.count()
        m = write_partition(scored, results_dir, batch_id,
                            n_scored=F.count(F.lit(1)),
                            n_admitted=count_true("admitted"))
    finally:
        base.unpersist()
    write_stats_row(spark, stats_dir, batch_id,
                    "n_batch long, n_scored long, n_admitted long",
                    (n_batch, m["n_scored"], m["n_admitted"]))


def read_selection_results(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.schema(RESULT_SCHEMA).parquet(
        os.path.join(out_root, "selection_results")
    )


def read_selection_stats(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_root, "selection_stats"))


def start_selection_gate(docs_stream: DataFrame, out_root: str,
                         cal_docs: DataFrame | None = None,
                         after_batch_hook=None) -> StreamingQuery:
    """foreachBatch DSIR selection gate under its own output root. The
    model freezes ONCE into `<out_root>/dsir_model` (stats.start_gate:
    a resume after a kill reuses the frozen model untouched, so
    `cal_docs` is required only for the first start). Same
    after_batch_hook contract as start_dedup_gate (chaos injection)."""
    model_dir = os.path.join(out_root, "dsir_model")
    results_dir = os.path.join(out_root, "selection_results")
    stats_dir = os.path.join(out_root, "selection_stats")
    return start_gate(
        docs_stream, out_root, "selection_gate",
        lambda df, bid: selection_gate_batch(df, bid, model_dir, results_dir, stats_dir),
        after_batch_hook, freeze=freeze_selection_model, cal_docs=cal_docs,
    )
