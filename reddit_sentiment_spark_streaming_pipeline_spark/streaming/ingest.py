"""Composed streaming INGEST pipeline: exact dedup -> SimHash near-dup
-> frozen-model DSIR selection, per micro-batch, in ONE foreachBatch —
the streaming production path of the batch `incremental_ingest_pipeline`
twin (operators/ingest.py), which is the oracle-checked semantics spec.

This is the shape a crawl-ingestion deployment actually runs: each gate
alone is proven (streaming/dedup.py, streaming/selection.py); this
module proves they COMPOSE without extra source scans or contract
drift. Per batch: one persisted base projection feeds all three stages;
stage 2 sees only stage-1 survivors (an exact dup's byte-identical
original carries the same fingerprint and plays its blocker); stage 3
scores stage-2 survivors against the model FROZEN before the stream
opened (freeze-once semantics shared with the selection gate — the
model lives beside the checkpoint and a resume reuses it untouched).

Arrival-order ingestion: a stream whose rows carry an `arrival_seq`
column (write_ingest_chunks_arrival's layout) is admitted under
FIRST-SEEN-WINS — every within-batch precedence window and blocker
compare orders by (arrival_seq, doc_id) and every store row blocks
unconditionally (it arrived in a strictly earlier batch); semantics
spec operators/ingest.py::arrival_order_ingest_pipeline. Without the
column, id-ordered replay keeps the smaller-id rules below.

Replay contract: the batch-owned layout of streaming/stats.py, three
stores wide. Every batch overwrites its OWN batch_id=N partition in the
exact store (admitted fingerprints), the near-dup store (ALL stage-1
survivors, admission + per-chunk blk flags — a stage-2-rejected doc
keeps blocking whenever it holds a blocker slot, which a flood family's
first arrivals always do), the per-doc results table (all flags), and
the stats table.

Scale shape: both store joins are the inverted broadcast-batch form
with the measured batch-size gate and sort-free shuffle-hash fallback
(novel_against_store and the capped stage-2 joins below — stores
scanned once, never shuffled, in the default regime). Stage 2 decides
admission against the CAPPED per-bucket blocker set (operators/
ingest.py::NEARDUP_BLOCKER_CAP): each store row carries per-chunk blk
flags assigned at write time (global arrival rank <= cap, computed as
store-blocker count + within-batch rank — never by ranking the store),
so the blocker read is a map-side filter on the scan the gate already
pays and the join fan-out is O(cap) per batch member whatever floods a
bucket — the uncapped form went quadratic under the template-spam
fixture (r12 measurement at NEARDUP_BLOCKER_CAP's comment). Stage 3 is
the bounded-model broadcast join + one map-side-combined doc aggregate.
Per-batch cost grows only with the store scans the dedup gates already
pay — composition adds nothing corpus-proportional.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from reddit_sentiment_spark_streaming_pipeline_spark.functions.hashing import SIMHASH_CHUNKS
from reddit_sentiment_spark_streaming_pipeline_spark.operators.curation import arrival_seq_col
from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
    simhash_chunk_rows,
    simhash_fp,
)
from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import (
    NEARDUP_BLOCKER_CAP,
    ingest_corpus,
)
from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
    dsir_features,
    dsir_score_against_model,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
    arrival_cols,
    near_rejected,
    novel_against_store,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.replay import (
    read_chunk_stream,
    write_chunks,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.selection import (
    freeze_selection_model,
    read_selection_model,
    read_selection_stream,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stats import (
    count_true,
    prior_partitions,
    start_gate,
    write_partition,
    write_stats_row,
)

# Store layouts (explicit read schemas — no footer inference). The
# near-dup store's blk0..blk3 flags mark, per chunk, whether this row is
# one of its bucket's NEARDUP_BLOCKER_CAP first-arrived members — the
# capped blocker set later batches decide against. Flags are immutable
# once written (arrival order never changes), so the blocker read is a
# plain map-side filter on the store scan.
INGEST_EXACT_STORE_SCHEMA = "fingerprint string, doc_id bigint, batch_id bigint"
INGEST_NEARDUP_STORE_SCHEMA = (
    "doc_id bigint, h0 int, h1 int, h2 int, h3 int, "
    "blk0 boolean, blk1 boolean, blk2 boolean, blk3 boolean, "
    "admitted boolean, batch_id bigint"
)
INGEST_RESULT_SCHEMA = (
    "doc_id bigint, lang string, exact_ok boolean, neardup_ok boolean, "
    "kept boolean, batch_id bigint"
)


def write_ingest_chunks(spark: SparkSession, sf_dir: str, out_dir: str,
                        n_chunks: int = 4) -> int:
    """Replayable chunks of the ingest corpus (base docs + planted
    resubmits and tail-edited near copies — operators/ingest.py), range-
    partitioned on doc_id so replay is id-ordered (the batching-
    invariance premise of the keep-first / smaller-id rules)."""
    return write_chunks(ingest_corpus(spark, sf_dir), out_dir, n_chunks, "doc_id")


# chunk schema == the selection stream's (doc_id, text, lang, source)
read_ingest_stream = read_selection_stream

INGEST_ARRIVAL_CHUNK_SCHEMA = (
    "doc_id bigint, lang string, text string, source string, "
    "arrival_seq string"
)


def write_ingest_chunks_arrival(spark: SparkSession, sf_dir: str,
                                out_dir: str, n_chunks: int = 4) -> int:
    """Replayable ingest chunks in ARRIVAL order: each doc carries its
    deterministic arrival_seq and chunks are range-partitioned on it, so
    replay delivers the corpus the way a crawl would — id order
    scrambled, resubmits and tail copies often arriving before their
    originals. The pipeline driven over these chunks must land the
    arrival_order_ingest_pipeline twin's flag set exactly (batch order
    supplies cross-batch precedence; the arrival-ranged layout makes it
    consistent with the twin's global (arrival_seq, doc_id) rule)."""
    corpus = ingest_corpus(spark, sf_dir).withColumn("arrival_seq", arrival_seq_col())
    return write_chunks(corpus, out_dir, n_chunks, "arrival_seq")


def read_ingest_stream_arrival(spark: SparkSession, chunk_dir: str,
                               max_files_per_trigger: int = 1) -> DataFrame:
    return read_chunk_stream(spark, chunk_dir, INGEST_ARRIVAL_CHUNK_SCHEMA,
                             max_files_per_trigger)


def _store_blocker_rows(store: DataFrame) -> DataFrame:
    """Chunk-long rows of the store's BLOCKER subset: (d struct, ci, cv)
    for every (doc, chunk) whose blk flag was set at write time. Pure
    map-side explode+filter on the store scan — the store is never
    ranked, windowed, or shuffled to recover its blocker set, and at
    most NEARDUP_BLOCKER_CAP rows survive per (ci, cv) bucket."""
    return (
        store.select(
            F.struct("doc_id", "h0", "h1", "h2", "h3").alias("d"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(c).alias("ci"),
                        F.col(f"h{c}").alias("cv"),
                        F.col(f"blk{c}").alias("blk"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ])
            ).alias("e"),
        )
        .filter("e.blk")
        .select("d", F.col("e.ci").alias("ci"), F.col("e.cv").alias("cv"))
    )


def stage2_ranked(fp2: DataFrame, sbl: DataFrame | None,
                  arrival: bool = False) -> DataFrame:
    """Stage-2 chunk rows with each row's GLOBAL arrival rank (`grk`)
    in its (ci, cv) bucket: within-batch rank (one row_number window —
    the batch's only stage-2 exchange besides the decision joins) offset
    by the store's existing blocker count. The counts frame is a bounded
    aggregate over the blk-filtered store scan — the (ci, cv) keyspace
    is at most SIMHASH_CHUNKS x 2^16, so it always broadcasts; the store
    itself is never ranked, windowed, or shuffled (plan-pinned by
    tests/test_plans.py::test_ingest_stage2_*)."""
    arrival_seq = ["arrival_seq"] if arrival else []
    cl2 = simhash_chunk_rows(fp2, extra=tuple(arrival_seq))
    wb = Window.partitionBy("ci", "cv").orderBy(
        *[F.col(f"d.{c}") for c in (*arrival_seq, "doc_id")]
    )
    ranked = cl2.withColumn("rn", F.row_number().over(wb))
    if sbl is not None:
        counts = sbl.groupBy("ci", "cv").agg(F.count(F.lit(1)).alias("c"))
        ranked = ranked.join(F.broadcast(counts), ["ci", "cv"], "left")
        grk = F.col("rn") + F.coalesce(F.col("c"), F.lit(0))
    else:
        grk = F.col("rn")
    return ranked.select("ci", "cv", "d", grk.alias("grk"))


def stage2_rejected(ranked: DataFrame, sbl: DataFrame | None,
                    batch_rows: int | None,
                    arrival: bool = False) -> DataFrame:
    """Stage-2 rejections (doc_id rows, pre-distinct): batch members
    blocked by an earlier CAPPED-set blocker — within-batch (grk <=
    NEARDUP_BLOCKER_CAP members of shared buckets) or from the store's
    blk-flagged subset. The joins, precedence, Hamming verify and the
    batch-size-gated broadcast/shuffle-hash choice are the near-dup
    gate's (streaming/dedup.py::near_rejected)."""
    blockers = ranked.filter(F.col("grk") <= NEARDUP_BLOCKER_CAP)
    return near_rejected(ranked, blockers, sbl, batch_rows, arrival)


def ingest_batch(batch_df: DataFrame, batch_id: int, out_root: str) -> None:
    """All three admission stages for one micro-batch; batch-owned
    partition writes throughout (see module docstring)."""
    spark = batch_df.sparkSession
    exact_dir, neardup_dir, results_dir, stats_dir, model_dir = (
        os.path.join(out_root, d) for d in (
            "exact_store", "neardup_store", "ingest_results", "ingest_stats",
            "dsir_model",
        )
    )
    # first-SEEN-wins for a batch carrying arrival_seq (dedup.arrival_cols);
    # semantics spec operators/ingest.py::arrival_order_ingest_pipeline
    arrival = arrival_cols(batch_df)
    cached: list[DataFrame] = []

    def cache(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    base = cache(batch_df.select("doc_id", "lang", "text", *arrival))
    try:
        n_batch = base.count()

        # ---- stage 1: exact (within-batch keep-first + store anti-join)
        fps = base.select("doc_id", F.md5("text").alias("fingerprint"), *arrival)
        w = Window.partitionBy("fingerprint").orderBy(*arrival, "doc_id")
        firsts = (
            fps.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        store1 = prior_partitions(spark, exact_dir, INGEST_EXACT_STORE_SCHEMA, batch_id)
        # persist the survivor id+fingerprint set: it feeds the flag
        # assembly, the exact-store write, and (via s1) the stage-2/3
        # inputs — without the cache each action would re-run the store
        # anti-join (one extra store scan per sink)
        s1_ids = cache(
            firsts if store1 is None
            else novel_against_store(firsts, store1, batch_rows=n_batch)
        )
        s1 = cache(base.join(s1_ids.select("doc_id"), "doc_id"))

        # ---- stage 2: near-dup among stage-1 survivors, decided against
        # the CAPPED per-bucket blocker set (module docstring). The
        # batch's chunk rows are ranked ONCE per bucket, offset by the
        # store's existing blocker count, giving each row its global
        # arrival rank; rank <= cap marks it a blocker for this batch
        # and, via the persisted blk flags, every later one. rej2 and the
        # ranked frame each feed several plan subtrees, so both persist
        # for the batch (one store scan + one self-join per batch, not
        # one per sink).
        fp2 = simhash_fp(s1.select("doc_id", "text"))
        if arrival:
            fp2 = fp2.join(s1.select("doc_id", "arrival_seq"), "doc_id")
        fp2 = cache(fp2)
        n_s1 = fp2.count()
        store2 = prior_partitions(spark, neardup_dir, INGEST_NEARDUP_STORE_SCHEMA, batch_id)
        sbl = None if store2 is None else cache(_store_blocker_rows(store2))
        ranked = cache(stage2_ranked(fp2, sbl, arrival=bool(arrival)))
        rej2 = cache(
            stage2_rejected(ranked, sbl, n_s1, arrival=bool(arrival))
            .distinct()
            .withColumn("r2", F.lit(1))
        )

        # per-doc blk flags for the store write: fold the chunk ranks
        # back to one row per doc
        blk = ranked.groupBy(F.col("d.doc_id").alias("doc_id")).agg(*[
            F.max(
                F.when(F.col("ci") == c, F.col("grk") <= NEARDUP_BLOCKER_CAP)
            ).alias(f"blk{c}")
            for c in range(SIMHASH_CHUNKS)
        ])

        # ---- stage 3: frozen-model scoring of stage-2 survivors
        lr, params = read_selection_model(spark, model_dir)
        s2 = s1.join(rej2.select("doc_id"), "doc_id", "left_anti")
        scored = dsir_score_against_model(
            dsir_features(s2), lr, params
        ).select("doc_id", "admitted")

        # ---- flag assembly + batch-owned writes; the three funnel
        # counts ride the results write
        out = (
            base.select("doc_id", "lang")
            .join(s1_ids.select("doc_id", F.lit(1).alias("e")), "doc_id", "left")
            .join(rej2, "doc_id", "left")
            .join(scored, "doc_id", "left")
        )
        neardup_ok = F.col("e").isNotNull() & F.col("r2").isNull()
        out = out.select(
            "doc_id",
            "lang",
            F.col("e").isNotNull().alias("exact_ok"),
            neardup_ok.alias("neardup_ok"),
            F.coalesce(neardup_ok & F.col("admitted"), F.lit(False)).alias("kept"),
        )
        m = write_partition(out, results_dir, batch_id, **{
            c: count_true(c) for c in ("exact_ok", "neardup_ok", "kept")
        })
        write_partition(s1_ids, exact_dir, batch_id, "fingerprint", "doc_id")
        write_partition(
            fp2.join(rej2, "doc_id", "left").join(blk, "doc_id").select(
                "doc_id", "h0", "h1", "h2", "h3",
                *[f"blk{c}" for c in range(SIMHASH_CHUNKS)],
                F.col("r2").isNull().alias("admitted"),
            ),
            neardup_dir, batch_id,
        )
    finally:
        for df in reversed(cached):
            df.unpersist()
    write_stats_row(
        spark, stats_dir, batch_id,
        "n_batch long, n_exact_ok long, n_neardup_ok long, n_kept long",
        (n_batch, m["exact_ok"], m["neardup_ok"], m["kept"]),
    )


def read_ingest_results(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.schema(INGEST_RESULT_SCHEMA).parquet(
        os.path.join(out_root, "ingest_results")
    )


def read_ingest_stats(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_root, "ingest_stats"))


def start_ingest_pipeline(docs_stream: DataFrame, out_root: str,
                          cal_docs: DataFrame | None = None,
                          after_batch_hook=None) -> StreamingQuery:
    """foreachBatch ingest pipeline under its own output root, with the
    selection gate's freeze-once model semantics (stats.start_gate)."""
    return start_gate(
        docs_stream, out_root, "ingest_pipeline",
        lambda df, bid: ingest_batch(df, bid, out_root),
        after_batch_hook, freeze=freeze_selection_model, cal_docs=cal_docs,
    )
