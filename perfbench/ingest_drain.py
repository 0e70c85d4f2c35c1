"""The streaming-ingest drain that a traced `posts_live` run adds at its end.

A seeded corpus (CORPUS_DOCS generated documents, plus the resubmits and
tail-edited near copies `write_ingest_chunks` plants) is written as
CHUNKS id-ordered chunk files, then drained one chunk per trigger
through `start_ingest_pipeline`, with the model frozen from the
calibration slice. The posts consumer has warmed the JVM by then, so
every micro-batch counts; the second is the first to meet a non-empty
store. The results are checked against the DuckDB oracle of
`incremental_ingest_pipeline` on the same `documents` table.

An ingest micro-batch takes 5-18 s on 4 vCPUs, so a drain long enough
for a steady end-to-end figure does not fit a benchmark run; its figures
are per-layer metrics, without a bound.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

import checks
import gen
from spans import attach_status, p50, progress_interval

CORPUS_DOCS = 200
CHUNKS = 2
# stage functions `ingest_batch` calls through its module's attributes
STAGES = {
    "novel_against_store": "dedup.novel_against_store",
    "stage2_ranked": "ingest.stage2_ranked",
    "stage2_rejected": "ingest.stage2_rejected",
    "write_stats_row": "stats.write_stats_row",
}


def run_ingest_drain(run) -> dict:
    """Drain the corpus, check the results, and return the ingest layer
    metrics."""
    from reddit_sentiment_spark_streaming_pipeline_spark import registry
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import ingest_cal_docs
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming import ingest as ingest_mod
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        read_ingest_stream,
        start_ingest_pipeline,
        write_ingest_chunks,
    )

    spark, tr = run.spark, run.tracer
    root = os.path.join(run.work, "ingest")
    sf_dir, chunk_dir, out_root = (os.path.join(root, d) for d in ("tables", "chunks", "out"))
    os.makedirs(sf_dir)
    gen.write_tables(sf_dir, run.seed, CORPUS_DOCS)
    write_ingest_chunks(spark, sf_dir, chunk_dir, n_chunks=CHUNKS)

    undo = [tr.wrap(ingest_mod, "ingest_batch", "ingest.ingest_batch",
                    id_of=lambda a: f"ingest-{a[1]}")]
    undo += [tr.wrap(ingest_mod, attr, name) for attr, name in STAGES.items()]
    q = start_ingest_pipeline(read_ingest_stream(spark, chunk_dir), out_root,
                              ingest_cal_docs(spark, sf_dir))
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
        for u in undo:
            u()
    if len(progress) != CHUNKS:
        raise RuntimeError(f"expected {CHUNKS} ingest micro-batches, saw {len(progress)}")

    results = checks.read_table(os.path.join(out_root, "ingest_results"))
    stats = checks.read_table(os.path.join(out_root, "ingest_stats"))
    oracle = checks.run_oracle(sf_dir, registry.load_all()["incremental_ingest_pipeline"].oracle)
    probs = checks.check_ingest(results, stats, oracle)
    run.tally(CHUNKS, [m for _, m in probs],
              failed=min(len({op for op, _ in probs}), CHUNKS))

    for p in progress:
        tr.add("ingest.trigger", *progress_interval(p), id=f"ingest-{p['batchId']}",
               progress=json.loads(p.json))

    attach_status(spark, tr)
    batches = tr.named("ingest.ingest_batch")
    store_rows = sum(pq.read_table(os.path.join(out_root, d)).num_rows
                     for d in ("exact_store", "neardup_store"))
    exec_ms = [p["durationMs"]["triggerExecution"] for p in progress]
    m = {
        "ingest.batch_p50_s": p50(exec_ms) / 1000.0,
        "ingest.docs_per_s": sum(p["numInputRows"] for p in progress) * 1000.0 / sum(exec_ms),
        "ingest.add_batch_ms": p50(p["durationMs"]["addBatch"] for p in progress),
        "ingest.store_rows": store_rows,
        "ingest.exact_ok": int(results["exact_ok"].sum()),
        "ingest.neardup_ok": int(results["neardup_ok"].sum()),
        "ingest.kept": int(results["kept"].sum()),
    }
    for key in ("jobs", "executor_cpu_ms", "shuffle_write_bytes", "spill_bytes"):
        m[f"ingest.{key}_per_batch"] = p50(s.figures[key] for s in batches)
    for name in STAGES.values():
        m[f"{name}_ms"] = p50(s.ms for s in tr.named(name))
    return m
