"""Structured Streaming: file replay, watermark windows, foreachBatch sinks,
checkpoint resume, retention."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from reddit_sentiment_spark_streaming_pipeline_spark.operators.windows import windowed_event_counts
from reddit_sentiment_spark_streaming_pipeline_spark.streaming import pipeline as pl
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.replay import read_replay_stream, write_replay_chunks
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.retention import enforce_retention


def _replay(spark, sf_dir, tmp_path, n_chunks=4):
    replay_dir = str(tmp_path / "replay")
    n = write_replay_chunks(spark, sf_dir, replay_dir, n_chunks=n_chunks)
    return replay_dir, n


def test_windowed_stream_matches_batch(spark, sf_dir, tmp_path):
    replay_dir, _ = _replay(spark, sf_dir, tmp_path)
    stream = read_replay_stream(spark, replay_dir)
    q = pl.start_windowed_query(stream, "wq_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM wq_test").toPandas()
    batch = windowed_event_counts(spark, sf_dir).toPandas()
    assert len(got) > 0
    # append mode emits only watermark-closed windows → subset of batch,
    # but every emitted row must match the batch result exactly
    merged = got.merge(batch, on=["window_start", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)
    assert (merged.n_s == merged.n_b).all()
    assert (merged.sum_value_s == merged.sum_value_b).all()


def test_windowed_stream_sized_state_partitions(spark, sf_dir, tmp_path):
    """state_partitions takes effect for the stream (pinned at first batch)
    while the session conf is restored for everything after start()."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    replay_dir, _ = _replay(spark, sf_dir, tmp_path)
    stream = read_replay_stream(spark, replay_dir)
    q = pl.start_windowed_query(stream, "wq_sized", state_partitions=4)
    try:
        assert spark.conf.get(key) == before  # restored immediately
        q.processAllAvailable()
        assert int(q.lastProgress["stateOperators"][0]["numShufflePartitions"]) == 4
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM wq_sized").toPandas()
    batch = windowed_event_counts(spark, sf_dir).toPandas()
    merged = got.merge(batch, on=["window_start", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(got) > 0
    assert (merged.n_s == merged.n_b).all()


def test_foreachbatch_pipeline_sinks(spark, sf_dir, tmp_path):
    replay_dir, n_rows = _replay(spark, sf_dir, tmp_path)
    out_root = str(tmp_path / "out")
    stream = read_replay_stream(spark, replay_dir)
    q = pl.start_pipeline(stream, out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sinks = pl.BatchSinks(out_root)
    raw = spark.read.parquet(sinks.raw_dir)
    assert raw.count() == n_rows  # K1 captured every wire row
    avg = spark.read.parquet(sinks.avg_dir)
    n_batches = avg.select("batch_id").distinct().count()
    assert avg.count() == n_batches  # one headline row per micro-batch
    assert n_batches >= 2  # maxFilesPerTrigger=1 really did micro-batch
    stats = spark.read.parquet(sinks.stats_dir)
    assert stats.filter(F.col("event_type") == "error").count() == 0
    # per-batch grouped counts re-aggregate to the batch-query totals
    total = stats.agg(F.sum("post_count")).first()[0]
    valid_total = raw.filter((F.col("event_type") != "error") & F.col("value").isNotNull()).count()
    assert total == valid_total


def test_checkpoint_resume_no_duplicates(spark, sf_dir, tmp_path):
    replay_dir, n_rows = _replay(spark, sf_dir, tmp_path, n_chunks=3)
    out_root = str(tmp_path / "out2")
    stream = read_replay_stream(spark, replay_dir)
    q = pl.start_pipeline(stream, out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # restart against the same checkpoint: no re-processing, no duplicates
    q2 = pl.start_pipeline(read_replay_stream(spark, replay_dir), out_root)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    raw = spark.read.parquet(pl.BatchSinks(out_root).raw_dir)
    assert raw.count() == n_rows


def test_start_pipeline_refuses_old_checkpoint_layout(tmp_path):
    """A pre-namespacing deployment has offsets/commits directly under
    _checkpoint; restarting the namespaced query there would start from
    an empty _checkpoint/pipeline and silently replay the source into
    the append sinks. The guard must fail loud BEFORE any query starts
    (so `events` is never touched), and must not trip on the new layout
    where those dirs live under _checkpoint/<query_name>."""
    out_root = tmp_path / "old_layout"
    (out_root / "_checkpoint" / "offsets").mkdir(parents=True)
    with pytest.raises(RuntimeError, match="pre-namespacing"):
        pl.start_pipeline(None, str(out_root))
    new_root = tmp_path / "new_layout"
    (new_root / "_checkpoint" / "pipeline" / "offsets").mkdir(parents=True)
    (new_root / "_checkpoint" / "wq_sized" / "commits").mkdir(parents=True)
    pl._refuse_old_checkpoint_layout(str(new_root))  # no raise


def test_retention_caps_directory(tmp_path):
    d = tmp_path / "ret"
    d.mkdir()
    for i in range(10):
        (d / f"f{i:02d}.parquet").write_bytes(b"x" * 1000)
        os.utime(d / f"f{i:02d}.parquet", (i, i))  # deterministic mtimes
    deleted = enforce_retention(str(d), max_bytes=4500)
    assert len(deleted) == 6  # oldest six go, four fit under the cap
    kept = sorted(p.name for p in d.iterdir())
    assert kept == [f"f{i:02d}.parquet" for i in range(6, 10)]


def test_stateful_running_totals(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.events import valid_events
    from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stateful import start_running_totals

    replay_dir, _ = _replay(spark, sf_dir, tmp_path, n_chunks=3)
    q = start_running_totals(read_replay_stream(spark, replay_dir), "rt_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT event_type, max(cum_rows) AS cum_rows, max(cum_value) AS cum_value,"
        " sum(batch_rows) AS total_batch_rows, count(*) AS n_updates"
        " FROM rt_test GROUP BY event_type"
    ).toPandas().set_index("event_type")
    want = (
        valid_events(load_table(spark, sf_dir, "events"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("s"))
        .toPandas()
        .set_index("event_type")
    )
    assert set(got.index) == set(want.index)
    for k in want.index:
        # final state equals the batch aggregate; per-batch emissions sum to it
        assert got.loc[k, "cum_rows"] == want.loc[k, "n"]
        assert got.loc[k, "total_batch_rows"] == want.loc[k, "n"]
        assert abs(got.loc[k, "cum_value"] - want.loc[k, "s"]) < 1e-6
        assert got.loc[k, "n_updates"] >= 2  # state really crossed batches


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """The watermarked interval self-join, drained over replay chunks, must
    equal the batch interval join over the same events (inner join of two
    fully-arrived sides — no append-mode row can be dropped once the whole
    stream is drained and the final watermark has passed)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.events import valid_events
    from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table

    replay_dir, _ = _replay(spark, sf_dir, tmp_path)
    stream = read_replay_stream(spark, replay_dir)
    q = (
        pl.purchase_click_join_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_test")
        .start()
    )
    try:
        q.processAllAvailable()
        state = q.lastProgress["stateOperators"][0]
        # the interval condition must actually evict buffered rows
        assert int(state["numRowsRemoved"]) > 0
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM ssj_test").toPandas()

    v = valid_events(load_table(spark, sf_dir, "events"))
    p = v.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    c = v.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    batch = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {pl.JOIN_LOOKBACK}")),
        )
        .select("user_id", "purchase_id", "p_ts", "c_ts", "click_value")
        .toPandas()
    )
    key = ["purchase_id", "c_ts"]
    assert len(got) == len(batch) > 0
    g = got.sort_values(key, ignore_index=True)
    b = batch.sort_values(key, ignore_index=True)
    assert g[["user_id", "purchase_id", "c_ts"]].equals(b[["user_id", "purchase_id", "c_ts"]])
    assert (g.click_value - b.click_value).abs().max() < 1e-9


def test_jdbc_streaming_append_roundtrip(spark, sf_dir, tmp_path):
    # K4 in its reference role (reddit_consumer.py:330-338): every
    # micro-batch appends to a real database over native JDBC (embedded
    # Derby — on Spark's classpath), executors writing directly with no
    # toPandas collect. Exactly-once here comes from the parquet
    # checkpoint driving the batches; the JDBC append itself is
    # at-least-once per batch, same as the reference.
    from reddit_sentiment_spark_streaming_pipeline_spark import sinks as sk

    replay_dir, n_rows = _replay(spark, sf_dir, tmp_path, n_chunks=3)
    url = sk.derby_url(str(tmp_path / "derby_stream_db"))

    def to_jdbc(batch_df, batch_id):
        sk.jdbc_writer(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            url, "events_stream", mode="append", driver=sk.DERBY_DRIVER,
        ).save()

    q = (
        read_replay_stream(spark, replay_dir)
        .writeStream.foreachBatch(to_jdbc)
        .option("checkpointLocation", str(tmp_path / "ckpt_jdbc"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = sk.read_jdbc(spark, url, "events_stream")
    assert back.count() == n_rows
    assert back.select("batch_id").distinct().count() >= 2  # really micro-batched
    # values survive the round trip, not just the row count
    src_sum = spark.read.parquet(replay_dir).agg(F.sum("value")).first()[0]
    assert abs(back.agg(F.sum("value")).first()[0] - src_sum) < 1e-6


def test_stateful_anomaly_stream(spark, sf_dir, tmp_path):
    """Online z-score flags: state folds across batches (Welford/Chan
    merge), each batch scored against the prior state only. The expected
    flag set is replayed chunk-by-chunk in pandas with the same merge; a
    tolerance band (must-flag |z| > 2.6, must-not-flag |z| < 2.4) keeps
    the check exact in semantics but immune to sub-batch split rounding."""
    import glob as _glob
    import math

    import pandas as pd

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stateful import (
        ANOMALY_Z,
        _ANOMALY_MIN_N,
        start_anomaly_stream,
    )

    replay_dir, _ = _replay(spark, sf_dir, tmp_path, n_chunks=3)
    q = start_anomaly_stream(read_replay_stream(spark, replay_dir), "anom_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM anom_test").toPandas()
    flagged = set(got.event_id)
    assert (got.zscore.abs() > ANOMALY_Z).all()

    stats: dict[str, tuple[int, float, float]] = {}
    must, forbidden = set(), set()
    for f in sorted(_glob.glob(f"{replay_dir}/*.parquet")):
        chunk = pd.read_parquet(f)
        chunk = chunk[(chunk.event_type != "error") & chunk.value.notna()]
        for etype, g in chunk.groupby("event_type"):
            n, mean, m2 = stats.get(etype, (0, 0.0, 0.0))
            if n >= _ANOMALY_MIN_N and m2 > 0:
                sigma = math.sqrt(m2 / (n - 1))
                z = (g.value - mean) / sigma
                must |= set(g.event_id[z.abs() > ANOMALY_Z + 0.1])
                forbidden |= set(g.event_id[z.abs() < ANOMALY_Z - 0.1])
            else:
                forbidden |= set(g.event_id)  # warm-up rows are unscored
            n_b = len(g)
            mean_b = float(g.value.mean())
            m2_b = float(((g.value - mean_b) ** 2).sum())
            tot = n + n_b
            delta = mean_b - mean
            stats[etype] = (
                tot,
                mean + delta * n_b / tot,
                m2 + m2_b + delta * delta * n * n_b / tot,
            )

    assert must, "fixture produced no unambiguous anomalies"
    assert must <= flagged, f"missed online anomalies: {sorted(must - flagged)}"
    assert forbidden.isdisjoint(flagged), (
        f"flagged non-anomalous/warm-up rows: {sorted(forbidden & flagged)}"
    )


def test_neardup_gate_matches_batch_twin(spark, tmp_path):
    """Drained NEAR-dup stream == the batch twin, decision for decision:
    the store holds one flagged row per SEEN doc (rejected docs keep
    blocking later near-copies), and the admitted set equals
    incremental_neardup_gate's — the batching-invariance the smaller-id
    admission rule exists for (chunks replay in doc_id order). Exact
    resubmits (+1M, byte-identical) must always be rejected."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
        incremental_neardup_gate,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_doc_stream,
        read_neardup_stats,
        read_neardup_store,
        start_neardup_gate,
        write_doc_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "nchunks")
    out_root = str(tmp_path / "ngate")
    n = write_doc_chunks(spark, sf_dir, chunk_dir, n_chunks=4)

    q = start_neardup_gate(read_doc_stream(spark, chunk_dir), out_root)
    try:
        q.processAllAvailable()
        input_rows = sum(p.numInputRows for p in q.recentProgress)
    finally:
        q.stop()

    # single-source-scan contract: the batch plan references the batch
    # twice (fingerprint aggregate + source-column join-back), which
    # without the persisted base projection scanned the streaming source
    # twice per micro-batch — numInputRows read exactly 2n (caught by the
    # chaos-neardup rehearsal, r10)
    assert input_rows == n

    store = read_neardup_store(spark, out_root)
    assert store.count() == n  # every seen doc stored, admitted or not
    got = {(r.doc_id, r.admitted) for r in store.select("doc_id", "admitted").collect()}
    want = {
        (r.doc_id, r.admitted)
        for r in incremental_neardup_gate(spark, sf_dir)
        .select("doc_id", "admitted")
        .collect()
    }
    assert got == want

    stats = read_neardup_stats(spark, out_root).toPandas()
    assert stats.n_batch.sum() == n
    assert stats.n_admitted.sum() == sum(1 for _, a in want if a)
    assert stats.n_batch.count() >= 2  # really micro-batched

    # byte-identical resubmits share every chunk at hamming 0 with their
    # smaller-id original: rejected without exception
    rejected = {d for d, a in got if not a}
    originals = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id % 10 = 0")
        .select((F.col("doc_id") + 1000000).alias("doc_id"))
    )
    resubmit = {r.doc_id for r in originals.collect()}
    assert resubmit <= rejected


def test_streaming_dedup_gate_matches_batch_semantics(spark, tmp_path):
    """Drained stream == batch gate: the store ends with exactly one row
    per distinct text, resubmits are rejected across batches, and a
    replayed batch admits nothing new (membership idempotence)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        gate_batch,
        read_doc_stream,
        start_dedup_gate,
        write_doc_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "chunks")
    out_root = str(tmp_path / "gate")
    n = write_doc_chunks(spark, sf_dir, chunk_dir, n_chunks=4)

    q = start_dedup_gate(read_doc_stream(spark, chunk_dir), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store = spark.read.parquet(f"{out_root}/fingerprint_store")
    stats = spark.read.parquet(f"{out_root}/gate_stats").toPandas()
    corpus = spark.read.parquet(chunk_dir)
    n_distinct = corpus.select("text").distinct().count()

    # one admitted row per distinct text, none admitted twice
    assert store.count() == n_distinct
    assert store.select("fingerprint").distinct().count() == n_distinct
    # per-batch accounting adds up to the corpus
    assert stats.n_batch.sum() == n
    assert stats.n_admitted.sum() == n_distinct
    # resubmits (+1M ids, exact copies) must never be the admitted doc —
    # their originals replay in earlier batches
    assert store.filter((F.col("doc_id") >= 1000000) & (F.col("doc_id") < 2000000)).count() == 0
    # replaying a batch's CONTENT under a new batch id against the
    # finished store admits nothing (cross-batch membership rejection)
    import glob

    first_chunk = sorted(glob.glob(f"{chunk_dir}/*.parquet"))[0]
    replay = spark.read.parquet(first_chunk)
    gate_batch(replay, 99, f"{out_root}/fingerprint_store", f"{out_root}/gate_stats")
    stats2 = spark.read.parquet(f"{out_root}/gate_stats").toPandas()
    assert stats2[stats2.batch_id == 99].n_admitted.iloc[0] == 0
    assert spark.read.parquet(f"{out_root}/fingerprint_store").count() == n_distinct

    # replaying batch 0 under its OWN id (foreachBatch's real retry shape:
    # crash after side effects, before checkpoint commit) must recompute
    # the identical admitted set and keep the TRUE stats row — the
    # batch-owned store partition is overwritten, never double-appended
    # and never repaired to a lying 0
    admitted_b0 = stats.set_index("batch_id").n_admitted.loc[0]
    gate_batch(replay, 0, f"{out_root}/fingerprint_store", f"{out_root}/gate_stats")
    stats3 = spark.read.parquet(f"{out_root}/gate_stats").toPandas()
    assert stats3[stats3.batch_id == 0].n_admitted.iloc[0] == admitted_b0
    store3 = spark.read.parquet(f"{out_root}/fingerprint_store")
    assert store3.count() == n_distinct
    assert store3.select("fingerprint").distinct().count() == n_distinct


def test_gate_store_compaction_preserves_admission(spark, tmp_path):
    """compact_store folds the batch-owned partitions into one without
    changing membership: row count, fingerprint set, and the cross-batch
    rejection behavior of the next batch are identical before/after, and
    the op is idempotent."""
    import glob

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        compact_store,
        gate_batch,
        read_doc_stream,
        start_dedup_gate,
        write_doc_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "chunks")
    out_root = str(tmp_path / "gate")
    write_doc_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    q = start_dedup_gate(read_doc_stream(spark, chunk_dir), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store_dir = f"{out_root}/fingerprint_store"
    before = spark.read.parquet(store_dir)
    n_before = before.count()
    fps_before = {r[0] for r in before.select("fingerprint").collect()}

    # all 4 batches committed (the drain finished) -> upto=4 is safe
    n = compact_store(spark, store_dir, 4)
    assert n == n_before
    parts = sorted(
        os.path.basename(p) for p in glob.glob(f"{store_dir}/batch_id=*")
    )
    assert parts == ["batch_id=3"], parts
    after = spark.read.parquet(store_dir)
    assert after.count() == n_before
    assert {r[0] for r in after.select("fingerprint").collect()} == fps_before

    # cross-batch rejection against the compacted store is intact
    first_chunk = sorted(glob.glob(f"{chunk_dir}/*.parquet"))[0]
    replay = spark.read.parquet(first_chunk)
    gate_batch(replay, 4, store_dir, f"{out_root}/gate_stats")
    stats = spark.read.parquet(f"{out_root}/gate_stats").toPandas()
    assert stats[stats.batch_id == 4].n_admitted.iloc[0] == 0
    assert spark.read.parquet(store_dir).count() == n_before

    # idempotent: re-compacting with the same bound rewrites itself
    # (batch 4's empty partition is newer than the bound and survives)
    assert compact_store(spark, store_dir, 4) == n_before
    assert spark.read.parquet(store_dir).count() == n_before


def test_neardup_store_compaction_preserves_admission(spark, tmp_path):
    """compact_store(schema=NEARDUP_STORE_SCHEMA) folds the near-dup
    store's batch-owned partitions into one without changing membership
    or admission flags (rejected rows must keep blocking), cross-batch
    near-dup rejection against the compacted store is intact, and the op
    is idempotent — the exact-store compaction contract, one schema over."""
    import glob

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        NEARDUP_STORE_SCHEMA,
        compact_store,
        neardup_gate_batch,
        read_doc_stream,
        start_neardup_gate,
        write_doc_chunks,
    )

    chunk_dir = str(tmp_path / "chunks")
    out_root = str(tmp_path / "ngate")
    write_doc_chunks(spark, "/root/testdata/sf0.001", chunk_dir, n_chunks=4)
    q = start_neardup_gate(read_doc_stream(spark, chunk_dir), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store_dir = f"{out_root}/neardup_store"
    cols = ["doc_id", "source", "h0", "h1", "h2", "h3", "admitted"]
    before = spark.read.parquet(store_dir).select(cols)
    n_before = before.count()
    rows_before = {tuple(r) for r in before.collect()}

    n = compact_store(spark, store_dir, 4, schema=NEARDUP_STORE_SCHEMA)
    assert n == n_before
    parts = sorted(
        os.path.basename(p) for p in glob.glob(f"{store_dir}/batch_id=*")
    )
    assert parts == ["batch_id=3"], parts
    after = spark.read.parquet(store_dir).select(cols)
    assert {tuple(r) for r in after.collect()} == rows_before

    # cross-batch near-dup rejection against the compacted store: replay
    # the first chunk with SHIFTED ids — byte-identical texts, so every
    # doc has a smaller-id Hamming-0 match among the seen rows (a
    # same-id replay would not block: the admission rule is smaller-id)
    first_chunk = sorted(glob.glob(f"{chunk_dir}/*.parquet"))[0]
    replay = spark.read.parquet(first_chunk).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "source"
    )
    neardup_gate_batch(replay, 4, store_dir, f"{out_root}/neardup_stats")
    stats = spark.read.parquet(f"{out_root}/neardup_stats").toPandas()
    assert stats[stats.batch_id == 4].n_admitted.iloc[0] == 0

    # idempotent; batch 4's partition is newer than the bound and must
    # SURVIVE the re-run (folding an uncommitted batch would relabel rows
    # its replay still needs excluded)
    assert compact_store(
        spark, store_dir, 4, schema=NEARDUP_STORE_SCHEMA
    ) == n_before
    parts = sorted(
        os.path.basename(p) for p in glob.glob(f"{store_dir}/batch_id=*")
    )
    assert parts == ["batch_id=3", "batch_id=4"], parts

    # wrong-schema misuse fails loudly instead of rewriting history with
    # null columns (the exact-store default lacks h0..h3/admitted)
    import pytest as _pytest

    with _pytest.raises(IOError, match="absent from the store's parquet"):
        compact_store(spark, store_dir, 4)


def _drained_gate_store(spark, tmp_path):
    """Drain the 4-chunk gate fixture; return (store_dir, chunk_dir,
    out_root, fingerprint set)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_doc_stream,
        start_dedup_gate,
        write_doc_chunks,
    )

    chunk_dir = str(tmp_path / "chunks")
    out_root = str(tmp_path / "gate")
    write_doc_chunks(spark, "/root/testdata/sf0.001", chunk_dir, n_chunks=4)
    q = start_dedup_gate(read_doc_stream(spark, chunk_dir), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    store_dir = f"{out_root}/fingerprint_store"
    fps = {r[0] for r in
           spark.read.parquet(store_dir).select("fingerprint").collect()}
    return store_dir, chunk_dir, out_root, fps


def test_compact_store_crash_window_recovery(spark, tmp_path):
    """The additive-first swap survives a crash at its two dangerous
    points. Window A: consolidated tmp is complete and batch_id=dest is
    already deleted — the dest rows' ONLY copy is the tmp; a re-run must
    resume from the tmp (not rebuild from the now-partial store) and
    restore full membership. Window B: the rename landed but the folded
    history partitions were not yet deleted — a re-run must fold the
    duplicate copies away and converge to one partition with the
    original membership."""
    import glob
    import shutil

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import compact_store

    store_dir, _, _, fps = _drained_gate_store(spark, tmp_path)
    n_before = len(fps)
    w_a = str(tmp_path / "store_window_a")
    w_b = str(tmp_path / "store_window_b")
    shutil.copytree(store_dir, w_a)
    shutil.copytree(store_dir, w_b)

    # --- window A: tmp written (with _SUCCESS), dest deleted, no rename
    tmp = w_a.rstrip("/") + ".compact_tmp_3"
    (
        spark.read.parquet(w_a)
        .select("fingerprint", "doc_id", "source")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    )
    assert os.path.exists(os.path.join(tmp, "_SUCCESS"))
    shutil.rmtree(os.path.join(w_a, "batch_id=3"))
    # the partial store has lost batch 3's rows — only the tmp has them
    assert spark.read.parquet(w_a).count() < n_before
    assert compact_store(spark, w_a, 4) == n_before
    after_a = spark.read.parquet(w_a)
    assert {r[0] for r in after_a.select("fingerprint").collect()} == fps
    parts = sorted(os.path.basename(p)
                   for p in glob.glob(f"{w_a}/batch_id=*"))
    assert parts == ["batch_id=3"], parts
    assert not os.path.exists(tmp)

    # --- window B: consolidated copy renamed into batch_id=3, folded
    # partitions 0..2 still present (duplicate rows across partitions)
    consolidated = (
        spark.read.parquet(w_b)
        .select("fingerprint", "doc_id", "source")
    )
    # two-step: batch_id=3 is part of the source scan, so materialize
    # the consolidated copy outside the store before overwriting it
    stage = str(tmp_path / "stage_b")
    consolidated.coalesce(1).write.mode("overwrite").parquet(stage)
    shutil.rmtree(os.path.join(w_b, "batch_id=3"))
    shutil.copytree(stage, os.path.join(w_b, "batch_id=3"))
    assert spark.read.parquet(w_b).count() > n_before  # dup copies live
    assert compact_store(spark, w_b, 4) == n_before
    after_b = spark.read.parquet(w_b)
    assert after_b.count() == n_before
    assert {r[0] for r in after_b.select("fingerprint").collect()} == fps
    parts = sorted(os.path.basename(p)
                   for p in glob.glob(f"{w_b}/batch_id=*"))
    assert parts == ["batch_id=3"], parts


def test_compact_store_cross_bound_orphan_recovery(spark, tmp_path):
    """A compaction crash in the delete→rename window is healed by the
    NEXT scheduled compaction at a HIGHER bound, not only by an exact
    same-bound retry: the orphaned complete tmp is unioned into the
    rebuild, so no fingerprint is ever lost. A gate (re)started while
    the store sits in that state refuses loudly instead of silently
    re-admitting the missing partition's documents. A complete orphan
    at a bound BEYOND the requested one is refused. And when a complete
    tmp at the CURRENT bound coexists with orphans, both fold in."""
    import glob
    import shutil

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        compact_store,
        gate_batch,
    )

    store_dir, chunk_dir, out_root, fps = _drained_gate_store(spark, tmp_path)
    n_before = len(fps)

    def crash_window2(store: str, dest: int) -> str:
        """Simulate: tmp for `dest` written+_SUCCESS, batch_id=dest
        deleted, rename never ran."""
        tmp = store.rstrip("/") + f".compact_tmp_{dest}"
        (
            spark.read.parquet(os.path.join(store, f"batch_id={dest}"))
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        )
        shutil.rmtree(os.path.join(store, f"batch_id={dest}"))
        return tmp

    # --- higher-bound recovery: crash at bound 3 (dest=2), recover at 4
    w = str(tmp_path / "store_cross_bound")
    shutil.copytree(store_dir, w)
    crash_window2(w, 2)
    assert spark.read.parquet(w).count() < n_before  # batch 2 rows lost

    # a restarted gate must refuse this state, not re-admit silently
    first_chunk = sorted(glob.glob(f"{chunk_dir}/*.parquet"))[0]
    replay = spark.read.parquet(first_chunk)
    import pytest as _pytest
    with _pytest.raises(IOError, match="mid-compaction"):
        gate_batch(replay, 4, w, str(tmp_path / "stats_refuse"))

    assert compact_store(spark, w, 4) == n_before
    after = spark.read.parquet(w)
    assert {r[0] for r in after.select("fingerprint").collect()} == fps
    parts = sorted(os.path.basename(p) for p in glob.glob(f"{w}/batch_id=*"))
    assert parts == ["batch_id=3"], parts
    assert glob.glob(w + ".compact_tmp_*") == []  # orphan folded + removed
    # and the gate runs again
    gate_batch(replay, 4, w, str(tmp_path / "stats_ok"))

    # --- refusal: complete orphan at a bound beyond the requested one
    w2 = str(tmp_path / "store_refuse_higher")
    shutil.copytree(store_dir, w2)
    hi_tmp = w2.rstrip("/") + ".compact_tmp_7"
    spark.read.parquet(os.path.join(w2, "batch_id=0")).coalesce(1) \
        .write.mode("overwrite").parquet(hi_tmp)
    with _pytest.raises(IOError, match="HIGHER bound"):
        compact_store(spark, w2, 4)

    # --- merge path: complete tmp at the CURRENT dest (only copy of
    # batch 3) coexists with a complete orphan (only copy of batch 1)
    w3 = str(tmp_path / "store_merge")
    shutil.copytree(store_dir, w3)
    crash_window2(w3, 1)
    crash_window2(w3, 3)
    assert compact_store(spark, w3, 4) == n_before
    after3 = spark.read.parquet(w3)
    assert {r[0] for r in after3.select("fingerprint").collect()} == fps
    assert glob.glob(w3 + ".compact_tmp_*") == []

    # --- incomplete orphan (no _SUCCESS) is garbage: store intact,
    # compaction just cleans it up
    w4 = str(tmp_path / "store_garbage_tmp")
    shutil.copytree(store_dir, w4)
    g = w4.rstrip("/") + ".compact_tmp_1"
    spark.read.parquet(os.path.join(w4, "batch_id=1")).coalesce(1) \
        .write.mode("overwrite").parquet(g)
    os.remove(os.path.join(g, "_SUCCESS"))
    gate_batch(replay, 4, w4, str(tmp_path / "stats_garbage"))  # no raise
    assert compact_store(spark, w4, 4) >= n_before
    assert glob.glob(w4 + ".compact_tmp_*") == []


def test_gate_replay_with_torn_part_file(spark, tmp_path):
    """A killed run that leaves a literally corrupt part file in the
    batch's OWN store partition must not poison the replay: gate_batch
    reads only batch_id < N (explicit schema, no footer inference), so
    the torn file is never scanned, and mode('overwrite') on the batch's
    partition repairs it. Store membership and the batch's stats row
    must equal a clean control run."""
    import glob
    import shutil

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import gate_batch

    store_dir, chunk_dir, out_root, fps = _drained_gate_store(spark, tmp_path)
    stats_dir = f"{out_root}/gate_stats"

    # control: batch 4 (replay of chunk 0's content) runs cleanly
    ctrl_store = str(tmp_path / "ctrl_store")
    ctrl_stats = str(tmp_path / "ctrl_stats")
    shutil.copytree(store_dir, ctrl_store)
    shutil.copytree(stats_dir, ctrl_stats)
    first_chunk = sorted(glob.glob(f"{chunk_dir}/*.parquet"))[0]
    replay = spark.read.parquet(first_chunk)
    gate_batch(replay, 4, ctrl_store, ctrl_stats)

    # chaos: batch 4's first incarnation died mid-write, leaving a torn
    # (truncated, non-parquet) part file in its own partition
    torn_dir = os.path.join(store_dir, "batch_id=4")
    os.makedirs(torn_dir)
    with open(os.path.join(torn_dir,
                           "part-00000-torn.snappy.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x13\x37 torn mid write")
    gate_batch(replay, 4, store_dir, stats_dir)

    got = spark.read.parquet(store_dir)
    want = spark.read.parquet(ctrl_store)
    assert got.count() == want.count()
    assert (got.select("fingerprint", "doc_id", "source", "batch_id")
            .exceptAll(want.select("fingerprint", "doc_id", "source",
                                   "batch_id")).count() == 0)
    assert (want.select("fingerprint", "doc_id", "source", "batch_id")
            .exceptAll(got.select("fingerprint", "doc_id", "source",
                                  "batch_id")).count() == 0)
    s_got = spark.read.parquet(stats_dir).toPandas()
    s_want = spark.read.parquet(ctrl_stats).toPandas()
    row_got = s_got[s_got.batch_id == 4].iloc[0]
    row_want = s_want[s_want.batch_id == 4].iloc[0]
    assert row_got.n_admitted == row_want.n_admitted == 0
    assert row_got.n_batch == row_want.n_batch
    # the torn file is gone — overwrite repaired the partition
    leftover = [p for p in os.listdir(torn_dir) if "torn" in p]
    assert leftover == []


def test_streaming_dedup_gate_survives_restart(spark, tmp_path):
    """Stop the gate mid-stream and restart on the same checkpoint: the
    second query resumes from the unprocessed chunks only, and the final
    store is identical to an uninterrupted drain (exactly-once). The
    mid-stream stop is deterministic: the last two chunk files are held
    back until the first query has drained and stopped."""
    import glob
    import shutil

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_doc_stream,
        read_gate_stats,
        start_dedup_gate,
        write_doc_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "chunks")
    hold_dir = tmp_path / "held"
    hold_dir.mkdir()
    out_root = str(tmp_path / "gate")
    write_doc_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    chunks = sorted(glob.glob(f"{chunk_dir}/*.parquet"))
    held = []
    for f in chunks[2:]:  # hold back the last two chunks (mtimes survive)
        dest = str(hold_dir / os.path.basename(f))
        shutil.move(f, dest)
        held.append((dest, f))

    q1 = start_dedup_gate(read_doc_stream(spark, chunk_dir), out_root)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert read_gate_stats(spark, out_root).count() == 2  # genuinely mid-stream

    for src, dest in held:
        shutil.move(src, dest)
    q2 = start_dedup_gate(read_doc_stream(spark, chunk_dir), out_root)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    store = spark.read.parquet(f"{out_root}/fingerprint_store")
    n_distinct = spark.read.parquet(chunk_dir).select("text").distinct().count()
    assert store.count() == n_distinct
    assert store.select("fingerprint").distinct().count() == n_distinct
    # the resumed drain processed only the held-back chunks: 4 batches total
    assert read_gate_stats(spark, out_root).count() == 4


def test_neardup_gate_fallback_reaches_same_admission_set(spark, tmp_path, monkeypatch):
    """A backfill-sized batch (over GATE_BATCH_BROADCAST_MAX // 4 docs)
    must route through the shuffle-hash fallback and still admit EXACTLY
    the batch twin's set — the fallback changes the physical join
    strategy, never the decision. Cap monkeypatched tiny so real sf0.001
    batches exceed it; both the within-batch and vs-store fallback paths
    run (two batches, second sees a populated store)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
        incremental_neardup_gate,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming import dedup as sd

    monkeypatch.setattr(sd, "GATE_BATCH_BROADCAST_MAX", 8)  # cap = 2 docs/batch

    sf_dir = "/root/testdata/sf0.001"
    out_root = str(tmp_path / "ngate_fb")
    store_dir = f"{out_root}/neardup_store"
    stats_dir = f"{out_root}/neardup_stats"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    sd.neardup_gate_batch(docs.filter(F.col("doc_id") <= mid), 0, store_dir, stats_dir)
    sd.neardup_gate_batch(docs.filter(F.col("doc_id") > mid), 1, store_dir, stats_dir)

    got = {
        (r.doc_id, r.admitted)
        for r in spark.read.parquet(store_dir).select("doc_id", "admitted").collect()
    }
    # the twin runs over base docs + its synthetic incoming snapshot; the
    # gate here saw only the base docs — compare on that slice
    base_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    want = {
        (r.doc_id, r.admitted)
        for r in incremental_neardup_gate(spark, sf_dir)
        .select("doc_id", "admitted")
        .collect()
        if r.doc_id in base_ids
    }
    assert {d for d, _ in got} == base_ids
    assert got == want


def test_selection_gate_matches_batch_twin(spark, tmp_path):
    """Drained DSIR selection stream == the batch twin, decision for
    decision — and the frozen model makes that hold for ANY chunking
    (scores depend only on the model, unlike the dedup gates' id-order
    requirement). Also pins the freeze-once contract: a restart without
    cal_docs reuses the on-disk model; a fresh root without cal_docs
    refuses loudly."""
    import pytest as _pytest

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
        SELECTION_CAL_MOD,
        incremental_selection_gate,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.selection import (
        read_selection_results,
        read_selection_stats,
        read_selection_stream,
        start_selection_gate,
        write_selection_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "schunks")
    out_root = str(tmp_path / "sgate")
    n = write_selection_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    cal = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % SELECTION_CAL_MOD == 0)
    )

    q = start_selection_gate(read_selection_stream(spark, chunk_dir), out_root, cal)
    try:
        q.processAllAvailable()
        input_rows = sum(p.numInputRows for p in q.recentProgress)
    finally:
        q.stop()

    # single-source-scan contract: raw count + scored build share one
    # persisted projection (see selection_gate_batch)
    assert input_rows == n

    got = {
        (r.doc_id, r.admitted, r.sel_z)
        for r in read_selection_results(spark, out_root)
        .select("doc_id", "admitted", "sel_z")
        .collect()
    }
    want = {
        (r.doc_id, r.admitted, r.sel_z)
        for r in incremental_selection_gate(spark, sf_dir)
        .select("doc_id", "admitted", "sel_z")
        .collect()
    }
    assert got == want
    assert len(got) > 0

    stats = read_selection_stats(spark, out_root).toPandas()
    assert stats.n_batch.sum() == n
    assert stats.n_scored.sum() == len(want)
    assert stats.n_admitted.sum() == sum(1 for _, a, _z in want if a)
    assert stats.n_batch.count() >= 2  # really micro-batched

    # freeze-once: restart over the SAME root without cal_docs reuses the
    # durable model (nothing new to drain; the start itself must not
    # demand calibration data)
    q2 = start_selection_gate(read_selection_stream(spark, chunk_dir), out_root)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert read_selection_results(spark, out_root).count() == len(want)

    # a fresh root with no model and no cal_docs must refuse loudly
    with _pytest.raises(ValueError, match="no frozen model"):
        start_selection_gate(
            read_selection_stream(spark, chunk_dir), str(tmp_path / "fresh")
        )


def test_selection_gate_crash_replay_is_idempotent(spark, tmp_path):
    """foreachBatch replay contract under a crash AFTER the batch's side
    effects but BEFORE the checkpoint commit (the dedup gates' chaos
    window, injected via after_batch_hook): the restart replays the
    crashed batch against the immutable frozen model, its partition
    overwrite repairs any partial write, and the drained results + stats
    equal an uninterrupted control's exactly."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
        SELECTION_CAL_MOD,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.selection import (
        read_selection_results,
        read_selection_stats,
        read_selection_stream,
        start_selection_gate,
        write_selection_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "chunks")
    write_selection_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    cal = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % SELECTION_CAL_MOD == 0)
    )

    def drain(root, hook=None):
        q = start_selection_gate(
            read_selection_stream(spark, chunk_dir), root, cal,
            after_batch_hook=hook,
        )
        try:
            q.processAllAvailable()
        except StreamingQueryException:
            assert hook is not None  # only the injected crash may raise
        finally:
            q.stop()

    ctrl = str(tmp_path / "ctrl")
    drain(ctrl)

    crashed = []

    def hook(bid):
        if bid == 1 and not crashed:
            crashed.append(bid)
            raise RuntimeError("chaos: crash after side effects, before commit")

    chaos = str(tmp_path / "chaos")
    drain(chaos, hook=hook)
    assert crashed == [1]
    drain(chaos)  # resume from the checkpoint; model must NOT re-freeze

    cols = ["doc_id", "admitted", "sel_z", "dsir_logratio"]
    ctrl_rows = {tuple(r) for r in read_selection_results(spark, ctrl).select(cols).collect()}
    chaos_rows = {tuple(r) for r in read_selection_results(spark, chaos).select(cols).collect()}
    assert chaos_rows == ctrl_rows

    cs = read_selection_stats(spark, ctrl).toPandas()
    xs = read_selection_stats(spark, chaos).toPandas()
    assert cs.n_batch.sum() == xs.n_batch.sum()
    assert cs.n_admitted.sum() == xs.n_admitted.sum()


def test_selection_gate_refreezes_after_partial_model_write(spark, tmp_path):
    """A crash between the model's two writes (lr lands first, params
    last) must not wedge the gate: start_selection_gate keys freeze-once
    on the params dir — the LAST artifact written — so a partial freeze
    re-freezes from cal_docs on restart, and the deterministic inputs
    reproduce the identical model."""
    import shutil

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
        SELECTION_CAL_MOD,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.selection import (
        read_selection_model,
        read_selection_results,
        read_selection_stream,
        start_selection_gate,
        write_selection_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "chunks")
    n = write_selection_chunks(spark, sf_dir, chunk_dir, n_chunks=2)
    cal = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % SELECTION_CAL_MOD == 0)
    )
    out_root = str(tmp_path / "gate")

    q = start_selection_gate(read_selection_stream(spark, chunk_dir), out_root, cal)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    lr0, params0 = read_selection_model(spark, f"{out_root}/dsir_model")
    want_lr = {(r.bucket, r.logratio) for r in lr0.collect()}
    want_params = params0.collect()[0]
    n_results = read_selection_results(spark, out_root).count()
    assert n_results == n

    # simulate the mid-freeze crash on a fresh root: lr present, params
    # absent — the freeze-once check must NOT treat this as frozen
    root2 = str(tmp_path / "gate2")
    os.makedirs(f"{root2}/dsir_model")
    shutil.copytree(f"{out_root}/dsir_model/lr", f"{root2}/dsir_model/lr")
    q2 = start_selection_gate(read_selection_stream(spark, chunk_dir), root2, cal)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    lr2, params2 = read_selection_model(spark, f"{root2}/dsir_model")
    assert {(r.bucket, r.logratio) for r in lr2.collect()} == want_lr
    got_params = params2.collect()[0]
    assert got_params.mu == want_params.mu
    assert got_params.sigma == want_params.sigma
    assert read_selection_results(spark, root2).count() == n


def test_ingest_pipeline_matches_batch_twin(spark, tmp_path):
    """Drained composed INGEST stream (exact -> near-dup -> selection in
    one foreachBatch) == the batch twin, flag for flag, for id-ordered
    replay — the three gates compose without contract drift. Also pins
    exactly-once input accounting (one persisted base per batch) and the
    stats rows' stage funnel."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import (
        incremental_ingest_pipeline,
        ingest_cal_docs,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        read_ingest_results,
        read_ingest_stats,
        read_ingest_stream,
        start_ingest_pipeline,
        write_ingest_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "ichunks")
    out_root = str(tmp_path / "ingest")
    n = write_ingest_chunks(spark, sf_dir, chunk_dir, n_chunks=4)

    q = start_ingest_pipeline(
        read_ingest_stream(spark, chunk_dir), out_root,
        ingest_cal_docs(spark, sf_dir),
    )
    try:
        q.processAllAvailable()
        input_rows = sum(p.numInputRows for p in q.recentProgress)
    finally:
        q.stop()
    assert input_rows == n  # single-source-scan contract

    cols = ["doc_id", "exact_ok", "neardup_ok", "kept"]
    got = {tuple(r) for r in read_ingest_results(spark, out_root).select(cols).collect()}
    want = {
        tuple(r)
        for r in incremental_ingest_pipeline(spark, sf_dir).select(cols).collect()
    }
    assert len(got) == n
    assert got == want
    # all three stages really bound on this corpus
    n_exact = sum(1 for _, e, _n, _k in want if e)
    n_neardup = sum(1 for _, _e, nd, _k in want if nd)
    n_kept = sum(1 for _, _e, _n, k in want if k)
    assert n > n_exact > n_neardup > n_kept > 0

    stats = read_ingest_stats(spark, out_root).toPandas()
    assert stats.n_batch.sum() == n
    assert stats.n_exact_ok.sum() == n_exact
    assert stats.n_neardup_ok.sum() == n_neardup
    assert stats.n_kept.sum() == n_kept
    assert stats.n_batch.count() >= 2  # really micro-batched


@pytest.mark.parametrize("order", ["id", "arrival"])
def test_ingest_pipeline_crash_replay_is_idempotent(spark, tmp_path, order):
    """Crash after batch 1's side effects (THREE store partitions + the
    results partition + the stats row) but before the checkpoint commit:
    the replay re-reads only `batch_id < 1` from every store — its own
    leaked partitions invisible — recomputes the identical three-stage
    decision set, and overwrite repairs everything. Drained results and
    stats equal an uninterrupted control's exactly. Parametrized over
    both replay contracts: id-ordered chunks (smaller-id rules) and
    arrival-ordered chunks (first-seen-wins — the arrival_seq column
    rides the chunk files, so a replayed batch re-derives the identical
    precedence; admission decisions are deterministic either way)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import ingest_cal_docs
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        read_ingest_results,
        read_ingest_stats,
        read_ingest_stream,
        read_ingest_stream_arrival,
        start_ingest_pipeline,
        write_ingest_chunks,
        write_ingest_chunks_arrival,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "chunks")
    if order == "arrival":
        write_ingest_chunks_arrival(spark, sf_dir, chunk_dir, n_chunks=4)
        stream = lambda: read_ingest_stream_arrival(spark, chunk_dir)  # noqa: E731
    else:
        write_ingest_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
        stream = lambda: read_ingest_stream(spark, chunk_dir)  # noqa: E731
    cal = ingest_cal_docs(spark, sf_dir)

    def drain(root, hook=None):
        q = start_ingest_pipeline(
            stream(), root, cal,
            after_batch_hook=hook,
        )
        try:
            q.processAllAvailable()
        except StreamingQueryException:
            assert hook is not None
        finally:
            q.stop()

    ctrl = str(tmp_path / "ctrl")
    drain(ctrl)

    crashed = []

    def hook(bid):
        if bid == 1 and not crashed:
            crashed.append(bid)
            raise RuntimeError("chaos: crash after side effects, before commit")

    chaos = str(tmp_path / "chaos")
    drain(chaos, hook=hook)
    assert crashed == [1]
    drain(chaos)  # resume from the checkpoint

    cols = ["doc_id", "lang", "exact_ok", "neardup_ok", "kept", "batch_id"]
    ctrl_rows = {tuple(r) for r in read_ingest_results(spark, ctrl).select(cols).collect()}
    chaos_rows = {tuple(r) for r in read_ingest_results(spark, chaos).select(cols).collect()}
    assert chaos_rows == ctrl_rows

    cs = read_ingest_stats(spark, ctrl).toPandas().sort_values("batch_id")
    xs = read_ingest_stats(spark, chaos).toPandas().sort_values("batch_id")
    for col in ("n_batch", "n_exact_ok", "n_neardup_ok", "n_kept"):
        assert list(cs[col]) == list(xs[col])


def test_ingest_store_compaction_mid_stream_preserves_decisions(spark, tmp_path):
    """compact_store folds BOTH of the composed pipeline's stores
    mid-stream without changing any later decision — the standalone
    gates' compaction contract, two schemas over, exercised at the
    worst point: a crash left batch 2's partitions written but
    uncommitted, then both stores are compacted upto the committed
    bound (batches 0-1 fold to one partition; the leaked batch-2
    partitions must SURVIVE — folding an uncommitted batch would
    relabel rows its replay still needs excluded), and the resumed
    drain replays batch 2 against the folded batch_id<2 views. Final
    results and stats must equal an uninterrupted control's exactly."""
    import glob

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import ingest_cal_docs
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import compact_store
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        INGEST_EXACT_STORE_SCHEMA,
        INGEST_NEARDUP_STORE_SCHEMA,
        read_ingest_results,
        read_ingest_stats,
        read_ingest_stream,
        start_ingest_pipeline,
        write_ingest_chunks,
    )

    sf_dir = "/root/testdata/sf0.001"
    chunk_dir = str(tmp_path / "chunks")
    write_ingest_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    cal = ingest_cal_docs(spark, sf_dir)

    def drain(root, hook=None):
        q = start_ingest_pipeline(
            read_ingest_stream(spark, chunk_dir), root, cal,
            after_batch_hook=hook,
        )
        try:
            q.processAllAvailable()
        except StreamingQueryException:
            assert hook is not None
        finally:
            q.stop()

    ctrl = str(tmp_path / "ctrl")
    drain(ctrl)

    crashed = []

    def hook(bid):
        if bid == 2 and not crashed:
            crashed.append(bid)
            raise RuntimeError("chaos: crash after side effects, before commit")

    root = str(tmp_path / "compacted")
    drain(root, hook=hook)
    assert crashed == [2]

    for store, schema in (
        ("exact_store", INGEST_EXACT_STORE_SCHEMA),
        ("neardup_store", INGEST_NEARDUP_STORE_SCHEMA),
    ):
        store_dir = f"{root}/{store}"
        compact_store(spark, store_dir, 2, schema=schema)
        parts = sorted(
            os.path.basename(p) for p in glob.glob(f"{store_dir}/batch_id=*")
        )
        # batches 0-1 folded; the leaked uncommitted batch-2 partition
        # survives for its replay to overwrite
        assert parts == ["batch_id=1", "batch_id=2"], (store, parts)

    drain(root)  # resume: batch 2 replays against the folded stores

    cols = ["doc_id", "lang", "exact_ok", "neardup_ok", "kept", "batch_id"]
    ctrl_rows = {tuple(r) for r in read_ingest_results(spark, ctrl).select(cols).collect()}
    got_rows = {tuple(r) for r in read_ingest_results(spark, root).select(cols).collect()}
    assert got_rows == ctrl_rows

    cs = read_ingest_stats(spark, ctrl).toPandas().sort_values("batch_id")
    xs = read_ingest_stats(spark, root).toPandas().sort_values("batch_id")
    for col in ("n_batch", "n_exact_ok", "n_neardup_ok", "n_kept"):
        assert list(cs[col]) == list(xs[col])


def _spam_family_fixture(spark, tmp_path, n_docs: int):
    """A documents.parquet holding ONE template-spam family — n_docs
    near-identical texts differing by one tail token (byte-exact dedup
    cannot fold them; every pair is far inside the SimHash threshold),
    ids 0..n_docs-1 so arrival order == id order — plus a few DIVERSE
    filler docs at ids 100000+ so the DSIR calibration slice's score
    spread is nonzero (an all-identical calibration corpus has sigma=0
    and the z-score threshold is undefined)."""
    import hashlib

    template = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts carefully measure gravitational anomalies near the "
        "southern observatory during a long equatorial summer"
    )
    rows = [(i, "en", f"{template} qq{i}", "crawl") for i in range(n_docs)]
    # non-target lang: with a single-language corpus every DSIR bucket
    # has tgt_cnt == raw_cnt, all logratios are 0, and sigma degenerates
    for j in range(6):
        words = " ".join(
            hashlib.md5(f"fill{j}:{w}".encode()).hexdigest()[:7]
            for w in range(30)
        )
        rows.append((100_000 + j * 5, "de", words, "crawl"))
    sf_dir = str(tmp_path / "spamsf")
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string, source string"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


def test_ingest_stage2_blocker_cap_binds_and_stream_matches_twin(spark, tmp_path):
    """Template-spam flood bigger than NEARDUP_BLOCKER_CAP through the
    composed pipeline: the capped blocker rule must (a) actually engage
    (bucket occupancy > cap), (b) still reject EVERY family member but
    the smallest id — a flood family's first arrivals hold the blocker
    slots, so capping loses no rejection here — and (c) keep the drained
    stream decision-identical to the batch twin, which exercises the
    cross-batch blocker arithmetic (store blk counts offsetting later
    batches' ranks) that the under-cap fixtures never reach. Also pins
    the store's blk-flag invariant: at most cap blocker rows per (ci,
    cv) bucket, with at least one bucket saturated."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
        simhash_chunk_rows,
        simhash_fp,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import (
        NEARDUP_BLOCKER_CAP,
        incremental_ingest_pipeline,
        ingest_cal_docs,
        ingest_corpus,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        INGEST_NEARDUP_STORE_SCHEMA,
        read_ingest_results,
        read_ingest_stream,
        start_ingest_pipeline,
        write_ingest_chunks,
    )

    n_docs = NEARDUP_BLOCKER_CAP + 16
    sf_dir = _spam_family_fixture(spark, tmp_path, n_docs)

    # the flood really exceeds the cap in every chunk bucket
    occ = (
        simhash_chunk_rows(
            simhash_fp(ingest_corpus(spark, sf_dir).select("doc_id", "text"))
        )
        .groupBy("ci", "cv").count()
        .agg(F.max("count")).first()[0]
    )
    assert occ > NEARDUP_BLOCKER_CAP

    twin = incremental_ingest_pipeline(spark, sf_dir)
    rows = {r["doc_id"]: r for r in twin.collect()}
    # every FAMILY member except doc 0 is neardup-rejected (rejection
    # recall 1.0 under the flood despite the cap: the family's first
    # arrivals hold the blocker slots); doc 0 is the lone family survivor
    assert rows[0]["neardup_ok"]
    lost = [
        d for d, r in rows.items()
        if d in range(1, n_docs) and r["exact_ok"] and r["neardup_ok"]
    ]
    assert lost == []

    chunk_dir = str(tmp_path / "fchunks")
    out_root = str(tmp_path / "fingest")
    write_ingest_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    q = start_ingest_pipeline(
        read_ingest_stream(spark, chunk_dir), out_root,
        ingest_cal_docs(spark, sf_dir),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = ["doc_id", "exact_ok", "neardup_ok", "kept"]
    got = {tuple(r) for r in read_ingest_results(spark, out_root).select(cols).collect()}
    want = {tuple(r) for r in twin.select(cols).collect()}
    assert got == want

    store = spark.read.schema(INGEST_NEARDUP_STORE_SCHEMA).parquet(
        f"{out_root}/neardup_store"
    )
    per_bucket = [
        store.filter(f"blk{c}").groupBy(f"h{c}").count() for c in range(4)
    ]
    maxes = [pb.agg(F.max("count")).first()[0] for pb in per_bucket]
    assert all(m <= NEARDUP_BLOCKER_CAP for m in maxes), maxes
    assert max(maxes) == NEARDUP_BLOCKER_CAP  # saturated under the flood


def test_exact_gate_arrival_order_matches_twin(spark, tmp_path):
    """First-SEEN-wins under unordered ingestion: chunks delivered in
    arrival order (id order scrambled — resubmits often arrive before
    their originals), gate admission keyed by (batch order, within-batch
    arrival_seq). The drained store must equal the arrival_order twin's
    admitted set exactly, and that set must genuinely DIFFER from the
    id-order rule's (the premise the id-ordered twins replay under), or
    the lap proves nothing."""
    from pyspark.sql.window import Window

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.curation import (
        arrival_order_exact_gate,
        snapshot_existing,
        snapshot_incoming,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_doc_stream_arrival,
        read_gate_stats,
        start_dedup_gate,
        write_doc_chunks_arrival,
    )

    sf_dir = "/root/testdata/sf0.001"
    twin = arrival_order_exact_gate(spark, sf_dir)
    want = {r["doc_id"] for r in twin.collect() if r["admitted"]}

    # non-vacuous: first-seen-wins must disagree with smallest-id-wins
    existing = snapshot_existing(spark, sf_dir)
    corpus = existing.unionByName(snapshot_incoming(existing))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    by_id = {
        r["doc_id"]
        for r in corpus.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").select("doc_id").collect()
    }
    assert want != by_id
    assert len(want) == len(by_id)  # same families, different survivors

    chunk_dir = str(tmp_path / "achunks")
    out_root = str(tmp_path / "agate")
    n = write_doc_chunks_arrival(spark, sf_dir, chunk_dir, n_chunks=4)
    q = start_dedup_gate(read_doc_stream_arrival(spark, chunk_dir), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store = spark.read.parquet(f"{out_root}/fingerprint_store")
    got = {r["doc_id"] for r in store.select("doc_id").collect()}
    assert got == want
    stats = read_gate_stats(spark, out_root).toPandas()
    assert stats.n_batch.sum() == n
    assert stats.n_rejected.sum() > 0


def test_neardup_gate_arrival_order_matches_twin(spark, tmp_path):
    """First-SEEN-wins for the NEAR-dup gate under unordered ingestion:
    within-batch precedence from the arrival_seq column, cross-batch
    precedence from batch order (every store row blocks — it arrived in
    a strictly earlier batch). The drained store's admitted set must
    equal the arrival_order_neardup_gate twin's exactly, and that set
    must genuinely DIFFER from the id-order rule's — near-dup admission
    is order-sensitive even in survivor COUNT (the relation is not
    transitive: admitting a chain's middle member first can block both
    ends, where id order admits one end and the middle blocks only the
    other)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
        arrival_order_neardup_gate,
        incremental_neardup_gate,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_doc_stream_arrival,
        read_neardup_stats,
        read_neardup_store,
        start_neardup_gate,
        write_doc_chunks_arrival,
    )

    sf_dir = "/root/testdata/sf0.001"
    twin = arrival_order_neardup_gate(spark, sf_dir)
    want = {r["doc_id"] for r in twin.collect() if r["admitted"]}

    # non-vacuous: first-seen-wins must disagree with smallest-id-wins
    by_id = {
        r["doc_id"]
        for r in incremental_neardup_gate(spark, sf_dir).collect()
        if r["admitted"]
    }
    assert want != by_id

    chunk_dir = str(tmp_path / "nachunks")
    out_root = str(tmp_path / "nagate")
    n = write_doc_chunks_arrival(spark, sf_dir, chunk_dir, n_chunks=4)
    q = start_neardup_gate(read_doc_stream_arrival(spark, chunk_dir), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store = read_neardup_store(spark, out_root)
    got = {r["doc_id"] for r in store.filter("admitted").collect()}
    assert got == want
    assert store.count() == n  # one row per SEEN doc, admitted or not
    stats = read_neardup_stats(spark, out_root).toPandas()
    assert stats.n_batch.sum() == n
    assert stats.n_rejected.sum() > 0


def test_ingest_pipeline_arrival_order_matches_twin(spark, tmp_path):
    """First-SEEN-wins for the COMPOSED ingest pipeline under unordered
    ingestion: the drained stream's per-doc flag set must equal the
    arrival_order_ingest_pipeline twin's exactly, and that set must
    genuinely DIFFER from the id-order twin's (planted resubmits often
    arrive before their originals, flipping which family member
    survives stage 1 — and stage 2's first-arrived blocker set shifts
    with it). Stage 3 is order-independent (frozen model), so any
    difference flows only through the dedup stages — exercised here
    end-to-end through the real foreachBatch pipeline."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import (
        arrival_order_ingest_pipeline,
        incremental_ingest_pipeline,
        ingest_cal_docs,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        read_ingest_results,
        read_ingest_stats,
        read_ingest_stream_arrival,
        start_ingest_pipeline,
        write_ingest_chunks_arrival,
    )

    sf_dir = "/root/testdata/sf0.001"
    cols = ["doc_id", "exact_ok", "neardup_ok", "kept"]
    twin = arrival_order_ingest_pipeline(spark, sf_dir)
    want = {tuple(r) for r in twin.select(cols).collect()}

    # non-vacuous: first-seen-wins must disagree with smallest-id-wins
    by_id = {
        tuple(r)
        for r in incremental_ingest_pipeline(spark, sf_dir).select(cols).collect()
    }
    assert want != by_id

    chunk_dir = str(tmp_path / "iachunks")
    out_root = str(tmp_path / "iagate")
    n = write_ingest_chunks_arrival(spark, sf_dir, chunk_dir, n_chunks=4)
    q = start_ingest_pipeline(
        read_ingest_stream_arrival(spark, chunk_dir), out_root,
        ingest_cal_docs(spark, sf_dir),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        tuple(r)
        for r in read_ingest_results(spark, out_root).select(cols).collect()
    }
    assert len(got) == n
    assert got == want
    # the funnel really bound at every stage on the arrival rule too
    n_exact = sum(1 for _, e, _nd, _k in want if e)
    n_neardup = sum(1 for _, _e, nd, _k in want if nd)
    n_kept = sum(1 for _, _e, _nd, k in want if k)
    assert n > n_exact > n_neardup > n_kept > 0
    stats = read_ingest_stats(spark, out_root).toPandas()
    assert stats.n_batch.sum() == n
    assert stats.n_kept.sum() == n_kept


def test_ingest_corpus_refuses_colliding_base_ids(spark, tmp_path):
    """A base fixture whose doc_ids reach INGEST_RESUB_OFFSET would
    silently collide planted ids with base ids and drift the calibration
    slice — and the oracle shares the convention, so the oracle check
    cannot see it. The engine must fail loudly instead (the row-side
    raise_error guard in ingest_corpus)."""
    import pytest

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import (
        INGEST_RESUB_OFFSET,
        ingest_corpus,
    )

    sf_dir = str(tmp_path / "badsf")
    spark.createDataFrame(
        [(5, "en", "a perfectly ordinary document", "s"),
         (INGEST_RESUB_OFFSET + 5, "en", "an id past the planted offset", "s")],
        "doc_id bigint, lang string, text string, source string",
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    with pytest.raises(Exception, match="planted-id offset"):
        ingest_corpus(spark, sf_dir).count()


def test_write_stats_row_roundtrip_and_overwrite(spark, tmp_path):
    """The driver-side stats writer (streaming/stats.py) keeps the exact
    on-disk contract of the Spark write it replaced: batch-owned
    batch_id=N partition, int64 columns by name, spark.read.parquet
    round-trip, replay overwrite replacing the committed row, and no
    visible torn file (dot-prefixed temp + atomic rename)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stats import (
        write_stats_row,
    )

    stats_dir = str(tmp_path / "stats")
    schema = "n_batch long, n_admitted long, n_rejected long"
    write_stats_row(spark, stats_dir, 0, schema, (10, 7, 3))
    write_stats_row(spark, stats_dir, 1, schema, (5, 5, 0))
    got = {
        (r.batch_id, r.n_batch, r.n_admitted, r.n_rejected)
        for r in spark.read.parquet(stats_dir).collect()
    }
    assert got == {(0, 10, 7, 3), (1, 5, 5, 0)}
    types = dict(spark.read.parquet(stats_dir).dtypes)
    assert types["n_batch"] == "bigint" and types["n_admitted"] == "bigint"

    # replay overwrite: batch 1 rewrites its own partition, batch 0 intact
    write_stats_row(spark, stats_dir, 1, schema, (5, 4, 1))
    got = {
        (r.batch_id, r.n_batch, r.n_admitted, r.n_rejected)
        for r in spark.read.parquet(stats_dir).collect()
    }
    assert got == {(0, 10, 7, 3), (1, 5, 4, 1)}
    # exactly one visible file per partition (the committed row)
    import glob as _glob

    vis = [
        f
        for f in _glob.glob(str(tmp_path / "stats" / "batch_id=1" / "*"))
        if not os.path.basename(f).startswith((".", "_"))
    ]
    assert len(vis) == 1


def test_write_stats_row_file_scheme_uri(spark, tmp_path, monkeypatch):
    """A Hadoop-style single-slash `file:/x` stats root is local: the row
    must land in /x, where spark.read.parquet looks, and not in a
    relative `./file:/x` tree under the working directory."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stats import (
        write_stats_row,
    )

    monkeypatch.chdir(tmp_path)
    stats_dir = "file:" + str(tmp_path / "stats")
    schema = "n_batch long, n_admitted long"
    write_stats_row(spark, stats_dir, 0, schema, (4, 3))
    write_stats_row(spark, stats_dir, 1, schema, (2, 2))
    got = {
        (r.batch_id, r.n_batch, r.n_admitted)
        for r in spark.read.parquet(stats_dir).collect()
    }
    assert got == {(0, 4, 3), (1, 2, 2)}
    assert not (tmp_path / "file:").exists()


def test_write_driver_rows_spark_fallback_matches_pyarrow(spark, tmp_path, monkeypatch):
    """Off a local filesystem the driver-side writer falls back to a Spark
    write of the same rows: timestamps given as epoch micros, nulls and
    types read back exactly as the pyarrow file's do."""
    import types

    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming import stats as S

    schema = StructType([
        StructField("timestamp", TimestampType(), False),
        StructField("name", StringType()),
        StructField("value", DoubleType()),
    ])
    rows = [(1735689723_000_007, "a", 0.5), (0, None, None)]
    local_dir = str(tmp_path / "local")
    assert S.write_driver_rows(spark, local_dir, "b.parquet", schema, rows) == local_dir

    real = S.hadoop_fs

    def remote(spark_, path):
        fs, hpath = real(spark_, path)
        uri = types.SimpleNamespace(getScheme=lambda: "hdfs")
        return types.SimpleNamespace(getUri=lambda: uri), hpath

    monkeypatch.setattr(S, "hadoop_fs", remote)
    remote_dir = str(tmp_path / "remote")
    assert S.write_driver_rows(spark, remote_dir, "b.parquet", schema, rows) is None

    a, b = spark.read.parquet(local_dir), spark.read.parquet(remote_dir)
    assert a.dtypes == b.dtypes == [("timestamp", "timestamp"), ("name", "string"),
                                    ("value", "double")]
    assert sorted(a.collect()) == sorted(b.collect())
    micros = sorted(r[0] for r in b.select(F.unix_micros("timestamp")).collect())
    assert micros == [0, 1735689723_000_007]


def test_write_stats_row_rewrite_crash_keeps_committed_row(spark, tmp_path, monkeypatch):
    """A replay's rewrite that dies before its atomic commit must leave
    the previously committed row readable: the new row is committed by
    os.replace onto the fixed name BEFORE any other visible file is
    removed, so no crash point leaves the partition without a row."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stats import (
        write_stats_row,
    )

    stats_dir = str(tmp_path / "stats")
    schema = "n_batch long, n_admitted long"
    write_stats_row(spark, stats_dir, 0, schema, (10, 7))

    def crash(*_args, **_kwargs):
        raise OSError("crash before commit")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="crash before commit"):
            write_stats_row(spark, stats_dir, 0, schema, (10, 6))
    got = [(r.batch_id, r.n_batch, r.n_admitted)
           for r in spark.read.parquet(stats_dir).collect()]
    assert got == [(0, 10, 7)]

    write_stats_row(spark, stats_dir, 0, schema, (10, 6))  # the replay heals
    got = [(r.batch_id, r.n_batch, r.n_admitted)
           for r in spark.read.parquet(stats_dir).collect()]
    assert got == [(0, 10, 6)]


@pytest.mark.parametrize("gate", ["exact", "neardup"])
def test_dedup_gate_crash_replay_is_idempotent(spark, sf_dir, tmp_path, gate):
    """Crash after batch 1's side effects (store partition + stats row)
    but before the checkpoint commit: the replay reads only `batch_id <
    1`, so its own leaked partition is invisible, recomputes the
    identical admission set, and the overwrite repairs everything. The
    store multiset and the per-batch stats equal an uninterrupted
    control's exactly — for the exact gate and the near-dup gate."""
    from collections import Counter

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_doc_stream,
        start_dedup_gate,
        start_neardup_gate,
        write_doc_chunks,
    )

    start, store, stats = {
        "exact": (start_dedup_gate, "fingerprint_store", "gate_stats"),
        "neardup": (start_neardup_gate, "neardup_store", "neardup_stats"),
    }[gate]
    chunk_dir = str(tmp_path / "chunks")
    write_doc_chunks(spark, sf_dir, chunk_dir, n_chunks=4)

    def drain(root, hook=None):
        q = start(read_doc_stream(spark, chunk_dir), root, after_batch_hook=hook)
        try:
            q.processAllAvailable()
        except StreamingQueryException:
            assert hook is not None  # only the injected crash may raise
        finally:
            q.stop()

    ctrl = str(tmp_path / "ctrl")
    drain(ctrl)

    crashed = []

    def hook(bid):
        if bid == 1 and not crashed:
            crashed.append(bid)
            raise RuntimeError("chaos: crash after side effects, before commit")

    chaos = str(tmp_path / "chaos")
    drain(chaos, hook=hook)
    assert crashed == [1]
    drain(chaos)  # resume from the checkpoint

    def rows(root):
        df = spark.read.parquet(f"{root}/{store}")
        return Counter(tuple(r) for r in df.select(sorted(df.columns)).collect())

    assert rows(chaos) == rows(ctrl)

    cs = spark.read.parquet(f"{ctrl}/{stats}").toPandas().sort_values("batch_id")
    xs = spark.read.parquet(f"{chaos}/{stats}").toPandas().sort_values("batch_id")
    for col in ("batch_id", "n_batch", "n_admitted", "n_rejected"):
        assert list(cs[col]) == list(xs[col])
    assert xs.n_rejected.sum() > 0  # the stores really rejected something
