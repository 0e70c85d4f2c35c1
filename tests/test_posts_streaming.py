"""The full reference consumer over the wire stream: five sink tables,
socket-source parity."""

from __future__ import annotations

import datetime
import json
import os
import socket
import threading
import time

from pyspark.sql import functions as F

from reddit_sentiment_spark_streaming_pipeline_spark.operators.posts import parse_posts, synthetic_wire
from reddit_sentiment_spark_streaming_pipeline_spark.streaming import posts as P
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.replay import (
    read_wire_socket,
    read_wire_stream,
    write_wire_chunks,
)


def test_posts_pipeline_five_tables(spark, sf_dir, tmp_path):
    wire_dir = str(tmp_path / "wire")
    n_lines = write_wire_chunks(synthetic_wire(spark, sf_dir), wire_dir, n_chunks=3)
    out_root = str(tmp_path / "out")
    q = P.start_posts_pipeline(read_wire_stream(spark, wire_dir), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sinks = P.PostsSinks(out_root)

    raw = spark.read.parquet(sinks.raw_dir)
    assert raw.count() == n_lines  # K1 keeps keepalives + malformed lines

    processed = spark.read.parquet(sinks.processed_dir)
    batch_posts = P.enrich_posts(synthetic_wire(spark, sf_dir))
    assert processed.count() == batch_posts.count()
    n_batches = processed.select("batch_id").distinct().count()
    assert n_batches >= 2  # micro-batching actually happened

    # sentiment: one row per batch, each equal to the per-batch average
    # recomputed from the processed table (modulo the written rounding)
    sent = spark.read.parquet(sinks.sentiment_dir)
    assert sent.count() == n_batches
    recomputed = (
        processed.groupBy("batch_id")
        .agg(F.round(F.avg("sentiment"), 6).alias("expect"))
    )
    per_batch = (
        processed.groupBy("batch_id").agg(F.max("created_time").alias("timestamp"))
        .join(sent, "timestamp")
        .join(recomputed, "batch_id")
    )
    assert per_batch.count() == n_batches
    bad = per_batch.filter(F.abs(F.col("average_sentiment") - F.col("expect")) > 1e-9)
    assert bad.count() == 0

    # subreddit_stats re-aggregates to the full post count
    stats = spark.read.parquet(sinks.stats_dir)
    assert stats.agg(F.sum("post_count")).first()[0] == batch_posts.count()
    assert stats.filter(F.col("unique_authors") < 1).count() == 0

    # references grand totals across batches == batch-mode totals
    refs = spark.read.parquet(sinks.refs_dir)
    assert refs.count() == n_batches
    got = refs.agg(F.sum("total_user_refs"), F.sum("total_sub_refs"), F.sum("total_urls")).first()
    want = P.references_totals_frame(batch_posts).first()
    assert tuple(got) == tuple(want)


def test_socket_wire_source(spark):
    """S1 parity: real TCP server → socket source → parse_posts."""
    lines = []
    for i in range(30):
        lines.append(json.dumps({
            "type": "submission", "subreddit": f"sub{i % 3}", "id": str(i),
            "text": f"hello world this is post number {i}",
            "created_utc": 1704067200.0 + i, "author": f"user{i % 5}",
        }))
        if i % 10 == 0:
            lines.append(json.dumps({"type": "keepalive", "created_utc": 1704067200.0 + i}))

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            stop.wait(timeout=60)  # keep the connection open until told

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = (
        parse_posts(read_wire_socket(spark, "127.0.0.1", port))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("socket_posts")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            if spark.sql("SELECT count(*) c FROM socket_posts").first().c == 30:
                break
            time.sleep(0.5)
        got = spark.sql("SELECT * FROM socket_posts").toPandas()
    finally:
        q.stop()
        stop.set()
        server.close()
    assert len(got) == 30  # keepalives dropped by the P2 predicates
    assert set(got.subreddit) == {"sub0", "sub1", "sub2"}
    assert got.text_length.min() > 10


def test_windowed_sentiment_stream_matches_batch(spark, sf_dir, tmp_path):
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.windows import windowed_subreddit_sentiment
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.posts import windowed_sentiment_stream

    wire_dir = str(tmp_path / "wire")
    write_wire_chunks(synthetic_wire(spark, sf_dir), wire_dir, n_chunks=3)
    # complete mode: sf0.001's wire spans <1 window, so append-mode would
    # emit nothing until the watermark passes — complete gives the final
    # table, which must equal the batch query exactly
    q = (
        windowed_sentiment_stream(read_wire_stream(spark, wire_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("wss_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    keys = ["window_start", "subreddit"]
    got = spark.sql("SELECT * FROM wss_test").toPandas().sort_values(keys, ignore_index=True)
    batch = windowed_subreddit_sentiment(spark, sf_dir).toPandas()
    assert len(got) == len(batch) > 0
    assert (got[keys + ["n_posts", "avg_sentiment"]]
            == batch[keys + ["n_posts", "avg_sentiment"]]).all().all()


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.posts import deduped_posts_stream

    wire = synthetic_wire(spark, sf_dir)
    # at-least-once delivery: the first chunk is replayed verbatim
    wire_dir = str(tmp_path / "wire")
    write_wire_chunks(wire, wire_dir, n_chunks=3)
    import shutil
    first = sorted(f for f in os.listdir(wire_dir) if f.endswith(".txt"))[0]
    shutil.copy(os.path.join(wire_dir, first), os.path.join(wire_dir, "zz_replayed.txt"))

    q = (
        deduped_posts_stream(read_wire_stream(spark, wire_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_posts")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT id, count(*) n FROM dedup_posts GROUP BY id").toPandas()
    n_distinct = parse_posts(wire).select("id").distinct().count()
    assert len(got) == n_distinct  # every post exactly once
    assert got.n.max() == 1  # the replayed chunk produced no duplicates


def test_stream_static_enrichment_join(spark, sf_dir, tmp_path):
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.posts import enriched_posts_stream, subreddit_dim

    wire_dir = str(tmp_path / "wire")
    write_wire_chunks(synthetic_wire(spark, sf_dir), wire_dir, n_chunks=3)
    dim = subreddit_dim(spark, sf_dir)
    q = (
        enriched_posts_stream(read_wire_stream(spark, wire_dir), dim)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched_posts")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT count(*) n, count(category) with_cat FROM enriched_posts"
    ).first()
    want = parse_posts(synthetic_wire(spark, sf_dir)).count()
    assert got.n == want
    assert got.with_cat == want  # every subreddit resolved in the static dim


def test_wire_chunks_are_event_time_ordered(spark, sf_dir, tmp_path):
    """Replay order must be event-time order: chunk files (replayed in
    filename/mtime order) carry disjoint, increasing created_utc ranges,
    so a watermarked consumer never depends on watermark slack exceeding
    the fixture's full time spread."""
    import glob
    import json
    import os

    wire_dir = str(tmp_path / "wire")
    write_wire_chunks(synthetic_wire(spark, sf_dir), wire_dir, n_chunks=3)
    ranges = []
    for fn in sorted(glob.glob(os.path.join(wire_dir, "*.txt"))):
        times = []
        with open(fn) as f:
            for line in f:
                try:
                    cu = json.loads(line).get("created_utc")
                except ValueError:
                    continue
                if isinstance(cu, (int, float)):
                    times.append(cu)
        if times:
            ranges.append((min(times), max(times)))
    assert len(ranges) >= 2
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"chunk event-time ranges overlap: {ranges}"


def test_posts_batch_result_tables_query(spark, sf_dir, duck):
    """The registered drain-and-reconcile query: 3 deterministic batches,
    sink contents equal the DuckDB closed form."""
    from reddit_sentiment_spark_streaming_pipeline_spark import registry

    spec = registry.load_all()["posts_batch_result_tables"]
    got = spec.fn(spark, sf_dir).toPandas()
    assert len(got) == 3  # one row per micro-batch
    exp = duck.execute(spec.oracle).df()
    assert list(got.columns) == list(exp.columns)
    assert got["n_posts"].sum() == exp["n_posts"].sum()
    # per-batch reconciliation on the closed-form join key
    g = got.sort_values("timestamp").reset_index(drop=True)
    e = exp.sort_values("timestamp").reset_index(drop=True)
    assert (g["timestamp"] == e["timestamp"]).all()
    assert (g["n_posts"] == e["n_posts"]).all()
    assert (g["total_user_refs"] == e["total_user_refs"]).all()
    assert abs(g["average_sentiment"] - e["average_sentiment"]).max() < 1e-6


AGGREGATE_SINKS = ("sentiment_dir", "stats_dir", "refs_dir")


def _drain_posts(spark, wire_dir, out_root):
    q = P.start_posts_pipeline(read_wire_stream(spark, wire_dir), out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _rows(spark, path):
    from collections import Counter

    return Counter(tuple(r) for r in spark.read.parquet(path).collect())


def test_posts_batch_job_budget(spark, sf_dir, tmp_path, monkeypatch):
    """One micro-batch of the posts consumer costs at most 5 Spark jobs:
    isEmpty, the raw and processed appends and one collected rollup (two
    jobs with AQE on). The three aggregate sinks are written on the
    driver, not by jobs."""
    import uuid

    wire_dir = str(tmp_path / "wire")
    write_wire_chunks(synthetic_wire(spark, sf_dir), wire_dir, n_chunks=1)
    sc = spark.sparkContext
    real = P.process_posts_batch
    jobs = {}

    def counted(df, bid, sinks):
        group = f"posts-batch-{bid}-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            real(df, bid, sinks)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        jobs[bid] = len(sc.statusTracker().getJobIdsForGroup(group))

    monkeypatch.setattr(P, "process_posts_batch", counted)
    out_root = str(tmp_path / "out")
    _drain_posts(spark, wire_dir, out_root)
    assert list(jobs) == [0]
    assert 1 <= jobs[0] <= 5, jobs


def test_posts_aggregate_sinks_survive_crash_replay(spark, sf_dir, tmp_path, monkeypatch):
    """A crash after batch 1's sink writes but before its checkpoint
    commit re-runs batch 1 on restart. Each batch's aggregate rows live in
    one fixed-name file, so the replay overwrites them: the sentiment,
    subreddit_stats and references multisets equal an uninterrupted
    control's. (Raw and processed are appends and still duplicate the
    replayed batch.)"""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    wire_dir = str(tmp_path / "wire")
    write_wire_chunks(synthetic_wire(spark, sf_dir), wire_dir, n_chunks=3)
    ctrl = str(tmp_path / "ctrl")
    _drain_posts(spark, wire_dir, ctrl)

    real = P.process_posts_batch
    crashed = []

    def crash_after_side_effects(df, bid, sinks):
        real(df, bid, sinks)
        if bid == 1 and not crashed:
            crashed.append(bid)
            raise RuntimeError("chaos: crash after side effects, before commit")

    chaos = str(tmp_path / "chaos")
    with monkeypatch.context() as m:
        m.setattr(P, "process_posts_batch", crash_after_side_effects)
        try:
            _drain_posts(spark, wire_dir, chaos)
        except StreamingQueryException:
            pass
    assert crashed == [1]
    _drain_posts(spark, wire_dir, chaos)  # resume: batch 1 replays

    c, x = P.PostsSinks(ctrl), P.PostsSinks(chaos)
    for d in AGGREGATE_SINKS:
        assert _rows(spark, getattr(x, d)) == _rows(spark, getattr(c, d)), d
    n = spark.read.parquet(c.sentiment_dir).count()
    assert n == 3
    # the appends still hold the replayed batch twice
    assert spark.read.parquet(x.raw_dir).count() > spark.read.parquet(c.raw_dir).count()


def test_posts_consumer_file_uri_root(spark, sf_dir, tmp_path, monkeypatch):
    """A Hadoop-style `file:/x` output root is local: the driver-written
    aggregate files land in /x, where spark.read.parquet finds them, and
    not in a relative `./file:/x` tree under the working directory."""
    monkeypatch.chdir(tmp_path)
    wire_dir = str(tmp_path / "wire")
    write_wire_chunks(synthetic_wire(spark, sf_dir), wire_dir, n_chunks=2)
    out_root = "file:" + str(tmp_path / "out")
    _drain_posts(spark, wire_dir, out_root)
    sinks = P.PostsSinks(out_root)
    n_batches = spark.read.parquet(sinks.processed_dir).select("batch_id").distinct().count()
    assert spark.read.parquet(sinks.sentiment_dir).count() == n_batches == 2
    assert spark.read.parquet(sinks.refs_dir).count() == n_batches
    stats = spark.read.parquet(sinks.stats_dir)
    assert stats.agg(F.sum("post_count")).first()[0] == (
        spark.read.parquet(sinks.processed_dir).count()
    )
    assert not (tmp_path / "file:").exists()


def test_posts_edge_batches_keep_their_rows(spark, tmp_path):
    """A zero-line batch writes no data file to any sink. A batch with
    lines but no valid post writes its raw lines, one sentiment row and
    one references row stamped epoch 0 with null values, and no
    subreddit_stats row — the rows a plain per-batch aggregate gives."""
    wire_dir = tmp_path / "wire"
    wire_dir.mkdir()
    out_root = str(tmp_path / "out")
    sinks = P.PostsSinks(out_root)
    base = time.time() - 100

    def add(name, lines, k):
        path = wire_dir / name
        path.write_text("".join(line + "\n" for line in lines))
        os.utime(path, (base + k, base + k))

    def data_files():
        return [f for d in sinks.dirs() if os.path.isdir(d)
                for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(".")]

    add("w0.txt", [], 0)
    _drain_posts(spark, str(wire_dir), out_root)
    assert data_files() == []

    # the last two lines carry created_utc values no timestamp cast takes
    # (ANSI raises on them); a dropped line must never reach the cast
    invalid = [
        json.dumps({"type": "keepalive", "created_utc": 1704067200.0}),
        "not json at all",
        json.dumps({"type": "submission", "subreddit": "s", "id": "1", "text": "too short",
                    "created_utc": 1704067201.0, "author": "a"}),
        json.dumps({"type": "keepalive", "created_utc": float("nan")}),
        json.dumps({"type": "submission", "subreddit": "s", "id": "2", "text": "too short",
                    "created_utc": 1e300, "author": "a"}),
    ]
    valid = [
        json.dumps({"type": "submission", "subreddit": f"sub{i % 2}", "id": str(10 + i),
                    "text": f"a good happy post about /r/python number {i}",
                    "created_utc": 1704067300.0 + i, "author": f"user{i}"})
        for i in range(4)
    ]
    add("w1.txt", invalid, 1)
    add("w2.txt", valid, 2)
    _drain_posts(spark, str(wire_dir), out_root)

    raw = spark.read.parquet(sinks.raw_dir)
    assert sorted(r.value for r in raw.collect()) == sorted(invalid + valid)
    sent = spark.read.parquet(sinks.sentiment_dir).orderBy("timestamp").collect()
    refs = spark.read.parquet(sinks.refs_dir).orderBy("timestamp").collect()
    assert len(sent) == len(refs) == 2
    epoch = datetime.datetime.fromtimestamp(0)
    assert tuple(sent[0]) == (epoch, None)
    assert tuple(refs[0]) == (epoch, None, None, None)
    stamp = datetime.datetime.fromtimestamp(1704067303)
    assert sent[1].timestamp == refs[1].timestamp == stamp
    assert tuple(refs[1])[1:] == (0.0, 4.0, 0.0)
    stats = spark.read.parquet(sinks.stats_dir).collect()
    assert sorted((r.subreddit, r.post_count, r.timestamp) for r in stats) == [
        ("sub0", 2, stamp), ("sub1", 2, stamp)]


def test_posts_plan_built_once_per_query(spark, sf_dir, tmp_path, monkeypatch):
    """The parse, the P2 rule and sentiment are built into the streaming
    query once when it starts; the micro-batches only project, filter and
    aggregate that query's output."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators import posts as O

    wire_dir = str(tmp_path / "wire")
    write_wire_chunks(synthetic_wire(spark, sf_dir), wire_dir, n_chunks=3)
    calls = {"rule": 0, "sentiment": 0}

    def counted(key, fn):
        def wrapper(*args, **kwargs):
            calls[key] += 1
            return fn(*args, **kwargs)
        return wrapper

    monkeypatch.setattr(O, "_post_rule", counted("rule", O._post_rule))
    monkeypatch.setattr(P, "with_sentiment", counted("sentiment", P.with_sentiment))
    out_root = str(tmp_path / "out")
    _drain_posts(spark, wire_dir, out_root)
    monkeypatch.undo()
    n_batches = spark.read.parquet(P.PostsSinks(out_root).processed_dir).select(
        "batch_id").distinct().count()
    assert n_batches == 3
    assert calls == {"rule": 1, "sentiment": 1}


def test_posts_wire_timestamp_schema(spark, tmp_path):
    """A wire frame carrying an arrival `timestamp` (the socket source's
    shape) writes raw as (value, timestamp) and processed with
    `ingest_time` right after the post fields."""
    wire_dir = tmp_path / "wire"
    wire_dir.mkdir()
    (wire_dir / "w0.txt").write_text("".join(json.dumps(
        {"type": "submission", "subreddit": "s", "id": str(i),
         "text": f"a long enough post number {i}", "created_utc": 1704067200.0 + i,
         "author": "a"}) + "\n" for i in range(3)) + "not json\n")
    arrived = datetime.datetime(2024, 1, 2, 3, 4, 5)
    wire = read_wire_stream(spark, str(wire_dir)).withColumn("timestamp", F.lit(arrived))
    out_root = str(tmp_path / "out")
    q = P.start_posts_pipeline(wire, out_root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sinks = P.PostsSinks(out_root)
    raw = spark.read.parquet(sinks.raw_dir)
    assert raw.columns == ["value", "timestamp"]
    assert raw.count() == 4
    processed = spark.read.parquet(sinks.processed_dir)
    assert processed.columns == [
        "type", "subreddit", "id", "text", "created_utc", "author", "ingest_time",
        "created_time", "text_length", "sentiment", "batch_id"]
    assert [r.ingest_time for r in processed.collect()] == [arrived] * 3


def test_posts_fallback_stamp_ignores_host_tz(spark, tmp_path, monkeypatch):
    """A batch with no valid post is stamped epoch 0 whatever the host's
    time zone: the same file drained under two TZ values writes epoch
    micros 0 to the sentiment and references sinks both times."""
    wire_dir = tmp_path / "wire"
    wire_dir.mkdir()
    (wire_dir / "w0.txt").write_text(
        json.dumps({"type": "keepalive", "created_utc": 1704067200.0}) + "\nnot json\n")
    for tz in ("UTC", "America/New_York"):
        out_root = str(tmp_path / tz.replace("/", "_"))
        with monkeypatch.context() as m:
            m.setenv("TZ", tz)
            time.tzset()
            try:
                _drain_posts(spark, str(wire_dir), out_root)
            finally:
                m.undo()
                time.tzset()
        sinks = P.PostsSinks(out_root)
        for d in (sinks.sentiment_dir, sinks.refs_dir):
            micros = [r[0] for r in spark.read.parquet(d).select(
                F.unix_micros("timestamp")).collect()]
            assert micros == [0], (tz, d, micros)
