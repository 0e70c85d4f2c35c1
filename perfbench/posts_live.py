"""posts_live: the paper's flagship path under an open loop.

One generator thread makes seeded wire files visible, by atomic rename, in
the directory watched by `start_posts_pipeline(read_wire_stream(...))`, one
every INTERVAL_S seconds whatever the consumer does. After the last file
drains, the in-process dashboard (`__main__.cmd_dashboard`) reads the
sinks DASHBOARD_READS times.

Set-up starts the query and drains WARM_FILES files as fast as it can, so
the timed files meet a warm JVM.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import threading
import time

import checks
import gen
from ingest_drain import run_ingest_drain
from spans import p50, progress_interval

LINES_PER_FILE = 250
WARM_FILES = 7
# After the warm-up a micro-batch takes about 1.45 s on 4 vCPUs whatever
# its size, so one file every 2.5 s is a little over half the consumer's
# capacity. The batches still shorten through the first seven or so, so
# that many drain before the clock starts.
INTERVAL_S = 2.5
MIN_LIVE_FILES = 3
DASHBOARD_READS = 7  # the first is a warm-up
DASHBOARD_ROWS = 50
SINKS = ("raw", "processed", "sentiment", "subreddit_stats", "references")
# prefixes of the per-layer metrics this workload measures; the ingest
# drain of a traced run adds the streaming-ingest layers
LAYERS = ("session.", "generator.", "engine.", "posts.", "dashboard.", "trace.",
          "ingest.", "dedup.", "stats.")


def _data_files(d: str) -> list[str]:
    return [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
            if f.endswith(".parquet") and not f.startswith((".", "_"))]


class Generator(threading.Thread):
    """Renames staged file k into the watched directory at start + k *
    INTERVAL_S and records when each was due and when it landed."""

    def __init__(self, staged: list[str], wire_dir: str, start: float):
        super().__init__(name="wire-generator", daemon=True)
        self.staged, self.wire_dir, self.start_at = staged, wire_dir, start
        self.due: list[float] = []
        self.landed: list[float] = []

    def run(self) -> None:
        for k, src in enumerate(self.staged):
            due = self.start_at + k * INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            now = time.time()
            os.utime(src, (now, now))
            os.rename(src, os.path.join(self.wire_dir, os.path.basename(src)))
            self.due.append(due)
            self.landed.append(time.time())


def run_posts_live(run) -> dict:
    from reddit_sentiment_spark_streaming_pipeline_spark import __main__ as cli
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming import posts as posts_mod
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.posts import start_posts_pipeline
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.replay import read_wire_stream

    spark = run.session()
    tr = run.tracer
    n_live = max(MIN_LIVE_FILES, round(run.seconds / INTERVAL_S))
    wires = gen.wire_files(run.seed, WARM_FILES + n_live, LINES_PER_FILE)
    staged_dir, wire_dir = (os.path.join(run.work, d) for d in ("staged", "wire"))
    out_root = os.path.join(run.work, "out")
    os.makedirs(staged_dir)
    os.makedirs(wire_dir)
    staged = []
    for k, lines in enumerate(wires.files):
        path = os.path.join(staged_dir, f"wire-{k:04d}.txt")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        staged.append(path)

    undo = tr.wrap(posts_mod, "process_posts_batch", "posts.process_posts_batch",
                   id_of=lambda a: f"batch-{a[1]}")
    q = start_posts_pipeline(read_wire_stream(spark, wire_dir), out_root)
    try:
        base = time.time()
        for k, src in enumerate(staged[:WARM_FILES]):
            os.utime(src, (base + k, base + k))  # the source reads oldest first
            os.rename(src, os.path.join(wire_dir, os.path.basename(src)))
        q.processAllAvailable()

        t_start = time.time()
        setup_s = run.setup_s()
        genr = Generator(staged[WARM_FILES:], wire_dir, t_start)
        genr.start()
        genr.join()
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
        undo()

    # each trigger reads one file, in the order the files landed
    live = progress[WARM_FILES:]
    if len(live) != n_live:
        raise RuntimeError(f"expected {n_live} timed micro-batches, saw {len(live)}")
    batch_end = {p["batchId"]: progress_interval(p)[1] for p in progress}
    for p in live:
        tr.add("engine.trigger", *progress_interval(p), id=f"batch-{p['batchId']}",
               progress=json.loads(p.json))
    for k, (due, landed) in enumerate(zip(genr.due, genr.landed)):
        tr.add("generator.release", due, landed, id=f"file-{WARM_FILES + k}")

    # dashboard: read the drained sinks, keep what it printed
    reads, printed = [], []
    ns = argparse.Namespace(out=out_root, n=DASHBOARD_ROWS)
    for i in range(DASHBOARD_READS):
        buf = io.StringIO()
        with tr.span("dashboard.read", id=f"read-{i}"), contextlib.redirect_stdout(buf):
            t = time.time()
            cli.cmd_dashboard(ns)
            reads.append(time.time() - t)
        printed.append(buf.getvalue())

    # checks, on everything the query wrote
    tables = {s: checks.read_table(os.path.join(out_root, s)) for s in SINKS}
    proc = tables["processed"]
    file_probs = (
        checks.check_raw(wires.files, list(tables["raw"]["value"]))
        + checks.check_processed(wires.posts, proc)
        + checks.check_batch_tables(wires.posts, proc, tables["sentiment"],
                                    tables["subreddit_stats"], tables["references"])
    )
    bad_files = {op for op, _ in file_probs}
    run.tally(len(wires.files), [m for _, m in file_probs],
              failed=min(len(bad_files), len(wires.files)))
    for text in printed:
        run.tally(1, checks.check_dashboard(wires.posts, text, len(progress), DASHBOARD_ROWS))

    # freshness: due time of a post's file -> end of the batch that wrote it
    file_of = {p.id: p.file for p in wires.posts}
    due_of = {WARM_FILES + k: d for k, d in enumerate(genr.due)}
    fresh = [batch_end[b] - due_of[file_of[i]]
             for i, b in zip(proc["id"], proc["batch_id"])
             if file_of.get(i) in due_of and b in batch_end]
    latency = p50(fresh)
    read_s = p50(reads[1:])
    metrics = {"setup_s": setup_s, "latency_p50_s": latency, "read_s": read_s}
    if tr.enabled:
        metrics.update(_layer_metrics(run, live, genr, proc, out_root, latency, read_s))
        metrics.update(run_ingest_drain(run))
    return metrics


def _layer_metrics(run, live, genr, proc, out_root, latency, read_s) -> dict:
    from spans import attach_status

    tr = run.tracer
    attach_status(run.spark, tr)
    live_ids = {f"batch-{p['batchId']}" for p in live}
    batches = [s for s in tr.named("posts.process_posts_batch") if s.id in live_ids]
    reads = tr.named("dashboard.read")[1:]
    dur = lambda key: p50(p["durationMs"].get(key, 0) for p in live)  # noqa: E731
    starts = [s.start for s in tr.named("engine.trigger")]
    backlog = [sum(1 for t in genr.landed if t <= st) - k for k, st in enumerate(starts)]
    n_batches = proc["batch_id"].nunique()
    files = sum(len(_data_files(os.path.join(out_root, s))) for s in SINKS)
    nbytes = sum(os.path.getsize(f) for s in SINKS
                 for f in _data_files(os.path.join(out_root, s)))
    live_bids = {p["batchId"] for p in live}
    m = {
        "session.get_spark_s": run.get_spark_s,
        "generator.late_ms_max": max((l - d) * 1000 for d, l in zip(genr.due, genr.landed)),
        "engine.latest_offset_ms": dur("latestOffset"),
        "engine.get_batch_ms": dur("getBatch"),
        "engine.query_planning_ms": dur("queryPlanning"),
        "engine.wal_commit_ms": dur("walCommit"),
        "engine.commit_offsets_ms": dur("commitOffsets"),
        "engine.backlog_files_max": max(backlog),
        "posts.add_batch_ms": dur("addBatch"),
        "posts.jobs_per_batch": p50(s.figures["jobs"] for s in batches),
        "posts.stages_per_batch": p50(s.figures["stages"] for s in batches),
        "posts.executor_cpu_ms_per_batch": p50(s.figures["executor_cpu_ms"] for s in batches),
        "posts.shuffle_write_bytes_per_batch": p50(s.figures["shuffle_write_bytes"] for s in batches),
        "posts.lines_per_batch": p50(p["numInputRows"] for p in live),
        "posts.valid_posts_per_batch": p50(proc[proc["batch_id"].isin(live_bids)]
                                           .groupby("batch_id").size()),
        "posts.sink_files_per_batch": files / n_batches,
        "posts.sink_bytes_per_batch": nbytes / n_batches,
        "dashboard.jobs": p50(s.figures["jobs"] for s in reads),
        "dashboard.files_listed": sum(len(_data_files(os.path.join(out_root, s)))
                                      for s in SINKS[1:]),
        "dashboard.executor_cpu_ms": p50(s.figures["executor_cpu_ms"] for s in reads),
        "trace.latency_p50_s": latency,
        "trace.read_s": read_s,
    }
    return m
