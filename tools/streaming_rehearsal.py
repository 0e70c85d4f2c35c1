"""Streaming state-scale rehearsal (VERDICT r5 item 8).

The batch suite has 10x/30x shuffle evidence; this drives the STATEFUL
streaming path — the flagship windowed-count replay over RocksDB state
with changelog checkpointing — at base and 10x volume and records, for
every micro-batch of the drain:

- trigger execution time (per-batch cost must stay ~flat across the
  drain: a monotonically growing trigger time means state commits are
  degrading as state accumulates);
- state rows total (must PLATEAU, not grow with the number of drained
  batches: the 2h watermark finalizes old windows, so live state is
  bounded by the event-time spread of in-flight data, not stream length);
- RocksDB SST file size (the on-disk state footprint, same bound).

The 10x fixture extends BOTH axes the way a production stream grows:
replica k shifts event time by k*31 days (10x distinct windows — state
KEYS scale, not just row counts) and shifts event_id past a measured
stride. Chunks stay range-partitioned on ts (event-time replay order),
one chunk per micro-batch via maxFilesPerTrigger=1, so the big run
drains 10x the volume through 10x the batches at ~equal per-batch size —
the honest "same stream, running 10x longer" shape.

Pass criteria: last-batch trigger time within noise of the early
batches at both scales, and peak state rows / SST bytes at 10x bounded
by the per-batch window population (~flat vs base), never by total
stream length.

Usage: python tools/streaming_rehearsal.py [sf_dir] [work_dir]
           [--replicas N] [--chunks N] [--out PATH]
           [--scenario all|stateful|join|chaos|chaos-join|chaos-neardup|chaos-selection|chaos-ingest|chaos-ingest-arrival|neardup-forced-fallback|chaos-compact|chaos-compact-neardup|compaction]
           [--kill-after-batch N]

--scenario stateful runs ONLY the applyInPandasWithState drain and
writes its own artifact (REHEARSAL_r06_stateful.json shape), keeping
the windowed/gate artifact byte-stable.

--scenario join drains the watermarked stream-stream interval join
(purchase x click) at base and REPLICASx volume, recording live state
rows per batch — state must track rate x lookback, not stream length.

--scenario chaos proves kill/resume exactly-once at REPLICASx volume:
the durable windowed agg is hard-stopped mid-drain and resumed from its
checkpoint (sink row multiset must equal an uninterrupted control run),
and the dedup gate gets a crash INJECTED after batch N's side effects
but before its checkpoint commit (store membership + per-batch stats
must equal the control). --kill-after-batch overrides the default kill
point (one third of the drain).

--scenario chaos-join is the same kill/resume protocol pointed at the
durable stream-stream interval join — a mid-drain kill tests recovery
of BOTH sides' buffered join state from the checkpointed state store.

--scenario chaos-neardup is the gate crash-injection protocol pointed
at the SimHash NEAR-dup admission gate, over the template-spam flood
fixture so the crashed batch's replay must reproduce store-dependent
REJECT decisions (see chaos_neardup).

--scenario chaos-selection is the same crash-injection protocol pointed
at the DSIR selection gate over the cipher replica fixture: the replayed
batch must be rescored against the FROZEN on-disk model (no re-freeze on
resume) and its partition overwrite must land identical scores and
admission flags (see chaos_selection).

--scenario chaos-ingest is the crash-injection protocol pointed at the
COMPOSED ingest pipeline (exact -> near-dup -> selection): the crash
lands after all FOUR of a batch's sinks are written, and the replay must
recompute every stage against batch_id < N store views (see
chaos_ingest).

--scenario chaos-compact kills a REAL subprocess mid-compact_store swap
— once per swap window (tmp_complete / dest_deleted / renamed) — then
proves assert_store_not_mid_compaction fires exactly where designed, a
live gate restart refuses the partial store, the documented recovery
converges, and every variant's final store membership + admission stats
equal an uninterrupted control (see chaos_compaction).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from reddit_sentiment_spark_streaming_pipeline_spark.session import get_spark  # noqa: E402
from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table  # noqa: E402
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.pipeline import (  # noqa: E402
    start_windowed_query,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.replay import (  # noqa: E402
    read_replay_stream,
    write_chunks,
    write_replay_chunks,
)

REPLICAS = 10


def build_big_events(spark, sf_dir: str, out_dir: str, n_chunks: int) -> int:
    """events x REPLICAS: replica k shifts ts by k*31 days (past the base
    fixture's ~30-day spread, so replicas never share a window) and
    event_id by k*stride. Distributed end-to-end like write_replay_chunks."""
    ev = load_table(spark, sf_dir, "events")
    rep = spark.range(REPLICAS).select(F.col("id").alias("k"))
    stride = ev.agg((F.max("event_id") + 1).alias("_stride"))
    big = ev.crossJoin(F.broadcast(stride)).crossJoin(rep).select(
        (F.col("event_id") + F.col("k") * F.col("_stride")).alias("event_id"),
        (F.col("ts") + F.expr("make_dt_interval(k * 31, 0, 0, 0)")).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    return write_chunks(big, out_dir, n_chunks, "ts")


def make_progress_listener(query_name: str, sink: list):
    """StreamingQueryListener appending each progress dict for query_name
    to sink. recentProgress retention is a STATIC conf (default 100
    updates; the big drain exceeds it) — a listener sees every event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name == query_name:
                sink.append(json.loads(p.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Capture()


def settle_progress(progresses: list, expected_rows: int | None,
                    deadline_sec: float = 30.0) -> None:
    """Progress events arrive on the listener-bus thread AFTER
    processAllAvailable() returns data-processed; wait for delivery.
    With expected_rows, poll until the captured input rows cover it and
    fail LOUDLY on timeout (a truncated curve must never be committed);
    without, poll until the buffer stops growing for one interval."""
    t_end = time.monotonic() + deadline_sec
    seen = -1
    while time.monotonic() < t_end:
        rows = sum(p["numInputRows"] for p in progresses)
        if expected_rows is not None:
            if rows >= expected_rows:
                return
        elif len(progresses) == seen:
            return
        seen = len(progresses)
        time.sleep(0.25)
    if expected_rows is not None:
        raise RuntimeError(
            f"listener delivered {sum(p['numInputRows'] for p in progresses)}"
            f"/{expected_rows} rows of progress events within "
            f"{deadline_sec}s — refusing to record a truncated curve"
        )


def trigger_drift(timed: list[dict]) -> float | None:
    """Per-batch cost drift across the drain: mean trigger time of the
    second half over the first half (flat ≈ 1.0); growth here is the
    state-commit degradation the rehearsal exists to catch."""
    if len(timed) < 4:
        return None
    half = len(timed) // 2
    late = sum(b["trigger_ms"] for b in timed[half:]) / max(1, len(timed[half:]))
    early = sum(b["trigger_ms"] for b in timed[:half]) / max(1, len(timed[:half]))
    return round(late / max(1.0, early), 3)


def drain(spark, replay_dir: str, name: str,
          expected_rows: int | None, start_fn=None) -> dict:
    """Drain a replay through a stateful streaming query, recording the
    per-batch trigger/state curve. `start_fn(stream, name)` starts the
    query under test; default is the flagship windowed agg. One body for
    every scenario — a metric added or a batch-filter fix lands in all
    artifacts at once instead of drifting between near-copies."""
    progresses: list[dict] = []
    listener = make_progress_listener(name, progresses)
    spark.streams.addListener(listener)
    t0 = time.perf_counter()
    if start_fn is None:
        start_fn = lambda stream, n: start_windowed_query(  # noqa: E731
            stream, n, state_partitions=8
        )
    q = start_fn(read_replay_stream(spark, replay_dir), name)
    try:
        q.processAllAvailable()
        total = time.perf_counter() - t0
        settle_progress(progresses, expected_rows)
        batches = []
        for p in progresses:
            if p["numInputRows"] == 0 and not p["stateOperators"]:
                continue
            so = p["stateOperators"][0] if p["stateOperators"] else {}
            cm = so.get("customMetrics", {})
            batches.append({
                "batch": p["batchId"],
                "rows": p["numInputRows"],
                "trigger_ms": p["durationMs"].get("triggerExecution"),
                "state_rows": so.get("numRowsTotal"),
                "state_mem_bytes": so.get("memoryUsedBytes"),
                "rocksdb_sst_bytes": cm.get("rocksdbSstFileSize"),
            })
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    rows = [b for b in batches if b["rows"] > 0]
    timed = [b for b in rows if b["trigger_ms"] is not None]
    return {
        "total_sec": round(total, 3),
        "n_batches": len(rows),
        "rows_drained": sum(b["rows"] for b in rows),
        "peak_state_rows": max(((b["state_rows"] or 0) for b in rows), default=0),
        "last_state_rows": rows[-1]["state_rows"] if rows else None,
        "peak_state_mem_mb": round(
            max(((b["state_mem_bytes"] or 0) for b in rows), default=0) / 1e6, 3
        ),
        "peak_sst_mb": round(
            max(((b["rocksdb_sst_bytes"] or 0) for b in rows), default=0) / 1e6, 3
        ),
        "late_vs_early_trigger_x": trigger_drift(timed),
        "batches": batches,
    }


def drain_stateful(spark, replay_dir: str, name: str,
                   expected_rows: int | None) -> dict:
    """Drain the applyInPandasWithState running-totals path (T5, the
    custom Arrow-batched stateful operator). Its state is O(distinct
    event_type), ~6 keys BY CONSTRUCTION — the claims under test are
    that state rows stay at key count (never stream length) at 10x
    volume, and that per-batch trigger time stays flat across the drain
    (the python state round-trip is per live key per batch, so deepening
    history must not deepen per-batch cost)."""
    # NOTE on the one growing reading in the committed artifact: RocksDB
    # memoryUsedBytes counts memtable + block-cache bytes, which accrete
    # with COMMIT COUNT until flush/compaction (bounded by the 64 MB
    # write buffer, not by stream length) — live rows and SST footprint
    # are the state-size evidence, mem is reported for completeness only.
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stateful import (
        start_running_totals,
    )

    return drain(spark, replay_dir, name, expected_rows,
                 start_fn=start_running_totals)


def main() -> None:
    global REPLICAS
    args = list(sys.argv[1:])
    if "--compact-crash" in args:
        # child-process mode for chaos_compaction: die mid-swap for real
        i = args.index("--compact-crash")
        _compact_crash_child_main(
            args[i + 1], args[i + 2], int(args[i + 3]),
            args[i + 4] if len(args) > i + 4 else "exact",
        )
        return
    if "--replicas" in args:
        i = args.index("--replicas")
        REPLICAS = int(args[i + 1])
        del args[i : i + 2]
    chunks = 10
    if "--chunks" in args:
        i = args.index("--chunks")
        chunks = int(args[i + 1])
        del args[i : i + 2]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    # --scenario stateful: ONLY the applyInPandasWithState drain, written
    # as its own artifact — the windowed/gate artifact (and the COVERAGE
    # numbers citing it) stays byte-stable.
    scenario = "all"
    if "--scenario" in args:
        i = args.index("--scenario")
        scenario = args[i + 1]
        del args[i : i + 2]
    kill_after = None
    if "--kill-after-batch" in args:
        i = args.index("--kill-after-batch")
        kill_after = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    work = args[1] if len(args) > 1 else "/tmp/streaming_rehearsal"
    spark = get_spark("streaming-rehearsal")

    shutil.rmtree(work, ignore_errors=True)

    if scenario == "chaos-neardup":
        # kill/resume exactly-once for the NEAR-dup admission gate, over
        # the template-spam flood fixture (the reject path under real
        # cross-batch pressure — see chaos_neardup)
        big_docs_dir = os.path.join(work, "big_docs")
        import tools.scale_rehearsal as _sr

        _sr.REPLICAS = REPLICAS
        prev_perturb = _sr.TEXT_PERTURB
        _sr.TEXT_PERTURB = "spam"
        try:
            _sr.build_fixture(spark, sf_dir, big_docs_dir)
        finally:
            _sr.TEXT_PERTURB = prev_perturb
        n_gate_chunks = chunks * REPLICAS
        ka = kill_after if kill_after is not None else n_gate_chunks // 3
        gate = chaos_neardup(spark, big_docs_dir, work, n_gate_chunks, ka)
        out = {
            "rehearsal": f"neardup_gate_chaos_{REPLICAS}x_spam_flood",
            "replicas": REPLICAS,
            "gate": gate,
            "pass": (
                gate["store_sym_diff"] == 0
                and gate["stats_sym_diff_rows"] == 0
                and gate["chaos_input_rows"] == gate["rows_expected"]
                and gate["crashed_batch_replayed"]
                # the crash must land where the store-dependent decision
                # path is actually exercised, or the lap proves nothing
                and (gate["rejected_in_crashed_batch"] or 0) > 0
                and gate["rejected_total"] > 0
            ),
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        print(json.dumps(out))
        return

    if scenario in ("chaos-ingest", "chaos-ingest-arrival"):
        # kill/resume exactly-once for the COMPOSED ingest pipeline over
        # the cipher replica fixture (the twin plants its own resubmits
        # and tail copies on top, so all three stages bind in-fixture);
        # the -arrival variant replays the same corpus in ARRIVAL order
        # (first-seen-wins contract, arrival_seq precedence)
        arrival = scenario.endswith("-arrival")
        big_docs_dir = os.path.join(work, "big_docs")
        import tools.scale_rehearsal as _sr

        _sr.REPLICAS = REPLICAS
        _sr.build_fixture(spark, sf_dir, big_docs_dir)
        n_gate_chunks = chunks * REPLICAS
        ka = kill_after if kill_after is not None else n_gate_chunks // 3
        gate = chaos_ingest(spark, big_docs_dir, work, n_gate_chunks, ka,
                            arrival=arrival)
        cb = gate["crashed_batch_stats"] or {}
        out = {
            "rehearsal": f"ingest_pipeline_chaos_{REPLICAS}x"
            + ("_arrival" if arrival else ""),
            "replicas": REPLICAS,
            "env_knobs": _sr._env_knobs(),
            "gate": gate,
            "pass": (
                gate["results_sym_diff"] == 0
                and gate["stats_sym_diff_rows"] == 0
                and gate["chaos_input_rows"] == gate["rows_expected"]
                and gate["crashed_batch_replayed"]
                # the replayed batch's funnel must be non-degenerate:
                # at least one stage rejected something AND something
                # survived to a kept decision
                and bool(cb)
                and cb["n_batch"] > cb["n_neardup_ok"]
                and cb["n_kept"] > 0
            ),
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        print(json.dumps(out))
        return

    if scenario == "neardup-forced-fallback":
        # drive the NEAR-dup gate's batch-broadcast fallback at VOLUME:
        # every micro-batch forced through the shuffle-hash regime
        # (dedup.GATE_BATCH_BROADCAST_MAX = 0) over the spam flood
        # fixture, at 1x and REPLICASx, plus a default-regime REPLICASx
        # drain — the forced store must be row-identical to the default
        # store (the fallback changes join physics, never decisions),
        # and the forced drain's wall must scale ~linearly
        from reddit_sentiment_spark_streaming_pipeline_spark.streaming import dedup as sd
        from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
            read_neardup_store,
            write_doc_chunks,
        )
        import tools.scale_rehearsal as _sr

        def build_spam(replicas: int, dest: str) -> None:
            _sr.REPLICAS = replicas
            prev = _sr.TEXT_PERTURB
            _sr.TEXT_PERTURB = "spam"
            try:
                _sr.build_fixture(spark, sf_dir, dest)
            finally:
                _sr.TEXT_PERTURB = prev

        def write_chunks_of(docs_dir: str, n_chunks: int) -> tuple[str, int]:
            # one chunk write per fixture: both regimes drain the SAME
            # files, because two range-partitioned writes of one input
            # may split it at different rows, which would move batch
            # ownership and confound the store comparison
            chunk_dir = os.path.join(work, f"ffchunks_{os.path.basename(docs_dir)}")
            return chunk_dir, write_doc_chunks(spark, docs_dir, chunk_dir, n_chunks=n_chunks)

        def drain(chunk_dir: str, n: int, root: str, forced: bool) -> float:
            default = sd.GATE_BATCH_BROADCAST_MAX
            if forced:
                sd.GATE_BATCH_BROADCAST_MAX = 0
            try:
                sec, _prog = run_neardup_gate(
                    spark, chunk_dir, os.path.join(work, root), n
                )
            finally:
                sd.GATE_BATCH_BROADCAST_MAX = default
            return round(sec, 3)

        small_docs = os.path.join(work, "ff_docs_1x")
        big_docs = os.path.join(work, "ff_docs_big")
        build_spam(1, small_docs)
        build_spam(REPLICAS, big_docs)
        small = write_chunks_of(small_docs, chunks)
        big = write_chunks_of(big_docs, chunks * REPLICAS)
        n1, nb = small[1], big[1]
        t_forced_1x = drain(*small, "ff_forced_1x", True)
        t_forced_big = drain(*big, "ff_forced_big", True)
        t_default_big = drain(*big, "ff_default_big", False)

        cols = ["doc_id", "source", "h0", "h1", "h2", "h3", "admitted", "batch_id"]
        fs = read_neardup_store(spark, os.path.join(work, "ff_forced_big")).select(cols)
        ds = read_neardup_store(spark, os.path.join(work, "ff_default_big")).select(cols)
        sym = fs.exceptAll(ds).count() + ds.exceptAll(fs).count()
        out = {
            "rehearsal": f"neardup_gate_forced_fallback_{REPLICAS}x_spam_flood",
            "replicas": REPLICAS,
            "env_knobs": _sr._env_knobs(),
            "forced_gates": {"GATE_BATCH_BROADCAST_MAX": 0},
            # metric map nested under "gate" like the other gate
            # artifacts — the COVERAGE claim-drift guard reads ratio
            # keys (*_x) from that nest
            "gate": {
                "rows_1x": n1,
                "rows_big": nb,
                "forced_1x_sec": t_forced_1x,
                "forced_big_sec": t_forced_big,
                "default_big_sec": t_default_big,
                "forced_scaling_x": round(t_forced_big / t_forced_1x, 2),
                "forced_vs_default_big_x": round(t_forced_big / t_default_big, 2),
                "store_rows": fs.count(),
                "store_sym_diff_forced_vs_default": sym,
            },
            "pass": sym == 0,
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        print(json.dumps(out))
        return

    if scenario == "chaos-selection":
        # kill/resume exactly-once for the SELECTION gate over the cipher
        # replica fixture (score diversity without duplicate semantics —
        # the gate has no store; the window under test is the frozen
        # model reuse + partition-overwrite replay)
        big_docs_dir = os.path.join(work, "big_docs")
        import tools.scale_rehearsal as _sr

        _sr.REPLICAS = REPLICAS
        _sr.build_fixture(spark, sf_dir, big_docs_dir)
        n_gate_chunks = chunks * REPLICAS
        ka = kill_after if kill_after is not None else n_gate_chunks // 3
        gate = chaos_selection(spark, big_docs_dir, work, n_gate_chunks, ka)
        out = {
            "rehearsal": f"selection_gate_chaos_{REPLICAS}x",
            "replicas": REPLICAS,
            "env_knobs": _sr._env_knobs(),
            "gate": gate,
            "pass": (
                gate["results_sym_diff"] == 0
                and gate["stats_sym_diff_rows"] == 0
                and gate["chaos_input_rows"] == gate["rows_expected"]
                and gate["crashed_batch_replayed"]
                # the replayed batch must have exercised BOTH sides of
                # the frozen threshold, or the lap proves little
                and (gate["admitted_in_crashed_batch"] or 0) > 0
                and (gate["rejected_in_crashed_batch"] or 0) > 0
            ),
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        print(json.dumps(out))
        return

    if scenario in ("chaos-compact", "chaos-compact-neardup"):
        # kill a REAL process mid-compact_store swap, once per window;
        # the -neardup variant drives the NEAR-dup gate's store through
        # the same kills under schema=NEARDUP_STORE_SCHEMA
        flavor = "neardup" if scenario.endswith("neardup") else "exact"
        big_docs_dir = os.path.join(work, "big_docs")
        import tools.scale_rehearsal as _sr

        _sr.REPLICAS = REPLICAS
        _sr.build_fixture(spark, sf_dir, big_docs_dir)
        result = chaos_compaction(
            spark, big_docs_dir, work, chunks * REPLICAS, flavor=flavor
        )
        tag = "neardup_gate" if flavor == "neardup" else "gate"
        out = {
            "rehearsal": f"{tag}_chaos_compaction_{REPLICAS}x",
            "replicas": REPLICAS,
            "env_knobs": _sr._env_knobs(),
            **result,
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        print(json.dumps(out))
        return

    if scenario == "compaction":
        # A/B the store-compaction maintenance op at replica volume
        big_docs_dir = os.path.join(work, "big_docs")
        import tools.scale_rehearsal as _sr

        _sr.REPLICAS = REPLICAS
        _sr.build_fixture(spark, sf_dir, big_docs_dir)
        result = compaction_ab(spark, big_docs_dir, work, chunks * REPLICAS)
        out = {
            "rehearsal": f"gate_compaction_{REPLICAS}x",
            "replicas": REPLICAS,
            **result,
            "pass": (
                result["store_sym_diff"] == 0
                and result["compacted"]["rows_drained"]
                == result["compacted"]["rows_expected"]
            ),
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        print(json.dumps(out))
        return

    if scenario == "chaos-join":
        # kill/resume exactly-once for the stream-stream interval join:
        # both sides' buffered state lives in the checkpointed state
        # store, so a mid-drain kill tests join-buffer recovery — the
        # deepest state-restore path the engine has
        from reddit_sentiment_spark_streaming_pipeline_spark.streaming.pipeline import (
            start_join_parquet_query,
        )

        big_dir = os.path.join(work, "big_chunks")
        n_big = build_big_events(spark, sf_dir, big_dir,
                                 n_chunks=chunks * REPLICAS)
        ka = kill_after if kill_after is not None else (chunks * REPLICAS) // 3
        joined = chaos_durable(
            spark, big_dir, work, 2 * n_big, ka,
            lambda stream, root, name: start_join_parquet_query(stream, root, name),
            "joined", "chaosjoin",
        )
        out = {
            "rehearsal": f"streaming_chaos_join_{REPLICAS}x",
            "replicas": REPLICAS,
            "note": "rows_expected is 2x fixture rows: the self-join scans the source once per side",
            "join": joined,
            "pass": (
                joined["sink_sym_diff_rows"] == 0
                and joined["chaos_input_rows"] == joined["rows_expected"]
                and joined["control_sink_rows"] > 0
            ),
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        print(json.dumps(out))
        return

    if scenario == "chaos":
        # kill/resume exactly-once at 10x volume: the durable windowed agg
        # (FileStreamSink) and the dedup gate (foreachBatch side effects)
        from reddit_sentiment_spark_streaming_pipeline_spark.streaming.pipeline import (
            start_windowed_parquet_query,
        )

        big_dir = os.path.join(work, "big_chunks")
        n_big = build_big_events(spark, sf_dir, big_dir,
                                 n_chunks=chunks * REPLICAS)
        ka_w = kill_after if kill_after is not None else (chunks * REPLICAS) // 3
        windowed = chaos_durable(
            spark, big_dir, work, n_big, ka_w,
            lambda stream, root, name: start_windowed_parquet_query(
                stream, root, name, state_partitions=8),
            "windowed", "chaos_windowed",
        )

        big_docs_dir = os.path.join(work, "big_docs")
        import tools.scale_rehearsal as _sr

        _sr.REPLICAS = REPLICAS
        _sr.build_fixture(spark, sf_dir, big_docs_dir)
        n_gate_chunks = chunks * REPLICAS
        ka_g = kill_after if kill_after is not None else n_gate_chunks // 3
        gate = chaos_gate(spark, big_docs_dir, work, n_gate_chunks, ka_g)

        out = {
            "rehearsal": f"streaming_chaos_{REPLICAS}x",
            "replicas": REPLICAS,
            "windowed": windowed,
            "gate": gate,
            "pass": (
                windowed["sink_sym_diff_rows"] == 0
                and windowed["chaos_input_rows"] == windowed["rows_expected"]
                and gate["store_sym_diff"] == 0
                and gate["stats_sym_diff_rows"] == 0
                and gate["chaos_input_rows"] == gate["rows_expected"]
                and gate["crashed_batch_replayed"]
            ),
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        print(json.dumps(out))
        return

    base_dir = os.path.join(work, "base_chunks")
    big_dir = os.path.join(work, "big_chunks")
    n_base = write_replay_chunks(spark, sf_dir, base_dir, n_chunks=chunks)
    n_big = build_big_events(spark, sf_dir, big_dir, n_chunks=chunks * REPLICAS)

    if scenario == "join":
        # the self-join scans the source once PER SIDE (purchases +
        # clicks), so the stream's input accounting is 2x the fixture rows
        drain_join(spark, base_dir, "join_warm", None)
        j_base = drain_join(spark, base_dir, "join_base", 2 * n_base)
        j_big = drain_join(spark, big_dir, "join_big", 2 * n_big)
        assert j_base["rows_drained"] == 2 * n_base, (j_base["rows_drained"], n_base)
        assert j_big["rows_drained"] == 2 * n_big, (j_big["rows_drained"], n_big)
        out = {
            "rehearsal": f"streaming_join_{REPLICAS}x",
            "replicas": REPLICAS,
            "lookback": "10 minutes",
            "base": j_base,
            "big": j_big,
            "state_rows_scaling_x": (
                round(j_big["peak_state_rows"] / j_base["peak_state_rows"], 2)
                if j_base["peak_state_rows"] else None
            ),
            "state_mem_scaling_x": (
                round(j_big["peak_state_mem_mb"] / j_base["peak_state_mem_mb"], 2)
                if j_base["peak_state_mem_mb"] else None
            ),
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        summary = {k: v for k, v in out.items() if k not in ("base", "big")}
        for k in ("base", "big"):
            summary[k] = {kk: vv for kk, vv in out[k].items() if kk != "batches"}
        print(json.dumps(summary))
        return

    if scenario == "stateful":
        drain_stateful(spark, base_dir, "stateful_warm", None)
        st_base = drain_stateful(spark, base_dir, "stateful_base", n_base)
        st_big = drain_stateful(spark, big_dir, "stateful_big", n_big)
        assert st_base["rows_drained"] == n_base, (st_base["rows_drained"], n_base)
        assert st_big["rows_drained"] == n_big, (st_big["rows_drained"], n_big)
        out = {
            "rehearsal": f"streaming_stateful_{REPLICAS}x",
            "replicas": REPLICAS,
            "base": st_base,
            "big": st_big,
            "state_rows_scaling_x": (
                round(st_big["peak_state_rows"] / st_base["peak_state_rows"], 2)
                if st_base["peak_state_rows"] else None
            ),
            "state_mem_scaling_x": (
                round(st_big["peak_state_mem_mb"] / st_base["peak_state_mem_mb"], 2)
                if st_base["peak_state_mem_mb"] else None
            ),
        }
        if out_path:
            with open(out_path, "w") as f:
                json.dump(out, f, indent=1)
        summary = {k: v for k, v in out.items() if k not in ("base", "big")}
        for k in ("base", "big"):
            summary[k] = {kk: vv for kk, vv in out[k].items() if kk != "batches"}
        print(json.dumps(summary))
        return

    # warm lap (codegen + state-store provider init), then the measured laps
    drain(spark, base_dir, "rehearsal_warm", None)
    base = drain(spark, base_dir, "rehearsal_base", n_base)
    big = drain(spark, big_dir, "rehearsal_big", n_big)

    # dedup-gate scenario: base over the sf documents, big over the 10x
    # cipher-replicated documents from the batch-rehearsal fixture
    gate_base = drain_gate(spark, sf_dir, work, chunks, "gate_base")
    big_docs_dir = os.path.join(work, "big_docs")
    import tools.scale_rehearsal as _sr

    _sr.REPLICAS = REPLICAS
    _sr.build_fixture(spark, sf_dir, big_docs_dir)
    gate_big = drain_gate(
        spark, big_docs_dir, work, chunks * REPLICAS, "gate_big"
    )

    assert base["rows_drained"] == n_base, (base["rows_drained"], n_base)
    assert big["rows_drained"] == n_big, (big["rows_drained"], n_big)
    out = {
        "rehearsal": f"streaming_state_{REPLICAS}x",
        "replicas": REPLICAS,
        "watermark": "2 hours",
        "state_partitions": 8,
        "base": base,
        "big": big,
        "state_rows_scaling_x": (
            round(big["peak_state_rows"] / base["peak_state_rows"], 2)
            if base["peak_state_rows"] else None
        ),
        "state_mem_scaling_x": (
            round(big["peak_state_mem_mb"] / base["peak_state_mem_mb"], 2)
            if base["peak_state_mem_mb"] else None
        ),
        "sst_scaling_x": (
            round(big["peak_sst_mb"] / base["peak_sst_mb"], 2)
            if base["peak_sst_mb"] else None
        ),
        "gate_base": gate_base,
        "gate_big": gate_big,
        "gate_store_scaling_x": (
            round(
                gate_big["store_parquet_mb"] / gate_base["store_parquet_mb"], 2
            )
            if gate_base["store_parquet_mb"] else None
        ),
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1)
    summary = {k: v for k, v in out.items()
               if k not in ("base", "big", "gate_base", "gate_big")}
    for k in ("base", "big", "gate_base", "gate_big"):
        summary[k] = {kk: vv for kk, vv in out[k].items() if kk != "batches"}
    print(json.dumps(summary))


# ---------------------------------------------------------------- gate

def run_gate(spark, chunk_dir: str, out_root: str, n_rows: int | None,
             after_batch_hook=None, allow_failure: bool = False,
             start_fn=None, query_name: str = "dedup_gate",
             read_fn=None):
    """Start a foreachBatch gate over prebuilt chunks and drain; returns
    (total_sec, progresses). With allow_failure, a StreamingQueryException
    (the chaos hook's injected crash) is swallowed and the partial
    progress curve returned — the caller restarts from the checkpoint.
    One body for all three gates (the drain() convention): `start_fn`
    defaults to the exact gate; run_neardup_gate / run_selection_gate
    pass theirs (the selection runner also passes `read_fn`, whose chunk
    schema carries lang)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_doc_stream,
        start_dedup_gate,
    )

    if start_fn is None:
        start_fn = start_dedup_gate
    if read_fn is None:
        read_fn = read_doc_stream
    progresses: list[dict] = []
    listener = make_progress_listener(query_name, progresses)
    spark.streams.addListener(listener)
    t0 = time.perf_counter()
    q = start_fn(read_fn(spark, chunk_dir), out_root,
                 after_batch_hook=after_batch_hook)
    try:
        try:
            q.processAllAvailable()
            total = time.perf_counter() - t0
            settle_progress(progresses, n_rows)
        except StreamingQueryException:
            if not allow_failure:
                raise
            total = time.perf_counter() - t0
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    return total, progresses


def drain_gate(spark, docs_sf_dir: str, work: str, n_chunks: int,
               name: str, chunk_dir: str | None = None) -> dict:
    """Drain the incremental dedup gate over n_chunks micro-batches and
    record the per-batch trigger curve + store growth. Unlike the
    windowed agg (watermark-bounded state), the gate's state is the
    DURABLE fingerprint store and each batch anti-joins against the
    whole store — the curve here is expected to show the per-batch cost
    of that store re-scan as history deepens, which is the honest thing
    to publish about this design."""
    import glob as _glob

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_gate_stats,
        write_doc_chunks,
    )

    if chunk_dir is None:
        chunk_dir = os.path.join(work, f"{name}_chunks")
        n_rows = write_doc_chunks(spark, docs_sf_dir, chunk_dir,
                                  n_chunks=n_chunks)
    else:
        n_rows = spark.read.parquet(chunk_dir).count()
    out_root = os.path.join(work, f"{name}_out")
    total, progresses = run_gate(spark, chunk_dir, out_root, n_rows)
    batches = [
        {
            "batch": p["batchId"],
            "rows": p["numInputRows"],
            "trigger_ms": p["durationMs"].get("triggerExecution"),
        }
        for p in progresses
        if p["numInputRows"] > 0
    ]
    stats = {
        r["batch_id"]: r
        for r in read_gate_stats(spark, out_root)
        .toPandas()
        .to_dict("records")
    }
    for b in batches:
        s = stats.get(b["batch"])
        if s:
            b["admitted"] = int(s["n_admitted"])
            b["rejected"] = int(s["n_rejected"])
    store_bytes = sum(
        os.path.getsize(f)
        for f in _glob.glob(
            os.path.join(out_root, "fingerprint_store", "**", "*.parquet"),
            recursive=True,
        )
    )
    timed = [b for b in batches if b["trigger_ms"] is not None]
    return {
        "total_sec": round(total, 3),
        "n_batches": len(batches),
        "rows_drained": sum(b["rows"] for b in batches),
        "rows_expected": n_rows,
        "admitted_total": sum(b.get("admitted", 0) for b in batches),
        "store_parquet_mb": round(store_bytes / 1e6, 3),
        "late_vs_early_trigger_x": trigger_drift(timed),
        "batches": batches,
    }


# ---------------------------------------------------------------- chaos

def chaos_durable(spark, replay_dir: str, work: str, n_expected: int,
                  kill_after: int, start_fn, sink_subdir: str,
                  tag: str) -> dict:
    """Kill/resume equivalence for a durable (FileStreamSink + checkpoint)
    streaming query (T6).

    Control: one uninterrupted drain into a parquet FileStreamSink.
    Chaos: same stream, hard-stopped as soon as batch `kill_after`'s
    progress lands (the stop interrupts whatever batch is then
    in-flight), restarted from the checkpoint, drained to completion.
    The restart reuses the SAME query name: the windowed/join helpers
    namespace their checkpoint by query_name (r8), so a renamed
    restart would orphan the checkpoint and reprocess from scratch —
    the r9 chaos lap caught this rehearsal doing exactly that
    (`{tag}_resume` landed in a fresh empty checkpoint).
    Pass = the two sink directories hold the IDENTICAL row multiset
    (exceptAll both ways empty) and the chaos run drained every input
    row exactly once across its two query incarnations.
    `start_fn(stream, out_root, name)` starts the query under test;
    `sink_subdir` is where it writes inside out_root."""

    def full_drain(root: str, name: str, progresses: list) -> None:
        listener = make_progress_listener(name, progresses)
        spark.streams.addListener(listener)
        q = start_fn(read_replay_stream(spark, replay_dir), root, name)
        try:
            q.processAllAvailable()
            settle_progress(progresses, None)
        finally:
            q.stop()
            spark.streams.removeListener(listener)

    ctrl_root = os.path.join(work, f"{tag}_ctrl")
    ctrl_prog: list[dict] = []
    full_drain(ctrl_root, f"{tag}_ctrl", ctrl_prog)

    chaos_root = os.path.join(work, f"{tag}_kill")
    kill_prog: list[dict] = []
    listener = make_progress_listener(f"{tag}_kill", kill_prog)
    spark.streams.addListener(listener)
    q = start_fn(read_replay_stream(spark, replay_dir), chaos_root,
                 f"{tag}_kill")
    killed_at = None
    try:
        deadline = time.monotonic() + 600
        while time.monotonic() < deadline:
            p = q.lastProgress
            if p and p["batchId"] >= kill_after:
                killed_at = p["batchId"]
                break
            time.sleep(0.02)
    finally:
        q.stop()  # hard stop: whatever batch is in flight dies here
        spark.streams.removeListener(listener)
    if killed_at is None:
        raise RuntimeError(
            f"chaos kill never reached batch {kill_after} within 600s"
        )

    resume_prog: list[dict] = []
    full_drain(chaos_root, f"{tag}_kill", resume_prog)

    ctrl = spark.read.parquet(os.path.join(ctrl_root, sink_subdir))
    chaos = spark.read.parquet(os.path.join(chaos_root, sink_subdir))
    n_ctrl, n_chaos = ctrl.count(), chaos.count()
    sym_diff = ctrl.exceptAll(chaos).count() + chaos.exceptAll(ctrl).count()
    rows_ctrl = sum(p["numInputRows"] for p in ctrl_prog)
    # exactly-once INPUT accounting: a batch whose progress event fired in
    # the killed incarnation but whose commit was lost is re-run (and
    # re-counted) by the resume, so dedup on batchId, not a raw sum
    seen: dict[int, int] = {}
    for p in kill_prog + resume_prog:
        seen[p["batchId"]] = p["numInputRows"]
    rows_chaos = sum(seen.values())
    return {
        "rows_expected": n_expected,
        "control_input_rows": rows_ctrl,
        "chaos_input_rows": rows_chaos,
        "killed_after_batch": killed_at,
        "resume_batches": len([p for p in resume_prog if p["numInputRows"] > 0]),
        "control_sink_rows": n_ctrl,
        "chaos_sink_rows": n_chaos,
        "sink_sym_diff_rows": sym_diff,
    }


def chaos_gate(spark, docs_dir: str, work: str, n_chunks: int,
               kill_after: int) -> dict:
    """Kill/resume equivalence for the dedup gate's DURABLE side effects.

    The crash is injected deterministically in the worst window: after
    batch `kill_after`'s store partition + stats row are written, before
    the checkpoint commit — so the restart MUST replay that batch against
    a store that already contains its own output. Pass = store fingerprint
    membership, store row count, and the per-batch stats table are all
    identical to an uninterrupted control drain."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_gate_stats,
        write_doc_chunks,
    )

    chunk_dir = os.path.join(work, "chaosgate_chunks")
    n_rows = write_doc_chunks(spark, docs_dir, chunk_dir, n_chunks=n_chunks)
    ctrl_root, chaos_root, out = _chaos_crash_replay(
        spark, chunk_dir, work, "chaosgate", n_rows, kill_after, run_gate,
    )

    ctrl_store = spark.read.parquet(os.path.join(ctrl_root, "fingerprint_store"))
    chaos_store = spark.read.parquet(os.path.join(chaos_root, "fingerprint_store"))
    store_sym_diff = (
        ctrl_store.select("fingerprint").exceptAll(
            chaos_store.select("fingerprint")).count()
        + chaos_store.select("fingerprint").exceptAll(
            ctrl_store.select("fingerprint")).count()
    )
    ctrl_stats = read_gate_stats(spark, ctrl_root)
    chaos_stats = read_gate_stats(spark, chaos_root)
    stats_sym_diff = (
        ctrl_stats.exceptAll(chaos_stats).count()
        + chaos_stats.exceptAll(ctrl_stats).count()
    )
    out.update({
        "control_store_rows": ctrl_store.count(),
        "chaos_store_rows": chaos_store.count(),
        "store_sym_diff": store_sym_diff,
        "stats_sym_diff_rows": stats_sym_diff,
    })
    return out


def run_neardup_gate(spark, chunk_dir: str, out_root: str,
                     n_rows: int | None, after_batch_hook=None,
                     allow_failure: bool = False):
    """run_gate pointed at the SimHash NEAR-dup admission gate."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        start_neardup_gate,
    )

    return run_gate(spark, chunk_dir, out_root, n_rows,
                    after_batch_hook=after_batch_hook,
                    allow_failure=allow_failure,
                    start_fn=start_neardup_gate, query_name="neardup_gate")


def _chaos_crash_replay(spark, chunk_dir: str, work: str, tag: str,
                        n_rows: int, kill_after: int, runner):
    """The shared crash-injection kill/resume protocol for a foreachBatch
    gate: control drain, crash injected by the after_batch_hook right
    after batch `kill_after`'s side effects land (before the checkpoint
    commit), restart from the checkpoint, drain to completion. Returns
    (ctrl_root, chaos_root, metrics) where metrics carries the
    gate-agnostic readings — exactly-once input accounting (dedup on
    batchId across the two incarnations), replay evidence, the control
    drain's per-batch trigger drift (each batch re-scans the whole
    store, so this is the honest depth-cost number for both gates), and
    wall times. Callers add their store/stats sym-diffs."""
    ctrl_root = os.path.join(work, f"{tag}_ctrl_out")
    t_ctrl, ctrl_prog = runner(spark, chunk_dir, ctrl_root, n_rows)

    chaos_root = os.path.join(work, f"{tag}_kill_out")
    crashed = []

    def hook(bid: int) -> None:
        if bid == kill_after and not crashed:
            crashed.append(bid)
            raise RuntimeError(
                "chaos: injected crash after side effects, before commit"
            )

    t_kill, kill_prog = runner(
        spark, chunk_dir, chaos_root, None,
        after_batch_hook=hook, allow_failure=True,
    )
    if not crashed:
        raise RuntimeError(f"injected crash never fired (batch {kill_after})")
    # the resume only delivers the batches the kill run didn't commit, so
    # settle on buffer-quiescence (None), not the full-corpus row count
    t_resume, resume_prog = runner(spark, chunk_dir, chaos_root, None)

    # the crashed batch's side effects ran in the kill incarnation (the
    # hook fires after the gate body) but its progress event never does —
    # replay evidence is that batch id re-appearing in the RESUME curve
    seen: dict[int, int] = {}
    for p in kill_prog + resume_prog:
        seen[p["batchId"]] = p["numInputRows"]
    timed = [
        {"trigger_ms": p["durationMs"]["triggerExecution"]}
        for p in ctrl_prog
        if p["numInputRows"] > 0
        and p["durationMs"].get("triggerExecution") is not None
    ]
    return ctrl_root, chaos_root, {
        "rows_expected": n_rows,
        "control_input_rows": sum(p["numInputRows"] for p in ctrl_prog),
        "chaos_input_rows": sum(seen.values()),
        "injected_crash_batch": kill_after,
        "crashed_batch_replayed": kill_after in {
            p["batchId"] for p in resume_prog
        },
        "control_late_vs_early_trigger_x": trigger_drift(timed),
        "control_total_sec": round(t_ctrl, 3),
        "chaos_total_sec": round(t_kill + t_resume, 3),
    }


def chaos_neardup(spark, docs_dir: str, work: str, n_chunks: int,
                  kill_after: int) -> dict:
    """Kill/resume equivalence for the NEAR-dup gate's durable side
    effects (chaos_gate's protocol pointed at neardup_gate_batch).

    Driven over the template-spam flood fixture, where the reject path
    is under real pressure: spam replicas of one base doc sit a full id
    stride apart, so write_doc_chunks' id-range batching lands every
    family member in a DIFFERENT micro-batch and most of each later
    batch is rejected against the STORE (the cross-batch near-match
    join), not within-batch — the store-dependent decision path a
    replay must reproduce exactly.

    The crash is injected in the worst window: after batch
    `kill_after`'s store partition (h0..h3 + admitted flags) and stats
    row are written, before the checkpoint commit — the restart replays
    that batch against a store that already contains its own leaked
    output, which the `batch_id < N` candidate filter must make
    invisible, and its partition overwrite must land the identical
    admission flags (rejected rows stay in the store as blockers, so a
    flipped flag would poison every later batch's decisions). Pass =
    full store row multiset (fingerprints + admitted flags + batch
    ownership) and per-batch stats both sym-diff 0 vs an uninterrupted
    control, every input row drained exactly once."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        read_neardup_stats,
        read_neardup_store,
        write_doc_chunks,
    )

    chunk_dir = os.path.join(work, "chaosneardup_chunks")
    n_rows = write_doc_chunks(spark, docs_dir, chunk_dir, n_chunks=n_chunks)
    ctrl_root, chaos_root, out = _chaos_crash_replay(
        spark, chunk_dir, work, "chaosneardup", n_rows, kill_after,
        run_neardup_gate,
    )

    # full-row membership, batch ownership included: a replayed batch must
    # rewrite its OWN partition with the IDENTICAL admission flags
    cols = ["doc_id", "source", "h0", "h1", "h2", "h3", "admitted", "batch_id"]
    ctrl_store = read_neardup_store(spark, ctrl_root).select(cols)
    chaos_store = read_neardup_store(spark, chaos_root).select(cols)
    store_sym_diff = (
        ctrl_store.exceptAll(chaos_store).count()
        + chaos_store.exceptAll(ctrl_store).count()
    )
    ctrl_stats = read_neardup_stats(spark, ctrl_root)
    chaos_stats = read_neardup_stats(spark, chaos_root)
    stats_sym_diff = (
        ctrl_stats.exceptAll(chaos_stats).count()
        + chaos_stats.exceptAll(ctrl_stats).count()
    )
    stats_rows = ctrl_stats.toPandas().to_dict("records")
    crashed_stats = [r for r in stats_rows if r["batch_id"] == kill_after]
    out.update({
        "rejected_in_crashed_batch": (
            int(crashed_stats[0]["n_rejected"]) if crashed_stats else None
        ),
        "admitted_total": int(sum(r["n_admitted"] for r in stats_rows)),
        "rejected_total": int(sum(r["n_rejected"] for r in stats_rows)),
        "control_store_rows": ctrl_store.count(),
        "chaos_store_rows": chaos_store.count(),
        "store_sym_diff": store_sym_diff,
        "stats_sym_diff_rows": stats_sym_diff,
    })
    return out


def run_selection_gate(spark, chunk_dir: str, out_root: str,
                       n_rows: int | None, after_batch_hook=None,
                       allow_failure: bool = False):
    """run_gate pointed at the DSIR selection gate. Calibration docs =
    the doc_id % SELECTION_CAL_MOD slice of the chunk corpus (batch read
    of the same files), passed to every start — freeze-once semantics
    mean only the FIRST start consumes them; a resume reuses the durable
    model untouched (the contract the restart leg of the chaos protocol
    exercises for real)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
        SELECTION_CAL_MOD,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.selection import (
        read_selection_stream,
        start_selection_gate,
    )

    cal = (
        spark.read.parquet(chunk_dir)
        .filter(F.col("doc_id") % SELECTION_CAL_MOD == 0)
        .select("doc_id", "lang", "text")
    )

    def start_fn(stream, root, after_batch_hook=None):
        return start_selection_gate(stream, root, cal_docs=cal,
                                    after_batch_hook=after_batch_hook)

    return run_gate(spark, chunk_dir, out_root, n_rows,
                    after_batch_hook=after_batch_hook,
                    allow_failure=allow_failure,
                    start_fn=start_fn, query_name="selection_gate",
                    read_fn=read_selection_stream)


def chaos_selection(spark, docs_dir: str, work: str, n_chunks: int,
                    kill_after: int) -> dict:
    """Kill/resume equivalence for the SELECTION gate's durable side
    effects (chaos_gate's protocol pointed at selection_gate_batch).

    The crash is injected in the worst window: after batch
    `kill_after`'s scored-results partition and stats row are written,
    before the checkpoint commit. The restart must reuse the FROZEN
    on-disk model (a re-freeze would shift the threshold mid-stream and
    split the corpus across two contracts), replay the batch against it,
    and land the identical partition via overwrite. Pass = full scored
    row multiset (scores + flags + batch ownership) and per-batch stats
    both sym-diff 0 vs an uninterrupted control, every input row drained
    exactly once, and the crashed batch's decisions mixed (admitted AND
    rejected rows present — a one-sided batch would under-exercise the
    replayed threshold comparison)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.selection import (
        read_selection_results,
        read_selection_stats,
        write_selection_chunks,
    )

    chunk_dir = os.path.join(work, "chaossel_chunks")
    n_rows = write_selection_chunks(spark, docs_dir, chunk_dir,
                                    n_chunks=n_chunks)
    ctrl_root, chaos_root, out = _chaos_crash_replay(
        spark, chunk_dir, work, "chaossel", n_rows, kill_after,
        run_selection_gate,
    )

    # full-row membership, batch ownership included: a replayed batch
    # must rewrite its OWN partition with IDENTICAL scores and flags
    cols = ["doc_id", "lang", "n_feats", "dsir_logratio", "sel_z",
            "admitted", "batch_id"]
    ctrl_res = read_selection_results(spark, ctrl_root).select(cols)
    chaos_res = read_selection_results(spark, chaos_root).select(cols)
    results_sym_diff = (
        ctrl_res.exceptAll(chaos_res).count()
        + chaos_res.exceptAll(ctrl_res).count()
    )
    ctrl_stats = read_selection_stats(spark, ctrl_root)
    chaos_stats = read_selection_stats(spark, chaos_root)
    stats_sym_diff = (
        ctrl_stats.exceptAll(chaos_stats).count()
        + chaos_stats.exceptAll(ctrl_stats).count()
    )
    stats_rows = ctrl_stats.toPandas().to_dict("records")
    crashed = [r for r in stats_rows if r["batch_id"] == kill_after]
    out.update({
        "admitted_in_crashed_batch": (
            int(crashed[0]["n_admitted"]) if crashed else None
        ),
        "rejected_in_crashed_batch": (
            int(crashed[0]["n_scored"] - crashed[0]["n_admitted"])
            if crashed else None
        ),
        "admitted_total": int(sum(r["n_admitted"] for r in stats_rows)),
        "scored_total": int(sum(r["n_scored"] for r in stats_rows)),
        "control_result_rows": ctrl_res.count(),
        "chaos_result_rows": chaos_res.count(),
        "results_sym_diff": results_sym_diff,
        "stats_sym_diff_rows": stats_sym_diff,
    })
    return out


def run_ingest_pipeline(spark, chunk_dir: str, out_root: str,
                        n_rows: int | None, after_batch_hook=None,
                        allow_failure: bool = False):
    """run_gate pointed at the composed INGEST pipeline. Calibration =
    the base-id doc_id % SELECTION_CAL_MOD slice read from the chunk
    corpus itself (freeze-once: only the first start consumes it)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import (
        INGEST_RESUB_OFFSET,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
        SELECTION_CAL_MOD,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        read_ingest_stream,
        start_ingest_pipeline,
    )

    # base-id slice only: doc_id < INGEST_RESUB_OFFSET is the twin's
    # "EXISTING corpus" convention (named constant, not a literal)
    cal = (
        spark.read.parquet(chunk_dir)
        .filter(
            (F.col("doc_id") < INGEST_RESUB_OFFSET)
            & (F.col("doc_id") % SELECTION_CAL_MOD == 0)
        )
        .select("doc_id", "lang", "text")
    )

    def start_fn(stream, root, after_batch_hook=None):
        return start_ingest_pipeline(stream, root, cal_docs=cal,
                                     after_batch_hook=after_batch_hook)

    return run_gate(spark, chunk_dir, out_root, n_rows,
                    after_batch_hook=after_batch_hook,
                    allow_failure=allow_failure,
                    start_fn=start_fn, query_name="ingest_pipeline",
                    read_fn=read_ingest_stream)


def run_ingest_pipeline_arrival(spark, chunk_dir: str, out_root: str,
                                n_rows: int | None, after_batch_hook=None,
                                allow_failure: bool = False):
    """run_ingest_pipeline over the ARRIVAL-ordered chunk layout: the
    stream carries arrival_seq, so the pipeline admits first-seen-wins
    (operators/ingest.py::arrival_order_ingest_pipeline semantics)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import (
        INGEST_RESUB_OFFSET,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
        SELECTION_CAL_MOD,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        read_ingest_stream_arrival,
        start_ingest_pipeline,
    )

    cal = (
        spark.read.parquet(chunk_dir)
        .filter(
            (F.col("doc_id") < INGEST_RESUB_OFFSET)
            & (F.col("doc_id") % SELECTION_CAL_MOD == 0)
        )
        .select("doc_id", "lang", "text")
    )

    def start_fn(stream, root, after_batch_hook=None):
        return start_ingest_pipeline(stream, root, cal_docs=cal,
                                     after_batch_hook=after_batch_hook)

    return run_gate(spark, chunk_dir, out_root, n_rows,
                    after_batch_hook=after_batch_hook,
                    allow_failure=allow_failure,
                    start_fn=start_fn, query_name="ingest_pipeline",
                    read_fn=read_ingest_stream_arrival)


def chaos_ingest(spark, docs_dir: str, work: str, n_chunks: int,
                 kill_after: int, arrival: bool = False) -> dict:
    """Kill/resume equivalence for the composed INGEST pipeline — the
    crash lands after batch `kill_after`'s FOUR sinks (exact store,
    near-dup store, per-doc results, stats) are written but before the
    checkpoint commit, so the replay must recompute all three stages
    against `batch_id < N` views of BOTH stores (its own leaked
    partitions invisible) and land identical flags everywhere. Pass =
    per-doc results (flags + batch ownership) and per-batch stats both
    sym-diff 0 vs an uninterrupted control, exactly-once input
    accounting, and the crashed batch's decisions spread across the
    funnel (exact and near-dup rejections plus kept rows present — a
    batch where only one stage binds under-exercises the replay).
    `arrival` drives the ARRIVAL-ordered chunk layout instead (the
    first-seen-wins contract): same protocol, arrival_seq precedence."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        read_ingest_results,
        read_ingest_stats,
        write_ingest_chunks,
        write_ingest_chunks_arrival,
    )

    chunk_dir = os.path.join(work, "chaosingest_chunks")
    writer = write_ingest_chunks_arrival if arrival else write_ingest_chunks
    n_rows = writer(spark, docs_dir, chunk_dir, n_chunks=n_chunks)
    ctrl_root, chaos_root, out = _chaos_crash_replay(
        spark, chunk_dir, work, "chaosingest", n_rows, kill_after,
        run_ingest_pipeline_arrival if arrival else run_ingest_pipeline,
    )

    cols = ["doc_id", "lang", "exact_ok", "neardup_ok", "kept", "batch_id"]
    ctrl_res = read_ingest_results(spark, ctrl_root).select(cols)
    chaos_res = read_ingest_results(spark, chaos_root).select(cols)
    results_sym_diff = (
        ctrl_res.exceptAll(chaos_res).count()
        + chaos_res.exceptAll(ctrl_res).count()
    )
    ctrl_stats = read_ingest_stats(spark, ctrl_root)
    chaos_stats = read_ingest_stats(spark, chaos_root)
    stats_sym_diff = (
        ctrl_stats.exceptAll(chaos_stats).count()
        + chaos_stats.exceptAll(ctrl_stats).count()
    )
    rows = ctrl_stats.toPandas().to_dict("records")
    crashed = [r for r in rows if r["batch_id"] == kill_after]
    out.update({
        "crashed_batch_stats": (
            {k: int(crashed[0][k]) for k in
             ("n_batch", "n_exact_ok", "n_neardup_ok", "n_kept")}
            if crashed else None
        ),
        "exact_rejected_total": int(
            sum(r["n_batch"] - r["n_exact_ok"] for r in rows)
        ),
        "neardup_rejected_total": int(
            sum(r["n_exact_ok"] - r["n_neardup_ok"] for r in rows)
        ),
        "kept_total": int(sum(r["n_kept"] for r in rows)),
        "control_result_rows": ctrl_res.count(),
        "chaos_result_rows": chaos_res.count(),
        "results_sym_diff": results_sym_diff,
        "stats_sym_diff_rows": stats_sym_diff,
    })
    return out


_COMPACT_CRASH_WINDOWS = ("tmp_complete", "dest_deleted", "renamed")


def _run_compact_crash_child(window: str, store_dir: str, upto: int,
                             flavor: str = "exact") -> int:
    """Run compact_store in a REAL separate process that dies (os._exit,
    filesystem-indistinguishable from SIGKILL) at the named swap window.
    Returns the child's exit code (137 = crashed where injected)."""
    import subprocess
    import sys as _sys

    return subprocess.run(
        [_sys.executable, os.path.abspath(__file__),
         "--compact-crash", window, store_dir, str(upto), flavor],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=600,
    ).returncode


def _compact_crash_child_main(window: str, store_dir: str, upto: int,
                              flavor: str = "exact") -> None:
    """Child-process entry for --compact-crash: own SparkSession, crash
    hook armed at `window`, then the real compact_store (with the
    NEAR-dup store's schema when flavor says so — the same call the
    production maintenance job would make)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming import dedup as sd

    spark = get_spark("compact-crash-child")

    def die(w: str) -> None:
        if w == window:
            os._exit(137)

    sd._compact_crash_hook = die
    schema = sd.NEARDUP_STORE_SCHEMA if flavor == "neardup" else sd.STORE_SCHEMA
    sd.compact_store(spark, store_dir, upto, schema=schema)
    # reaching here means the window never fired — report it as failure
    os._exit(3)


def chaos_compaction(spark, docs_dir: str, work: str, n_chunks: int,
                     flavor: str = "exact") -> dict:
    """Kill the process DURING a live compact_store swap — once per swap
    window — and prove the full operational story end-to-end:

    Protocol: drain phase 1 (half the chunks) once, snapshot the root
    (store + stats + checkpoint), then per window: a REAL subprocess runs
    compact_store against its copy and os._exit(137)s at that window
    (`tmp_complete` = consolidated tmp durable, store intact;
    `dest_deleted` = dest's only copy is the tmp — THE window
    assert_store_not_mid_compaction exists for; `renamed` = dest swapped,
    folded history + benign duplicates remain). After each crash:

    - `dest_deleted`: assert_store_not_mid_compaction must RAISE, and a
      real gate restart over new files must REFUSE the first batch
      (StreamingQueryException carrying the mid-compaction message); then
      a compact_store re-run at the same bound heals the store.
    - `tmp_complete` / `renamed`: the assert must PASS (store intact /
      superset) and the gate restarts with no recovery step — window-3
      leftovers are benign duplicates the membership anti-join folds.

    Every variant (plus an uninterrupted-compaction control) then drains
    phase 2 from its own checkpoint, runs the next scheduled compaction
    at the new committed boundary, and must converge to IDENTICAL store
    membership (multiset) and per-batch admission stats as the control.

    The r9 lesson motivating this: the crash windows were until now
    simulated in-process by pytest (test_compact_store_cross_bound_orphan
    _recovery), and r8's checkpoint namespacing silently broke the chaos
    rehearsal itself for a round — end-to-end kills are the only evidence
    class that catches that.

    `flavor` picks which gate's store is compacted under the kill:
    "exact" (fingerprint store, default schema) or "neardup" (the
    SimHash admission store, schema=NEARDUP_STORE_SCHEMA — membership
    compared on (doc_id, admitted): a flipped admission flag after
    recovery would be a correctness loss the fingerprint diff can't
    see). The neardup lap additionally proves the wrong-schema refusal:
    compact_store pointed at the near-dup store WITHOUT its schema must
    refuse before any destructive step."""
    import glob as _glob
    import shutil as _sh

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        NEARDUP_STORE_SCHEMA,
        STORE_SCHEMA,
        compact_store,
        read_doc_stream,
        read_gate_stats,
        read_neardup_stats,
        start_dedup_gate,
        start_neardup_gate,
        write_doc_chunks,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stats import (
        assert_store_not_mid_compaction,
    )

    if flavor == "neardup":
        schema = NEARDUP_STORE_SCHEMA
        store_name = "neardup_store"
        member_cols = ["doc_id", "admitted"]
        start_gate_fn = start_neardup_gate
        run_gate_fn = run_neardup_gate
        read_stats_fn = read_neardup_stats
    else:
        schema = STORE_SCHEMA
        store_name = "fingerprint_store"
        member_cols = ["fingerprint"]
        start_gate_fn = start_dedup_gate
        run_gate_fn = run_gate
        read_stats_fn = read_gate_stats

    chunk_dir = os.path.join(work, "chaoscompact_chunks")
    hold_dir = os.path.join(work, "chaoscompact_held")
    os.makedirs(hold_dir, exist_ok=True)
    n_rows = write_doc_chunks(spark, docs_dir, chunk_dir, n_chunks=n_chunks)
    chunks_all = sorted(_glob.glob(os.path.join(chunk_dir, "*.parquet")))
    half = len(chunks_all) // 2
    held = []
    for f in chunks_all[half:]:
        dest = os.path.join(hold_dir, os.path.basename(f))
        _sh.move(f, dest)
        held.append((dest, f))

    base_root = os.path.join(work, "chaoscompact_base")
    _, prog1 = run_gate_fn(spark, chunk_dir, base_root, None)
    n_committed = max(p["batchId"] for p in prog1) + 1

    variants = ["ctrl"] + list(_COMPACT_CRASH_WINDOWS)
    roots = {}
    for v in variants:
        roots[v] = os.path.join(work, f"chaoscompact_{v}")
        _sh.copytree(base_root, roots[v])

    store = lambda r: os.path.join(r, store_name)  # noqa: E731

    wrong_schema_refused = None
    if flavor == "neardup":
        # the guard this store's silent-drop hazard motivated: the
        # default (exact) schema pointed at the near-dup store must
        # refuse BEFORE any destructive step — probe on a scratch copy
        probe = os.path.join(work, "chaoscompact_schema_probe")
        _sh.copytree(base_root, probe)
        try:
            compact_store(spark, os.path.join(probe, store_name), n_committed)
            wrong_schema_refused = False
        except IOError as e:
            wrong_schema_refused = "wrong `schema`" in str(e)
        probe_rows = spark.read.schema(schema).parquet(
            os.path.join(probe, store_name)
        ).count()
        base_rows = spark.read.schema(schema).parquet(
            store(base_root)
        ).count()
        wrong_schema_refused = bool(
            wrong_schema_refused and probe_rows == base_rows
        )

    compact_store(spark, store(roots["ctrl"]), n_committed, schema=schema)

    results: dict[str, dict] = {}
    for w in _COMPACT_CRASH_WINDOWS:
        rc = _run_compact_crash_child(w, store(roots[w]), n_committed,
                                      flavor=flavor)
        assert_fired = False
        try:
            assert_store_not_mid_compaction(spark, store(roots[w]))
        except IOError as e:
            assert_fired = "mid-compaction" in str(e)
        results[w] = {"child_exit": rc, "assert_fired": assert_fired}

    # new files become visible to every variant's phase-2 drain
    for src, dest in held:
        _sh.move(src, dest)

    # the dest_deleted window must also refuse a REAL gate restart before
    # recovery — the first new batch dies on the mid-compaction check
    from pyspark.errors.exceptions.captured import StreamingQueryException

    refused = False
    q = start_gate_fn(
        read_doc_stream(spark, chunk_dir), roots["dest_deleted"]
    )
    try:
        q.processAllAvailable()
    except StreamingQueryException as e:
        refused = "mid-compaction" in str(e)
    finally:
        q.stop()
    results["dest_deleted"]["gate_restart_refused"] = refused
    # recovery: the documented operator move — re-run compact_store
    results["dest_deleted"]["recovered_rows"] = compact_store(
        spark, store(roots["dest_deleted"]), n_committed, schema=schema
    )

    # phase-2 drain everywhere (tmp_complete / renamed restart directly —
    # no recovery step by design), then the next scheduled compaction
    finals = {}
    for v in variants:
        _, prog2 = run_gate_fn(spark, chunk_dir, roots[v], None)
        n2 = max(
            [p["batchId"] for p in prog1 + prog2]
        ) + 1
        compact_store(spark, store(roots[v]), n2, schema=schema)
        finals[v] = prog2

    ctrl_store = spark.read.parquet(store(roots["ctrl"]))
    ctrl_stats = read_stats_fn(spark, roots["ctrl"])
    out = {"rows_expected": n_rows, "phase1_batches": n_committed,
           "flavor": flavor, "windows": results}
    if wrong_schema_refused is not None:
        out["wrong_schema_refused"] = wrong_schema_refused
    ok = all(
        r["child_exit"] == 137 for r in results.values()
    ) and results["dest_deleted"]["assert_fired"] and refused and not (
        results["tmp_complete"]["assert_fired"]
        or results["renamed"]["assert_fired"]
    ) and wrong_schema_refused is not False
    for w in _COMPACT_CRASH_WINDOWS:
        s = spark.read.parquet(store(roots[w]))
        st = read_stats_fn(spark, roots[w])
        sym = (
            ctrl_store.select(*member_cols)
            .exceptAll(s.select(*member_cols)).count()
            + s.select(*member_cols)
            .exceptAll(ctrl_store.select(*member_cols)).count()
        )
        stats_sym = (
            ctrl_stats.exceptAll(st).count() + st.exceptAll(ctrl_stats).count()
        )
        results[w]["store_sym_diff"] = sym
        results[w]["stats_sym_diff_rows"] = stats_sym
        results[w]["store_rows"] = s.count()
        ok = ok and sym == 0 and stats_sym == 0
    out["control_store_rows"] = ctrl_store.count()
    out["pass"] = bool(ok)
    return out


def compaction_ab(spark, docs_dir: str, work: str, n_chunks: int) -> dict:
    """A/B the gate-store compaction op across a two-phase drain.

    Both variants stage the SAME chunk files: drain the first half,
    stop; variant B then runs compact_store up to the committed
    boundary; both resume with the second half moved in. Compared:
    phase-2 mean per-batch trigger time (the listing/small-file overhead
    compaction exists to bound) and final store membership (must be
    IDENTICAL — compaction may never change admission)."""
    import glob as _glob
    import shutil as _sh

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import (
        compact_store,
        write_doc_chunks,
    )

    def run_variant(tag: str, compact_between: bool) -> dict:
        chunk_dir = os.path.join(work, f"{tag}_chunks")
        hold_dir = os.path.join(work, f"{tag}_held")
        out_root = os.path.join(work, f"{tag}_out")
        os.makedirs(hold_dir, exist_ok=True)
        n_rows = write_doc_chunks(spark, docs_dir, chunk_dir,
                                  n_chunks=n_chunks)
        chunks = sorted(_glob.glob(os.path.join(chunk_dir, "*.parquet")))
        half = len(chunks) // 2
        held = []
        for f in chunks[half:]:
            dest = os.path.join(hold_dir, os.path.basename(f))
            _sh.move(f, dest)
            held.append((dest, f))

        _, prog1 = run_gate(spark, chunk_dir, out_root, None)
        n_committed = max(p["batchId"] for p in prog1) + 1
        compacted_rows = None
        if compact_between:
            compacted_rows = compact_store(
                spark, os.path.join(out_root, "fingerprint_store"),
                n_committed,
            )
        for src, dest in held:
            _sh.move(src, dest)
        _, prog2 = run_gate(spark, chunk_dir, out_root, None)

        t2 = [v for v in (p["durationMs"].get("triggerExecution")
                          for p in prog2 if p["numInputRows"] > 0)
              if v is not None]
        store = spark.read.parquet(
            os.path.join(out_root, "fingerprint_store"))
        return {
            "phase1_batches": len([p for p in prog1 if p["numInputRows"] > 0]),
            "phase2_batches": len(t2),
            "compacted_rows": compacted_rows,
            "phase2_mean_trigger_ms": round(sum(t2) / max(1, len(t2)), 1),
            "phase2_drift_x": trigger_drift(
                [{"trigger_ms": v} for v in t2]),
            "rows_drained": sum(
                p["numInputRows"] for p in prog1 + prog2),
            "rows_expected": n_rows,
            "store_rows": store.count(),
            "_store": store,
        }

    a = run_variant("compab_base", compact_between=False)
    b = run_variant("compab_compacted", compact_between=True)
    sym = (
        a["_store"].select("fingerprint").exceptAll(
            b["_store"].select("fingerprint")).count()
        + b["_store"].select("fingerprint").exceptAll(
            a["_store"].select("fingerprint")).count()
    )
    a.pop("_store"); b.pop("_store")
    return {
        "uncompacted": a,
        "compacted": b,
        "store_sym_diff": sym,
        "phase2_trigger_ratio_compacted_vs_not": round(
            b["phase2_mean_trigger_ms"] / a["phase2_mean_trigger_ms"], 3
        ),
    }


# ----------------------------------------------------------------- join

def drain_join(spark, replay_dir: str, name: str,
               expected_rows: int | None) -> dict:
    """Drain the watermarked stream-stream interval join (T2+, the op
    with genuinely unbounded-LOOKING state). The claim under test: live
    join state is bounded by rate x JOIN_LOOKBACK (both sides buffer
    only until the other side's watermark passes the interval), so at
    10x volume delivered as a LONGER stream (replicas extend event time)
    peak state rows stay ~flat and per-batch trigger time does not grow
    across the drain.

    NOTE on memoryUsedBytes (same caveat as drain_stateful): RocksDB
    reports memtable + block-cache ALLOCATION, which accretes with
    commit count in exact 1,048,584-byte arena blocks until
    flush/compaction reclaims it — the committed r7 artifact carries a
    `state_mem_attribution` object deriving this from its own batch
    curve (quantized steps, 128-instance base decomposition, post-flush
    collapse to sub-MB). Live rows and SST bytes are the state-size
    evidence."""
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.pipeline import (
        purchase_click_join_stream,
    )

    def start_fn(stream, n):
        return (
            purchase_click_join_stream(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(n)
            .start()
        )

    return drain(spark, replay_dir, name, expected_rows, start_fn=start_fn)


if __name__ == "__main__":
    main()
