"""Streaming incremental dedup gate: per-micro-batch admission against a
growing fingerprint store — the streaming twin of the batch
`incremental_dedup_gate` (operators/curation.py).

Each micro-batch of incoming documents computes md5 fingerprints,
anti-joins the durable fingerprint store (parquet), writes the
newly-admitted fingerprints into the store under the batch's OWN
`batch_id=N` partition, and records one stats row per batch — the
batch-owned store layout whose replay contract streaming/stats.py
states once for every gate.

At 100 TB the store is a fingerprint-only table: 16-byte keys, orders of
magnitude smaller than the corpus. The per-batch anti-join shuffles only
the batch's fingerprints; with the store bucketed on fingerprint the
exchange disappears entirely, and a broadcast Bloom filter of the store
serves as the cheap first-pass gate in front of the exact join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from reddit_sentiment_spark_streaming_pipeline_spark.functions.hashing import hamming_expr
from reddit_sentiment_spark_streaming_pipeline_spark.operators.curation import (
    arrival_seq_col,
    snapshot_existing,
    snapshot_incoming,
)
from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
    HAMMING_THRESHOLD,
    simhash_chunk_rows,
    simhash_fp,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.replay import (
    read_chunk_stream,
    write_chunks,
)
from reddit_sentiment_spark_streaming_pipeline_spark.streaming.stats import (
    _compact_tmp_dirs,
    assert_store_not_mid_compaction,  # noqa: F401 — re-exported for callers
    count_true,
    hadoop_fs,
    prior_partitions,
    start_gate,
    write_partition,
    write_stats_row,
)

DOC_CHUNK_SCHEMA = "doc_id bigint, text string, source string"

# Arrival-order variant: the stream carries an explicit arrival_seq and
# the gate's within-batch keep-first window orders by it — first-SEEN-
# wins, the production admission rule for a crawl that does NOT deliver
# in id order (batch order supplies the cross-batch arrival order; the
# column supplies it within a batch). Semantics spec:
# operators/curation.py::arrival_order_exact_gate.
ARRIVAL_CHUNK_SCHEMA = DOC_CHUNK_SCHEMA + ", arrival_seq string"

# Durable fingerprint store layout: data columns + the batch-owned
# partition column (from the batch_id=N directory names).
STORE_SCHEMA = "fingerprint string, doc_id bigint, source string, batch_id bigint"

GATE_STATS_SCHEMA = "n_batch long, n_admitted long, n_rejected long"


def arrival_cols(df: DataFrame) -> list[str]:
    """``["arrival_seq"]`` when the frame carries the arrival-order
    column, else ``[]``. With it, every within-batch precedence orders
    by (arrival_seq, doc_id) — first-SEEN-wins — and every store row
    blocks (it arrived in a strictly earlier batch); without it the
    id-ordered-replay rules order by doc_id."""
    return ["arrival_seq"] if "arrival_seq" in df.columns else []


def _snapshot_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    existing = snapshot_existing(spark, sf_dir)
    return existing.unionByName(snapshot_incoming(existing))


def write_doc_chunks(spark: SparkSession, sf_dir: str, out_dir: str,
                     n_chunks: int = 4) -> int:
    """Replayable document chunks with planted cross-batch duplicates.

    Corpus = the shared snapshot fixture (operators/curation.py):
    originals ∪ exact resubmits (doc_id+1M) ∪ tailed novel docs
    (doc_id+2M), range-partitioned on doc_id. Resubmit ids all exceed
    original ids, so a resubmit replays in a strictly LATER batch than
    its original — the cross-batch rejection case — except when the
    original itself falls in the last id-range chunk (range boundaries
    balance row counts, so the final chunk mixes the tail of the
    originals with the resubmits); those few same-batch collisions are
    covered by the gate's within-batch keep-first window instead.
    Returns the corpus row count.
    """
    return write_chunks(_snapshot_corpus(spark, sf_dir), out_dir, n_chunks, "doc_id")


def read_doc_stream(spark: SparkSession, chunk_dir: str,
                    max_files_per_trigger: int = 1) -> DataFrame:
    return read_chunk_stream(spark, chunk_dir, DOC_CHUNK_SCHEMA, max_files_per_trigger)


def write_doc_chunks_arrival(spark: SparkSession, sf_dir: str, out_dir: str,
                             n_chunks: int = 4) -> int:
    """Replayable chunks of the snapshot corpus in ARRIVAL order: each
    doc carries its deterministic arrival_seq and chunks are
    range-partitioned on it, so replay delivers the corpus the way a
    crawl would — id order scrambled, resubmits often arriving before
    their originals. The gate driven over these chunks must land the
    arrival_order_exact_gate twin's admission set exactly."""
    corpus = _snapshot_corpus(spark, sf_dir).withColumn("arrival_seq", arrival_seq_col())
    return write_chunks(corpus, out_dir, n_chunks, "arrival_seq")


def read_doc_stream_arrival(spark: SparkSession, chunk_dir: str,
                            max_files_per_trigger: int = 1) -> DataFrame:
    return read_chunk_stream(spark, chunk_dir, ARRIVAL_CHUNK_SCHEMA, max_files_per_trigger)


# Most batch fingerprints we'd ever pin executor-resident: md5 hex +
# join-row overhead ≈ 80 B/row, 2M rows ≈ 160 MB — same sizing logic as
# the span join-back's SPAN_REP_BROADCAST_MAX (operators/dedup.py). The
# gates read it at call time, so a rehearsal that sets it to 0 forces
# every batch through the shuffle-hash fallback and drives the
# post-switch regime at volume, not just plan-pinned.
GATE_BATCH_BROADCAST_MAX = 2_000_000


def novel_against_store(firsts: DataFrame, store: DataFrame,
                        batch_rows: int | None = None) -> DataFrame:
    """Batch rows whose fingerprint is absent from the durable store.

    Inverted anti-join: a direct ``firsts LEFT ANTI store`` cannot
    broadcast its LEFT side, so once the store outgrows the
    auto-broadcast threshold the plan degrades to a sort-merge join that
    SHUFFLES THE WHOLE STORE every micro-batch — and the store deepens
    with history, so per-batch cost would grow with stream lifetime.
    Instead the store streams map-side against the broadcast batch
    (left-semi, output bounded by batch size), and the anti join runs
    tiny-vs-tiny. The store is scanned once and never shuffled,
    whatever its size (plan-pinned in tests/test_plans.py).

    The inversion pins the BATCH in every executor, so it is gated on
    the measured batch size (``batch_rows``, the count gate_batch has
    already paid for): a pathological batch (a backfill replay that
    delivers the whole history in one trigger) above
    GATE_BATCH_BROADCAST_MAX falls back to a sort-free shuffle-hash
    anti join — the store shuffles once for THAT batch (linear,
    slow-but-correct) instead of the broadcast OOM-ing the driver.
    ``batch_rows=None`` (tests, plan dumps) keeps the broadcast shape.
    """
    if batch_rows is not None and batch_rows > GATE_BATCH_BROADCAST_MAX:
        return firsts.join(
            store.hint("shuffle_hash"), "fingerprint", "left_anti"
        )
    seen = store.join(
        F.broadcast(firsts.select("fingerprint")), "fingerprint", "left_semi"
    )
    return firsts.join(F.broadcast(seen), "fingerprint", "left_anti")


def gate_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
               stats_dir: str) -> None:
    """Admit the batch's unseen fingerprints into the store; upsert stats.

    Within-batch collisions keep the lowest doc_id (the same greedy
    keep-first rule as the batch operators) — or the first arrival_seq
    when the stream carries one (ARRIVAL_CHUNK_SCHEMA: first-seen-wins
    for unordered ingestion); cross-batch collisions are rejected by
    the store anti-join against the batch's `prior_partitions` view.
    """
    spark = batch_df.sparkSession
    # persist the fingerprint projection ONCE: the actions below (batch
    # count, store write) would otherwise each re-scan the streaming
    # source — 2× the input read per micro-batch (and an inflated
    # numInputRows in query progress)
    arrival = arrival_cols(batch_df)
    fps = batch_df.select(
        "doc_id", "source", *arrival, F.md5("text").alias("fingerprint")
    ).persist()
    try:
        w = Window.partitionBy("fingerprint").orderBy(*arrival, "doc_id")
        firsts = (
            fps.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        n_batch = fps.count()
        store = prior_partitions(spark, store_dir, STORE_SCHEMA, batch_id)
        admitted = (
            firsts if store is None
            else novel_against_store(firsts, store.select("fingerprint"),
                                     batch_rows=n_batch)
        )
        n_admitted = write_partition(
            admitted, store_dir, batch_id, "fingerprint", "doc_id", "source",
            n=F.count(F.lit(1)),
        )["n"]
    finally:
        fps.unpersist()
    write_stats_row(spark, stats_dir, batch_id, GATE_STATS_SCHEMA,
                    (n_batch, n_admitted, n_batch - n_admitted))


def read_gate_stats(spark: SparkSession, out_root: str) -> DataFrame:
    """Per-batch admission stats with batch_id recovered from partitions."""
    return spark.read.parquet(os.path.join(out_root, "gate_stats"))


# Rehearsal-only crash injection for the kill-during-compaction chaos lap
# (tools/streaming_rehearsal.py --scenario chaos-compact): compact_store
# names its swap windows through _crash_point so a REHEARSAL SUBPROCESS can
# die (os._exit, indistinguishable from SIGKILL to the filesystem) at an
# exact point inside the swap. Never set in production wiring — the same
# contract as start_dedup_gate's after_batch_hook.
_compact_crash_hook = None


def _crash_point(window: str) -> None:
    if _compact_crash_hook is not None:
        _compact_crash_hook(window)


def compact_store(spark: SparkSession, store_dir: str,
                  upto_batch_id: int, schema: str = STORE_SCHEMA) -> int:
    """Fold the batch-owned store partitions `batch_id < upto_batch_id`
    into the single partition `batch_id = upto_batch_id - 1`.

    `schema` names the store's row layout (the explicit read schema —
    same no-footer-inference rationale as gate_batch's store read); the
    crash contract, tmp-sibling recovery, and the measured payoff curve
    are all LAYOUT-level properties of the batch-owned partition scheme,
    independent of the row schema, so the exact gate's store (default)
    and the NEAR-dup gate's store (pass NEARDUP_STORE_SCHEMA) share this
    one implementation. Folding is safe for the near-dup store for the
    same reason it is for the exact store: every row — admitted or
    rejected blocker — is preserved verbatim under a label that still
    satisfies `batch_id < N` for every batch N that can still run.

    The batch-owned layout trades replay determinism for one directory
    per micro-batch; over a long stream lifetime the per-batch store scan
    pays partition-listing and small-file overhead O(#batches). This is
    the standard maintenance op that bounds it: fold history into one
    partition whose label still satisfies `batch_id < N` for every batch
    N that can still run.

    MEASURED PAYOFF (REHEARSAL_r08_compaction_payoff.json, synthetic
    stores at fixed tiny data volume so only the partition count
    varies): a wash at <=256 store partitions (0.96-1.00x), 1.42x
    faster gate batches at 1024, 1.79x at 2048 — the crossover is
    ~1000 partitions, so schedule this op every O(1000) micro-batches;
    more often is pure overhead.

    SAFETY CONTRACT: `upto_batch_id` must be at most the last batch the
    STREAM'S CHECKPOINT has committed (+1). Only the newest uncommitted
    batch can ever replay; committed batches never re-run, so relabeling
    their rows to `upto_batch_id - 1` can't leak them out of any future
    batch's `batch_id < N` anti-join view. Compacting an UNcommitted
    batch would relabel rows the replay still needs excluded — callers
    run this between drains (stream stopped) or pass the committed
    boundary read from the checkpoint's commits log.

    Returns the number of rows in the consolidated partition.

    CRASH SAFETY (additive-first swap): the invariant is that the union
    of the `batch_id < upto_batch_id` partitions PLUS every complete
    (`_SUCCESS`-marked) `.compact_tmp_*` sibling is a superset of true
    membership at every instant — duplicate rows across those sources
    are benign for the gate's membership anti-join (dropDuplicates folds
    them), but a missing fingerprint would re-admit a duplicate
    document, so no source is ever deleted before a consolidated copy
    containing its rows is durably in place. NOTE the store partitions
    ALONE do not carry the invariant through the delete→rename window
    below: between step 2's delete and its rename, `batch_id=dest`'s
    rows exist only in the tmp. Recovery therefore keys on the tmp
    SIBLINGS, not on the exact bound being retried:

      0. every complete orphan tmp (a crashed compaction at ANY earlier
         bound) is unioned into the rebuild as a source — so a crash at
         bound A between delete and rename is healed by the next
         scheduled compaction at bound B > A, not only by an exact
         re-run at A. Incomplete tmps (no _SUCCESS) mean their run never
         deleted anything; they are garbage and are removed. A complete
         orphan at a bound BEYOND this call's (d >= upto_batch_id)
         is refused loudly: folding its rows under a LOWER label would
         discard the proof that those batches were committed — re-run
         at the higher bound instead.
      1. materialize the consolidated copy to a tmp dir (reused as-is
         on a re-run that finds a complete tmp with _SUCCESS and no
         orphans — rebuilding from a partially-swapped store would drop
         the rows whose only surviving copy IS the tmp; when orphans
         DO coexist with a complete tmp, both are sources and the
         rebuild goes to a scratch `.merge` dir so neither is deleted
         before the consolidated copy is durable);
      2. delete only `batch_id=dest`, rename the build dir into its
         place, and FAIL LOUDLY if the FS rename reports failure;
      3. only then delete the remaining folded partitions and the
         now-folded tmp siblings.

    A crash in window 1 leaves the store untouched; in window 2 the tmp
    (complete, _SUCCESS-marked) survives and ANY later run — same bound
    or higher — folds it back in; in window 3 the store holds the full
    consolidated partition plus benign leftover duplicates that the
    re-run's dropDuplicates folds away. A gate restarted while the
    store sits in window 2 refuses loudly instead of reading the
    partial store (assert_store_not_mid_compaction, run by every gate's
    stats.prior_partitions read). Idempotent: re-running with the same bound converges
    to the same single consolidated partition.
    """
    dest = upto_batch_id - 1
    if dest < 0:
        return 0
    tmp = store_dir.rstrip("/") + f".compact_tmp_{dest}"
    # all FS ops go through the store's OWN filesystem (stats.hadoop_fs)
    fs, hpath = hadoop_fs(spark, store_dir)
    root = hpath(store_dir)
    orphans = []
    for d, path, complete in _compact_tmp_dirs(spark, store_dir):
        if d == dest:
            continue
        if not complete:
            # its run crashed before deleting anything: store intact,
            # the partial tmp is pure garbage
            fs.delete(hpath(path), True)
            continue
        if d >= upto_batch_id:
            raise IOError(
                f"compact_store: found a complete interrupted compaction "
                f"at a HIGHER bound ({path}); re-run with "
                f"upto_batch_id={d + 1} (>= its bound) instead of "
                f"{upto_batch_id} so its rows keep their committed label"
            )
        orphans.append(path)
    tmp_complete = fs.exists(hpath(os.path.join(tmp, "_SUCCESS")))
    build = tmp
    if not tmp_complete or orphans:
        data_cols = [
            field.strip().split()[0]
            for field in schema.split(",")
            if field.strip().split()[0] != "batch_id"
        ]
        # SCHEMA GUARD before any destructive step: a wrong-schema read
        # does NOT fail — Spark fills missing columns with null — so
        # compacting the NEAR-dup store with the default exact-store
        # schema would silently rewrite dest as (null fingerprints,
        # doc_id, source), drop h0..h3 + admitted, delete the folded
        # history, and every later batch would re-admit every near-dup.
        # The footer of a COMMITTED partition is complete by the safety
        # contract (only the newest uncommitted batch can be partial),
        # so check the declared data columns against what is actually
        # on disk and refuse loudly on mismatch.
        committed = sorted(
            status.getPath().toString()
            for status in fs.listStatus(root)
            if status.getPath().getName().startswith("batch_id=")
            and status.getPath().getName().split("=", 1)[1].isdigit()
            and int(status.getPath().getName().split("=", 1)[1])
            < upto_batch_id
        )
        if committed:
            on_disk = set(spark.read.parquet(committed[0]).schema.fieldNames())
            missing = [c for c in data_cols if c not in on_disk]
            if missing:
                raise IOError(
                    f"compact_store: declared schema columns {missing} are "
                    f"absent from the store's parquet ({sorted(on_disk)}); "
                    "wrong `schema` for this store (e.g. compacting a "
                    "near-dup store without schema=NEARDUP_STORE_SCHEMA) "
                    "— refusing to rewrite history with null columns"
                )
        store = (
            spark.read.schema(schema)
            .parquet(store_dir)
            .filter(F.col("batch_id") < upto_batch_id)
            .select(*data_cols)
        )
        # every complete tmp sibling is a source: for a window-2 crash
        # (its batch partition deleted) it holds the ONLY copy of those
        # rows; otherwise its rows duplicate the store and the
        # dropDuplicates below folds them. Same reasoning covers this
        # bound's own complete tmp when orphans force a rebuild.
        sources = [spark.read.parquet(p) for p in orphans]
        if tmp_complete:
            sources.append(spark.read.parquet(tmp))
            # never delete-then-overwrite the complete tmp: until the
            # merged copy is durable it may be the only copy of dest's
            # rows, so the rebuild goes to a scratch sibling instead
            build = tmp + ".merge"
        for s in sources:
            store = store.unionByName(s)
        # exact duplicates exist only when a prior run crashed after
        # its rename (window 3) or left tmp siblings: identical full
        # rows, so keep-any is deterministic.
        store.dropDuplicates() \
            .coalesce(max(1, spark.sparkContext.defaultParallelism // 8)) \
            .write.mode("overwrite").parquet(build)
    n = spark.read.parquet(build).count()
    _crash_point("tmp_complete")  # window 1->2 boundary: tmp durable, store intact
    dest_path = hpath(os.path.join(store_dir, f"batch_id={dest}"))
    if fs.exists(dest_path):
        fs.delete(dest_path, True)
    _crash_point("dest_deleted")  # window 2: dest's only copy is the tmp
    if not fs.rename(hpath(build), dest_path):
        raise IOError(
            f"compact_store: rename {build} -> batch_id={dest} failed; "
            "store history is intact in the tmp dir — re-run to resume"
        )
    _crash_point("renamed")  # window 3: dest swapped, folded history remains
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        try:
            bid = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if bid < upto_batch_id and bid != dest:
            fs.delete(status.getPath(), True)
    # the consolidated partition now contains every tmp sibling's rows.
    # ORDER MATTERS: the stale current-bound tmp goes FIRST. It is a
    # subset of dest that a same-bound re-run would TRUST (complete tmp +
    # no orphans → reuse path), so if a crash left it behind after the
    # orphans were gone, the re-run would swap the subset over the merged
    # dest and lose the orphan rows. Deleting it before the orphans keeps
    # every intermediate state recoverable: whatever remains is either a
    # superset source (orphans re-union on the next run) or dest itself.
    if build != tmp:
        fs.delete(hpath(tmp), True)
    for path in orphans:
        fs.delete(hpath(path), True)
    return n


# ------------------------------------------------ NEAR-dup admission gate

# Durable near-dup store: one row per SEEN doc (admitted or not) — a
# rejected doc must still block later near-copies of itself, or admission
# would depend on micro-batch boundaries. 4 x 16-bit SimHash chunks +
# flags ≈ 40 B/row: fingerprints only, never documents.
NEARDUP_STORE_SCHEMA = (
    "doc_id bigint, source string, h0 int, h1 int, h2 int, h3 int, "
    "admitted boolean, batch_id bigint"
)


def near_rejected(a_rows: DataFrame, b_rows: DataFrame,
                  s_rows: DataFrame | None, batch_rows: int | None,
                  arrival: bool) -> DataFrame:
    """Batch doc_ids (pre-distinct) that an EARLIER seen doc near-matches
    (shares a 16-bit (ci, cv) chunk AND Hamming <= HAMMING_THRESHOLD):
    `a_rows` are the batch's (ci, cv, d) chunk rows, `b_rows` those batch
    rows that may block within the batch, `s_rows` the store's blocking
    chunk rows (already `batch_id < N`) or None. Shared by the near-dup
    gate and the ingest pipeline's stage 2.

    Earlier means a smaller doc_id — or, for an `arrival` stream, a
    smaller (arrival_seq, doc_id) within the batch, while EVERY store row
    blocks (it arrived in a strictly earlier batch).

    Normal regime: the store's chunk rows stream map-side against the
    BROADCAST batch chunk rows (the novel_against_store inversion) — the
    store is scanned once and never shuffled, whatever its depth, and
    Hamming verifies inline so only rejected batch doc_ids survive. The
    inversion pins 4 chunk rows per doc in every executor, so it is gated
    on the measured batch size ``batch_rows``: a backfill-sized batch
    above GATE_BATCH_BROADCAST_MAX // 4 docs (÷4: the broadcast carries
    chunk ROWS, not docs) falls back to sort-free shuffle-hash joins on
    (ci, cv) — the store shuffles once for THAT batch (linear,
    slow-but-correct) instead of the broadcast OOM-ing the driver, and
    the within-batch self-join takes the same hint so a backfill batch
    never sorts 4×batch rows twice. ``batch_rows=None`` (plan dumps)
    keeps the broadcast shape. Both regimes are plan-pinned in
    tests/test_plans.py.
    """
    fallback = (batch_rows is not None
                and batch_rows > GATE_BATCH_BROADCAST_MAX // 4)
    a = a_rows.select("ci", "cv", F.col("d").alias("a"))
    b = b_rows.select("ci", "cv", F.col("d").alias("b"))
    if arrival:
        earlier = (F.col("b.arrival_seq") < F.col("a.arrival_seq")) | (
            (F.col("b.arrival_seq") == F.col("a.arrival_seq"))
            & (F.col("b.doc_id") < F.col("a.doc_id"))
        )
    else:
        earlier = F.col("b.doc_id") < F.col("a.doc_id")
    ham_ab = F.expr(hamming_expr("a.h", "b.h", "spark"))
    rej = (
        a.join(b.hint("shuffle_hash") if fallback else b, ["ci", "cv"])
        .filter(earlier)
        .filter(ham_ab <= HAMMING_THRESHOLD)
        .select(F.col("a.doc_id").alias("doc_id"))
    )
    if s_rows is None:
        return rej
    ham_sa = F.expr(hamming_expr("s.h", "a.h", "spark"))
    batch_side = a.hint("shuffle_hash") if fallback else F.broadcast(a)
    vs_store = (
        s_rows.select("ci", "cv", F.col("d").alias("s"))
        .join(batch_side, ["ci", "cv"])
        .filter(
            F.lit(True) if arrival else (F.col("s.doc_id") < F.col("a.doc_id"))
        )
        .filter(ham_sa <= HAMMING_THRESHOLD)
        .select(F.col("a.doc_id").alias("doc_id"))
    )
    return rej.unionByName(vs_store)


def neardup_rejected(fps: DataFrame, store: DataFrame | None,
                     batch_rows: int | None = None) -> DataFrame:
    """Batch doc_ids rejected by an earlier SimHash near-match — within
    the batch or against the (already batch_id-filtered) durable store
    (`near_rejected`; every batch chunk row may block). ``batch_rows`` is
    the count neardup_gate_batch has already paid for."""
    arrival = arrival_cols(fps)
    bcl = simhash_chunk_rows(
        fps.select("doc_id", "h0", "h1", "h2", "h3", *arrival), extra=tuple(arrival)
    )
    scl = None if store is None else simhash_chunk_rows(
        store.select("doc_id", "h0", "h1", "h2", "h3")
    )
    return near_rejected(bcl, bcl, scl, batch_rows, bool(arrival))


def neardup_gate_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                       stats_dir: str) -> None:
    """Admit each batch doc iff NO earlier seen doc is a SimHash
    near-match (shares a 16-bit chunk AND Hamming <= 8) — the streaming
    production path of the batch `incremental_neardup_gate` twin
    (operators/dedup.py), which is the oracle-checked semantics spec.
    For id-ordered replay (write_doc_chunks' range partitioning) the
    drained admission set is EXACTLY the batch twin's, proven by
    tests/test_streaming.py::test_neardup_gate_matches_batch_twin. Every
    batch writes ALL its rows, admitted flagged, into its own store
    partition: a rejected doc must keep blocking its later near-copies.

    Scale shape: see near_rejected — store never shuffled in the normal
    regime. A degenerate chunk value whose store bucket floods grows the
    per-batch verify linearly with that bucket — bounded by the store
    scan the gate already pays, never by |store|^2.
    """
    spark = batch_df.sparkSession
    # persist ONE projection of the batch and materialize it up front:
    # the plan below references the batch twice (token rows for the
    # fingerprint aggregate + the source-column join-back), which would
    # otherwise scan the streaming source twice per micro-batch — 2× the
    # ingest I/O and a 2×-inflated numInputRows in query progress (the
    # chaos-neardup rehearsal caught exactly that). The count() is what
    # makes the single scan deterministic: without it the two join
    # branches race to fill the cache. The raw-text cache is dead the
    # moment fps materializes, so it is released THERE — not at batch
    # end: a backfill-sized micro-batch must not keep corpus-sized text
    # blocks resident while the store joins and partition writes run
    # (gate_batch persists only its md5 projection for the same reason).
    side_cols = ["doc_id", "source", *arrival_cols(batch_df)]
    base = batch_df.select("doc_id", "text", *side_cols[1:]).persist()
    fp = simhash_fp(base.select("doc_id", "text"))
    fps = fp.join(base.select(*side_cols), "doc_id").persist()
    try:
        base.count()
        n_batch = fps.count()
        base.unpersist()
        store = prior_partitions(spark, store_dir, NEARDUP_STORE_SCHEMA, batch_id)
        rejected = (
            neardup_rejected(fps, store, batch_rows=n_batch)
            .distinct().withColumn("r", F.lit(1))
        )
        out = fps.join(rejected, "doc_id", "left").select(
            "doc_id", "source", "h0", "h1", "h2", "h3",
            F.col("r").isNull().alias("admitted"),
        )
        n_admitted = write_partition(out, store_dir, batch_id,
                                     n=count_true("admitted"))["n"]
    finally:
        fps.unpersist()
        base.unpersist()
    write_stats_row(spark, stats_dir, batch_id, GATE_STATS_SCHEMA,
                    (n_batch, n_admitted, n_batch - n_admitted))


def read_neardup_store(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_root, "neardup_store"))


def read_neardup_stats(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_root, "neardup_stats"))


def start_neardup_gate(docs_stream: DataFrame, out_root: str,
                       after_batch_hook=None) -> StreamingQuery:
    """foreachBatch NEAR-dup gate under its own output root (don't share
    a root with the exact gate); wiring and hook contract: stats.start_gate."""
    store_dir = os.path.join(out_root, "neardup_store")
    stats_dir = os.path.join(out_root, "neardup_stats")
    return start_gate(
        docs_stream, out_root, "neardup_gate",
        lambda df, bid: neardup_gate_batch(df, bid, store_dir, stats_dir),
        after_batch_hook,
    )


def start_dedup_gate(docs_stream: DataFrame, out_root: str,
                     after_batch_hook=None) -> StreamingQuery:
    """foreachBatch exact-dedup gate under its own output root; wiring
    and the ``after_batch_hook(batch_id)`` crash-injection contract:
    stats.start_gate."""
    store_dir = os.path.join(out_root, "fingerprint_store")
    stats_dir = os.path.join(out_root, "gate_stats")
    return start_gate(
        docs_stream, out_root, "dedup_gate",
        lambda df, bid: gate_batch(df, bid, store_dir, stats_dir),
        after_batch_hook,
    )
