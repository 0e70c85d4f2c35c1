"""Physical-plan posture regression tests.

Correctness is the oracle's job; these pin the *scale* properties —
broadcast joins for dims, predicate pushdown into parquet scans, top-k via
TakeOrderedAndProject, payload columns pruned out — so a refactor that
silently degrades the 100 TB plan fails CI even though results stay right.
"""

from __future__ import annotations

import contextlib
import io

from reddit_sentiment_spark_streaming_pipeline_spark import registry
from reddit_sentiment_spark_streaming_pipeline_spark.operators import dedup, similarity
from reddit_sentiment_spark_streaming_pipeline_spark.streaming import dedup as streaming_dedup

# Every measured broadcast gate's row budget, each read at call time:
# setting all of them to 0 puts every gated join in its fallback regime.
GATE_BUDGETS = (
    (dedup, "PAIR_DOCSET_BROADCAST_MAX"),
    (dedup, "SPAN_REP_BROADCAST_MAX"),
    (similarity, "COS_PAIR_BROADCAST_MAX"),
    (streaming_dedup, "GATE_BATCH_BROADCAST_MAX"),
)


def plan_of(spark, name, sf_dir) -> str:
    df = registry.get(name).fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, "regional_customer_value", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact


def test_membership_filter_pushes_in_predicate(spark, sf_dir):
    plan = plan_of(spark, "membership_filter", sf_dir)
    assert "In(lang" in plan  # IN reaches the parquet scan


def test_topk_avoids_full_sort(spark, sf_dir):
    plan = plan_of(spark, "top3_event_types", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_vocab_cap_avoids_global_window(spark, sf_dir):
    # CountVectorizer-style vocabSize cap must be distributed top-k, not a
    # single-partition row_number() window over every distinct word
    plan = plan_of(spark, "tfidf_word_stats", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_metadata_query_prunes_payload(spark, sf_dir):
    plan = plan_of(spark, "media_metadata_stats", sf_dir)
    # the binary payload column must not appear in any scan's ReadSchema
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "payload" not in line


def test_ann_paths_avoid_cross_join(spark, sf_dir):
    # the LSH probe must be a pure hash join on the bucket id
    plan = plan_of(spark, "ann_lsh_topk", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # IVF: the 8-row centroid fan-out is a deliberate broadcast nested loop
    # (the quantizer scoring pass); the inverted-list probe itself must
    # still be a hash join and nothing may be a cartesian product
    plan = plan_of(spark, "ivf_ann_topk", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located bucketed tables join without an Exchange on either side."""
    import contextlib
    import io
    import shutil

    from pyspark.sql import functions as F

    from reddit_sentiment_spark_streaming_pipeline_spark.bucketing import bucketed_join, write_bucketed
    from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    custs = load_table(spark, sf_dir, "customer")
    try:
        write_bucketed(orders, "b_orders", "o_custkey", 8)
        write_bucketed(
            custs.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 8
        )
        # disable broadcast so an un-bucketed plan WOULD shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_customer", "o_custkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket alignment replaced the shuffle
        # and it still computes the right thing
        want = orders.join(
            custs, orders.o_custkey == custs.c_custkey
        ).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_pii_scan_is_shuffle_free(spark, sf_dir):
    """The PII detect/redact pass over the corpus must stay a narrow
    scan→project pipeline — at 100 TB an Exchange here is a full-corpus
    shuffle for nothing."""
    plan = plan_of(spark, "pii_redaction", sf_dir)
    assert "Exchange" not in plan
    assert "codegen id" in plan  # formatted explain's whole-stage-codegen marker


def test_partitioned_sink_enables_partition_pruning(spark, sf_dir, tmp_path):
    """K1-at-scale: a date filter on the partitioned table must prune
    partitions at the scan, not read-then-filter."""
    from pyspark.sql import functions as F

    from reddit_sentiment_spark_streaming_pipeline_spark.sinks import write_partitioned_parquet
    from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_date")
    write_partitioned_parquet(events, path, ts_col="ts")

    one_day = events.select(F.to_date("ts").alias("d")).distinct().limit(1).collect()[0].d
    back = spark.read.parquet(path).filter(F.col("event_date") == F.lit(one_day))
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    # the date predicate must appear as a PartitionFilter on the scan
    assert "PartitionFilters" in plan
    assert any(
        "PartitionFilters" in line and "event_date" in line for line in plan.splitlines()
    )
    # runtime proof, not just plan text: the scan touches ONE directory
    files = {
        r[0].rsplit("/", 2)[-2]
        for r in back.select(F.input_file_name()).distinct().collect()
    }
    assert files == {f"event_date={one_day}"}
    n_day = events.filter(F.to_date("ts") == F.lit(one_day)).count()
    assert back.count() == n_day


def test_no_query_plans_a_cartesian_product(spark, monkeypatch):
    """Global guard: no registered query may degrade to CartesianProduct.

    (Scalar broadcasts appear as BroadcastNestedLoopJoin with a 1-row side
    and are fine; an unconstrained CartesianProduct at 100 TB is not.)

    Every query is built for real, so the measured broadcast gates run
    their counts, and built twice: once at the default budgets and once
    with every gate budget set to 0, which plans each gated join in its
    fallback regime. The gates' tracked persists are released after each
    build."""
    from reddit_sentiment_spark_streaming_pipeline_spark import caching

    offenders = []
    for regime in ("default", "fallback"):
        if regime == "fallback":
            for module, budget in GATE_BUDGETS:
                monkeypatch.setattr(module, budget, 0)
        for name in sorted(registry.load_all()):
            plan = plan_of(spark, name, "/root/testdata/sf0.001")
            caching.release_tracked()
            if "CartesianProduct" in plan:
                offenders.append((regime, name))
    assert offenders == []


def test_jaccard_verify_broadcasts_candidate_arrays_only(spark, sf_dir):
    # Verification is two broadcast joins of the per-candidate-doc shingle
    # ARRAY table (bounded by candidates × doc size) against the pair list
    # — the corpus-sized flat shingle table must never be a broadcast
    # build side, and no shingle⋈shingle pair-expansion join may remain.
    from reddit_sentiment_spark_streaming_pipeline_spark.operators import dedup as dd

    sh = dd.shingle_rows(dd.dedup_corpus(spark, sf_dir))
    cand = dd.minhash_candidates_from_shingles(sh)
    df = dd._jaccard_on_pairs(cand, sh)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("BroadcastHashJoin") >= 2  # pair⋈arrays ×2
    assert "array_intersect" in plan  # per-pair set intersection, no join
    # the broadcast semi-join that prunes shingles keys on doc_id only —
    # a broadcast keyed on the shingle column would be the corpus-sized one
    assert "LeftSemi" in plan


def test_dedup_clusters_plan_is_lineage_cut(spark, sf_dir):
    # The returned plan must hang off checkpointed state, not re-derive
    # the minhash pipeline per round: no parquet scan, no md5 signature
    # aggregation, and shallow enough that the driver isn't re-analyzing
    # a geometric plan every action (the 52s-at-sf0.1 failure mode).
    df = registry.get("dedup_clusters").fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Scan parquet" not in plan
    assert "md5" not in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_unigram_logprob_scores_never_shuffles_tokens(spark, sf_dir):
    # The token stream must meet the vocabulary via broadcast: one
    # BroadcastHashJoin (top-K head), no sort-merge join anywhere — at
    # corpus scale a word-keyed shuffle of the token stream for scoring
    # would dwarf the vocabulary aggregate itself.
    plan = plan_of(spark, "unigram_logprob_scores", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_winnowing_fingerprints_single_doc_keyed_shuffle(spark, sf_dir):
    # Window-min partitions by doc_id and the final aggregate groups by
    # doc_id: exactly one KEYED exchange. A second hashpartitioning would
    # mean the window and the aggregate disagree on partitioning. (The
    # round-robin exchange that spreads the single-file scan for kgram
    # hashing is expected and keyless.) Counted on the physical tree
    # string: explain("formatted") lists each node twice.
    df = registry.get("winnowing_fingerprints").fn(spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert tree.count("Exchange hashpartitioning") == 1
    assert tree.count("Exchange rangepartitioning") == 0


def test_winnowing_overlap_uses_capped_bucket_expansion(spark, sf_dir):
    # Pair discovery must be bucket-group + capped slice expansion (the
    # LSH-candidate shape), not a fingerprint self-join: no SortMergeJoin
    # and a slice() of the sorted bucket array in the plan.
    plan = plan_of(spark, "winnowing_overlap_pairs", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "slice" in plan


def test_release_verify_caches_clears_tracked_persists(spark, sf_dir):
    from reddit_sentiment_spark_streaming_pipeline_spark.operators import dedup as dd

    spark.catalog.clearCache()
    dd._LIVE_PERSISTS.clear()
    df = dd.minhash_near_dups(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    # the verify path registered its persisted intermediates...
    assert len(dd._LIVE_PERSISTS) >= 2  # shingles + docsets
    released = dd.release_verify_caches()
    assert released >= 2
    assert dd._LIVE_PERSISTS == []


def test_resample_grid_is_per_series_not_calendar_join(spark, sf_dir):
    # grid generation must be sequence+explode per key — no join of the
    # series against a global calendar frame, no cartesian anything
    plan = plan_of(spark, "resample_gapfill", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan and "explode(" in plan


def test_zscore_stats_side_broadcasts(spark, sf_dir):
    # the 5-row per-type stats frame must broadcast onto the fact scan
    plan = plan_of(spark, "value_zscore_outliers", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cms_sketch_joins_broadcast(spark, sf_dir):
    # sketch (<= DEPTH*WIDTH cells) and top-k candidates are both tiny:
    # every join in the estimate path must be broadcast, never a shuffle
    plan = plan_of(spark, "cms_heavy_hitters", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_editdist_pairs_via_block_equi_join(spark, sf_dir):
    # pair discovery must be an equi-join on the prefix block
    plan = plan_of(spark, "prefix_editdist_dups", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_single_shuffle_no_join(spark, sf_dir):
    # MERGE as union + keep-last: one window over the merge key, no
    # full-outer join (which would null-coalesce every column)
    plan = plan_of(spark, "merge_upsert_orders", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "Window" in plan



def test_semantic_dedup_broadcasts_centroids_and_joins_on_cid(spark, sf_dir):
    plan = plan_of(spark, "semantic_dedup_prune", sf_dir)
    # centroid assignment is a broadcast (8 rows), never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # pair discovery is the cid-keyed equi self-join, not a cartesian scan
    assert "CartesianProduct" not in plan
    assert plan.count("EvalPython") == 0  # vector math stays JVM-side


def test_incremental_gate_shuffles_fingerprints_not_documents(spark, sf_dir):
    plan = plan_of(spark, "incremental_dedup_gate", sf_dir)
    # the existing-corpus side collapses to DISTINCT md5 fingerprints
    # before the join: the join keys are the 32-char hash ...
    assert "keys [1]: [fingerprint" in plan.lower()
    assert "CartesianProduct" not in plan
    # ... and no exchange ever carries a document body — text is projected
    # down to its md5 before the first shuffle
    exchanges = [
        blk for blk in plan.split("\n(")
        if blk.partition("\n")[0].rstrip().endswith(("Exchange", "BroadcastExchange"))
    ]
    assert exchanges, plan
    for blk in exchanges:
        assert "text#" not in blk, blk


def test_quota_sample_prefilters_before_rank_window(spark, sf_dir):
    plan = plan_of(spark, "stratified_quota_sample", sf_dir)
    # per-stratum counts join in as a broadcast; the bucket prefilter must
    # sit BELOW the rank window so the window shuffle carries survivors only
    assert "BroadcastHashJoin" in plan
    i_filter = plan.find("conv(substring(md5")
    i_window = plan.find("row_number")
    assert i_filter != -1 and i_window != -1
    # formatted-plan details are numbered leaf-to-root, so textual order is
    # execution order: the bucket prefilter (the broadcast-join condition)
    # must run BEFORE the rank window's exchange — the window shuffles
    # survivors only, never the full corpus
    assert i_filter < i_window, plan


def test_payload_simhash_is_banded_not_quadratic(spark, sf_dir):
    plan = plan_of(spark, "payload_simhash_dups", sf_dir)
    # candidates come from the chunk-equality equi-join, never a cartesian
    # pass over payloads, and the byte-gram hashing stays JVM-side
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_q3_broadcasts_customer_and_takes_top10(spark, sf_dir):
    plan = plan_of(spark, "q3_shipping_priority", sf_dir)
    assert "BroadcastHashJoin" in plan   # segment-filtered customer dim
    assert "TakeOrderedAndProject" in plan  # top-10, never a global sort
    assert "CartesianProduct" not in plan


def test_orders_above_avg_is_single_hash_exchange(spark, sf_dir):
    # decorrelated-subquery-as-window: the per-customer stats and the
    # comparison share ONE hash exchange on o_custkey (the trailing
    # range exchange is the presentation orderBy)
    plan = plan_of(spark, "orders_above_customer_avg", sf_dir)
    assert "Join" not in plan            # no self-join against an agg
    assert plan.count("hashpartitioning") <= 1


def test_simhash_fingerprints_never_shuffle_tokens(spark, sf_dir):
    # tf-free formulation: one round-robin spread of raw docs, then ONE
    # doc_id hash exchange carrying 64-sum rows — exploded tokens must
    # stay inside the partition that produced them
    plan = plan_of(spark, "simhash_fingerprints", sf_dir)
    assert plan.count("hashpartitioning") <= 1


def test_boilerplate_dictionary_broadcasts(spark, sf_dir):
    # the shared-segment dictionary is the small side by construction;
    # the corpus's segment rows must never shuffle for the join
    plan = plan_of(spark, "boilerplate_segment_stats", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rp_simhash_has_no_joins_at_all(spark, sf_dir):
    # fingerprints are computed in-row and travel WITH the bucket, so
    # candidate verification needs no re-join against a fingerprint
    # table — the whole pipeline is map + window-cap + groupBy + distinct
    plan = plan_of(spark, "embedding_rp_simhash_dups", sf_dir)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_span_joinback_broadcast_is_gated(spark, sf_dir, monkeypatch):
    # The repeated-hash join-back must broadcast the measured-small hash
    # set (explicit hint, not the silent 10 MB auto threshold), and past
    # the SPAN_REP_BROADCAST_MAX gate it must degrade to a shuffle-hash
    # join — never the default sort-merge, which would SORT the
    # token-scale window frame on h.
    from reddit_sentiment_spark_streaming_pipeline_spark.operators import dedup as dd

    df = dd._span_frame(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # force the over-gate path: every repeated-hash count exceeds a 0 gate
    monkeypatch.setattr(dd, "SPAN_REP_BROADCAST_MAX", 0)
    df = dd._span_frame(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q5_customer_scan_prunes_to_join_columns(spark, sf_dir):
    # the customer broadcast must carry only the two join columns — a
    # full-row broadcast pins every column executor-resident and is the
    # r6 advice fix being pinned here
    plan = plan_of(spark, "q5_local_supplier_volume", sf_dir)
    assert "struct<c_custkey:bigint,c_nationkey:int>" in plan
    assert "c_name" not in plan and "c_acctbal" not in plan
    assert "BroadcastHashJoin" in plan


def test_gate_store_never_shuffles_even_above_broadcast_threshold(spark, sf_dir):
    # the streaming dedup gate's store anti-join must not degrade to a
    # store-shuffling sort-merge join when the store outgrows the
    # auto-broadcast threshold: the inverted formulation streams the
    # store map-side against the broadcast batch
    import contextlib
    import io

    from pyspark.sql import functions as F

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import novel_against_store

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    firsts = docs.limit(50).select("doc_id", "source", F.md5("text").alias("fingerprint"))
    store = docs.select(F.md5("text").alias("fingerprint"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            novel_against_store(firsts, store).explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan


def test_gate_pathological_batch_falls_back_to_shuffle_hash(spark, sf_dir):
    # a batch above GATE_BATCH_BROADCAST_MAX must NOT be broadcast (the
    # inversion pins the batch executor-resident): the gated fallback is
    # a sort-free shuffle-hash anti join — store shuffles once for that
    # batch, no sort, no broadcast of either corpus-scale side
    import contextlib
    import io

    from pyspark.sql import functions as F

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import novel_against_store

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    firsts = docs.select("doc_id", "source", F.md5("text").alias("fingerprint"))
    store = docs.select(F.md5("text").alias("fingerprint"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            novel_against_store(
                firsts, store, batch_rows=3_000_000
            ).explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin LeftAnti" in plan, plan


def _neardup_gate_plan(spark, sf_dir, batch_rows):
    # synthetic no-join fps frame (production fps is a persisted cache, so
    # its upstream join never appears in the per-batch plan): the plan's
    # exchanges all belong to neardup_rejected itself
    import contextlib
    import io

    from pyspark.sql import functions as F

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import neardup_rejected

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = docs.select(
        "doc_id", "source",
        *[(F.col("doc_id") % (97 + c)).cast("int").alias(f"h{c}") for c in range(4)],
    )
    store = fps.withColumn("admitted", F.lit(True)).withColumn("batch_id", F.lit(0))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            neardup_rejected(fps, store, batch_rows=batch_rows).explain("formatted")
        return buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_neardup_gate_store_never_shuffles_in_broadcast_regime(spark, sf_dir):
    # normal regime (batch under GATE_BATCH_BROADCAST_MAX // 4 docs): the
    # store's chunk rows stream map-side against the BROADCAST batch —
    # exactly one broadcast join, no shuffle-hash anywhere, and the only
    # exchanges are the within-batch self-join's two batch-side shuffles
    # (the store branch contributes zero: scanned once, never shuffled)
    plan = _neardup_gate_plan(spark, sf_dir, batch_rows=100)
    assert "BroadcastHashJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count(") Exchange") == 2, plan


def test_neardup_gate_pathological_batch_falls_back_to_shuffle_hash(spark, sf_dir):
    # a backfill-sized batch (> GATE_BATCH_BROADCAST_MAX // 4 docs, i.e.
    # 4x chunk rows over the broadcast cap) must NOT pin 4xbatch chunk
    # rows in every executor: both (ci, cv) joins degrade to sort-free
    # shuffle-hash — store shuffles once for that batch, nothing sorts,
    # nothing broadcasts
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import GATE_BATCH_BROADCAST_MAX

    cap = GATE_BATCH_BROADCAST_MAX // 4
    plan = _neardup_gate_plan(spark, sf_dir, batch_rows=cap + 1)
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count(") ShuffledHashJoin") == 2, plan
    # boundary: exactly at the cap the broadcast shape must survive
    at_cap = _neardup_gate_plan(spark, sf_dir, batch_rows=cap)
    assert "BroadcastHashJoin" in at_cap, at_cap


def _ingest_stage2_plan(spark, sf_dir, batch_rows):
    # synthetic no-join fp2 frame (production fp2 is a persisted cache,
    # so its upstream joins never appear in the per-batch plan) + a
    # fully blk-flagged store: the plan's exchanges all belong to the
    # stage-2 rank/decide shape itself
    import contextlib
    import io

    from pyspark.sql import functions as F

    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.ingest import (
        _store_blocker_rows,
        stage2_ranked,
        stage2_rejected,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp2 = docs.select(
        "doc_id",
        *[(F.col("doc_id") % (97 + c)).cast("int").alias(f"h{c}") for c in range(4)],
    )
    store = fp2.select(
        "doc_id", "h0", "h1", "h2", "h3",
        *[F.lit(True).alias(f"blk{c}") for c in range(4)],
        F.lit(True).alias("admitted"),
        F.lit(0).cast("long").alias("batch_id"),
    )
    sbl = _store_blocker_rows(store)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            stage2_rejected(
                stage2_ranked(fp2, sbl), sbl, batch_rows
            ).explain("formatted")
        return buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ingest_stage2_store_never_shuffles_in_broadcast_regime(spark, sf_dir):
    # normal regime: exactly two broadcasts — the bounded (ci, cv)
    # blocker-count table and the batch side of the vs-store decide —
    # so the store's blk-filtered scan streams map-side (zero store
    # exchanges; its only shuffle is the counts aggregate's partial
    # rows, bounded by the 4 x 2^16 keyspace). The single sort-merge is
    # the within-batch self-join (batch-sized by definition); total
    # exchanges: the rank window's, the counts aggregate's, and the
    # self-join's second side
    plan = _ingest_stage2_plan(spark, sf_dir, batch_rows=100)
    assert plan.count(") BroadcastHashJoin") == 2, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count(") SortMergeJoin") == 1, plan
    assert plan.count(") Exchange") == 3, plan


def test_ingest_stage2_pathological_batch_falls_back_to_shuffle_hash(spark, sf_dir):
    # a backfill-sized batch must NOT pin batch chunk rows in every
    # executor: both (ci, cv) decision joins degrade to sort-free
    # shuffle-hash; only the bounded counts table still broadcasts
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.dedup import GATE_BATCH_BROADCAST_MAX

    cap = GATE_BATCH_BROADCAST_MAX // 4
    plan = _ingest_stage2_plan(spark, sf_dir, batch_rows=cap + 1)
    assert plan.count(") ShuffledHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count(") BroadcastHashJoin") == 1, plan
    # boundary: exactly at the cap the broadcast shape must survive
    at_cap = _ingest_stage2_plan(spark, sf_dir, batch_rows=cap)
    assert "ShuffledHashJoin" not in at_cap, at_cap
    assert at_cap.count(") BroadcastHashJoin") == 2, at_cap


def test_token_stats_is_shuffle_free(spark, sf_dir):
    """token_stats' group key (doc_id) is row-local — every token of a
    doc lives in the doc's own text row — so the per-doc stats compute
    array-side. The r6 text-family rehearsal measured the old explode +
    groupBy(doc_id) count-distinct plan at 14.8×/50× shuffle records
    (the second exchange emits one row per doc × occupied partition);
    the array-native shape must stay a pure map stage: zero exchanges
    at any corpus size."""
    plan = plan_of(spark, "token_stats", sf_dir)
    assert "Exchange" not in plan, plan


def test_repetition_stats_has_two_exchanges_and_no_join(spark, sf_dir):
    """repetition_stats keeps the exchange shape (the zero-shuffle
    array_sort + run-length alternative is CodegenFallback, measured 9×
    slower in wall), but the row-local token stats ride the grouping
    keys as invariants — the old separate tstats aggregate, its
    exchange, and the doc_id join must stay gone: exactly two hash
    exchanges (distinct (doc, bigram) pairs, then per-doc merge), no
    join of any kind."""
    plan = plan_of(spark, "repetition_stats", sf_dir)
    assert plan.count("hashpartitioning") == 2, plan
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_docset_verify_fallback_is_spillable_sort_merge(spark, sf_dir, monkeypatch):
    # Past the 50k-candidate gate the docset verify join's build side is
    # unbounded AND carries ~5 KB shingle-array rows — the widest rows in
    # the repo. The fallback must be sort-merge (spills its sorted runs),
    # never shuffle-hash, whose per-partition hash relation OOM'd the r9
    # embedding flood rehearsal on 8x narrower rows. Default regime stays
    # broadcast.
    from reddit_sentiment_spark_streaming_pipeline_spark.operators import dedup as dd

    df = dd.minhash_near_dups(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan

    monkeypatch.setattr(dd, "PAIR_DOCSET_BROADCAST_MAX", 0)
    df = dd.minhash_near_dups(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" not in plan


def test_embedding_verify_fallback_is_spillable_sort_merge(spark, sf_dir, monkeypatch):
    # Past COS_PAIR_BROADCAST_MAX the embedding verify's pair side is
    # unbounded and carries the 64-dim embedding per pair: the fallback
    # must be sort-merge (spills), never shuffle-hash, whose hash relation
    # OOM'd the r9 jitter-flood rehearsal. Default regime stays broadcast.
    plan = plan_of(spark, "embedding_near_dups", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    monkeypatch.setattr(similarity, "COS_PAIR_BROADCAST_MAX", 0)
    plan = plan_of(spark, "embedding_near_dups", sf_dir)
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" not in plan


def test_gated_queries_return_identical_rows_in_both_regimes(spark, sf_dir, monkeypatch):
    # A gate picks the join's physics, never its answer: each batch-gated
    # query returns the same rows at the default budgets and with every
    # budget at 0 (all fallbacks executed, not only planned).
    from collections import Counter

    from reddit_sentiment_spark_streaming_pipeline_spark import caching

    names = ("minhash_near_dups", "containment_pairs", "embedding_near_dups",
             "repeated_ngram_spans")

    def rows(name):
        got = Counter(tuple(r) for r in registry.get(name).fn(spark, sf_dir).collect())
        caching.release_tracked()
        return got

    default = {name: rows(name) for name in names}
    for module, budget in GATE_BUDGETS:
        monkeypatch.setattr(module, budget, 0)
    for name in names:
        assert default[name], name
        assert rows(name) == default[name], name


def test_selection_gate_scoring_is_single_exchange(spark, sf_dir, tmp_path):
    # the streaming selection gate's per-batch plan against the FROZEN
    # on-disk model: hashed-gram features join the ~8k-row lr table via
    # an explicit broadcast (survives threshold=-1), the 1-row params
    # ride a broadcast too, and the ONLY exchange is the map-side-
    # combined per-doc aggregate — no sort-merge, no shuffle-hash, no
    # batch-proportional broadcast, no store
    from pyspark.sql import functions as F

    from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (
        SELECTION_CAL_MOD,
        dsir_features,
        dsir_score_against_model,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.streaming.selection import (
        freeze_selection_model,
        read_selection_model,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model_dir = str(tmp_path / "model")
    freeze_selection_model(
        docs.filter(F.col("doc_id") % SELECTION_CAL_MOD == 0), model_dir
    )
    lr, params = read_selection_model(spark, model_dir)
    scored = dsir_score_against_model(
        dsir_features(docs.select("doc_id", "lang", "text")), lr, params
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            scored.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count(") Exchange") == 1, plan
