"""10× scale rehearsal for the dedup/ANN suite.

Synthesizes a documents/embeddings fixture ~10× the given sf dir (default
sf0.1 → "sf1") in /tmp, runs the heaviest corpus queries (dedup/ANN plus
the contamination/PII path) at both scales, and prints ONE JSON line with
the observed wall-clock AND shuffle-byte scaling factors — shuffle bytes
are the direct evidence that broadcast sides stay broadcast-sized and
nothing degenerates to a corpus-wide shuffle as data grows.

Replicas are perturbed so the duplicate RATE stays realistic instead of
exploding: replica k's text goes through a per-replica substitution
cipher (an affine map a*x + b over the 36-char lowercase+digit ring —
pure rotations for k <= 35, multipliers 5 and 7 beyond, 108 maps total;
uppercase rotates separately), so replicas share zero 3-gram word
shingles AND zero byte 4-grams with each other — word-LEVEL and
byte-level dedup both see them as unrelated — while the synthetic dup
construction inside each query (every 10th/7th doc) still scales
linearly.  --verify-span-isolation counts cross-replica repeated 8-word
windows in-artifact (the >36-replica affine families can agree on up to
6 of 36 ring chars per map pair; the count proves that never becomes a
shared window in practice). (The
previous word-prefix perturbation diverged only at word granularity:
byte 4-gram queries saw replicas as genuine near-dups, so
payload_simhash_dups' pair output grew quadratically BY CONSTRUCTION —
the 18.2x/16.5x "super-linear shuffle" r4/r5 readings were the fixture,
not the operator.) Word shapes and lengths are preserved, which is
more realistic for token/quality queries than prefix-inflated words.
Embeddings get a deterministic per-replica signed-permutation ISOMETRY
for the same reason (--emb-perturb isometry, the default): it preserves
each replica's internal geometry exactly while decorrelating
cross-replica copies to cosine ~0; the legacy additive jitter left
cross-replica cosines above the 0.99 near-dup threshold (quadratic
true-pair growth by fixture) and survives as --emb-perturb jitter, the
duplicate-FLOOD stress mode for the banded-LSH bucket caps.
Everything is generated and written by executors — no driver collect —
so the same script is the rehearsal you'd run at sf100.

Pass criteria (VERDICT r2 item 8): ≤ ~12× time at 10× data, no OOM.

Usage: python tools/scale_rehearsal.py [sf_dir] [out_dir]
           [--replicas N] [--queries q1,q2,...]
           [--emb-perturb isometry|jitter] [--emb-deep]
           [--text-perturb cipher|spam] [--text-flood-deep]
           [--skew zipf[:s]] [--verify-span-isolation] [--force-fallback]

--replicas / --queries narrow the sweep for targeted deep points, e.g.
the 30× knee-check on the iterative/clustered dedup paths (VERDICT r4
item 4): constants like the 8 IVF centroids or the 64-id bucket cap
could hide super-linear knees that a 10× point misses. --force-fallback
sets the batch queries' broadcast budgets to 0 (BATCH_GATES), so every
gated join runs its fallback regime; the artifact records them under
`forced_gates`.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from reddit_sentiment_spark_streaming_pipeline_spark import registry  # noqa: E402
from reddit_sentiment_spark_streaming_pipeline_spark.operators import dedup, similarity  # noqa: E402
from reddit_sentiment_spark_streaming_pipeline_spark.operators.selection import (  # noqa: E402
    DSIR_TARGET_LANG_DEFAULT,
)
from reddit_sentiment_spark_streaming_pipeline_spark.operators.similarity import (  # noqa: E402
    COS_BAND_BITS_DEFAULT,
)
from reddit_sentiment_spark_streaming_pipeline_spark.session import get_spark  # noqa: E402

# knob defaults imported from the modules that OWN them (one source of
# truth): a changed module default flows into both the artifact stamp
# below and tests/test_scale_evidence.py's default-knob guard
KNOB_DEFAULTS = {
    "SPARK_GRAFT_COS_BAND_BITS": str(COS_BAND_BITS_DEFAULT),
    "SPARK_GRAFT_DSIR_TARGET_LANG": DSIR_TARGET_LANG_DEFAULT,
}


def _env_knobs() -> dict[str, str]:
    return {k: os.environ.get(k, d) for k, d in KNOB_DEFAULTS.items()}


REPLICAS = 10
QUERIES = [
    "minhash_near_dups", "dedup_clusters", "ivf_ann_topk",
    # contamination/PII path: the benchmark n-gram side must stay a
    # KB-sized broadcast as the corpus grows — shuffle-bytes (recorded
    # below) are the evidence; pii_redaction is plan-tested shuffle-free,
    # so its delta should stay ~0 at BOTH scales.
    "benchmark_contamination", "pii_redaction",
    # r4 additions: winnowing index join (capped fingerprint buckets),
    # prefix-blocked Levenshtein (capped block join), CMS (fixed-size
    # sketch — its shuffle bytes should be FLAT across scales), bigram
    # PMI (pair table scales with distinct collocations, not tokens²).
    "winnowing_overlap_pairs", "prefix_editdist_dups",
    "cms_heavy_hitters", "bigram_pmi_topk",
    # the composed snapshot build (one wide stage) and the quantized ANN
    # audit (broadcast queries x corpus scan; shuffle bytes ~flat)
    "corpus_curation_pipeline", "int8_quant_cosine_error",
    # r4 corpus-management additions: the snapshot gate and novelty audit
    # shuffle only 16-byte hashes (linear); quota sampling's rank window
    # sees ~3q survivors per stratum, so its shuffle bytes should be FLAT
    # as the corpus grows; chunking and the Gopher rules are pure map
    # stages — zero shuffle at both scales.
    "incremental_dedup_gate", "snapshot_ngram_novelty",
    "stratified_quota_sample", "doc_chunks", "gopher_quality_flags",
    # byte-level multimodal dedup: fingerprints are a doc_id-keyed
    # aggregate, candidates a banded equi-join — shuffle should scale
    # linearly, never quadratically, exactly like the word-level simhash
    "payload_simhash_dups",
    # r5 additions: SemDeDup with corpus-scaled K (the 30x knee fix) and
    # span-level exact-substring dedup (per-occurrence output — the one
    # dedup modality that needs no bucket caps at all)
    "semantic_dedup_prune", "repeated_ngram_spans",
    # per-modality perceptual dedup: Arrow-batched decode + fingerprint
    # map stages; only small fingerprint keys shuffle — all three should
    # scale linearly in both wall and shuffle
    "dup_frame_groups", "audio_fingerprint_matches", "image_dhash_matches",
]


def shuffle_write_bytes(spark) -> int:
    """Cumulative shuffle-write bytes across all completed stages, from
    the driver's AppStatusStore (same numbers the UI's stage table shows).
    Diffing this around a query isolates that query's shuffle volume."""
    sc = spark.sparkContext
    gw = sc._gateway
    jvm = gw.jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    return sum(stages.apply(i).shuffleWriteBytes() for i in range(stages.size()))


# --skew zipf[:s] — Zipf key mode (VERDICT r6 item 6). None = uniform
# replication (the default, preserving the base key distribution).
SKEW_S: float | None = None
_ZIPF_BUCKETS = 65536


def _zipf_bucket_array(n_keys: int, s: float) -> list[int]:
    """Quantized inverse-CDF lookup for Zipf(s) over ranks 0..n_keys-1:
    entry b holds the rank whose CDF interval covers u=(b+0.5)/B. Driver-
    side numpy over at most _ZIPF_BUCKETS entries; ranks whose probability
    mass is below 1/B collapse into their neighbors — fine for a skew
    fixture, whose point is the HEAD (top-rank share ~ (1-s)-power law),
    not the deep tail."""
    import numpy as np

    n_keys = max(1, n_keys)
    w = 1.0 / np.power(np.arange(1, n_keys + 1, dtype=np.float64), s)
    cdf = np.cumsum(w) / w.sum()
    u = (np.arange(_ZIPF_BUCKETS, dtype=np.float64) + 0.5) / _ZIPF_BUCKETS
    return np.searchsorted(cdf, u).astype("int64").tolist()


def _with_zipf_rank(df, n_keys: int, s: float, out_col: str, seed_col: str,
                    salt: int = 42):
    """Add `out_col` = Zipf(s)-distributed rank in [0, n_keys), drawn
    deterministically from xxhash64(seed_col, salt) — distinct salts keep
    two draws over the same seed column independent. The lookup array
    rides in as a broadcast one-row frame (not a plan literal), so the
    plan stays readable and the array ships once per executor."""
    spark = df.sparkSession
    zb = spark.createDataFrame(
        [(_zipf_bucket_array(n_keys, s),)], "__zb array<bigint>"
    )
    bucket = F.pmod(F.xxhash64(seed_col, F.lit(salt)), F.lit(_ZIPF_BUCKETS))
    return (
        df.crossJoin(F.broadcast(zb))
        .withColumn(out_col, F.element_at("__zb", (bucket + 1).cast("int")))
        .drop("__zb")
    )


_LO36 = "abcdefghijklmnopqrstuvwxyz0123456789"
_UP26 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


# How replica k's embeddings are perturbed (--emb-perturb):
#   isometry (default): per-replica SIGNED PERMUTATION of the dimensions
#     — an orthogonal map, so norms and every within-replica dot product
#     are preserved exactly (the replica's internal geometry, including
#     the queries' planted near-dup pairs, is untouched) while
#     cross-replica copies of the same base vector decorrelate to
#     cosine ~ N(0, 1/sqrt(64)), far below every similarity threshold.
#     This is the embedding analog of the text cipher: without it the
#     old additive jitter (x + (k*31+i)%7 * 0.013) left cross-replica
#     cosines ≈ 0.998 — ABOVE the 0.99 near-dup threshold — so the
#     fixture itself manufactured ~quadratic true-pair growth
#     (measured: 785x wall for 100x data on embedding_near_dups before
#     the fix; any implementation must pay for output it is required to
#     emit, so no operator shape can make that fixture scale linearly).
#   jitter: the legacy additive perturbation, kept as the DUP-FLOOD
#     stress mode — 100 replicas of one base vector all within 0.99
#     cosine is exactly the pathological duplicate flood the banded
#     LSH bucket cap exists to bound.
EMB_PERTURB = "isometry"

# How replica k's TEXT is perturbed (--text-perturb):
#   cipher (default): the per-replica affine substitution cipher above —
#     replicas share no word shingles or byte 4-grams, so duplicate RATES
#     stay realistic and scaling ratios measure operator cost, not
#     fixture-manufactured output growth.
#   spam: TEMPLATE-SPAM FLOOD — replica k's text is the base text plus
#     one short per-replica tail token (" qq<k>"), i.e. near-identical
#     docs with differing ids. Byte-exact upstream dedup CANNOT fold
#     them (texts differ), yet every near-dup family stays inside all
#     three text verify thresholds by construction: one appended token
#     adds one 3-word shingle (member↔member Jaccard ≥ (W-2)/W ≥ 0.8 at
#     the corpus minimum W=10 words, far above 0.5), flips only a
#     tf-1 token's SimHash bits (Hamming ≪ 8), and leaves the 24-char
#     prefix block untouched (head edit distance ≤ ~6 of ≥ 48 chars,
#     similarity ≥ 0.87 > 0.8). This is the text analog of
#     --emb-perturb jitter: the adversarial regime the LSH bucket caps +
#     exemplar chains exist for, where the r9 embedding flood measured
#     the pure cap silently losing every member past the 64th.
TEXT_PERTURB = "cipher"


def _emb_isometry(k: int) -> tuple[list[int], list[int]]:
    """Replica k's signed permutation: (perm, signs), md5-derived."""
    if k == 0:
        return list(range(64)), [1] * 64
    perm = sorted(
        range(64),
        key=lambda d: hashlib.md5(f"emb{k}:{d}".encode()).hexdigest(),
    )
    sgn = [
        1 if int(hashlib.md5(f"sgn{k}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1
        for d in range(64)
    ]
    return perm, sgn


def _cipher_dst(k: int) -> str:
    """Replacement alphabet for replica k: affine map a*x + b (mod 36)
    over the lowercase+digit ring with a = (1, 5, 7)[k // 36] and
    b = k % 36 (k in 1..35 reproduces the original pure rotations);
    uppercase keeps its separate (k-1) % 25 + 1 rotation — the rare
    same-uppercase-rotation pair touches only uppercase-heavy docs, a
    negligible linear tail (the span fixture has no uppercase at all)."""
    if k == 0:
        return _LO36 + _UP26
    a = (1, 5, 7)[k // 36]
    b = k % 36
    r26 = (k - 1) % 25 + 1
    return (
        "".join(_LO36[(a * i + b) % 36] for i in range(36))
        + _UP26[r26:] + _UP26[:r26]
    )


def build_fixture(spark, sf_dir: str, out_dir: str) -> None:
    # Replica cipher family: affine maps x -> a*x + b over the 36-char
    # lowercase+digit ring, with multiplier a in (1, 5, 7) (units mod 36)
    # chosen by k // 36 and offset b = k % 36.  Family a=1 (k = 1..35) is
    # exactly the original rotation cipher, so every artifact recorded at
    # <= 36 replicas is byte-identical under this extension.  Any two
    # distinct maps are injective and agree on at most gcd(a1-a2, 36) <= 6
    # of the 36 ring chars (a coset of a small subgroup; same-multiplier
    # pairs agree NOWHERE, the Latin-square maximum — which is also why
    # 36 rotations was a hard cap and >36 replicas need the multipliers).
    # A cross-replica duplicate 8-word window therefore needs every char
    # of 8 consecutive words inside a <=6-char coset — vanishingly rare,
    # and --verify-span-isolation measures the actual count in-artifact.
    # k = 108 would reuse (a, b) pairs, reintroducing byte-identical
    # replicas — the exact fixture artifact the cipher exists to kill.
    assert REPLICAS <= 108, (
        f"--replicas {REPLICAS} > 108 would repeat cipher (a, b) pairs; "
        "widen the multiplier family before raising the replica count"
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rep = spark.range(REPLICAS).select(F.col("id").cast("int").alias("k"))
    # Per-replica replacement alphabet, shipped as a tiny broadcast dim and
    # applied via translate(text, <ring>, _dst) — Spark's StringTranslate
    # accepts a non-foldable replacement column, so 100+ replicas don't
    # need a 100-deep CASE chain (which would blow past the codegen method
    # limit and fall back to interpreted projection for the whole build).
    rep_dst = spark.createDataFrame(
        [(k, _cipher_dst(k)) for k in range(REPLICAS)], "k int, _dst string"
    )

    # Replica id stride = max(id)+1, joined in as a broadcast scalar: a
    # hard-coded stride would silently collide ids (duplicate doc_ids)
    # on any base fixture whose ids exceed it — e.g. sf100.
    doc_stride = docs.agg((F.max("doc_id") + 1).alias("_stride"))
    emb_stride = emb.agg((F.max("vec_id") + 1).alias("_stride"))

    if TEXT_PERTURB == "spam":
        # template-spam flood: replica 0 is the verbatim base doc; every
        # other replica appends one distinct short token — near-identical
        # family of REPLICAS docs per base doc, all within every text
        # near-dup threshold (see the TEXT_PERTURB comment above)
        perturbed = F.when(
            F.col("k") == 0, F.col("text")
        ).otherwise(F.concat("text", F.lit(" qq"), F.col("k").cast("string")))
    else:
        perturbed = F.expr(f"translate(text, '{_LO36 + _UP26}', _dst)")
    big_docs = docs.crossJoin(F.broadcast(doc_stride)).crossJoin(
        F.broadcast(rep_dst)
    ).select(
        (F.col("doc_id") + F.col("k") * F.col("_stride")).alias("doc_id"),
        perturbed.alias("text"),
        "lang", "source", "n_chars",
    )
    if EMB_PERTURB == "jitter":
        emb_side = rep
        pert = F.transform(
            "embedding",
            lambda x, i: x
            + ((F.col("k") * 31 + i) % 7).cast("float") * F.lit(0.013),
        )
    else:
        emb_side = spark.createDataFrame(
            [(k, *_emb_isometry(k)) for k in range(REPLICAS)],
            "k int, _perm array<int>, _sgn array<int>",
        )
        pert = F.expr(
            "transform(embedding, (x, i) -> cast("
            "element_at(embedding, element_at(_perm, i + 1) + 1)"
            " * element_at(_sgn, i + 1) as float))"
        )
    big_emb = emb.crossJoin(F.broadcast(emb_stride)).crossJoin(
        F.broadcast(emb_side)
    ).select(
        (F.col("vec_id") + F.col("k") * F.col("_stride")).alias("vec_id"),
        F.when(F.col("k") == 0, F.col("embedding")).otherwise(pert)
        .alias("embedding"),
        "label",
    )
    big_docs.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    big_emb.write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))


# Headline relational queries (VERDICT r5 item 7): the correctness bar
# lives at sf0.01 and the bench at sf0.1; this set gets its own 10×
# fact-replicated fixture so the star-join/agg plans have scale evidence
# like the dedup/ANN suite. Facts (lineitem, orders) replicate with
# SHIFTED order keys — 10× orders per customer / lines per supplier, the
# realistic growth direction that keeps q18's HAVING-survivor rate and
# every per-key aggregate linear (replicating rows under the SAME order
# keys would instead multiply per-order quantities and flip q18's
# selectivity superlinearly). Dims copy verbatim: at 100 TB the dims
# grow far slower than the facts, and the broadcast-side sizes staying
# fixed while facts grow 10× is exactly the property being rehearsed.
RELATIONAL_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q18_large_volume_orders", "supplier_running_revenue",
    # r6 join-matrix/analytic additions: Expand-based grouping sets and
    # cube (one shuffle for all groupings — the Expand row blow-up is the
    # thing to watch at scale), the pivot, the full window-fn vocabulary
    # over o_custkey partitions (10× orders per customer = wider
    # partitions, same key count), the fact×fact supplier rollup, and the
    # decorrelated per-customer average (window over custkey, no
    # self-join) — each a distinct physical shape the headline five
    # don't exercise.
    "grouping_sets_order_stats", "status_priority_cube",
    "priority_status_pivot", "window_function_matrix",
    "top_suppliers_revenue", "orders_above_customer_avg",
]

# Events-family queries (funnel / event-time windows / time series): these
# read only the events table and get a replicated fixture where replica k
# shifts event_id AND user_id by k*stride (the funnel and z-score key
# spaces must grow with the data — replicating rows under the SAME users
# would multiply per-user event counts and change stage semantics instead)
# and ts by k*31 days (past the base fixture's ~30-day spread, so windows
# and resample buckets scale linearly and replicas never share a window).
EVENTS_QUERIES = [
    "conversion_funnel", "windowed_event_counts", "sliding_window_avg",
    "session_windows", "value_zscore_outliers", "resample_gapfill",
    # r6 skew/temporal-join additions. salted_event_stats IS the skew
    # story: event_type has ~6 keys, so the plain groupBy concentrates
    # each key's volume on one reducer — the two-phase salted shape must
    # show per-reducer work scaling by salt fan-out, not key count.
    # value_percentiles is the documented exact-percentile contrast (full
    # value shuffle to 6 reducers — linear but concentrated; the
    # docstring's "swap for approx at 100 TB" trade made measurable).
    # The as-of/range joins and SCD2 are sort-within-partition shapes the
    # window family doesn't cover; user_id and ts both stride per replica
    # so join key spaces grow with the data and replicas never
    # cross-match.
    "salted_event_stats", "value_percentiles", "value_mad_by_type",
    "value_time_correlation", "asof_purchase_click",
    "asof_nearest_signup_view", "range_join_error_context",
    "user_purchase_scd2", "retention_cohort_matrix",
]


def build_events_fixture(spark, sf_dir: str, out_dir: str) -> None:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    rep = spark.range(REPLICAS).select(F.col("id").alias("k"))
    stride_e = ev.agg((F.max("event_id") + 1).alias("_se"))
    stride_u = ev.agg((F.max("user_id") + 1).alias("_su"))
    big = (
        ev.crossJoin(F.broadcast(stride_e))
        .crossJoin(F.broadcast(stride_u))
        .crossJoin(rep)
        .select(
            (F.col("event_id") + F.col("k") * F.col("_se")).alias("event_id"),
            (F.col("ts") + F.expr("make_dt_interval(k * 31, 0, 0, 0)")).alias("ts"),
            (F.col("user_id") + F.col("k") * F.col("_su")).alias("user_id"),
            "event_type", "value", "props",
        )
    )
    if SKEW_S is not None:
        # Zipf key mode: redraw user_id over a key domain that still grows
        # with the data (REPLICAS x the base user count) but concentrates
        # volume on the head ranks; event_type redraws over its existing
        # values with the same law (one type ends up with ~half the rows).
        # Draw seeds come from event_id, so the mapping is deterministic
        # and replicas don't share head users (event_id is strided).
        n_users = ev.select("user_id").distinct().count() * REPLICAS
        types = sorted(
            r[0] for r in ev.select("event_type").distinct().collect()
        )
        big = (
            _with_zipf_rank(big, n_users, SKEW_S, "__u", "event_id")
            .withColumn("user_id", F.col("__u") + 1)
            .drop("__u")
        )
        type_arr = F.array(*[F.lit(t) for t in types])
        big = (
            _with_zipf_rank(big, len(types), SKEW_S, "__t", "event_id", salt=7)
            .withColumn(
                "event_type",
                F.element_at(type_arr, (F.col("__t") + 1).cast("int")),
            )
            .drop("__t")
        )
    big.write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))
_RELATIONAL_COPY = ["customer", "supplier", "nation", "region", "part"]


def build_relational_fixture(spark, sf_dir: str, out_dir: str) -> None:
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    rep = spark.range(REPLICAS).select(F.col("id").alias("k"))
    stride = o.agg((F.max("o_orderkey") + 1).alias("_stride"))

    def shifted(df, key):
        cols = [
            (F.col(key) + F.col("k") * F.col("_stride")).alias(key)
            if c == key else F.col(c)
            for c in df.columns
        ]
        return df.crossJoin(F.broadcast(stride)).crossJoin(rep).select(*cols)

    big_o = shifted(o, "o_orderkey")
    if SKEW_S is not None:
        # Zipf key mode: redraw o_custkey over the customer key domain
        # (TPC-H custkeys are dense 1..N, so rank+1 IS a valid custkey) —
        # the head customer owns a power-law share of all orders, which
        # is what skews window_function_matrix's o_custkey partitions.
        n_cust = spark.read.parquet(
            os.path.join(sf_dir, "customer.parquet")
        ).agg(F.max("c_custkey")).collect()[0][0]
        big_o = (
            _with_zipf_rank(big_o, int(n_cust), SKEW_S, "__c", "o_orderkey")
            .withColumn("o_custkey", F.col("__c") + 1)
            .drop("__c")
        )
    big_o.write.mode("overwrite").parquet(
        os.path.join(out_dir, "orders.parquet"))
    shifted(li, "l_orderkey").write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineitem.parquet"))
    for t in _RELATIONAL_COPY:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).write.mode(
            "overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))


def time_queries(spark, specs, sf_dir: str, reps: int = 2) -> dict[str, dict]:
    """Per-query wall (min of `reps` runs) + shuffle-write bytes (first
    run; deterministic). Min-of-reps exists because single-shot walls on
    the shared box carried cold/warm ordering noise big enough to put
    three big-run walls BELOW base in the r5 artifact — shuffle bytes
    were always the primary metric, but the walls should be
    self-consistent too."""
    out = {}
    for name in QUERIES:
        best, shuffle_mb = None, None
        for _ in range(reps):
            spark.catalog.clearCache()
            sb0 = shuffle_write_bytes(spark)
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - t0
            if shuffle_mb is None:
                shuffle_mb = round((shuffle_write_bytes(spark) - sb0) / 1e6, 3)
            best = sec if best is None else min(best, sec)
        out[name] = {"sec": round(best, 3), "shuffle_mb": shuffle_mb}
    return out


def _emb_deep(spark, specs, sf_dir: str) -> dict:
    """Deep point for embedding_near_dups on the EXACT production code
    path (operators/similarity.py internals, not a re-derivation): corpus
    size, the in-plan adaptive band width bits(N), candidate-pair count,
    bucket-cap pressure (dropped pairs + max bucket occupancy), and
    recall on the PLANTED dup pairs (every 10th vector re-added at
    cosine ≈ 0.999 by _dup_corpus) — pair-level (the exact (v, v+1e6)
    pair surfaces in the output) and member-level (the planted copy is
    linked to at least one verified near-dup partner, the property
    cluster-style dedup actually consumes)."""
    import math

    from reddit_sentiment_spark_streaming_pipeline_spark.caching import release_tracked
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.similarity import (
        COS_BAND_BITS,
        COS_MIN_BITS,
        MAX_COS_BUCKET,
        _cos_buckets,
        _cos_candidate_pairs,
        _cos_corpus,
    )

    c = _cos_corpus(spark, sf_dir)
    n = c.count()
    bits = min(COS_BAND_BITS, max(COS_MIN_BITS, math.ceil(math.log2(2 * n))))
    candidate_pairs = _cos_candidate_pairs(c).count()
    cnt = F.col("cnt")
    kept = F.least(cnt, F.lit(MAX_COS_BUCKET))
    bucket_row = (
        _cos_buckets(c).groupBy("band", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum((cnt * (cnt - 1) - kept * (kept - 1)) / 2).alias("dropped"),
            F.max(cnt).alias("max_bucket"),
        )
        .first()
    )
    # one materialized run of the full query feeds both recall joins
    out = (
        specs["embedding_near_dups"].fn(spark, sf_dir)
        .select("vec_a", "vec_b").localCheckpoint()
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    planted = emb.select("vec_id").filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("vec_a"),
        (F.col("vec_id") + 1000000).alias("vec_b"),
    ).persist()
    n_planted = planted.count()
    pair_hits = out.join(planted, ["vec_a", "vec_b"], "left_semi").count()
    partners = (
        out.select(F.col("vec_a").alias("v"))
        .unionAll(out.select(F.col("vec_b").alias("v")))
        .distinct()
    )
    member_hits = (
        planted.select(F.col("vec_b").alias("v"))
        .join(partners, "v", "left_semi")
        .count()
    )
    planted.unpersist()
    release_tracked()
    spark.catalog.clearCache()
    return {
        "corpus_vectors": n,
        "bits": bits,
        "candidate_pairs": candidate_pairs,
        "output_pairs": out.count(),
        "cap_dropped_pairs": int(bucket_row["dropped"] or 0),
        "max_bucket_occupancy": int(bucket_row["max_bucket"]),
        "planted_pairs": n_planted,
        "planted_pair_hits": pair_hits,
        "planted_pair_recall": round(pair_hits / n_planted, 4) if n_planted else None,
        "planted_member_hits": member_hits,
        "planted_member_recall": round(member_hits / n_planted, 4) if n_planted else None,
    }


_TEXT_FLOOD_QUERIES = (
    "minhash_near_dups", "simhash_near_dups", "prefix_editdist_dups",
)


def _base_family_components(spark, sf_dir: str, q: str, stride: int) -> list[int]:
    """Extended flood families: component id (minimum member base id) per
    base doc, merging base docs that are ALREADY near-dups of each other
    under THIS query's own verify. The synthetic corpus contains template
    twins (e.g. two base docs sharing a byte-identical 128-char head), and
    a chained flood member linked to its twin family's member is a
    CORRECT link the operator cannot (and should not) distinguish —
    scoring it as a miss made the r10 head-sorted chain look like a
    regression when the sort merely changed which true near-dup the chain
    picked. Ground truth is exact (all-pairs over the ≤ stride base docs,
    trivially small), then driver-side union-find."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
        HAMMING_THRESHOLD,
        JACCARD_THRESHOLD,
        prefix_block_rows,
        shingle_rows,
        simhash_fp,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.functions.hashing import (
        hamming_expr,
    )

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < stride)  # replica 0 = the verbatim base
        .select("doc_id", F.lower("text").alias("text"))
    )
    if q == "prefix_editdist_dups":
        n = prefix_block_rows(docs)
        a, b = n.alias("a"), n.alias("b")
        lev = F.levenshtein("a.head", "b.head")
        sim = F.lit(1.0) - lev / F.greatest(
            F.length("a.head"), F.length("b.head")
        )
        pairs = (
            a.join(b, (F.col("a.block") == F.col("b.block"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .filter(sim >= 0.8)
            .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        )
    elif q == "simhash_near_dups":
        fp = simhash_fp(docs)
        fa = fp.select(F.col("doc_id").alias("x"),
                       *[F.col(f"h{c}").alias(f"a{c}") for c in range(4)])
        fb = fp.select(F.col("doc_id").alias("y"),
                       *[F.col(f"h{c}").alias(f"b{c}") for c in range(4)])
        ham = sum(
            F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}")))
            for c in range(4)
        )
        pairs = (
            fa.crossJoin(fb).filter(F.col("x") < F.col("y"))
            .filter(ham <= HAMMING_THRESHOLD).select("x", "y")
        )
    else:
        sh = shingle_rows(docs)
        sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s"))
        sa = sets.select(F.col("doc_id").alias("x"), F.col("s").alias("sa"))
        sb = sets.select(F.col("doc_id").alias("y"), F.col("s").alias("sb"))
        nint = F.size(F.array_intersect("sa", "sb"))
        jac = nint / (F.size("sa") + F.size("sb") - nint)
        pairs = (
            sa.crossJoin(sb).filter(F.col("x") < F.col("y"))
            .filter(jac >= JACCARD_THRESHOLD).select("x", "y")
        )
    parent = list(range(stride))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for r in pairs.collect():
        a_, b_ = find(int(r.x)), find(int(r.y))
        if a_ != b_:
            parent[max(a_, b_)] = min(a_, b_)
    return [find(i) for i in range(stride)]


def _text_flood_metrics(bl, out, corpus, stride: int, cap: int,
                        comp: list[int]) -> dict:
    """Flood deep-point over one query's EXACT production bucket frame
    `bl` (doc_id, k1, k2) and its verified output pairs `out`:

    - bucket-cap pressure: max occupancy, chained exemplar pairs
      (sum(cnt - kept), the observe counters' `exemplar_pairs`), and
      pairs still suppressed beyond the chain;
    - PLANTED recall: a planted member is a spam replica (base-branch
      doc_id in [stride, 1e6)); it is recovered when the output links it
      to ≥1 partner of the same EXTENDED family (base id =
      (doc_id % 1e6) % stride — corpus branch offsets are 1e6-multiples
      and REPLICAS·stride < 1e6 for every shipped sf, the
      _span_isolation invariant — then mapped through `comp`, the
      base-doc near-dup components from _base_family_components: a link
      to a template-twin family is a correct link);
    - REACHABLE recall: the cap-specific counterfactual. A member is
      reachable when an UNCAPPED expansion would emit a VERIFIED pair
      linking it to family: it shares ≥1 bucket with a same-family
      member that also passes the query's verify. For simhash the bucket
      frame carries the fingerprint (h0..h3 columns present) and
      reachability applies the Hamming ≤ threshold check — bucket
      sharing alone overcounts, because chunk-equality banding can
      bucket a member with a FAR family member (Hamming > 8) while its
      near one shares no chunk (pigeonhole is only complete at
      Hamming ≤ 3); those are banding misses an uncapped pipeline drops
      too, not cap loss. For minhash/prefix the count-based bucket check
      IS verify-aware: every same-family pair passes their verifies by
      flood construction (Jaccard ≥ (W-2)/W ≥ 0.8; identical heads).
      The exemplar chain's guarantee is reachable-recall 1.0 (no
      reachable member silently lost, the r9 embedding-flood defect);
      planted recall additionally folds in the probabilistic banding
      tail (a short doc whose tag flips bits across every chunk, a tag
      shingle winning a band's min), which is the LSH family's
      documented trade, not cap loss.
    """
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
        HAMMING_THRESHOLD,
    )

    spark = corpus.sparkSession
    cf = spark.createDataFrame([(comp,)], "__comp array<int>")
    fam = lambda c: F.element_at(  # noqa: E731
        "__comp", (((F.col(c) % 1_000_000) % stride) + 1).cast("int")
    )
    bl = bl.localCheckpoint()
    occ = bl.groupBy("k1", "k2").agg(F.count(F.lit(1)).alias("cnt"))
    cnt = F.col("cnt")
    kept = F.least(cnt, F.lit(cap))
    bucket_row = occ.agg(
        F.max(cnt).alias("max_bucket"),
        F.sum(cnt - kept).alias("chained"),
        F.sum((cnt * (cnt - 1) - kept * (kept - 1)) / 2 - (cnt - kept)).alias(
            "suppressed"
        ),
    ).first()
    b = bl.crossJoin(F.broadcast(cf)).withColumn("fam", fam("doc_id")).drop("__comp")
    if "h0" in bl.columns:
        ba = b.select(
            "k1", "k2", "fam", F.col("doc_id").alias("da"),
            *[F.col(f"h{c}").alias(f"a{c}") for c in range(4)],
        )
        bb = b.select(
            "k1", "k2", "fam", F.col("doc_id").alias("db"),
            *[F.col(f"h{c}").alias(f"b{c}") for c in range(4)],
        )
        ham = sum(
            F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}")))
            for c in range(4)
        )
        reach = (
            ba.join(bb, ["k1", "k2", "fam"])
            .filter(F.col("da") != F.col("db"))
            .filter(ham <= HAMMING_THRESHOLD)
            .select(F.col("da").alias("doc_id"))
            .distinct()
            .localCheckpoint()
        )
    else:
        gf = b.groupBy("k1", "k2", "fam").agg(F.count(F.lit(1)).alias("cf"))
        reach = (
            b.join(gf, ["k1", "k2", "fam"])
            .filter(F.col("cf") >= 2)
            .select("doc_id")
            .distinct()
            .localCheckpoint()
        )
    out = out.localCheckpoint()
    same = out.crossJoin(F.broadcast(cf)).filter(fam("doc_a") == fam("doc_b"))
    rec = (
        same.select(F.col("doc_a").alias("doc_id"))
        .unionAll(same.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    planted = corpus.select("doc_id").filter(
        (F.col("doc_id") >= stride) & (F.col("doc_id") < 1_000_000)
    )
    n_planted = planted.count()
    planted_hits = planted.join(rec, "doc_id", "left_semi").count()
    reach_planted = planted.join(reach, "doc_id", "left_semi")
    n_reach = reach_planted.count()
    reach_hits = reach_planted.join(rec, "doc_id", "left_semi").count()
    return {
        "corpus_docs": corpus.count(),
        "output_pairs": out.count(),
        "extended_families": len(set(comp)),
        "twin_merged_base_docs": stride - len(set(comp)),
        "max_bucket_occupancy": int(bucket_row["max_bucket"] or 0),
        "chained_exemplar_pairs": int(bucket_row["chained"] or 0),
        "cap_suppressed_pairs": int(bucket_row["suppressed"] or 0),
        "planted_members": n_planted,
        "planted_member_hits": planted_hits,
        "planted_member_recall": (
            round(planted_hits / n_planted, 4) if n_planted else None
        ),
        "reachable_planted_members": n_reach,
        "reachable_member_hits": reach_hits,
        "reachable_member_recall": (
            round(reach_hits / n_reach, 4) if n_reach else None
        ),
    }


def _text_flood_deep(spark, specs, sf_dir: str, stride: int) -> dict:
    """Per-query flood deep-points on the exact production bucket frames
    (operators/dedup.py internals, not re-derivations)."""
    from reddit_sentiment_spark_streaming_pipeline_spark.caching import release_tracked
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
        MAX_LSH_BUCKET,
        dedup_corpus,
        minhash_band_rows,
        prefix_block_rows,
        shingle_rows,
        simhash_chunk_rows,
        simhash_fp,
    )

    out = {}
    for q in _TEXT_FLOOD_QUERIES:
        corpus = dedup_corpus(spark, sf_dir)
        if q == "minhash_near_dups":
            bl = minhash_band_rows(shingle_rows(corpus)).select(
                "doc_id", F.col("bi").alias("k1"), F.col("bh").alias("k2")
            )
        elif q == "simhash_near_dups":
            bl = simhash_chunk_rows(simhash_fp(corpus)).select(
                F.col("d.doc_id").alias("doc_id"),
                F.col("ci").alias("k1"),
                F.col("cv").alias("k2"),
                *[F.col(f"d.h{c}").alias(f"h{c}") for c in range(4)],
            )
        else:
            bl = prefix_block_rows(corpus).select(
                "doc_id", F.lit(0).alias("k1"), F.col("block").alias("k2")
            )
        pairs = specs[q].fn(spark, sf_dir).select("doc_a", "doc_b")
        comp = _base_family_components(spark, sf_dir, q, stride)
        out[q] = _text_flood_metrics(
            bl, pairs, corpus, stride, MAX_LSH_BUCKET, comp
        )
        release_tracked()
        spark.catalog.clearCache()
    return out


def _ingest_flood_deep(spark, sf_dir: str, stride: int) -> dict:
    """Stage-2 deep-point for the COMPOSED ingest pipeline under the
    template-spam flood — the regime exact dedup cannot fold (spam
    variants differ by bytes), so every flood member reaches the near-dup
    stage. Measured on the exact production frames (operators/ingest.py
    internals, not re-derivations):

    - blocker-cap pressure: pre-cap max chunk-bucket occupancy, chunk
      rows vs capped blocker rows;
    - pair ATTRIBUTION: decided pairs under the NEARDUP_BLOCKER_CAP
      blocker join vs the uncapped member×member counterfactual (the
      r12-replaced shape that measured 10× docs → 111× join pairs) —
      both exact closed forms over the bucket occupancy histogram, no
      quadratic join needed for the count;
    - rejection RECALL: the capped stage-2 rejection set vs the uncapped
      rule's (the one quadratic join this lap pays for, as ground
      truth). `cap_missed_rejections` = docs the uncapped rule rejects
      but the cap admits (their ONLY smaller-id Hamming-matches hide
      beyond the cap in all four buckets — the documented trade);
      split out for the flood replicas (spam members k≥1, whose family
      first-arrivals hold the blocker slots) and the planted tail-edited
      copies (+INGEST_TAILED_OFFSET, stage 2's in-fixture food);
    - the twin's funnel (docs → exact_ok → neardup_ok → kept) so the
      artifact shows the composition still ends in a non-degenerate
      admission set.
    """
    from reddit_sentiment_spark_streaming_pipeline_spark.functions.hashing import (
        hamming_expr,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (
        HAMMING_THRESHOLD,
        simhash_chunk_rows,
        simhash_fp,
    )
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.ingest import (
        INGEST_RESUB_OFFSET,
        INGEST_TAILED_OFFSET,
        NEARDUP_BLOCKER_CAP,
        ingest_corpus,
        incremental_ingest_pipeline,
    )
    from pyspark.sql.window import Window

    docs = ingest_corpus(spark, sf_dir).select("doc_id", "lang", "text")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s1 = (
        docs.withColumn("ok", F.row_number().over(w) == 1)
        .filter("ok")
        .select("doc_id", "text")
    )
    cl = simhash_chunk_rows(simhash_fp(s1)).localCheckpoint()

    cnt = F.col("cnt")
    cap = F.lit(NEARDUP_BLOCKER_CAP)
    capped_lo = cap * (cap - F.lit(1)) / 2 + (cnt - cap) * cap
    bucket_row = (
        cl.groupBy("ci", "cv")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.max(cnt).alias("max_bucket"),
            F.sum(cnt).alias("chunk_rows"),
            F.sum(F.least(cnt, cap)).alias("blocker_rows"),
            F.sum(cnt * (cnt - 1) / 2).alias("uncapped_pairs"),
            F.sum(
                F.when(cnt <= cap, cnt * (cnt - 1) / 2).otherwise(capped_lo)
            ).alias("capped_pairs"),
        )
        .first()
    )

    wb = Window.partitionBy("ci", "cv").orderBy(F.col("d.doc_id"))
    blockers = (
        cl.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= NEARDUP_BLOCKER_CAP)
        .select("ci", "cv", F.col("d").alias("b"))
    )
    a = cl.select("ci", "cv", F.col("d").alias("a"))
    ham = F.expr(hamming_expr("a.h", "b.h", "spark"))

    def rejected(bside) -> DataFrame:
        return (
            a.join(bside, ["ci", "cv"])
            .filter(F.col("b.doc_id") < F.col("a.doc_id"))
            .filter(ham <= HAMMING_THRESHOLD)
            .select(F.col("a.doc_id").alias("doc_id"))
            .distinct()
            .localCheckpoint()
        )

    rej_cap = rejected(blockers)
    rej_unc = rejected(cl.select("ci", "cv", F.col("d").alias("b")))
    missed = rej_unc.join(rej_cap, "doc_id", "left_anti")

    flood = (F.col("doc_id") >= stride) & (F.col("doc_id") < INGEST_RESUB_OFFSET)
    tailed = F.col("doc_id") >= INGEST_TAILED_OFFSET

    def split(df: DataFrame) -> dict[str, int]:
        r = df.agg(
            F.count(F.lit(1)).alias("all"),
            F.sum(flood.cast("long")).alias("flood"),
            F.sum(tailed.cast("long")).alias("tailed"),
        ).first()
        return {k: int(r[k] or 0) for k in ("all", "flood", "tailed")}

    n_cap, n_unc, n_missed = split(rej_cap), split(rej_unc), split(missed)
    funnel = (
        incremental_ingest_pipeline(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("exact_ok").cast("long")).alias("exact_ok"),
            F.sum(F.col("neardup_ok").cast("long")).alias("neardup_ok"),
            F.sum(F.col("kept").cast("long")).alias("kept"),
        )
        .first()
    )

    def recall(k: str) -> float | None:
        return round(n_cap[k] / n_unc[k], 4) if n_unc[k] else None

    return {
        "corpus_docs": docs.count(),
        "exact_survivors": s1.count(),
        "max_bucket_occupancy": int(bucket_row["max_bucket"] or 0),
        "chunk_rows": int(bucket_row["chunk_rows"] or 0),
        "blocker_rows": int(bucket_row["blocker_rows"] or 0),
        "capped_decided_pairs": int(bucket_row["capped_pairs"] or 0),
        "uncapped_decided_pairs": int(bucket_row["uncapped_pairs"] or 0),
        "capped_rejected": n_cap["all"],
        "uncapped_rejected": n_unc["all"],
        "cap_missed_rejections": n_missed["all"],
        "rejection_recall": recall("all"),
        "flood_members_rejected_capped": n_cap["flood"],
        "flood_members_rejected_uncapped": n_unc["flood"],
        "flood_rejection_recall": recall("flood"),
        "tailed_rejected_capped": n_cap["tailed"],
        "tailed_rejected_uncapped": n_unc["tailed"],
        "tailed_rejection_recall": recall("tailed"),
        "funnel": {
            k: int(funnel[k]) for k in ("docs", "exact_ok", "neardup_ok", "kept")
        },
    }


def _span_isolation(spark, sf_dir: str, out_dir: str) -> dict:
    """Empirical check that the affine cipher family keeps replicas
    span-disjoint: count 8-word windows shared across replica bands in
    the big fixture's dedup corpus (the exact input repeated_ngram_spans
    reads — cross-replica repeats would inflate its output super-linearly
    and corrupt the scaling measurement).  Bands derive from the fixture's
    doc_id layout: replica = (doc_id % 1_000_000) div base_stride — the
    corpus's synthetic-dup branches offset doc_id by 1e6/2e6, far above
    108 replicas * stride for every shipped sf."""
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.dedup import (  # noqa: E501
        SPAN_NGRAM, dedup_corpus,
    )

    stride = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .agg((F.max("doc_id") + 1).alias("s")).first()["s"]
    )
    corpus = dedup_corpus(spark, out_dir)
    toks = corpus.select(
        ((F.col("doc_id") % 1000000) / stride).cast("long").alias("band"),
        F.split("text", " ").alias("w"),
    )
    win = toks.filter(F.size("w") >= SPAN_NGRAM).select(
        "band",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - SPAN_NGRAM),
                lambda i: F.array_join(F.slice("w", i + 1, SPAN_NGRAM), " "),
            )
        ).alias("g"),
    )
    cross = (
        win.groupBy("g")
        .agg(F.min("band").alias("lo"), F.max("band").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .count()
    )
    return {"cross_replica_repeated_windows": cross, "ngram": SPAN_NGRAM}


# The batch queries' measured broadcast budgets, each read at call time.
# --force-fallback sets them to 0, so every gated join runs its fallback.
BATCH_GATES = (
    (dedup, "PAIR_DOCSET_BROADCAST_MAX"),
    (dedup, "SPAN_REP_BROADCAST_MAX"),
    (similarity, "COS_PAIR_BROADCAST_MAX"),
)


def main() -> None:
    global REPLICAS, QUERIES, SKEW_S, EMB_PERTURB, TEXT_PERTURB
    args = list(sys.argv[1:])
    if "--emb-perturb" in args:
        i = args.index("--emb-perturb")
        EMB_PERTURB = args[i + 1]
        if EMB_PERTURB not in ("isometry", "jitter"):
            raise SystemExit(f"unknown --emb-perturb mode: {EMB_PERTURB}")
        del args[i:i + 2]
    if "--text-perturb" in args:
        i = args.index("--text-perturb")
        TEXT_PERTURB = args[i + 1]
        if TEXT_PERTURB not in ("cipher", "spam"):
            raise SystemExit(f"unknown --text-perturb mode: {TEXT_PERTURB}")
        del args[i:i + 2]
    text_flood_deep = "--text-flood-deep" in args
    if text_flood_deep:
        args.remove("--text-flood-deep")
    ingest_flood_deep = "--ingest-flood-deep" in args
    if ingest_flood_deep:
        args.remove("--ingest-flood-deep")
    if "--replicas" in args:
        i = args.index("--replicas")
        REPLICAS = int(args[i + 1])
        del args[i:i + 2]
    if "--queries" in args:
        i = args.index("--queries")
        QUERIES = args[i + 1].split(",")
        del args[i:i + 2]
    verify_isolation = "--verify-span-isolation" in args
    if verify_isolation:
        args.remove("--verify-span-isolation")
    emb_deep = "--emb-deep" in args
    if emb_deep:
        args.remove("--emb-deep")
    # recorded in the artifact so a forced lap can never be mistaken for
    # the default regime
    forced_gates = {}
    if "--force-fallback" in args:
        args.remove("--force-fallback")
        for module, budget in BATCH_GATES:
            setattr(module, budget, 0)
            forced_gates[budget] = 0
    if "--skew" in args:
        i = args.index("--skew")
        spec = args[i + 1]
        if not spec.startswith("zipf"):
            raise SystemExit(f"unknown --skew mode: {spec} (want zipf[:s])")
        SKEW_S = float(spec.split(":", 1)[1]) if ":" in spec else 1.2
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    out_dir = args[1] if len(args) > 1 else "/tmp/scale_rehearsal_sf1"
    spark = get_spark("scale-rehearsal")
    specs = registry.load_all()

    shutil.rmtree(out_dir, ignore_errors=True)
    need_docs = any(
        q not in RELATIONAL_QUERIES and q not in EVENTS_QUERIES
        for q in QUERIES
    )
    need_rel = any(q in RELATIONAL_QUERIES for q in QUERIES)
    need_events = any(q in EVENTS_QUERIES for q in QUERIES)

    def build_all(dest: str) -> None:
        if need_docs:
            build_fixture(spark, sf_dir, dest)
        if need_rel:
            build_relational_fixture(spark, sf_dir, dest)
        if need_events:
            build_events_fixture(spark, sf_dir, dest)
        # Queries that go through register_views (spark.sql surface) load
        # EVERY fixture table; copy any table the builders above didn't
        # write verbatim — those are exactly the non-scaling sides, and a
        # missing-parquet failure here would abort the sweep.
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet") and not os.path.exists(
                os.path.join(dest, name)
            ):
                spark.read.parquet(os.path.join(sf_dir, name)).write.mode(
                    "overwrite").parquet(os.path.join(dest, name))

    build_all(out_dir)
    isolation = (
        _span_isolation(spark, sf_dir, out_dir) if verify_isolation else None
    )
    # Under --skew the BASE must be skew-shaped too (the scaling ratio is
    # only meaningful between same-shaped distributions): build a 1x
    # zipf-keyed copy of the base and time against it instead of sf_dir.
    base_dir = sf_dir
    if SKEW_S is not None:
        base_dir = out_dir.rstrip("/") + "_base1x"
        shutil.rmtree(base_dir, ignore_errors=True)
        saved = REPLICAS
        REPLICAS = 1
        try:
            build_all(base_dir)
        finally:
            REPLICAS = saved

    # warm codegen on the small scale first (same reasoning as bench.py);
    # time_queries itself then takes min-of-reps walls at each scale
    time_queries(spark, specs, base_dir, reps=1)  # codegen warmup
    base = time_queries(spark, specs, base_dir)
    big = time_queries(spark, specs, out_dir)
    emb_metrics = None
    if emb_deep:
        emb_metrics = {
            "base": _emb_deep(spark, specs, base_dir),
            "big": _emb_deep(spark, specs, out_dir),
        }
    flood_metrics = None
    if text_flood_deep:
        # family stride = the BASE fixture's doc_id domain; replicas of
        # base doc i live at i + k*stride in the big fixture
        stride = int(
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .agg(F.max("doc_id") + 1)
            .first()[0]
        )
        flood_metrics = {
            "base": _text_flood_deep(spark, specs, base_dir, stride),
            "big": _text_flood_deep(spark, specs, out_dir, stride),
        }
    ingest_flood_metrics = None
    if ingest_flood_deep:
        stride = int(
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .agg(F.max("doc_id") + 1)
            .first()[0]
        )
        ingest_flood_metrics = {
            "base": _ingest_flood_deep(spark, base_dir, stride),
            "big": _ingest_flood_deep(spark, out_dir, stride),
        }

    kinds = {
        "relational" if q in RELATIONAL_QUERIES
        else "events" if q in EVENTS_QUERIES
        else "dedup_ann"
        for q in QUERIES
    }
    kind = kinds.pop() if len(kinds) == 1 else "mixed"
    print(json.dumps({
        "rehearsal": f"{kind}_{REPLICAS}x" + (
            f"_zipf{SKEW_S}" if SKEW_S is not None else ""
        ) + ("_spam_flood" if TEXT_PERTURB == "spam" else "") + (
            "_forced_fallback" if forced_gates else ""
        ),
        **({"skew": {"law": "zipf", "s": SKEW_S}} if SKEW_S is not None else {}),
        **({"forced_gates": forced_gates} if forced_gates else {}),
        **({"span_isolation": isolation} if isolation is not None else {}),
        **({"emb_perturb": EMB_PERTURB} if EMB_PERTURB != "isometry" else {}),
        **({"text_perturb": TEXT_PERTURB} if TEXT_PERTURB != "cipher" else {}),
        **({"emb_deep": emb_metrics} if emb_metrics is not None else {}),
        **({"text_flood_deep": flood_metrics} if flood_metrics is not None else {}),
        **({"ingest_flood_deep": ingest_flood_metrics}
           if ingest_flood_metrics is not None else {}),
        # run-time plan pins: which implementation this artifact measured
        # (tools/pin_scale_evidence.py + tests/test_scale_evidence.py use
        # these to fail the build when a plan rewrite orphans its evidence)
        "fingerprints": {
            q: {
                "block_sha": registry.query_block_sha(specs[q]),
                "sha256": registry.query_fingerprint(specs[q]),
            }
            for q in QUERIES
        },
        # semantic env knobs: these re-derive query contracts WITHOUT
        # changing any source fingerprint, so the artifact must record
        # the values it actually measured under (a committed artifact
        # produced under a non-default knob would otherwise silently
        # back the default contract's scale claims —
        # tests/test_scale_evidence.py asserts committed artifacts
        # carry the defaults)
        "env_knobs": _env_knobs(),
        "replicas": REPLICAS,
        "base": base,
        "big": big,
        "scaling_x": {
            q: (round(big[q]["sec"] / base[q]["sec"], 2) if base[q]["sec"] else None)
            for q in QUERIES
        },
        "shuffle_scaling_x": {
            q: (
                round(big[q]["shuffle_mb"] / base[q]["shuffle_mb"], 2)
                if base[q]["shuffle_mb"] > 0.001 else None
            )
            for q in QUERIES
        },
    }))


if __name__ == "__main__":
    main()
