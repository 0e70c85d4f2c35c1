"""Similarity search over the embedding column (training-data extension).

Not in the reference; required by the north star (BASELINE.json): cosine
top-k + an LSH-bucketed approximate variant over `embeddings`
(array<float>, dim 64).

Design:
- Vectors stay as array columns; all arithmetic is JVM-side built-ins
  (zip_with + aggregate fold) — no Python worker, no UDF.
- Brute-force top-k: broadcast the (tiny) query set against the corpus —
  at 100 TB this is the exact-scoring path you run *after* candidate
  pruning. Ranking uses the ROUNDED cosine plus vec_id so ordering is
  reproducible across engines (raw float ties are not).
- ANN path: random-hyperplane LSH (sign of dot with fixed pseudo-random
  planes, derived from md5 so engine and oracle share them exactly) buckets
  the corpus; candidates = query's bucket only. At cluster scale the
  bucket id is the shuffle/partition key, turning O(N·Q) scoring into
  O(N/2^bits · Q).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_sentiment_spark_streaming_pipeline_spark.registry import register
from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors
LSH_BITS = 4
DIM = 64


def _plane(j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j: md5-nibble weights − 7.5."""
    return [
        int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) - 7.5
        for i in range(DIM)
    ]


PLANES = [_plane(j) for j in range(LSH_BITS)]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count.

    The embeddings parquet is a handful of row groups, so scans yield 2-3
    partitions — and every downstream broadcast join keeps that partitioning,
    pinning the interpreted HOF dot-product scoring (CodegenFallback, the
    true cost here) to 2-3 of the available cores. On a cluster the same
    spread falls out of the exchange on the bucket/centroid key; in local
    mode it needs to be explicit. Cost: one tiny shuffle of id+vector rows.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def as_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _plane_lit(j: int) -> Column:
    return F.array(*[F.lit(w) for w in PLANES[j]])


def _plane_sql(j: int) -> str:
    return "[" + ", ".join(repr(w) for w in PLANES[j]) + "]::DOUBLE[]"


def bucket_col(emb: Column) -> Column:
    """LSH bucket id: sign bits of the plane dots, packed little-endian."""
    bits = [
        F.when(dot(emb, _plane_lit(j)) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(LSH_BITS)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _bucket_sql(emb: str) -> str:
    terms = [
        f"CASE WHEN list_dot_product({emb}, {_plane_sql(j)}) >= 0 THEN {1 << j} ELSE 0 END"
        for j in range(LSH_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           label,
           len(embedding)                                           AS dim,
           round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
    FROM embeddings
    """,
    doc="Vector column basics: dimension + L2 norm, all JVM-side array ops",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double("embedding")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(dot(e, e)), 6).alias("l2_norm"),
    )


@register(
    "cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
    pairs AS (
        SELECT q.query_id, c.vec_id,
               round(list_dot_product(qe, ce)
                     / sqrt(list_dot_product(qe, qe) * list_dot_product(ce, ce)), 6) AS cosine
        FROM q CROSS JOIN c
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, rn AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
        FROM pairs
    )
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="Brute-force cosine top-k (exact baseline): broadcast query set × "
    "corpus scan, rank on rounded cosine for cross-engine determinism",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = spread(emb.select("vec_id", as_double("embedding").alias("ce")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qe")
    )
    pairs = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qe"), F.col("ce"))
                / F.sqrt(dot(F.col("qe"), F.col("qe")) * dot(F.col("ce"), F.col("ce"))),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@register(
    "lsh_bucket_histogram",
    oracle=f"""
    SELECT {_bucket_sql('embedding::DOUBLE[]')} AS bucket,
           count(*)                             AS n_vectors
    FROM embeddings
    GROUP BY 1
    ORDER BY bucket
    """,
    doc=f"Random-hyperplane LSH bucketing ({LSH_BITS} bits): the partition "
    "key that makes ANN scale — bucket histogram",
)
def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(bucket_col(as_double("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS ce,
               {_bucket_sql('embedding::DOUBLE[]')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, ce AS qe, bucket FROM c WHERE vec_id < {N_QUERIES}),
    pairs AS (
        SELECT q.query_id, c.vec_id,
               round(list_dot_product(qe, ce)
                     / sqrt(list_dot_product(qe, qe) * list_dot_product(ce, ce)), 6) AS cosine
        FROM q JOIN c ON c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, rn AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
        FROM pairs
    )
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="ANN variant: score only the query's LSH bucket (equi-join on "
    "bucket id instead of a cross join) — the 100 TB path",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select(
        "vec_id",
        as_double("embedding").alias("ce"),
        bucket_col(as_double("embedding")).alias("bucket"),
    )
    q = c.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("ce").alias("qe"), "bucket"
    )
    pairs = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qe"), F.col("ce"))
                / F.sqrt(dot(F.col("qe"), F.col("qe")) * dot(F.col("ce"), F.col("ce"))),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


COSINE_DUP_THRESHOLD = 0.99
# Broadcast gate for embedding_near_dups' verify: 50k pairs, NOT the 200k
# a bare pair-id row count would suggest, because the second join
# broadcasts the pair list carrying the 64-dim double embedding (~600
# B/row with array overhead) — 50k × ~600 B ≈ 30 MB, the sizing of
# dedup.py's PAIR_DOCSET_BROADCAST_MAX. Read at call time, so a test or a
# rehearsal forces the sort-merge fallback by setting it to 0.
COS_PAIR_BROADCAST_MAX = 50_000
# SemDeDup target mean cluster size: K = max(N_CENTROIDS, ceil(N / this)).
SEMDEDUP_CLUSTER_SIZE = 256

# The corpus is random (organic max cosine ≈ 0.51 at sf0.01), so near-dup
# pairs are constructed: every 10th vector re-added with its first element
# scaled ×1.05 → cosine ≈ 0.999 against its source, far above organic pairs.
_DUP_CORPUS_SQL = """
        SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_concat([embedding[1] * 1.05], embedding[2:]::DOUBLE[])
        FROM embeddings WHERE vec_id % 10 = 0
"""


def _dup_corpus(emb: DataFrame) -> DataFrame:
    base = emb.select("vec_id", as_double("embedding").alias("ce"))
    perturbed = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("ce", 1) * 1.05),
            F.slice("ce", 2, DIM - 1),
        ).alias("ce"),
    )
    return base.unionByName(perturbed)


# Banded sign-LSH geometry for embedding_near_dups. A single LSH table
# with 2^LSH_BITS = 16 buckets (the probe layout ann_lsh_topk uses, where
# candidates are bounded by the QUERY count) is quadratic when self-joined
# for all-pairs discovery: candidates ~ N²/16 regardless of duplicate
# rate — the 100-replica rehearsal measured 2.02e9 candidate pairs and a
# 785x wall for 100x data before this layout. Banding alone is not
# enough: ANY fixed band width leaves organic collisions Θ(N²/2^bits)
# (measured: 2,152 → 5.9M candidates for 100x data at a fixed 16 bits).
# So the band width ADAPTS to the corpus: every vector gets a 24-bit
# band hash, and the bucket key masks it down to
#   bits(N) = clamp(ceil(log2(2·N)), 8, 24)
# where N is the corpus count computed IN-PLAN as a broadcast scalar
# (the semantic_dedup_prune precedent — its K = max(8, N/256) works the
# same way, and the DuckDB oracle evaluates the identical formula, so
# the contract stays engine-exact at every scale). Expected bucket
# occupancy is then ~1/2, so organic candidates stay ≈ N²/2^(bits+1)·B
# ≈ 2·N — LINEAR until the 24-bit ceiling binds at N ≈ 2^23 vectors.
# PAST THE CEILING (production sizing; the shipped plane pool must be
# finite): raise COS_BAND_BITS — env-tunable, SPARK_GRAFT_COS_BAND_BITS —
# to ceil(log2(2·N_max)) for the target corpus; that is the ONLY knob. The plane pool regrows automatically
# (_COS_COEFS derives COS_BANDS × COS_BAND_BITS hashed planes). NOTE:
# planes are indexed p = band·COS_BAND_BITS + t, so widening RE-DERIVES
# the whole hash family for every band ≥ 1 — all buckets rehash. That
# is safe here because nothing persists bucket ids across widths:
# cross-engine consistency holds because engine AND oracle regrow from
# the same constant at import (the width-invariance the subprocess test
# proves). A deployment that DOES persist bucket state (the streaming
# gate) must rebuild that state after widening. Cost grows with
# log N: each extra bit is one more integer plane-dot per (vector,
# band) and per-band recall drops by one 0.955 factor — at 30 bits
# (N ≈ 5·10^8) p(≥1 of 8 bands) is still ≈ 89% for 0.99-cosine pairs
# and ≥ 99.99% for the ≥ 0.999 planted class; hold recall instead by
# adding bands (recall 1-(1-p_band)^B, candidates stay ≈ 2·N·B/8).
# The oracle contract survives unchanged because the SQL is generated
# from the same constants (_COS_VALUES / COS_BAND_BITS f-strings) and
# bits(N) is clamped by the same least/greatest expression on both
# engines. Recall for cosine ≥ 0.99 (angle ≤ 8.1°,
# p(bit) = 1 - θ/π = 0.955): at the sf0.01 oracle gate bits = 11,
# p(band) = 0.955^11 = 0.60, p(≥1 of 8 bands) = 99.6%; at bits = 21
# (N ≈ 550k) still 97.8%, and the PLANTED dup pairs (cosine ≈ 0.999,
# p(bit) = 0.986) miss all 8 bands w.p. < 1e-4 at every width.
#
# The sign bits are computed over INTEGER-quantized vectors (millis,
# floor(x*1000)) with integer md5-derived plane coefficients — the same
# trick embedding_rp_simhash_dups documents: an integer dot product has
# no float summation-order divergence, so a borderline plane can never
# put the two engines' copies of one vector in different buckets. The
# verify stage still scores the exact double cosine (rounded to 6, the
# established cross-engine contract). ceil(log2(2N)) is itself
# engine-exact: log2 of a power of two is exact in IEEE double, and a
# non-power can never land on an integer, so the two engines' ceil
# always agrees.
COS_BANDS = 8
# Provisioned plane pool per band; masked to bits(N). THE production
# sizing knob past the ceiling (see the geometry comment above): set
# SPARK_GRAFT_COS_BAND_BITS = ceil(log2(2·N_max)) for the target corpus
# and the plane pool, the engine's band hashes, AND the embedded oracle
# SQL all regrow from the same constant at import — the cross-engine
# contract is invariant in the width, which
# tests/test_similarity.py::test_cos_band_bits_env_widening proves by
# running the oracle comparison in a subprocess at a non-default width.
# single source of truth for the knob default (imported by the rehearsal
# artifact stamper and the default-knob guard test — see
# selection.DSIR_TARGET_LANG_DEFAULT for the rationale)
COS_BAND_BITS_DEFAULT = 24


def _cos_band_bits_from_env() -> int:
    """Validated read of the production sizing knob. Bounds are hard:
    below 8 the mask drops under COS_MIN_BITS; at ≥ 31 the bucket mask's
    shiftleft(1, bits) wraps 32-bit int arithmetic in Spark SQL and the
    mask goes negative/zero — fail at import with a clear message
    instead of silently mis-bucketing."""
    raw = os.environ.get("SPARK_GRAFT_COS_BAND_BITS", str(COS_BAND_BITS_DEFAULT))
    try:
        bits = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_COS_BAND_BITS={raw!r} is not an integer; "
            f"expected 8..30 (default 24)") from None
    if not 8 <= bits <= 30:
        raise ValueError(
            f"SPARK_GRAFT_COS_BAND_BITS={bits} out of range: must be in "
            f"8..30 (31+ wraps Spark SQL's 32-bit shiftleft bucket mask; "
            f"default 24)")
    return bits


COS_BAND_BITS = _cos_band_bits_from_env()
COS_MIN_BITS = 8
MAX_COS_BUCKET = 64


def _cos_coef(p: int, d: int) -> int:
    """Deterministic integer plane coefficient in [-1000, 1000]."""
    return int(hashlib.md5(f"cos{p}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000


_COS_COEFS = [
    [_cos_coef(p, d) for d in range(DIM)]
    for p in range(COS_BANDS * COS_BAND_BITS)
]

_COS_VALUES = ", ".join(
    f"({p}, {d}, {_COS_COEFS[p][d]})"
    for p in range(COS_BANDS * COS_BAND_BITS)
    for d in range(DIM)
)


def _cos_band_ints() -> Column:
    """All COS_BANDS band hashes of the (quantized) `ce` column as one
    array<long>: packed sign bits of the integer plane dots.

    The dots are INTEGER, so any summation order gives the exact same
    sign — which is what lets this run as one NumPy matmul per Arrow
    batch instead of the previous per-plane `aggregate(zip_with(...))`
    fold. That fold is an interpreted higher-order function
    (CodegenFallback): COS_BANDS x COS_BAND_BITS = 192 plane dots x 64
    lambda evaluations each made the banding the dominant cost of
    embedding_near_dups (r12 measured 3.1 s of its 5.8 s at sf0.1; the
    vectorized form cuts the full query 7.3 s -> 3.3 s interleaved
    min-of-4, buckets and output byte-identical). The float cosine
    VERIFY stays on the JVM sequential fold — float sums are order-
    sensitive in the last ulp and the 6-dp cross-engine contract is
    pinned to that order; integer signs have no such hazard.

    r13: the millis quantization (floor(x*1000) as bigint) moved INSIDE
    the UDF — np.floor(m*1000.0).astype(int64) is the same two IEEE
    operations Spark's `transform(ce, x -> cast(floor(x*1000) as
    bigint))` performs per element, so the quantized matrix is
    bit-identical — which drops the 64-long `xq` column from the corpus
    persist and its interpreted per-element transform from the corpus
    pass (guide §2.3: the persist both verify sides re-read is ~half as
    wide)."""
    coef_m = np.asarray(_COS_COEFS, dtype=np.int64)        # (planes, DIM)
    bitw = np.int64(1) << np.arange(COS_BAND_BITS, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def band_ints(ce: pd.Series) -> pd.Series:
        if len(ce) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(ce.to_numpy())                        # (n, DIM) float64
        q = np.floor(m * 1000.0).astype(np.int64)          # == floor(x*1000)
        dots = q @ coef_m.T                                # exact int64
        signs = (dots >= 0).astype(np.int64)
        bands = signs.reshape(len(m), COS_BANDS, COS_BAND_BITS) @ bitw
        return pd.Series(list(bands))

    return band_ints("ce")


def _cos_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dup corpus with per-vector norm — norms computed once per
    vector, not per candidate pair. Persisted: the band stage and both
    verify join sides read this. (The integer quantization for banding
    happens inside the band UDF — see _cos_band_ints — so no 64-long
    `xq` column rides the persist.)"""
    from reddit_sentiment_spark_streaming_pipeline_spark.caching import track

    emb = load_table(spark, sf_dir, "embeddings")
    return track(spread(_dup_corpus(emb)).select(
        "vec_id",
        "ce",
        F.sqrt(dot(F.col("ce"), F.col("ce"))).alias("nrm"),
    ).persist())


def _cos_buckets(c: DataFrame) -> DataFrame:
    """(vec_id, band, bkt) with the scale-adaptive mask applied: the
    corpus count enters the plan as a 1-row broadcast scalar (no driver
    collect), and the 24-bit band hashes are masked down to bits(N) at
    the bucket key — see the geometry comment above COS_BANDS."""
    bits_df = c.agg(
        F.least(
            F.lit(COS_BAND_BITS),
            F.greatest(
                F.lit(COS_MIN_BITS),
                F.ceil(F.log2(F.count(F.lit(1)) * 2)).cast("int"),
            ),
        ).alias("_bits")
    )
    return (
        c.select("vec_id", _cos_band_ints().alias("bands"))
        .crossJoin(F.broadcast(bits_df))
        .select("vec_id", F.posexplode("bands").alias("band", "bkt0"), "_bits")
        .select(
            "vec_id",
            "band",
            # cast back to int: the bucket key rides the banding exchange
            # and the cap window — 4 bytes, same width as the previous
            # JVM-side packed sum (guide §2.3, narrower shuffle keys)
            F.col("bkt0").bitwiseAND(F.expr("shiftleft(1, _bits)") - 1)
            .cast("int")
            .alias("bkt"),
        )
    )


def _cos_candidate_pairs(c: DataFrame) -> DataFrame:
    """Distinct within-bucket candidate pairs: full pairwise expansion
    among the MAX_COS_BUCKET lowest vec_ids per bucket, plus one
    EXEMPLAR-CHAIN pair (bucket minimum, member) for every overflow
    member beyond the cap. One row per (vector, band) feeds ONE exchange
    on (band, bkt) for the cap window, the exemplar window, and the
    bucket aggregation — the minhash LSH shape (dedup.py
    minhash_candidates_from_shingles), reused deliberately.

    The exemplar chain is what keeps a duplicate FLOOD (thousands of
    copies of one vector, all sharing a bucket) from silently swallowing
    members: a pure cap drops every member past the 64th in ALL bands —
    the r9 jitter-flood rehearsal measured planted copies vanishing from
    the output entirely, because a planted copy's high vec_id sorts it
    last everywhere. With chaining, every overflow member still costs
    O(1) pairs (never O(bucket)²) but stays verified against the bucket
    exemplar, so cluster-style dedup retains the whole flood component.
    The `observe` counter now counts pairs the cap suppressed BEYOND the
    chain (C(full,2) − C(kept,2) − overflow), the honest residual."""
    from pyspark.sql.window import Window

    bl = _cos_buckets(c)
    wb = Window.partitionBy("band", "bkt")
    ranked = (
        bl.withColumn("full", F.count(F.lit(1)).over(wb))
        .withColumn("rn", F.row_number().over(wb.orderBy("vec_id")))
        .withColumn("ex", F.min("vec_id").over(wb))
    )
    grp = (
        ranked.filter(F.col("rn") <= MAX_COS_BUCKET)
        .groupBy("band", "bkt")
        .agg(
            F.sort_array(F.collect_list("vec_id")).alias("ds"),
            F.first("full").alias("full"),
        )
        .filter(F.size("ds") >= 2)
    )
    full = F.col("full")
    kept = F.least(full, F.lit(MAX_COS_BUCKET))
    grp = grp.observe(
        "cos_bucket_cap",
        F.sum(
            (full * (full - 1) - kept * (kept - 1)) / 2 - (full - kept)
        ).alias("dropped_pairs"),
        F.sum(full - kept).alias("exemplar_pairs"),
        F.max(full).alias("max_bucket_vecs"),
    ).select("ds")
    pairwise = (
        grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(x AS vec_a, y AS vec_b))))"
                )
            ).alias("p")
        )
        .select("p.vec_a", "p.vec_b")
    )
    chained = ranked.filter(F.col("rn") > MAX_COS_BUCKET).select(
        F.col("ex").alias("vec_a"), F.col("vec_id").alias("vec_b")
    )
    return pairwise.unionByName(chained).distinct()


@register(
    "embedding_near_dups",
    oracle=f"""
    WITH base AS ({_DUP_CORPUS_SQL}),
    c AS (
        SELECT vec_id, ce, sqrt(list_dot_product(ce, ce)) AS nrm
        FROM base
    ),
    longf AS (
        SELECT vec_id, generate_subscripts(ce, 1) - 1 AS d,
               CAST(floor(unnest(ce) * 1000) AS BIGINT) AS xq
        FROM c
    ),
    nb AS (
        SELECT least({COS_BAND_BITS}, greatest({COS_MIN_BITS},
                     CAST(ceil(log2(count(*) * 2)) AS INT))) AS nbits
        FROM c
    ),
    planes AS (SELECT * FROM (VALUES {_COS_VALUES}) AS t(p, d, cf)),
    dots AS (
        SELECT longf.vec_id, planes.p, sum(longf.xq * planes.cf) AS dp
        FROM longf JOIN planes ON planes.d = longf.d
        GROUP BY longf.vec_id, planes.p
    ),
    bands AS (
        SELECT vec_id, p // {COS_BAND_BITS} AS band,
               CAST(sum(CASE WHEN dp >= 0
                             THEN 1 << (p % {COS_BAND_BITS}) ELSE 0 END)
                    AS BIGINT)
               & ((1 << (SELECT nbits FROM nb)) - 1) AS bkt
        FROM dots GROUP BY vec_id, p // {COS_BAND_BITS}
    ),
    blists AS (
        SELECT band, bkt, list_sort(list(vec_id)) AS ls
        FROM bands GROUP BY band, bkt
    ),
    capped AS (
        SELECT band, bkt,
               unnest(list_slice(ls, 1, {MAX_COS_BUCKET})) AS vec_id
        FROM blists
    ),
    chained AS (
        SELECT ls[1] AS vec_a,
               unnest(list_slice(ls, {MAX_COS_BUCKET} + 1, len(ls))) AS vec_b
        FROM blists
    ),
    cand AS (
        SELECT DISTINCT vec_a, vec_b FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id
            UNION ALL
            SELECT vec_a, vec_b FROM chained
        )
    ),
    scored AS (
        SELECT cand.vec_a, cand.vec_b,
               round(list_dot_product(x.ce, y.ce) / (x.nrm * y.nrm), 6)
                   AS cosine
        FROM cand
        JOIN c x ON x.vec_id = cand.vec_a
        JOIN c y ON y.vec_id = cand.vec_b
    )
    SELECT vec_a, vec_b, cosine
    FROM scored
    WHERE cosine >= {COSINE_DUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding-cosine near-dup detection, banded sign-LSH with "
    "SCALE-ADAPTIVE band width: 8 bands of 24 provisioned integer "
    "planes, bucket key masked to bits(N) = clamp(ceil(log2(2N)), 8, "
    "24) with N computed in-plan (broadcast scalar; the oracle "
    "evaluates the identical formula), so expected bucket occupancy "
    "stays ~1/2 and organic candidate volume stays ≈ 2N — linear — at "
    "every corpus size up to the 24-bit ceiling. Integer-quantized "
    "dots kill the cross-engine float-sign hazard; per-(band, bucket) "
    "row_number cap at 64 bounds duplicate floods, with EXEMPLAR "
    "CHAINING for overflow members (one (bucket-min, member) pair each, "
    "O(1) per member) so a flood never silently swallows its members; "
    "within-bucket pair expansion + DISTINCT; exact double-cosine "
    "≥ 0.99 verify, broadcast-gated on the measured pair count with a "
    "spillable sort-merge fallback (pair volume past the gate is "
    "unbounded, so the hash-relation-resident shuffle-hash shape the "
    "bounded verifies in dedup.py use would OOM — measured in the r9 "
    "flood rehearsal). Replaces the single "
    "16-bucket self-join whose candidate volume was N²/16 by "
    "construction (measured: 2.02e9 candidates, 785x wall at 100x "
    "data; a FIXED 16-bit banding still grew 2,152 → 5.9M candidates — "
    "adaptive width is what makes it linear).",
)

def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _cos_corpus(spark, sf_dir)
    pairs = _cos_candidate_pairs(c)
    # Verify join-back: pair list is small (∝ true near-dups, bounded by
    # the bucket cap), so it is localCheckpoint-ed (lineage cut — without
    # it each verify side re-runs the banding) and its measured count
    # gates the broadcast (COS_PAIR_BROADCAST_MAX), mirroring
    # _pair_docset_join in dedup.py. Lazy: the gate count materializes the
    # checkpoint AND returns the count in ONE job (eager=True paid a
    # separate materialization job first — r13).
    pairs = pairs.localCheckpoint(eager=False)
    small = pairs.count() <= COS_PAIR_BROADCAST_MAX
    # Fallback is SORT-MERGE, not shuffle-hash: past the gate the pair
    # list is unbounded (∝ true duplicate volume — a flood corpus can
    # make it huge), and a shuffle-hash join must hold an entire build
    # partition's hash relation in execution memory. The r9 jitter-flood
    # rehearsal OOM'd exactly there ("Can't acquire 268435456 bytes to
    # build hash relation") with ~5M embedding-carrying rows across 32
    # partitions; SMJ spills its sorted runs and survives the same input.
    hint = F.broadcast if small else (lambda d: d.hint("merge"))
    a = c.select(F.col("vec_id").alias("vec_a"), F.col("ce").alias("ea"),
                 F.col("nrm").alias("na"))
    b = c.select(F.col("vec_id").alias("vec_b"), F.col("ce").alias("eb"),
                 F.col("nrm").alias("nb"))
    t1 = a.join(hint(pairs), "vec_a").select("vec_a", "vec_b", "ea", "na")
    t2 = b.join(hint(t1), "vec_b")
    cos = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    return (
        t2.select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


N_CENTROIDS = 8
_CENTROID_LO = 100  # vec_id 100..107 serve as the deterministic coarse quantizer

# Squared L2 distance via three dot products: |x|² − 2x·c + |c|², rounded so
# the argmin ordering is identical across engines; ties break on cid.
_DIST_SQL = ("round(list_dot_product(ce, ce) - 2 * list_dot_product(ce, cv)"
             " + list_dot_product(cv, cv), 6)")

_IVF_SQL = f"""
    c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
    cent AS (
        SELECT vec_id - {_CENTROID_LO} AS cid, ce AS cv
        FROM c WHERE vec_id BETWEEN {_CENTROID_LO} AND {_CENTROID_LO + N_CENTROIDS - 1}
    ),
    dists AS (
        SELECT c.vec_id, cent.cid, {_DIST_SQL} AS dist
        FROM c CROSS JOIN cent
    ),
    mind AS (SELECT vec_id, min(dist) AS md FROM dists GROUP BY vec_id),
    assign AS (
        SELECT d.vec_id, min(d.cid) AS cid
        FROM dists d JOIN mind m ON d.vec_id = m.vec_id AND d.dist = m.md
        GROUP BY d.vec_id
    )
"""


def _argmin_cid(cents_col: Column, ce: Column) -> Column:
    """Per-row nearest-centroid id over a broadcast centroid ARRAY:
    fold `cents` (struct<cid, cv, cvv> with cvv = cv·cv precomputed) to
    the lexicographic min of (round(dist, 6), cid) and take its cid —
    exactly `min_by(cid, struct(dist, cid))` of the previous
    crossJoin-then-aggregate shape, but with zero exchanges: no N×K
    BroadcastNestedLoopJoin row explosion, no groupBy(vec_id) shuffle,
    no join-back (r13, guide §2.4/§3 — the assignment is now a COLUMN
    on the corpus pass). Bitwise-identical dist: same
    `round(ce·ce − 2·(ce·cv) + cv·cv, 6)` expression tree, with ce·ce
    hoisted once per row and cv·cv once per centroid (same fold over
    the same values → the same double). Returns NULL on an empty
    centroid set — callers filter, matching the old inner-join's
    empty-result behavior."""
    n2 = dot(ce, ce)
    return F.array_min(
        F.transform(
            cents_col,
            lambda t: F.struct(
                F.round(n2 - 2 * dot(ce, t["cv"]) + t["cvv"], 6).alias("d"),
                t["cid"].alias("c"),
            ),
        )
    )["c"]


def _cent_array(cent: DataFrame) -> DataFrame:
    """1-row (always: agg over possibly-empty input) broadcast frame
    holding every centroid as struct(cid, cv, cvv = cv·cv)."""
    return cent.agg(
        F.collect_list(
            F.struct(
                "cid", "cv", dot(F.col("cv"), F.col("cv")).alias("cvv")
            )
        ).alias("cents")
    )


def _ivf_assign(emb: DataFrame) -> DataFrame:
    """(vec_id, ce, cid): nearest-centroid assignment — broadcast the 8
    centroids as ONE array row and fold the arg-min per corpus row
    (_argmin_cid); at cluster scale cid becomes the inverted-list
    partition key. One map-side pass, zero assignment exchanges."""
    c = spread(emb.select("vec_id", as_double("embedding").alias("ce")))
    cent = c.filter(F.col("vec_id").between(_CENTROID_LO, _CENTROID_LO + N_CENTROIDS - 1)).select(
        (F.col("vec_id") - _CENTROID_LO).alias("cid"), F.col("ce").alias("cv")
    )
    return (
        c.crossJoin(F.broadcast(_cent_array(cent)))
        .select("vec_id", "ce", _argmin_cid(F.col("cents"), F.col("ce")).alias("cid"))
        # empty centroid set → null cid → no rows, the old inner join's
        # behavior (and the oracle's: empty cent ⇒ empty assign)
        .filter(F.col("cid").isNotNull())
    )


@register(
    "ivf_cluster_sizes",
    oracle=f"""
    WITH {_IVF_SQL}
    SELECT cid, count(*) AS n_vectors
    FROM assign
    GROUP BY cid
    ORDER BY cid
    """,
    doc="IVF coarse quantizer: nearest-centroid assignment histogram "
    "(inverted-list sizes; centroids = 8 fixed corpus vectors)",
)
def ivf_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _ivf_assign(emb)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cid")
    )


@register(
    "ivf_ann_topk",
    oracle=f"""
    WITH {_IVF_SQL},
    corpus AS (SELECT a.vec_id, c.ce, a.cid FROM assign a JOIN c USING (vec_id)),
    q AS (
        SELECT vec_id AS query_id, ce AS qe, cid
        FROM corpus WHERE vec_id < {N_QUERIES}
    ),
    pairs AS (
        SELECT q.query_id, corpus.vec_id,
               round(list_dot_product(qe, ce)
                     / sqrt(list_dot_product(qe, qe) * list_dot_product(ce, ce)), 6) AS cosine
        FROM q JOIN corpus ON corpus.cid = q.cid
        WHERE corpus.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, rn AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
        FROM pairs
    )
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="IVF ANN (nprobe=1): score only the query's inverted list — "
    "candidate set ∝ N/n_centroids; exact cosine re-rank inside the list",
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    # corpus feeds both join sides (the query slice and the inverted
    # lists) whose downstream exchanges differ, so without a cut the
    # full N x 8-centroid argmin assignment pass runs twice per action
    # (r12: 1.18 s -> 1.07 s at sf0.1, min-of-6 interleaved, rows
    # identical). Lazy: plan construction stays action-free.
    corpus = _ivf_assign(emb).localCheckpoint(eager=False)
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("ce").alias("qe"), "cid"
    )
    pairs = (
        corpus.join(F.broadcast(q), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qe"), F.col("ce"))
                / F.sqrt(dot(F.col("qe"), F.col("qe")) * dot(F.col("ce"), F.col("ce"))),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@register(
    "label_centroid_norms",
    oracle="""
    WITH elem AS (
        SELECT label,
               vec_id,
               unnest(embedding::DOUBLE[])                      AS v,
               generate_subscripts(embedding, 1)                AS pos
        FROM embeddings
    ),
    centroid AS (
        SELECT label, pos, avg(v) AS cv FROM elem GROUP BY label, pos
    ),
    norms AS (
        SELECT label, round(sqrt(sum(cv * cv)), 6) AS centroid_norm FROM centroid GROUP BY label
    ),
    counts AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label)
    SELECT n.label, c.n_vectors, n.centroid_norm
    FROM norms n JOIN counts c USING (label)
    ORDER BY label
    """,
    doc="Element-wise centroid per label (posexplode → two-level agg) + "
    "centroid norm — grouped vector math without UDFs",
)
def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elem = emb.select(
        "label", "vec_id", F.posexplode(as_double("embedding")).alias("pos0", "v")
    ).select("label", "vec_id", (F.col("pos0") + 1).alias("pos"), "v")
    centroid = elem.groupBy("label", "pos").agg(F.avg("v").alias("cv"))
    norms = centroid.groupBy("label").agg(F.round(F.sqrt(F.sum(F.col("cv") * F.col("cv"))), 6).alias("centroid_norm"))
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return norms.join(counts, "label").select("label", "n_vectors", "centroid_norm").orderBy("label")


@register(
    "ann_recall_eval",
    oracle=f"""
    WITH {_IVF_SQL},
    corpus AS (SELECT a.vec_id, c.ce, a.cid FROM assign a JOIN c USING (vec_id)),
    q AS (
        SELECT vec_id AS query_id, ce AS qe, cid
        FROM corpus WHERE vec_id < {N_QUERIES}
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(qe, c.ce)
                             / sqrt(list_dot_product(qe, qe) * list_dot_product(c.ce, c.ce)), 6) DESC,
                           c.vec_id) AS rn
            FROM q CROSS JOIN c
            WHERE c.vec_id <> q.query_id
        ) WHERE rn <= {TOP_K}
    ),
    approx AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, corpus.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(qe, corpus.ce)
                             / sqrt(list_dot_product(qe, qe) * list_dot_product(corpus.ce, corpus.ce)), 6) DESC,
                           corpus.vec_id) AS rn
            FROM q JOIN corpus ON corpus.cid = q.cid
            WHERE corpus.vec_id <> q.query_id
        ) WHERE rn <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(count(a.vec_id) AS BIGINT)                   AS n_hits,
           round(count(a.vec_id) * 1.0 / {TOP_K}, 6)         AS recall_at_k
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    doc="ANN quality evaluation: recall@k of the IVF(nprobe=1) candidate "
    "list against the exact cosine top-k, per query — the measurement that "
    "decides nprobe/centroid count before scaling the index out. Both "
    "rankings reuse the engine's own query operators.",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    approx = ivf_ann_topk(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vid")
    )
    return (
        exact.join(
            F.broadcast(approx),
            (F.col("a_qid") == F.col("query_id")) & (F.col("a_vid") == F.col("vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_vid").alias("n_hits"),
            F.round(F.count("a_vid") / F.lit(TOP_K), 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


KMEANS_ITERS = 2

_KMEANS_SQL = f"""
    c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
    cent0 AS (
        SELECT vec_id - {_CENTROID_LO} AS cid, ce AS cv
        FROM c WHERE vec_id BETWEEN {_CENTROID_LO} AND {_CENTROID_LO + N_CENTROIDS - 1}
    ),
    assign1 AS (
        SELECT vec_id, min(cid) AS cid FROM (
            SELECT c.vec_id, t.cid,
                   {_DIST_SQL.replace('cv', 't.cv')} AS dist,
                   min({_DIST_SQL.replace('cv', 't.cv')})
                       OVER (PARTITION BY c.vec_id) AS md
            FROM c CROSS JOIN cent0 t
        ) WHERE dist = md GROUP BY vec_id
    ),
    cent1 AS (
        SELECT cid, list(e.v ORDER BY e.pos) AS cv
        FROM (
            SELECT a.cid, u.pos, round(avg(u.v), 9) AS v
            FROM assign1 a
            JOIN c USING (vec_id),
            LATERAL (SELECT unnest(c.ce) AS v, generate_subscripts(c.ce, 1) AS pos) u
            GROUP BY a.cid, u.pos
        ) e GROUP BY cid
    ),
    assign2 AS (
        SELECT vec_id, min(cid) AS cid FROM (
            SELECT c.vec_id, t.cid,
                   {_DIST_SQL.replace('cv', 't.cv')} AS dist,
                   min({_DIST_SQL.replace('cv', 't.cv')})
                       OVER (PARTITION BY c.vec_id) AS md
            FROM c CROSS JOIN cent1 t
        ) WHERE dist = md GROUP BY vec_id
    ),
    cent2 AS (
        SELECT cid, list(e.v ORDER BY e.pos) AS cv
        FROM (
            SELECT a.cid, u.pos, round(avg(u.v), 9) AS v
            FROM assign2 a
            JOIN c USING (vec_id),
            LATERAL (SELECT unnest(c.ce) AS v, generate_subscripts(c.ce, 1) AS pos) u
            GROUP BY a.cid, u.pos
        ) e GROUP BY cid
    )
"""


@register(
    "kmeans_refined_clusters",
    oracle=f"""
    WITH {_KMEANS_SQL}
    SELECT a.cid,
           count(*)                                              AS n_vectors,
           round(sqrt(list_dot_product(t.cv, t.cv)), 6)          AS centroid_norm
    FROM assign2 a JOIN cent2 t USING (cid)
    GROUP BY a.cid, t.cv
    ORDER BY a.cid
    """,
    doc=f"Distributed k-means ({KMEANS_ITERS} Lloyd iterations from the "
    "fixed IVF seeds): assignment is a broadcast of the 8 centroids + "
    "partial-aggregable arg-min; the centroid update is posexplode → "
    "(cid,pos) avg → array rebuild — one shuffle per iteration, lineage "
    "cut between rounds (the IVF index-build step, made iterative)",
)
def kmeans_refined_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # persist: every Lloyd iteration's assignment joins back to c. It
    # cannot be unpersisted here (the returned frame is lazy and still
    # references it), so it is registered with the package-wide tracker
    # (caching.release_tracked).
    from reddit_sentiment_spark_streaming_pipeline_spark.caching import track

    c = track(spread(emb.select("vec_id", as_double("embedding").alias("ce"))).persist())
    cent = c.filter(
        F.col("vec_id").between(_CENTROID_LO, _CENTROID_LO + N_CENTROIDS - 1)
    ).select((F.col("vec_id") - _CENTROID_LO).alias("cid"), F.col("ce").alias("cv"))

    def assign_to(cent_df: DataFrame) -> DataFrame:
        dist = F.round(
            dot(F.col("ce"), F.col("ce"))
            - 2 * dot(F.col("ce"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
            6,
        )
        return (
            c.crossJoin(F.broadcast(cent_df))
            .select("vec_id", "cid", dist.alias("dist"))
            .groupBy("vec_id")
            .agg(F.min_by("cid", F.struct("dist", "cid")).alias("cid"))
        )

    assign = None
    for _ in range(KMEANS_ITERS):
        # checkpointed: the final round's assignment feeds both the centroid
        # update and the cluster-size report — without the cut it would
        # re-run the broadcast-argmin once per consumer
        assign = assign_to(cent).localCheckpoint()
        # centroid update: element-wise mean per (cid, pos), array rebuilt
        # in pos order. The new centroid table is 8 rows — localCheckpoint
        # cuts the per-iteration plan growth (reliable checkpoint() on a
        # lossy cluster), the same rule as dedup_clusters.
        cent = (
            assign.join(c, "vec_id")
            .select("cid", F.posexplode("ce").alias("pos", "v"))
            .groupBy("cid", "pos")
            # round(…, 9): Spark and DuckDB aggregate in different orders, so
            # unrounded centroid components can differ by an ulp and flip a
            # downstream argmin near a distance tie — rounding both engines'
            # components makes every later comparison exact-by-construction
            .agg(F.round(F.avg("v"), 9).alias("v"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("cv")
            )
            .localCheckpoint()
        )
    return (
        assign.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(
            cent.select("cid", F.round(F.sqrt(dot(F.col("cv"), F.col("cv"))), 6).alias("centroid_norm")),
            "cid",
        )
        .orderBy("cid")
    )


@register(
    "int8_quant_cosine_error",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, embedding::DOUBLE[] AS ce,
               list_transform(
                   embedding::DOUBLE[],
                   x -> round(x / (greatest(list_max(list_transform(embedding::DOUBLE[], v -> abs(v))), 1e-12) / 127))
               ) AS qe
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, ce AS qce, qe AS qqe FROM c WHERE vec_id < {N_QUERIES}),
    pairs AS (
        SELECT q.query_id, c.vec_id,
               round(list_dot_product(qce, ce)
                     / sqrt(list_dot_product(qce, qce) * list_dot_product(ce, ce)), 6) AS exact_cosine,
               round(list_dot_product(qqe, qe)
                     / sqrt(list_dot_product(qqe, qqe) * list_dot_product(qe, qe)), 6) AS quant_cosine
        FROM q CROSS JOIN c
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, rn AS rank, exact_cosine, quant_cosine,
           round(abs(exact_cosine - quant_cosine), 6) AS abs_err
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY exact_cosine DESC, vec_id) AS rn
        FROM pairs
    )
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="Scalar int8 quantization audit for the ANN store: per-vector "
    "symmetric scale (maxabs/127), components rounded to integers, and "
    "the quantized cosine compared against exact for each query's exact "
    "top-k. KEY property: per-vector scales cancel inside cosine, so the "
    "quantized similarity is pure INTEGER dot-product math — bit-"
    "identical across engines and executors, no FP summation-order "
    "hazard — which is also why an int8 store needs no dequantization "
    "at query time (4x memory/bandwidth saved at 100 TB of vectors). "
    "Same broadcast-queries x corpus-scan shape as cosine_topk.",
)
def int8_quant_cosine_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double("embedding")
    scale = F.greatest(
        F.array_max(F.transform(e, lambda v: F.abs(v))), F.lit(1e-12)
    ) / F.lit(127.0)
    c = spread(
        emb.select(
            "vec_id",
            e.alias("ce"),
            F.transform(e, lambda x: F.round(x / scale)).alias("qe"),
        )
    )
    q = c.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("ce").alias("qce"),
        F.col("qe").alias("qqe"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qce"), F.col("ce"))
                / F.sqrt(dot(F.col("qce"), F.col("qce")) * dot(F.col("ce"), F.col("ce"))),
                6,
            ).alias("exact_cosine"),
            F.round(
                dot(F.col("qqe"), F.col("qe"))
                / F.sqrt(dot(F.col("qqe"), F.col("qqe")) * dot(F.col("qe"), F.col("qe"))),
                6,
            ).alias("quant_cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("exact_cosine"), "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "vec_id", "rank", "exact_cosine", "quant_cosine",
            F.round(F.abs(F.col("exact_cosine") - F.col("quant_cosine")), 6).alias("abs_err"),
        )
        .orderBy("query_id", "rank")
    )


@register(
    "semantic_dedup_prune",
    oracle=f"""
    WITH base AS ({_DUP_CORPUS_SQL}),
    cent AS (
        SELECT vec_id - {_CENTROID_LO} AS cid, ce AS cv
        FROM base
        WHERE vec_id >= {_CENTROID_LO}
          AND vec_id < {_CENTROID_LO} + (
              SELECT greatest({N_CENTROIDS},
                              CAST(ceil(count(*) / {SEMDEDUP_CLUSTER_SIZE}.0) AS INT))
              FROM base
          )
    ),
    dists AS (
        SELECT base.vec_id, cent.cid, {_DIST_SQL} AS dist
        FROM base CROSS JOIN cent
    ),
    mind AS (SELECT vec_id, min(dist) AS md FROM dists GROUP BY vec_id),
    assign AS (
        SELECT d.vec_id, min(d.cid) AS cid
        FROM dists d JOIN mind m ON d.vec_id = m.vec_id AND d.dist = m.md
        GROUP BY d.vec_id
    ),
    v AS (
        SELECT b.vec_id, b.ce, a.cid, sqrt(list_dot_product(b.ce, b.ce)) AS nrm
        FROM base b JOIN assign a USING (vec_id)
    ),
    pairs AS (
        SELECT y.cid, x.vec_id AS keep_id, y.vec_id AS pruned_id,
               round(list_dot_product(x.ce, y.ce) / (x.nrm * y.nrm), 6) AS cosine
        FROM v x JOIN v y ON x.cid = y.cid AND x.vec_id < y.vec_id
    )
    SELECT cid, pruned_id,
           min(keep_id)              AS exemplar_id,
           arg_min(cosine, keep_id)  AS exemplar_cosine
    FROM pairs
    WHERE cosine >= {COSINE_DUP_THRESHOLD}
    GROUP BY cid, pruned_id
    ORDER BY pruned_id
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): assign every "
    "vector to its nearest coarse centroid (broadcast centroids + "
    "partial-aggregable arg-min — the IVF assignment), then discover "
    "near-duplicate pairs ONLY within a cluster via a cid-keyed self-join "
    "and greedily keep the lowest-id exemplar per duplicate relation. "
    "The centroid count SCALES with the corpus — K = max(8, N/256), "
    "computed in-plan as a broadcast scalar, never collected — so mean "
    "cluster size stays ~bounded and within-cluster pair enumeration is "
    "~linear in N (the paper's regime: ~100k clusters at web scale). "
    "Before this, a fixed K=8 made pairs grow as N^2/16: the 30x "
    "rehearsal measured a 103x wall knee that this parametrization "
    "removes. Assignment cost is N x K = N^2/256 multiplies — fine "
    "through tens of millions of vectors; past that you refine the "
    "assignment hierarchically (coarse-quantize the centroids "
    "themselves), which changes only the `assign` stage. The whole "
    "prune remains one shuffle + one co-partitioned self-join, never an "
    "all-pairs scan. Run over the planted-dup corpus (cosine >= 0.99).",
)
def semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The centroid assignment below intentionally mirrors _ivf_assign
    # (same rounded-distance expression and min_by tie-break) but runs
    # over the planted-dup corpus rather than raw embeddings; both code
    # paths share the _DIST_SQL constant with their oracles, so any drift
    # in the assignment rule fails one of the two oracle checks.
    from reddit_sentiment_spark_streaming_pipeline_spark.caching import track

    emb = load_table(spark, sf_dir, "embeddings")
    base = spread(_dup_corpus(emb))
    # corpus-scaled centroid count as a broadcast scalar (no collect):
    # K = max(8, ceil(N / 256)) keeps mean cluster size ~256 as N grows,
    # so the within-cluster pair stage stays ~linear in N
    kf = base.agg(
        F.greatest(
            F.lit(N_CENTROIDS).cast("long"),
            F.ceil(F.count(F.lit(1)) / F.lit(float(SEMDEDUP_CLUSTER_SIZE))),
        ).cast("int").alias("k")
    )
    cent = (
        base.crossJoin(F.broadcast(kf))
        .filter(
            (F.col("vec_id") >= _CENTROID_LO)
            & (F.col("vec_id") < _CENTROID_LO + F.col("k"))
        )
        .select((F.col("vec_id") - _CENTROID_LO).alias("cid"), F.col("ce").alias("cv"))
    )
    # one materialization of (vec_id, ce, cid, nrm): both self-join sides
    # read it, and norms are computed once per vector, not per pair.
    # The assignment is a per-row arg-min fold over the broadcast
    # centroid array (_argmin_cid) — the previous BroadcastNestedLoopJoin
    # + min_by + join-back shape cost two exchanges and an N×K row
    # explosion for the same (dist, cid)-lexicographic rule (r13,
    # guide §2.4/§3; dist expression bitwise-identical).
    v = track(
        base.crossJoin(F.broadcast(_cent_array(cent)))
        .select(
            "vec_id",
            "ce",
            _argmin_cid(F.col("cents"), F.col("ce")).alias("cid"),
            F.sqrt(dot(F.col("ce"), F.col("ce"))).alias("nrm"),
        )
        .filter(F.col("cid").isNotNull())
        .persist()
    )
    x = v.select(F.col("vec_id").alias("keep_id"), F.col("ce").alias("ex"),
                 "cid", F.col("nrm").alias("nx"))
    y = v.select(F.col("vec_id").alias("pruned_id"), F.col("ce").alias("ey"),
                 "cid", F.col("nrm").alias("ny"))
    cos = F.round(dot(F.col("ex"), F.col("ey")) / (F.col("nx") * F.col("ny")), 6)
    pairs = (
        x.join(y, "cid")
        .filter(F.col("keep_id") < F.col("pruned_id"))
        .select("cid", "keep_id", "pruned_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )
    return (
        pairs.groupBy("cid", "pruned_id")
        .agg(
            F.min("keep_id").alias("exemplar_id"),
            F.min_by("cosine", "keep_id").alias("exemplar_cosine"),
        )
        .orderBy("pruned_id")
    )


# ---------------------------------------- RP-SimHash embedding fingerprints

RP_PLANES = 24  # 24-bit signature: 3 bands x 8 bits
RP_HAMMING = 2  # pigeonhole: Hamming <= 2 over 3 bands => >= 1 equal band
RP_BUCKET_CAP = 64


def _rp_coef(p: int, d: int) -> int:
    """Deterministic integer hyperplane coefficient in [-1000, 1000]."""
    return int(hashlib.md5(f"plane{p}d{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000


_RP_COEFS = [[_rp_coef(p, d) for d in range(DIM)] for p in range(RP_PLANES)]

_RP_VALUES = ", ".join(
    f"({p}, {d}, {_RP_COEFS[p][d]})" for p in range(RP_PLANES) for d in range(DIM)
)


@register(
    "embedding_rp_simhash_dups",
    oracle=f"""
    WITH base AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS d,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS xq
        FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, d, xq FROM base
        UNION ALL
        SELECT vec_id + 1000000, d, xq + (vec_id + d) % 3 - 1
        FROM base WHERE vec_id % 5 = 0
    ),
    planes AS (SELECT * FROM (VALUES {_RP_VALUES}) AS t(p, d, c)),
    dots AS (
        SELECT corpus.vec_id, planes.p, sum(corpus.xq * planes.c) AS dot
        FROM corpus JOIN planes ON planes.d = corpus.d
        GROUP BY corpus.vec_id, planes.p
    ),
    fp AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN dot >= 0 THEN 1 << (23 - p) ELSE 0 END)
                    AS BIGINT) AS fpb
        FROM dots GROUP BY vec_id
    ),
    cl AS (
        SELECT vec_id, ci.ci AS ci, (fpb >> (8 * (2 - ci.ci))) & 255 AS cv, fpb
        FROM fp, (SELECT unnest(generate_series(0, 2)) AS ci) ci
    ),
    cll AS (
        SELECT ci, cv, list_sort(list(vec_id)) AS ls FROM cl GROUP BY ci, cv
    ),
    clc AS (
        SELECT ci, cv, unnest(list_slice(ls, 1, {RP_BUCKET_CAP})) AS vec_id
        FROM cll
    ),
    clx AS (
        SELECT ls[1] AS vec_a,
               unnest(list_slice(ls, {RP_BUCKET_CAP} + 1, len(ls))) AS vec_b
        FROM cll
    ),
    cand AS (
        SELECT DISTINCT vec_a, vec_b FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM clc a JOIN clc b
              ON a.ci = b.ci AND a.cv = b.cv AND a.vec_id < b.vec_id
            UNION ALL
            SELECT vec_a, vec_b FROM clx
        )
    )
    SELECT c.vec_a, c.vec_b, bit_count(xor(fa.fpb, fb.fpb)) AS hamming
    FROM cand c
    JOIN fp fa ON fa.vec_id = c.vec_a
    JOIN fp fb ON fb.vec_id = c.vec_b
    WHERE bit_count(xor(fa.fpb, fb.fpb)) <= {RP_HAMMING}
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding near-dup via signed-random-projection SimHash: each "
    "vector is quantized to integer millis (floor(x*1000) — EXACT, so "
    "no float summation-order divergence can flip a sign bit in either "
    "engine), dotted with 24 md5-derived integer hyperplanes in-row "
    "(zip_with + fold, no shuffle, no UDF), packed to a 24-bit "
    "signature, and banded into 3 byte-chunks; Hamming <= 2 implies a "
    "shared band by pigeonhole, verification is bit_count(xor) computed "
    "inline during bucket expansion (fingerprints travel with the "
    "bucket, so no re-join against the fingerprint table). Buckets are "
    "row_number-capped before aggregation like every LSH path here. "
    "Near-dups are planted (every 5th vector re-added with ±1 milli "
    "jitter) exactly as the dedup corpus plants text dups. At scale the "
    "24-bit signature is the cheap store-and-sweep representation: 3 "
    "bytes per vector, band-keyed equi-join for candidates, never a "
    "vector-by-vector scan; the dot products would move to a BLAS "
    "mapInPandas only if profiling demands it.",
)
def embedding_rp_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    xq = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"
        ).alias("xq"),
    )
    jit = xq.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr("transform(xq, (x, d) -> x + (vec_id + d) % 3 - 1)").alias("xq"),
    )
    corpus = xq.unionByName(jit)
    fp_terms = []
    for p in range(RP_PLANES):
        coefs = ", ".join(str(c) for c in _RP_COEFS[p])
        dot = (
            f"aggregate(zip_with(xq, array({coefs}), (x, c) -> x * c), "
            f"0L, (acc, v) -> acc + v)"
        )
        fp_terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << (23 - p)} ELSE 0 END)")
    fp = corpus.select("vec_id", F.expr(" + ".join(fp_terms)).alias("fpb"))
    cl = fp.select(
        F.struct("vec_id", "fpb").alias("d"),
        F.explode(
            F.array(*[F.lit(c).alias("x") for c in range(3)])
        ).alias("ci"),
    ).select(
        "d", "ci", F.expr("(d.fpb >> (8 * (2 - ci))) & 255").alias("cv")
    )
    wb = Window.partitionBy("ci", "cv")
    ranked = (
        cl.withColumn("full", F.count(F.lit(1)).over(wb))
        .withColumn("rn", F.row_number().over(wb.orderBy("d.vec_id")))
        .withColumn("ex", F.first("d").over(wb.orderBy("d.vec_id")))
    )
    grp = (
        ranked.filter(F.col("rn") <= RP_BUCKET_CAP)
        .groupBy("ci", "cv")
        .agg(
            F.array_sort(F.collect_list("d")).alias("ds"),
            F.first("full").alias("full"),
        )
        .filter(F.size("ds") >= 2)
    )
    # same no-silent-caps discipline as the MinHash banding: report how
    # many candidate pairs the bucket cap suppressed beyond the exemplar
    # chain, plus the chained-pair count, from the pre-cap size
    full = F.col("full")
    kept = F.least(full, F.lit(RP_BUCKET_CAP))
    grp = grp.observe(
        "rp_bucket_cap",
        F.sum(
            (full * (full - 1) - kept * (kept - 1)) / 2 - (full - kept)
        ).alias("dropped_pairs"),
        F.sum(full - kept).alias("exemplar_pairs"),
        F.max(full).alias("max_bucket_vecs"),
    ).select("ds")
    pairwise = (
        grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.vec_id").alias("vec_a"),
            F.col("p.b.vec_id").alias("vec_b"),
            F.expr("bit_count(p.a.fpb ^ p.b.fpb)").alias("hamming"),
        )
    )
    # exemplar chain for overflow members, Hamming verified inline
    # against the exemplar's travelling fingerprint (see the minhash
    # banding in operators/dedup.py for the flood rationale)
    chained = ranked.filter(F.col("rn") > RP_BUCKET_CAP).select(
        F.col("ex.vec_id").alias("vec_a"),
        F.col("d.vec_id").alias("vec_b"),
        F.expr("bit_count(ex.fpb ^ d.fpb)").alias("hamming"),
    )
    return (
        pairwise.unionByName(chained)
        .filter(F.col("hamming") <= RP_HAMMING)
        .distinct()
        .orderBy("vec_a", "vec_b")
    )
