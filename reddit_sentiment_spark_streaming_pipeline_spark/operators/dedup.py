"""Deduplication suite — exact, MinHash+LSH, n-gram Jaccard, SimHash.

Not in the reference (it has no dedup), but a first-class requirement for a
training-data pipeline at 100 TB. All four algorithms are expressed as
DataFrame algebra over the same md5-based hash primitives the DuckDB oracle
can evaluate (functions/hashing.py), so every stage is value-checked, not
just row-counted.

The corpus has no organic duplicates (500 distinct texts), so each query
augments it deterministically: every 10th doc re-added verbatim (exact
dups) and every 7th doc re-added with a 3-token tail (near dups, 3-gram
Jaccard ≈ 0.9) — the same construction in the oracle, giving known true
positives while organic pairs stay negative.

Scale notes (the whole point of MinHash/SimHash here):
- Exact dedup: one hash-groupBy shuffle on the 16-byte fingerprint, never
  on the document text.
- MinHash: signatures are a per-doc aggregate (shuffle on doc_id, combine-
  heavy); banding turns pair discovery into an equi-join on (band, hash) —
  candidates ∝ true near-dups, not |docs|².  The brute-force
  `ngram_jaccard_pairs` ground truth is intentionally quadratic and exists
  to validate LSH recall at test scale.
- SimHash: 64-bit fingerprints packed as 4×16-bit ints; near-dup candidates
  via chunk-equality bands (Hamming ≤ 8 implies ≥1 equal chunk by
  pigeonhole when chunks = 4 and threshold < 16), verified with
  bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from reddit_sentiment_spark_streaming_pipeline_spark.functions.hashing import (
    LSH_BANDS,
    MINHASH_K,
    band_exprs,
    hamming_expr,
    hex28_expr,
    minhash_exprs,
    simhash_chunk_exprs,
    simhash_sum_exprs,
    SIMHASH_CHUNKS,
)
from reddit_sentiment_spark_streaming_pipeline_spark.registry import register
from reddit_sentiment_spark_streaming_pipeline_spark.sources import load_table

JACCARD_THRESHOLD = 0.5
HAMMING_THRESHOLD = 8
# Cap on docs per LSH (band, hash) bucket before the quadratic pair
# expansion. A pathological bucket (millions of byte-identical docs) would
# otherwise expand O(n²) pairs on one reducer; capping keeps the per-bucket
# PAIRWISE cost at C(cap, 2). Exact dedup upstream folds byte-identical
# floods, but NEAR-identical floods (template spam with differing ids)
# survive it and share buckets — so overflow members are not dropped:
# each gets one EXEMPLAR pair, O(1) per member, keeping the flood one
# connected component (the r9 embedding flood rehearsal measured the
# pure cap silently losing every member past the 64th in all bands).
# The chain head depends on the bucket-key space: MinHash and the prefix
# blocks chain to the bucket MINIMUM (their key spaces are wide enough
# that flood buckets stay family-pure, so the min verifies — r10 flood
# rehearsal: reachable recall 1.0); SimHash's 16-bit chunk keys mix
# families in degenerate buckets, so its overflow chains to the
# fingerprint-sort PREDECESSOR instead (see simhash_pair_rows). Both
# choices are deterministic and identical in the DuckDB oracle.
MAX_LSH_BUCKET = 64

# ---------------------------------------------------------------- corpus

_CORPUS_SQL = """
        SELECT doc_id, lower(text) AS text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, lower(text) FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000, lower(text) || ' zz extra tail'
        FROM documents WHERE doc_id % 7 = 0
"""


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", F.lower("text").alias("text"))
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zz extra tail")).alias("text"),
    )
    # The union inherits the parquet scan's partitioning (1 file → ~1
    # partition per branch), which would run the CPU-dominant downstream
    # work — tokenize, shingle, md5 — on 3 cores of 32. One cheap shuffle
    # of the raw docs here spreads every consumer across the cluster.
    return (
        docs.unionByName(exact)
        .unionByName(near)
        .repartition(spark.sparkContext.defaultParallelism)
    )


# ------------------------------------------------------------ exact dedup


@register(
    "exact_dup_groups",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT md5(text) AS fingerprint,
           count(*)  AS n_docs,
           min(doc_id) AS min_doc_id
    FROM corpus
    GROUP BY md5(text)
    HAVING count(*) >= 2
    ORDER BY fingerprint
    """,
    doc="Exact dedup: hash-groupBy on md5 fingerprint (shuffles 16-byte "
    "keys, not documents); groups with duplicates",
)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup_corpus(spark, sf_dir)
    return (
        corpus.groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("fingerprint")
    )


@register(
    "dedup_survivor_stats",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT count(*)                                   AS n_total,
           count(DISTINCT md5(text))                  AS n_unique,
           count(*) - count(DISTINCT md5(text))       AS n_removed
    FROM corpus
    """,
    doc="Exact dedup keep-one summary (total / unique / removed)",
)
def dedup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup_corpus(spark, sf_dir)
    return corpus.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_removed"),
    )


# ------------------------------------------------------- shingles (3-gram)

_TOK_SQL = r"""
        SELECT doc_id,
               unnest(string_split_regex(text, '\s+'))                    AS word,
               generate_subscripts(string_split_regex(text, '\s+'), 1)    AS pos
        FROM corpus
"""

_SHINGLE_SQL = f"""
        corpus AS ({_CORPUS_SQL}),
        tok AS (SELECT * FROM ({_TOK_SQL}) WHERE word <> ''),
        sh AS (
            SELECT doc_id,
                   word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS shingle
            FROM tok
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(word, 2) OVER w IS NOT NULL
        )
"""


def shingle_rows(corpus: DataFrame) -> DataFrame:
    """(doc_id, shingle) — 3-word shingles; docs with <3 tokens drop out.

    Tokens are materialized as a column in their own projection: referencing
    the split() expression directly inside the transform lambda makes Spark
    re-evaluate the regex split per element (~3×shingles splits per doc,
    ~10× slower end-to-end).

    The plain explode relies on the session excluding
    InferFiltersFromGenerate (session.py): that rule would synthesize
    size(sh) > 0 AND isnotnull(sh) and push both to the scan, where each
    re-evaluates the full interpreted shingle transform per input row —
    tripling the pipeline's dominant CPU inside the parallelism-bound
    scan stage.
    """
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    tokdf = corpus.select("doc_id", toks.alias("toks"))
    sh = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("toks", i),
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tokdf.select("doc_id", F.explode(sh).alias("shingle"))


# ----------------------------------------------------------- MinHash LSH

_SIG_COLS = ", ".join(f"{e} AS m{i}" for i, e in enumerate(minhash_exprs("hv")))
_MS = ", ".join(f"m{i}" for i in range(MINHASH_K))
_BAND_COLS = ", ".join(f"{e} AS band{b}" for b, e in enumerate(band_exprs("m")))
_BANDS_LONG = "\n            UNION ALL ".join(
    f"SELECT doc_id, {_MS}, {b} AS bi, band{b} AS bh FROM bands"
    for b in range(LSH_BANDS)
)

# Bucket-cap window ordered by the minhash SIGNATURE with lag
# sort-predecessor chaining — the exact mirror of
# minhash_candidates_from_shingles (see the family-mixing rationale there).
_CAND_SQL = f"""
        {_SHINGLE_SQL},
        shv AS (SELECT doc_id, {hex28_expr('shingle', 'duckdb')} AS hv FROM sh),
        sig AS (SELECT doc_id, {_SIG_COLS} FROM shv GROUP BY doc_id),
        bands AS (SELECT doc_id, {_MS}, {_BAND_COLS} FROM sig),
        bl AS ({_BANDS_LONG}),
        blr AS (
            SELECT bi, bh, doc_id,
                   row_number() OVER wcap AS rn,
                   lag(doc_id) OVER wcap AS pid
            FROM bl
            WINDOW wcap AS (PARTITION BY bi, bh ORDER BY {_MS}, doc_id)
        ),
        blc AS (SELECT bi, bh, doc_id FROM blr WHERE rn <= {MAX_LSH_BUCKET}),
        cand AS (
            SELECT DISTINCT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM blc a JOIN blc b
                  ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id
                UNION ALL
                SELECT least(pid, doc_id) AS doc_a,
                       greatest(pid, doc_id) AS doc_b
                FROM blr WHERE rn > {MAX_LSH_BUCKET}
            )
        )
"""


def minhash_candidates(corpus: DataFrame) -> DataFrame:
    return minhash_candidates_from_shingles(shingle_rows(corpus))


def minhash_band_rows(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m11, bi, bh) — one row per doc per LSH band: MinHash
    signature → banded hashes → long form. Extracted from the candidate
    pipeline so the scale-rehearsal flood deep-point
    (tools/scale_rehearsal.py) measures bucket occupancy and flood
    reachability on the EXACT production band table instead of a
    re-derivation that could drift.

    The signature columns ride along (~12 ints per band row) because the
    bucket-cap window sorts on them: near-identical docs share most
    minhash values, so signature order clusters each near-dup family
    contiguously inside a bucket — what makes the overflow chain's
    sort-predecessor a SAME-family partner in buckets that mix several
    families (see minhash_candidates_from_shingles)."""
    shv = sh.select("doc_id", F.expr(hex28_expr("shingle", "spark")).alias("hv"))
    sig = shv.groupBy("doc_id").agg(
        *[F.expr(e).alias(f"m{i}") for i, e in enumerate(minhash_exprs("hv"))]
    )
    ms = [f"m{i}" for i in range(MINHASH_K)]
    bands = sig.select(
        "doc_id", *ms,
        *[F.expr(e).alias(f"band{b}") for b, e in enumerate(band_exprs("m"))],
    )
    return bands.select(
        "doc_id", *ms,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("bi"), F.col(f"band{b}").alias("bh"))
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", *ms, F.col("e.bi").alias("bi"), F.col("e.bh").alias("bh"))


def minhash_candidates_from_shingles(sh: DataFrame) -> DataFrame:
    """LSH candidate pairs from precomputed (doc_id, shingle) rows.

    Taking shingles rather than the corpus lets callers that also need the
    shingles for Jaccard verification persist them ONCE — shingling (regex
    split + array transform + explode) is the pipeline's dominant cost and
    would otherwise run twice.
    """
    bl = minhash_band_rows(sh)
    # Pairs come from grouping each LSH bucket and expanding doc-id
    # combinations inside the bucket array — ONE shuffle of the band table,
    # where the equivalent self-join shuffles it twice and needs a third
    # shuffle to dedup. Bucket arrays are small by construction (a bucket ∝
    # one near-dup cluster); MAX_LSH_BUCKET caps pathological buckets, and
    # the cap is applied BEFORE collect_list via a row_number() window over
    # the same (bi, bh) keys — the window reuses the exchange (no extra
    # shuffle), spills oversized buckets instead of holding them in an
    # aggregation buffer. Overflow members are NOT dropped: each gets one
    # EXEMPLAR pair — O(1) pairs per member from the same exchange — so a
    # NEAR-identical flood (template spam with differing ids, which
    # byte-exact dedup upstream cannot fold) stays one connected component
    # instead of silently losing every member past the 64th in all bands;
    # the r9 embedding flood rehearsal measured exactly that silent loss
    # for the pure cap. The window is ordered by the MINHASH SIGNATURE
    # (m0..m11, doc_id tie-break), not by doc_id, and the exemplar is the
    # lag sort-PREDECESSOR, not the bucket minimum: when organic band-hash
    # collisions mix several near-dup families in one over-cap bucket, a
    # bucket-min exemplar belongs to ONE family and every chained member
    # of the others fails the downstream Jaccard verify — the r10
    # template-spam flood rehearsal measured reachable-member recall
    # dropping to 0.974 at 100x for exactly that reason. Signature order
    # clusters each family contiguously (near-identical docs share most
    # minhash values), so chained pairs verify against a same-family
    # neighbor and family runs stay connected as a verified path. The
    # `lsh_bucket_cap` observed metric (CollectMetrics — no extra job)
    # reports the pairs still suppressed beyond the chain and the chained
    # count, from the pre-cap bucket size carried along as `full`.
    wb = Window.partitionBy("bi", "bh")
    sig_order = [F.col(f"m{i}") for i in range(MINHASH_K)] + [F.col("doc_id")]
    wo = wb.orderBy(*sig_order)
    ranked = (
        bl.withColumn("full", F.count(F.lit(1)).over(wb))
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("prev", F.lag("doc_id").over(wo))
    )
    grp = (
        ranked.filter(F.col("rn") <= MAX_LSH_BUCKET)
        .groupBy("bi", "bh")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("ds"),
            F.first("full").alias("full"),
        )
        .filter(F.size("ds") >= 2)
    )
    full = F.col("full")
    kept = F.least(full, F.lit(MAX_LSH_BUCKET))
    grp = grp.observe(
        "lsh_bucket_cap",
        F.sum(
            (full * (full - 1) - kept * (kept - 1)) / 2 - (full - kept)
        ).alias("dropped_pairs"),
        F.sum(full - kept).alias("exemplar_pairs"),
        F.max(full).alias("max_bucket_docs"),
    ).select("ds")
    pairwise = (
        grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
    )
    chained = ranked.filter(F.col("rn") > MAX_LSH_BUCKET).select(
        F.least("prev", "doc_id").alias("doc_a"),
        F.greatest("prev", "doc_id").alias("doc_b"),
    )
    return pairwise.unionByName(chained).distinct()


@register(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH {_CAND_SQL}
    SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b
    """,
    doc="MinHash(K=12) + LSH banding (4 bands × 3 rows): candidate pairs "
    "via equi-join on band hashes — no quadratic pair enumeration",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidates(dedup_corpus(spark, sf_dir)).orderBy("doc_a", "doc_b")


# DataFrames persisted by the verify path that outlive query construction
# (the returned frames are lazy and still reference them) are registered
# with the package-wide tracker (caching.py, shared with similarity.py);
# long-lived sessions call release_verify_caches() after collecting
# results. One-shot harnesses get the same effect from clearCache().
from reddit_sentiment_spark_streaming_pipeline_spark.caching import (  # noqa: E402
    _TRACKED as _LIVE_PERSISTS,
    release_tracked as release_verify_caches,
)

# Broadcast gate for the pair-docset verify's per-candidate-doc shingle
# arrays: ~50k docs × ~5 KB arrays ≈ 250 MB, the most we'd ever want
# executor-resident per join side. Past it the join falls back to
# sort-merge (see _pair_docset_join). Read at call time, so a test or a
# rehearsal forces the fallback by setting it to 0.
PAIR_DOCSET_BROADCAST_MAX = 50_000


def _pair_docset_join(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Join each candidate (doc_a, doc_b) pair with both docs' shingle-SET
    arrays: columns (doc_a, doc_b, a_shs, a_sz, b_shs, b_sz). The shared
    chassis of every set-overlap verify (Jaccard and containment).

    Takes RAW (doc_id, shingle) rows — duplicates allowed; set semantics
    are applied here, AFTER pruning. A corpus-wide ``distinct()`` upstream
    would shuffle every shingle string across the cluster even though the
    MinHash signature aggregate is duplicate-insensitive; instead the
    collect_set below dedups only the candidate docs' shingles, inside
    the one aggregate the verify already pays (the DuckDB oracle has
    always had this shape — DISTINCT at the verify CTE, raw upstream).

    The shingle table is first pruned to docs that appear in a candidate
    pair (broadcast semi-join — the candidate doc set is small ∝ true
    near-dups), then rolled up to ONE array row per candidate doc. Each
    pair's intersection is a single `array_intersect` over two ~doc-sized
    arrays instead of a shingle⋈shingle shuffle join, so verify cost
    scales with the duplicate rate, not the corpus size. The broadcast of
    the per-doc array table is GATED on the measured candidate-doc count
    (PAIR_DOCSET_BROADCAST_MAX; nearly free: the pair list is already
    checkpointed): broadcast hints are always honored (AQE never demotes
    them), and at a high duplicate rate the array table is candidates ×
    doc-sized arrays — far bigger than the pair list — so past the gate
    the join falls back to a sort-merge hint keyed on doc id (spills,
    no OOM risk; see the hint below).
    """
    # The pair list is referenced three times below (both sides of the
    # cand_docs union + the final join); without a materialization each
    # reference re-runs the whole upstream MinHash candidate pipeline —
    # measured 3× the candidate cost per action at sf0.1. The pair set is
    # tiny (∝ true near-dups), so an eager localCheckpoint is the right
    # lineage cut (reliable checkpoint on a lossy cluster). NOTE: this
    # makes plan construction eager (it runs the candidate pipeline); the
    # persisted intermediates it leaves behind are tracked in
    # _LIVE_PERSISTS — see release_verify_caches().
    #
    # EAGER on purpose: the first action here is cand_docs.count(), whose
    # union references `pairs` TWICE — under a lazy checkpoint the two
    # branches can race to fill the cache and compute the candidate
    # pipeline twice inside that job. r13 A/B'd the lazy variant: no win
    # outside the noise band (minhash floors bounce ±15% on this box — the
    # same ABAB protocol read identical code 15% apart), so the
    # deterministic single materialization stays. (The single-reference
    # gates — embedding pairs, span rep — are lazy, where folding the
    # materialization into the gate count saves a job with no race.)
    pairs = pairs.localCheckpoint()
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    small = cand_docs.count() <= PAIR_DOCSET_BROADCAST_MAX
    # persist: docsets feeds both join inputs below; recomputing it means
    # re-shingling the corpus twice. It cannot be unpersisted here (the
    # returned frame is lazy and still needs it), so it is tracked in
    # _LIVE_PERSISTS for release_verify_caches(); absent that call,
    # eviction relies on Spark's LRU block manager plus the bench
    # harness's clearCache() between queries.
    docsets = (
        sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shs"))
        .select("doc_id", "shs", F.size("shs").alias("sz"))
    ).persist()
    _LIVE_PERSISTS.append(docsets)
    # Fallback is SORT-MERGE, not shuffle-hash: past the gate the docset
    # side is unbounded (∝ candidate docs) and its rows carry ~5 KB
    # shingle arrays — the widest rows in the repo. A shuffle-hash join
    # must hold an entire build partition's hash relation in execution
    # memory, and the r9 embedding flood rehearsal OOM'd exactly that
    # shape at ~5M × ~600 B rows ("Can't acquire ... to build hash
    # relation"); at 5 KB/row the wall arrives 8× earlier. SMJ spills
    # its sorted runs and survives any volume. The repo's narrow-row
    # fallbacks (the span join's md5-only `rep`, the gate's
    # fingerprint-only store anti join) keep their sort-free
    # shuffle-hash shape — ~50 B build rows don't hit the wall.
    hint = F.broadcast if small else (lambda d: d.hint("merge"))
    sa = hint(docsets.select(
        F.col("doc_id").alias("a_id"), F.col("shs").alias("a_shs"), F.col("sz").alias("a_sz")
    ))
    sb = hint(docsets.select(
        F.col("doc_id").alias("b_id"), F.col("shs").alias("b_shs"), F.col("sz").alias("b_sz")
    ))
    return (
        pairs.join(sa, F.col("a_id") == F.col("doc_a"))
        .join(sb, F.col("b_id") == F.col("doc_b"))
    )


def _jaccard_on_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact 3-gram Jaccard over the candidate pairs (see
    _pair_docset_join for the set-semantics and join-strategy story)."""
    j = _pair_docset_join(pairs, sh)
    nint = F.size(F.array_intersect("a_shs", "b_shs"))
    jac = nint / (F.col("a_sz") + F.col("b_sz") - nint)
    return (
        j.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# CTE-composable overlap counting: shd/sizes/inter are shared by the
# Jaccard and containment verifies.
_PAIR_OVERLAP_SQL_CTE = """
        shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS nint
            FROM cand c
            JOIN shd x ON x.doc_id = c.doc_a
            JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
            GROUP BY c.doc_a, c.doc_b
        )"""

# Ends with `near(doc_a, doc_b, jaccard)` so downstream queries
# (split_leakage_pairs) can keep joining.
_JACCARD_VERIFY_SQL_CTE = f"""
        {_PAIR_OVERLAP_SQL_CTE},
        near AS (
            SELECT i.doc_a, i.doc_b,
                   round(i.nint * 1.0 / (sa.sz + sb.sz - i.nint), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.nint * 1.0 / (sa.sz + sb.sz - i.nint) >= {JACCARD_THRESHOLD}
        ),
"""

_JACCARD_VERIFY_SQL = _PAIR_OVERLAP_SQL_CTE + """
        SELECT i.doc_a, i.doc_b,
               round(i.nint * 1.0 / (sa.sz + sb.sz - i.nint), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.nint * 1.0 / (sa.sz + sb.sz - i.nint) >= {thr}
        ORDER BY doc_a, doc_b
"""


@register(
    "minhash_near_dups",
    oracle=f"""
    WITH {_CAND_SQL},
    {_JACCARD_VERIFY_SQL.format(thr=JACCARD_THRESHOLD)}
    """,
    doc="LSH candidates verified by exact 3-gram Jaccard ≥ 0.5 — the full "
    "scalable near-dup pipeline (verification cost ∝ candidates)",
)
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RAW shingles feed both LSH banding (min-agg is duplicate-insensitive)
    # and Jaccard verification (which applies set semantics after pruning
    # to candidate docs): no corpus-wide distinct shuffle. persist pays
    # shingling (the dominant CPU) once for both consumers.
    sh = shingle_rows(dedup_corpus(spark, sf_dir)).persist()
    _LIVE_PERSISTS.append(sh)
    cand = minhash_candidates_from_shingles(sh)
    return _jaccard_on_pairs(cand, sh).orderBy("doc_a", "doc_b")


# A pair counts as a containment hit when either direction's containment
# clears this; the exact-dup and suffix-tail constructions both hit 1.0.
CONTAINMENT_THRESHOLD = 0.9


@register(
    "containment_pairs",
    oracle=f"""
    WITH {_CAND_SQL},
    {_PAIR_OVERLAP_SQL_CTE}
    SELECT i.doc_a, i.doc_b,
           round(i.nint * 1.0 / sa.sz, 6) AS cont_a_in_b,
           round(i.nint * 1.0 / sb.sz, 6) AS cont_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE greatest(i.nint * 1.0 / sa.sz, i.nint * 1.0 / sb.sz)
          >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    doc="Asymmetric near-containment: C(A→B) = |A∩B| / |A| over 3-gram "
    "shingle sets, for boilerplate/quote detection where Jaccard "
    "under-scores a short doc swallowed by a long one. Rides the same "
    "LSH candidate pipeline and per-pair array verify as "
    "minhash_near_dups — no new shuffle, verify cost ∝ candidates. "
    "Jaccard-tuned bands under-recall pairs with high containment but "
    "low Jaccard (a short doc inside a much longer one); a production "
    "containment pass re-bands with asymmetric LSH, which changes only "
    "the candidate generator, not this verify.",
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_rows(dedup_corpus(spark, sf_dir)).persist()
    _LIVE_PERSISTS.append(sh)
    j = _pair_docset_join(minhash_candidates_from_shingles(sh), sh)
    nint = F.size(F.array_intersect("a_shs", "b_shs"))
    ca = nint / F.col("a_sz")
    cb = nint / F.col("b_sz")
    return (
        j.filter(F.greatest(ca, cb) >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(ca, 6).alias("cont_a_in_b"),
            F.round(cb, 6).alias("cont_b_in_a"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS nint
        FROM shd x JOIN shd y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           round(i.nint * 1.0 / (sa.sz + sb.sz - i.nint), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.nint * 1.0 / (sa.sz + sb.sz - i.nint) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    doc="Brute-force n-gram Jaccard ground truth (quadratic in shared "
    "shingles — test-scale only; LSH is the 100 TB path)",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup_corpus(spark, sf_dir)
    shd = shingle_rows(corpus).distinct()
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    x, y = shd.alias("x"), shd.alias("y")
    inter = (
        x.join(y, (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("nint"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("nint") / (F.col("sa.sz") + F.col("sb.sz") - F.col("nint"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------- SimHash

_SUM_COLS = ", ".join(f"{e} AS s{k}" for k, e in enumerate(simhash_sum_exprs("tf", "h")))
_CHUNK_COLS = ", ".join(f"{e} AS h{c}" for c, e in enumerate(simhash_chunk_exprs("s")))

# fingerprint CTE body over whatever `corpus` CTE precedes it — shared by
# _FP_SQL (dedup corpus) and the neardup gate oracle (snapshot corpus)
_FP_BODY_SQL = f"""tok AS (SELECT * FROM ({_TOK_SQL}) WHERE word <> ''),
        tfrel AS (
            SELECT doc_id, word, count(*) AS tf, md5(word) AS h
            FROM tok GROUP BY doc_id, word
        ),
        sums AS (SELECT doc_id, {_SUM_COLS} FROM tfrel GROUP BY doc_id),
        fp AS (SELECT doc_id, {_CHUNK_COLS} FROM sums)"""

_FP_SQL = f"""
        corpus AS ({_CORPUS_SQL}),
        {_FP_BODY_SQL}
"""


def simhash_fp_from_token_arrays(tokdf: DataFrame) -> DataFrame:
    """(doc_id, h0..h3) SimHash-64 over a (doc_id, toks array<string>)
    frame — word arrays for text, byte-n-gram arrays for opaque payloads.

    NO token shuffle. The tf-weighted formulation is algebraically
    tf-free: summing ±1 per token OCCURRENCE equals tf x (±1) per
    distinct token, so the (doc_id, word) tf aggregation the previous
    shape paid for — a shuffle of every distinct token string, the
    pipeline's dominant and worst-compressing exchange (REHEARSAL_r04
    recorded 18.2x shuffle growth at 10x data on byte-4-gram payloads) —
    is unnecessary. Tokens explode straight into md5 + a
    groupBy(doc_id) of the 64 ±1 bit-sums: every doc's tokens stay
    inside the partition that exploded them, so map-side partial
    aggregation emits exactly ONE 64-sum row per doc and the exchange
    carries docs x 64 longs, independent of token count and token
    entropy. All of it is whole-stage-codegen hash aggregation — no
    interpreted higher-order functions. Values are unchanged; the
    DuckDB oracle keeps the tf-explicit groupBy formulation and still
    hash-matches.

    The aggregate side is integer-only: each token row decodes md5's
    first 16 hex chars into four 16-bit ints ONCE (md5 shared across
    the four convs by codegen subexpression elimination), and the 64
    per-bit occurrence counts are plain long SUM aggregates of
    shift/mask tests. (A lane-packed variant — four 16-bit counters per
    long, 17 buffers instead of 65 — measured wall-identical once the
    InferFiltersFromGenerate pushdown was excluded, and its lane width
    silently bounded documents at 65,535 token occurrences; unpacked
    sums carry no size bound at all.) The sign test is the count
    identity: sum over occurrences of (bit ? +1 : -1) = 2*sum(bit) -
    count, so bit_k is set iff 2*B_k >= N — exact integers, identical
    to the oracle's tf-weighted ±1 sums for documents of ANY length.

    Docs with empty token arrays drop out, matching the oracle, which
    has no tfrel rows for them either. A plain explode here relies on
    the session excluding InferFiltersFromGenerate (session.py): that
    rule would synthesize size(toks) > 0 AND isnotnull(toks) and push
    it to the scan, where it re-evaluates the whole token-array
    expression (an interpreted higher-order transform) twice per input
    row — measured as ~95% of the payload pipeline's CPU, concentrated
    in the scan stage whose parallelism is file-bound (19x wall at 10x
    data).
    """
    ex = tokdf.select("doc_id", F.explode("toks").alias("word")).select(
        "doc_id",
        *[
            F.expr(f"cast(conv(substr(md5(word), {4 * c + 1}, 4), 16, 10) as int)").alias(f"v{c}")
            for c in range(SIMHASH_CHUNKS)
        ],
    )

    sums = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"sum((v{k // 16} >> {15 - k % 16}) & 1)").alias(f"b{k}")
            for k in range(64)
        ],
    )
    chunk_cols = []
    for c in range(SIMHASH_CHUNKS):
        terms = [
            f"CASE WHEN 2 * b{16 * c + i} >= n THEN {1 << (15 - i)} ELSE 0 END"
            for i in range(16)
        ]
        chunk_cols.append(F.expr("(" + " + ".join(terms) + ")").alias(f"h{c}"))
    return sums.select("doc_id", *chunk_cols)


def simhash_fp(corpus: DataFrame) -> DataFrame:
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    return simhash_fp_from_token_arrays(corpus.select("doc_id", toks.alias("toks")))


def simhash_chunk_rows(fp: DataFrame, extra: tuple = ()) -> DataFrame:
    """(d struct, ci, cv) — one row per doc per 16-bit SimHash chunk, the
    banding long form; `d` carries the doc_id plus the full packed
    fingerprint so pair expansion can Hamming-verify inline. Extracted so
    the scale-rehearsal flood deep-point measures bucket occupancy and
    flood reachability on the exact production chunk table. `extra`
    names additional fp columns to ride inside the struct (the
    arrival-order gate threads arrival_seq through for its precedence
    compare)."""
    return fp.select(
        F.struct(
            "doc_id", *[f"h{c}" for c in range(SIMHASH_CHUNKS)], *extra
        ).alias("d"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("ci"), F.col(f"h{c}").alias("cv"))
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("e"),
    ).select("d", F.col("e.ci").alias("ci"), F.col("e.cv").alias("cv"))


def simhash_pair_rows(fp: DataFrame) -> DataFrame:
    """Chunk-equality banded candidates + bit_count(xor) verify over a
    SimHash fingerprint frame; pairs at Hamming <= threshold.

    Buckets are capped at MAX_LSH_BUCKET exactly like the MinHash banding,
    and the cap is applied BEFORE aggregation: a row_number() window over
    (ci, cv) keeps `cap` rows, so no reducer ever materializes a
    pathological bucket (millions of byte-identical doc_ids) into one
    collect_list buffer — the window exec spills, an aggregation buffer
    doesn't.

    Unlike the MinHash banding, the window is ordered by the FULL packed
    FINGERPRINT (h0..h3, doc_id tie-break), and each overflow member
    chains to its sort-PREDECESSOR (lag) rather than to the bucket-global
    minimum. SimHash's bucket key is one 16-bit chunk — a space small
    enough that degenerate values mix unrelated near-dup families in one
    bucket, where a bucket-min exemplar belongs to ONE family and every
    chained member from another family fails the Hamming verify (the r10
    template-spam flood rehearsal measured exactly that: 6/4495 flood
    members silently lost at 10x). Sorting by fingerprint makes a
    family's nearly-equal fingerprints contiguous, so each chained pair
    verifies against its Hamming-nearest bucket neighbor and family runs
    stay connected as a verified path — still exactly one O(1) pair per
    overflow member from the same window exchange. MinHash keeps its
    bucket-min chain: its band-hash space is wide enough that flood
    buckets stay family-pure (same rehearsal: reachable recall 1.0).
    The kept set (smallest `cap` fingerprints) and the lag pairs are
    deterministic and identical in the DuckDB oracle.

    The verify is inline: each bucket entry carries the full packed
    fingerprint, so Hamming is computed during pair expansion — inside the
    same stage, before any shuffle — and failing pairs die before the
    distinct. The previous shape (expand ids, distinct, re-join fp twice)
    shuffled every candidate three times; on byte-similar corpora the 10x
    rehearsal measured 18.2x shuffle growth for that shape. Candidates
    that fail verification now never leave the executor that expanded
    them; only (doc_a, doc_b, hamming) survivors reach the distinct."""
    cl = simhash_chunk_rows(fp)
    wb = Window.partitionBy("ci", "cv").orderBy(
        *[F.col(f"d.h{c}") for c in range(SIMHASH_CHUNKS)], F.col("d.doc_id")
    )
    ranked = (
        cl.withColumn("rn", F.row_number().over(wb))
        # sort-predecessor STRUCT (fingerprint travels with it, so chained
        # pairs verify inline exactly like pairwise ones): lag over the
        # same fingerprint-ordered window — no extra shuffle
        .withColumn("prev", F.lag("d").over(wb))
    )
    grp = (
        ranked.filter(F.col("rn") <= MAX_LSH_BUCKET)
        .groupBy("ci", "cv")
        .agg(F.array_sort(F.collect_list("d")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select("ds")
    )
    ham = F.expr(hamming_expr("p.a.h", "p.b.h", "spark"))
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
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )
    # exemplar chain for overflow members: one (sort-predecessor, member)
    # pair each, Hamming verified inline against the predecessor's
    # travelling fingerprint. Sort order is the fingerprint, so the pair
    # id order must be normalized explicitly.
    cham = F.expr(hamming_expr("prev.h", "d.h", "spark"))
    chained = ranked.filter(F.col("rn") > MAX_LSH_BUCKET).select(
        F.least("prev.doc_id", "d.doc_id").alias("doc_a"),
        F.greatest("prev.doc_id", "d.doc_id").alias("doc_b"),
        cham.alias("hamming"),
    )
    return (
        pairwise.unionByName(chained)
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


@register(
    "simhash_fingerprints",
    oracle=f"""
    WITH {_FP_SQL}
    SELECT doc_id, h0, h1, h2, h3 FROM fp
    """,
    doc="SimHash-64: tf-weighted ±1 bit sums from md5 nibbles, packed as "
    "4×16-bit ints (one groupBy shuffle on doc_id)",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fp(dedup_corpus(spark, sf_dir))


_CHUNKS_LONG = "\n            UNION ALL ".join(
    f"SELECT doc_id, h0, h1, h2, h3, {c} AS ci, h{c} AS cv FROM fp"
    for c in range(SIMHASH_CHUNKS)
)

# Shared candidate CTE block for both SimHash oracles (text + payload):
# fingerprint-ordered window, kept = the MAX_LSH_BUCKET smallest
# fingerprints expanded pairwise, overflow chained to the lag
# sort-predecessor with explicit id-order normalization — the exact
# mirror of simhash_pair_rows.
_SIMHASH_CAND_SQL = f"""cl AS ({_CHUNKS_LONG}),
    r AS (
        SELECT ci, cv, doc_id,
               row_number() OVER w AS rn,
               lag(doc_id) OVER w AS pid
        FROM cl
        WINDOW w AS (PARTITION BY ci, cv ORDER BY h0, h1, h2, h3, doc_id)
    ),
    clc AS (SELECT ci, cv, doc_id FROM r WHERE rn <= {MAX_LSH_BUCKET}),
    scand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM clc a JOIN clc b
              ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
            UNION ALL
            SELECT least(pid, doc_id) AS doc_a,
                   greatest(pid, doc_id) AS doc_b
            FROM r WHERE rn > {MAX_LSH_BUCKET}
        )
    )"""


@register(
    "simhash_near_dups",
    oracle=f"""
    WITH {_FP_SQL},
    {_SIMHASH_CAND_SQL}
    SELECT s.doc_a, s.doc_b,
           {hamming_expr('fa.h', 'fb.h', 'duckdb')} AS hamming
    FROM scand s
    JOIN fp fa ON fa.doc_id = s.doc_a
    JOIN fp fb ON fb.doc_id = s.doc_b
    WHERE {hamming_expr('fa.h', 'fb.h', 'duckdb')} <= {HAMMING_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    doc="SimHash near-dups: chunk-equality banding (pigeonhole-complete for "
    "Hamming ≤ 8 over 4 chunks... candidates) + bit_count(xor) verify; "
    "over-cap buckets chain each overflow member to its fingerprint-sort "
    "predecessor (verified path — survives family-mixed degenerate "
    "chunk buckets, r10 flood rehearsal)",
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pair_rows(simhash_fp(dedup_corpus(spark, sf_dir)))


# ------------------------------------------------ dedup cluster formation

# Observability: propagation rounds the last dedup_clusters run needed
# (3 warm-up + eager rounds until fixpoint). Measured on the 30x
# rehearsal fixture: 4 rounds at BOTH scales and candidate pairs
# exactly linear (1,681 -> 50,707 = 30.2x), so the rehearsal's mild
# 1.29x shuffle residual is NOT rounds or candidate growth — it is the
# verify join's DESIGNED broadcast->shuffled fallback crossing its
# 50k-candidate-doc gate between the scales (2,710 -> 81,217 docs): a
# one-time mode switch that starts shuffling the per-doc shingle-array
# table, after which growth is linear again. (Measured on the r5-r8
# shuffle-hash fallback; r9 switched the over-gate join algo to
# spillable sort-merge — same exchanges, so the shuffle-byte linearity
# those artifacts measured carries over; see _pair_docset_join.) (The r5 measurement used a
# module-global round counter, since removed as write-only, not
# concurrency-safe state; the round count is observable without it — each
# eager iteration is exactly one convergence-check count() job in the
# Spark UI / AppStatusStore job timeline.)

@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CAND_SQL},
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS nint
        FROM cand c
        JOIN shd x ON x.doc_id = c.doc_a
        JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.nint * 1.0 / (sa.sz + sb.sz - i.nint) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    labeled AS (SELECT node AS doc_id, min(lab) AS cluster_rep FROM reach GROUP BY node)
    SELECT cluster_rep, count(*) AS n_docs
    FROM labeled
    GROUP BY cluster_rep
    ORDER BY cluster_rep
    """,
    doc="Dedup cluster formation: connected components over the verified "
    "near-dup graph via iterative min-label propagation (each round is one "
    "distributed join+agg; rounds ~ log of cluster diameter, which is tiny "
    "for dup chains). The keep-one policy falls out: survivor = min doc_id "
    "per cluster. Oracle: recursive-CTE transitive closure.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup_corpus(spark, sf_dir)
    sh = shingle_rows(corpus).persist()
    _LIVE_PERSISTS.append(sh)
    pairs = _jaccard_on_pairs(minhash_candidates_from_shingles(sh), sh).select(
        "doc_a", "doc_b"
    )
    # The iterate state (edges + labels) is ∝ docs-with-a-near-dup, orders
    # of magnitude smaller than the corpus — but its LINEAGE is not:
    # `pairs` embeds the whole minhash+Jaccard pipeline, the symmetric
    # union references it twice, and every propagation round nests the
    # previous round's plan, so the logical tree grows geometrically and
    # the driver spends seconds per action just re-analyzing it (9s for a
    # round over 3k cached rows). localCheckpoint truncates the plan to
    # the materialized partitions — the standard lineage cut for iterative
    # algorithms (on a cluster with lossy executors, checkpoint() to the
    # reliable store instead). State is also partitioned explicitly by the
    # round's join key at a small fixed width: cached/checkpointed plans
    # keep their materialized partitioning, so without this every round
    # inherits the session's full shuffle width (200 near-empty tasks per
    # stage on a default session).
    state_parts = 8
    pairs = pairs.localCheckpoint()
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).repartition(state_parts, "doc_a").localCheckpoint()

    def one_round(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges.doc_a == labels.doc_id)
            .groupBy(edges.doc_b.alias("doc_id"))
            .agg(F.min("lab").alias("nlab"))
        )
        return (
            labels.join(neighbor_min.repartition(state_parts, "doc_id"), "doc_id", "left")
            .select(
                "doc_id", F.least(F.col("lab"), F.coalesce("nlab", "lab")).alias("lab")
            )
        )

    # Dup chains (exact + tail-edit copies of one base doc) have diameter
    # ≤ 2, so 3 propagation rounds are chained LAZILY into one plan — the
    # eager round-per-job loop paid 2 driver actions and a full shuffle
    # round-trip per iteration (10+ jobs; 52s at sf0.1, now ~2 jobs). The
    # convergence check then runs one extra round and counts label changes:
    # 0 proves the fixpoint; otherwise keep iterating eagerly (organic
    # graphs with longer chains), failing loudly after a diameter bound
    # instead of silently emitting partial clusters.
    labels = (
        edges.select(F.col("doc_a").alias("doc_id")).distinct()
        .repartition(state_parts, "doc_id")
        .withColumn("lab", F.col("doc_id"))
    )
    for _ in range(3):
        labels = one_round(labels)
    labels = labels.localCheckpoint()
    for _ in range(10):
        nxt = one_round(labels).localCheckpoint()
        n_changed = (
            nxt.join(labels.withColumnRenamed("lab", "prev"), "doc_id")
            .filter(F.col("lab") != F.col("prev"))
            .count()
        )
        if n_changed == 0:
            break
        labels = nxt
    else:
        raise RuntimeError(
            "dedup_clusters: min-label propagation did not converge "
            f"({n_changed} labels still changing) — component diameter "
            "exceeds the round bound; raise it"
        )
    return (
        labels.groupBy(F.col("lab").alias("cluster_rep"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("cluster_rep")
    )


# --------------------------------------------------- cross-split leakage

_SPLIT_SQL = """
        SELECT doc_id,
               CASE
                   WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                   WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                   ELSE 'test'
               END AS split
        FROM corpus
"""


@register(
    "split_leakage_pairs",
    oracle=f"""
    WITH {_CAND_SQL},
    {_JACCARD_VERIFY_SQL_CTE}
    splits AS ({_SPLIT_SQL})
    SELECT least(pa.split, pb.split)    AS split_a,
           greatest(pa.split, pb.split) AS split_b,
           count(*)                     AS n_pairs,
           round(avg(n.jaccard), 6)     AS avg_jaccard
    FROM near n
    JOIN splits pa ON pa.doc_id = n.doc_a
    JOIN splits pb ON pb.doc_id = n.doc_b
    GROUP BY least(pa.split, pb.split), greatest(pa.split, pb.split)
    ORDER BY split_a, split_b
    """,
    doc="Train/test leakage audit: near-dup pairs crossed with the "
    "content-hash split assignment. Exact duplicates can never leak "
    "across hash splits (same text → same bucket by construction), but "
    "NEAR-dups differ in text and do — every (split_a, split_b) row with "
    "split_a <> split_b is benchmark contamination a naive pipeline "
    "ships. Rides the full LSH pipeline + two broadcast joins of the "
    "3-row-per-doc split table: no new shuffle beyond minhash_near_dups",
)
def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup_corpus(spark, sf_dir)
    sh = shingle_rows(corpus).persist()
    _LIVE_PERSISTS.append(sh)
    near = _jaccard_on_pairs(minhash_candidates_from_shingles(sh), sh)
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint") % 100
    splits = corpus.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    pa = splits.select(F.col("doc_id").alias("a_doc"), F.col("split").alias("sa"))
    pb = splits.select(F.col("doc_id").alias("b_doc"), F.col("split").alias("sb"))
    return (
        near.join(pa, F.col("a_doc") == F.col("doc_a"))
        .join(pb, F.col("b_doc") == F.col("doc_b"))
        .groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("split_a", "split_b")
    )


@register(
    "dedup_recall_eval",
    oracle=f"""
    WITH {_CAND_SQL},
    {_PAIR_OVERLAP_SQL_CTE},
    lsh AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.nint * 1.0 / (sa.sz + sb.sz - i.nint) >= {JACCARD_THRESHOLD}
    ),
    tinter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS nint
        FROM shd x JOIN shd y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id
    ),
    truth AS (
        SELECT i.doc_a, i.doc_b
        FROM tinter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.nint * 1.0 / (sa.sz + sb.sz - i.nint) >= {JACCARD_THRESHOLD}
    )
    SELECT CAST(count(*) AS BIGINT)                               AS n_true,
           CAST((SELECT count(*) FROM lsh) AS BIGINT)             AS n_lsh,
           CAST(count(l.doc_a) AS BIGINT)                         AS n_hits,
           round(count(l.doc_a) * 1.0 / count(*), 6)              AS recall,
           round(count(l.doc_a) * 1.0
                 / (SELECT count(*) FROM lsh), 6)                 AS precision
    FROM truth t
    LEFT JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
    """,
    doc="LSH quality evaluation: recall and precision of the banded "
    "MinHash near-dup pipeline against the exact quadratic n-gram "
    "Jaccard ground truth — the measurement that decides band/row "
    "parameters before scaling the index out (ann_recall_eval's "
    "counterpart for dedup). Precision is 1.0 by construction (reported "
    "pairs are exact-Jaccard verified); recall exposes candidate-"
    "generation misses. Rides the intentionally-quadratic ground truth, "
    "so like ngram_jaccard_pairs it is a test-scale offline validator, "
    "not a production query.",
)
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lsh = minhash_near_dups(spark, sf_dir).select(
        F.col("doc_a").alias("l_a"), F.col("doc_b").alias("l_b")
    )
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    joined = truth.join(
        F.broadcast(lsh),
        (F.col("l_a") == F.col("doc_a")) & (F.col("l_b") == F.col("doc_b")),
        "left",
    )
    return (
        joined.agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("l_a").alias("n_hits"),
        )
        .crossJoin(F.broadcast(n_lsh))
        .select(
            "n_true",
            "n_lsh",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_true"), 6).alias("recall"),
            F.round(F.col("n_hits") / F.col("n_lsh"), 6).alias("precision"),
        )
    )


@register(
    "prefix_editdist_dups",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    n AS (
        SELECT doc_id,
               substr(regexp_replace(trim(text), '\\s+', ' ', 'g'), 1, 128) AS head,
               substr(regexp_replace(trim(text), '\\s+', ' ', 'g'), 1, 24)  AS block
        FROM corpus
    ),
    r AS (
        SELECT doc_id, head, block,
               row_number() OVER w AS rn,
               lag(doc_id) OVER w AS pid,
               lag(head) OVER w AS ph
        FROM n
        WINDOW w AS (PARTITION BY block ORDER BY head, doc_id)
    ),
    nb AS (SELECT doc_id, head, block FROM r WHERE rn <= 64),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.head AS ha, b.head AS hb
        FROM nb a JOIN nb b ON a.block = b.block AND a.doc_id < b.doc_id
        UNION ALL
        SELECT least(pid, doc_id) AS doc_a, greatest(pid, doc_id) AS doc_b,
               ph AS ha, head AS hb
        FROM r WHERE rn > 64
    )
    SELECT doc_a, doc_b,
           levenshtein(ha, hb) AS edit_distance,
           round(1.0 - levenshtein(ha, hb) * 1.0
                 / greatest(length(ha), length(hb)), 6) AS head_similarity
    FROM pairs
    WHERE 1.0 - levenshtein(ha, hb) * 1.0
          / greatest(length(ha), length(hb)) >= 0.8
    """,
    doc="Edit-distance near-dup verification under prefix blocking: docs "
    "sharing a normalized 24-char prefix block pair up (block join; 64 "
    "docs per head-ordered block window expand pairwise and every "
    "overflow member chains to its head-sort predecessor — one O(1) "
    "pair each that verifies against its edit-nearest neighbor, same "
    "no-silent-drop discipline as the LSH bucket caps; the old shape "
    "dropped overflowing blocks entirely, and the r9 bucket-min chain "
    "lost cross-family members in prefix-shared blocks, r10 flood "
    "rehearsal), then Levenshtein over the 128-char heads keeps "
    "pairs at >= 0.8 similarity. The third candidate-verify family next "
    "to Jaccard (MinHash) and Hamming (SimHash): char-level distance "
    "catches small in-place edits that token shingles miss. Integer "
    "Levenshtein and rational similarity are bit-identical across "
    "engines, so the verify math itself is hash-checked. Scale shape: "
    "pair discovery is an equi-join on the block key (candidates scale "
    "with block occupancy, never |docs|^2); the O(len^2) Levenshtein DP "
    "runs on capped 128-char heads only.",
)
def prefix_editdist_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_editdist_pairs(dedup_corpus(spark, sf_dir))


def prefix_block_rows(corpus: DataFrame) -> DataFrame:
    """(doc_id, head, block) — normalized 128-char head + 24-char prefix
    block, the blocking long form. Extracted so the scale-rehearsal flood
    deep-point measures block occupancy and flood reachability on the
    exact production blocking frame."""
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return corpus.select(
        "doc_id",
        F.substring(norm, 1, 128).alias("head"),
        F.substring(norm, 1, 24).alias("block"),
    )


def prefix_editdist_pairs(corpus: DataFrame) -> DataFrame:
    n = prefix_block_rows(corpus)
    # Cap via a block-partitioned window instead of an aggregate +
    # join-back: one shuffle on the block key, and the self-join below
    # hashes on the same key, so Spark reuses the exchange for both
    # sides. The window is ordered by the normalized HEAD (doc_id
    # tie-break): 64 docs per block expand pairwise and every overflow
    # member chains to its head-sort PREDECESSOR (lag carries the
    # predecessor's head, so the chained Levenshtein verify needs no
    # join-back). Head order matters for the same reason as the LSH
    # signature sort: a 24-char prefix block can mix several near-dup
    # families (template corpora share openings), and the previous
    # first-doc_id exemplar belonged to ONE family — the r10
    # template-spam flood rehearsal measured reachable recall 0.967 at
    # 100x from exactly that (and the pre-r9 shape dropped overflowing
    # blocks ENTIRELY). Near-identical heads sort contiguously, so
    # chained pairs verify against their edit-nearest block neighbor.
    from pyspark.sql import Window

    w = Window.partitionBy("block").orderBy("head", "doc_id")
    ranked = (
        n.withColumn("rn", F.row_number().over(w))
        .withColumn("pid", F.lag("doc_id").over(w))
        .withColumn("ph", F.lag("head").over(w))
    )
    # Both self-join sides reference the kept frame; without a
    # materialization each side re-runs the corpus normalization +
    # window (measured: 6 scans, no ReusedExchange once AQE turns the
    # build side into a broadcast). The ranked frame is ~|docs| rows of
    # 152-char heads — tiny — so a localCheckpoint is the right lineage
    # cut (same note as _pair_docset_join; reliable checkpoint() on a
    # lossy cluster). LAZY (r13): eager=True paid one dedicated
    # normalize+window materialization pass per action before the final
    # action ran; lazy pins the same blocks on first compute inside the
    # one consuming action (the plan is cut to Scan ExistingRDD either
    # way, so the self-join still reads one shared RDD, not 6 scans).
    ranked = ranked.localCheckpoint(eager=False)
    nb = ranked.filter(F.col("rn") <= 64).select("doc_id", "head", "block")
    a, b = nb.alias("a"), nb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.head").alias("ha"),
        F.col("b.head").alias("hb"),
    ).unionByName(
        ranked.filter(F.col("rn") > 64).select(
            F.least("pid", "doc_id").alias("doc_a"),
            F.greatest("pid", "doc_id").alias("doc_b"),
            F.col("ph").alias("ha"),
            F.col("head").alias("hb"),
        )
    )
    lev = F.levenshtein("ha", "hb")
    sim = F.lit(1.0) - lev * F.lit(1.0) / F.greatest(
        F.length("ha"), F.length("hb")
    )
    return (
        pairs.withColumn("edit_distance", lev)
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            "edit_distance",
            F.round("sim_raw", 6).alias("head_similarity"),
        )
    )


@register(
    "payload_simhash_dups",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    pay AS (SELECT doc_id, hex(text::BLOB) AS hx FROM corpus),
    tok AS (
        SELECT doc_id, substr(hx, 2 * i + 1, 8) AS word
        FROM (
            SELECT doc_id, hx,
                   unnest(generate_series(0, length(hx) // 2 - 4)) AS i
            FROM pay WHERE length(hx) >= 8
        )
    ),
    tfrel AS (
        SELECT doc_id, word, count(*) AS tf, md5(word) AS h
        FROM tok GROUP BY doc_id, word
    ),
    sums AS (SELECT doc_id, {_SUM_COLS} FROM tfrel GROUP BY doc_id),
    fp AS (SELECT doc_id, {_CHUNK_COLS} FROM sums),
    {_SIMHASH_CAND_SQL}
    SELECT s.doc_a, s.doc_b,
           {hamming_expr('fa.h', 'fb.h', 'duckdb')} AS hamming
    FROM scand s
    JOIN fp fa ON fa.doc_id = s.doc_a
    JOIN fp fb ON fb.doc_id = s.doc_b
    WHERE {hamming_expr('fa.h', 'fb.h', 'duckdb')} <= {HAMMING_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    doc="Binary-payload near-dup detection, codec-free: the multimodal "
    "dedup path. Payloads are opaque bytes (here the UTF-8 text bytes "
    "stand in, exactly like operators/multimodal.py's media table); "
    "tokens are overlapping byte 4-grams read off the payload's hex — no "
    "decoder, no text assumption, works for any file type — feeding the "
    "same tf-weighted SimHash-64 + pigeonhole chunk banding + "
    "bit_count(xor) verify as the text pipeline. Byte granularity "
    "catches in-place binary edits (appended tails, header tweaks) that "
    "word tokens can't see. Scale shape is unchanged: one doc_id-keyed "
    "shuffle to build fingerprints, banded equi-join for candidates — "
    "never an all-pairs scan over payloads.",
)
def payload_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup_corpus(spark, sf_dir)
    pay = corpus.select("doc_id", F.hex(F.encode("text", "UTF-8")).alias("hx"))
    grams = F.expr(
        """
        CASE WHEN length(hx) >= 8 THEN
            transform(sequence(0, length(hx) div 2 - 4),
                      i -> substr(hx, 2 * i + 1, 8))
        ELSE array() END
        """
    )
    tok = pay.select("doc_id", grams.cast("array<string>").alias("toks"))
    return simhash_pair_rows(simhash_fp_from_token_arrays(tok))


# ------------------------------------------ streaming NEAR-dup gate twin

# The snapshot corpus (operators/curation.py fixture — the SAME corpus
# streaming/dedup.py::write_doc_chunks replays), as a DuckDB CTE.
_SNAP_CORPUS_SQL = """
        SELECT doc_id, lower(text) AS text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, lower(text) FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000, lower(text) || ' zz fresh snapshot tail'
        FROM documents WHERE doc_id % 7 = 0
"""


@register(
    "incremental_neardup_gate",
    oracle=f"""
    WITH corpus AS ({_SNAP_CORPUS_SQL}),
    {_FP_BODY_SQL},
    cl AS ({_CHUNKS_LONG}),
    cand AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS db,
               {hamming_expr('a.h', 'b.h', 'duckdb')} AS ham
        FROM cl a JOIN cl b
          ON a.ci = b.ci AND a.cv = b.cv AND b.doc_id < a.doc_id
        WHERE {hamming_expr('a.h', 'b.h', 'duckdb')} <= {HAMMING_THRESHOLD}
    ),
    blk AS (
        SELECT doc_id, db AS blocker, ham AS blocker_hamming
        FROM (
            SELECT doc_id, db, ham,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY ham, db) AS rn
            FROM cand
        ) WHERE rn = 1
    )
    SELECT f.doc_id,
           (b.blocker IS NULL) AS admitted,
           b.blocker AS blocker,
           b.blocker_hamming AS blocker_hamming
    FROM fp f LEFT JOIN blk b ON b.doc_id = f.doc_id
    ORDER BY f.doc_id
    """,
    doc="Batch TWIN of the streaming NEAR-dup admission gate "
    "(streaming/dedup.py::start_neardup_gate): per-document admission "
    "decisions over the snapshot corpus under the gate's exact rule — a "
    "doc is rejected iff some SMALLER-id doc shares a SimHash 16-bit "
    "chunk (banded candidate) within Hamming <= 8, and the blocker "
    "reported is the (hamming, id)-minimal match. Smaller-id semantics "
    "(rather than greedy admitted-only chaining) make admission "
    "batching-invariant for id-ordered replay — the property the "
    "drained-stream == batch equivalence test pins — and "
    "SQL-expressible for the oracle. The streaming production path "
    "scans its fingerprint store once per micro-batch against the "
    "BROADCAST batch chunk rows (store never shuffles); this batch "
    "formulation is the semantics spec, sharing simhash_fp / "
    "simhash_chunk_rows with the near-dup suite.",
)
def incremental_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.curation import (
        snapshot_existing,
        snapshot_incoming,
    )

    docs = snapshot_existing(spark, sf_dir)
    corpus = docs.unionByName(snapshot_incoming(docs)).repartition(
        spark.sparkContext.defaultParallelism
    )
    fp = simhash_fp(corpus)
    cl = simhash_chunk_rows(fp)
    a = cl.select("ci", "cv", F.col("d").alias("a"))
    b = cl.select("ci", "cv", F.col("d").alias("b"))
    ham = F.expr(hamming_expr("a.h", "b.h", "spark"))
    cand = (
        a.join(b, ["ci", "cv"])
        .filter(F.col("b.doc_id") < F.col("a.doc_id"))
        .withColumn("ham", ham)
        .filter(F.col("ham") <= HAMMING_THRESHOLD)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("ham"),
            F.col("b.doc_id").alias("db"),
        )
    )
    blk = cand.groupBy("doc_id").agg(F.min(F.struct("ham", "db")).alias("m"))
    return (
        fp.select("doc_id")
        .join(blk, "doc_id", "left")
        .select(
            "doc_id",
            F.col("m").isNull().alias("admitted"),
            F.col("m.db").alias("blocker"),
            F.col("m.ham").alias("blocker_hamming"),
        )
        .orderBy("doc_id")
    )


@register(
    "arrival_order_neardup_gate",
    oracle=f"""
    WITH corpus AS ({_SNAP_CORPUS_SQL}),
    {_FP_BODY_SQL},
    arr AS (
        SELECT doc_id, md5('arr' || CAST(doc_id AS VARCHAR)) AS arrival_seq
        FROM corpus
    ),
    cl AS ({_CHUNKS_LONG}),
    cla AS (SELECT cl.*, arr.arrival_seq FROM cl JOIN arr USING (doc_id)),
    cand AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS db, b.arrival_seq AS barr,
               {hamming_expr('a.h', 'b.h', 'duckdb')} AS ham
        FROM cla a JOIN cla b
          ON a.ci = b.ci AND a.cv = b.cv
         AND (b.arrival_seq < a.arrival_seq
              OR (b.arrival_seq = a.arrival_seq AND b.doc_id < a.doc_id))
        WHERE {hamming_expr('a.h', 'b.h', 'duckdb')} <= {HAMMING_THRESHOLD}
    ),
    blk AS (
        SELECT doc_id, db AS blocker, ham AS blocker_hamming
        FROM (
            SELECT doc_id, db, ham,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY ham, barr, db) AS rn
            FROM cand
        ) WHERE rn = 1
    )
    SELECT f.doc_id, arr.arrival_seq,
           (b.blocker IS NULL) AS admitted,
           b.blocker AS blocker,
           b.blocker_hamming AS blocker_hamming
    FROM fp f
    JOIN arr ON arr.doc_id = f.doc_id
    LEFT JOIN blk b ON b.doc_id = f.doc_id
    ORDER BY f.doc_id
    """,
    doc="ARRIVAL-ORDER twin of the streaming NEAR-dup admission gate: "
    "first-SEEN-wins for unordered ingestion — each doc carries the "
    "deterministic pseudo-random arrival_seq (md5 of its id, the "
    "arrival_order_exact_gate convention: a crawl does not deliver in "
    "id order), and a doc is rejected iff some EARLIER-ARRIVED doc "
    "(lexicographic (arrival_seq, doc_id) precedence) shares a SimHash "
    "16-bit chunk within Hamming <= 8; the blocker reported is the "
    "(hamming, arrival, id)-minimal earlier match. The id-order twin "
    "(incremental_neardup_gate) and this rule genuinely diverge on the "
    "snapshot corpus — a near-dup family's survivor is its first "
    "arrival, not its smallest id — and the streaming gate driven over "
    "arrival-shuffled chunks must land exactly this set "
    "(tests/test_streaming.py::test_neardup_gate_arrival_order...): "
    "within-batch precedence comes from the arrival_seq column, "
    "cross-batch precedence from batch order, which the arrival-ranged "
    "chunk layout makes consistent with the global rule. Same physical "
    "shape as the id-order twin — banded chunk equi-join + inline "
    "Hamming verify; arrival_seq rides inside the chunk struct, "
    "adding ~32 B/row to the banding exchange, nothing else.",
)
def arrival_order_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_sentiment_spark_streaming_pipeline_spark.operators.curation import (
        arrival_seq_col,
        snapshot_existing,
        snapshot_incoming,
    )

    docs = snapshot_existing(spark, sf_dir)
    corpus = docs.unionByName(snapshot_incoming(docs)).repartition(
        spark.sparkContext.defaultParallelism
    )
    fpa = simhash_fp(corpus).join(
        corpus.select("doc_id", arrival_seq_col().alias("arrival_seq")),
        "doc_id",
    )
    cl = simhash_chunk_rows(fpa, extra=("arrival_seq",))
    a = cl.select("ci", "cv", F.col("d").alias("a"))
    b = cl.select("ci", "cv", F.col("d").alias("b"))
    earlier = (F.col("b.arrival_seq") < F.col("a.arrival_seq")) | (
        (F.col("b.arrival_seq") == F.col("a.arrival_seq"))
        & (F.col("b.doc_id") < F.col("a.doc_id"))
    )
    ham = F.expr(hamming_expr("a.h", "b.h", "spark"))
    cand = (
        a.join(b, ["ci", "cv"])
        .filter(earlier)
        .withColumn("ham", ham)
        .filter(F.col("ham") <= HAMMING_THRESHOLD)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("ham"),
            F.col("b.arrival_seq").alias("barr"),
            F.col("b.doc_id").alias("db"),
        )
    )
    blk = cand.groupBy("doc_id").agg(
        F.min(F.struct("ham", "barr", "db")).alias("m")
    )
    return (
        fpa.select("doc_id", "arrival_seq")
        .join(blk, "doc_id", "left")
        .select(
            "doc_id",
            "arrival_seq",
            F.col("m").isNull().alias("admitted"),
            F.col("m.db").alias("blocker"),
            F.col("m.ham").alias("blocker_hamming"),
        )
        .orderBy("doc_id")
    )


# ------------------------------- exact substring (repeated-span) dedup

# Window width in WORDS for cross-document repeated-span detection.
SPAN_NGRAM = 8

# Broadcast gate for the span join-back's repeated-hash set (md5 strings,
# ~60 B/row resident): 2M rows ≈ 120 MB — the most we'd ever want pinned
# in every executor. Past it the join falls back to a shuffle-hash join
# (see _span_frame). Read at call time, like PAIR_DOCSET_BROADCAST_MAX.
SPAN_REP_BROADCAST_MAX = 2_000_000


# Shared CTE chain: corpus -> windows -> cross-doc repeated hashes ->
# island-merged spans. Used by the span query and the removal-accounting
# query so the two oracles cannot drift.
_SPAN_CTES = f"""corpus AS ({_CORPUS_SQL}),
    tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
    winpos AS (
        SELECT doc_id, w, unnest(generate_series(0, len(w) - {SPAN_NGRAM})) AS pos
        FROM tok WHERE len(w) >= {SPAN_NGRAM}
    ),
    win AS (
        SELECT doc_id, pos,
               md5(array_to_string(w[pos + 1 : pos + {SPAN_NGRAM}], ' ')) AS h
        FROM winpos
    ),
    rep AS (
        SELECT h FROM win GROUP BY h HAVING min(doc_id) <> max(doc_id)
    ),
    hits AS (SELECT doc_id, pos FROM win JOIN rep USING (h)),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN max(pos + {SPAN_NGRAM}) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR pos > max(pos + {SPAN_NGRAM}) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS flag
        FROM hits
    ),
    grp AS (
        SELECT doc_id, pos, sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM isl
    ),
    spans AS (
        SELECT doc_id,
               min(pos)                               AS span_start,
               max(pos) + {SPAN_NGRAM}                AS span_end,
               max(pos) + {SPAN_NGRAM} - min(pos)     AS span_words,
               count(*)                               AS n_windows
        FROM grp GROUP BY doc_id, g
    )"""


@register(
    "repeated_ngram_spans",
    oracle=f"""
    WITH {_SPAN_CTES}
    SELECT doc_id, span_start, span_end, span_words, n_windows
    FROM spans
    ORDER BY doc_id, span_start
    """,
    doc="Exact substring dedup (Lee et al. 2022, 'Deduplicating Training "
    "Data Makes Language Models Better'): every 8-word window is hashed; "
    "windows whose hash appears in >=2 DISTINCT documents are repeated "
    "spans, and overlapping/adjacent repeated windows merge into maximal "
    "(doc_id, span_start, span_end) cut-lists — span-LEVEL dedup that "
    "removes boilerplate passages from otherwise-unique documents, the "
    "modality doc-level near-dup (MinHash/SimHash) cannot express. "
    "Scale shape: window rows are linear in corpus tokens; repeated-hash "
    "discovery is one map-side-combined groupBy(h) with min/max doc_id "
    "(min<>max == cross-doc, no distinct-count buffer); the hash "
    "equi-join back adds <=1 row per window (never expands, even for "
    "boilerplate appearing in millions of docs — output is "
    "per-OCCURRENCE, not per-pair, which is why this scales where pair "
    "enumeration needs bucket caps); island merging is one doc_id-keyed "
    "window pass. Three linear shuffles total, no caps needed. The "
    "join-back broadcast is gated on the measured repeated-hash count "
    "(SPAN_REP_BROADCAST_MAX) with an explicit shuffle-hash fallback for "
    "boilerplate-heavy corpora — see _span_frame.",
)
def repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _span_frame(spark, sf_dir).orderBy("doc_id", "span_start")


def _span_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (doc_id, span_start, span_end, span_words, n_windows)
    cut-list frame; shared by the span query and the removal accounting.

    The `win` subtree (tokenize + explode + per-window md5) is DELIBERATELY
    computed twice — once under the repeated-hash aggregate, once under the
    hits join — rather than persisted or restructured. The alternatives are
    worse at corpus scale: persisting it caches a token-count-sized frame
    (tens of TB of executor memory/disk at 100 TB corpus), and replacing the
    groupBy+broadcast-join with a window-over-h computes `win` once but then
    SHUFFLES the whole token-scale frame on h, where the current shape
    shuffles only map-side-combined (h, min, max) partials and broadcasts
    the small repeated-hash set. Re-running a narrow, embarrassingly
    parallel map stage is the cheapest of the three; the 10x rehearsal
    measures the whole query linear in shuffle (9.96x) with sub-linear wall
    (3.1x).

    The join-back broadcast is GATED on the measured repeated-hash count
    (mirroring _pair_docset_join's shape): `rep` is eagerly
    localCheckpoint-ed — it is the small output of the aggregate, and the
    materialization doubles as the lineage cut that stops the join-back
    re-running the groupBy — and its count decides the join strategy. At
    or under SPAN_REP_BROADCAST_MAX rows (~120 MB resident) the hash set
    broadcasts, the explicit hint extending broadcast well past the 10 MB
    auto threshold. On a boilerplate-heavy corpus where the repeated-hash
    set exceeds the gate, the join degrades HONESTLY to a shuffle-hash
    join: ONE additional hash-partitioned exchange of the token-scale
    `win` frame on h — linear, sort-free, no driver/executor OOM risk —
    i.e. a fourth linear shuffle, not the default sort-merge the silent
    auto-threshold fallback would pick.

    KNOWN TRADE of the measured gate: CONSTRUCTING this frame executes
    the corpus→windows→aggregate pipeline (the localCheckpoint + count),
    so a plan-only operation (df.explain(), tools/dump_plans.py) over
    the span queries pays one real aggregate run, and constructing both
    span queries in a session runs it twice. Memoizing the checkpointed
    `rep` per (session, sf_dir) would fix that but make bench.py's
    min-of-reps DISHONEST (rep 2 would reuse rep 1's materialization and
    under-report the query's real cost), so the per-construction run is
    kept — the same trade _pair_docset_join already makes. Leaving the
    choice to AQE instead would shuffle the token-scale `win` frame
    before deciding, and a lazy prototype of the gates measured slower
    on the curation benchmark (ROADMAP item 3)."""
    corpus = dedup_corpus(spark, sf_dir)
    base = corpus.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= SPAN_NGRAM
    )
    win = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(w) - {SPAN_NGRAM}), "
                f"i -> struct(cast(i AS bigint) AS pos, "
                f"md5(concat_ws(' ', slice(w, i + 1, {SPAN_NGRAM}))) AS h))"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.pos").alias("pos"), F.col("e.h").alias("h"))
    rep = (
        win.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    # lazy: the gate count below materializes the checkpoint AND returns
    # the count in ONE job (eager=True paid a separate materialization job
    # running the same corpus→windows→aggregate pipeline first — r13)
    rep = rep.localCheckpoint(eager=False)
    if rep.count() <= SPAN_REP_BROADCAST_MAX:
        rep = F.broadcast(rep)
    else:  # boilerplate-heavy corpus: see the gate story above
        rep = rep.hint("shuffle_hash")
    hits = win.join(rep, "h").select("doc_id", "pos")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_cov = F.max(F.col("pos") + SPAN_NGRAM).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "flag",
        F.when(prev_cov.isNull() | (F.col("pos") > prev_cov), 1).otherwise(0),
    )
    grp = flagged.withColumn("g", F.sum("flag").over(wd))
    return (
        grp.groupBy("doc_id", "g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + SPAN_NGRAM).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id", "span_start", "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_words"),
            "n_windows",
        )
    )


@register(
    "span_dedup_stats",
    oracle=f"""
    WITH {_SPAN_CTES},
    per_doc AS (
        SELECT doc_id, CAST(sum(span_words) AS BIGINT) AS cut_words,
               count(*) AS n_spans
        FROM spans GROUP BY doc_id
    ),
    lens AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM corpus
    )
    SELECT CASE WHEN l.doc_id < 1000000 THEN 'original'
                WHEN l.doc_id < 2000000 THEN 'exact_copy'
                ELSE 'near_copy' END                          AS doc_class,
           count(*)                                           AS n_docs,
           count(p.doc_id)                                    AS n_docs_with_spans,
           CAST(sum(l.n_words) AS BIGINT)                     AS words_total,
           CAST(sum(coalesce(p.cut_words, 0)) AS BIGINT)      AS words_cut,
           round(sum(coalesce(p.cut_words, 0)) * 1.0
                 / sum(l.n_words), 6)                         AS cut_ratio
    FROM lens l LEFT JOIN per_doc p USING (doc_id)
    GROUP BY doc_class
    ORDER BY doc_class
    """,
    doc="Removal accounting for exact substring dedup: the span cut-lists "
    "applied back to the corpus as per-class totals (planted exact "
    "copies, near copies, originals) — how many documents are touched, "
    "how many words the cuts remove, and the cut ratio. The per-class "
    "split doubles as a self-check: exact copies must cut ~everything, "
    "originals only their genuinely repeated passages. One extra "
    "doc_id-keyed aggregate + broadcast-sized class rollup on top of "
    "the shared span plan; nothing new shuffles at corpus width.",
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = (
        _span_frame(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_words").alias("cut_words"))
    )
    lens = dedup_corpus(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    cls = (
        F.when(F.col("doc_id") < 1000000, "original")
        .when(F.col("doc_id") < 2000000, "exact_copy")
        .otherwise("near_copy")
    )
    return (
        lens.join(per_doc, "doc_id", "left")
        .groupBy(cls.alias("doc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("cut_words").alias("n_docs_with_spans"),
            F.sum("n_words").alias("words_total"),
            F.sum(F.coalesce("cut_words", F.lit(0))).alias("words_cut"),
            F.round(
                F.sum(F.coalesce("cut_words", F.lit(0)))
                / F.sum("n_words"),
                6,
            ).alias("cut_ratio"),
        )
        .orderBy("doc_class")
    )
