"""curation_batch: a fixed set of registry queries over generated tables.

The run is a series of rounds. In each round every query in QUERIES is
built through the registry and run. Tracked persists and the cache are
released after each query, as `bench.py` does.

Round 0 is the warm-up and part of set-up. It collects each query's
result instead of writing it to the noop sink, and runs FAULT_QUERY once
more on the fixed FAULT_SEED documents table (a known disagreement with
its oracle, see FAULT_SEED). The timed rounds follow. Their number comes
from --seconds alone, so every run with the same --seconds attempts the
same operations. In each timed round the CLI's `query` command also
prints READ_QUERY READS times. The oracle comparisons run after the
timed rounds, on the results round 0 collected, so their cost stays out
of `setup_s`.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import math
import os
import time

import checks
import gen
from spans import p50

# One query per operator module the rounds are meant to expose: MinHash
# pair verification (operators.dedup), the embedding pair gate and its
# dot() fold (operators.similarity) and the composed filter/dedup/split
# pipeline (operators.curation).
QUERIES = (
    "minhash_near_dups",
    "embedding_near_dups",
    "corpus_curation_pipeline",
)
# prefixes of the per-layer metrics this workload measures
LAYERS = ("session.", "curation.", "trace.")
N_DOCS = 500
N_VECS = 500
READ_QUERY = "corpus_curation_pipeline"
READ_ROWS = 20
READS = 2  # per timed round
# A warm round takes about 8 s on 4 vCPUs. At least two are timed, so
# that each query's time is a median of more than one sample.
ROUND_S = 8.0
# corpus_curation_pipeline rounds avg(quality) to 6 dp after summing in a
# different order than its DuckDB oracle, so where the exact mean ends in
# a 5 at the seventh decimal the two can round apart. That happens on
# some seeds only, so on the seeded tables avg_quality may differ by one
# unit in its last place (every other column is exact). On this fixed,
# seed-independent table the two round apart on every run, under the
# strict rule: one failed operation per run, until the program is
# mended.
FAULT_QUERY = "corpus_curation_pipeline"
FAULT_COLUMNS = ("avg_quality",)
FAULT_SEED = 99
FAULT_DOCS = 500


def n_timed_rounds(seconds: float) -> int:
    return max(2, round(seconds / ROUND_S))


def run_curation_batch(run) -> dict:
    from reddit_sentiment_spark_streaming_pipeline_spark import __main__ as cli
    from reddit_sentiment_spark_streaming_pipeline_spark import caching, registry

    spark = run.session()
    tr = run.tracer
    sf_dir = os.path.join(run.work, "tables")
    fault_dir = os.path.join(run.work, "fault")
    os.makedirs(sf_dir)
    os.makedirs(fault_dir)
    gen.write_tables(sf_dir, run.seed, N_DOCS, N_VECS)
    gen.write_tables(fault_dir, FAULT_SEED, FAULT_DOCS)
    specs = registry.load_all()

    def release():
        caching.release_tracked()
        spark.catalog.clearCache()

    reads, printed = [], []
    ns = argparse.Namespace(name=READ_QUERY, sf_dir=sf_dir, n=READ_ROWS)

    def read(r, i):
        buf = io.StringIO()
        with tr.span("query.read", id=f"read-{r}-{i}"), contextlib.redirect_stdout(buf):
            t = time.time()
            cli.cmd_query(ns)
            reads.append(time.time() - t)
        release()
        printed.append(buf.getvalue())

    # round 0: the warm-up, which collects the results to check
    got = {}
    for q in QUERIES:
        try:
            got[q] = specs[q].fn(spark, sf_dir).toPandas()
        finally:
            release()
    try:
        fault_got = specs[FAULT_QUERY].fn(spark, fault_dir).toPandas()
    finally:
        release()

    setup_s = run.setup_s()
    rounds = n_timed_rounds(run.seconds)
    times = {q: [] for q in QUERIES}
    for r in range(1, rounds + 1):
        with tr.span("curation.round", id=f"round-{r}"):
            for q in QUERIES:
                t = time.time()
                with tr.span(f"curation.{q}.build", id=f"{q}-{r}"):
                    df = specs[q].fn(spark, sf_dir)
                with tr.span(f"curation.{q}.run", id=f"{q}-{r}"):
                    df.write.format("noop").mode("overwrite").save()
                times[q].append(time.time() - t)
                release()
            for i in range(READS):
                read(r, i)

    # checks, after the clock: each query against its oracle once, since
    # every round runs it on the same tables
    bad = {}
    for q in QUERIES:
        why = checks.check_query(got[q], checks.run_oracle(sf_dir, specs[q].oracle),
                                 FAULT_COLUMNS if q == FAULT_QUERY else ())
        if why:
            bad[q] = why
    fault_bad = checks.check_query(
        fault_got, checks.run_oracle(fault_dir, specs[FAULT_QUERY].oracle))
    n_rounds = 1 + rounds
    run.tally(len(QUERIES) * n_rounds, [f"{q}: {w}" for q, w in bad.items()],
              failed=len(bad) * n_rounds)
    run.tally(1, [f"{FAULT_QUERY} on the fixed table (seed {FAULT_SEED}): {fault_bad}"]
              if fault_bad else [], known_fault=True)
    read_rows = min(READ_ROWS, len(got[READ_QUERY]))
    for text in printed:
        rows = len([ln for ln in text.splitlines() if ln.startswith("|")]) - 1
        run.tally(1, [] if rows == read_rows else [f"cmd_query printed {rows} rows"])

    # a pass over the query set, built query by query from each one's
    # median time over the timed rounds
    latency = math.fsum(p50(ts) for ts in times.values())
    read_s = p50(reads)
    metrics = {"setup_s": setup_s, "latency_p50_s": latency, "read_s": read_s}
    if tr.enabled:
        from spans import attach_status

        attach_status(spark, tr)
        metrics["session.get_spark_s"] = run.get_spark_s
        for q in QUERIES:
            b, r = tr.named(f"curation.{q}.build"), tr.named(f"curation.{q}.run")
            metrics[f"curation.{q}.build_ms"] = p50(s.ms for s in b)
            metrics[f"curation.{q}.run_ms"] = p50(s.ms for s in r)
            for key in ("jobs", "executor_cpu_ms", "shuffle_write_bytes"):
                metrics[f"curation.{q}.{key}"] = p50(
                    x.figures[key] + y.figures[key] for x, y in zip(b, r))
        metrics["trace.latency_p50_s"] = latency
        metrics["trace.read_s"] = read_s
    return metrics
