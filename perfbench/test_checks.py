"""Each output check passes on correct output and fails on a corrupted
one: a dropped row, a replayed batch, a perturbed score or flag.

    python3 -m pytest perfbench -q

The "engine" outputs here are built in pandas from the generator's
manifest, the way the posts consumer lays out its sinks.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def wires():
    return gen.wire_files(seed=7, n_files=3, lines_per_file=80)


def sinks(wires):
    """The five sinks as a correct consumer writes them, one batch per file."""
    proc = pd.DataFrame({
        "id": [p.id for p in wires.posts],
        "subreddit": [p.subreddit for p in wires.posts],
        "author": [p.author for p in wires.posts],
        "text_length": [p.text_length for p in wires.posts],
        "sentiment": [round(p.sentiment, 6) for p in wires.posts],
        "created_time": pd.to_datetime([p.created_utc for p in wires.posts], unit="s"),
        "batch_id": [p.file for p in wires.posts],
    })
    refs = pd.DataFrame({
        "batch_id": [p.file for p in wires.posts],
        "total_user_refs": [float(p.user_refs) for p in wires.posts],
        "total_sub_refs": [float(p.sub_refs) for p in wires.posts],
        "total_urls": [float(p.urls) for p in wires.posts],
    }).groupby("batch_id").sum()
    g = proc.groupby("batch_id")
    stamp = g["created_time"].max()
    sent = pd.DataFrame({"timestamp": stamp,
                         "average_sentiment": g["sentiment"].mean().round(6)})
    stats = (proc.groupby(["batch_id", "subreddit"])
             .agg(post_count=("id", "size"), unique_authors=("author", "nunique"),
                  avg_length=("text_length", "mean"))
             .reset_index())
    stats["avg_length"] = stats["avg_length"].round(6)
    stats["timestamp"] = stats["batch_id"].map(stamp)
    refs["timestamp"] = stamp
    return {
        "raw": [v for f in wires.files for v in f],
        "processed": proc,
        "sentiment": sent.reset_index(drop=True),
        "subreddit_stats": stats.drop(columns="batch_id"),
        "references": refs.reset_index(drop=True),
    }


def problems(wires, t):
    return (checks.check_raw(wires.files, t["raw"])
            + checks.check_processed(wires.posts, t["processed"])
            + checks.check_batch_tables(wires.posts, t["processed"], t["sentiment"],
                                        t["subreddit_stats"], t["references"]))


def test_correct_output_passes(wires):
    assert wires.posts and len(wires.posts) < wires.n_lines
    assert problems(wires, sinks(wires)) == []


def test_dropped_rows_fail(wires):
    t = sinks(wires)
    t["raw"] = t["raw"][1:]
    assert checks.check_raw(wires.files, t["raw"])
    t = sinks(wires)
    t["processed"] = t["processed"].iloc[1:]
    assert checks.check_processed(wires.posts, t["processed"])
    t = sinks(wires)
    t["subreddit_stats"] = t["subreddit_stats"].iloc[1:]
    assert problems(wires, t)


def test_replayed_batch_fails(wires):
    t = sinks(wires)
    again = lambda df, rows: pd.concat([df, df.loc[rows]], ignore_index=True)  # noqa: E731
    t["raw"] = t["raw"] + list(wires.files[1])
    t["processed"] = again(t["processed"], t["processed"]["batch_id"] == 1)
    t["sentiment"] = again(t["sentiment"], [1])
    t["references"] = again(t["references"], [1])
    probs = problems(wires, t)
    assert any("raw" in m for _, m in probs)
    assert any("appears 2 times" in m for _, m in probs)
    assert any("2 sentiment rows" in m for _, m in probs)


def test_perturbed_scores_fail(wires):
    t = sinks(wires)
    t["processed"].loc[0, "sentiment"] += 1e-3
    assert checks.check_processed(wires.posts, t["processed"])
    t = sinks(wires)
    t["sentiment"].loc[0, "average_sentiment"] += 1e-3
    assert problems(wires, t)
    t = sinks(wires)
    t["references"].loc[0, "total_urls"] += 1
    assert problems(wires, t)
    t = sinks(wires)
    t["subreddit_stats"].loc[0, "unique_authors"] += 40
    assert problems(wires, t)


def show(title, df):
    """A panel as the dashboard prints it (`show(truncate=False)`)."""
    cols = list(df.columns)
    rows = [[str(v) for v in r] for r in df.itertuples(index=False)]
    w = [max(len(c), *(len(r[i]) for r in rows)) if rows else len(c)
         for i, c in enumerate(cols)]
    sep = "+" + "+".join("-" * x for x in w) + "+"
    fmt = lambda cells: "|" + "|".join(c.ljust(x) for c, x in zip(cells, w)) + "|"  # noqa: E731
    return "\n".join([f"== {title} (/out/x)", sep, fmt(cols), sep,
                      *(fmt(r) for r in rows), sep])


def dashboard(wires, bump=0.0):
    t = sinks(wires)
    proc = t["processed"].sort_values("created_time", ascending=False)
    stats = (t["subreddit_stats"].groupby("subreddit")["post_count"].sum()
             .reset_index().sort_values("post_count", ascending=False))
    refs = t["references"][["total_user_refs", "total_sub_refs", "total_urls"]].sum()
    refs["total_urls"] += bump
    return "\n".join([
        show("latest posts", proc[["subreddit", "id"]].head(50)),
        show("sentiment over time", t["sentiment"].head(50)),
        show("subreddit stats", stats),
        show("reference totals", refs.to_frame().T),
    ])


def test_dashboard_totals(wires):
    assert checks.check_dashboard(wires.posts, dashboard(wires), 3, 50) == []
    assert checks.check_dashboard(wires.posts, dashboard(wires, bump=1.0), 3, 50)
    assert checks.check_dashboard(wires.posts, dashboard(wires), 4, 50)


def test_query_check_against_oracle():
    oracle = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 0.125]})
    assert checks.check_query(oracle.iloc[::-1], oracle) is None
    assert checks.check_query(oracle.iloc[1:], oracle)
    assert checks.check_query(pd.concat([oracle, oracle.iloc[:1]]), oracle)
    bad = oracle.copy()
    bad.loc[0, "score"] += 1e-6
    assert checks.check_query(bad, oracle)


def test_loose_column_allows_one_unit_in_the_last_place():
    oracle = pd.DataFrame({"split": ["train", "val"], "n_docs": [3, 4],
                           "avg_quality": [0.473437, 0.5]})
    near = oracle.copy()
    near.loc[0, "avg_quality"] = 0.473438
    assert checks.check_query(near, oracle)
    assert checks.check_query(near.iloc[::-1], oracle, ("avg_quality",)) is None
    far = oracle.copy()
    far.loc[0, "avg_quality"] = 0.473439
    assert checks.check_query(far, oracle, ("avg_quality",))
    assert checks.check_query(near.iloc[1:], oracle, ("avg_quality",))
    miscount = near.copy()
    miscount.loc[1, "n_docs"] = 5
    assert checks.check_query(miscount, oracle, ("avg_quality",))


def ingest_tables():
    """An ingest oracle, and results and stats as a correct drain of two
    micro-batches writes them."""
    oracle = pd.DataFrame({
        "doc_id": [1, 2, 3, 1000001, 2000002],
        "lang": ["en", "es", "en", "en", "es"],
        "exact_ok": [True, True, True, False, True],
        "neardup_ok": [True, True, True, False, False],
        "kept": [True, False, True, False, False],
    })
    results = oracle.assign(batch_id=[0, 0, 0, 1, 1])
    stats = pd.DataFrame({"batch_id": [0, 1], "n_batch": [3, 2], "n_exact_ok": [3, 1],
                          "n_neardup_ok": [3, 0], "n_kept": [2, 0]})
    return oracle, results, stats


def test_ingest_checks():
    oracle, results, stats = ingest_tables()
    assert checks.check_ingest(results, stats, oracle) == []
    # a dropped row
    assert checks.check_ingest(results.iloc[1:], stats, oracle)
    # a replayed batch
    again = pd.concat([results, results[results["batch_id"] == 1]], ignore_index=True)
    assert checks.check_ingest(again, stats, oracle)
    assert checks.check_ingest(results, pd.concat([stats, stats.iloc[1:]]), oracle)
    # a flipped flag, and a stats count that no longer sums
    flipped = results.copy()
    flipped.loc[1, "kept"] = True
    assert checks.check_ingest(flipped, stats, oracle)
    bumped = stats.copy()
    bumped.loc[0, "n_kept"] += 1
    assert checks.check_ingest(results, bumped, oracle)


def test_hll_tolerance_grows_with_count():
    assert checks.hll_tolerance(1) == 1.0
    assert checks.hll_tolerance(13) < 13 * 0.5
    assert checks.hll_tolerance(1000) == pytest.approx(3 * checks.HLL_RSD * 1000)
