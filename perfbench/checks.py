"""Output checks, computed apart from the engine.

Each check compares what the engine wrote with what the generator put in,
and none depends on how lines split into micro-batches. A check returns a
list of `(op, message)` problems; `op` names the operation it fails (a
wire file index, a dashboard read, a query), or None when no single
operation is to blame.
"""

from __future__ import annotations

import functools
import importlib.util
import math
import os
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

# approx_count_distinct's default relative standard deviation, and the
# register count HLL++ derives from it: p = ceil(2 log2(1.106 / rsd)) = 9
HLL_RSD = 0.05
HLL_REGISTERS = 512
# rounded to 6 dp on both sides, so one unit in the last place may differ
TOL = 1e-6 + 1e-9


def _close(a: float, b: float, tol: float = TOL) -> bool:
    return abs(float(a) - float(b)) <= tol


def hll_tolerance(n: int) -> float:
    """How far approx_count_distinct may stray from an exact count n.

    Past small counts, three times the stated relative error. At small
    counts HLL++ is linear counting, which undercounts by about the
    number of register collisions among the n values: allow that count
    up to its 1e-6 tail, with collisions Poisson at the birthday rate."""
    lam = n * (n - 1) / (2 * HLL_REGISTERS)
    if lam > 500:  # far past the linear-counting range
        return 3 * HLL_RSD * n
    k, term = 0, math.exp(-lam)
    tail = 1.0 - term  # P(collisions > k)
    while tail > 1e-6:
        k += 1
        term *= lam / k
        tail -= term
    return max(1.0, k, 3 * HLL_RSD * n)


def read_table(path: str) -> pd.DataFrame:
    """A table the engine wrote, read with pyarrow rather than Spark."""
    return pq.read_table(path).to_pandas()


def epoch_s(col: pd.Series) -> pd.Series:
    """Timestamps as epoch seconds (float)."""
    return pd.to_datetime(col).astype("datetime64[ns]").astype("int64") / 1e9


def check_raw(lines_by_file: list[list[str]], raw_values: list[str]) -> list:
    """The raw sink holds every generated line exactly once."""
    want = Counter(v for f in lines_by_file for v in f)
    got = Counter(raw_values)
    file_of = {v: k for k, f in enumerate(lines_by_file) for v in f}
    probs = []
    for v in (want - got):
        probs.append((file_of[v], f"raw sink misses a line of file {file_of[v]}"))
    for v in (got - want):
        probs.append((file_of.get(v), "raw sink holds an extra or repeated line"))
    return probs


def check_processed(posts, processed: pd.DataFrame) -> list:
    """Every valid post exactly once, with its text_length and sentiment."""
    probs = []
    by_id = {p.id: p for p in posts}
    counts = Counter(processed["id"])
    for pid, p in by_id.items():
        if counts.get(pid, 0) != 1:
            probs.append((p.file, f"post {pid} appears {counts.get(pid, 0)} times"))
    for pid in set(counts) - set(by_id):
        probs.append((None, f"processed sink holds unknown id {pid}"))
    for r in processed.itertuples(index=False):
        p = by_id.get(r.id)
        if p is None:
            continue
        if r.text_length != p.text_length:
            probs.append((p.file, f"post {r.id} text_length {r.text_length} != {p.text_length}"))
        if not _close(r.sentiment, round(p.sentiment, 6)):
            probs.append((p.file, f"post {r.id} sentiment {r.sentiment} != {p.sentiment:.6f}"))
    return probs


def check_batch_tables(posts, processed: pd.DataFrame, sentiment: pd.DataFrame,
                       stats: pd.DataFrame, refs: pd.DataFrame) -> list:
    """The per-batch sentiment, subreddit_stats and references rows agree
    with the processed rows of the same batch_id, and the summed
    reference counts equal the counts the generator inserted."""
    probs = []
    by_id = {p.id: p for p in posts}
    proc = processed.assign(ts=epoch_s(processed["created_time"]))
    sent = sentiment.assign(ts=epoch_s(sentiment["timestamp"]))
    stat = stats.assign(ts=epoch_s(stats["timestamp"]))
    ref = refs.assign(ts=epoch_s(refs["timestamp"]))
    seen_ts = set()
    for bid, rows in proc.groupby("batch_id"):
        files = sorted({by_id[i].file for i in rows["id"] if i in by_id})
        op = files[0] if files else None
        ts = rows["ts"].max()
        seen_ts.add(ts)
        s = sent[sent["ts"] == ts]
        if len(s) != 1:
            probs.append((op, f"batch {bid}: {len(s)} sentiment rows"))
        elif not _close(s["average_sentiment"].iloc[0],
                        round(rows["sentiment"].mean(), 6)):
            probs.append((op, f"batch {bid}: average_sentiment disagrees"))
        st = stat[stat["ts"] == ts].set_index("subreddit")
        grp = rows.groupby("subreddit")
        if sorted(st.index) != sorted(grp.groups) or st.index.has_duplicates:
            probs.append((op, f"batch {bid}: subreddit_stats rows disagree"))
        else:
            for sub, g in grp:
                r = st.loc[sub]
                exact = g["author"].nunique()
                if r["post_count"] != len(g):
                    probs.append((op, f"batch {bid} {sub}: post_count"))
                if not _close(r["avg_length"], round(g["text_length"].mean(), 6)):
                    probs.append((op, f"batch {bid} {sub}: avg_length"))
                if abs(r["unique_authors"] - exact) > hll_tolerance(exact):
                    probs.append((op, f"batch {bid} {sub}: unique_authors "
                                      f"{r['unique_authors']} vs exact {exact}"))
        rr = ref[ref["ts"] == ts]
        mine = [by_id[i] for i in rows["id"] if i in by_id]
        want = [sum(p.user_refs for p in mine), sum(p.sub_refs for p in mine),
                sum(p.urls for p in mine)]
        if len(rr) != 1:
            probs.append((op, f"batch {bid}: {len(rr)} references rows"))
        elif [rr[c].iloc[0] for c in ("total_user_refs", "total_sub_refs", "total_urls")] != want:
            probs.append((op, f"batch {bid}: reference totals disagree"))
    for name, t in (("sentiment", sent), ("subreddit_stats", stat), ("references", ref)):
        if not set(t["ts"]) <= seen_ts:
            probs.append((None, f"{name} rows for a batch with no processed rows"))
    inserted = [sum(p.user_refs for p in posts), sum(p.sub_refs for p in posts),
                sum(p.urls for p in posts)]
    summed = [refs[c].sum() for c in ("total_user_refs", "total_sub_refs", "total_urls")]
    if summed != inserted:
        probs.append((None, f"summed reference counts {summed} != inserted {inserted}"))
    return probs


def parse_show(text: str) -> dict[str, list[dict]]:
    """The dashboard's printed panels: title -> rows of a `show()` table."""
    panels, title, header = {}, None, None
    for line in text.splitlines():
        if line.startswith("== "):
            title = line[3:].split(" (")[0]
            panels[title], header = [], None
        elif line.startswith("|") and title is not None:
            cells = [c.strip() for c in line.strip("|").split("|")]
            if header is None:
                header = cells
            else:
                panels[title].append(dict(zip(header, cells)))
    return panels


def check_dashboard(posts, printed: str, n_batches: int, n: int) -> list:
    """The dashboard's printed totals equal the manifest."""
    panels = parse_show(printed)
    probs = []
    want = Counter(p.subreddit for p in posts)
    got = {r["subreddit"]: int(r["post_count"])
           for r in panels.get("subreddit stats", [])}
    if got != dict(want):
        probs.append("subreddit post counts differ from the manifest")
    tot = panels.get("reference totals", [{}])
    inserted = {"total_user_refs": sum(p.user_refs for p in posts),
                "total_sub_refs": sum(p.sub_refs for p in posts),
                "total_urls": sum(p.urls for p in posts)}
    if len(tot) != 1 or any(float(tot[0].get(k, "nan")) != v for k, v in inserted.items()):
        probs.append("reference totals differ from the manifest")
    latest = panels.get("latest posts", [])
    newest = max(posts, key=lambda p: p.created_utc).id
    if not latest or latest[0].get("id") != newest:
        probs.append("latest post is not the newest valid post")
    if len(panels.get("sentiment over time", [])) != min(n, n_batches):
        probs.append("sentiment panel row count differs from the batch count")
    return probs


INGEST_FLAGS = ("exact_ok", "neardup_ok", "kept")


def check_ingest(results: pd.DataFrame, stats: pd.DataFrame, oracle: pd.DataFrame) -> list:
    """The streaming ingest results against the batch oracle: one row
    per input doc, with the oracle's lang and flags, and per-batch stats
    rows whose counts are the sums of that batch's results. `op` is the
    micro-batch a problem belongs to."""
    probs = []
    want = oracle.set_index("doc_id")
    counts = Counter(results["doc_id"])
    for d in want.index.difference(list(counts)):
        probs.append((None, f"ingest results miss doc {d}"))
    batch_of = dict(zip(results["doc_id"], results["batch_id"].astype(int)))
    for d, k in counts.items():
        if k != 1 or d not in want.index:
            probs.append((batch_of[d], f"ingest results hold doc {d} {k} times"
                          + ("" if d in want.index else " (not an input doc)")))
    for r in results.itertuples(index=False):
        if r.doc_id not in want.index:
            continue
        w = want.loc[r.doc_id]
        for c in ("lang",) + INGEST_FLAGS:
            if getattr(r, c) != w[c]:
                probs.append((int(r.batch_id), f"doc {r.doc_id}: {c} {getattr(r, c)} != {w[c]}"))
    sums = results.assign(batch_id=results["batch_id"].astype(int)).groupby("batch_id").agg(
        n_batch=("doc_id", "size"), **{f"n_{c}": (c, "sum") for c in INGEST_FLAGS})
    st = stats.assign(batch_id=stats["batch_id"].astype(int)).set_index("batch_id")
    if st.index.has_duplicates or sorted(st.index) != sorted(sums.index):
        probs.append((None, "ingest stats rows do not match the result batches"))
    else:
        for bid, row in sums.iterrows():
            for c, v in row.items():
                if st.loc[bid, c] != v:
                    probs.append((bid, f"ingest batch {bid}: stats {c} {st.loc[bid, c]} != {v}"))
    return probs


@functools.lru_cache(maxsize=1)
def _check_tool():
    """tools/check.py, the repository's oracle comparison rule."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")
    spec = importlib.util.spec_from_file_location("repo_tools_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_query(result: pd.DataFrame, oracle: pd.DataFrame,
                loose: tuple[str, ...] = ()) -> str | None:
    """A query result against its DuckDB oracle: order-insensitive, with
    tools/check.py's float tolerance. Columns in `loose` (rounded to 6 dp
    on both sides) may instead differ by one unit in the last place; the
    other columns must then key the rows. Returns the disagreement or
    None."""
    keep = [c for c in oracle.columns if c not in loose]
    if sorted(result.columns) != sorted(oracle.columns):
        return f"columns differ: spark={sorted(result.columns)} oracle={sorted(oracle.columns)}"
    ok, why = _check_tool().frames_equal(result[keep], oracle[keep])
    if not ok or not loose:
        return None if ok else why
    a, b = (df.sort_values(keep, kind="mergesort", ignore_index=True) for df in (result, oracle))
    for c in loose:
        off = [i for i, (x, y) in enumerate(zip(a[c], b[c])) if not _close(x, y)]
        if off:
            return (f"column {c!r}: {len(off)} values off by more than {TOL}; first at "
                    f"sorted-row {off[0]}: spark={a[c][off[0]]!r} oracle={b[c][off[0]]!r}")
    return None


def run_oracle(sf_dir: str, sql: str) -> pd.DataFrame:
    con = _check_tool().duck_con(sf_dir)
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()
