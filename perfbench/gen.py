"""Seeded input generators. Everything the engine reads comes from here.

The same seed always gives the same bytes. A generator writes only the
inputs and returns the ground truth the output checks compare against.
Nothing here imports Spark.

- `wire_files`: JSON wire lines for the posts consumer, one list per file,
  plus a manifest of every valid post.
- `documents`: the text corpus (`documents` table) with planted
  exact-duplicate and near-duplicate families.
- `embeddings`: clustered unit vectors (`embeddings` table) with planted
  near-duplicate vectors.
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from reddit_sentiment_spark_streaming_pipeline_spark.functions.sentiment import ALPHA, LEXICON

# Words with no sentiment value. None contains '/', so no reference
# pattern can match inside them.
NEUTRAL = (
    "the a data row table key value part order line group column scan "
    "customer sort agg window stream join small big vector merge filter "
    "plan cache node file disk index shard lake graph rank topic post "
    "user thread reply vote score model train eval token chunk batch "
    "query spark hash schema commit log queue edge metric trace"
).split()
NEUTRAL = [w for w in dict.fromkeys(NEUTRAL) if w not in LEXICON]
LEX_WORDS = sorted(LEXICON)

N_SUBREDDITS = 24
N_AUTHORS = 300
LANGS = ("en", "es", "de", "fr", "zh")
LANG_WEIGHTS = (0.45, 0.15, 0.15, 0.13, 0.12)

# Wire line make-up (shares of all lines in a file).
KEEPALIVE_SHARE = 0.05
MALFORMED_SHARE = 0.03
SHORT_SHARE = 0.04
# Per valid post: chance of a lexicon word per token, and of each kind
# of reference (each kind appears 0, 1 or 2 times).
LEX_TOKEN_SHARE = 0.25
USER_REF_RATE = 0.30
SUB_REF_RATE = 0.25
URL_RATE = 0.20
EPOCH_2025 = 1_735_689_600

# Corpus make-up: shares of documents that copy an earlier document.
EXACT_DUP_SHARE = 0.08
NEAR_DUP_SHARE = 0.10

EMB_DIM = 64
EMB_CLUSTERS = 12
EMB_NEAR_DUP_SHARE = 0.08


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot = sum(w)
    return [x / tot for x in w]


@dataclass
class Post:
    id: str
    file: int
    subreddit: str
    author: str
    text_length: int
    valence: float
    user_refs: int
    sub_refs: int
    urls: int
    created_utc: float

    @property
    def sentiment(self) -> float:
        return self.valence / math.sqrt(self.valence * self.valence + ALPHA)


@dataclass
class WireSet:
    files: list[list[str]]
    posts: list[Post] = field(default_factory=list)

    @property
    def n_lines(self) -> int:
        return sum(len(f) for f in self.files)


def _post_text(rng: random.Random, subs: list[str], authors: list[str]):
    """A post body: neutral and lexicon words, with /u/, /r/ and URL
    references at their stated rates. Returns the text, the valence sum
    of the lexicon words placed, in order, and the reference counts."""
    words, valence = [], 0.0
    for _ in range(rng.randint(8, 40)):
        if rng.random() < LEX_TOKEN_SHARE:
            w = rng.choice(LEX_WORDS)
            valence += LEXICON[w]
            words.append(w.upper() if rng.random() < 0.15 else w)
        else:
            words.append(rng.choice(NEUTRAL))
    counts = []
    for rate, make in (
        (USER_REF_RATE, lambda: "/u/" + rng.choice(authors)),
        (SUB_REF_RATE, lambda: "/r/" + rng.choice(subs)),
        (URL_RATE, lambda: f"https://news.example.com/item{rng.randint(1, 99999)}"),
    ):
        k = sum(rng.random() < rate for _ in range(2))
        for _ in range(k):
            words.insert(rng.randint(0, len(words)), make())
        counts.append(k)
    return " ".join(words), valence, counts


def wire_files(seed: int, n_files: int, lines_per_file: int) -> WireSet:
    """`n_files` files of JSON wire lines. created_utc rises with the
    line's global index, so each file's newest post time is unique."""
    rng = random.Random(f"wire:p:{seed}")
    subs = [f"sub{k:02d}" for k in range(N_SUBREDDITS)]
    authors = [f"user_{k}" for k in range(N_AUTHORS)]
    sub_w, auth_w = zipf_weights(N_SUBREDDITS), zipf_weights(N_AUTHORS, 1.0)
    out = WireSet(files=[])
    g = 0
    for f in range(n_files):
        lines = []
        for _ in range(lines_per_file):
            g += 1
            ts = float(EPOCH_2025 + g)
            r = rng.random()
            if r < KEEPALIVE_SHARE:
                lines.append(json.dumps({"type": "keepalive", "created_utc": ts}))
                continue
            sub = rng.choices(subs, sub_w)[0]
            author = rng.choices(authors, auth_w)[0]
            pid = f"p{seed}_{g}"
            rec = {"type": "submission", "subreddit": sub, "id": pid,
                   "text": "", "created_utc": ts, "author": author}
            if r < KEEPALIVE_SHARE + MALFORMED_SHARE:
                rec["text"] = "this line is cut off " * 2
                lines.append("{malformed " + json.dumps(rec))
                continue
            if r < KEEPALIVE_SHARE + MALFORMED_SHARE + SHORT_SHARE:
                rec["text"] = rng.choice(["", "ok", "nice post", "good one"])
                lines.append(json.dumps(rec))
                continue
            text, valence, (u, s, l) = _post_text(rng, subs, authors)
            rec["text"] = text
            lines.append(json.dumps(rec))
            out.posts.append(Post(pid, f, sub, author, len(text), valence,
                                  u, s, l, ts))
        out.files.append(lines)
    return out


def _doc_text(rng: random.Random) -> str:
    words = []
    for _ in range(rng.randint(12, 70)):
        pool = LEX_WORDS if rng.random() < LEX_TOKEN_SHARE else NEUTRAL
        words.append(rng.choice(pool))
    return " ".join(words)


def documents(seed: int, n_docs: int) -> pa.Table:
    """The `documents` table: doc_id, text, lang, source, n_chars.

    EXACT_DUP_SHARE of the docs copy an earlier doc's text exactly
    (exact-duplicate families); NEAR_DUP_SHARE copy an earlier doc with
    its last two words replaced (near-duplicate families)."""
    rng = random.Random(f"docs:{seed}")
    src_w = zipf_weights(20, 0.8)
    # exact shares, so every seed carries the same amount of duplicate work
    n_exact, n_near = round(EXACT_DUP_SHARE * n_docs), round(NEAR_DUP_SHARE * n_docs)
    picked = rng.sample(range(10, n_docs), n_exact + n_near)
    kind_of = dict.fromkeys(picked[:n_exact], "exact_dup")
    kind_of.update(dict.fromkeys(picked[n_exact:], "near_dup"))
    texts = []
    for i in range(n_docs):
        kind = kind_of.get(i, "base")
        if kind == "exact_dup":
            texts.append(texts[rng.randrange(i)])
        elif kind == "near_dup":
            words = texts[rng.randrange(i)].split(" ")
            words[-2:] = [rng.choice(NEUTRAL), rng.choice(NEUTRAL)]
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choices(LANGS, LANG_WEIGHTS)[0] for _ in range(n_docs)],
        "source": [f"src{rng.choices(range(20), src_w)[0]}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    """The `embeddings` table: vec_id, embedding (64 float32, unit norm),
    label (the cluster). Vectors scatter around EMB_CLUSTERS centroids;
    EMB_NEAR_DUP_SHARE of them are an earlier vector plus tiny noise
    (planted near-dups)."""
    rng = np.random.default_rng(seed)
    cents = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, size=n_vecs)
    vecs = cents[labels] + rng.normal(scale=0.6, size=(n_vecs, EMB_DIM))
    n_near = round(EMB_NEAR_DUP_SHARE * n_vecs)
    for i in sorted(rng.choice(np.arange(30, n_vecs), n_near, replace=False)):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(scale=0.01, size=EMB_DIM)
        labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int = 0) -> None:
    """Write documents.parquet, and embeddings.parquet if `n_vecs`, under
    `sf_dir`."""
    pq.write_table(documents(seed, n_docs), f"{sf_dir}/documents.parquet")
    if n_vecs:
        pq.write_table(embeddings(seed, n_vecs), f"{sf_dir}/embeddings.parquet")
