"""Seeded input generator for the end-to-end RAG benchmark.

Every input the benchmark feeds the engine comes from here, as a pure
function of the seed: the same seed gives byte-identical parquet files,
another seed gives different ones. Nothing is read from fixture
directories at run time; the categorical value sets below were copied
from the sf0.1 fixture (documents, events) so every dashboard panel has
rows.

Planted targets ("needles"). Every question the benchmark asks has one
short single-chunk document whose text equals the question and whose
64-dim vector equals the question's vector. So the needle is the top hit
of every retrieval arm by construction:

* exact chunk arm: the hash embedder maps equal text to equal vectors
  (cosine 1.0);
* IVF+PQ arm: equal vectors, and the vectors are clustered so the
  needle's list is the question's nearest centroid;
* BM25 arm: each question carries two nonce words found in no other
  document, which dominate the score;
* contributions arm: the engine derives the feedback table from
  documents by id (sources/tables.py FEEDBACK_SQL); needle ids are the
  ones it marks approved with rating 5.0 (id % 55 in {25, 36, 47}), and
  no other document gets an id in that class, so the needle's
  contribution is both a substring match and the top-rated candidate.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so stale cache entries are not
# reused.
GEN_VERSION = 1

# sf0.1 fixture value sets.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANG_P = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
N_SOURCES = 20
VALUE_MAX = 560.0
# Events span 2024-01-01 .. 2024-01-31, which covers the engine's pinned
# NOW_TS (2024-01-25 12:00) and the windows before it.
EVENT_T0_US = 1_704_067_200_000_000
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

DIM = 64  # the persisted PQ layout's dimension (operators/pq.py DIM)
N_LISTS = 16  # coarse IVF lists; vectors are drawn around one center each
NOISE = 0.1  # per-dimension noise around the cluster center

# Needle ids: the feedback view marks id approved iff id % 5 in {0,1,2}
# and gives rating 5.0 iff id % 11 == 3.
NEEDLE_RESIDUES = frozenset({25, 36, 47})  # mod 55

# Corpus shape: the sf0.1 fixture (5k documents of 10-100 words, 100k
# events over 1.5k users), with one 64-dim vector per document instead
# of a separate embeddings table.
SIZES = {
    "base_docs": 5_000,
    "needles": 300,  # questions the read workloads may ask
    "events": 100_000,
    "users": 1_500,
    # per churn cycle
    "churn_docs": 200,
    "churn_needles": 8,
    "churn_deletes": 50,
}


def is_needle_id(doc_id: int) -> bool:
    return doc_id % 55 in NEEDLE_RESIDUES


def _ids(start: int, n_base: int, n_needle: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Consecutive ids from `start`: the needle class to needles, the
    rest to ordinary documents. Returns (base_ids, needle_ids, next_id)."""
    base, needle = [], []
    i = start
    while len(base) < n_base or len(needle) < n_needle:
        if is_needle_id(i):
            if len(needle) < n_needle:
                needle.append(i)
        elif len(base) < n_base:
            base.append(i)
        i += 1
    return np.array(base, np.int64), np.array(needle, np.int64), i


def _nonce(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct lowercase words outside VOCAB (10 letters: collisions
    between 2k draws have probability ~1e-8 and are rejected anyway)."""
    out: set[str] = set()
    words: list[str] = []
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    while len(words) < n:
        w = rng.choice(letters, 10).tobytes().decode()
        if w not in out:
            out.add(w)
            words.append(w)
    return words


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, size=n)
    vocab = np.array(VOCAB)
    return [" ".join(rng.choice(vocab, size=k)) for k in lengths]


def _questions(rng: np.random.Generator, n: int) -> list[str]:
    """Question texts: four vocabulary words and two nonce words."""
    nonce = _nonce(rng, 2 * n)
    vocab = np.array(VOCAB)
    out = []
    for i in range(n):
        words = list(rng.choice(vocab, size=4)) + nonce[2 * i : 2 * i + 2]
        rng.shuffle(words)
        out.append(" ".join(words))
    return out


def _centers(seed: int) -> np.ndarray:
    c = np.random.default_rng([seed, 99]).standard_normal((N_LISTS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _vectors(rng: np.random.Generator, centers: np.ndarray, n: int):
    labels = rng.integers(0, N_LISTS, size=n)
    v = centers[labels] + NOISE * rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def _docs_table(ids, texts, rng) -> pa.Table:
    langs = rng.choice(list(LANG_P), size=len(ids), p=list(LANG_P.values()))
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _vec_table(ids, vecs, labels) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _question_table(qids, doc_ids, texts, vecs) -> pa.Table:
    return pa.table(
        {
            "query_id": pa.array(qids, pa.int64()),
            "doc_id": pa.array(doc_ids, pa.int64()),
            "query_text": pa.array(texts),
            "query_vec": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )


def _corpus(rng, centers, n_base: int, n_needle: int, start_id: int, first_qid: int):
    """Documents, their vectors and the needles' questions for one batch
    of new ids. Needles are shuffled among ordinary documents."""
    base_ids, needle_ids, next_id = _ids(start_id, n_base, n_needle)
    q_texts = _questions(rng, n_needle)
    ids = np.concatenate([base_ids, needle_ids])
    texts = _texts(rng, n_base) + q_texts
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    texts = [texts[i] for i in order]
    vecs, labels = _vectors(rng, centers, len(ids))
    docs = _docs_table(ids, texts, rng)
    vec_t = _vec_table(ids, vecs, labels)
    pos = {int(d): i for i, d in enumerate(ids)}
    q_vecs = [vecs[pos[int(d)]] for d in needle_ids]
    qids = np.arange(first_qid, first_qid + n_needle, dtype=np.int64)
    questions = _question_table(qids, needle_ids, q_texts, q_vecs)
    return docs, vec_t, questions, next_id


def _events(rng, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, size=n)) + EVENT_T0_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)].tolist()
            ),
            "value": pa.array(np.round(rng.uniform(0, VALUE_MAX, size=n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n).tolist()]
            ),
        }
    )


def generate(seed: int, out_dir: str, sizes: dict | None = None) -> dict:
    """Write documents/vectors/questions/events parquet for `seed` into
    out_dir and return the manifest (sizes, id watermark)."""
    s = {**SIZES, **(sizes or {})}
    rng = np.random.default_rng([seed, 1])
    docs, vecs, questions, next_id = _corpus(
        rng, _centers(seed), s["base_docs"], s["needles"], 0, 0
    )
    events = _events(np.random.default_rng([seed, 2]), s["events"], s["users"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in (
        ("documents", docs),
        ("vectors", vecs),
        ("questions", questions),
        ("events", events),
    ):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "seed": seed,
        "sizes": s,
        "rows": {
            "documents": docs.num_rows,
            "vectors": vecs.num_rows,
            "questions": questions.num_rows,
            "events": events.num_rows,
        },
        "next_doc_id": next_id,
        "next_query_id": questions.num_rows,
    }


def churn_batch(seed: int, cycle: int, start_id: int, first_qid: int):
    """New documents, vectors and needle questions for churn cycle
    `cycle`, with ids from start_id. Returns (docs, vecs, questions,
    next_id) as pyarrow tables."""
    rng = np.random.default_rng([seed, 3, cycle])
    return _corpus(
        rng, _centers(seed), SIZES["churn_docs"], SIZES["churn_needles"], start_id, first_qid
    )


def cached(seed: int, cache_root: str) -> tuple[str, dict]:
    """Generate once per (seed, SIZES, version) under cache_root; reuse
    afterwards. The directory appears only once complete (rename)."""
    digest = hashlib.sha1(json.dumps(SIZES, sort_keys=True).encode()).hexdigest()[:10]
    tag = f"v{GEN_VERSION}-seed{seed}-{digest}"
    out = os.path.join(cache_root, tag)
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return out, json.load(fh)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = generate(seed, tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta
