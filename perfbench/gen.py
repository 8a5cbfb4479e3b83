"""Seeded input generator for the benchmark.

Every input a workload feeds the engine is made here from one integer
seed: the same seed gives byte-identical files. The engine receives
only the written files (parquet tables and JSON-lines shards); the
in-memory truth returned beside them (documents, injected duplicate
pairs, vectors, query streams) is what the oracles check against.

Sizes are module constants so the benchmark's BENCHMARK.json ``why``
lines and the README can state them; ``scale`` shrinks every size for
the toy runs of the benchmark's own tests.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- text: Zipf vocabulary, tens of thousands of words -------------
VOCAB_WORDS = 30_000
ZIPF_S = 1.05
DOC_LEN = (30, 90)  # tokens per delta / pruned-shard document

# --- ingest corpus: WikiExtractor JSON-lines shards with injected
# near-duplicate clusters and digit-heavy boilerplate ---------------
INGEST_SHARDS_AA = 8  # matched by the glob
INGEST_SHARDS_AB = 4  # present but pruned by the glob
INGEST_DOCS_PER_SHARD = 110  # distinct source documents per shard
DUP_CLUSTERS = 90  # AA sources that get near-duplicate copies
DUP_CLUSTER_SIZE = (2, 4)  # documents per cluster, incl. the source
DUP_EDIT_RATE = 0.02  # share of tokens substituted in each copy
LOW_QUALITY = 45  # boilerplate documents the quality filter drops
DELTA_NEW = 100  # new documents in the delta batch
DELTA_CHANGED = 30  # re-ingested (existing id, new text)
DELTA_DELETED = 30  # deleted base documents

# --- read-after-write query stream over the ingested corpus --------
HEAD_RANKS = 50  # "head" terms: the longest postings lists
QUERY_POOL = 400  # distinct single queries
QUERY_STREAM = 400  # single-query stream length (a prefix is used)
BATCH_SIZE = 16  # queries per bm25_search_batch probe set
BATCH_STREAM = 40

# --- ann: clustered Gaussian embeddings ----------------------------
ANN_VECS = 6_000
ANN_DIM = 32
ANN_CLUSTERS = 24
ANN_SPREAD = 0.9  # per-coordinate noise around a unit-ish centre
ANN_QUERY_STREAM = 1_200  # unique query ids, no repeats
ANN_BATCH_SIZE = 16


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per input so resizing one input never
    changes another."""
    return np.random.default_rng([seed, stream])


def _scaled(n: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(n * scale)))


# ------------------------------------------------------------ words

_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"


def make_vocabulary(seed: int, n: int) -> list[str]:
    """``n`` distinct lowercase words, shortest first (rank 0 is the
    most frequent under the Zipf draw). Consonant-vowel syllables
    never repeat a character, so the tokenizer keeps every word."""
    rng = _rng(seed, 1)
    syl = [c + v for c in _CONS for v in _VOWS]
    syl = [syl[i] for i in rng.permutation(len(syl))]
    ns = len(syl)
    words = []
    i = 0
    length = 2
    while len(words) < n:
        if i >= ns**length:
            i, length = 0, length + 1
            continue
        digits, x = [], i
        for _ in range(length):
            digits.append(syl[x % ns])
            x //= ns
        words.append("".join(digits))
        i += 1
    return words


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _render(tokens: list[str], rng: np.random.Generator) -> str:
    """Tokens -> document text with the noise the tokenizer strips:
    capitals, punctuation, digit-only and 4x-repeat tokens."""
    n = len(tokens)
    cap = rng.random(n) < 0.03
    r = rng.random(n)
    nums = rng.integers(1, 3000, size=n)
    out = []
    for j, t in enumerate(tokens):
        out.append(t.capitalize() if j == 0 or cap[j] else t)
        if r[j] < 0.06:
            out[-1] += ","
        elif r[j] < 0.10:
            out[-1] += "."
        elif r[j] < 0.12:
            out.append(str(nums[j]))
        elif r[j] < 0.13:
            out.append("zzzz" + t)
    return " ".join(out)


def _draw_docs(rng, words, probs, n_docs, doc_len):
    lens = rng.integers(doc_len[0], doc_len[1] + 1, size=n_docs)
    ranks = rng.choice(len(words), size=int(lens.sum()), p=probs)
    docs, pos = [], 0
    for ln in lens:
        docs.append([words[r] for r in ranks[pos : pos + ln]])
        pos += ln
    return docs


def _write_jsonl(path: str, ids, texts) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for i, t in zip(ids, texts):
            f.write(
                json.dumps(
                    {
                        "id": str(i),
                        "url": f"https://wiki.example/{i}",
                        "title": f"Doc {i}",
                        "text": t,
                    }
                )
                + "\n"
            )


# ---------------------------------------------------------- queries


def _pick_queries(rng, n, df_order, head_n):
    """``n`` queries of 1-5 terms, each term a head word (long
    postings lists) or a tail word (short lists) that occurs in the
    corpus."""
    head = df_order[:head_n]
    tail = df_order[len(df_order) // 4 :]
    qs = []
    for _ in range(n):
        nt = int(rng.integers(1, 6))
        terms = [
            head[rng.integers(len(head))]
            if rng.random() < 0.5
            else tail[rng.integers(len(tail))]
            for _ in range(nt)
        ]
        qs.append(" ".join(terms))
    return qs


def _query_stream(rng, docs, scale):
    """A Zipf-weighted single-query stream over a pool of distinct
    queries (popular queries repeat), alternating reference and BM25
    scoring, plus probe sets for the batch path. Terms come from the
    words of ``docs``: head terms by document frequency, or tail terms."""
    present: dict[str, int] = {}
    for d in docs:
        for w in set(d):
            present[w] = present.get(w, 0) + 1
    df_order = sorted(present, key=lambda w: (-present[w], w))
    pool = _pick_queries(
        rng, _scaled(QUERY_POOL, scale, 20), df_order, HEAD_RANKS
    )
    pick = rng.choice(
        len(pool), size=_scaled(QUERY_STREAM, scale, 60),
        p=zipf_probs(len(pool), 1.0),
    )
    singles = [
        ("reference" if j % 2 == 0 else "bm25", pool[p])
        for j, p in enumerate(pick)
    ]
    batches = []
    for _ in range(BATCH_STREAM):
        sel = rng.choice(len(pool), size=BATCH_SIZE, replace=False)
        batches.append([pool[j] for j in sel])
    return singles, batches


# ----------------------------------------------------------- ingest


@dataclass
class IngestInputs:
    corpus_dir: str  # AA_* and AB_* JSON-lines shards
    glob: str
    delta_path: str  # JSON-lines delta batch
    base: dict[int, str]  # docs the glob selects
    clusters: list[list[int]]  # injected near-dup clusters (doc ids)
    junk: set[int]  # boilerplate the quality filter must drop
    delta: dict[int, str]  # new + changed docs
    deleted: list[int]
    # read-after-write query stream: (mode, query) singles, batches
    singles: list[tuple[str, str]]
    batches: list[list[str]]


def _near_dups(rng, words, docs, n_clusters):
    """Append near-duplicate copies of ``n_clusters`` source docs:
    each copy substitutes ``DUP_EDIT_RATE`` of its tokens. Returns
    the clusters as positions in ``docs``."""
    clusters = []
    n_src = len(docs)
    for src in rng.choice(n_src, size=n_clusters, replace=False):
        members = [int(src)]
        size = int(rng.integers(DUP_CLUSTER_SIZE[0], DUP_CLUSTER_SIZE[1] + 1))
        for _ in range(size - 1):
            copy = list(docs[src])
            n_edit = max(1, int(round(len(copy) * DUP_EDIT_RATE)))
            for k in rng.choice(len(copy), size=n_edit, replace=False):
                copy[k] = words[int(rng.integers(len(words)))]
            members.append(len(docs))
            docs.append(copy)
        clusters.append(members)
    return clusters


def _boilerplate(rng, words, n):
    """Digit-heavy boilerplate: one word template filled with random
    numbers. Numbers are not tokens, so every copy shingles alike;
    only the quality filter keeps them out of one giant group."""
    template = [words[int(r)] for r in rng.integers(len(words), size=24)]
    out = []
    for _ in range(n):
        parts = []
        for w in template:
            parts.append(w)
            parts.extend(str(x) for x in rng.integers(10**5, size=3))
        out.append(" ".join(parts))
    return out


def gen_ingest(seed: int, out_dir: str, scale: float = 1.0) -> IngestInputs:
    rng = _rng(seed, 3)
    n_vocab = _scaled(VOCAB_WORDS, scale, 200)
    words = make_vocabulary(seed, n_vocab)
    probs = zipf_probs(n_vocab)
    per = _scaled(INGEST_DOCS_PER_SHARD, scale, 10)
    n_aa = per * INGEST_SHARDS_AA
    docs = _draw_docs(rng, words, probs, n_aa, (60, 120))
    clusters = _near_dups(
        rng, words, docs, _scaled(DUP_CLUSTERS, scale, 2)
    )
    texts = [_render(d, rng) for d in docs]
    n_junk = _scaled(LOW_QUALITY, scale)
    texts += _boilerplate(rng, words, n_junk)
    # Shuffled ids and shard placement: cluster members are neither
    # adjacent in id order nor in one shard.
    ids = [int(i) for i in 1 + rng.permutation(len(texts))]
    base = dict(zip(ids, texts))
    corpus_dir = os.path.join(out_dir, "ingest_corpus")
    os.makedirs(corpus_dir)
    shard_of = rng.integers(INGEST_SHARDS_AA, size=len(texts))
    for s in range(INGEST_SHARDS_AA):
        sel = [j for j in range(len(texts)) if shard_of[j] == s]
        _write_jsonl(
            os.path.join(corpus_dir, f"AA_{s:02d}.json"),
            [ids[j] for j in sel], [texts[j] for j in sel],
        )
    next_id = len(texts) + 1
    for s in range(INGEST_SHARDS_AB):
        ab = _draw_docs(rng, words, probs, per, DOC_LEN)
        _write_jsonl(
            os.path.join(corpus_dir, f"AB_{s:02d}.json"),
            list(range(next_id, next_id + per)),
            [_render(d, rng) for d in ab],
        )
        next_id += per
    # Changed and deleted documents come from sources outside every
    # cluster, so they are indexed whatever the dedup keeps.
    in_cluster = {m for c in clusters for m in c}
    plain = [ids[j] for j in rng.permutation(n_aa) if j not in in_cluster]
    n_changed = _scaled(DELTA_CHANGED, scale)
    n_deleted = _scaled(DELTA_DELETED, scale)
    changed = plain[:n_changed]
    deleted = sorted(plain[n_changed : n_changed + n_deleted])
    new_ids = list(range(next_id, next_id + _scaled(DELTA_NEW, scale)))
    # Delta text leans on the tail of the vocabulary so it adds words
    # the base never saw (the update_vocabulary append path).
    d_ids = changed + new_ids
    d_docs = _draw_docs(
        rng, words, zipf_probs(n_vocab, 0.6), len(d_ids), DOC_LEN
    )
    d_texts = [_render(d, rng) for d in d_docs]
    delta_path = os.path.join(out_dir, "delta.json")
    _write_jsonl(delta_path, d_ids, d_texts)
    singles, batches = _query_stream(_rng(seed, 4), docs + d_docs, scale)
    return IngestInputs(
        corpus_dir=corpus_dir,
        glob="AA_*",
        delta_path=delta_path,
        base=base,
        clusters=[sorted(ids[m] for m in c) for c in clusters],
        junk=set(ids[len(docs) :]),
        delta=dict(zip(d_ids, d_texts)),
        deleted=deleted,
        singles=singles,
        batches=batches,
    )


# -------------------------------------------------------------- ann


@dataclass
class AnnInputs:
    table_path: str  # parquet (vec_id, embedding array<float>)
    ids: np.ndarray
    vectors: np.ndarray  # float32, row j is vec_id ids[j]
    singles: list[int]
    batches: list[list[int]]


def gen_ann(seed: int, out_dir: str, scale: float = 1.0) -> AnnInputs:
    rng = _rng(seed, 5)
    n = _scaled(ANN_VECS, scale, 200)
    centres = rng.normal(size=(ANN_CLUSTERS, ANN_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(ANN_CLUSTERS, size=n)
    vecs = (
        centres[labels] + rng.normal(scale=ANN_SPREAD / np.sqrt(ANN_DIM),
                                     size=(n, ANN_DIM))
    ).astype(np.float32)
    ids = (1 + rng.permutation(n * 2)[:n]).astype(np.int64)
    path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        ),
        path,
    )
    # Unique ids, no repeats anywhere in the stream: a result cache
    # has nothing to hit on this workload.
    n_single = min(_scaled(ANN_QUERY_STREAM, scale, 20), n // 2)
    order = rng.permutation(n)
    singles = [int(ids[j]) for j in order[:n_single]]
    rest = [int(ids[j]) for j in order[n_single:]]
    batches = [
        rest[j : j + ANN_BATCH_SIZE]
        for j in range(0, len(rest) - ANN_BATCH_SIZE + 1, ANN_BATCH_SIZE)
    ]
    return AnnInputs(path, ids, vecs, singles, batches)
