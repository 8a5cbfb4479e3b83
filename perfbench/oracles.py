"""Oracles that run outside the engine.

Nothing here imports the engine: tokenization, scoring, index counts,
duplicate truth and exact nearest neighbours are recomputed in plain
Python / numpy from the generator's in-memory truth, so a defect in
the engine cannot also hide in its own check.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

import numpy as np

_SPLIT = re.compile(r"[^a-z0-9]+")
_DIGITS = re.compile(r"^[0-9]+$")
_REPEAT4 = re.compile(r"(.)\1{3}")

K = 10
BM25_K1 = 1.2
BM25_B = 0.75


def tokens(text: str) -> list[str]:
    """The engine's documented token rule: lowercase, every
    non-alphanumeric run is a separator, drop empty, all-digit and
    4x-repeated-character tokens."""
    return [
        t
        for t in _SPLIT.split(text.lower())
        if t and not _DIGITS.match(t) and not _REPEAT4.search(t)
    ]


def round6(x: float) -> float:
    """Round like Spark's ``round(double, 6)``: HALF_UP on the
    shortest decimal form of the double."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


class TextIndex:
    """Inverted index of a corpus: word -> {doc_id: tf}, plus df."""

    def __init__(self, texts: dict[int, str]):
        self.postings: dict[str, dict[int, int]] = {}
        self.dl: dict[int, int] = {}
        for doc_id, text in texts.items():
            toks = tokens(text)
            if not toks:
                continue
            self.dl[doc_id] = len(toks)
            for w, tf in Counter(toks).items():
                self.postings.setdefault(w, {})[doc_id] = tf
        self.df = {w: len(p) for w, p in self.postings.items()}

    @property
    def n_postings(self) -> int:
        return sum(self.df.values())

    def reference_topk(self, query: str, k: int = K, df=None):
        """``Σ (tf/df)·(q_tf/df)`` rounded to 6 places, ties to the
        lowest doc_id. ``df`` overrides the index's own document
        frequencies (the vocabulary after a delta keeps counting
        replaced and deleted documents)."""
        df = df or self.df
        acc: dict[int, float] = {}
        for w, q_tf in sorted(Counter(tokens(query)).items()):
            if w not in self.postings or w not in df:
                continue
            d = df[w]
            for doc, tf in self.postings[w].items():
                acc[doc] = acc.get(doc, 0.0) + (tf / d) * (q_tf / d)
        return _top(acc, k)

    def bm25_topk(self, query: str, k: int = K, df=None):
        """Okapi BM25 (k1=1.2, b=0.75) with the engine's operation
        order. Document count and lengths come from the postings; the
        document frequencies from the vocabulary, which ``df``
        overrides as in :meth:`reference_topk`."""
        df = df or self.df
        n = len(self.dl)
        avgdl = sum(self.dl.values()) / n
        acc: dict[int, float] = {}
        for w, q_tf in sorted(Counter(tokens(query)).items()):
            if w not in self.postings or w not in df:
                continue
            d = df[w]
            idf = math.log((float(n) - d + 0.5) / (d + 0.5) + 1.0)
            for doc, tf in self.postings[w].items():
                frac = (tf * (BM25_K1 + 1.0)) / (
                    tf
                    + BM25_K1
                    * ((1.0 - BM25_B) + BM25_B * (self.dl[doc] / avgdl))
                )
                acc[doc] = acc.get(doc, 0.0) + idf * frac * q_tf
        return _top(acc, k)

    def useful_rows(self, query: str) -> int:
        """Postings rows a query actually needs: Σ df of its terms."""
        return sum(self.df.get(w, 0) for w in set(tokens(query)))


def _top(acc: dict[int, float], k: int) -> list[tuple[int, float]]:
    scored = [(doc, round6(s)) for doc, s in acc.items()]
    scored.sort(key=lambda r: (-r[1], r[0]))
    return scored[:k]


def overlap(got, want) -> tuple[int, int, int]:
    """(|got ∩ want| by id, |got|, |want|) for recall/precision."""
    g = {r[0] for r in got}
    w = {r[0] for r in want}
    return len(g & w), len(g), len(w)


# ------------------------------------------------------------ ingest


def ingest_expectations(base, delta, deleted):
    """Vocabulary size, Σdf and postings rows before and after the
    delta, under the engine's documented delta semantics: existing
    words keep their df and gain the delta's distinct-doc counts
    (replaced and deleted documents still count until a rebuild);
    re-ingested documents replace their postings; deleted documents
    lose theirs. Also returns the post-delta index and df map for the
    read-after-write searches."""
    before = TextIndex(base)
    d_idx = TextIndex(delta)
    df_after = dict(before.df)
    for w, d in d_idx.df.items():
        df_after[w] = df_after.get(w, 0) + d
    live = {
        i: t for i, t in base.items() if i not in delta and i not in deleted
    }
    live.update(delta)
    after = TextIndex(live)
    counts = {
        "vocab_before": len(before.df),
        "sum_df_before": before.n_postings,
        "postings_before": before.n_postings,
        "vocab_after": len(df_after),
        "sum_df_after": sum(df_after.values()),
        "postings_after": after.n_postings,
    }
    return counts, after, df_after


# ------------------------------------------------------------- dedup


def truth_pairs(clusters: list[list[int]]) -> set[tuple[int, int]]:
    return {p for c in clusters for p in combinations(sorted(c), 2)}


def group_pairs(rows) -> set[tuple[int, int]]:
    """All pairs implied by ``(doc_id, group_id)`` rows."""
    groups: dict[int, list[int]] = {}
    for doc, g in rows:
        groups.setdefault(g, []).append(doc)
    return {
        p for m in groups.values() for p in combinations(sorted(m), 2)
    }


# --------------------------------------------------------------- ann


class ExactCosine:
    """Exact cosine top-k over the whole table (query excluded)."""

    def __init__(self, ids: np.ndarray, vectors: np.ndarray):
        v = vectors.astype(np.float64)
        self.ids = ids
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        self.row = {int(i): j for j, i in enumerate(ids)}

    def topk(self, qid: int, k: int = K) -> list[int]:
        j = self.row[qid]
        sims = self.unit @ self.unit[j]
        sims[j] = -np.inf
        order = np.lexsort((self.ids, -np.round(sims, 6)))
        return [int(self.ids[i]) for i in order[:k]]
