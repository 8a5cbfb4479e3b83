"""The benchmark workloads: ``ingest_search`` and ``ann``.

Each workload drives the engine's public functions in a closed loop
with one client: the next operation starts when the previous one has
returned its collected result. A workload

- ``generate``s its inputs from the seed (benchmark work, untimed),
- ``open``s them on each set-up repetition's fresh session,
- ``prepare``s once, on the session the timed phase uses: a warm-up,
  the timed build of the index it serves from, and a warm-up of its
  queries on that index,
- ``run``s the timed phase, keeping every result in memory,
- ``verify``s the kept results against the oracles afterwards, so the
  checks cost no time inside the timed phase, and
- under tracing, ``probe``s the layers it only reaches through
  composite calls, once, after the timed phase.

End-to-end metrics (every workload reports every one):

``op_p50_ms``
    median latency of one single query.
``rate_per_s``
    queries per second through the batch path (median over batches).
``build_items_per_s``
    items per second through the workload's index build.
``recall`` / ``precision``
    quality of the workload's approximate operator against the oracle.

What each means per workload is in ``METRICS`` and the README.
"""

from __future__ import annotations

import os
import statistics
import time

import gen
import oracles
from oracles import K
from spans import NullTracer, attr_sum, layer_metrics, p50_ms, scan_rows

from bigdata_elephant_spark.functions.text import tokenize
from bigdata_elephant_spark.operators import dedup as dd
from bigdata_elephant_spark.operators import index as ix
from bigdata_elephant_spark.operators import search as sr
from bigdata_elephant_spark.operators import similarity as sim
from bigdata_elephant_spark.operators import textstats as ts
from bigdata_elephant_spark.operators import vocab as vc
from bigdata_elephant_spark.session import release_caches
from bigdata_elephant_spark.sources.corpus import read_corpus
from bigdata_elephant_spark.sources.sinks import write_table

from pyspark.sql import functions as F

# One batch operation after every BATCH_EVERY - 1 single operations
# (search; ann, whose single queries are cheaper, batches more often).
BATCH_EVERY = 4
ANN_BATCH_EVERY = 3
# untimed batches (each after BATCH_EVERY - 1 singles) on a small
# index before ingest_search's timed write path
SEARCH_WARM_BATCHES = 2
# Every run makes at least this many single queries and batches.
MIN_SINGLES = 3
MIN_BATCHES = 2
# untimed batches (each after ANN_BATCH_EVERY - 1 singles) on the
# served index before the ann phase
ANN_WARM_BATCHES = 3
ANN_WARM_BUILDS = 2
ANN_BUILDS = 2
IVF_CELLS = 16
IVF_PROBE = 4
DEDUP_MIN_SIM = 0.5

# The name each generic metric carries in a workload's report line.
METRICS = {
    "ingest_search": {
        "op_p50_ms": "search_p50_ms",
        "rate_per_s": "search_batch_qps",
        "build_items_per_s": "ingest_docs_per_s",
        "recall": "dedup_recall",
        "precision": "dedup_precision",
    },
    "ann": {
        "op_p50_ms": "ann_p50_ms",
        "rate_per_s": "ann_batch_qps",
        "build_items_per_s": "ann_build_vecs_per_s",
        "recall": "ann_recall_at_10",
        "precision": "ann_precision_at_10",
    },
}


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def batch_rate(batches) -> float:
    """Median over the batches of queries per second; ``batches``
    holds ``(queries, (result, seconds) or None)``."""
    return median([len(q) / r[1] for q, r in batches if r])


def tail(xs) -> tuple[int | None, float | None]:
    """Highest whole percentile with at least ten samples above it,
    and its value; ``(None, None)`` below twenty samples."""
    n = len(xs)
    if n < 20:
        return None, None
    pct = int(100 * (n - 10) / n)
    return pct, sorted(xs)[max(0, -(-pct * n // 100) - 1)]


class Workload:
    name = ""

    def __init__(self, seed: int, work_dir: str, scale: float):
        self.seed = seed
        self.dir = work_dir
        self.scale = scale
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.hits = self.got = self.want = 0

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(why)

    def attempt(self, fn, *args):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # one failed op must not end the run
            self.fail(f"{fn.__name__}: {type(e).__name__}: {e}"[:300])
            return None

    def score(self, got, want) -> bool:
        h, g, w = oracles.overlap(got, want)
        self.hits, self.got, self.want = (
            self.hits + h, self.got + g, self.want + w
        )
        return list(got) == list(want)

    def quality(self) -> tuple[float, float]:
        return (
            self.hits / self.want if self.want else 0.0,
            self.hits / self.got if self.got else 0.0,
        )

    def probe(self, spark, tr) -> None:
        pass

    def layer_extras(self, spans) -> dict:
        return {}


# ----------------------------------------------------- ingest_search


class IngestSearch(Workload):
    """Write, then read what was written: curate (quality filter +
    MinHash dedup) and index JSON shards, apply a delta batch, then
    serve a query stream from the index the delta left."""

    name = "ingest_search"

    def generate(self):
        self.inp = gen.gen_ingest(self.seed, self.dir, self.scale)
        self.truth = oracles.truth_pairs(self.inp.clusters)
        self.out = os.path.join(self.dir, "index")
        self.cycle = None  # (groups, ingest_s, dedup_s, delta_s)
        self.expected = None
        self.singles, self.batches = [], []

    def open(self, spark):
        read_corpus(spark, self.inp.delta_path).count()

    def prepare(self, spark, tr):
        # Warm-up on the delta's documents: curate, index and write
        # them, then query them in the timed phase's pattern. The
        # first queries on a session run slower for a dozen calls.
        d = read_corpus(spark, self.inp.delta_path).limit(100)
        self._curate(spark, NullTracer(), d)
        warm = os.path.join(self.dir, "warm")
        write_table(vc.build_vocabulary(d), f"{warm}/vocab")
        self.vocab = spark.read.parquet(f"{warm}/vocab")
        write_table(ix.build_index(d, self.vocab), f"{warm}/postings")
        self.postings = spark.read.parquet(f"{warm}/postings")
        for j in range(SEARCH_WARM_BATCHES * BATCH_EVERY):
            if j % BATCH_EVERY == BATCH_EVERY - 1:
                self._batch(spark, NullTracer(), self.inp.batches[0])
            else:
                self._single(spark, NullTracer(), *self.inp.singles[j % 2])
        # the timed write path: one ingest cycle, then the delta
        with tr.op():
            built = self.attempt(self._ingest, spark, tr, self.out)
        if built is None:
            return
        with tr.op():
            delta_s = self.attempt(self._delta, spark, tr, self.out)
        if delta_s is None:
            return
        self.cycle = (*built, delta_s)
        self.vocab = spark.read.parquet(f"{self.out}/vocab2")
        self.postings = spark.read.parquet(f"{self.out}/postings2")
        # one query per scorer on the served index; the timed stream
        # starts after these two and never asks batch 0
        self._single(spark, NullTracer(), *self.inp.singles[0])
        self._single(spark, NullTracer(), *self.inp.singles[1])

    def _good(self, corpus, tr):
        with tr.span("operators.textstats.stats.plan"):
            st = ts.text_stats(corpus)
        keep = st.filter(
            (F.col("n_tokens") >= 20) & (F.col("digit_ratio") < 0.2)
        ).select("doc_id")
        return corpus.join(keep, "doc_id", "left_semi")

    def _curate(self, spark, tr, corpus):
        """Quality filter + MinHash/LSH dedup -> ``(good, groups)``
        where ``groups`` are the ``(doc_id, group_id)`` rows."""
        good = self._good(corpus, tr)
        with tr.span("operators.dedup.minhash"):
            sigs = dd.minhash_signatures(good).persist()
            sigs.count()
        try:
            with tr.span("operators.dedup.groups"):
                with tr.span("operators.dedup.lsh_pairs.plan"):
                    pairs = dd.lsh_candidate_pairs(sigs)
                rows = dd.duplicate_groups(
                    pairs.filter(F.col("est_sim") >= DEDUP_MIN_SIM)
                ).collect()
        finally:
            release_caches()
            sigs.unpersist()
        return good, [(r["doc_id"], r["group_id"]) for r in rows]

    def _ingest(self, spark, tr, out):
        t0 = now()
        with tr.span("sources.corpus.read"):
            corpus = read_corpus(spark, self.inp.corpus_dir, glob=self.inp.glob)
        good, groups = self._curate(spark, tr, corpus)
        t1 = now()
        drop = spark.createDataFrame(
            [(d,) for d, g in groups if d != g], "doc_id long"
        )
        docs = good.join(F.broadcast(drop), "doc_id", "left_anti")
        with tr.span("operators.vocab.build"):
            vocab = vc.build_vocabulary(docs)
            with tr.span("sources.sinks.write"):
                write_table(vocab, f"{out}/vocab")
        vocab = spark.read.parquet(f"{out}/vocab")
        with tr.span("operators.index.build"):
            postings = ix.build_index(docs, vocab)
            with tr.span("sources.sinks.write"):
                write_table(postings, f"{out}/postings")
        with tr.span("operators.index.parse"):
            meta = ix.parse_documents(docs)
            with tr.span("sources.sinks.write"):
                write_table(meta, f"{out}/doc_meta")
        t2 = now()
        return groups, t2 - t0, t1 - t0

    def _delta(self, spark, tr, out):
        t0 = now()
        with tr.span("sources.corpus.read"):
            delta = read_corpus(spark, self.inp.delta_path)
        vocab = spark.read.parquet(f"{out}/vocab")
        with tr.span("operators.vocab.update"):
            v2 = vc.update_vocabulary(vocab, delta)
            with tr.span("sources.sinks.write"):
                write_table(v2, f"{out}/vocab2")
        v2 = spark.read.parquet(f"{out}/vocab2")
        postings = spark.read.parquet(f"{out}/postings")
        with tr.span("operators.index.update"):
            p2 = ix.delete_docs(
                ix.reingest_docs(delta, v2, postings), self.inp.deleted
            )
            with tr.span("sources.sinks.write"):
                write_table(p2, f"{out}/postings2")
        return now() - t0

    def _single(self, spark, tr, mode, q):
        t0 = now()
        with tr.op(), tr.span("operators.search.query", mode=mode):
            with tr.span("operators.search.plan"):
                if mode == "reference":
                    df = sr.search(spark, q, self.vocab, self.postings, k=K)
                else:
                    df = sr.bm25_search(
                        spark, q, self.vocab, self.postings, k=K
                    )
            with tr.span("operators.search.exec"):
                rows = df.collect()
        ms = (now() - t0) * 1e3
        if tr.enabled:
            tr.note(
                "operators.search.scan",
                rows_read=scan_rows(df, "postings2"),
                query=q,
            )
        return rows, ms

    def _batch(self, spark, tr, qs):
        t0 = now()
        with tr.op(), tr.span("operators.search.batch"):
            rows = sr.bm25_search_batch(
                spark, dict(enumerate(qs)), self.vocab, self.postings, k=K
            ).collect()
        return rows, now() - t0

    def run(self, spark, seconds, tr):
        if self.cycle is None:
            return
        end = now() + seconds
        j = si = bi = 0
        while now() < end or len(self.singles) < MIN_SINGLES or not self.batches:
            if j % BATCH_EVERY == BATCH_EVERY - 1:
                qs = self.inp.batches[1 + bi % (len(self.inp.batches) - 1)]
                bi += 1
                r = self.attempt(self._batch, spark, tr, qs)
                self.batches.append((qs, r))
            else:
                mode, q = self.inp.singles[2 + si % (len(self.inp.singles) - 2)]
                si += 1
                r = self.attempt(self._single, spark, tr, mode, q)
                self.singles.append((mode, q, r))
            j += 1

    def measured_counts(self, spark, out) -> dict:
        def stats(vocab, postings):
            v = spark.read.parquet(f"{out}/{vocab}").agg(
                F.count("*"), F.sum("df"), F.max("word_id")
            )
            p = spark.read.parquet(f"{out}/{postings}").agg(F.count("*"))
            return v.crossJoin(p).first()

        v, v2 = stats("vocab", "postings"), stats("vocab2", "postings2")
        return {
            "vocab_before": v[0],
            "sum_df_before": v[1],
            "postings_before": v[3],
            "vocab_after": v2[0],
            "sum_df_after": v2[1],
            "postings_after": v2[3],
            "dense_ids": v[2] == v[0] - 1 and v2[2] == v2[0] - 1,
        }

    def check_curation(self, groups) -> set[int]:
        """Check one dedup result; return the ids it keeps."""
        members: dict[int, list[int]] = {}
        for doc, g in groups:
            members.setdefault(g, []).append(doc)
        if any(g != min(m) for g, m in members.items()):
            self.fail("dedup: a group id is not its smallest member")
        if any(doc in self.inp.junk for doc, _ in groups):
            self.fail("dedup: a low-quality document passed the filter")
        drop = {d for d, g in groups if d != g}
        return set(self.inp.base) - self.inp.junk - drop

    def check_serving(self, after, df_after) -> None:
        """Every kept search result against the post-delta oracle:
        top-10 ids and scores exactly, in order."""
        for mode, q, r in self.singles:
            if r is None:
                continue
            got = [(x["doc_id"], x["score"]) for x in r[0]]
            if mode == "reference":
                want = after.reference_topk(q, df=df_after)
            else:
                want = after.bm25_topk(q, df=df_after)
            if got != want:
                self.fail(f"{mode} {q!r}: top-{K} differs from the oracle")
        for qs, r in self.batches:
            if r is None:
                continue
            by_q: dict[int, list] = {i: [] for i in range(len(qs))}
            for x in sorted(r[0], key=lambda x: (x["query_id"], x["rank"])):
                by_q[x["query_id"]].append((x["doc_id"], x["score"]))
            bad = [
                i for i, q in enumerate(qs)
                if by_q[i] != after.bm25_topk(q, df=df_after)
            ]
            if bad:
                self.fail(f"batch: {len(bad)} queries differ from the oracle")

    def verify(self, spark):
        if self.cycle is None:
            return
        groups = sorted(self.cycle[0])
        kept = self.check_curation(groups)
        pred = oracles.group_pairs(groups)
        self.hits = len(pred & self.truth)
        self.got, self.want = len(pred), len(self.truth)
        self.expected = oracles.ingest_expectations(
            {i: self.inp.base[i] for i in kept},
            self.inp.delta,
            set(self.inp.deleted),
        )
        counts, after, df_after = self.expected
        got = self.measured_counts(spark, self.out)
        want = dict(counts, dense_ids=True)
        if got != want:
            diff = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
            self.fail(f"ingest counts differ from the oracle: {diff}")
        self.check_serving(after, df_after)

    def metrics(self):
        n_base = len(self.inp.base)
        n_delta = len(self.inp.delta) + len(self.inp.deleted)
        lat = [r[1] for _, _, r in self.singles if r]
        by_mode = {
            m: median([r[1] for mode, _, r in self.singles if r and mode == m])
            for m in ("reference", "bm25")
        }
        recall, precision = self.quality()
        _, ingest_s, dedup_s, delta_s = self.cycle or (None, 0, 0, 0)
        seen, repeats = set(), 0
        for _, q, _ in self.singles:
            repeats += q in seen
            seen.add(q)
        pct, tail_ms = tail(lat)
        e2e = {
            # the two scorers' latencies differ by ~1.5x; the median of
            # the mixed stream would fall in the gap between them
            "op_p50_ms": statistics.mean(by_mode.values()),
            "rate_per_s": batch_rate(self.batches),
            "build_items_per_s": n_base / ingest_s if ingest_s else 0.0,
            "recall": recall,
            "precision": precision,
        }
        info = {
            "single_samples": len(lat),
            "reference_p50_ms": by_mode["reference"],
            "bm25_p50_ms": by_mode["bm25"],
            "batch_samples": len(self.batches),
            "tail_percentile": pct,
            "tail_ms": tail_ms,
            "repeat_share": repeats / len(self.singles) if self.singles else 0,
            "base_docs": n_base,
            "dedup_docs_per_s": n_base / dedup_s if dedup_s else None,
            "delta_docs_per_s": n_delta / delta_s if delta_s else None,
            "truth_pairs": len(self.truth),
            "clusters": len(self.inp.clusters),
            "edit_rate": gen.DUP_EDIT_RATE,
            "delta_docs": n_delta,
            **(self.expected[0] if self.expected else {}),
        }
        return e2e, info

    def probe(self, spark, tr):
        corpus = read_corpus(spark, self.inp.corpus_dir, glob=self.inp.glob)
        with tr.span("functions.text.tokenize") as s:
            s.attrs["tokens"] = tokenize(corpus).count()
        with tr.span("operators.textstats.stats"):
            ts.text_stats(corpus).count()
        sigs = dd.minhash_signatures(self._good(corpus, tr)).persist()
        sigs.count()
        try:
            with tr.span("operators.dedup.lsh_pairs") as s:
                pairs = dd.lsh_candidate_pairs(sigs).collect()
            cand = {(r["doc_a"], r["doc_b"]) for r in pairs}
            s.attrs["candidate_pairs"] = len(cand)
            s.attrs["true_pairs"] = len(cand & self.truth)
        finally:
            release_caches()
            sigs.unpersist()

    def layer_extras(self, spans):
        cand = attr_sum(spans, "operators.dedup.lsh_pairs", "candidate_pairs")
        true = attr_sum(spans, "operators.dedup.lsh_pairs", "true_pairs")
        groups = [s for s in spans if s.name == "operators.dedup.groups"]
        jobs = layer_metrics(spans, ["operators.dedup.groups"])
        counts = self.expected[0] if self.expected else {}
        scans = [s for s in spans if s.name == "operators.search.scan"]
        read = attr_sum(spans, "operators.search.scan", "rows_read")
        useful = (
            sum(self.expected[1].useful_rows(s.attrs["query"]) for s in scans)
            if self.expected else 0
        )
        return {
            "functions.text.tokens": attr_sum(
                spans, "functions.text.tokenize", "tokens"
            ),
            "operators.vocab.words": float(counts.get("vocab_before", 0)),
            "operators.index.postings_rows": float(
                counts.get("postings_before", 0)
            ),
            "operators.search.postings_rows_read": (
                read / len(scans) if scans else 0.0
            ),
            "operators.search.rows_read_per_hit": (
                read / useful if useful else 0.0
            ),
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.true_pair_frac": true / cand if cand else 0.0,
            "operators.dedup.groups.jobs": (
                jobs["operators.dedup.groups.jobs"] / len(groups)
                if groups else 0.0
            ),
        }


# --------------------------------------------------------------- ann


class Ann(Workload):
    name = "ann"

    def generate(self):
        self.inp = gen.gen_ann(self.seed, self.dir, self.scale)
        self.exact = oracles.ExactCosine(self.inp.ids, self.inp.vectors)
        self.builds, self.singles, self.batches = [], [], []

    def open(self, spark):
        spark.read.parquet(self.inp.table_path).count()

    def prepare(self, spark, tr):
        self.emb = spark.read.parquet(self.inp.table_path)
        # Builds, each into a fresh directory; the phase serves from
        # the last one. The first ANN_WARM_BUILDS are untimed: builds
        # keep getting faster for the first few on a session.
        for j in range(ANN_WARM_BUILDS + ANN_BUILDS):
            self.index = os.path.join(self.dir, f"ivf{j}")
            if j < ANN_WARM_BUILDS:
                sim.build_ivf_index(self.emb, self.index, n_cells=IVF_CELLS)
                continue
            self.builds.append(self.attempt(self._build, spark, tr))
            if self.builds[-1] is None:
                return
        # Warm-up in the phase's own pattern, with ids the timed stream
        # never asks (the last batches): the first queries on a
        # session run slower for several calls.
        for qids in self.inp.batches[-ANN_WARM_BATCHES:]:
            for qid in qids[: ANN_BATCH_EVERY - 1]:
                self._single(spark, NullTracer(), qid)
            self._batch(spark, NullTracer(), qids)

    def _build(self, spark, tr):
        t0 = now()
        with tr.op(), tr.span("operators.similarity.build"):
            sim.build_ivf_index(self.emb, self.index, n_cells=IVF_CELLS)
        return now() - t0

    def _single(self, spark, tr, qid):
        t0 = now()
        with tr.op(), tr.span("operators.similarity.query"):
            with tr.span("operators.similarity.query_plan"):
                df = sim.ivf_topk_indexed(
                    spark, self.index, qid, n_probe=IVF_PROBE, k=K,
                    source=self.emb,
                )
            with tr.span("operators.similarity.query_exec"):
                rows = df.collect()
        ms = (now() - t0) * 1e3
        if tr.enabled:
            tr.note(
                "operators.similarity.scan",
                candidates=scan_rows(df, os.path.join(self.index, "vectors")),
            )
        return [(r["vec_id"], r["cos_sim"]) for r in rows], ms

    def _batch(self, spark, tr, qids):
        t0 = now()
        with tr.op(), tr.span("operators.similarity.batch"):
            rows = sim.ivf_topk_batch_indexed(
                spark, self.index, qids, n_probe=IVF_PROBE, k=K,
                source=self.emb,
            ).collect()
        by_q: dict[int, list] = {q: [] for q in qids}
        for r in rows:
            by_q[r["q_id"]].append((r["vec_id"], r["cos_sim"]))
        for q in by_q:
            by_q[q].sort(key=lambda t: (-t[1], t[0]))
        return by_q, now() - t0

    def run(self, spark, seconds, tr):
        if None in self.builds:
            return
        end = now() + seconds
        j = 0
        while (
            now() < end
            or len(self.singles) < MIN_SINGLES
            or len(self.batches) < MIN_BATCHES
        ):
            if j % ANN_BATCH_EVERY == ANN_BATCH_EVERY - 1:
                qids = self.inp.batches[
                    len(self.batches)
                    % (len(self.inp.batches) - ANN_WARM_BATCHES)
                ]
                self.batches.append((qids, self.attempt(self._batch, spark, tr, qids)))
            else:
                qid = self.inp.singles[len(self.singles) % len(self.inp.singles)]
                self.singles.append((qid, self.attempt(self._single, spark, tr, qid)))
            j += 1

    def verify(self, spark):
        # Recall over a fixed query set (the singles and batches every
        # run makes), so it repeats exactly for a seed.
        for qid, r in self.singles[:MIN_SINGLES]:
            if r is not None:
                self.score([x[0] for x in r[0]], self.exact.topk(qid))
        for qids, r in self.batches[:MIN_BATCHES]:
            if r is not None:
                for q in qids:
                    self.score([x[0] for x in r[0][q]], self.exact.topk(q))
        if not self.batches or self.batches[0][1] is None:
            return
        # Batch answers must equal single-query answers: re-ask the
        # first batch's first two ids alone (untimed).
        qids, r = self.batches[0]
        for q in qids[:2]:
            single = sim.ivf_topk_indexed(
                spark, self.index, q, n_probe=IVF_PROBE, k=K,
                source=self.emb,
            ).collect()
            if r[0][q] != [(x["vec_id"], x["cos_sim"]) for x in single]:
                self.fail(f"ann batch differs from single query {q}")

    def score(self, got_ids, want_ids):
        return super().score([(i,) for i in got_ids], [(i,) for i in want_ids])

    def metrics(self):
        lat = [r[1] for _, r in self.singles if r]
        n = len(self.inp.ids)
        recall, precision = self.quality()
        pct, tail_ms = tail(lat)
        e2e = {
            "op_p50_ms": median(lat),
            "rate_per_s": batch_rate(self.batches),
            "build_items_per_s": median([n / b for b in self.builds if b]),
            "recall": recall,
            "precision": precision,
        }
        info = {
            "single_samples": len(lat),
            "batch_samples": len(self.batches),
            "build_s": median(self.builds),
            "tail_percentile": pct,
            "tail_ms": tail_ms,
            "vectors": n,
            "dim": gen.ANN_DIM,
            "cells": IVF_CELLS,
            "probe": IVF_PROBE,
        }
        return e2e, info

    def probe(self, spark, tr):
        with tr.span("operators.similarity.centroids"):
            cents = sim.ivf_centroids(self.emb, IVF_CELLS).collect()
        cdf = spark.createDataFrame(cents)
        with tr.span("operators.similarity.assign"):
            sim.ivf_assign(self.emb, cdf).count()

    def layer_extras(self, spans):
        n = sum(1 for s in spans if s.name == "operators.similarity.scan")
        cand = attr_sum(spans, "operators.similarity.scan", "candidates")
        per_q = cand / n if n else 0.0
        return {
            "operators.similarity.candidates_per_query": per_q,
            "operators.similarity.probe_fraction": per_q / len(self.inp.ids),
        }


WORKLOADS = {w.name: w for w in (IngestSearch, Ann)}


def named_layer_metrics(spans) -> dict[str, float]:
    """The ``<module>.<op>_ms`` per-layer metrics: p50 of the spans
    of that name."""
    names = {
        "sources.corpus.read_ms": "sources.corpus.read",
        "functions.text.tokenize_ms": "functions.text.tokenize",
        "operators.vocab.build_ms": "operators.vocab.build",
        "operators.index.build_ms": "operators.index.build",
        "operators.index.update_ms": "operators.index.update",
        "sources.sinks.write_ms": "sources.sinks.write",
        "operators.search.plan_ms": "operators.search.plan",
        "operators.search.exec_ms": "operators.search.exec",
        "operators.search.batch_exec_ms": "operators.search.batch",
        "operators.textstats.stats_ms": "operators.textstats.stats",
        "operators.dedup.minhash_ms": "operators.dedup.minhash",
        "operators.dedup.lsh_pairs_ms": "operators.dedup.lsh_pairs",
        "operators.dedup.groups_ms": "operators.dedup.groups",
        "operators.similarity.centroids_ms": "operators.similarity.centroids",
        "operators.similarity.assign_ms": "operators.similarity.assign",
        "operators.similarity.build_ms": "operators.similarity.build",
        "operators.similarity.query_plan_ms": "operators.similarity.query_plan",
        "operators.similarity.query_exec_ms": "operators.similarity.query_exec",
        "operators.similarity.batch_exec_ms": "operators.similarity.batch",
    }
    return {m: p50_ms(spans, n) for m, n in names.items()}
