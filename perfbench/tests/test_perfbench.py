"""The benchmark's own tests: every workload at toy size, the output
contract, seeded inputs and the oracles' failure counting.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracles  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


def run_bench(workload: str, trace: int, cwd: str = ROOT):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.05",
    ]
    return subprocess.run(
        cmd, cwd=cwd, capture_output=True, text=True, timeout=600
    )


def units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_toy_run_prints_every_metric(workload):
    p = run_bench(workload, trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    report, result = (json.loads(x) for x in p.stdout.splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, report
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
    # the report names the same metrics per workload, with units
    assert len(report["metrics"]) == len(got)
    assert all("unit" in v for v in report["metrics"].values())
    assert report["oracle"] == "pass" and report["error_rate"] == 0


def test_traced_run_prints_every_layer_metric():
    p = run_bench("ingest_search", trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.splitlines()[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units("per_layer")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["operators.search.calls"] > 0
    assert m["operators.search.jobs"] > 0
    assert m["operators.search.postings_rows_read"] > 0
    assert m["trace.spans"] > 0


def test_without_the_engine_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p)
    p = run_bench("ingest_search", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_same_seed_same_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    ia = gen.gen_ingest(3, str(a), scale=0.05)
    ib = gen.gen_ingest(3, str(b), scale=0.05)
    assert ia.clusters == ib.clusters and ia.delta == ib.delta
    assert ia.singles == ib.singles and ia.batches == ib.batches
    for name in sorted(os.listdir(ia.corpus_dir)):
        assert (a / "ingest_corpus" / name).read_bytes() == (
            b / "ingest_corpus" / name
        ).read_bytes()
    na = gen.gen_ann(3, str(a), scale=0.05)
    nb = gen.gen_ann(3, str(b), scale=0.05)
    assert na.singles == nb.singles and na.batches == nb.batches
    assert (a / "embeddings.parquet").read_bytes() == (
        b / "embeddings.parquet"
    ).read_bytes()


def test_corrupted_topk_counts_as_failure(tmp_path):
    """A shuffled top-k from the engine must land in ``failed``."""
    import workloads as wl

    w = wl.IngestSearch(5, str(tmp_path), 0.05)
    w.generate()
    base = {i: t for i, t in w.inp.base.items() if i not in w.inp.junk}
    _, after, df = oracles.ingest_expectations(
        base, w.inp.delta, set(w.inp.deleted)
    )
    q = next(
        q for _, q in w.inp.singles if len(after.bm25_topk(q, df=df)) > 2
    )
    rows = [{"doc_id": d, "score": s} for d, s in after.bm25_topk(q, df=df)]
    w.singles = [("bm25", q, (rows, 1.0))]
    w.check_serving(after, df)
    assert w.failed == 0
    shuffled = rows[:]
    while shuffled == rows:
        random.Random(1).shuffle(shuffled)
    w.singles = [("bm25", q, (shuffled, 1.0))]
    w.check_serving(after, df)
    assert w.failed == 1


def test_oracle_rules():
    assert oracles.tokens("Hello, World 1987 zzzzq ab-cd") == [
        "hello", "world", "ab", "cd",
    ]
    # Spark rounds the shortest decimal form HALF_UP
    assert oracles.round6(0.0000125) == 0.000013
    assert oracles.round6(2.5e-7) == 0.0
    assert oracles.round6(5e-7) == 0.000001
