#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_search --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, starts a
``local[<cpus>]`` Spark session through the engine's session factory,
sets up ``SETUP_REPS`` times (each on a fresh session; ``setup_s`` is
the median), runs the workload's closed loop for ``--seconds``, checks
every kept result against the oracles and prints two lines:

1. a report: the workload's metrics under their per-workload names,
   with units and sample counts, the error rate and the oracle verdict;
2. the result object ``{"correct", "attempted", "failed", "metrics"}``:
   the end-to-end metrics with ``--trace 0``, the per-layer metrics
   with ``--trace 1`` (spans are also written to ``.perfbench_out/``).

Exits non-zero without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "rate_per_s": "1/s",
    "build_items_per_s": "1/s",
    "recall": "ratio",
    "precision": "ratio",
}

LAYERS = [
    "sources.corpus",
    "functions.text",
    "operators.vocab",
    "operators.index",
    "operators.search",
    "sources.sinks",
    "operators.textstats",
    "operators.dedup",
    "operators.similarity",
]
_GENERIC = {
    "calls": "count",
    "wall_ms_p50": "ms",
    "wall_ms_sum": "ms",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
}
_NAMED = {
    "session.start_s": "s",
    "sources.corpus.read_ms": "ms",
    "functions.text.tokenize_ms": "ms",
    "functions.text.tokens": "count",
    "operators.vocab.build_ms": "ms",
    "operators.vocab.words": "count",
    "operators.index.build_ms": "ms",
    "operators.index.postings_rows": "count",
    "operators.index.update_ms": "ms",
    "sources.sinks.write_ms": "ms",
    "operators.search.plan_ms": "ms",
    "operators.search.exec_ms": "ms",
    "operators.search.postings_rows_read": "count",
    "operators.search.rows_read_per_hit": "ratio",
    "operators.search.batch_exec_ms": "ms",
    "operators.textstats.stats_ms": "ms",
    "operators.dedup.minhash_ms": "ms",
    "operators.dedup.lsh_pairs_ms": "ms",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.true_pair_frac": "ratio",
    "operators.dedup.groups_ms": "ms",
    "operators.dedup.groups.jobs": "count",
    "operators.similarity.centroids_ms": "ms",
    "operators.similarity.assign_ms": "ms",
    "operators.similarity.build_ms": "ms",
    "operators.similarity.query_plan_ms": "ms",
    "operators.similarity.query_exec_ms": "ms",
    "operators.similarity.candidates_per_query": "count",
    "operators.similarity.probe_fraction": "ratio",
    "operators.similarity.batch_exec_ms": "ms",
    "trace.spans": "count",
    "trace.span_cost_us": "us",
    **{f"trace.{k}": u for k, u in E2E_UNITS.items()},
}
LAYER_UNITS = {
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in _GENERIC.items()},
    "session.calls": "count",
    **_NAMED,
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input-size multiplier; below 1 only for the benchmark's own tests
    p.add_argument("--scale", type=float, default=1.0)
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def confine(work: str) -> None:
    """Keep Spark's and the JVM's scratch files inside the checkout,
    and set the JVM's JIT for short runs.

    A run's JVM lives under a minute. With the default tiered JIT, C2
    compilation competes with the measured work for the few cores and
    is still raising query speed when the timed phase ends, so a run
    measures how far compilation got. The C1 compiler alone finishes
    within the warm-up, so the timed phase is at steady state. On 4
    cores the text queries and the ingest run faster that way, the
    IVF build up to a fifth slower.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    )


def start_session():
    from bigdata_elephant_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus())
    took = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, took


def stop_session(spark, shutdown_jvm: bool) -> None:
    """Stop the session; with ``shutdown_jvm`` also end the JVM
    process the session started and wait for it."""
    from pyspark import SparkContext

    from bigdata_elephant_spark.session import release_caches

    gateway = SparkContext._gateway
    release_caches()
    spark.stop()
    if not shutdown_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def span_cost_us(tr, n: int = 50) -> float:
    """Bookkeeping cost of one empty span (job group set and cleared,
    status tracker read), in microseconds."""
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("trace.empty"):
            pass
    cost = (time.perf_counter() - t0) / n * 1e6
    tr.spans = [s for s in tr.spans if s.name != "trace.empty"]
    return cost


def run(args, work: str) -> tuple[dict, dict]:
    import spans as sp
    import workloads as wl

    wk = wl.WORKLOADS[args.workload](args.seed, work, args.scale)
    starts, setups = [], []
    tr = sp.NullTracer()
    # The JVM launches while the inputs are generated; the first
    # set-up is the slowest of the three either way, so the median
    # is unaffected.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as ex:
        launch = ex.submit(start_session)
        try:
            wk.generate()
        finally:
            spark, took = launch.result()
    try:
        for rep in range(SETUP_REPS):
            if rep:
                stop_session(spark, shutdown_jvm=False)
                t0 = time.perf_counter()
                spark, took = start_session()
            starts.append(took)
            wk.open(spark)
            setups.append(time.perf_counter() - t0)
        if args.trace:
            tr = sp.Tracer()
        wk.prepare(spark, tr)
        wk.run(spark, args.seconds, tr)
        wk.verify(spark)
        e2e, info = wk.metrics()
        e2e = {"setup_s": statistics.median(setups), **e2e}
        if args.trace:
            wk.probe(spark, tr)
            layer = {name: 0.0 for name in LAYER_UNITS}
            layer.update(sp.layer_metrics(tr.spans, LAYERS))
            layer.update(wl.named_layer_metrics(tr.spans))
            layer.update(wk.layer_extras(tr.spans))
            layer["session.start_s"] = statistics.median(starts)
            layer["session.calls"] = len(starts)
            layer["trace.spans"] = len(tr.spans)
            layer["trace.span_cost_us"] = span_cost_us(tr)
            layer.update({f"trace.{k}": v for k, v in e2e.items()})
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tr.dump(os.path.join(out, f"spans-{wk.name}-{args.seed}.jsonl"))
    finally:
        stop_session(spark, shutdown_jvm=True)
    names = wl.METRICS[wk.name]
    report = {
        "workload": wk.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": {
            names.get(k, k): {"value": v, "unit": E2E_UNITS[k]}
            for k, v in e2e.items()
        },
        "samples": info,
        "setup_samples": len(setups),
        "error_rate": wk.failed / max(1, wk.attempted),
        "oracle": "pass" if wk.failed == 0 else "FAIL",
        "errors": wk.errors,
    }
    if args.trace:
        metrics = {
            k: {"value": float(layer[k]), "unit": u}
            for k, u in LAYER_UNITS.items()
        }
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    result = {
        "correct": wk.failed == 0,
        "attempted": wk.attempted,
        "failed": wk.failed,
        "metrics": metrics,
    }
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bigdata_elephant_spark
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    # measure the checkout's engine, never an installed copy
    if not os.path.abspath(bigdata_elephant_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: the engine was not imported from this checkout",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    confine(work)
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
