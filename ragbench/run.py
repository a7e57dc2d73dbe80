"""Benchmark entry point.

    python3 ragbench/run.py --workload agent_search_updates --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints progress on stderr and, as the
last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero without a result when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_rag_spark"
WORKLOADS = ("agent_search_updates", "corpus_build")

END_TO_END = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "search_qps": "1/s",
    "pipeline_docs_per_s": "docs/s",
    "cache_mb": "MB",
    "py_peak_rss_mb": "MB",
}

# Layers are the engine modules the benchmark calls into.
LAYERS = ("bench", "session", "sources", "ingest", "dedup", "chunker", "tfidf")
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.read_repo_s": "s",
    "ingest.prepare_s": "s",
    "ingest.docs_out": "count",
    "dedup.minhash_dedup_s": "s",
    "dedup.jobs": "count",
    "dedup.survivor_ratio": "ratio",
    "chunker.chunk_s": "s",
    "chunker.chunks_per_doc": "ratio",
    "tfidf.build_s": "s",
    "tfidf.build_jobs": "count",
    "tfidf.index_rows": "count",
    "tfidf.vocab_terms": "count",
    "tfidf.cache_mb": "MB",
    "storage.total_mb": "MB",
    "tfidf.search_call_ms": "ms",
    "tfidf.search_collect_ms": "ms",
    "tfidf.search_jobs": "count",
    "tfidf.search_stages": "count",
    "tfidf.search_tasks": "count",
    "tfidf.add_call_ms": "ms",
    "tfidf.search_tasks_per_add": "count",
    "tfidf.batch_search_s": "s",
    "tfidf.batch_jobs": "count",
    **{f"selftime.{layer}_s": "s" for layer in LAYERS},
    "search.samples": "count",
    "search.p90_ms": "ms",
    "traced.setup_s": "s",
    "traced.search_p50_ms": "ms",
    "traced.instrumentation_ms": "ms",
}


def layer_metrics(run, e2e: dict) -> dict:
    """Per-layer values for a traced run; layers a workload never calls
    read 0."""
    import harness

    t = run.tracer
    lay = dict(run.layer)
    lay["session.get_spark_s"] = statistics.median(run.session_times)
    lay["tfidf.build_s"] = statistics.median(run.build_times)
    lay["tfidf.build_jobs"] = run.groups.counts(run.last_fit)[0]
    lay["tfidf.cache_mb"] = statistics.median(run.index_mb)
    chunk_s = t.durations("chunker.chunk")
    lay["chunker.chunk_s"] = statistics.median(chunk_s[-len(run.build_times):])
    self_s = t.self_seconds_by_layer()
    for layer in LAYERS:
        lay[f"selftime.{layer}_s"] = self_s.get(layer, 0.0)
    lay["search.samples"] = e2e["_searches"]
    lay["search.p90_ms"] = e2e["_p90_ms"]
    lay["traced.setup_s"] = e2e["setup_s"]
    lay["traced.search_p50_ms"] = e2e["search_p50_ms"]
    lay["traced.instrumentation_ms"] = harness.instrumentation_ms(run.groups)
    return {name: lay.get(name, 0) for name in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="corrupt one output before the checks; the run must report it")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"ragbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    import harness

    harness.configure_environment(ROOT)
    import workloads

    run = workloads.Run(ROOT, args.seed, args.seconds, bool(args.trace), plant=args.plant_fault)
    run.tracer = harness.Tracer(enabled=run.trace)
    t0 = time.perf_counter()
    try:
        if args.workload == "corpus_build":
            e2e = workloads.corpus_build(run)
        else:
            e2e = workloads.agent(run)
        if run.trace:
            metrics = layer_metrics(run, e2e)
            units = PER_LAYER
            run.tracer.dump(os.path.join(
                harness.work_dir(ROOT), f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics, units = e2e, END_TO_END
    finally:
        run.shutdown()
    for err in run.errors[:20]:
        print(f"ragbench: {err}", file=sys.stderr)
    print(f"ragbench: {args.workload} seed={args.seed} wall={time.perf_counter() - t0:.1f}s "
          f"searches={e2e['_searches']}", file=sys.stderr)
    result = {
        "correct": run.failed == 0 and not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
