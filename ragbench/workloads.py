"""The benchmark workloads.

``agent_search_updates``  closed loop, N client threads, each an agent
                          waiting on its top-5 search; every tenth
                          operation is an ``add_documents`` of a held-out
                          batch, swapped in atomically for later searches.
``corpus_build``          a batch build: repo zip → ingest →
                          documents.parquet → MinHash dedup → chunk +
                          TF-IDF fit → batch eval over generated
                          questions.

Each run: set-up (repeated, median reported), a warm-up build (corpus
only), a timed window of ``seconds``, then the output checks (see
README.md).
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

import harness
import inputs
import oracle

CHUNK = {"size": 200, "step": 100}
TOP_K = 5
SETUP_REPS = 3  # the first also launches the JVM and warms the JIT: not counted
AGENT_DOCS = 2000  # 40 % of the sf0.1 documents table; at 5000 docs search
# latency measured the same (README), while set-up grows by a third
ADD_BATCH_DOCS = 25
ADD_EVERY = 10  # ops 5, 15, 25 ... are adds. One add is applied before
# the window opens, so the first round of four searches and, as a rule,
# three of the second run on the index with one add: the median does
# not straddle the latency step each add leaves on later searches.
EVAL_DOCS = 300  # 3 questions per sampled doc
BUILD_DOCS = 400  # a warm build costs 10-14 s at 200-400 docs and 20-23 s at
# 5000 (README); two warm builds per run fit the time budget only at this size
WARM_DOCS = 40  # the warm-up build: every stage of the pipeline on a few docs
MIN_BUILDS = 2
BUILD_SETUP_REPS = 7  # set-up is session + archive, a fraction of a second
CHECK_SAMPLE = 20


@dataclass
class Run:
    root: str
    seed: int
    seconds: float
    trace: bool
    plant: bool = False  # corrupt one output before the checks (self-test)
    tracer: harness.Tracer = None
    spark: object = None
    groups: harness.JobGroups = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_times: list = field(default_factory=list)
    session_times: list = field(default_factory=list)
    build_times: list = field(default_factory=list)
    index_mb: list = field(default_factory=list)  # block storage each fit added
    layer: dict = field(default_factory=dict)
    last_fit: str = ""
    t0: float = field(default_factory=time.perf_counter)

    @property
    def work(self) -> str:
        return harness.work_dir(self.root)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start_session(self) -> None:
        """Start the Spark session through the engine's factory."""
        from data_engineering_rag_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name="ragbench", extra_conf=harness.spark_conf(self.root))
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_times.append(time.perf_counter() - t0)
        self.groups = harness.JobGroups(self.spark.sparkContext, self.trace)

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# --------------------------------------------------------------------------
# Shared pieces
# --------------------------------------------------------------------------

def _index(run: Run, df, n_docs: int, rid: str):
    """Chunk + fit + materialize an index over ``df`` (doc_id, text)."""
    from data_engineering_rag_spark.api import RagEngine

    eng = RagEngine(run.spark)
    run.groups.enter(rid)
    if run.trace:
        # Traced runs only: materialize the chunking on its own so the
        # chunker's share is visible (the fit below chunks again).
        with run.tracer.span("chunker.chunk", rid):
            n_chunks = eng.chunk(df, text_col="text", **CHUNK).count()
        run.layer["chunker.chunks_per_doc"] = n_chunks / n_docs
    run.groups.enter(rid + "-fit")
    run.last_fit = rid + "-fit"
    before = harness.block_storage_mb(run.spark.sparkContext)
    t0 = time.perf_counter()
    with run.tracer.span("tfidf.build", rid):
        idx = eng.index(
            df, key_cols=["doc_id"], text_fields=["text"], chunk=True,
            chunking_params={**CHUNK, "text_col": "text"},
        )
        rows = idx.model.weights.count()
        terms = idx.model.idf.count()
    run.build_times.append(time.perf_counter() - t0)
    run.index_mb.append(harness.block_storage_mb(run.spark.sparkContext) - before)
    run.layer["tfidf.index_rows"] = rows
    run.layer["tfidf.vocab_terms"] = terms
    return idx


def _add(run: Run, model, docs: list[tuple[int, str]], rid: str):
    """One ``add_documents`` call as a client sees it: chunk the batch,
    extend the model (lazy — the cost lands in later searches)."""
    from data_engineering_rag_spark.operators.chunker import chunk_documents
    from data_engineering_rag_spark.operators.tfidf import add_documents

    run.groups.enter(rid)
    t0 = time.perf_counter()
    with run.tracer.span("tfidf.add_documents", rid):
        batch = run.spark.createDataFrame(docs, "doc_id long, text string")
        chunked = chunk_documents(batch, text_col="text", **CHUNK)
        new = add_documents(model, chunked)
    return new, time.perf_counter() - t0


def _search(run: Run, model, query: str, rid: str):
    """One agent tool call: ``RagIndex.search`` over the given model."""
    from data_engineering_rag_spark.api import RagIndex

    run.groups.enter(rid)
    with run.tracer.span("bench.request", rid):
        t0 = time.perf_counter()
        with run.tracer.span("tfidf.search_call"):
            df = RagIndex(run.spark, model, docs=None).search(query, k=TOP_K)
        t1 = time.perf_counter()
        with run.tracer.span("tfidf.search_collect"):
            rows = df.collect()
        t2 = time.perf_counter()
    hits = [((r["doc_id"], r["start"]), float(r["score"])) for r in rows]
    return hits, t1 - t0, t2 - t0


def _eval_questions(run: Run, docs_df, rid: str):
    """The generated eval questions, materialized so that a timed batch
    eval is the search alone; returns (questions, count)."""
    from pyspark.sql import functions as F

    from data_engineering_rag_spark.api import RagEngine

    run.groups.enter(rid)
    qs = RagEngine(run.spark).generate_eval_questions(docs_df, sample_size=EVAL_DOCS, seed=run.seed)
    qs = qs.select(F.col("doc_id").alias("qdoc"), "q_num", "question").cache()
    return qs, qs.count()


def _batch_eval(run: Run, model, qs, rid: str):
    """``search_topk_df`` over the eval questions, collected."""
    from data_engineering_rag_spark.operators.tfidf import search_topk_df

    run.groups.enter(rid)
    with run.tracer.span("tfidf.batch_search", rid):
        return search_topk_df(model, qs, ["qdoc", "q_num"], "question", k=TOP_K).collect()


def _digest(res) -> str:
    return hashlib.sha256(
        repr(sorted((r["qdoc"], r["q_num"], r["doc_id"], r["start"], round(r["score"], 8))
                    for r in res)).encode()
    ).hexdigest()


def _check_batch(run: Run, res, qs, ref: oracle.TfidfReference, rng: random.Random) -> bool:
    questions = {(r["qdoc"], r["q_num"]): r["question"] for r in qs.collect()}
    got: dict = {}
    for r in res:
        got.setdefault((r["qdoc"], r["q_num"]), []).append(((r["doc_id"], r["start"]), r["score"]))
    sample = rng.sample(sorted(questions), min(CHECK_SAMPLE, len(questions)))
    ok = all(oracle.same_hits(got.get(q, []), ref.search(questions[q], TOP_K)) for q in sample)
    if not ok:
        run.errors.append("batch eval results differ from the reference scorer")
    return ok


def _phase(run: Run, name: str) -> None:
    """Progress on stderr: seconds since the run started."""
    import sys

    print(f"ragbench: {time.perf_counter() - run.t0:6.1f}s {name}", file=sys.stderr, flush=True)


def _median_count(values: list[int]) -> int:
    return int(statistics.median(values)) if values else 0


# --------------------------------------------------------------------------
# agent_search_updates
# --------------------------------------------------------------------------

@dataclass
class Served:
    """The model clients search; replaced as a whole on every add."""

    version: int
    model: object


def agent(run: Run) -> dict:
    from pyspark import InheritableThread

    seed = run.seed
    n_clients = min(4, len(os.sched_getaffinity(0)))

    # -- set-up: session + inputs + fit, repeated
    idx = None
    for rep in range(SETUP_REPS):
        run.stop_session()
        t0 = time.perf_counter()
        run.start_session()
        corpus = inputs.make_corpus(seed, AGENT_DOCS)
        docs_df = run.spark.createDataFrame(corpus.docs, "doc_id long, text string")
        idx = _index(run, docs_df, AGENT_DOCS, f"setup{rep}")
        run.setup_times.append(time.perf_counter() - t0)
        _phase(run, f"set-up {rep}: {run.setup_times[-1]:.1f}s")
    del run.setup_times[0], run.build_times[0]  # the cold first set-up
    run.layer["storage.total_mb"] = harness.block_storage_mb(run.spark.sparkContext)
    _phase(run, "set-up done")
    queries = inputs.make_queries(corpus, seed + 1, 5000)
    extra = inputs.extra_docs(corpus, seed + 2, ADD_BATCH_DOCS * 200, first_id=10_000_000)
    batches = [extra[i : i + ADD_BATCH_DOCS] for i in range(0, len(extra), ADD_BATCH_DOCS)]

    # -- one closed loop; operations that start inside the window count.
    # One untimed search on the served index first compiles the search
    # path, which the set-ups do not run.
    served = Served(1, _add(run, idx.model, batches[0], "a-pre")[0])
    _search(run, served.model, queries[-1], "warm-up")
    write_lock = threading.Lock()
    next_op = [0]
    op_lock = threading.Lock()
    log: list = []  # (op index, kind, version, query, hits, call s, total s)
    busy: dict[int, list] = {}  # client -> [first op start, last op end, searches]
    deadline = time.perf_counter() + run.seconds

    def client(c: int):
        nonlocal served
        while (now := time.perf_counter()) < deadline:
            with op_lock:
                i = next_op[0]
                next_op[0] += 1
            mine = busy.setdefault(c, [now, now, 0])
            try:
                if i % ADD_EVERY == ADD_EVERY // 2:
                    t0 = time.perf_counter()
                    with write_lock:
                        cur = served
                        new, _ = _add(run, cur.model, batches[cur.version], f"a{i}")
                        served = Served(cur.version + 1, new)
                    log.append((i, "add", cur.version + 1, None, None, 0.0,
                                time.perf_counter() - t0))
                else:
                    cur = served
                    q = queries[i % len(queries)]
                    hits, call_s, total_s = _search(run, cur.model, q, f"s{i}")
                    log.append((i, "search", cur.version, q, hits, call_s, total_s))
                    mine[2] += 1
            except Exception as exc:  # keep serving; the op counts as failed
                run.errors.append(f"op {i}: {type(exc).__name__}: {exc}")
                log.append((i, "error", None, None, None, 0.0, 0.0))
            mine[1] = time.perf_counter()

    threads = [InheritableThread(target=client, args=(c,)) for c in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    peak_rss = harness.py_peak_rss_mb()
    _phase(run, "window done")

    searches = [e for e in log if e[1] == "search"]
    lat_ms = [e[6] * 1000 for e in searches]
    run.attempted = len(log)
    run.failed = sum(1 for e in log if e[1] == "error")

    planted = next((e for e in searches if e[4]), None) if run.plant else None
    if planted:
        key, score = planted[4][0]
        planted[4][0] = (key, score + 1e-6)

    # -- output checks: every search against the reference scorer at
    # the index version it ran on
    ref = oracle.TfidfReference(corpus.docs, **CHUNK)
    refs = {0: ref}
    for v in range(1, served.version + 1):
        refs[v] = refs[v - 1].copy()
        refs[v].add_documents(batches[v - 1])
    bad = [e for e in searches if not oracle.same_hits(e[4], refs[e[2]].search(e[3], TOP_K))]
    if bad:
        run.errors.append(f"{len(bad)} searches differ from the reference scorer")
    run.failed += len(bad)
    _phase(run, "checks done")

    if run.trace:
        _agent_layer_metrics(run, corpus, idx.model, searches, log)

    return {
        "setup_s": statistics.median(run.setup_times),
        "search_p50_ms": statistics.median(lat_ms),
        # each client's searches over its own busy span, summed: the
        # clients stop at slightly different times near the deadline
        "search_qps": sum(n / (end - start) for start, end, n in busy.values()),
        "pipeline_docs_per_s": AGENT_DOCS / statistics.median(run.build_times),
        "cache_mb": statistics.median(run.index_mb),
        "py_peak_rss_mb": peak_rss,
        "_searches": len(searches),
        "_p90_ms": statistics.quantiles(lat_ms, n=10, method="inclusive")[-1],
    }


def _agent_layer_metrics(run: Run, corpus, fitted, searches: list, log: list) -> None:
    # Per-search counts on the index before any add: two searches on the
    # fitted index after the window (queries without hits plan fewer jobs).
    base = []
    for j, q in enumerate(inputs.make_queries(corpus, run.seed + 3, 2, oov_share=0.0)):
        if _search(run, fitted, q, f"base{j}")[0]:
            base.append(run.groups.counts(f"base{j}"))
    run.layer["tfidf.search_jobs"] = _median_count([c[0] for c in base])
    run.layer["tfidf.search_stages"] = _median_count([c[1] for c in base])
    run.layer["tfidf.search_tasks"] = _median_count([c[2] for c in base])
    base_tasks = run.layer["tfidf.search_tasks"]
    per_add = [
        (run.groups.counts(f"s{e[0]}")[2] - base_tasks) / e[2]
        for e in searches if e[2] > 0 and e[4]
    ]
    run.layer["tfidf.search_tasks_per_add"] = statistics.median(per_add) if per_add else 0.0
    in_window_adds = [e[6] for e in log if e[1] == "add"]
    if in_window_adds:
        run.layer["tfidf.add_call_ms"] = statistics.median(in_window_adds) * 1000
    run.layer["tfidf.search_call_ms"] = statistics.median([e[5] for e in searches]) * 1000
    run.layer["tfidf.search_collect_ms"] = statistics.median(
        [e[6] - e[5] for e in searches]
    ) * 1000


# --------------------------------------------------------------------------
# corpus_build
# --------------------------------------------------------------------------

def _pipeline(run: Run, zip_path: str, corpus_dir: str, n_files: int, rid: str) -> dict:
    from pyspark.sql import functions as F

    from data_engineering_rag_spark.api import RagEngine
    from data_engineering_rag_spark.plans import REGISTRY

    eng = RagEngine(run.spark)
    out: dict = {}
    t0 = time.perf_counter()
    with run.tracer.span("bench.pipeline", rid):
        run.groups.enter(rid + "-ingest")
        with run.tracer.span("sources.read_repo"):
            files = eng.read_repo(zip_path)
        with run.tracer.span("ingest.prepare"):
            prepared = eng.prepare(files).select(
                F.regexp_extract("filename", r"(\d+)", 1).cast("long").alias("doc_id"),
                F.col("content").alias("text"),
            )
            prepared.write.mode("overwrite").parquet(f"{corpus_dir}/documents.parquet")
        run.groups.enter(rid + "-dedup")
        with run.tracer.span("dedup.minhash_dedup"):
            dedup = REGISTRY["minhash_dedup_canonical"].spark(run.spark, corpus_dir).collect()
        dropped = sorted(r["doc_id"] for r in dedup if r["doc_id"] != r["canonical_id"])
        docs = run.spark.read.parquet(f"{corpus_dir}/documents.parquet")
        survivors = docs.where(~F.col("doc_id").isin(dropped)) if dropped else docs
        idx = _index(run, survivors, n_files - len(dropped), rid + "-index")
        qs, n_questions = _eval_questions(run, survivors, rid + "-questions")
        t_eval = time.perf_counter()
        res = _batch_eval(run, idx.model, qs, rid + "-eval")
    out["wall"] = time.perf_counter() - t0
    out["eval_s"] = time.perf_counter() - t_eval
    out["n_questions"] = n_questions
    out["storage_mb"] = harness.block_storage_mb(run.spark.sparkContext)
    out["dedup"] = {(r["doc_id"], r["canonical_id"], r["cluster_size"]) for r in dedup}
    out["dropped"] = dropped
    out["digest"] = _digest(res)
    out["res"], out["qs"] = res, qs
    out["n_files"] = n_files
    return out


def _write_archive(path: str, seed: int, n_docs: int):
    corpus = inputs.make_corpus(seed, n_docs)
    archive = inputs.make_repo_zip(corpus, seed + 4)
    with open(path, "wb") as fh:
        fh.write(archive.data)
    return corpus, archive


def corpus_build(run: Run) -> dict:
    seed = run.seed
    corpus_dir = os.path.join(run.work, "corpus")
    zip_path = os.path.join(run.work, "repo.zip")
    warm_zip = os.path.join(run.work, "warmup.zip")

    # -- set-up: session + the seeded repo archive on disk, repeated
    for _ in range(BUILD_SETUP_REPS):
        run.stop_session()
        t0 = time.perf_counter()
        run.start_session()
        corpus, archive = _write_archive(zip_path, seed, BUILD_DOCS)
        run.setup_times.append(time.perf_counter() - t0)
    del run.setup_times[0]  # the first set-up also launched the JVM
    n_docs = archive.n_kept
    _phase(run, "set-up done")

    # -- warm-up, untimed: one build of a small archive of the same
    # shape, which starts the Python workers and compiles every stage
    warm = _write_archive(warm_zip, seed + 5, WARM_DOCS)[1]
    _pipeline(run, warm_zip, os.path.join(run.work, "corpus_warmup"), warm.n_kept, "warmup")
    harness.unpersist_all(run.spark)
    run.build_times.clear()
    run.index_mb.clear()
    _phase(run, "warm-up done")

    # -- timed window: builds back to back while the window is open, at
    # least MIN_BUILDS; each starts from empty block storage
    builds: list[dict] = []
    deadline = time.perf_counter() + run.seconds
    while len(builds) < MIN_BUILDS or time.perf_counter() < deadline:
        if builds:
            harness.unpersist_all(run.spark)
        builds.append(_pipeline(run, zip_path, corpus_dir, n_docs, f"p{len(builds)}"))
        _phase(run, f"build {len(builds)}: {builds[-1]['wall']:.2f}s")
    peak_rss = harness.py_peak_rss_mb()
    run.attempted = len(builds)

    # -- output checks
    from data_engineering_rag_spark.plans import REGISTRY

    expected = oracle.dedup_oracle_rows(corpus_dir, REGISTRY["minhash_dedup_canonical"].oracle)
    last = builds[-1]
    if run.plant:
        last["dedup"] = set(sorted(last["dedup"])[1:])
    ok = _check_build(run, last, archive, corpus, corpus_dir, expected)
    agree = [b["digest"] == last["digest"] and b["dedup"] == last["dedup"] for b in builds]
    if not all(agree):
        run.errors.append("builds of the same archive disagree")
    run.failed = len(builds) if not ok else agree.count(False)
    _phase(run, "checks done")

    if run.trace:
        _build_layer_metrics(run, last)

    wall = statistics.median(b["wall"] for b in builds)
    eval_s = statistics.median(b["eval_s"] for b in builds)
    # The eval questions are answered when the batch eval ends: each
    # waits for the whole eval stage, so its latency is that stage's wall.
    return {
        "setup_s": statistics.median(run.setup_times),
        "search_p50_ms": eval_s * 1000,
        "search_qps": last["n_questions"] / eval_s,
        "pipeline_docs_per_s": n_docs / wall,
        "cache_mb": statistics.median(run.index_mb),
        "py_peak_rss_mb": peak_rss,
        "_searches": last["n_questions"] * len(builds),
        "_p90_ms": eval_s * 1000,
    }


def _check_build(run: Run, last: dict, archive, corpus, corpus_dir: str, expected: set) -> bool:
    import pyarrow.parquet as pq

    table = pq.read_table(f"{corpus_dir}/documents.parquet").to_pydict()
    texts = dict(zip(table["doc_id"], table["text"]))
    run.layer["ingest.docs_out"] = len(texts)
    ok = True
    if len(texts) != archive.n_kept:
        run.errors.append(f"ingest kept {len(texts)} docs, expected {archive.n_kept}")
        ok = False
    rng = random.Random(run.seed)
    for doc_id, text in rng.sample(corpus.docs, CHECK_SAMPLE):
        # markdown bodies come through with the frontmatter stripped
        if doc_id in texts and texts[doc_id] != text and not texts[doc_id].startswith("# Summary"):
            run.errors.append(f"ingest changed the body of doc {doc_id}")
            ok = False
    if expected != last["dedup"]:
        run.errors.append("dedup clusters differ from the registry's DuckDB oracle")
        ok = False
    dropped = set(last["dropped"])
    survivors = sorted((d, t) for d, t in texts.items() if d not in dropped)
    ref = oracle.TfidfReference(survivors, **CHUNK)
    ok = _check_batch(run, last["res"], last["qs"], ref, rng) and ok
    return ok


def _build_layer_metrics(run: Run, build: dict) -> None:
    def last(name):
        return run.tracer.durations(name)[-1]

    run.layer["sources.read_repo_s"] = last("sources.read_repo")
    run.layer["ingest.prepare_s"] = last("ingest.prepare")
    run.layer["dedup.minhash_dedup_s"] = last("dedup.minhash_dedup")
    run.layer["dedup.jobs"] = run.groups.counts("p0-dedup")[0]
    run.layer["dedup.survivor_ratio"] = 1 - len(build["dropped"]) / build["n_files"]
    run.layer["tfidf.batch_jobs"] = run.groups.counts("p0-eval")[0]
    run.layer["tfidf.batch_search_s"] = last("tfidf.batch_search")
    run.layer["storage.total_mb"] = build["storage_mb"]
