"""High-level facade mirroring the reference's public entry points, so
a user of ``alexeygrigorev/data-engineering-rag`` can switch by
swapping imports:

    reference                              this engine
    ---------                              -----------
    prepare_data.read_repo_data(o, r)   →  RagEngine.read_repo(zip_or_dir)
    prepare_data.run()                  →  RagEngine.prepare(files)
    load_data.chunk_documents(docs)     →  RagEngine.chunk(corpus)
    load_data.index_data(chunk=True)    →  RagEngine.index(corpus, chunk=True)
    SearchTool.search(q) (top-5)        →  RagIndex.search(q, k=5)
    index.fit(more docs) / append       →  RagIndex.add(docs)
    eval generate_questions.run(n)      →  RagEngine.generate_eval_questions(corpus, n)
    calculate_metrics.run_evaluations() →  RagEngine.eval_metrics(logs_glob, eval_csv)

Everything returns DataFrames. ``RagIndex.search`` builds its small
result on the driver from posting segments the index collected once (a
local relation: no Spark job per search); every other call returns a
lazy plan. The LLM is the deterministic stub by default (no network in
tests); a real client is a drop-in at the ``llm_enrich`` seam.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.logs import filter_eval_set, read_logs, simplify_messages, with_costs
from .operators.bm25 import Bm25Model, build_bm25, search_bm25
from .operators.chunker import chunk_documents
from .operators.evalgen import generate_questions
from .operators.ingest import ingest_pipeline
from .operators.tfidf import (
    TfidfModel,
    add_documents,
    build_tfidf,
    search_topk_batch,
    search_topk_local,
)
from .sources.repo import read_repo_tree, read_repo_zip

DEFAULT_CHUNK = {"size": 2000, "step": 1000}  # reference load_data.py:50
DEFAULT_TEXT_FIELDS = ["content", "filename"]  # reference load_data.py:53-55
DEFAULT_TOP_K = 5  # reference search_tools.py:17


@dataclass
class RagIndex:
    """Fitted search index (the reference's ``minsearch.Index`` role).

    Safe for concurrent ``search`` and ``add`` calls: ``search`` reads
    ``model`` once per call, and ``add`` swaps in a whole new model."""

    spark: SparkSession
    model: TfidfModel
    docs: DataFrame  # the indexed corpus ("index.docs")
    chunking: dict | None = None  # chunk_documents kwargs when built with chunk=True
    _add_lock: threading.Lock = field(default_factory=threading.Lock, repr=False, compare=False)

    def search(self, query: str, k: int = DEFAULT_TOP_K, boosts: dict | None = None) -> DataFrame:
        """Top-k ``(<keys>, score)``, scored on the driver
        (``search_topk_local``); an index whose postings exceed
        ``MAX_DRIVER_POSTING_BYTES`` is searched in Spark."""
        return search_topk_local(self.spark, self.model, query, k=k, boosts=boosts)

    def search_batch(self, queries: list[tuple[int, str]], k: int = DEFAULT_TOP_K) -> DataFrame:
        return search_topk_batch(self.spark, self.model, queries, k=k)

    def add(self, docs: DataFrame) -> None:
        """Index ``docs`` (same columns as the indexed corpus) with the
        fitted idf (``add_documents``: frozen vocabulary, OOV terms drop
        out), chunking them first when the index was built with
        ``chunk=True``. Adds run one at a time, each on the latest
        model, and the new model is swapped in whole, so searches never
        wait on an add. An index the driver holds runs one Spark job per
        add, which collects the new docs' term counts; the driver weights
        them, and Spark gets the weights as a local relation, so the add
        caches nothing. An index served from Spark persists each add's
        weights. The new model reads the replaced model's cached tables,
        so nothing is unpersisted here: ``unpersist`` releases them all."""
        if self.chunking is not None:
            docs = chunk_documents(docs, **self.chunking)
        with self._add_lock:
            indexed = self.docs
            if indexed is not None:
                indexed = indexed.unionByName(docs, allowMissingColumns=True)
            self.model = add_documents(self.model, docs)
            self.docs = indexed

    def unpersist(self) -> None:
        self.model.unpersist()


@dataclass
class Bm25Index:
    """Fitted BM25 index — the drop-in probabilistic-ranking alternative
    to :class:`RagIndex` (same fit→search lifecycle; no per-field
    boosts — BM25's field weighting would be BM25F, out of scope)."""

    spark: SparkSession
    model: Bm25Model
    docs: DataFrame

    def search(self, query: str, k: int = DEFAULT_TOP_K) -> DataFrame:
        return search_bm25(self.spark, self.model, query, k=k)

    def unpersist(self) -> None:
        self.model.unpersist()


@dataclass
class RagEngine:
    spark: SparkSession
    system_prompt: str = "Summarize for retrieval."

    # -- ingest (prepare_data) ------------------------------------------------
    def read_repo(self, path: str) -> DataFrame:
        """Zip archive or directory tree → (path, content) files."""
        if path.endswith(".zip"):
            return read_repo_zip(self.spark, path)
        return read_repo_tree(self.spark, path)

    def prepare(self, files: DataFrame) -> DataFrame:
        """Full ingest: filter → parse → notebook-convert → enrich."""
        return ingest_pipeline(files, self.system_prompt)

    # -- chunk + index (load_data) -------------------------------------------
    def chunk(self, corpus: DataFrame, text_col: str = "content", **params) -> DataFrame:
        p = {**DEFAULT_CHUNK, **params}
        return chunk_documents(corpus, text_col=text_col, size=p["size"], step=p["step"])

    def index(
        self,
        corpus: DataFrame,
        key_cols: list[str] | None = None,
        text_fields: list[str] | None = None,
        chunk: bool = False,
        chunking_params: dict | None = None,
        persist: bool = True,
        engine: str = "tfidf",
    ) -> RagIndex | Bm25Index:
        """The reference's ``index_data``: optionally chunk, then fit.

        ``persist=True`` (default) materializes the index for the
        fit-once/search-many serving loop. ``engine`` picks the ranking
        model: ``"tfidf"`` (reference parity — minsearch semantics) or
        ``"bm25"`` (Okapi; single text field)."""
        docs = corpus
        keys = list(key_cols) if key_cols else ["filename"]
        chunking = None
        if chunk:
            p = {"text_col": "content", **DEFAULT_CHUNK, **(chunking_params or {})}
            chunking = {"text_col": p["text_col"], "size": p["size"], "step": p["step"]}
            docs = chunk_documents(docs, **chunking)
            if "start" not in keys:
                keys = keys + ["start"]
        fields = text_fields or [f for f in DEFAULT_TEXT_FIELDS if f in docs.columns]
        if engine == "bm25":
            model = build_bm25(docs, key_cols=keys, text_field=fields[0], persist=persist)
            return Bm25Index(spark=self.spark, model=model, docs=docs)
        if engine != "tfidf":
            raise ValueError(f"engine must be 'tfidf' or 'bm25', got {engine!r}")
        tmodel = build_tfidf(docs, key_cols=keys, text_fields=fields, persist=persist)
        return RagIndex(spark=self.spark, model=tmodel, docs=docs, chunking=chunking)

    # -- eval (generate_questions / calculate_metrics) ------------------------
    def generate_eval_questions(
        self, corpus: DataFrame, sample_size: int = 50, seed: int = 42,
        id_col: str = "doc_id", text_col: str = "text",
    ) -> DataFrame:
        d = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        key = F.md5(F.concat(F.lit(f"sample{seed}|"), F.col("doc_id").cast("string")))
        sampled = (
            d.select("doc_id", "text", key.alias("_k"))
            .orderBy("_k", "doc_id")
            .limit(sample_size)
            .drop("_k")
        )
        return generate_questions(sampled, seed=seed)

    def load_eval_logs(self, logs_glob: str) -> DataFrame:
        return filter_eval_set(read_logs(self.spark, logs_glob))

    def simplify_logs(self, logs: DataFrame) -> DataFrame:
        return logs.select("file", simplify_messages(F.col("messages")).alias("messages"))

    def eval_metrics(self, eval_rows: DataFrame) -> DataFrame:
        """Per-row cost columns (A4); aggregate with plain groupBy/agg."""
        return with_costs(eval_rows)
