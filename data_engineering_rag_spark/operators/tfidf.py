"""TF-IDF index build + top-k lexical search (SURVEY.md §2.4 X1/X2).

Parity target: the reference's query engine is ``minsearch`` (call sites
``zc_agent/load_data.py:53-57``, ``zc_agent/search_tools.py:7-17``) —
per-text-field sklearn ``TfidfVectorizer`` + cosine similarity, summed
over fields with optional boosts, top ``num_results``.

Documented engine semantics (sklearn conventions, reproduced in exact
SQL-expressible arithmetic so the DuckDB oracle can verify):

- tokens: maximal runs matching ``\\w\\w+`` on the lowercased text
  (sklearn token pattern ``(?u)\\b\\w\\w+\\b``; maximal-match extraction
  makes the boundaries redundant). ASCII ``\\w`` — documented deviation
  from sklearn's unicode ``\\w``, irrelevant for ASCII corpora.
- tf: raw term count per (doc, term).
- idf: ``ln((1 + N) / (1 + df)) + 1`` (smooth_idf).
- doc vector: tf·idf, L2-normalized per doc.
- query vector: same transform on the query text (OOV terms drop out:
  they have no fitted idf, matching sklearn's fitted-vocabulary
  behavior).
- score(q, d) = Σ_fields boost_f · cosine_f(q, d); top-k by score desc,
  doc-key asc tie-break (deterministic; minsearch's argsort tie order is
  unspecified).

Scale design: the index IS a DataFrame — ``(field, <keys>, term, w)``
with L2-normalized weights, hash-partitioned on the doc key by the norm
window. Spark owns the fit, the tokenizing of every add, the
DataFrame-shaped top-k (``search_topk``) and the batch eval
(``search_topk_df``: in-JVM tokenizer, broadcast join on ``(field,
term)``). Single-query serving (``search_topk_local``, behind
``RagIndex.search``) runs on the driver with no Spark job, as the
reference's in-process ``minsearch`` does: the fitted idf is a driver
dict, and the weights are immutable Arrow posting segments ``(<keys>,
w)`` grouped by term — a base segment, collected on the model's first
driver search with one flat Arrow collect of the weights, plus one
small delta segment per later add, both built from flat rows by
``_segment``. A search slices the query terms' postings out of every
segment, sums them per key with an Arrow group-by on the key columns
themselves, and wraps the top k as a local relation. Every add is one
narrow job that collects the new docs' term counts; the driver weights
them with its idf into the delta segment, and Spark gets the same
weights as a local relation, so the model's ``weights`` is the lazy
union of the cached fit and the local deltas and no add persists or
rematerializes anything. Above ``MAX_DRIVER_POSTING_BYTES`` of
postings the driver keeps no segment, and a search runs
``search_topk``: a ``(field, term)`` filter over the weights → ``w`` ×
the query weight from a literal map → partial aggregation per doc key
→ ``TakeOrderedAndProject`` (ONE job over the cached fit alone). The
only wide ops in the build are the (term) and (doc) aggregations,
both map-side combinable.
"""

from __future__ import annotations

import math
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field as dataclass_field
from functools import partial, reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StringType, StructField, StructType
from pyspark.sql.window import Window

TOKEN_PATTERN = r"\w\w+"
# sklearn's token pattern is (?u)\b\w\w+\b — unicode \w. Java's \w is
# ASCII-only, so the unicode mode spells the class out with \p{} escapes
# (supported by Java regex AND RE2/DuckDB, letting oracles share it).
# \p{M} combining marks are excluded (Python \w includes them for NFD
# text) — documented approximation, exact for NFC-normalized corpora.
UNICODE_TOKEN_PATTERN = r"[\p{L}\p{N}_]{2,}"

_TOKEN_PATTERNS = {"ascii": TOKEN_PATTERN, "unicode": UNICODE_TOKEN_PATTERN}


def token_pattern_for(token_mode: str) -> str:
    """Spark/DuckDB-shared regex for a tokenizer mode ('ascii'|'unicode')."""
    try:
        return _TOKEN_PATTERNS[token_mode]
    except KeyError:
        raise ValueError(
            f"token_mode must be one of {sorted(_TOKEN_PATTERNS)}, got {token_mode!r}"
        ) from None


class _Once:
    """``get()`` returns ``compute()``, run once by the first caller under
    a lock (double-checked, so later calls take no lock). ``compute`` and
    what it references are dropped once it has run."""

    def __init__(self, compute) -> None:
        self._lock = threading.Lock()
        self._compute = compute

    @property
    def ready(self) -> bool:
        """Whether ``compute()`` has run, so that ``get()`` runs no job."""
        return self._compute is None

    def get(self):
        if self._compute is not None:
            with self._lock:
                if self._compute is not None:
                    self._value = self._compute()
                    self._compute = None
        return self._value


def _collect_idf(idf: DataFrame) -> tuple[dict, dict]:
    """``({(field, term): idf}, {(field, term): term id})`` on the driver:
    one job that collects the idf table. Term id ``i`` is the idf dict's
    ``i``-th key."""
    fitted = {(r["field"], r["term"]): r["idf"] for r in idf.collect()}
    return fitted, dict(zip(fitted, range(len(fitted))))


# The driver holds a model's postings only while their Arrow size is at
# most this many bytes; above it ``search_topk_local`` serves from Spark.
# A posting is its key columns plus an 8 B weight: 24 B with int64
# ``(doc_id, start)`` keys, while a string key costs its UTF-8 width plus
# a 4 B offset (67 B per posting with ~47 B file paths as ``filename``).
# Collecting a base segment raised the driver's peak RSS by about twice
# its Arrow size and left about its size resident, so the cap holds a
# collect to ~70 MB whatever the key columns. Near the cap (4-core x86
# VM): 1.38M postings with int64 keys, 32 MB of Arrow, peaked at +67 MB
# and kept +35 MB; 487k with file-path keys, 31 MB, +65 MB and +34 MB.
MAX_DRIVER_POSTING_BYTES = 32 * 2**20


@dataclass(frozen=True)
class _Segment:
    """One weights table on the driver, fit or add delta alike (built by
    ``_segment``): the postings of term id ``term_ids[i]`` are rows
    ``starts[i]`` to ``starts[i] + lengths[i]`` of ``postings``, an Arrow
    table ``(<keys>, w)``."""

    term_ids: np.ndarray  # sorted
    starts: np.ndarray
    lengths: np.ndarray
    postings: pa.Table

    def of(self, term_id: int) -> pa.Table:
        """One term's postings: a zero-copy slice, empty if it has none."""
        i = int(np.searchsorted(self.term_ids, term_id))
        if i == len(self.term_ids) or self.term_ids[i] != term_id:
            return self.postings.slice(0, 0)
        return self.postings.slice(self.starts[i], self.lengths[i])


def _term_ids(rows: pa.Table, vocab: dict[tuple[str, str], int]) -> np.ndarray:
    """Each row's fitted term id of its ``(field, term)``, -1 if out of
    vocabulary. Both columns are dictionary-encoded, so the vocabulary is
    looked up once per distinct field and term, with no Python object
    per row."""
    field, term = (pc.dictionary_encode(rows.column(c)).combine_chunks() for c in ("field", "term"))
    fields, terms = field.dictionary.to_pylist(), term.dictionary.to_pylist()
    ids = np.array([vocab.get((f, t), -1) for f in fields for t in terms], np.int32)
    return ids.reshape(len(fields), len(terms))[field.indices.to_numpy(), term.indices.to_numpy()]


def _segment(rows: pa.Table, term_ids: np.ndarray, key_cols: list[str]) -> _Segment:
    """The posting segment of flat ``(<keys>, w)`` rows with their term
    ids: the rows stably sorted by term id, each term's postings one
    range. Terms are kept as ids of the fitted vocabulary, in arrays: a
    dict per segment would cost ~200 B a term."""
    by_term = np.argsort(term_ids, kind="stable")
    ids, starts, lengths = np.unique(term_ids[by_term], return_index=True, return_counts=True)
    return _Segment(ids, starts, lengths, rows.select([*key_cols, "w"]).take(by_term))


def _fit_segments(model: "TfidfModel") -> tuple[_Segment, ...] | None:
    """A model's whole weights as one segment, or ``None`` (served from
    Spark) when its postings would take more than ``MAX_DRIVER_POSTING_BYTES``
    on the driver: one job sums their Arrow widths, a string or binary
    key counting its bytes and any other key 8 B; then one flat
    ``toArrow`` of the weights (no shuffle) feeds ``_segment``."""
    width = F.lit(8)
    for c in model.key_cols:
        text = isinstance(model.weights.schema[c].dataType, (StringType, BinaryType))
        width += F.coalesce(F.octet_length(c), F.lit(0)) + 4 if text else 8
    if (model.weights.agg(F.sum(width)).first()[0] or 0) > MAX_DRIVER_POSTING_BYTES:
        return None
    rows = model.weights.toArrow()
    return (_segment(rows, _term_ids(rows, model.vocab()), model.key_cols),)


@dataclass
class TfidfModel:
    """A fitted index: one weight table + one idf table per text field.

    With ``persist=True`` the tables are cached (MEMORY_AND_DISK) for
    the build-once/score-many lifecycle — exactly the reference's
    ``Index.fit`` → repeated ``search`` loop. Call ``unpersist`` when
    done."""

    weights: DataFrame  # field, <key_cols...>, term, w  (L2-normalized)
    idf: DataFrame  # field, term, idf
    key_cols: list[str]
    text_fields: list[str]
    token_mode: str = "ascii"  # query-side tokenization must match the build
    # every table the fit persisted; the models an add derives share
    # this tuple (an add's delta is a local relation, not cached)
    cached: tuple[DataFrame, ...] = ()
    # collected on first use: the idf (shared by every model an add
    # derives; an idf table is frozen once fitted) and the weights as
    # driver posting segments (``None``: served from Spark; an add
    # resolves them when its parent's were)
    driver_idf: _Once | None = dataclass_field(default=None, repr=False, compare=False)
    driver_postings: _Once | None = dataclass_field(default=None, repr=False, compare=False)

    def __post_init__(self) -> None:
        if not self.cached:
            self.cached = (self.weights,)
        if self.driver_idf is None:
            self.driver_idf = _Once(partial(_collect_idf, self.idf))
        if self.driver_postings is None:
            self.driver_postings = _Once(partial(_fit_segments, self))

    def idf_map(self) -> dict[tuple[str, str], float]:
        """``{(field, term): idf}`` on the driver; the first call runs
        one job that collects the idf table."""
        return self.driver_idf.get()[0]

    def vocab(self) -> dict[tuple[str, str], int]:
        return self.driver_idf.get()[1]

    def unpersist(self) -> None:
        """Release the fit's cached tables, which every model derived
        from it by adds shares."""
        for table in self.cached:
            table.unpersist()
        self.idf.unpersist()


def _tokens(
    df: DataFrame, key_cols: list[str], field: str, pattern: str = TOKEN_PATTERN
) -> DataFrame:
    return df.select(
        *key_cols,
        F.explode(
            F.regexp_extract_all(F.lower(F.col(field)), F.lit(pattern), F.lit(0))
        ).alias("term"),
    )


def _term_frequencies(
    df: DataFrame, key_cols: list[str], field: str, pattern: str = TOKEN_PATTERN
) -> DataFrame:
    """Per-(doc, term) counts WITHOUT shuffling the token stream: sort
    the row's token array, find run starts, emit (term, run length) —
    a narrow O(n log n)-per-row map that replaces the classic
    explode → groupBy(doc, term) whose shuffle moves every token
    occurrence over the wire. Identical output (pinned in
    tests/test_tfidf.py); ~1.7× faster on the sf0.1 corpus, and at
    100 TB it removes the widest shuffle of the index build. Memory is
    bounded by the already-materialized token array (regexp_extract_all
    builds it either way)."""
    base = df.select(
        *key_cols,
        F.array_sort(
            F.regexp_extract_all(F.lower(F.col(field)), F.lit(pattern), F.lit(0))
        ).alias("t"),
    ).where(F.size("t") > 0)
    runs = base.withColumn(
        "starts",
        F.expr("filter(sequence(1, size(t)), i -> i = 1 OR element_at(t, i) <> element_at(t, i - 1))"),
    )
    return runs.select(
        *key_cols,
        F.expr(
            """explode(transform(sequence(1, size(starts)),
                 j -> struct(element_at(t, element_at(starts, j)) AS term,
                             cast(IF(j = size(starts), size(t) + 1,
                                     element_at(starts, j + 1)) - element_at(starts, j) as bigint) AS tf)))"""
        ).alias("kv"),
    ).select(*key_cols, F.col("kv.term").alias("term"), F.col("kv.tf").alias("tf"))


def _normalized_weights(
    tf: DataFrame, idf: DataFrame, key_cols: list[str], field: str
) -> DataFrame:
    """``(field, <keys>, term, w)``: tf·idf over the ``(term, idf)``
    table, L2-normalized per doc. The norm is a window over the doc key:
    one shuffle, no groupBy+self-join round trip (same math, half the
    exchanges), and it leaves the weights hash-partitioned on the key."""
    w = tf.join(F.broadcast(idf), "term").select(
        *key_cols, "term", (F.col("tf") * F.col("idf")).alias("w_raw")
    )
    doc_w = Window.partitionBy(*key_cols)
    return w.select(
        F.lit(field).alias("field"),
        *key_cols,
        "term",
        (F.col("w_raw") / F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw")).over(doc_w))).alias("w"),
    )


def _fit_field(
    tf: DataFrame,
    key_cols: list[str],
    field: str,
    n_docs: int,
    min_df: int,
    max_df: float,
) -> tuple[DataFrame, DataFrame]:
    """The idf and weight arithmetic of one text field, shared by
    ``build_tfidf`` and ``merge_tf_fragments`` so a merged index equals
    a direct build. ``tf`` is the ``(<keys>, term, tf)`` table; ``n_docs``
    enters as a LITERAL (no 1-row crossJoin/broadcast per consumer).
    Returns ``(idf, weights)``: ``(field, term, idf)`` with the vocabulary
    pruned by document frequency BEFORE the norms, and the normalized
    weights."""
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfreq = dfreq.where((F.col("df") >= min_df) & (F.col("df") <= max_df * F.lit(n_docs)))
    idf = dfreq.select(
        F.lit(field).alias("field"),
        "term",
        (F.log((F.lit(1) + F.lit(n_docs)) / (F.lit(1) + F.col("df"))) + F.lit(1)).alias("idf"),
    )
    return idf, _normalized_weights(tf, idf.drop("field"), key_cols, field)


def _check_fit(
    df: DataFrame, key_cols: list[str], data_cols: list[str], min_df: int, max_df: float
) -> None:
    """Shared by ``build_tfidf`` and ``merge_tf_fragments``, before any
    Spark job: the prune bounds, and the columns the fit reads, which
    ``df`` must have: at least one key column and at least one data
    column (the text fields, or a fragment's ``term`` and ``tf``)."""
    if min_df < 1:
        raise ValueError("min_df must be >= 1 (absolute document count)")
    if not (0.0 < max_df <= 1.0):
        raise ValueError("max_df must be in (0, 1] (proportion of docs)")
    if not key_cols or not data_cols:
        raise ValueError(f"need key and text columns, got {key_cols!r} and {data_cols!r}")
    missing = [c for c in (*key_cols, *data_cols) if c not in df.columns]
    if missing:
        raise ValueError(f"columns {missing} not in {df.columns}")


def build_tfidf(
    df: DataFrame,
    key_cols: list[str],
    text_fields: list[str],
    persist: bool = False,
    token_mode: str = "ascii",
    min_df: int = 1,
    max_df: float = 1.0,
) -> TfidfModel:
    """Fit one TF-IDF model per text field over ``df``.

    Everything is declarative: tokenize + per-row run-length tf
    (narrow) → df/idf groupBy → per-doc norm window. Catalyst plans
    map-side partial aggregation for the df groupBy.

    ``token_mode="unicode"`` switches the tokenizer to the
    unicode-aware pattern (closes the sklearn ``(?u)\\w`` parity gap for
    multilingual corpora); the fitted model remembers the mode so query
    tokenization stays consistent.

    ``min_df``/``max_df`` prune the vocabulary with sklearn's
    ``TfidfVectorizer`` semantics: keep terms appearing in at least
    ``min_df`` docs (absolute count) and at most ``max_df``·n_docs
    (proportion). Pruning happens BEFORE idf/norms, so document vectors
    are L2-normalized over the surviving vocabulary only — exactly
    sklearn's behavior. At scale this is also the perf lever: dropping
    hapax terms (min_df=2) typically halves the index; dropping
    stop-like terms (max_df<1) removes the highest-fan-out join keys.
    """
    _check_fit(df, key_cols, text_fields, min_df, max_df)
    pattern = token_pattern_for(token_mode)
    # The tokenize pass is the build's heavy map stage, and a single-file
    # corpus gives it ONE scan partition (one row group = one split),
    # serializing the regex+array_sort kernel to one core. Identity on
    # multi-file inputs.
    from .scale import ensure_scan_parallelism

    # The corpus count feeds dfreq's max_df filter AND idf, and idf feeds
    # the weight AND query-vector paths. Collected once as a scalar, it
    # enters every consumer as a literal: no consumer re-runs the count,
    # and no 1-row table needs a crossJoin + BroadcastExchange. So the
    # build EXECUTES Spark jobs (this count, and the tf materialization
    # below): build_tfidf is a FIT, not a lazy plan, and callers that
    # only want a plan shape must not call it.
    n_docs_val = df.count()
    df = ensure_scan_parallelism(df, label="tfidf corpus scan")
    from pyspark import StorageLevel

    per_field = []
    idf_tables = []
    tf_tables = []
    for field in text_fields:
        # Narrow per-row run-length counting — the raw token stream
        # never shuffles. The repartition on the doc key pre-satisfies
        # the L2 norm window's partitioning, and the tf table is
        # materialized ONCE across its 4-10 consumers: ReuseExchange does
        # not deduplicate them (column pruning makes the dfreq/w/qvec
        # exchange subtrees differ, so without it the chunk+tokenize
        # pipeline ran up to 10x per query). Wire bytes: |distinct (doc,
        # term)| rows instead of every token occurrence.
        #
        # A lazy, spillable persist() rather than an eager checkpoint: at
        # sf10 (plans/r17/ab_tfidf_sf10.json) the checkpoint's write+read
        # barrier cost 2.2-2.5x the persist wall (search 28.9 s vs
        # 11.6 s; multiquery 9.1 vs 7.5 s), and not materializing at all
        # re-tokenizes the corpus per consumer, which stops being cheap
        # once the input outgrows the page cache.
        tf = _term_frequencies(df, key_cols, field, pattern).repartition(
            *[F.col(c) for c in key_cols]
        ).persist(StorageLevel.MEMORY_AND_DISK)
        tf_tables.append(tf)
        idf, weights = _fit_field(tf, key_cols, field, n_docs_val, min_df, max_df)
        per_field.append(weights)
        idf_tables.append(idf)

    weights_all = per_field[0]
    for other in per_field[1:]:
        weights_all = weights_all.unionByName(other)
    idf_all = idf_tables[0]
    for other in idf_tables[1:]:
        idf_all = idf_all.unionByName(other)
    if persist:
        # Serve-many-queries lifecycle (the reference's fit→search loop):
        # materialize the index once, every search is then one filtered
        # scan of cached blocks. Single-shot pipelines skip this —
        # materialization costs more than the lazy plan.
        weights_all = weights_all.persist()
        idf_all = idf_all.persist()
    return TfidfModel(
        weights=weights_all,
        idf=idf_all,
        key_cols=key_cols,
        text_fields=text_fields,
        token_mode=token_mode,
        cached=(*tf_tables, weights_all),
    )


def tokenize_query(query: str, token_mode: str = "ascii") -> dict[str, int]:
    """Driver-side tokenization of a literal query string — same token
    class as the corpus path; a query is one tiny string, not
    distributed data. Python's ``\\w`` is unicode by default, so ascii
    mode pins ``re.ASCII`` to match Java's ASCII ``\\w``; unicode mode
    uses the default (≈ the ``\\p{{L}}\\p{{N}}_`` corpus class)."""
    token_pattern_for(token_mode)  # validate mode
    flags = re.ASCII if token_mode == "ascii" else 0
    counts: dict[str, int] = {}
    for tok in re.findall(r"\w\w+", query.lower(), flags):
        counts[tok] = counts.get(tok, 0) + 1
    return counts


def _query_vector(
    model: TfidfModel, query: str, boosts: dict[str, float]
) -> dict[str, dict[str, float]]:
    """``{field: {term: weight}}`` built on the driver: tf·idf over the
    fitted vocabulary (OOV terms drop out), L2-normalized per field,
    times the field's boost."""
    counts = tokenize_query(query, model.token_mode)
    if not counts:
        return {}
    idf = model.idf_map()
    qvec = {}
    for fname in model.text_fields:
        raw = {t: c * idf[(fname, t)] for t, c in counts.items() if (fname, t) in idf}
        if raw:
            norm = math.sqrt(sum(w * w for w in raw.values()))
            boost = float(boosts.get(fname, 1.0))
            qvec[fname] = {t: w / norm * boost for t, w in raw.items()}
    return qvec


def _check_k(k: int) -> None:
    """Shared by every top-k search, before any work: ``k = 0`` asks
    for no rows, a negative ``k`` is bad input."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def search_topk(
    spark: SparkSession,
    model: TfidfModel,
    query: str,
    k: int = 5,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k docs by summed per-field cosine similarity: ``(<keys>,
    score)``.

    The query vector is built on the driver from the fitted idf dict
    (the first search of a fit collects it: one extra job). Scoring
    keeps the rows of the query's (field, term) pairs of
    ``model.weights``, multiplies ``w`` by the query weight from a
    literal map, sums per doc key and takes the top k. On a fitted model
    that is ONE Spark job: the sum is map-side, as the weights are
    already partitioned on the key. After adds it is 2 jobs, however
    many adds: their deltas are local relations, not partitioned on the
    key, so the sum adds an exchange. A query with no in-vocabulary term
    returns an empty DataFrame that starts no job: its filter is the
    literal ``false``, which the optimizer turns into an empty local
    relation.
    """
    qvec = _query_vector(model, query, boosts or {})
    keep, qw = F.lit(False), None
    for fname, terms in qvec.items():
        on_field = F.col("field") == fname
        weight = F.create_map(*[F.lit(x) for tw in terms.items() for x in tw])[F.col("term")]
        keep |= on_field & F.col("term").isin(list(terms))
        qw = F.when(on_field, weight) if qw is None else qw.when(on_field, weight)
    return _top_k(model.weights.where(keep), model.key_cols, F.sum(F.col("w") * qw), k)


def _top_k(rows: DataFrame, key_cols: list[str], score: Column, k: int) -> DataFrame:
    """``(<keys>, score)``: ``rows`` grouped by ``key_cols`` with the
    aggregate ``score``, the top ``k`` by that score rounded to 8 dp
    desc, then the keys asc. Rounding before ordering keeps sub-1e-8
    float drift between engines from picking a different row set at the
    k boundary (the DuckDB oracles order the same way). Shared by
    ``search_topk`` and ``bm25.search_bm25``; checks ``k`` before
    building anything."""
    _check_k(k)
    order = [F.round(F.col("score"), 8).desc()] + [F.col(c).asc() for c in key_cols]
    return rows.groupBy(*key_cols).agg(score.alias("score")).orderBy(*order).limit(k)


# Every driver search scores on this one thread, and every add weights
# its delta on it. A search's temporaries are freed when it returns,
# but the allocators keep freed memory with the thread that allocated
# it (glibc in a malloc arena per thread, the jemalloc behind Arrow's
# pool in per-thread caches and arenas): scored on each client's
# thread, they strand pages with every client, and the process's peak
# RSS grows with the number of clients (ragbench agent workload, 4
# clients on a 4-core VM: 5.5 MB higher median peak over 3 pairs than
# on this thread). Scoring takes a few milliseconds, so the queue costs
# little next to the DataFrame each search returns.
_SCORER = ThreadPoolExecutor(max_workers=1, thread_name_prefix="tfidf-score")


def _top_postings(
    segments: tuple[_Segment, ...],
    qvec: dict[str, dict[str, float]],
    vocab: dict[tuple[str, str], int],
    key_cols: list[str],
    k: int,
) -> pa.Table:
    """``(<keys>, score)`` of the top k: the query's postings sliced from
    every segment, ``w`` × the query weight summed per key (nulls group
    as in Spark's ``groupBy``; ``use_threads=False`` fixes the sum order),
    ordered by the score rounded to 8 dp desc, then key asc (nulls
    first, as in Spark; strings compare as UTF-8 bytes)."""
    parts, qws = [], []
    for fname, terms in qvec.items():
        for term, qw in terms.items():
            for seg in segments:
                parts.append(seg.of(vocab[(fname, term)]))
                qws.append(qw)
    # a segment's key fields keep the nullability and width of the table
    # it was collected from; like Spark's ``unionByName``, merge them
    postings = pa.concat_tables(parts, promote_options="permissive")
    qw = pa.array(np.repeat(qws, [p.num_rows for p in parts]))
    # no key column is called ``score``: it would clash in the output
    postings = postings.append_column("score", pc.multiply(postings.column("w"), qw))
    scored = pa.TableGroupBy(postings, key_cols, use_threads=False).aggregate(
        [("score", "sum")]
    )
    scored = scored.append_column("score", pc.round(scored.column("score_sum"), 8))
    order = pc.sort_indices(
        scored,
        sort_keys=[("score", "descending"), *[(c, "ascending") for c in key_cols]],
        null_placement="at_start",
    )
    top = scored.take(order[:k]).select([*key_cols, "score_sum"])
    return top.rename_columns([*key_cols, "score"])


def search_topk_local(
    spark: SparkSession,
    model: TfidfModel,
    query: str,
    k: int = 5,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """``search_topk`` answered on the driver: the same rows, columns and
    types, and no Spark job once the model has served one search (the
    first collects the idf and, unless an add extended segments the
    driver already held, the model's weights as a segment).

    The query vector is ``search_topk``'s. Every segment's postings of
    the query's ``(field, term)`` pairs are grouped on the key columns
    themselves (a key in several segments sums, as the Spark ``groupBy``
    does, null key parts included), and the top k, already an Arrow
    table, are wrapped by ``createDataFrame``: a local relation, which
    builds and collects without a job. A query with no in-vocabulary
    term, or a model the driver does not hold (over
    ``MAX_DRIVER_POSTING_BYTES``), goes to ``search_topk``."""
    _check_k(k)
    qvec = _query_vector(model, query, boosts or {})
    segments = model.driver_postings.get() if qvec else None
    if segments is None:
        return search_topk(spark, model, query, k=k, boosts=boosts)
    top = _SCORER.submit(_top_postings, segments, qvec, model.vocab(), model.key_cols, k)
    schema = StructType(
        [model.weights.schema[c] for c in model.key_cols] + [StructField("score", DoubleType())]
    )
    return spark.createDataFrame(top.result(), schema)


def search_topk_batch(
    spark: SparkSession,
    model: TfidfModel,
    queries: list[tuple[int, str]],
    k: int = 5,
) -> DataFrame:
    """Per-query top-k for a driver-side list of ``(query_id, text)``:
    ``(query_id, <keys>, score)``. A thin wrapper over ``search_topk_df``
    on the queries as an Arrow local relation — one broadcast of all
    query vectors, one pass over the index.
    """
    ids = pa.array([i for i, _ in queries], pa.int64())
    texts = pa.array([t for _, t in queries], pa.string())
    table = spark.createDataFrame(
        pa.table({"query_id": ids, "query": texts}), "query_id long, query string"
    )
    return search_topk_df(model, table, ["query_id"], "query", k=k).drop("rank")


def search_topk_df(
    model: TfidfModel,
    queries: DataFrame,
    query_key_cols: list[str],
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Top-k per query where the query workload is itself a DataFrame —
    the distributed-evaluation shape (``search_topk_batch`` takes a
    driver-side list; at scale the queries are a table of millions of
    rows, e.g. every generated eval question).

    Query texts are tokenized with the SAME engine-side regex as the
    corpus build (not driver-side ``re``), so the whole flow stays in
    the JVM. Output: ``(*query_key_cols, *model.key_cols, score, rank)``
    with ``rank`` 1..k per query by rounded-score desc, key asc.

    The query vectors are broadcast, so the index side never shuffles.
    """
    _check_k(k)
    pattern = token_pattern_for(model.token_mode)
    qk = list(query_key_cols)
    qtf = (
        queries.select(
            *qk,
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), F.lit(0))
            ).alias("term"),
        )
        .groupBy(*qk, "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )
    q = qtf.join(model.idf, "term").select(
        *qk, "field", "term", (F.col("qtf") * F.col("idf")).alias("qw_raw")
    )
    qw_win = Window.partitionBy(*qk, "field")
    qvec = q.select(
        *qk,
        "field",
        "term",
        (F.col("qw_raw") / F.sqrt(F.sum(F.col("qw_raw") * F.col("qw_raw")).over(qw_win))).alias(
            "qw"
        ),
    )
    scored = (
        model.weights.join(F.broadcast(qvec), ["field", "term"])
        .groupBy(*qk, *model.key_cols)
        .agg(F.sum(F.col("w") * F.col("qw")).alias("score"))
    )
    w = Window.partitionBy(*qk).orderBy(
        F.round(F.col("score"), 8).desc(), *[F.col(c).asc() for c in model.key_cols]
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _local_delta(
    spark: SparkSession,
    tf: pa.Table,
    schema: StructType,
    idf: dict[tuple[str, str], float],
    vocab: dict[tuple[str, str], int],
    key_cols: list[str],
) -> tuple[DataFrame, _Segment]:
    """An add's weights computed on the driver from its collected
    ``(field, <keys>, term, tf)`` rows, with ``_normalized_weights``'s
    arithmetic: OOV terms drop out, ``w`` = tf·idf, L2-normalized per
    ``(field, <keys>)`` group (not per row: like the Spark window over
    the key, a key that a batch repeats is normalized as one doc).
    Returns the ``(field, <keys>, term, w)`` weights as a local relation
    (built without a job, nothing persisted) and as a posting segment."""
    term_ids = _term_ids(tf, vocab)
    known = term_ids >= 0
    tf, term_ids = tf.filter(pa.array(known)), term_ids[known]
    # term id i is the idf dict's i-th key (``_collect_idf``)
    w = tf.column("tf").to_numpy() * np.fromiter(idf.values(), np.float64, len(idf))[term_ids]
    # one code per (field, <keys>); nulls are a value, as in the window
    codes = [
        pc.dictionary_encode(tf.column(c).combine_chunks(), null_encoding="encode")
        .indices.to_numpy()
        for c in ["field", *key_cols]
    ]
    _, doc = np.unique(np.stack(codes, axis=1), axis=0, return_inverse=True)
    w = w / np.sqrt(np.bincount(doc, weights=w * w)[doc])
    weights = tf.drop_columns(["tf"]).append_column("w", pa.array(w))
    return spark.createDataFrame(weights, schema), _segment(weights, term_ids, key_cols)


def add_documents(model: TfidfModel, new_docs: DataFrame) -> TfidfModel:
    """Frozen-vocabulary incremental index update — the serve-path
    maintenance pattern (index a day's new docs without refitting):
    new documents are weighted with the FITTED idf table, exactly
    sklearn's ``transform()`` on unseen docs. OOV terms drop out;
    corpus statistics (df, N) are intentionally frozen — an exact
    refresh is a rebuild, and serving systems batch those.

    An add is ONE narrow Spark job: the new docs' ``(field, <keys>,
    term, tf)`` rows, collected with ``toArrow``. The driver weights
    them (``_local_delta``) and hands Spark the weights as a local
    relation, so the returned model's ``weights`` is the lazy union of
    the input's and the delta, nothing is persisted, and it shares the
    input's idf and cached tables: ``unpersist`` the last model only,
    which releases the fit's. If the driver already holds the input's
    postings, the new model holds them plus the delta's segment, or is
    served from Spark once they exceed ``MAX_DRIVER_POSTING_BYTES``. If
    it does not (no driver search has asked for them), the add collects
    none: the new model's first driver search collects its whole
    weights, as a fit's does. A key that is already indexed is not
    replaced: its old and new weights both count, in ``search_topk`` as
    on the driver."""
    pattern = token_pattern_for(model.token_mode)
    keys = model.key_cols
    tf = reduce(DataFrame.unionByName, [
        _term_frequencies(new_docs, keys, f, pattern).select(F.lit(f).alias("field"), "*")
        for f in model.text_fields
    ])
    schema = StructType([*tf.schema.fields[:-1], StructField("w", DoubleType())])
    delta, segment = _SCORER.submit(
        _local_delta, new_docs.sparkSession, tf.toArrow(), schema,
        model.idf_map(), model.vocab(), keys,
    ).result()
    postings = None  # the new model collects its own on first driver search
    if model.driver_postings.ready:
        segments = model.driver_postings.get()
        if segments is not None:
            segments = (*segments, segment)
            if sum(s.postings.nbytes for s in segments) > MAX_DRIVER_POSTING_BYTES:
                segments = None
        postings = _Once(lambda: segments)
        postings.get()  # so the next add extends it, with no chain of closures
    return TfidfModel(
        weights=model.weights.unionByName(delta),
        idf=model.idf,
        key_cols=keys,
        text_fields=model.text_fields,
        token_mode=model.token_mode,
        cached=model.cached,
        driver_idf=model.driver_idf,
        driver_postings=postings,
    )


def save_tfidf(model: TfidfModel, path: str) -> None:
    """Persist a fitted index as parquet tables + a metadata row —
    the build-once / serve-forever lifecycle (the reference refits
    ``minsearch`` in-memory per process; a 100 TB index is built by a
    batch job and SERVED by many, so it must round-trip through
    storage). Weights land partitionable-by-term, which is exactly the
    scoring join key; everything goes through the cluster FS (no
    driver-local file I/O), so the path may be s3://, hdfs://, …"""
    import json

    model.weights.write.mode("overwrite").parquet(f"{path}/weights")
    model.idf.write.mode("overwrite").parquet(f"{path}/idf")
    spark = model.weights.sparkSession
    meta = json.dumps(
        {
            "key_cols": model.key_cols,
            "text_fields": model.text_fields,
            "token_mode": model.token_mode,
            "format_version": 1,
        }
    )
    meta_row = spark.createDataFrame(pa.table({"meta": [meta]}), "meta string")
    meta_row.coalesce(1).write.mode("overwrite").json(f"{path}/meta")


def load_tfidf(spark: SparkSession, path: str, persist: bool = False) -> TfidfModel:
    """Reload a ``save_tfidf`` index. ``persist=True`` pins the tables
    in cache for the serve-many loop (same contract as
    ``build_tfidf(persist=True)``)."""
    import json

    meta = json.loads(spark.read.json(f"{path}/meta").collect()[0]["meta"])
    if meta.get("format_version") != 1:
        raise ValueError(f"unsupported tfidf index format: {meta.get('format_version')}")
    weights = spark.read.parquet(f"{path}/weights")
    idf = spark.read.parquet(f"{path}/idf")
    if persist:
        weights = weights.persist()
        idf = idf.persist()
    return TfidfModel(
        weights=weights,
        idf=idf,
        key_cols=list(meta["key_cols"]),
        text_fields=list(meta["text_fields"]),
        token_mode=meta["token_mode"],
    )


def shard_tf_fragment(
    df: DataFrame, key_cols: list[str], field: str, token_mode: str = "ascii"
) -> tuple[DataFrame, DataFrame]:
    """One shard's POSTING FRAGMENT for a distributed index build:
    the (doc, term, tf) table plus the shard's doc count. Tokenization
    — the expensive pass at 100 TB — runs exactly once per shard; the
    fragments are what shard jobs persist (tiny vs the text) and what
    ``merge_tf_fragments`` later combines into the global index."""
    pattern = token_pattern_for(token_mode)
    tf = _term_frequencies(df, key_cols, field, pattern)
    n = df.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    return tf, n


def merge_tf_fragments(
    fragments: list[tuple[DataFrame, DataFrame]],
    key_cols: list[str],
    field: str,
    token_mode: str = "ascii",
    min_df: int = 1,
    max_df: float = 1.0,
) -> TfidfModel:
    """EXACT merge of doc-disjoint shard fragments into one global
    TF-IDF model — the build-shards-independently / merge-once pattern
    of every distributed inverted-index system (each shard tokenizes
    its slice; the merge never touches text again).

    Correctness requires recomputing vocabulary statistics GLOBALLY,
    not unioning per-shard models: df(term) = Σ shard dfs (doc-disjoint
    shards), idf from the merged df and total N, and min_df/max_df
    pruning against the GLOBAL df — a term that is hapax in every
    shard but common across them must survive (pinned in
    tests/test_tfidf.py). The idf and weight arithmetic is
    ``build_tfidf``'s own (``_fit_field``), so merged == direct; the
    equality test pins it.

    Scale shape: the total N is one tiny job over the shard counts
    (collected as a literal, like ``build_tfidf``'s corpus count); the
    merge is then two combinable aggregations (df per term, L2 norm per
    doc) plus one broadcast idf join over the unioned fragment rows —
    |distinct (doc, term)| wire bytes, no retokenization, no text
    movement."""
    if not fragments:
        raise ValueError("fragments must be non-empty")
    _check_fit(fragments[0][0], key_cols, ["term", "tf"], min_df, max_df)
    # PRECONDITION (caller-enforced, cannot be checked without a join):
    # shards must be DOC-DISJOINT — an overlapping doc double-counts
    # its df contributions and inflates n_docs.
    tf = fragments[0][0]
    for other, _ in fragments[1:]:
        tf = tf.unionByName(other)
    counts = fragments[0][1]
    for _, other in fragments[1:]:
        counts = counts.unionByName(other)
    n_docs = counts.agg(F.sum("n_docs")).first()[0] or 0

    tf = tf.repartition(*[F.col(c) for c in key_cols])
    idf, weights = _fit_field(tf, key_cols, field, n_docs, min_df, max_df)
    return TfidfModel(
        weights=weights,
        idf=idf,
        key_cols=key_cols,
        text_fields=[field],
        token_mode=token_mode,
    )
