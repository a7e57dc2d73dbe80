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
window. The fitted idf is small (one row per vocabulary term), so the
serving path keeps it on the driver as a dict, collected once on the
first search. A single-query search then builds its query vector on the
driver and runs ONE job over the cached weights: a ``(field, term)``
filter → ``w`` × the query weight from a literal map → partial
aggregation per doc key (the scan is already partitioned on the key, so
there is no exchange) → ``TakeOrderedAndProject`` for the global top-k.
Query workloads that are themselves tables (``search_topk_df``) keep an
in-JVM tokenizer and a broadcast join on ``(field, term)``. An add
persists and materializes the merged index, so later searches scan
cached blocks and no add leaves tasks on them. The only wide ops in the
build are the (term) and (doc) aggregations, both map-side combinable.
"""

from __future__ import annotations

import math
import re
import threading
from dataclasses import dataclass, field as dataclass_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


class _DriverIdf:
    """The fitted idf as a driver-side dict ``{(field, term): idf}``,
    collected on first use. An idf table is frozen once fitted, so every
    model derived from it by ``add_documents`` shares one instance and
    the table is collected once per fit."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._map: dict[tuple[str, str], float] | None = None

    def get(self, idf: DataFrame) -> dict[tuple[str, str], float]:
        if self._map is None:
            with self._lock:
                if self._map is None:
                    self._map = {(r["field"], r["term"]): r["idf"] for r in idf.collect()}
        return self._map


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
    driver_idf: _DriverIdf = dataclass_field(
        default_factory=_DriverIdf, repr=False, compare=False
    )

    def idf_map(self) -> dict[tuple[str, str], float]:
        """``{(field, term): idf}`` on the driver; the first call runs
        one job that collects the idf table."""
        return self.driver_idf.get(self.idf)

    def unpersist(self) -> None:
        self.weights.unpersist()
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
    if min_df < 1:
        raise ValueError("min_df must be >= 1 (absolute document count)")
    if not (0.0 < max_df <= 1.0):
        raise ValueError("max_df must be in (0, 1] (proportion of docs)")
    pattern = token_pattern_for(token_mode)
    # r16 OPTIMIZATION: the tokenize pass is the model build's heavy
    # map stage, and a single-file corpus gives it ONE scan partition
    # (one row group = one split), serializing the regex+array_sort
    # run-length kernel to one core. Identity on multi-file inputs.
    from .scale import ensure_scan_parallelism

    # The corpus count is consumed by dfreq's max_df filter AND by idf,
    # and idf is consumed by the weight AND query-vector paths —
    # un-materialized, each consumer re-ran the whole corpus count (4-6
    # extra corpus passes in the r16 before-plans). r16 materialized it
    # as a 1-row checkpoint; r17 collects the scalar to the driver
    # instead (guide §2.4): one count job either way, but the literal
    # removes every crossJoin+BroadcastExchange the 1-row table needed
    # (4 broadcast exchanges in the tfidf_search_topk plan). NOTE the
    # build therefore EXECUTES Spark jobs at construction time (this
    # count; plus the tf materialization below) — build_tfidf is a FIT,
    # not a lazy plan; callers that only want a plan shape must not
    # call it (ADVICE r16 documented contract).
    n_docs_val = df.count()
    df = ensure_scan_parallelism(df, label="tfidf corpus scan")
    from pyspark import StorageLevel

    per_field = []
    idf_tables = []
    for field in text_fields:
        # Narrow per-row run-length counting — the raw token stream
        # never shuffles. The repartition on the doc key pre-satisfies
        # the L2 norm window's partitioning, and the tf table is
        # materialized ONCE across its 4-10 consumers — ReuseExchange
        # was NOT deduplicating them in practice (column-pruning
        # differences between dfreq/w/qvec made the exchange subtrees
        # non-identical: the tfidf_search_topk r16 before-plan carries
        # 10 `Scan parquet` nodes, i.e. the chunk+tokenize pipeline ran
        # up to 10x per query). Wire bytes: |distinct (doc, term)| rows
        # instead of every token occurrence.
        #
        # r17: lazy persist(), NOT the r16 eager durable_checkpoint —
        # the sf10 interleaved A/B (plans/r17/ab_tfidf_sf10.json)
        # measured the checkpoint's write+read barrier at 2.2-2.5x the
        # persist/no-mat wall once the tf table is big (search 28.9 s
        # ckpt vs 11.6 s persist; multiquery 9.1 vs 7.5), while at
        # sf0.1 the three shapes sit within ~0.4 s. One tokenize pass,
        # spillable blocks, no construction-time barrier — the shape
        # that survives 100 TB, where re-tokenizing the corpus per
        # consumer (no-mat) stops being cheap the moment the input
        # outgrows the page cache.
        tf = _term_frequencies(df, key_cols, field, pattern).repartition(
            *[F.col(c) for c in key_cols]
        ).persist(StorageLevel.MEMORY_AND_DISK)
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
    (the first search of a fit collects it: one extra job). Scoring is
    then ONE Spark job over ``model.weights``: keep the rows of the
    query's (field, term) pairs, multiply ``w`` by the query weight from
    a literal map, sum per doc key (map-side — the weights are already
    partitioned on the key), and take the top k. A query with no
    in-vocabulary term returns an empty DataFrame that starts no job.
    """
    qvec = _query_vector(model, query, boosts or {})
    if not qvec:
        return model.weights.select(*model.key_cols).limit(0).withColumn(
            "score", F.lit(0.0)
        )
    keep = qw = None
    for fname, terms in qvec.items():
        on_field = F.col("field") == fname
        match = on_field & F.col("term").isin(list(terms))
        weight = F.create_map(*[F.lit(x) for tw in terms.items() for x in tw])[F.col("term")]
        keep = match if keep is None else keep | match
        qw = F.when(on_field, weight) if qw is None else qw.when(on_field, weight)
    scored = (
        model.weights.where(keep)
        .groupBy(*model.key_cols)
        .agg(F.sum(F.col("w") * qw).alias("score"))
    )
    # Order by the ROUNDED score (8 dp) + key tie-breaks: sub-1e-8 float
    # drift between engines must not pick a different row set at the k
    # boundary (the DuckDB oracles order the same way).
    order = [F.round(F.col("score"), 8).desc()] + [F.col(c).asc() for c in model.key_cols]
    return scored.orderBy(*order).limit(k)


def search_topk_batch(
    spark: SparkSession,
    model: TfidfModel,
    queries: list[tuple[int, str]],
    k: int = 5,
) -> DataFrame:
    """Per-query top-k for a driver-side list of ``(query_id, text)``:
    ``(query_id, <keys>, score)``. A thin wrapper over ``search_topk_df``
    — one broadcast of all query vectors, one pass over the index.
    """
    table = spark.createDataFrame(queries, "query_id long, query string")
    return search_topk_df(model, table, ["query_id"], "query", k=k).drop("rank")


def search_topk_df(
    model: TfidfModel,
    queries: DataFrame,
    query_key_cols: list[str],
    text_col: str,
    k: int = 5,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-k per query where the query workload is itself a DataFrame —
    the distributed-evaluation shape (``search_topk_batch`` takes a
    driver-side list; at scale the queries are a table of millions of
    rows, e.g. every generated eval question).

    Query texts are tokenized with the SAME engine-side regex as the
    corpus build (not driver-side ``re``), so the whole flow stays in
    the JVM. Output: ``(*query_key_cols, *model.key_cols, score, rank)``
    with ``rank`` 1..k per query by rounded-score desc, key asc.

    ``broadcast_queries=True`` fits workloads that fit in a broadcast
    (eval sets, interactive batches) — the index side then never
    shuffles. For huge query tables set it False: the scoring join
    becomes a shuffled hash join on ``term``, still one pass over the
    index.
    """
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
    side = F.broadcast(qvec) if broadcast_queries else qvec
    scored = (
        model.weights.join(side, ["field", "term"])
        .groupBy(*qk, *model.key_cols)
        .agg(F.sum(F.col("w") * F.col("qw")).alias("score"))
    )
    w = Window.partitionBy(*qk).orderBy(
        F.round(F.col("score"), 8).desc(), *[F.col(c).asc() for c in model.key_cols]
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def add_documents(model: TfidfModel, new_docs: DataFrame) -> TfidfModel:
    """Frozen-vocabulary incremental index update — the serve-path
    maintenance pattern (index a day's new docs without refitting):
    new documents are weighted with the FITTED idf table, exactly
    sklearn's ``transform()`` on unseen docs. OOV terms drop out via
    the idf join; corpus statistics (df, N) are intentionally frozen —
    an exact refresh is a rebuild, and serving systems batch those.

    The delta build touches ONLY the new docs (tf + broadcast idf join +
    per-doc norm window); the old weights are reused as-is via union.
    The union is persisted and materialized before the call returns, so
    the add's cost is paid here once: a later search scans cached blocks
    in as many tasks as before the add (the union keeps the weights'
    hash partitioning). The logical plan still grows by one delta per
    add, and with it the driver's planning time. The input model stays
    cached (searches in flight may still read it); unpersist its
    ``weights`` once it is no longer served — the idf table is shared
    with the returned model. Runs Spark jobs."""
    pattern = token_pattern_for(model.token_mode)
    delta = None
    for fname in model.text_fields:
        tf = _term_frequencies(new_docs, model.key_cols, fname, pattern).repartition(
            *[F.col(c) for c in model.key_cols]
        )
        idf = model.idf.where(F.col("field") == fname).drop("field")
        w = _normalized_weights(tf, idf, model.key_cols, fname)
        delta = w if delta is None else delta.unionByName(w)
    weights = model.weights.unionByName(delta).persist()
    weights.count()
    return TfidfModel(
        weights=weights,
        idf=model.idf,
        key_cols=model.key_cols,
        text_fields=model.text_fields,
        token_mode=model.token_mode,
        driver_idf=model.driver_idf,
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
    spark.createDataFrame([(meta,)], ["meta"]).coalesce(1).write.mode("overwrite").json(
        f"{path}/meta"
    )


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
    if min_df < 1:
        raise ValueError("min_df must be >= 1 (absolute document count)")
    if not (0.0 < max_df <= 1.0):
        raise ValueError("max_df must be in (0, 1] (proportion of docs)")
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
