"""Independent reference implementations for the output checks.

``TfidfReference`` rebuilds the index in NumPy from the raw texts,
following the semantics documented in ``operators/tfidf.py`` and
``operators/chunker.py`` rather than calling them:

- chunks: a window of ``size`` chars every ``step`` chars; iteration
  stops after the first window that reaches past the end of the text;
  an empty text has no chunks.
- tokens: runs of ``\\w\\w+`` (ASCII) in the lowercased text; tf is the
  raw count per (chunk, term).
- idf: ``ln((1 + N) / (1 + df)) + 1`` with N the number of chunks.
- weights: tf·idf, L2-normalized per chunk; the query vector likewise,
  out-of-vocabulary terms dropped.
- score: the dot product; top-k by score rounded to 8 dp descending,
  then key ascending.
- added documents keep the fitted idf and N (frozen vocabulary); their
  out-of-vocabulary terms drop out.

``dedup_oracle_rows`` runs the DuckDB SQL that the plan registry
declares for ``minhash_dedup_canonical`` over the corpus the run wrote.
"""

from __future__ import annotations

import math
import re

import numpy as np

TOKEN_RE = re.compile(r"\w\w+", re.ASCII)


def chunk_text(text: str, size: int, step: int) -> list[tuple[int, str]]:
    out = []
    n = len(text)
    for i in range(0, n, step):
        out.append((i, text[i : i + size]))
        if i + size > n:
            break
    return out


def term_counts(text: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for tok in TOKEN_RE.findall(text.lower()):
        counts[tok] = counts.get(tok, 0) + 1
    return counts


class TfidfReference:
    def __init__(self, docs: list[tuple[int, str]], size: int, step: int):
        self.size, self.step = size, step
        chunks = [(d, s, t) for d, text in docs for s, t in chunk_text(text, size, step)]
        counts = [term_counts(t) for _, _, t in chunks]
        n = len(chunks)
        df: dict[str, int] = {}
        for c in counts:
            for term in c:
                df[term] = df.get(term, 0) + 1
        self.idf = {t: math.log((1 + n) / (1 + d)) + 1.0 for t, d in df.items()}
        self._term_ids = {t: i for i, t in enumerate(sorted(self.idf))}
        self._keys: list[tuple[int, int]] = []
        self._postings: dict[int, tuple[list[int], list[float]]] = {}
        self._add_chunks([(d, s) for d, s, _ in chunks], counts)

    def _add_chunks(self, keys: list[tuple[int, int]], counts: list[dict[str, int]]) -> None:
        for key, c in zip(keys, counts):
            raw = {t: tf * self.idf[t] for t, tf in c.items() if t in self.idf}
            if not raw:
                continue
            norm = math.sqrt(sum(w * w for w in raw.values()))
            row = len(self._keys)
            self._keys.append(key)
            for t, w in raw.items():
                ids, ws = self._postings.setdefault(self._term_ids[t], ([], []))
                ids.append(row)
                ws.append(w / norm)
        self._arrays = None

    def add_documents(self, docs: list[tuple[int, str]]) -> None:
        """Frozen-idf update: new chunks are weighted with the fitted
        idf; N and df do not change."""
        chunks = [(d, s, t) for d, text in docs for s, t in chunk_text(text, self.size, self.step)]
        self._add_chunks([(d, s) for d, s, _ in chunks], [term_counts(t) for _, _, t in chunks])

    def copy(self) -> "TfidfReference":
        other = object.__new__(TfidfReference)
        other.__dict__.update(self.__dict__)
        other._keys = list(self._keys)
        other._postings = {k: (list(a), list(b)) for k, (a, b) in self._postings.items()}
        other._arrays = None
        return other

    def search(self, query: str, k: int = 5) -> list[tuple[tuple[int, int], float]]:
        if self._arrays is None:
            self._arrays = {
                t: (np.asarray(ids, dtype=np.int64), np.asarray(ws, dtype=np.float64))
                for t, (ids, ws) in self._postings.items()
            }
        q = {t: c * self.idf[t] for t, c in term_counts(query).items() if t in self.idf}
        if not q:
            return []
        qnorm = math.sqrt(sum(w * w for w in q.values()))
        scores = np.zeros(len(self._keys))
        touched = np.zeros(len(self._keys), dtype=bool)
        for t, w in q.items():
            ids, ws = self._arrays.get(self._term_ids[t], (None, None))
            if ids is None:
                continue
            np.add.at(scores, ids, ws * (w / qnorm))
            touched[ids] = True
        rows = np.nonzero(touched)[0]
        keys = np.asarray(self._keys, dtype=np.int64).reshape(-1, 2)[rows]
        rounded = np.round(scores[rows], 8)
        order = np.lexsort((keys[:, 1], keys[:, 0], -rounded))[:k]
        return [((int(keys[i, 0]), int(keys[i, 1])), float(rounded[i])) for i in order]


def same_hits(
    got: list[tuple[tuple[int, int], float]], want: list[tuple[tuple[int, int], float]]
) -> bool:
    """Equal key sets and equal scores at 8 dp (one unit of slack in the
    last place for sums reduced in another order)."""
    if {k for k, _ in got} != {k for k, _ in want}:
        return False
    w = dict(want)
    return all(abs(round(s, 8) - w[k]) <= 1.5e-8 for k, s in got)


def dedup_oracle_rows(corpus_dir: str, sql: str) -> set[tuple[int, int, int]]:
    """Run ``sql`` (the registry's oracle for ``minhash_dedup_canonical``)
    in DuckDB with ``documents`` bound to the corpus in ``corpus_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        glob = f"{corpus_dir}/documents.parquet/*.parquet".replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return {(int(a), int(b), int(c)) for a, b, c in rows}
