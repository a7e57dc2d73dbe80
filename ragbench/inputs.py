"""Seeded input generators for the benchmark workloads.

Everything here is plain Python on the driver: the program under test
receives only the generated rows, files and query strings. The same
seed always yields the same inputs.

The corpus has the shape of the repo's synthetic ``documents`` table at
sf0.1 (5000 docs of 44-577 chars), drawn from a Zipf-weighted
vocabulary so queries range from very common to rare terms.
"""

from __future__ import annotations

import io
import json
import random
import zipfile
from dataclasses import dataclass

SYLLABLES = (
    "ka ri to mu se na lo pe vi da gu ne sho ba zi ru fe mo ta ki "
    "lu pa no de si ra be go hi ya"
).split()


def vocabulary(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct pronounceable words, rank 0 = most common."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


@dataclass
class Corpus:
    vocab: list[str]
    weights: list[float]
    docs: list[tuple[int, str]]  # (doc_id, text)

    def draw_terms(self, rng: random.Random, n: int) -> list[str]:
        return rng.choices(self.vocab, weights=self.weights, k=n)


def make_corpus(seed: int, n_docs: int, vocab_size: int = 600) -> Corpus:
    """``n_docs`` documents of 8-90 Zipf-drawn words (44-577 chars, as
    in the sf0.1 ``documents`` table)."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, vocab_size)
    weights = zipf_weights(vocab_size)
    docs = []
    for i in range(n_docs):
        words = rng.choices(vocab, weights=weights, k=rng.randint(8, 90))
        docs.append((i, " ".join(words)[:577]))
    return Corpus(vocab=vocab, weights=weights, docs=docs)


def extra_docs(corpus: Corpus, seed: int, n_docs: int, first_id: int) -> list[tuple[int, str]]:
    """Held-out documents from the same distribution plus a few words
    the fitted vocabulary has never seen (they must drop out)."""
    rng = random.Random(seed)
    out = []
    for i in range(n_docs):
        words = corpus.draw_terms(rng, rng.randint(8, 90))
        if rng.random() < 0.3:
            words.append(f"zq{rng.randint(0, 999)}x")  # out of vocabulary
        out.append((first_id + i, " ".join(words)))
    return out


def make_queries(corpus: Corpus, seed: int, n: int, repeat_share: float = 0.2,
                 oov_share: float = 0.05) -> list[str]:
    """Agent tool-call queries: 1-6 Zipf-drawn vocabulary terms, with a
    seeded share of exact repeats of earlier queries and of queries
    made only of out-of-vocabulary words."""
    rng = random.Random(seed)
    out: list[str] = []
    for _ in range(n):
        r = rng.random()
        if out and r < repeat_share:
            out.append(rng.choice(out))
        elif r < repeat_share + oov_share:
            out.append(" ".join(f"zz{rng.randint(0, 99999)}q" for _ in range(rng.randint(1, 3))))
        else:
            out.append(" ".join(corpus.draw_terms(rng, rng.randint(1, 6))))
    return out


# --------------------------------------------------------------------------
# Synthetic repository archive for the corpus build
# --------------------------------------------------------------------------

@dataclass
class RepoArchive:
    data: bytes
    n_md: int
    n_dup: int
    n_nb: int
    n_py: int

    @property
    def n_kept(self) -> int:
        """Files the ingest keeps: all but the two the skip rule drops."""
        return self.n_md + self.n_dup + self.n_nb + self.n_py


def _notebook(text: str, rng: random.Random) -> str:
    cells = [
        {"cell_type": "markdown", "metadata": {}, "source": [f"# Notebook\n\n{text}"]},
        {"cell_type": "code", "metadata": {}, "execution_count": 1,
         "source": [f"x = {rng.randint(0, 99)}\nprint(x)"], "outputs": []},
    ]
    nb = {"cells": cells, "metadata": {"kernelspec": {"language": "python"}},
          "nbformat": 4, "nbformat_minor": 5}
    return json.dumps(nb)


def _near_copy(text: str, rng: random.Random) -> str:
    """A near-duplicate: the same text with one word replaced — keeps
    character-shingle overlap high enough for MinHash banding to pair
    most copies with their original."""
    words = text.split()
    words[rng.randrange(len(words))] = rng.choice(words)
    return " ".join(words)


def make_repo_zip(corpus: Corpus, seed: int, dup_share: float = 0.15,
                  nb_share: float = 0.05, py_share: float = 0.05) -> RepoArchive:
    """A GitHub-style repo zip (``repo-main/...``) whose markdown files
    carry frontmatter and the corpus text, plus notebooks, Python files,
    near-duplicate markdown copies and files the ingest skip rule drops.
    Every kept file's name carries a unique numeric id."""
    rng = random.Random(seed)
    buf = io.BytesIO()
    n_md = n_dup = n_nb = n_py = 0
    next_id = max(d for d, _ in corpus.docs) + 1
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        zf.writestr("repo-main/", "")
        zf.writestr("repo-main/docs/.draft.md", "hidden")
        zf.writestr("repo-main/assets/logo.png", "not text")
        for doc_id, text in corpus.docs:
            kind = rng.random()
            if kind < nb_share:
                zf.writestr(f"repo-main/notebooks/n{doc_id:06d}.ipynb", _notebook(text, rng))
                n_nb += 1
                continue
            if kind < nb_share + py_share:
                zf.writestr(f"repo-main/src/s{doc_id:06d}.py", f"# {text}\nVALUE = {doc_id}\n")
                n_py += 1
                continue
            fm = f"---\ntitle: Doc {doc_id}\ntags: {rng.choice(corpus.vocab)}\n---\n"
            zf.writestr(f"repo-main/docs/d{doc_id:06d}.md", fm + text)
            n_md += 1
            if rng.random() < dup_share:
                zf.writestr(f"repo-main/mirror/d{next_id:06d}.md", fm + _near_copy(text, rng))
                next_id += 1
                n_dup += 1
    return RepoArchive(buf.getvalue(), n_md, n_dup, n_nb, n_py)
