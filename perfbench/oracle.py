"""Independent answer check: BM25 (Lucene variant) and Dirichlet query
likelihood in NumPy, computed from the generated corpus text.

Nothing here calls the library's scoring or tokenizer code: the
tokenizer is re-stated from its documented contract (lowercase, Python
``(?u)\\b\\w\\w+\\b``, English stopwords dropped), the query-language
term parse from ``operators/querylang.py``'s documented contract (Java
regex ``\\w``, which is ASCII-only), and the formulas from the
reference's definitions.

Answers are compared as top-k lists: every returned score must match
the oracle's score at that rank, every returned doc must carry the
oracle's score for that doc (both to ``REL_TOL`` relative), doc ids may
not repeat, and every tie group that lies wholly inside the top-k must
come back as the same set of docs (tie groups compare as multisets; the
group cut by the k boundary may be any of its members).
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

REL_TOL = 1e-4
ABS_TOL = 1e-6
_TOKEN = re.compile(r"(?u)\b\w\w+\b")
# querylang parse contract: regexp_extract_all(lower(text),
# '[+-]?\w\w+(\^[0-9.]+)?') under Java regex, where \w is ASCII
_QL_TOKEN = re.compile(r"[+-]?\w\w+(?:\^\d+(?:\.\d+)?)?", re.ASCII)
_QL_WORD = re.compile(r"\w\w+", re.ASCII)


class Oracle:
    """Scores queries against a fixed list of document texts; doc id i
    is ``texts[i]``."""

    def __init__(self, texts: list[str], stopwords, k1: float = 1.5,
                 b: float = 0.75, mu: float = 2000.0):
        self.stopwords = frozenset(stopwords)
        self.k1, self.b, self.mu = k1, b, mu
        self.n = len(texts)
        post: dict[str, tuple[list[int], list[int]]] = {}
        dl = np.zeros(self.n, dtype=np.float64)
        for doc, text in enumerate(texts):
            counts = Counter(self.tokenize(text))
            dl[doc] = sum(counts.values())
            for term, tf in counts.items():
                ids, tfs = post.setdefault(term, ([], []))
                ids.append(doc)
                tfs.append(tf)
        self.dl = dl
        self.avgdl = float(dl.mean()) if self.n else 0.0
        self.total = float(dl.sum())
        self.postings = {
            t: (np.asarray(ids, dtype=np.int64),
                np.asarray(tfs, dtype=np.float64))
            for t, (ids, tfs) in post.items()
        }

    # tokenizers --------------------------------------------------------
    def tokenize(self, text: str | None) -> list[str]:
        toks = _TOKEN.findall((text or "").lower())
        return [t for t in toks if t not in self.stopwords]

    def tokenize_querylang(self, text: str | None) -> list[str]:
        out: list[str] = []
        for tok in _QL_TOKEN.findall((text or "").lower()):
            out.extend(self.tokenize(_QL_WORD.search(tok).group(0)))
        return out

    # scoring -------------------------------------------------------------
    def bm25_scores(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """(dense Lucene BM25 scores over all docs, matched-doc mask)."""
        scores = np.zeros(self.n, dtype=np.float64)
        matched = np.zeros(self.n, dtype=bool)
        norm = (1.0 - self.b) + self.b * self.dl / (self.avgdl or 1.0)
        for term, mult in Counter(terms).items():
            if term not in self.postings:
                continue
            ids, tf = self.postings[term]
            df = len(ids)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            scores[ids] += mult * idf * tf / (self.k1 * norm[ids] + tf)
            matched[ids] = True
        return scores, matched

    def qld_scores(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """(dense Dirichlet query-likelihood scores, matched-doc mask)."""
        msum = np.zeros(self.n, dtype=np.float64)
        matched = np.zeros(self.n, dtype=bool)
        qlen = 0
        for term, mult in Counter(terms).items():
            if term not in self.postings:
                continue
            ids, tf = self.postings[term]
            cf = float(tf.sum())
            qlen += mult
            msum[ids] += mult * np.log(1.0 + tf * self.total / (self.mu * cf))
            matched[ids] = True
        prior = qlen * np.log(self.mu / (self.mu + self.dl))
        return msum + prior, matched

    def expected(self, kind: str, text: str, k: int) -> list[tuple[int, float]]:
        """Oracle top-k [(doc, score)] for one request.

        kind: ``"bm25"`` (sharded/join retrieve: padded to k with
        unmatched docs), ``"querylang"`` (matched docs only) or
        ``"qld"`` (matched docs only)."""
        if kind == "bm25":
            scores, _ = self.bm25_scores(self.tokenize(text))
            cand = np.arange(self.n)
        elif kind == "querylang":
            scores, matched = self.bm25_scores(self.tokenize_querylang(text))
            cand = np.flatnonzero(matched)
        elif kind == "qld":
            scores, matched = self.qld_scores(self.tokenize(text))
            cand = np.flatnonzero(matched)
        else:
            raise ValueError(f"unknown request kind {kind!r}")
        order = np.lexsort((cand, -scores[cand]))[:k]
        return [(int(cand[i]), float(scores[cand[i]])) for i in order]

    def score_of(self, kind: str, text: str, doc: int) -> float:
        if kind == "qld":
            return float(self.qld_scores(self.tokenize(text))[0][doc])
        terms = (self.tokenize_querylang(text) if kind == "querylang"
                 else self.tokenize(text))
        return float(self.bm25_scores(terms)[0][doc])


def close(a: float, b: float) -> bool:
    return abs(a - b) <= max(REL_TOL * max(abs(a), abs(b)), ABS_TOL)


def compare(got: list[tuple[int, float]], expected: list[tuple[int, float]],
            doc_score) -> str | None:
    """None when ``got`` (rank-ordered [(doc, score)]) agrees with the
    oracle's ``expected`` top-k, else a one-line reason.  ``doc_score``
    maps a doc id to its oracle score."""
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    docs = [d for d, _ in got]
    if len(set(docs)) != len(docs):
        return "repeated doc id"
    for rank, ((d, s), (_, es)) in enumerate(zip(got, expected), 1):
        if not close(s, es):
            return f"rank {rank}: score {s!r}, expected {es!r}"
        if not close(s, doc_score(d)):
            return f"rank {rank}: doc {d} scores {doc_score(d)!r}, not {s!r}"
    # tie groups wholly inside the top-k must match as sets
    i = 0
    while i < len(expected):
        j = i
        while j + 1 < len(expected) and close(expected[j + 1][1],
                                              expected[i][1]):
            j += 1
        last_group = j == len(expected) - 1
        if not last_group:
            want = {d for d, _ in expected[i:j + 1]}
            have = {d for d, _ in got[i:j + 1]}
            if want != have:
                return f"tie group at ranks {i + 1}-{j + 1} differs"
        i = j + 1
    return None
