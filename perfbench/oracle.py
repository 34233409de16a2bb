"""Brute-force reference results over the generated rows.

Independent of the engine's Spark plans: documents are analyzed with the
package's driver-side analyzer (``analysis.analyze``, the definition of a
term) and every query is answered by scanning plain Python dicts.  The
scoring formulas are the ones the engine documents in ``search/ranking.py``
(BM25 k1=1.2 b=0.75 with the ATIRE idf; reference TF-IDF with idf = N/df)
and the boolean semantics of ``search/boolean.py``.
"""

from __future__ import annotations

import math
from collections import Counter

from mini_search_engine_spark.analysis import analyze

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-6


def terms_of(text: str) -> list[str]:
    return analyze(text, tokenizer="punctuation", stem=True)


class Oracle:
    """Answers queries over the subset ``live`` of the documents it holds."""

    def __init__(self) -> None:
        self.tokens: dict[int, list[str]] = {}
        self.tf: dict[int, Counter] = {}
        self.postings: dict[str, set[int]] = {}

    def add(self, docids, texts) -> None:
        for d, text in zip(docids, texts):
            toks = terms_of(text)
            self.tokens[d] = toks
            self.tf[d] = Counter(toks)
            for t in self.tf[d]:
                self.postings.setdefault(t, set()).add(d)

    def _docs(self, term: str, live: set[int]) -> set[int]:
        return self.postings.get(term, set()) & live

    def _stats(self, live: set[int]) -> tuple[int, float]:
        n = len(live)
        return n, (sum(len(self.tokens[d]) for d in live) / n if n else 0.0)

    def _weighted(self, keywords, live):
        counts: Counter = Counter()
        for k in keywords:
            counts.update(terms_of(k))
        return [(t, counts[t], self._docs(t, live)) for t in sorted(counts)]

    def bm25(self, keywords, live: set[int]) -> dict[int, float]:
        n, avgdl = self._stats(live)
        scores: dict[int, float] = {}
        for t, qc, docs in self._weighted(keywords, live):
            if not docs:
                continue
            df = len(docs)
            w = qc * math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d in docs:
                tf = self.tf[d][t]
                dl = len(self.tokens[d])
                scores[d] = scores.get(d, 0.0) + w * tf * (K1 + 1.0) / (
                    tf + K1 * (1.0 - B + B * dl / avgdl)
                )
        return scores

    def tfidf(self, keywords, live: set[int]) -> dict[int, float]:
        n, _ = self._stats(live)
        dot: dict[int, float] = {}
        len2: dict[int, float] = {}
        for t, qc, docs in self._weighted(keywords, live):
            if not docs:
                continue
            idf = n / len(docs)
            for d in docs:
                x = self.tf[d][t] * idf
                dot[d] = dot.get(d, 0.0) + x * qc * idf
                len2[d] = len2.get(d, 0.0) + x * x
        return {d: dot[d] / math.sqrt(len2[d]) for d in dot}

    def keyword(self, keyword: str, live: set[int]) -> list[int]:
        toks = terms_of(keyword)
        return sorted(self._docs(toks[0], live)) if toks else []

    def conj(self, keywords, live: set[int]) -> list[int]:
        lists = [terms_of(k) for k in keywords]
        if any(not tl for tl in lists):
            return []
        out = set(live)
        for t in {t for tl in lists for t in tl}:
            out &= self.postings.get(t, set())
        return sorted(out)

    def disj(self, keywords, live: set[int]) -> list[int]:
        out: set[int] = set()
        for k in keywords:
            for t in terms_of(k):
                out |= self._docs(t, live)
        return sorted(out)

    def phrase(self, text: str, live: set[int]) -> list[int]:
        terms = terms_of(text)
        if not terms:
            return []
        if len(terms) == 1:
            return self.keyword(terms[0], live)
        cand = set(live)
        for t in terms:
            cand &= self.postings.get(t, set())
        m = len(terms)
        return sorted(
            d for d in cand
            if any(self.tokens[d][i:i + m] == terms for i in range(len(self.tokens[d]) - m + 1))
        )

    def answer(self, query: tuple, live: set[int]):
        """Reference answer for one ``(kind, arg)`` query: every matching
        doc's score (bm25, tfidf), or the sorted docid list."""
        kind, arg = query
        return {
            "bm25": self.bm25,
            "tfidf": self.tfidf,
            "keyword": self.keyword,
            "and": self.conj,
            "or": self.disj,
            "phrase": self.phrase,
        }[kind](arg, live)


def check(query: tuple, got, expected, k: int) -> str | None:
    """None when ``got`` matches the reference, else a one-line reason.

    Ranked results match when the i-th scores agree within SCORE_TOL and
    every returned doc carries its own reference score; docs whose scores
    tie within the tolerance may therefore come back in either order."""
    if query[0] not in ("bm25", "tfidf"):
        return None if list(got) == list(expected) else (
            f"{len(got)} docids, expected {len(expected)}"
            f" (first difference near {next((g for g, e in zip(got, expected) if g != e), None)})"
        )
    ranked = sorted(expected.items(), key=lambda x: (-x[1], x[0]))[:k]
    if len(got) != len(ranked):
        return f"{len(got)} results, expected {len(ranked)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate docids"
    for i, ((gd, gs), (_, es)) in enumerate(zip(got, ranked)):
        tol = SCORE_TOL * max(1.0, abs(es))
        if abs(gs - es) > tol:
            return f"rank {i}: score {gs!r}, expected {es!r}"
        if gd not in expected or abs(expected[gd] - gs) > tol:
            return f"rank {i}: doc {gd} scored {gs!r}, reference {expected.get(gd)!r}"
    return None
