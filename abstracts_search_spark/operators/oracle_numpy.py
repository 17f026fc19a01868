"""Pure-Python/numpy exact BM25 oracle (SURVEY.md §5.2, FIXTURES.md §3).

Independent of Spark: brute force over all documents, same tokenizer, k1=1.2,
b=0.75, tie-break (score DESC, doc_id ASC). The engine's brute-force DataFrame
path AND the indexed WAND path must both match this rank-identically with
scores equal within 1e-6.
"""

from __future__ import annotations

import math
from collections import Counter

from .. import B_BM25, K1
from ..functions.tokenize import get_tokenizer

_tok = get_tokenizer("ascii").tokens


class BM25Oracle:
    def __init__(self, docs: dict[int, str], k1: float = K1, b: float = B_BM25):
        self.k1, self.b = k1, b
        self.tf = {d: Counter(_tok(t)) for d, t in docs.items()}
        self.doclen = {d: sum(c.values()) for d, c in self.tf.items()}
        self.n = len(docs)
        self.avgdl = sum(self.doclen.values()) / self.n if self.n else 0.0
        self.df: Counter = Counter()
        for c in self.tf.values():
            self.df.update(c.keys())

    def idf(self, term: str) -> float:
        d = self.df.get(term, 0)
        return math.log(1.0 + (self.n - d + 0.5) / (d + 0.5))

    def score(self, doc_id: int, terms: set[str]) -> float:
        s = 0.0
        for t in terms:
            tf = self.tf[doc_id].get(t, 0)
            if tf == 0:
                continue
            dl = self.doclen[doc_id]
            s += (
                self.idf(t)
                * tf
                * (self.k1 + 1.0)
                / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl))
            )
        return s

    def topk(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        terms = set(_tok(query))
        scored = [
            (d, self.score(d, terms))
            for d in self.tf
            if any(t in self.tf[d] for t in terms)
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]
