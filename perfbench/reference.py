"""Exact expected answers, computed with NumPy from the collected corpus.

The reference re-derives what ``SearchEngine.search`` must return, outside
the timed window, in the engine's arithmetic:

- vector: cosine top-k under the request's pre-filter. The dot product and
  norms are summed left to right in float64, as Spark's ``aggregate`` does,
  and scores are rounded half-up to 6 dp from their shortest decimal form,
  as Spark's ``round`` does. Ties go to the smaller id.
- fulltext: BM25 (k1 1.2, b 0.75) with corpus-global statistics, then the
  residual filter.
- hybrid: the vector branch's top-k plus every text match, fused as
  ``10·σ(vector) + 1·σ(text)`` with an absent branch counting 0, then the
  residual filter.
- restaurants: the distinct non-null names, ascending.

``check`` compares one response with its expected answer. A response fails
when it has the wrong length, repeats an id, returns a row the filter
excludes, carries a score that is not the reference score of that id, or is
out of (score desc, id asc) order. Swapped ids therefore fail even though the
id set is right. Recall is reported apart from failure, so that an
approximate index can later return real rows with true scores and lose only
recall.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

K1 = 1.2
B = 0.75
VECTOR_WEIGHT = 10.0
TEXT_WEIGHT = 1.0
SCORE_TOLERANCE = 2e-6  # two units in the 6th decimal
_SIX_DP = Decimal("0.000001")


def round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(_SIX_DP, rounding=ROUND_HALF_UP))


def tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[\W_]+", text.lower()) if t]


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σ_j a[j]·b[j] over the first axis (the vector dimension), accumulated
    left to right like Spark's ``aggregate``; vectorised over any other axis,
    so the corpus is passed transposed."""
    acc = np.zeros(a.shape[1:])
    for j in range(a.shape[0]):
        acc = acc + a[j] * b[j]
    return acc


class Reference:
    """Expected answers over one corpus.

    ``corpus`` has the columns ``_id``, ``title``, ``available``, ``price``,
    ``restaurant`` and ``emb`` (one float32 array per row)."""

    def __init__(self, corpus: pd.DataFrame, embed_query):
        self.embed_query = embed_query
        self.ids = corpus["_id"].astype(str).to_numpy()
        self.available = corpus["available"].to_numpy(dtype=object)
        self.price = corpus["price"].to_numpy(dtype=np.float64)
        self.restaurant = corpus["restaurant"].to_numpy(dtype=object)
        emb = np.stack([np.asarray(v, dtype=np.float32) for v in corpus["emb"]])
        self.cols = np.ascontiguousarray(emb.T, dtype=np.float64)
        self.norms = np.sqrt(_seq_dot(self.cols, self.cols))
        self.row_of = {i: n for n, i in enumerate(self.ids)}
        docs = [tokens(t or "") for t in corpus["title"]]
        self.tf = [Counter(d) for d in docs]
        self.dl = np.array([len(d) for d in docs], dtype=np.float64)
        self.df = Counter(t for d in self.tf for t in d)
        self.n_docs = float(np.count_nonzero(self.dl))
        self.avgdl = float(self.dl[self.dl > 0].mean())
        self.restaurant_names = sorted({r for r in self.restaurant if r is not None})

    # ------------------------------------------------------------ filters

    def mask(self, p: dict) -> np.ndarray:
        m = np.ones(len(self.ids), dtype=bool)
        if p.get("available") is not None:
            m &= np.array([a is not None and a == bool(p["available"]) for a in self.available])
        if p.get("maxPrice") is not None:
            m &= self.price < float(p["maxPrice"])
        restaurant = (p.get("restaurant") or "").strip() or None
        if restaurant is not None:
            m &= np.array([r == restaurant for r in self.restaurant])
        return m

    # ------------------------------------------------------------- scores

    def cosine_scores(self, description: str) -> np.ndarray:
        q = np.asarray(self.embed_query(description), dtype=np.float64)
        dot = _seq_dot(self.cols, q)
        qn = math.sqrt(float(_seq_dot(q, q)))
        return np.array([round6((1.0 + c) / 2.0) for c in dot / (self.norms * qn)])

    def bm25_scores(self, title: str) -> dict[int, float]:
        terms = sorted(set(tokens(title)))
        out: dict[int, float] = {}
        for row, tf in enumerate(self.tf):
            s, hit = 0.0, False
            for t in terms:
                if t in tf:
                    hit = True
                    df = float(self.df[t])
                    idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
                    f = float(tf[t])
                    s += idf * (f * (K1 + 1.0)) / (
                        f + K1 * ((1.0 - B) + B * self.dl[row] / self.avgdl)
                    )
            if hit:
                out[row] = round6(s)
        return out

    @staticmethod
    def _sigmoid(x: float) -> float:
        return 1.0 / (1.0 + math.exp(-x))

    # ------------------------------------------------------------ answers

    def _top(self, scored: dict[int, float], limit: int) -> list[tuple[str, float]]:
        rows = sorted(scored, key=lambda r: (-scored[r], self.ids[r]))[:limit]
        return [(self.ids[r], scored[r]) for r in rows]

    def expected(self, p: dict) -> tuple[list[tuple[str, float]], dict[str, float]]:
        """(top-k (id, score) list, score of every id the response may hold)."""
        mode = (p.get("mode") or "vector").lower()
        try:
            limit = int(p.get("limit", 5))
        except (TypeError, ValueError):
            limit = 5
        limit = max(1, min(limit, 25))
        keep = self.mask(p)
        if mode == "vector":
            cos = self.cosine_scores(p["description"].strip())
            scored = {int(r): float(cos[r]) for r in np.flatnonzero(keep)}
        elif mode == "fulltext":
            scored = {r: s for r, s in self.bm25_scores(p["title"].strip()).items() if keep[r]}
        else:
            cos = self.cosine_scores(p["description"].strip())
            vec_rows = {int(r): float(cos[r]) for r in np.flatnonzero(keep)}
            vec = {self.row_of[i]: s for i, s in self._top(vec_rows, limit)}
            txt = self.bm25_scores(p["title"].strip())
            scored = {}
            for r in set(vec) | set(txt):
                if not keep[r]:
                    continue
                t = TEXT_WEIGHT * self._sigmoid(txt[r]) if r in txt else 0.0
                v = VECTOR_WEIGHT * self._sigmoid(vec[r]) if r in vec else 0.0
                scored[r] = round6(t + v)
        return self._top(scored, limit), {self.ids[r]: s for r, s in scored.items()}


def check(
    expected: list[tuple[str, float]], allowed: dict[str, float], results: list[dict]
) -> tuple[bool, float, str]:
    """(passed, recall, reason) for one search response."""
    ids = [str(r.get("_id")) for r in results]
    scores = [r.get("score") for r in results]
    want = {i for i, _ in expected}
    recall = len(want & set(ids)) / len(want) if want else float(not ids)
    if len(ids) != len(expected):
        return False, recall, f"length {len(ids)} != {len(expected)}"
    if len(set(ids)) != len(ids):
        return False, recall, "duplicate ids"
    for i, s in zip(ids, scores):
        if i not in allowed:
            return False, recall, f"id {i} is not a valid answer"
        if s is None or abs(float(s) - allowed[i]) > SCORE_TOLERANCE:
            return False, recall, f"id {i} score {s} != {allowed[i]}"
    for (i1, s1), (i2, s2) in zip(zip(ids, scores), zip(ids[1:], scores[1:])):
        if (-float(s1), i1) > (-float(s2), i2):
            return False, recall, f"order {i1} before {i2}"
    return True, recall, ""
