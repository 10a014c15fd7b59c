"""Reference answers computed without ``muller_spark``.

Plain Python and numpy over the generated columns.  Exact operators are
compared exactly; approximate ones (IVF search, the MinHash flow) are
scored by recall against the exact answer here.  Text is single-spaced
lowercase ``a-z`` (see ``gen.py``), so tokenizing is ``str.split()``.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

import gen

STOPWORDS = frozenset(gen.STOPWORDS)


def round_half_up(x: float, digits: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on the decimal string form."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


class TextIndex:
    """Term -> row set, plus per-row tokens, for CONTAINS and BM25."""

    def __init__(self) -> None:
        self.rows: dict[int, list[str]] = {}
        self.postings: dict[str, set[int]] = defaultdict(set)

    def add(self, keys, texts) -> None:
        for key, text in zip(keys, texts):
            toks = text.split()
            self.rows[int(key)] = toks
            for t in set(toks):
                self.postings[t].add(int(key))

    def contains_all(self, query: str) -> set[int]:
        terms = set(query.split())
        sets = sorted((self.postings.get(t, set()) for t in terms), key=len)
        return set.intersection(*sets) if sets else set()

    def bm25(self, query: str, k: int, order_key, k1: float = 1.2,
             b: float = 0.75) -> list[tuple[int, float]]:
        """Top ``k`` (key, score) exactly as ``InvertedIndex.bm25`` ranks
        them: per-term weights folded in term order, rounded to 5 places,
        score descending then ``order_key`` (the dataset row id)."""
        n = len(self.rows)
        avgdl = sum(len(t) for t in self.rows.values()) / n
        terms = sorted(set(query.split()))
        scores: dict[int, list[tuple[str, float]]] = defaultdict(list)
        for term in terms:
            docs = self.postings.get(term, set())
            df = len(docs)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for key in docs:
                toks = self.rows[key]
                tf = toks.count(term)
                w = idf * (tf * (k1 + 1)) / (tf + k1 * ((1.0 - b) + b * len(toks) / avgdl))
                scores[key].append((term, w))
        ranked = []
        for key, ws in scores.items():
            acc = 0.0
            for _, w in sorted(ws):
                acc += w
            ranked.append((key, round_half_up(acc, 5)))
        ranked.sort(key=lambda kv: (-kv[1], order_key(kv[0])))
        return ranked[:k]


def knn(vectors: np.ndarray, keys: np.ndarray, query: np.ndarray, k: int) -> set[int]:
    d = ((vectors.astype(np.float64) - query.astype(np.float64)) ** 2).sum(axis=1)
    return set(keys[np.argsort(d, kind="stable")[:k]].tolist())


# ----------------------------------------------------------------------
# curation
# ----------------------------------------------------------------------
def quality(text: str) -> float:
    """``operators.text.quality_score`` for punctuation- and digit-free text."""
    toks = text.split()
    length_ok = 1.0 if 10 <= len(toks) <= 100000 else 0.3
    stop = sum(t in STOPWORDS for t in toks) / len(toks) if toks else 0.0
    return round_half_up(length_ok * (1.0 if stop >= 0.05 else 0.5), 6)


def curation_pipeline(ids, sources, texts, quality_min=0.5, top_fraction=0.5):
    """Quality gate, exact content dedup keeping the min id, then the top
    ``ceil(round(n * fraction, 9))`` per source by (score desc, id asc)."""
    keep: dict[str, tuple[int, str, float]] = {}
    for i, s, t in zip(ids, sources, texts):
        q = quality(t)
        if q < quality_min:
            continue
        h = hashlib.md5(t.encode()).hexdigest()
        if h not in keep or i < keep[h][0]:
            keep[h] = (int(i), s, q)
    groups: dict[str, list] = defaultdict(list)
    for i, s, q in keep.values():
        groups[s].append((i, s, q))
    out = set()
    for rows in groups.values():
        rows.sort(key=lambda r: (-r[2], r[0]))
        out.update(rows[: math.ceil(round(len(rows) * top_fraction, 9))])
    return out


def shingles(text: str, n: int = 3) -> frozenset:
    t = text.split()
    if len(t) < n:
        return frozenset([" ".join(t)])
    return frozenset(" ".join(t[i:i + n]) for i in range(len(t) - n + 1))


def jaccard_pairs(ids, texts, threshold: float) -> dict[tuple[int, int], float]:
    """All pairs with word-3-gram Jaccard >= ``threshold``: exact prefix
    filtering (rarest shingles first), every candidate verified."""
    sets = {int(i): shingles(t) for i, t in zip(ids, texts)}
    df: dict[str, int] = defaultdict(int)
    for s in sets.values():
        for sh in s:
            df[sh] += 1
    post: dict[str, list[int]] = defaultdict(list)
    for i, s in sets.items():
        for sh in s:
            post[sh].append(i)
    out = {}
    for i, s in sets.items():
        prefix = sorted(s, key=lambda sh: (df[sh], sh))[: int((1 - threshold) * len(s)) + 1]
        cands = {j for sh in prefix for j in post[sh] if j != i}
        for j in cands:
            a, b = min(i, j), max(i, j)
            if (a, b) in out:
                continue
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= threshold:
                out[(a, b)] = jac
    return out


def components(ids, pairs) -> dict[int, int]:
    """id -> min id of its connected component (singletons keep themselves)."""
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def cosine_dropped(ids: np.ndarray, vecs: np.ndarray, threshold: float) -> set[int]:
    """Ids with a smaller-id neighbour at cosine >= ``threshold`` (the
    exact answer ``semantic_dedup(keep='min_id')`` approximates within
    k-means cells)."""
    order = np.argsort(ids)
    ids, v = ids[order], vecs[order].astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    dropped = set()
    for start in range(0, len(ids), 1024):
        sims = v[start:start + 1024] @ v.T
        for r, row in enumerate(sims):
            i = start + r
            if (row[:i] >= threshold).any():
                dropped.add(int(ids[i]))
    return dropped
