"""Seeded input generators for the perfbench workloads.

Everything here is plain numpy/pyarrow: the library under test receives
only the parquet files these functions write.  The same seed gives
byte-identical files (``parquet_sha256`` is the self-check), and every
generator returns the input properties the workload's behaviour depends
on, so a run records what it measured.

Text is lowercase ``a-z`` words joined by single spaces, so every
tokenizer in the library (``[^a-z0-9]+`` split, whitespace collapse,
lowercasing) reduces to ``str.split()`` and the reference answers in
``oracle.py`` need no regex.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
ZIPF_S = 1.1
VOCAB = 20_000
CENTRES = 256
# The library's English stopword list (operators/text.STOPWORDS_EN).  They
# take the top Zipf ranks so most documents clear the quality gate's
# stopword-ratio test; curate's "no stopwords" documents do not.
STOPWORDS = (
    "the of and a to in is it that for was on are as with by at he from be "
    "an has its were will"
).split()
SOURCES = 8

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, size: int = VOCAB) -> np.ndarray:
    """``size`` distinct words; rank 0 is the most frequent."""
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < size:
        n = int(rng.integers(4, 11))
        w = "".join(_LETTERS[rng.integers(0, 26, n)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def zipf_p(size: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return p / p.sum()


def texts(rng, vocab, p, lengths) -> list[str]:
    ids = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    words = vocab[ids]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(len(lengths))]


def clustered(rng, n: int, centres: np.ndarray, noise: float) -> np.ndarray:
    """``n`` float32 vectors, each a random centre plus Gaussian noise."""
    which = rng.integers(0, len(centres), n)
    vecs = centres[which] + rng.normal(scale=noise, size=(n, centres.shape[1]))
    return vecs.astype(np.float32)


def write_parquet(table: pa.Table, path: str) -> int:
    """Write with fixed settings (no statistics timestamps, one row group
    per file) so equal tables give equal bytes; returns the byte size."""
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)
    with open(path, "rb") as f:
        return len(f.read())


def parquet_sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _emb_array(vecs: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.reshape(-1), type=pa.float32()), DIM
    ).cast(pa.list_(pa.float32()))


# ----------------------------------------------------------------------
# table: (rid, text, score, label, emb)
# ----------------------------------------------------------------------
class TableGen:
    """Rows for the ``table`` workload.  ``rows(n)`` may be
    called repeatedly (base table, then append batches); each call
    continues the same seeded stream and the ``rid`` sequence."""

    def __init__(self, seed: int, labels: int = 10, min_tokens: int = 20,
                 max_tokens: int = 120) -> None:
        self.rng = np.random.default_rng(seed)
        self.vocab = vocabulary(self.rng)
        self.p = zipf_p(len(self.vocab))
        self.centres = self.rng.normal(size=(CENTRES, DIM))
        self.labels = labels
        self.min_tokens, self.max_tokens = min_tokens, max_tokens
        self.next_rid = 0

    def rows(self, n: int) -> pa.Table:
        rng = self.rng
        lengths = rng.integers(self.min_tokens, self.max_tokens + 1, n)
        vecs = clustered(rng, n, self.centres, noise=0.5)
        rid = np.arange(self.next_rid, self.next_rid + n, dtype=np.int64)
        self.next_rid += n
        return pa.table({
            "rid": rid,
            "text": texts(rng, self.vocab, self.p, lengths),
            "score": rng.random(n),
            "label": rng.integers(0, self.labels, n).astype(np.int64),
            "emb": _emb_array(vecs),
        })

    def properties(self, tables: list[pa.Table]) -> dict:
        return {
            "rows": int(sum(t.num_rows for t in tables)),
            "vocabulary": len(self.vocab),
            "zipf_s": ZIPF_S,
            "tokens_per_row": [self.min_tokens, self.max_tokens],
            "clusters": CENTRES,
            "dim": DIM,
            "labels": self.labels,
            "duplicate_share": 0.0,
        }

    def hot_terms(self, k: int) -> list[str]:
        """Frequent non-stopword terms (ranks just below the stopwords)."""
        return list(self.vocab[len(STOPWORDS):len(STOPWORDS) + k])

    def rare_terms(self, k: int) -> list[str]:
        """Terms of rank 500..5000: each in a handful of rows."""
        ranks = self.rng.integers(500, 5000, k)
        return list(self.vocab[ranks])

    def queries(self, k: int) -> np.ndarray:
        """Query vectors near the data (a centre plus row-sized noise)."""
        return clustered(self.rng, k, self.centres, noise=0.5)


# ----------------------------------------------------------------------
# curate: (doc_id, source, text, emb) with injected duplicates
# ----------------------------------------------------------------------
def curate_corpus(seed: int, n: int, exact_share: float = 0.03,
                  near_share: float = 0.05, short_share: float = 0.05,
                  nostop_share: float = 0.10) -> tuple[pa.Table, dict]:
    """Corpus of ``n`` documents from ``SOURCES`` sources.

    - ``exact_share`` of documents copy an earlier original verbatim;
    - ``near_share`` copy an earlier original with one token in 25
      replaced (word 3-gram Jaccard stays above ~0.7);
    - both kinds also copy the original's embedding plus 1e-3 noise;
    - ``short_share`` have 3-9 tokens (they fail the quality gate);
    - ``nostop_share`` use no stopwords (quality score 0.5).

    Returns the table and the properties, including the injected pairs
    ``(original, copy)`` with ``original < copy``.
    """
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    p = zipf_p(len(vocab))
    p_nostop = p.copy()
    p_nostop[:len(STOPWORDS)] = 0.0
    p_nostop /= p_nostop.sum()
    centres = rng.normal(size=(CENTRES, DIM))
    vecs = clustered(rng, n, centres, noise=1.0)

    kind = rng.random(n)
    is_exact = kind < exact_share
    is_near = (kind >= exact_share) & (kind < exact_share + near_share)
    is_short = (kind >= 0.5) & (kind < 0.5 + short_share)
    is_nostop = (kind >= 0.6) & (kind < 0.6 + nostop_share)
    # the first documents are never copies: every copy needs an original
    is_exact[:100] = is_near[:100] = False
    lengths = np.where(is_short, rng.integers(3, 10, n), rng.integers(30, 121, n))

    body = texts(rng, vocab, p, lengths)
    nostop_idx = np.flatnonzero(is_nostop)
    for i, t in zip(nostop_idx, texts(rng, vocab, p_nostop, lengths[nostop_idx])):
        body[i] = t

    originals = np.flatnonzero(~(is_exact | is_near | is_short))
    exact_pairs, near_pairs = [], []
    for i in np.flatnonzero(is_exact | is_near):
        cands = originals[originals < i]
        src = int(cands[rng.integers(0, len(cands))])
        toks = body[src].split()
        if is_near[i]:
            for pos in rng.choice(len(toks), max(1, len(toks) // 25), replace=False):
                toks[pos] = vocab[rng.integers(len(STOPWORDS), len(vocab))]
            near_pairs.append((src, int(i)))
        else:
            exact_pairs.append((src, int(i)))
        body[i] = " ".join(toks)
        vecs[i] = vecs[src] + rng.normal(scale=1e-3, size=DIM).astype(np.float32)

    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "source": [f"src{s}" for s in rng.integers(0, SOURCES, n)],
        "text": body,
        "emb": _emb_array(vecs),
    })
    props = {
        "rows": n,
        "vocabulary": len(vocab),
        "zipf_s": ZIPF_S,
        "tokens_per_row": [3, 120],
        "clusters": CENTRES,
        "dim": DIM,
        "sources": SOURCES,
        "duplicate_share": round(float((is_exact | is_near).mean()), 6),
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
    }
    return table, props
