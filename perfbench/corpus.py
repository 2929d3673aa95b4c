"""Seeded synthetic web corpus and query streams for the benchmark.

The corpus follows ``montezuma_spark.fixtures.synth_corpus_spark``: a
10k-term letters-only vocabulary, a squared-uniform (Zipf-like) term draw
through the same xorshift-multiply hash, and doc lengths of 20..140 tokens
(about 80 on average). The seed shifts the content ids, so every seed gives
a different corpus with the same statistical profile. Keys are
``synth://doc/<id:012d>`` for ids ``0..n-1``; the index assigns docids in
key order, so docid ``d`` has key ``url_of(d)``.

Everything here is plain numpy on the driver: the program under test only
ever receives the generated parquet file and query objects.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 10_000
AVG_LEN = 80
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
# the seed moves the content ids this far apart, so corpora never overlap
_SEED_STRIDE = 1_000_003


def _b26(i: int) -> str:
    s = ""
    for _ in range(4):
        s += _LETTERS[i % 26]
        i //= 26
    return s


VOCAB = np.array(["w" + _b26(i) for i in range(VOCAB_SIZE)], dtype=object)


def url_of(docid: int) -> str:
    return f"synth://doc/{docid:012d}"


@dataclass
class Corpus:
    n_docs: int
    texts: list            # str per doc, docid order
    tok: np.ndarray        # flat vocab index per token, docid-major
    doc_of: np.ndarray     # docid of each flat token
    starts: np.ndarray     # first flat token of each doc
    lens: np.ndarray       # tokens per doc
    df: np.ndarray         # document frequency per vocab index
    text_bytes: int        # UTF-8 bytes of all text

    @property
    def n_tokens(self) -> int:
        return int(len(self.tok))

    def pandas(self):
        import pandas as pd

        return pd.DataFrame({
            "url": [url_of(i) for i in range(self.n_docs)],
            "text": self.texts,
            "lang": ["en"] * self.n_docs,
        })


def make_corpus(n_docs: int, seed: int) -> Corpus:
    ids = np.arange(n_docs, dtype=np.int64)
    src = ids + np.int64(seed) * _SEED_STRIDE
    lens = 20 + ((src * 2654435761) % (2 * AVG_LEN - 40 + 1))
    bounds = np.cumsum(lens)
    starts = bounds - lens
    total = int(bounds[-1])
    doc_of = np.repeat(ids, lens)
    j = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    x = src[doc_of] * 1315423911 + j * 2654435761 + 97
    x &= 0x7FFFFFFFFFFFFFFF
    x ^= x >> 21
    x = (x * 2685821657736338717) & 0x7FFFFFFFFFFFFFFF
    x ^= x >> 35
    h = x & 0x7FFFFFFF
    u = (h % 1_000_000) / 1_000_000.0
    tok = (u * u * VOCAB_SIZE).astype(np.int64)
    words = VOCAB[tok]
    texts = [" ".join(words[s:e]) for s, e in zip(starts, bounds)]
    # df: distinct (doc, term) pairs per term
    pairs = np.unique(doc_of * VOCAB_SIZE + tok)
    df = np.bincount(pairs % VOCAB_SIZE, minlength=VOCAB_SIZE)
    text_bytes = sum(len(t) for t in texts)  # ASCII: chars == UTF-8 bytes
    return Corpus(n_docs, texts, tok, doc_of, starts, lens, df, text_bytes)


class TermDraw:
    """Draws vocab indices uniformly from the ``top`` terms by df."""

    def __init__(self, corpus: Corpus, rng: np.random.Generator, top: int):
        order = np.argsort(-corpus.df, kind="stable")
        order = order[corpus.df[order] > 0][:top]
        self.terms = order
        self.allowed = np.zeros(VOCAB_SIZE, dtype=bool)
        self.allowed[order] = True
        self.rng = rng

    def __call__(self, n: int = 1) -> np.ndarray:
        return self.terms[self.rng.integers(0, len(self.terms), size=n)]


class QueryStream:
    """Seeded query mix: parser strings (term, OR, ``+``/``!``, phrase) and
    ``SpanNearQuery`` objects. Phrases and spans are anchored on a real
    occurrence of their first term, so they always match something."""

    # kinds per block of 20 queries; every stream repeats one fixed
    # interleaving of the block, so its composition never varies
    MIX = (("term", 6), ("or", 5), ("bool", 4), ("phrase", 3), ("span", 2))

    def __init__(self, corpus: Corpus, rng: np.random.Generator,
                 draw: TermDraw):
        self.c = corpus
        self.rng = rng
        self.draw = draw
        self._n = 0
        self._occ_order = np.argsort(corpus.tok, kind="stable")
        self._occ_start = np.searchsorted(
            corpus.tok[self._occ_order], np.arange(VOCAB_SIZE + 1)
        )

    def _follower(self, t: int, max_gap: int) -> tuple[int, int]:
        """(a token of the same doc within ``max_gap`` of an occurrence of
        ``t``, its signed gap), preferring tokens the stream may draw, so a
        stream keeps its own working set."""
        c = self.c
        lo, hi = self._occ_start[t], self._occ_start[t + 1]
        pos = self._occ_order[self.rng.integers(lo, hi, size=64)]
        gap = self.rng.integers(1, max_gap + 1, size=64)
        d = c.doc_of[pos]
        gap = np.where(pos + gap >= c.starts[d] + c.lens[d], -gap, gap)
        ok = pos + gap >= c.starts[d]
        u = np.where(ok, c.tok[np.where(ok, pos + gap, pos)], t)
        good = np.flatnonzero(ok & self.draw.allowed[u])
        i = int(good[0]) if len(good) else 0
        return int(u[i]), int(gap[i]) if ok[i] else 1

    def one(self):
        from montezuma_spark.search import SpanNearQuery

        kind = _PATTERN[self._n % len(_PATTERN)]
        self._n += 1
        w = VOCAB
        if kind == "term":
            return str(w[self.draw()[0]])
        if kind == "or":
            return " ".join(w[self.draw(int(self.rng.integers(2, 4)))])
        if kind == "bool":
            a, b, c = w[self.draw(3)]
            second = f"+{b}" if self.rng.random() < 0.5 else b
            return f"+{a} {second} !{c}"
        t = int(self.draw()[0])
        if kind == "phrase":
            u, gap = self._follower(t, 1)
            pair = [t, u] if gap >= 0 else [u, t]
            return '"' + " ".join(w[pair]) + '"'
        u, _ = self._follower(t, 4)
        return SpanNearQuery.of("text", [str(w[t]), str(w[u])], slop=4)

    def take(self, n: int) -> list:
        return [self.one() for _ in range(n)]


_PATTERN = list(np.random.default_rng(0).permutation(
    [k for k, n in QueryStream.MIX for _ in range(n)]))


def hot_stream(corpus: Corpus, seed: int, top: int = 200) -> QueryStream:
    rng = np.random.default_rng([seed, 1])
    return QueryStream(corpus, rng, TermDraw(corpus, rng, top=top))

