"""Seeded corpus and query generators owned by the benchmark.

The engine only ever sees what these functions emit: crawl-shaped
pages ``(url, warc_ts, html, text, lang)`` and query strings.  Words
come from a fixed pseudo-word vocabulary on which the engine's lemma
analyzer is the identity, so a generated word is exactly one index
term and the generator knows every term's document frequency.

Term frequencies follow a Zipf law over the vocabulary rank, which
gives the three bands the workloads draw from: a stop-listed head,
a mid-frequency band (``serve_hot``) and a long tail of words that
occur in a handful of pages (``serve_tail``).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pyarrow as pa

VOCAB_SIZE = 20_000
ZIPF_S = 1.0
N_SITES = 16
WORDS_PER_PAGE = (60, 220)
WORDS_PER_SENTENCE = (6, 14)
HOT_RANKS = (60, 360)  # a few hundred mid-frequency terms
TAIL_FROM_RANK = 700  # tail: df of a few dozen pages at most
# The request mix is an assumption, not a measurement: the 10%
# ``site=`` and ``offset>0`` shares, the 1-3 terms per query weighted
# 35/45/20 (mean 1.85) and the Zipf s=1 skew over the hot band are
# unverified.  Published web query logs report means of about 2.2-2.4
# terms per query (Excite: Jansen et al. 2000; AltaVista: Silverstein
# et al. 1999), counting the longer queries this 1-3 range leaves out.
# The shares hold exactly in every block of consecutive requests (the
# counts below, shuffled by the seed), so every phase of a run gets the
# same mix: a site-restricted request costs a fraction of another.
TERMS_BLOCK = (7, 9, 4)  # queries of 1, 2 and 3 terms in every 20
SITE_BLOCK = (9, 1)  # unrestricted and site-restricted in every 10
PAGED_BLOCK = (9, 1)  # first page and offset>0 in every 10
_EPOCH = dt.datetime(2024, 1, 1)
_CONSONANTS = "bdfgklmnprtvz"
_VOWELS = "aiou"


@lru_cache(maxsize=1)
def vocabulary() -> tuple[str, ...]:
    """``VOCAB_SIZE`` distinct pseudo-words, fixed across seeds, each
    analyzed by the engine's lemma analyzer to exactly itself."""
    from search_engine_spark.functions.lemmatizer import lemmatize

    syllables = [c + v for c in _CONSONANTS for v in _VOWELS]
    words = []
    rng = np.random.default_rng(20240101)
    seen = set()
    while len(words) < VOCAB_SIZE:
        n_syl = int(rng.integers(2, 5))
        w = "".join(syllables[i] for i in rng.integers(0, len(syllables),
                                                      n_syl))
        if w in seen:
            continue
        seen.add(w)
        if lemmatize(w, "english") == w:
            words.append(w)
    return tuple(words)


@lru_cache(maxsize=4)
def _cum_weights(vocab_size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab_size + 1, dtype=np.float64) ** ZIPF_S
    c = np.cumsum(w)
    return c / c[-1]


@dataclass
class Pages:
    """One generated batch of pages plus what the generator knows
    about it (used for input properties and correctness checks)."""

    table: pa.Table
    term_ids: list  # per page: np.ndarray of vocabulary ranks

    @property
    def urls(self) -> list[str]:
        return self.table.column("url").to_pylist()

    @property
    def text_bytes(self) -> int:
        return int(sum(len(t.encode()) for t in
                       self.table.column("text").to_pylist()))


def page_url(i: int) -> str:
    return f"https://site{i % N_SITES:02d}.example/d{(i // N_SITES) % 97}/p{i}"


def make_pages(seed: int, start: int, count: int,
               vocab_size: int = VOCAB_SIZE) -> Pages:
    """Pages ``start .. start+count-1`` over the first ``vocab_size``
    words; the same arguments always give the same rows."""
    vocab = vocabulary()
    cum = _cum_weights(vocab_size)
    rng = np.random.default_rng([seed, start, count])
    lens = rng.integers(*WORDS_PER_PAGE, size=count)
    ranks = np.searchsorted(cum, rng.random(int(lens.sum())))
    ranks = np.minimum(ranks, vocab_size - 1)
    urls, texts, htmls, term_ids = [], [], [], []
    pos = 0
    for j, n in enumerate(lens.tolist()):
        ids = ranks[pos:pos + n]
        pos += n
        words = [vocab[r] for r in ids.tolist()]
        cuts = np.cumsum(rng.integers(*WORDS_PER_SENTENCE, size=n // 6 + 1))
        sentences, prev = [], 0
        for c in cuts.tolist():
            if prev >= n:
                break
            sentences.append(" ".join(words[prev:c]) + ".")
            prev = c
        text = " ".join(sentences)
        title = " ".join(words[:4])
        urls.append(page_url(start + j))
        texts.append(text)
        htmls.append(
            f"<html><head><title>{title}</title></head><body><p>"
            f"{text}</p></body></html>".encode()
        )
        term_ids.append(np.unique(ids))
    table = pa.table({
        "url": urls,
        "warc_ts": pa.array(
            [_EPOCH + dt.timedelta(seconds=start + j) for j in range(count)],
            pa.timestamp("us"),
        ),
        "html": pa.array(htmls, pa.binary()),
        "text": texts,
        "lang": ["english"] * count,
    })
    return Pages(table, term_ids)


def document_frequency(pages: Pages) -> np.ndarray:
    """df per vocabulary rank over ``pages``."""
    if not pages.term_ids:
        return np.zeros(VOCAB_SIZE, np.int64)
    return np.bincount(np.concatenate(pages.term_ids),
                       minlength=VOCAB_SIZE)


@dataclass
class Request:
    query: str
    terms: tuple[str, ...]
    site: str | None
    offset: int
    limit: int


def _blocks(rng: np.random.Generator, n: int, counts) -> list[int]:
    """``n`` values in blocks, each holding value ``i`` exactly
    ``counts[i]`` times in shuffled order."""
    block = np.repeat(np.arange(len(counts)), counts)
    reps = -(-n // len(block))
    return np.concatenate([rng.permutation(block)
                           for _ in range(reps)])[:n].tolist()


def _terms_per_query(rng: np.random.Generator, n: int) -> list[int]:
    return [k + 1 for k in _blocks(rng, n, TERMS_BLOCK)]


def _shape(rng, terms: list[tuple[str, ...]]) -> list[Request]:
    n = len(terms)
    out = []
    for t, restrict, paged in zip(terms, _blocks(rng, n, SITE_BLOCK),
                                  _blocks(rng, n, PAGED_BLOCK)):
        site = None
        if restrict:
            site = f"https://site{int(rng.integers(N_SITES)):02d}.example"
        offset = int(rng.choice([10, 20])) if paged else 0
        out.append(Request(" ".join(t), t, site, offset, 10))
    return out


def hot_terms(df: np.ndarray) -> list[str]:
    """The mid-frequency band, in Zipf rank order (most frequent
    first), restricted to terms present in the corpus."""
    vocab = vocabulary()
    lo, hi = HOT_RANKS
    return [vocab[r] for r in range(lo, hi) if df[r] > 0]


def tail_terms(df: np.ndarray) -> list[str]:
    vocab = vocabulary()
    return [vocab[r] for r in range(TAIL_FROM_RANK, VOCAB_SIZE)
            if df[r] > 0]


def hot_queries(seed: int, df: np.ndarray, n: int) -> list[Request]:
    """Zipf-skewed 1-3 term queries over the hot band."""
    rng = np.random.default_rng([seed, 1])
    pool = hot_terms(df)
    w = 1.0 / np.arange(1, len(pool) + 1) ** 1.0
    w /= w.sum()
    out = []
    for k in _terms_per_query(rng, n):
        idx = rng.choice(len(pool), size=k, replace=False, p=w)
        out.append(tuple(pool[i] for i in sorted(idx.tolist())))
    return _shape(rng, out)


def tail_queries(seed: int, df: np.ndarray, n: int) -> list[Request]:
    """1-3 term queries over the long tail; no term repeats within
    the returned list, so each is first seen by a fresh server."""
    rng = np.random.default_rng([seed, 2])
    pool = tail_terms(df)
    order = rng.permutation(len(pool)).tolist()
    out, pos = [], 0
    for k in _terms_per_query(rng, n):
        if pos + k > len(order):
            raise ValueError("tail vocabulary exhausted; fewer queries")
        out.append(tuple(sorted(pool[i] for i in order[pos:pos + k])))
        pos += k
    return _shape(rng, out)


def same_ranking(a: list[tuple[str, float]], b: list[tuple[str, float]]
                 ) -> bool:
    """Same urls in the same order with the same scores (to the last
    bits a different summation order can change)."""
    import math

    return len(a) == len(b) and all(
        ua == ub and math.isclose(sa, sb, rel_tol=1e-9, abs_tol=1e-12)
        for (ua, sa), (ub, sb) in zip(a, b))
