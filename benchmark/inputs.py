"""Seeded inputs: pages, bulk op batches and query streams.

Generated here, not by ``elasticsearch_spark.sources.pages``, so that a later
change to the package cannot change the workload. The distribution mirrors
that generator: a Zipf(1.07) vocabulary of 50k words whose top ranks are
stopword-scale hot terms, lognormal document lengths, ~1% duplicate urls
with a later ``warc_ts``, an 80/10/5/5 en/de/zh/unk language mix and 5% of
pages carrying edge-case words (accents, CJK, numbers, apostrophes, an
over-long token).

Every page is recorded as the ids of the words it was built from
(``WORDS``); the oracle turns word ids into tokens. Nothing here imports
the engine.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
STOPWORDS = (
    "the", "of", "and", "to", "a", "in", "is", "it", "you", "that",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "i",
)
EDGE_WORDS = (
    "Zürich", "café", "naïve", "don't", "O'Brien", "例子", "中文", "する",
    "3.14159", "1,000,000", "MixedCase", "UPPERCASE", "foo_bar", "x" * 300,
)
WORDS = np.array(
    list(STOPWORDS) + [f"w{i:05d}" for i in range(VOCAB_SIZE - len(STOPWORDS))] + list(EDGE_WORDS),
    dtype=object,
)
LANGS = ("en", "de", "zh", "unk")
_LANG_CUT = np.array([0.80, 0.90, 0.95])

_zw = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
_ZIPF_CUM = np.cumsum(_zw / _zw.sum())

# query term bands by vocabulary rank: hot terms force WAND pruning, tail
# terms touch one or two blocks
_BANDS = ((0, 50), (50, 2000), (2000, VOCAB_SIZE))
_BAND_P = np.array([0.3, 0.4, 0.3])

EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


@dataclass
class Pages:
    """Generated pages and the word ids each text was joined from."""

    url: np.ndarray  # object
    text: list
    lang: np.ndarray  # object
    warc_ts: np.ndarray  # datetime64[us]
    word_ptr: np.ndarray  # int64, len n + 1
    word_ids: np.ndarray  # int64 indexes into WORDS

    def __len__(self) -> int:
        return len(self.text)

    def frame(self) -> pd.DataFrame:
        """The rows the engine receives: url, text, lang, warc_ts."""
        return pd.DataFrame(
            {"url": self.url, "text": self.text, "lang": self.lang, "warc_ts": self.warc_ts}
        )

    def take(self, idx: np.ndarray) -> "Pages":
        idx = np.asarray(idx, dtype=np.int64)
        lens = np.diff(self.word_ptr)[idx]
        starts = self.word_ptr[idx]
        gather = np.repeat(starts, lens) + np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)
        return Pages(
            url=self.url[idx], text=[self.text[i] for i in idx], lang=self.lang[idx],
            warc_ts=self.warc_ts[idx], word_ptr=np.r_[0, np.cumsum(lens)].astype(np.int64),
            word_ids=self.word_ids[gather],
        )


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def rank_words(seed: int) -> np.ndarray:
    """Word id of each Zipf rank under ``seed``: the stopwords share the top
    ranks and the other words the rest, each in a seeded order. Pages and
    queries draw ranks and map them through this table, so a seed changes
    which words are hot but not how hot the i-th query's words are."""
    rng = _rng(seed, 0)
    n = len(STOPWORDS)
    return np.concatenate([rng.permutation(n), n + rng.permutation(VOCAB_SIZE - n)])


def make_pages(
    seed: int, stream: int, n: int, mu: float, urls: np.ndarray | None = None,
    ts0_us: int = EPOCH_US, duplicates: bool = True,
) -> Pages:
    """``n`` pages from stream ``(seed, stream)``. ``urls`` overrides the
    generated urls (bulk batches re-index existing urls)."""
    rng = _rng(seed, stream)
    lens = np.clip(rng.lognormal(mu, 0.8, n), 5, 2000).astype(np.int64)
    ptr = np.r_[0, np.cumsum(lens)].astype(np.int64)
    ids = rank_words(seed)[np.searchsorted(_ZIPF_CUM, rng.random(int(ptr[-1])))]
    edge = np.nonzero(rng.random(n) < 0.05)[0]
    if len(edge):
        pos = ptr[edge, None] + (rng.random((len(edge), 3)) * lens[edge, None]).astype(np.int64)
        ids[pos.ravel()] = VOCAB_SIZE + rng.integers(0, len(EDGE_WORDS), pos.size)
    words = WORDS[ids]
    text = [" ".join(words[ptr[i]:ptr[i + 1]]) for i in range(n)]
    lang = np.array(LANGS, dtype=object)[np.searchsorted(_LANG_CUT, rng.random(n), side="right")]
    k = np.arange(n)
    src = k.copy()
    if duplicates:
        dup = (k % 100 == 99)
        src[dup] = k[dup] - 1  # same url as the previous page, 37 s later
    if urls is None:
        urls = np.array(
            [f"https://site{s % 1000}.example/s{stream}/page{s:08d}" for s in src], dtype=object
        )
    ts = (ts0_us + k * 37_000_000).astype("datetime64[us]")
    return Pages(url=urls, text=text, lang=lang, warc_ts=ts, word_ptr=ptr, word_ids=ids)


def bulk_batch(
    seed: int, stream: int, live_urls: np.ndarray, n_new: int, n_reindex: int, mu: float,
    ts0_us: int,
) -> Pages:
    """One op batch: ``n_new`` pages under new urls and ``n_reindex`` new
    versions of distinct urls drawn from ``live_urls``."""
    pick = _rng(seed, stream, 1).choice(len(live_urls), size=n_reindex, replace=False)
    urls = np.concatenate([
        np.array([f"https://new.example/s{stream}/page{i:06d}" for i in range(n_new)], dtype=object),
        np.asarray(live_urls, dtype=object)[np.sort(pick)],
    ])
    return make_pages(seed, stream, n_new + n_reindex, mu, urls=urls, ts0_us=ts0_us, duplicates=False)


@dataclass(frozen=True)
class Query:
    text: str
    terms: tuple  # the words the text was joined from, in order
    operator: str  # "or" | "and"


class QueryStream:
    """Endless queries: 1-5 words, each a Zipf draw inside a rank band
    (hot/mid/tail), 30% AND, 3% carrying an out-of-vocabulary word.

    The i-th query's shape (word count, ranks, operator, where an
    out-of-vocabulary word goes) is the same for every seed; the seed's
    ``rank_words`` table picks the words. So runs with different seeds ask
    equally costly query mixes.
    """

    def __init__(self, seed: int, stream: int):
        self._words = rank_words(seed)
        self._shape = _rng(0, stream)
        self._stream = stream
        self._n = 0

    def __iter__(self):
        return self

    def __next__(self) -> Query:
        shape = self._shape
        n_terms = int(shape.choice(5, p=[0.2, 0.3, 0.25, 0.15, 0.1])) + 1
        words = []
        for band in shape.choice(3, size=n_terms, p=_BAND_P):
            lo, hi = _BANDS[band]
            c0 = _ZIPF_CUM[lo - 1] if lo else 0.0
            u = c0 + shape.random() * (_ZIPF_CUM[hi - 1] - c0)
            words.append(str(WORDS[self._words[min(int(np.searchsorted(_ZIPF_CUM, u)), hi - 1)]]))
        if shape.random() < 0.03:
            words.insert(int(shape.integers(0, len(words) + 1)), f"zz{self._stream}q{self._n}")
        self._n += 1
        op = "and" if shape.random() < 0.3 else "or"
        return Query(text=" ".join(words), terms=tuple(words), operator=op)
