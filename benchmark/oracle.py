"""Independent BM25 reference for checking the engine's answers.

Shares no code with the engine's postings, codec, term-stats, WAND or merge
paths: it keeps its own inverted lists over the generated pages and scores
with LegacyBM25Similarity semantics (k1=1.2, b=0.75, the (k1+1) numerator),
a global df / doc count / avgdl over every *stored* doc version and
SmallFloat-quantized doc lengths (values below 8 exact, otherwise the top
four significant bits).

It does reuse the engine's standard analyzer, applied once to every
distinct generated word and to each query text, to learn tokens and doc
lengths. The analyzer's byte-identity is held by the repo's golden tests;
``Oracle.block`` also checks, on a sample, that analyzing a whole page
gives the concatenation of its words' tokens.

Superseded versions stay in the collection statistics until a merge
expunges them, as in the reference engine; only live versions can be hits.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .inputs import VOCAB_SIZE, WORDS, Pages

K1 = 1.2
B = 0.75
REL_TOL = 1e-9


def quantize_length(dl: np.ndarray) -> np.ndarray:
    """SmallFloat decode(encode(dl)): exact below 8, else the top 4
    significant bits of dl."""
    dl = np.asarray(dl, dtype=np.int64)
    out = dl.copy()
    big = dl >= 8
    shift = np.floor(np.log2(dl[big])).astype(np.int64) - 3
    out[big] = (dl[big] >> shift) << shift
    return out


@dataclass
class Block:
    """Term-sorted (term, local doc, tf) postings of a set of pages."""

    term: np.ndarray  # int64 token ids, sorted
    doc: np.ndarray  # int64 local doc index
    tf: np.ndarray  # int64
    dl: np.ndarray  # int64 tokens per doc
    pages: Pages


class Oracle:
    """Token tables for the generated words, and page → postings blocks."""

    def __init__(self, analyze):
        self.analyze = analyze
        self.tok_of: dict[str, int] = {}
        ptr, ids = [0], []
        for w in WORDS:
            for t in analyze(w):
                ids.append(self.tok_of.setdefault(t, len(self.tok_of)))
            ptr.append(len(ids))
        self._wptr = np.array(ptr, dtype=np.int64)
        self._wtok = np.array(ids, dtype=np.int64)
        self._wlen = np.diff(self._wptr)
        self._tokens = list(self.tok_of)

    def tokens_of(self, pages: Pages) -> tuple[np.ndarray, np.ndarray]:
        """(flat token ids, tokens per doc) of ``pages``."""
        cnt = self._wlen[pages.word_ids]
        starts = self._wptr[pages.word_ids]
        flat = self._wtok[np.repeat(starts, cnt) + np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)]
        per_word_doc = np.repeat(np.arange(len(pages)), np.diff(pages.word_ptr))
        dl = np.bincount(per_word_doc, weights=cnt, minlength=len(pages)).astype(np.int64)
        return flat, dl

    def block(self, pages: Pages, verify: int = 64) -> Block:
        flat, dl = self.tokens_of(pages)
        doc = np.repeat(np.arange(len(pages), dtype=np.int64), dl)
        self._verify(pages, flat, dl, verify)
        keys, tf = np.unique(flat * max(len(pages), 1) + doc, return_counts=True)
        return Block(term=keys // max(len(pages), 1), doc=keys % max(len(pages), 1),
                     tf=tf.astype(np.int64), dl=dl, pages=pages)

    def _verify(self, pages: Pages, flat: np.ndarray, dl: np.ndarray, n: int) -> None:
        """Whole-page analysis must equal the per-word expansion: on the
        first ``n`` pages and on every edge-case page among the first 50n."""
        off = np.r_[0, np.cumsum(dl)]
        edge = np.nonzero(np.add.reduceat(pages.word_ids >= VOCAB_SIZE, pages.word_ptr[:-1]))[0] \
            if len(pages) else np.zeros(0, dtype=np.int64)
        for i in sorted(set(range(min(n, len(pages)))) | set(edge[edge < 50 * n].tolist())):
            want = [self._tokens[t] for t in flat[off[i]:off[i + 1]]]
            if self.analyze(pages.text[i]) != want:
                raise ValueError(f"page {i}: whole-text analysis differs from its words' tokens")


class IndexModel:
    """The doc versions an index stores, which of them are live, and the
    BM25 top-k the index must answer."""

    def __init__(self, oracle: Oracle):
        self.oracle = oracle
        self.blocks: list[tuple[Block, int]] = []  # (block, first version index)
        self.doc_id = np.zeros(0, dtype=np.int64)
        self.url = np.zeros(0, dtype=object)
        self.lang = np.zeros(0, dtype=object)
        self.dl = np.zeros(0, dtype=np.int64)
        self.live = np.zeros(0, dtype=bool)
        self.stored = np.zeros(0, dtype=bool)
        self.version_of: dict[str, int] = {}  # url -> live version index
        self._ver_of_doc: dict[int, int] = {}
        self._ql = np.zeros(0, dtype=np.int64)

    def add(self, block: Block, doc_ids: np.ndarray) -> None:
        """Store ``block``'s pages as new versions with the engine's doc ids;
        the previous live version of each of their urls is superseded."""
        base = len(self.doc_id)
        for u in block.pages.url:
            v = self.version_of.get(u)
            if v is not None:
                self.live[v] = False
        self.blocks.append((block, base))
        n = len(block.pages)
        self.doc_id = np.concatenate([self.doc_id, np.asarray(doc_ids, dtype=np.int64)])
        self.url = np.concatenate([self.url, block.pages.url])
        self.lang = np.concatenate([self.lang, block.pages.lang])
        self.dl = np.concatenate([self.dl, block.dl])
        self.live = np.concatenate([self.live, np.ones(n, dtype=bool)])
        self.stored = np.concatenate([self.stored, np.ones(n, dtype=bool)])
        for i, u in enumerate(block.pages.url):
            self.version_of[u] = base + i
        for i, d in enumerate(doc_ids):
            self._ver_of_doc[int(d)] = base + i
        self._ql = quantize_length(self.dl)

    def expunge(self) -> None:
        """A merge dropped every superseded version from the index."""
        self.stored = self.live.copy()

    @property
    def n_stored(self) -> int:
        return int(self.stored.sum())

    @property
    def n_live(self) -> int:
        return int(self.live.sum())

    def match(self, text: str, operator: str = "or", lang: str | None = None) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids ascending, scores) of every live doc the query matches."""
        none = (np.zeros(0, dtype=np.int64), np.zeros(0))
        terms = list(dict.fromkeys(self.oracle.analyze(text)))
        n = self.n_stored
        if not terms or n == 0:
            return none
        avgdl = float(self.dl[self.stored].sum()) / n
        per_term = []
        for t in terms:
            tid = self.oracle.tok_of.get(t)
            vers, tfs = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
            if tid is not None:
                for blk, base in self.blocks:
                    lo, hi = np.searchsorted(blk.term, [tid, tid + 1])
                    vers.append(blk.doc[lo:hi] + base)
                    tfs.append(blk.tf[lo:hi])
            ver, tf = np.concatenate(vers), np.concatenate(tfs).astype(np.float64)
            df = int(self.stored[ver].sum())
            if df:
                per_term.append((df, ver, tf))
        if not per_term or (operator == "and" and len(per_term) < len(terms)):
            return none
        vers, scores = [], []
        for df, ver, tf in per_term:
            w = math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * (K1 + 1.0)
            ok = self.live[ver]
            if lang is not None:
                ok &= self.lang[ver] == lang
            ver, tf = ver[ok], tf[ok]
            vers.append(ver)
            scores.append(w * (tf / (tf + K1 * (1.0 - B + B * self._ql[ver] / avgdl))))
        uniq, inv, cnt = np.unique(np.concatenate(vers), return_inverse=True, return_counts=True)
        summed = np.bincount(inv, weights=np.concatenate(scores), minlength=len(uniq))
        keep = cnt >= (len(per_term) if operator == "and" else 1)
        ids = self.doc_id[uniq[keep]]
        order = np.argsort(ids)
        return ids[order], summed[keep][order]

    def topk(self, text: str, k: int, operator: str = "or", lang: str | None = None) -> list[tuple[int, float]]:
        return _top(*self.match(text, operator, lang), k)

    def check(self, got: list[tuple[int, float]], text: str, k: int, operator: str = "or",
              lang: str | None = None) -> list[str]:
        """Problems with the engine's top-k ``got`` for this query."""
        ids, sc = self.match(text, operator, lang)
        want = _top(ids, sc, k)
        scores = {}
        for d, _ in got:
            p = np.searchsorted(ids, d)
            if p < len(ids) and ids[p] == d:
                scores[d] = float(sc[p])
        return compare_topk(got, want, scores, self)

    def is_superseded(self, doc_id: int) -> bool:
        v = self._ver_of_doc.get(int(doc_id))
        return v is not None and not self.live[v]


def _top(ids: np.ndarray, sc: np.ndarray, k: int) -> list[tuple[int, float]]:
    """The k best (doc id, score) pairs: score desc, doc id asc."""
    return [(int(ids[i]), float(sc[i])) for i in np.lexsort((ids, -sc))[:k]]


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def compare_topk(
    got: list[tuple[int, float]], want: list[tuple[int, float]], scores: dict[int, float],
    model: IndexModel | None = None,
) -> list[str]:
    """Problems with an engine top-k ``got`` against the oracle's ``want``:
    hits that are not live matching docs, scores off by more than
    ``REL_TOL``, missing docs that outscore the k-th hit, and a broken
    (score desc, doc_id asc) order. Exact score ties must be broken by doc
    id; docs whose scores agree only within the tolerance may swap."""
    if [d for d, _ in got] == [d for d, _ in want] and all(close(g, w) for (_, g), (_, w) in zip(got, want)):
        return []
    problems = []
    if len(got) != len(want):
        problems.append(f"{len(got)} hits, want {len(want)}")
    for d, s in got:
        if d not in scores:
            kind = "a superseded version" if model is not None and model.is_superseded(d) else "not a live matching doc"
            problems.append(f"hit {d} is {kind}")
        elif not close(s, scores[d]):
            problems.append(f"hit {d} scored {s!r}, want {scores[d]!r}")
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if not close(gs, ws):
            problems.append(f"rank {i} has score {gs!r}, want {ws!r}")
    for (d1, s1), (d2, s2) in zip(got, got[1:]):
        if s1 < s2 and not close(s1, s2) or (s1 == s2 and d1 > d2):
            problems.append(f"order: ({d1}, {s1!r}) before ({d2}, {s2!r})")
    if want:
        kth = want[-1][1]
        ids = {d for d, _ in got}
        missing = [d for d, s in want if s > kth and not close(s, kth) and d not in ids]
        if missing:
            problems.append(f"missing hits {missing}")
    if len({d for d, _ in got}) != len(got):
        problems.append("duplicate hits")
    return problems
