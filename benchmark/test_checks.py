"""The benchmark's own checks catch wrong answers and count failed ops.

    python3 -m pytest benchmark -q
"""

from __future__ import annotations

import numpy as np
import pytest

from benchmark import inputs
from benchmark.oplog import OpLog
from benchmark.oracle import IndexModel, Oracle, compare_topk, quantize_length


def _analyze(text: str) -> list[str]:
    return text.lower().split()


@pytest.fixture(scope="module")
def oracle():
    return Oracle(_analyze)


@pytest.fixture()
def model(oracle):
    pages = inputs.make_pages(seed=7, stream=1, n=300, mu=3.5, duplicates=False)
    m = IndexModel(oracle)
    m.add(oracle.block(pages), np.arange(1000, 1000 + len(pages)))
    return m


QUERY = "the of w00003"


def test_quantize_length_keeps_top_four_bits():
    assert quantize_length(np.array([0, 7, 8, 15, 17, 100, 1000])).tolist() == [0, 7, 8, 15, 16, 96, 960]


def test_oracle_answer_passes(model):
    want = model.topk(QUERY, 10)
    assert len(want) == 10
    assert model.check(want, QUERY, 10) == []


def test_flags_wrong_hit(model):
    want = model.topk(QUERY, 10)
    ids, scores = model.match(QUERY)
    outsider = next(int(d) for d in ids if int(d) not in {d for d, _ in want})
    got = want[:-1] + [(outsider, float(scores[np.searchsorted(ids, outsider)]))]
    assert model.check(got, QUERY, 10)


def test_flags_wrong_score(model):
    want = model.topk(QUERY, 10)
    got = [(d, s * (1 + 1e-6)) if i == 3 else (d, s) for i, (d, s) in enumerate(want)]
    assert any("scored" in p for p in model.check(got, QUERY, 10))


def test_flags_broken_tie_order():
    got = [(5, 2.0), (3, 2.0)]
    want = [(3, 2.0), (5, 2.0)]
    assert any("order" in p for p in compare_topk(got, want, {3: 2.0, 5: 2.0}))


def test_flags_superseded_version_hit(oracle, model):
    old_doc, old_score = model.topk(QUERY, 1)[0]
    url = model.url[int(np.nonzero(model.doc_id == old_doc)[0][0])]
    # a new version of that url, with different text, supersedes the old doc
    batch = inputs.make_pages(seed=8, stream=2, n=1, mu=2.0, urls=np.array([url], dtype=object),
                              duplicates=False)
    model.add(oracle.block(batch), np.array([9000]))
    assert model.is_superseded(old_doc)
    want = model.topk(QUERY, 10)
    got = [(old_doc, old_score)] + want[:-1]
    assert any("superseded" in p for p in model.check(got, QUERY, 10))


def test_flags_stale_statistics_after_a_compaction(oracle, model):
    # re-index a tenth of the urls: until a merge, the superseded versions
    # still count in the collection statistics
    urls = model.url[::10]
    batch = inputs.make_pages(seed=9, stream=3, n=len(urls), mu=3.5, urls=urls, duplicates=False)
    model.add(oracle.block(batch), np.arange(9000, 9000 + len(urls)))
    before = model.topk(QUERY, 10)
    assert model.check(before, QUERY, 10) == []
    model.expunge()
    assert model.n_stored == model.n_live
    assert model.topk(QUERY, 10) != before
    assert model.check(before, QUERY, 10)


def test_raised_exception_is_a_failed_op():
    log = OpLog()

    def boom():
        raise RuntimeError("engine error")

    assert log.call("search", boom) == (None, None)
    assert log.call("search", lambda: 42)[0] == 42
    assert (log.attempted, log.failed) == (2, 1)
    assert log.correct  # a failed op is counted, not a wrong answer


def test_wrong_answer_marks_run_incorrect():
    log = OpLog()
    assert not log.check("search 'x'", ["hit 7 is not a live matching doc"])
    assert not log.correct
