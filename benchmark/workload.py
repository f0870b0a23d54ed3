"""The two workloads and the closed loop that runs them.

Each run owns two indexes:

- ``serve``: built once during set-up, 8 segments, never written again, read
  through one warm ``IndexReader``. ``search``, ``filtered`` and ``msearch``
  ops read it.
- ``life-*``: one fresh index per cycle. ``build`` bulk-loads the cycle's
  pages into it (8 partitions), each ``bulk`` op batch adds new urls and
  re-indexes live ones (tombstoning the old versions) and is followed by an
  ``ingest_search`` op over the growing, unmerged index, and ``merge``
  force-merges it, expunging the superseded versions. The index is deleted
  when the cycle ends.

A cycle is a fixed list of op kinds (``CYCLE``), so every run executes the
same seeded sequence with op kinds interleaved, and every metric is taken
over one op kind. Both workloads run the same cycle, so every end-to-end
metric is measured on both; they differ in index sizes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from . import inputs
from .oplog import OpLog
from .oracle import IndexModel, Oracle, close

K = 10
PARTITIONS = 8
LANG_FILTERS = ("en", "de", "zh")  # ~80%, 10% and 5% of docs
BULK_NEW, BULK_REINDEX = 300, 100  # new and re-indexed urls per op batch
MSEARCH_BATCH = 80
DOC_MU = 5.3  # lognormal mean of log(words per page)
CYCLE_S = 10.0  # median wall seconds of one timed cycle on a 4-core host (build 11 s, search 10 s)


# one cycle's op kinds, in order: the same for both workloads, which differ
# in index sizes only
CYCLE = ("build", "search", "filtered", "msearch", "bulk", "search", "filtered",
         "msearch", "bulk", "merge")


@dataclass(frozen=True)
class Plan:
    serve_docs: int  # pages generated for the serve index
    life_docs: int  # pages bulk-loaded into each cycle's fresh index


PLANS = {
    # tokenize, postings encode and merge dominate: an 8k-page load and its
    # force-merge every cycle, reads over a small index
    "build": Plan(serve_docs=5_000, life_docs=8_000),
    # top-k and Spark scheduling dominate: reads over a 30k-page, 8-segment
    # index, with a smaller index lifecycle alongside (at 3k pages a merge is
    # mostly Spark job overhead, and its median over a run spread 20%). Both
    # sizes keep a run near one minute on a 4-core host.
    "search": Plan(serve_docs=30_000, life_docs=4_000),
}

# input streams drawn from --seed
SERVE_PAGES, LIFE_PAGES, TIMED_QUERIES, WARM_QUERIES, CHECK_QUERIES, PROBE_QUERIES = range(1, 7)
LATER_US = inputs.EPOCH_US + 365 * 86_400 * 1_000_000  # op batches are newer than any page


def latest_versions(pages: inputs.Pages) -> inputs.Pages:
    """The pages a build keeps: the latest ``warc_ts`` per url."""
    order = np.lexsort((pages.warc_ts, pages.url))
    last = np.r_[pages.url[order][1:] != pages.url[order][:-1], True]
    return pages.take(np.sort(order[last]))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs)


def seg_dirs(index_dir: str) -> dict[int, str]:
    root = os.path.join(index_dir, "segments")
    return {
        int(n.split("=", 1)[1]): os.path.join(root, n)
        for n in os.listdir(root) if n.startswith("seg=")
    } if os.path.isdir(root) else {}


def stored_docs(index_dir: str, segs=None) -> dict[str, tuple[int, int]]:
    """url -> (doc_id, dl) of every doc in the index's segment files
    (or in the segments ``segs``)."""
    out = {}
    for s, d in sorted(seg_dirs(index_dir).items()):
        if segs is None or s in segs:
            t = pq.read_table(os.path.join(d, "docs.parquet"), columns=["doc_id", "url", "dl"])
            for u, i, n in zip(t["url"].to_pylist(), t["doc_id"].to_pylist(), t["dl"].to_pylist()):
                if u in out:
                    out[u] = (-1, -1)  # two stored versions in one read: flagged by the caller
                else:
                    out[u] = (i, n)
    return out


def hits(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def same_hits(a: list, b: list) -> bool:
    return len(a) == len(b) and all(x[0] == y[0] and close(x[1], y[1]) for x, y in zip(a, b))


class Life:
    """One cycle's fresh index and the oracle's model of it."""

    def __init__(self, bench: "Bench", name: str):
        self.name = name
        self.dir = bench.engine._dir(name)
        self.model = IndexModel(bench.oracle)
        self.batches = 0
        self.space: list[float] = []  # bytes on disk per live doc after each write


class Bench:
    def __init__(self, spark, work: str, plan: Plan, seed: int, oplog: OpLog):
        from elasticsearch_spark.api import Engine
        from elasticsearch_spark.functions import analysis

        self.spark = spark
        self.plan = plan
        self.seed = seed
        self.log = oplog
        self.tracer = None  # set for traced cycles
        self.engine = Engine(spark, root=os.path.join(work, "indices"))
        self.analyze = lambda text: analysis.analyze(text, "standard")
        self.oracle = Oracle(self.analyze)
        self.streams = {
            "timed": inputs.QueryStream(seed, TIMED_QUERIES),
            "warm": inputs.QueryStream(seed, WARM_QUERIES),
        }
        self.seen_terms: set[str] = set()
        self.terms_seen = [0, 0]  # (query terms already seen, query terms)
        self.n_filtered = 0
        self.check_merge = True  # check answers around the next merges
        self.probe_dir: str | None = None  # traced runs copy each index here before its merge
        self.probe_stored = 0  # stored versions of that copy

    # ---- set-up -------------------------------------------------------

    def setup(self) -> None:
        from elasticsearch_spark.operators.topk import IndexReader

        p = self.plan
        serve = inputs.make_pages(self.seed, SERVE_PAGES, p.serve_docs, DOC_MU)
        life = inputs.make_pages(self.seed, LIFE_PAGES, p.life_docs, DOC_MU)
        self.serve_pages = latest_versions(serve)
        self.serve_block = self.oracle.block(self.serve_pages)
        self.life_pages = latest_versions(life)
        self.life_block = self.oracle.block(self.life_pages)
        self.life_df = self.spark.createDataFrame(life.frame())
        self.engine.create_index("serve", num_partitions=PARTITIONS)
        self.serve_dir = self.engine._dir("serve")
        res, _ = self.log.call("serve-build", lambda: self.engine.bulk(
            "serve", self.spark.createDataFrame(serve.frame())))
        if res is None:
            raise RuntimeError("the serve index could not be built")
        self.serve = IndexModel(self.oracle)
        ids = self._check_stored("serve build", self.serve_dir, self.serve_block)
        self.serve.add(self.serve_block, ids)
        self.serve_segments = len(seg_dirs(self.serve_dir))
        self.reader = IndexReader(self.spark, self.serve_dir)
        self.reader.postings.count()  # an open reader holds its cache filled
        self.reader.docs.count()

    def _check_stored(self, what: str, index_dir: str, block, segs=None) -> np.ndarray:
        """The engine's doc ids for ``block``'s pages, after checking that the
        index (or its segments ``segs``) stores exactly those pages with the
        oracle's doc lengths."""
        got = stored_docs(index_dir, segs)
        urls = block.pages.url
        problems = []
        if len(got) != len(urls) or set(got) != set(urls):
            problems.append(f"stores {len(got)} urls, want the {len(urls)} written")
        ids = np.array([got.get(u, (-1, -1))[0] for u in urls], dtype=np.int64)
        dls = np.array([got.get(u, (-1, -1))[1] for u in urls], dtype=np.int64)
        if (ids < 0).any():
            problems.append(f"{int((ids < 0).sum())} urls missing or stored twice")
        bad = np.nonzero(dls != block.dl)[0]
        if len(bad):
            problems.append(f"{len(bad)} doc lengths differ, e.g. {urls[bad[0]]}: {dls[bad[0]]} vs {block.dl[bad[0]]}")
        self.log.check(what, problems)
        return ids

    # ---- the loop -----------------------------------------------------

    def cycle(self, n: int, stream: str, kinds: tuple = CYCLE) -> float:
        """Run cycle ``n`` of op kinds ``kinds`` on query stream ``stream``;
        returns its wall seconds."""
        t0 = time.perf_counter()
        life = Life(self, f"life-{stream}-{n}")
        self.engine.create_index(life.name, num_partitions=PARTITIONS)
        q = self.streams[stream]
        try:
            for kind in kinds:
                getattr(self, f"_{kind}")(life, q, n, stream)
        finally:
            self.engine.delete_index(life.name)
        return time.perf_counter() - t0

    def _op(self, kind: str, fn):
        return self.log.call(kind, fn, self.tracer)

    def _query(self, q) -> inputs.Query:
        query = next(q)
        for w in dict.fromkeys(query.terms):
            self.terms_seen[0] += w in self.seen_terms
            self.terms_seen[1] += 1
            self.seen_terms.add(w)
        return query

    def _build(self, life: Life, q, n, stream) -> None:
        res, wall = self._op("build", lambda: self.engine.bulk(life.name, self.life_df))
        if res is None:
            return
        docs = len(self.life_pages)
        ok = self.log.check("build response", [] if res["doc_count"] == docs else
                            [f"doc_count {res['doc_count']}, want {docs}"])
        life.model.add(self.life_block, self._check_stored("build", life.dir, self.life_block))
        life.space.append(dir_bytes(life.dir) / life.model.n_live)
        if ok:
            self.log.sample("build", wall=wall, value=docs / wall)
        if self.check_merge:
            self._check_merge_keeps_answers(life)

    def _check_merge_keeps_answers(self, life: Life) -> None:
        """Without tombstones a merge keeps every score: the same queries
        must get the same top-k before and after it."""
        before = self._check_msearch(life, "unmerged")
        self._forcemerge(life, "check_merge")
        after = self._check_msearch(life, "merged")
        if before is not None and after is not None:
            self.log.check("merged vs unmerged", [
                f"{qid}: {before.get(qid, [])} unmerged, {after.get(qid, [])} merged"
                for qid in sorted(set(before) | set(after))
                if not same_hits(before.get(qid, []), after.get(qid, []))
            ])

    def _forcemerge(self, life: Life, kind: str):
        """One checked ``Engine.forcemerge`` op; (result, wall, segment dirs
        before, after) or None. Afterwards the index must store exactly the
        live versions."""
        before = seg_dirs(life.dir)
        res, wall = self._op(kind, lambda: self.engine.forcemerge(life.name))
        if res is None:
            return None
        after = seg_dirs(life.dir)
        life.model.expunge()
        problems = []
        if not res.get("merges"):
            problems.append(f"nothing merged: {res}")
        got = stored_docs(life.dir)
        want = {u: int(life.model.doc_id[v]) for u, v in life.model.version_of.items()}
        if {u: i for u, (i, _) in got.items()} != want:
            problems.append(f"stores {len(got)} docs after the merge, want the {len(want)} live ones")
        if not self.log.check(kind, problems) or not res.get("merged_docs"):
            return None
        return res, wall, before, after

    def _merge(self, life: Life, q, n, stream) -> None:
        """Force-merge the index grown by op batches: the merge drops the
        superseded versions, and scores then use the live docs' statistics."""
        if self.probe_dir is not None:
            shutil.rmtree(self.probe_dir, ignore_errors=True)
            shutil.copytree(life.dir, self.probe_dir)
            self.probe_stored = life.model.n_stored
        stored = life.model.n_stored
        got = self._forcemerge(life, "merge")
        if self.check_merge:
            self._check_msearch(life, "merged")
        if got is None:
            return
        res, wall, before, after = got
        total = dir_bytes(life.dir)
        life.space.append(total / life.model.n_live)
        self.log.sample(
            "merge", wall=wall, value=res["merged_docs"] / wall, bytes_per_doc=total / life.model.n_live,
            segments_before=len(before), segments_after=len(after),
            bytes_rewritten=sum(dir_bytes(d) for s, d in after.items() if s not in before),
            index_bytes=total, expunged=stored - life.model.n_live,
            cycle_bytes_per_live_doc=float(np.mean(life.space)),
            postings_bytes=sum(os.path.getsize(os.path.join(d, "postings.parquet")) for d in after.values()),
            docs_bytes=sum(os.path.getsize(os.path.join(d, "docs.parquet")) for d in after.values()),
            stats_bytes=dir_bytes(os.path.join(life.dir, "stats")),
        )

    def _bulk(self, life: Life, q, n, stream) -> None:
        life.batches += 1
        key = (1000 if stream == "timed" else 500_000) + 100 * n + life.batches
        batch = inputs.bulk_batch(
            self.seed, key, life.model.url[life.model.live], BULK_NEW, BULK_REINDEX,
            DOC_MU, LATER_US + key * 1_000_000,
        )
        block = self.oracle.block(batch, verify=8)
        df = self.spark.createDataFrame(batch.frame())
        before = seg_dirs(life.dir)
        res, wall = self._op("bulk", lambda: self.engine.bulk(life.name, df))
        if res is None:
            return
        after = seg_dirs(life.dir)
        want = {"indexed": BULK_NEW, "updated": BULK_REINDEX, "created": 0, "deleted": 0,
                "create_conflicts": 0, "version_conflicts": 0}
        ok = self.log.check("bulk response", [] if res == want else [f"{res}, want {want}"])
        new = set(after) - set(before)
        ids = self._check_stored("bulk", life.dir, block, segs=new)
        life.model.add(block, ids)
        life.space.append(dir_bytes(life.dir) / life.model.n_live)
        if ok:
            self.log.sample("bulk", wall=wall, new_segments=len(new))
        query = self._query(q)
        body = {"query": {"match": {"text": {"query": query.text, "operator": query.operator}}}, "size": K}
        rows, wall = self._op("ingest_search", lambda: self.engine.search(life.name, body)["hits"].collect())
        if rows is not None and self.log.check(
            f"ingest search {query.text!r}", life.model.check(hits(rows), query.text, K, query.operator)
        ):
            self.log.sample("ingest_search", wall=wall, segments=len(after))

    def _search(self, life: Life, q, n, stream) -> None:
        query = self._query(q)
        body = {"query": {"match": {"text": {"query": query.text, "operator": query.operator}}}, "size": K}
        rows, wall = self._op("search", lambda: self.engine.search("serve", body)["hits"].collect())
        if rows is not None and self.log.check(
            f"search {query.text!r}", self.serve.check(hits(rows), query.text, K, query.operator)
        ):
            self.log.sample("search", wall=wall)

    def _filtered(self, life: Life, q, n, stream) -> None:
        from elasticsearch_spark.operators.topk import search_topk

        query = self._query(q)
        lang = LANG_FILTERS[self.n_filtered % len(LANG_FILTERS)]
        self.n_filtered += 1
        rows, wall = self._op("filtered", lambda: search_topk(
            self.spark, self.serve_dir, self.analyze(query.text), k=K, operator=query.operator,
            doc_filter=lambda d: d["lang"] == lang, reader=self.reader,
        ).collect())
        if rows is not None and self.log.check(
            f"filtered {lang} {query.text!r}",
            self.serve.check(hits(rows), query.text, K, query.operator, lang=lang),
        ):
            self.log.sample("filtered", wall=wall)

    def _msearch(self, life: Life, q, n, stream) -> None:
        qs = [self._query(q) for _ in range(MSEARCH_BATCH)]
        got = self._run_msearch(self.serve_dir, qs, self.reader, "msearch", self.serve)
        if got is not None:
            self.log.sample("msearch", wall=got[1], value=len(qs) / got[1])

    def _run_msearch(self, index_dir, qs, reader, kind, model):
        """One checked ``msearch_topk`` batch; (answers by qid, wall) or None."""
        from elasticsearch_spark.operators.topk import msearch_topk

        body = {f"q{i}": {"terms": self.analyze(x.text), "operator": x.operator} for i, x in enumerate(qs)}
        rows, wall = self._op(kind, lambda: msearch_topk(self.spark, index_dir, body, k=K, reader=reader).collect())
        if rows is None:
            return None
        by_q: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], -r["score"], r["doc_id"])):
            by_q.setdefault(r["qid"], []).append((int(r["doc_id"]), float(r["score"])))
        problems = [f"hits for unknown queries {sorted(set(by_q) - set(body))}"] if set(by_q) - set(body) else []
        for i, x in enumerate(qs):
            problems += [f"{x.text!r}: {p}" for p in model.check(by_q.get(f"q{i}", []), x.text, K, x.operator)]
        if not self.log.check(kind, problems):
            return None
        return by_q, wall

    def _check_msearch(self, life: Life, state: str):
        """Check queries over the cycle's index; returns their answers."""
        qs = [q for q, _ in zip(inputs.QueryStream(self.seed, CHECK_QUERIES), range(10))]
        got = self._run_msearch(life.dir, qs, None, f"check_{state}", life.model)
        return None if got is None else got[0]

    # ---- metrics ------------------------------------------------------

    def term_repeat_share(self) -> float:
        return self.terms_seen[0] / max(1, self.terms_seen[1])


def median(xs) -> float:
    return float(statistics.median(xs))


# end-to-end metric -> (op kind, sample field, scale, unit)
E2E = {
    "build_docs_per_s": ("build", "value", 1.0, "docs/s"),
    "merge_docs_per_s": ("merge", "value", 1.0, "docs/s"),
    "index_bytes_per_doc": ("merge", "bytes_per_doc", 1.0, "B/doc"),
    "search_p50_ms": ("search", "wall", 1000.0, "ms"),
    "filtered_p50_ms": ("filtered", "wall", 1000.0, "ms"),
    "msearch_qps": ("msearch", "value", 1.0, "queries/s"),
    "bulk_p50_ms": ("bulk", "wall", 1000.0, "ms"),
    "ingest_search_p50_ms": ("ingest_search", "wall", 1000.0, "ms"),
    "ingest_bytes_per_live_doc": ("merge", "cycle_bytes_per_live_doc", 1.0, "B/doc"),
}


def e2e_metrics(oplog: OpLog, setup_s: float) -> dict[str, dict]:
    """Each metric is the median over the ops of one kind: value, unit and
    sample count. A metric whose ops all failed is left out."""
    out = {"setup_s": {"value": setup_s, "unit": "s", "n": 1}}
    for name, (kind, field, scale, unit) in E2E.items():
        xs = [s[field] for s in oplog.samples.get(kind, [])]
        if xs:
            out[name] = {"value": median(xs) * scale, "unit": unit, "n": len(xs)}
    return out

