"""Per-layer metrics of a traced run, measured from outside the package:

- direct, timed calls to the package's public functions;
- each traced op's Spark jobs, tasks, executor run time and shuffle bytes,
  read from the status store (``sparkenv.Tracer``);
- the PySpark UDF profiler, only for in-task Python that has no public
  entry point (the msearch segment task's read, decode and score).

README.md maps each metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import cProfile
import os
import pstats
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from . import inputs
from .workload import K, MSEARCH_BATCH, PROBE_QUERIES, Bench, seg_dirs


CODEC_BLOCKS = 20_000  # postings blocks sampled for the codec timings


def _med(xs) -> float:
    return float(statistics.median(xs))


def _timed(fn, reps: int = 3) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return _med(walls)


def from_ops(bench: Bench, tracer) -> dict[str, tuple[float, str]]:
    """Session, postings, ops and top-k task metrics of the traced ops."""

    def of(kind, f):
        return [f(o) for o in tracer.ops if o["kind"] == kind]

    def overhead_ms(kind):
        return _med(of(kind, lambda o: (o["wall"] - o["critical_s"]) * 1000))

    return {
        "session.jobs_per_search": (_med(of("search", lambda o: o["jobs"])), "count"),
        "session.tasks_per_search": (_med(of("search", lambda o: o["tasks"])), "count"),
        "session.overhead_ms_per_search": (overhead_ms("search"), "ms"),
        "session.overhead_ms_per_filtered": (overhead_ms("filtered"), "ms"),
        "session.overhead_ms_per_msearch": (overhead_ms("msearch"), "ms"),
        "session.jobs_per_bulk": (_med(of("bulk", lambda o: o["jobs"])), "count"),
        "session.overhead_ms_per_bulk": (overhead_ms("bulk"), "ms"),
        "session.failed_tasks": (float(sum(o["failed_tasks"] for o in tracer.ops)), "count"),
        "postings.route_shuffle_mb": (_med(of("build", lambda o: o["shuffle_bytes"] / 1e6)), "MB"),
        "postings.build_task_s": (_med(of("build", lambda o: o["exec_s"])), "s"),
        "ops.bulk_task_s": (_med(of("bulk", lambda o: o["exec_s"])), "s"),
        "topk.task_ms_per_segment": (
            _med(of("msearch", lambda o: o["exec_s"] * 1000 / bench.serve_segments)), "ms"),
        "topk.filtered_shuffle_mb": (_med(of("filtered", lambda o: o["shuffle_bytes"] / 1e6)), "MB"),
    }


def from_samples(bench: Bench, oplog) -> dict[str, tuple[float, str]]:
    """Index shape and trace overhead, from the sampled ops."""
    s = oplog.samples

    def med(kind, field):
        return _med([x[field] for x in s[kind]])

    ratios = []
    for kind, xs in s.items():
        on = [x["wall"] for x in xs if x["traced"]]
        off = [x["wall"] for x in xs if not x["traced"]]
        if on and off:
            ratios.append(_med(on) / _med(off))
    return {
        "ops.new_segments_per_bulk": (med("bulk", "new_segments"), "count"),
        "index_store.segments_live": (med("ingest_search", "segments"), "count"),
        "index_store.postings_bytes": (med("merge", "postings_bytes"), "B"),
        "index_store.docs_bytes": (med("merge", "docs_bytes"), "B"),
        "index_store.stats_bytes": (med("merge", "stats_bytes"), "B"),
        "merge.segments_before": (med("merge", "segments_before"), "count"),
        "merge.segments_after": (med("merge", "segments_after"), "count"),
        "merge.bytes_rewritten": (med("merge", "bytes_rewritten"), "B"),
        "merge.write_amp": (_med([x["bytes_rewritten"] / x["index_bytes"] for x in s["merge"]]), "ratio"),
        "merge.expunged_docs": (med("merge", "expunged"), "count"),
        "search.term_repeat_share": (bench.term_repeat_share(), "ratio"),
        "trace.overhead_pct": ((_med(ratios) - 1.0) * 100 if ratios else 0.0, "%"),
    }


def analysis_and_build(bench: Bench) -> dict[str, tuple[float, str]]:
    """Tokenizer, segment build and postings encode on the cycle's pages."""
    from elasticsearch_spark.functions.analysis import standard_tokenize
    from elasticsearch_spark.operators import postings

    pages = bench.life_pages
    sample = pages.text[:1000]
    tok = _timed(lambda: [standard_tokenize(t) for t in sample])
    queries = [q.text for q, _ in zip(inputs.QueryStream(bench.seed, PROBE_QUERIES), range(200))]
    analyze = _timed(lambda: [bench.analyze(t) for t in queries], 1)  # later passes hit its cache

    part = pages.take(np.arange(max(1, len(pages) // 8))).frame()
    build = _timed(lambda: postings.build_segment_frames(part, 0, "standard"))
    tokenize = _timed(lambda: postings.tokenize_docs(part["text"].tolist(), "standard"))
    prof = cProfile.Profile()
    prof.runcall(postings.build_segment_frames, part, 0, "standard")
    encode = sum(ct for (_, _, name), (_, _, _, ct, _) in pstats.Stats(prof).stats.items()
                 if name == "encode_postings_blocks")
    kdocs = len(part) / 1000
    return {
        "analysis.tokenize_ms_per_kdoc": (tok * 1000 / (len(sample) / 1000), "ms/kdoc"),
        "analysis.tokens_per_doc": (float(bench.life_block.dl.mean()), "tokens"),
        "analysis.query_analyze_ms": (analyze * 1000 / len(queries), "ms"),
        "postings.segment_build_ms_per_kdoc": (build * 1000 / kdocs, "ms/kdoc"),
        "postings.tokenize_share": (tokenize / build, "ratio"),
        "postings.encode_ms_per_kdoc": (encode * 1000 / kdocs, "ms/kdoc"),
    }


def codec(bench: Bench) -> dict[str, tuple[float, str]]:
    """Block decode and encode over the serve index's stored postings
    blocks, one call per block as the engine makes them."""
    from elasticsearch_spark.operators.codec import decode_block, encode_block

    blocks, files, postings = [], 0, 0
    for d in seg_dirs(bench.serve_dir).values():
        path = os.path.join(d, "postings.parquet")
        files += os.path.getsize(path)
        t = pq.read_table(path, columns=["n", "first_doc_id", "ids_bytes", "tf_bytes"])
        postings += int(np.asarray(t["n"]).sum())
        blocks += zip(t["ids_bytes"].to_pylist(), t["tf_bytes"].to_pylist(), t["first_doc_id"].to_pylist())
    blocks = blocks[:: max(1, len(blocks) // CODEC_BLOCKS)]
    mb = sum(len(i) + len(f) for i, f, _ in blocks) / 1e6
    decoded = [(*decode_block(i, f, b), b) for i, f, b in blocks]
    return {
        "codec.decode_mb_per_s": (mb / _timed(lambda: [decode_block(i, f, b) for i, f, b in blocks]), "MB/s"),
        "codec.encode_mb_per_s": (mb / _timed(lambda: [encode_block(i, f, b) for i, f, b in decoded]), "MB/s"),
        "codec.bytes_per_posting": (files / postings, "B/posting"),
    }


def topk(bench: Bench) -> dict[str, tuple[float, str]]:
    """Query-phase splits of one search over the serve index, by direct calls."""
    from elasticsearch_spark.operators.topk import IndexReader, search_topk

    spark, d = bench.spark, bench.serve_dir
    qs = [q for q, _ in zip(inputs.QueryStream(bench.seed, PROBE_QUERIES), range(5))]
    stats, wave, fetch, direct, api, analyze = [], [], [], [], [], []
    for q in qs:
        terms = bench.analyze(q.text)
        reader = IndexReader(spark, d)
        t0 = time.perf_counter()
        reader.term_weights(terms)
        stats.append(time.perf_counter() - t0)
        reader.close()
        wave.append(_timed(lambda: search_topk(spark, d, terms, k=K, operator=q.operator, fetch=False,
                                               reader=bench.reader).collect(), 1))
        fetch.append(_timed(lambda: search_topk(spark, d, terms, k=K, operator=q.operator,
                                                reader=bench.reader).collect(), 1))
        direct.append(_timed(lambda: search_topk(spark, d, terms, k=K, operator=q.operator).collect(), 1))
        body = {"query": {"match": {"text": {"query": q.text, "operator": q.operator}}}, "size": K}
        api.append(_timed(lambda: bench.engine.search("serve", body)["hits"].collect(), 1))
        analyze.append(_timed(lambda: bench.analyze(q.text), 1))
    return {
        "topk.term_stats_ms": (_med(stats) * 1000, "ms"),
        "topk.wave_ms_per_search": (_med(wave) * 1000, "ms"),
        "topk.fetch_ms": ((_med(fetch) - _med(wave)) * 1000, "ms"),
        "api.search_overhead_ms": ((_med(api) - _med(analyze) - _med(direct)) * 1000, "ms"),
    }


def udf_profile(bench: Bench, work: str) -> dict[str, tuple[float, str]]:
    """Read, decode and score time inside the segment tasks of one msearch
    batch, from the PySpark UDF profiler (cumulative seconds per function)."""
    from elasticsearch_spark.operators.topk import msearch_topk

    spark = bench.spark
    qs = [q for q, _ in zip(inputs.QueryStream(bench.seed, PROBE_QUERIES), range(MSEARCH_BATCH))]
    body = {f"q{i}": {"terms": bench.analyze(q.text), "operator": q.operator} for i, q in enumerate(qs)}
    spark.profile.clear()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        msearch_topk(spark, bench.serve_dir, body, k=K, reader=bench.reader).collect()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    out = os.path.join(work, "udf-profile")
    spark.profile.dump(out)
    spark.profile.clear()
    ct: dict[str, float] = {}
    via_block = 0.0  # vbyte_decode time already inside decode_block
    for f in os.listdir(out):
        for (path, _, name), (_, _, _, c, callers) in pstats.Stats(os.path.join(out, f)).stats.items():
            if name == "read_table" and os.path.basename(path) == "core.py":  # pyarrow.parquet.core
                name = "parquet.read_table"
            ct[name] = ct.get(name, 0.0) + c
            if name == "vbyte_decode":
                via_block += sum(e[3] for (_, _, cn), e in callers.items() if cn == "decode_block")
    decode = ct.get("decode_block", 0.0) + ct.get("vbyte_decode", 0.0) - via_block
    score = sum(ct.get(n, 0.0) for n in ("_wand_segment", "_score_segment_arrays", "_topk_from_arrays")) \
        - ct.get("decode_block", 0.0)
    return {
        "topk.read_ms_per_batch": (ct.get("parquet.read_table", 0.0) * 1000, "ms"),
        "topk.decode_ms_per_batch": (decode * 1000, "ms"),
        "topk.score_ms_per_batch": (score * 1000, "ms"),
    }


def merge_and_ops(bench: Bench, work: str) -> dict[str, tuple[float, str]]:
    """Merge kernels on the copy of the last cycle's index taken just before
    its merge, and that index's tombstones."""
    from elasticsearch_spark.operators.merge import MERGED_SEG_BASE, merge_group_local, plan_merges, rebuild_term_stats
    from elasticsearch_spark.operators.ops import read_tombstones

    copy = bench.probe_dir
    tomb = len(read_tombstones(copy))
    segs = seg_dirs(copy)
    groups = plan_merges(copy)
    docs = sum(pq.read_metadata(os.path.join(segs[s], "docs.parquet")).num_rows for g in groups for s in g)
    new_seg = max([s for s in segs if s >= MERGED_SEG_BASE], default=MERGED_SEG_BASE - 1) + 1
    group_s = _timed(lambda: [merge_group_local(copy, g, new_seg + i) for i, g in enumerate(groups)], 1)
    stats_s = _timed(lambda: rebuild_term_stats(bench.spark, copy), 1)
    return {
        "merge.group_ms_per_kdoc": (group_s * 1000 / (docs / 1000), "ms/kdoc"),
        "merge.term_stats_s": (stats_s, "s"),
        "ops.tombstones": (float(tomb), "count"),
        "ops.tombstone_share": (tomb / bench.probe_stored, "ratio"),
    }


def measure(bench: Bench, tracer, oplog, work: str) -> dict[str, tuple[float, str]]:
    out = {}
    out.update(from_ops(bench, tracer))
    out.update(from_samples(bench, oplog))
    out.update(analysis_and_build(bench))
    out.update(codec(bench))
    out.update(topk(bench))
    out.update(udf_profile(bench, work))
    out.update(merge_and_ops(bench, work))
    return out

