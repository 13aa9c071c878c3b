"""Per-layer measurements for the traced run.

Each function here times calls into one layer's public functions from
outside, on the workload's own pages, index and queries, and returns
``{metric name: value}``. Nothing in the engine is patched or wrapped.
Spark-side layers are measured through spans (see ``trace.py``); the
pure-Python layers (functions, postings codec, kernels, manifest) are
timed directly in the driver process.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow.dataset as ds
import pyspark.sql.functions as F

from perfbench.check import same_topk
from word2doc_spark.functions.extract import extract_text
from word2doc_spark.functions.hashing import murmurhash3_batch
from word2doc_spark.functions.tokenize import Analyzer
from word2doc_spark.index.analyze import analyze_terms, extracted_docs
from word2doc_spark.index.docids import assign_doc_ids
from word2doc_spark.index.manifest import Manifest
from word2doc_spark.index.postings import (
    block_directory, decode_block, decode_postings, encode_postings_batch,
)
from word2doc_spark.query import wand
from word2doc_spark.query.exact import (
    analyze_query_rows, prepare_weighted_terms, weighted_query_terms,
)
from word2doc_spark.query.fast import fast_topk

MB = float(2 ** 20)


def _rate(work: float, fn, reps: int = 3) -> float:
    """work / median wall of ``reps`` calls of fn."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return work / statistics.median(walls)


def functions_layer(table, config, n_docs: int = 400) -> dict:
    """extract_text, Analyzer and murmurhash3_batch on the corpus's pages."""
    htmls = [b for b in table.column("html").to_pylist() if b][:n_docs]
    texts = [t for t in table.column("text").to_pylist() if t][:n_docs]
    html_mb = sum(len(b) for b in htmls) / MB

    def extract():
        for b in htmls:
            extract_text(b)

    analyzer = Analyzer(ngram=config.ngram, hash_size=config.hash_size,
                        tokenizer=config.analyzer)
    analyzer.analyze_batch(texts)   # warm the word caches, as a worker is
    grams = sorted({g for t in texts for g in analyzer.grams(t)})
    return {
        "functions.extract.mb_per_s": _rate(html_mb, extract),
        "functions.analyze.docs_per_s": _rate(
            len(texts), lambda: analyzer.analyze_batch(texts)),
        "functions.hashing.terms_per_s": _rate(
            len(grams), lambda: murmurhash3_batch(grams)),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stage_layers(tracer, pages, config) -> dict:
    """extracted_docs, assign_doc_ids and analyze_terms, each written to
    a noop sink over the workload's whole corpus."""
    with tracer.span("index.analyze.extract"):
        _noop(extracted_docs(pages))
    with tracer.span("index.docids.assign"):
        ids = assign_doc_ids(pages.select("url", "text"))
        _noop(ids)
    ids._w2d_persisted_parent.unpersist()
    ids._w2d_persisted_input.unpersist()
    docs = (pages.filter(F.col("text").isNotNull())
            .select(F.monotonically_increasing_id().alias("doc_id"), "text"))
    with tracer.span("index.analyze.analyze"):
        _noop(analyze_terms(docs, config))
    return {
        "index.analyze.extract_s": tracer.named("index.analyze.extract")[0].wall_s,
        "index.analyze.analyze_s": tracer.named("index.analyze.analyze")[0].wall_s,
        "index.docids.assign_s": tracer.named("index.docids.assign")[0].wall_s,
    }


def _segments(index_dir: str, term_ids=None, columns=None):
    dset = ds.dataset(os.path.join(index_dir, "shards"), format="parquet",
                      partitioning="hive")
    filt = None if term_ids is None else ds.field("term_id").isin(term_ids)
    return dset.to_table(columns=columns, filter=filt)


def postings_layer(index_dir: str, block_size: int, count,
                   max_segments: int = 2000,
                   max_mb: float = 1.0) -> dict:
    """Codec throughput on the built index's own segment payloads (the
    first segments of the shard files, up to a count and a size).
    Re-encoding them must give the same bytes, reported through
    ``count(ok, what)``."""
    tbl = _segments(index_dir, columns=["payload"])
    payloads, size = [], 0
    for p in tbl.column("payload").to_pylist()[:max_segments]:
        payloads.append(p)
        size += len(p)
        if size >= max_mb * MB:
            break
    decoded = [decode_postings(p) for p in payloads]
    docs = np.concatenate([d for d, _ in decoded])
    tfs = np.concatenate([t for _, t in decoded])
    starts = np.cumsum([0] + [d.size for d, _ in decoded[:-1]])
    count(encode_postings_batch(docs, tfs, starts, block_size) == payloads,
          "re-encoded segments")
    dirs = [block_directory(p) for p in payloads]

    def blocks():
        for p, (offs, _counts, lasts, _mx) in zip(payloads, dirs):
            prev = 0
            for off, last in zip(offs.tolist(), lasts.tolist()):
                decode_block(p, off, prev)
                prev = last

    mb = size / MB
    _cfg, stats = Manifest(index_dir).load()
    return {
        "index.postings.encode_mb_per_s": _rate(
            mb, lambda: encode_postings_batch(docs, tfs, starts, block_size)),
        "index.postings.decode_mb_per_s": _rate(
            mb, lambda: [decode_postings(p) for p in payloads]),
        "index.postings.block_decode_mb_per_s": _rate(mb, blocks),
        "index.postings.bytes_per_posting":
            stats["index_bytes"] / stats["n_postings"],
    }


def manifest_layer(index_dir: str, reps: int = 50) -> dict:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        Manifest(index_dir).load()
        walls.append(time.perf_counter() - t0)
    return {"index.manifest.load_ms": statistics.median(walls) * 1e3}


def kernel_layers(spark, index_dir: str, queries, k: int, count) -> dict:
    """fast_topk and wand_topk called directly (no Spark) on each query's
    matched term rows, one call per (query, doc range); drqa scoring.
    Both kernels must return the same top-k lists (ties aside); each
    comparison is reported through ``count(ok, what)``."""
    config, stats = Manifest(index_dir).load()
    bid = stats.get("build_id")
    qt = analyze_query_rows([{"query_id": q, "query": s} for q, s in queries],
                            config)
    wqt = weighted_query_terms(spark, index_dir, qt, int(stats["n_docs"]),
                               config.num_shards, bid)
    segs = _segments(index_dir, sorted({int(t) for t in wqt["term_id"]}),
                     ["term_id", "range_id", "seg_id", "n_postings",
                      "payload"]).to_pylist()
    chains = defaultdict(list)     # (term, range) -> [(seg_id, payload, n)]
    for s in segs:
        chains[(s["term_id"], s["range_id"])].append(
            (s["seg_id"], s["payload"], s["n_postings"]))
    by_term = defaultdict(list)
    for (t, r), segs_tr in chains.items():
        segs_tr.sort()
        by_term[t].append(r)
    calls = []                     # (term_rows, postings) per (query, range)
    for _qid, grp in wqt.groupby("query_id", sort=True):
        per_range = defaultdict(list)
        for t, w, idf in zip(grp["term_id"], grp["w"], grp["idf"]):
            for r in by_term.get(int(t), []):
                per_range[r].append((float(w), float(idf), int(t)))
        for r in sorted(per_range):
            rows, n = [], 0
            for w, idf, t in per_range[r]:
                segs_tr = chains[(t, r)]
                rows.append((w, idf, [p for _, p, _ in segs_tr]))
                n += sum(c for _, _, c in segs_tr)
            calls.append((rows, n))
    postings = sum(n for _, n in calls)
    avgdl = float(stats["avgdl"])

    def run(kernel):
        return [kernel(rows, k, "drqa", config.k1, config.b, avgdl, None)
                for rows, _ in calls]

    fast_out = run(fast_topk)
    wand.reset_stats()
    wand_out = run(wand.wand_topk)
    counts = wand.get_stats()
    for i, (a, b) in enumerate(zip(fast_out, wand_out)):
        count(same_topk(b, a, k), f"wand_topk call {i}: {b} vs fast {a}")
    decoded, skipped = counts["blocks_decoded"], counts["blocks_skipped"]
    return {
        "query.fast.postings_per_s": _rate(postings,
                                                lambda: run(fast_topk)),
        "query.wand.postings_per_s": _rate(postings,
                                                lambda: run(wand.wand_topk)),
        "query.wand.blocks_decoded": decoded,
        "query.wand.blocks_skipped": skipped,
        "query.wand.skip_share": skipped / max(decoded + skipped, 1),
    }


def prepare_layer(tracer, spark, index_dir: str, make_qdf, queries,
                  ) -> dict:
    """prepare_weighted_terms per single-query call, as a serve call
    runs it (term dfs of unseen terms come from a pruned stats scan)."""
    config, stats = Manifest(index_dir).load()
    bid = stats.get("build_id")
    walls = []
    for qid, q in queries:
        qdf = make_qdf([(qid, q)])
        with tracer.span(f"query.exact.prepare:{qid}"):
            prepare_weighted_terms(spark, index_dir, qdf, config,
                                   int(stats["n_docs"]), False, "auto", bid,
                                   build_qdf=False)
        walls.append(tracer.spans[-1].wall_s)
    return {"query.exact.prepare_ms": statistics.median(walls) * 1e3}
