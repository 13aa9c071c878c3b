"""Seeded workloads: the corpus, the query batches and the sizing.

Everything the engine sees is generated here from ``--seed``: a pages
table (written as parquet, the engine's input format) and query
DataFrames. The corpus follows the engine's synthetic page model
(``word2doc_spark.sources.pages``: five topic vocabularies, stopword
filler, the planted ``HEAD_TERM``, rare ``tokN`` terms, a quarter of the
rows html-only so they go through the extractor), generated with numpy
in the driver so that set-up does not pay a Spark job per corpus.

Two regimes, one per workload:

* ``batch_query`` — long pages over 32 doc ranges, dense multi-term
  queries (3 topic words + 1 rare term, k=10). Per-range posting lists
  are short, so kernel throughput and the Arrow crossing do the work and
  block-max skipping has nothing to skip.
* ``deep_query`` — short pages over 2 doc ranges with the head term on
  most pages, selective queries (1 rare term + the head term, k=1). Head
  lists per range are long, the regime block-max WAND exists for.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from word2doc_spark.sources.pages import _FILLER, _TOPICS, HEAD_TERM, _page_html

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
TOK_VOCAB = 100_000


@dataclass(frozen=True)
class Regime:
    pages_per_core: int      # corpus size = pages_per_core × cores
    words: tuple[int, int]   # body length range (words)
    head_rate: float         # share of pages carrying HEAD_TERM
    n_ranges: int            # doc ranges of the index
    k: int
    queries_per_core: int    # batch size = queries_per_core × cores
    selective: bool          # rare+head queries (else 3 topic words + rare)


REGIMES = {
    "batch_query": Regime(pages_per_core=600, words=(120, 400),
                          head_rate=0.55, n_ranges=32, k=10,
                          queries_per_core=100, selective=False),
    "deep_query": Regime(pages_per_core=11_250, words=(4, 8),
                         head_rate=0.45, n_ranges=1, k=1,
                         queries_per_core=200, selective=True),
}

# queries checked against search_exact in every run (plus every serve query)
CHECK_QUERIES = 8
# measured rounds of a run: at least MIN_ROUNDS, at most SERVE_QUERIES (one
# serve call each); a traced run makes TRACED_ROUNDS
MIN_ROUNDS = 3
TRACED_ROUNDS = 2
SERVE_QUERIES = 8


def machine() -> tuple[int, int]:
    """(cores, total memory in MiB) of this machine."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return cores, int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


@dataclass
class Corpus:
    n_pages: int
    rare_terms: list[str]    # tokN terms present in at least one text page
    table: pa.Table


def generate_corpus(regime: Regime, n_pages: int, seed: int) -> Corpus:
    """Deterministic pages table for (regime, n_pages, seed)."""
    rng = np.random.default_rng([seed, n_pages, regime.n_ranges])
    lo, hi = regime.words
    lens = rng.integers(lo, hi + 1, n_pages)
    total = int(lens.sum())
    kind = rng.random(total)
    topic_of_page = np.arange(n_pages) % len(_TOPICS)
    topic_word = rng.integers(0, len(_TOPICS[0][1]), total)
    filler_word = rng.integers(0, len(_FILLER), total)
    tok_id = rng.integers(0, TOK_VOCAB, total)
    with_head = rng.random(n_pages) < regime.head_rate
    head_pos = (rng.random(n_pages) * lens).astype(np.int64)
    page_start = np.concatenate(([0], np.cumsum(lens)[:-1]))
    page_of_word = np.repeat(np.arange(n_pages), lens)

    vocab = np.array(_FILLER + [w for _, ws in _TOPICS for w in ws],
                     dtype=object)
    n_fill = len(_FILLER)
    idx = np.where(kind < 0.35, filler_word,
                   n_fill + topic_of_page[page_of_word] * len(_TOPICS[0][1])
                   + topic_word)
    words = vocab[idx]
    is_tok = kind >= 0.97
    words[is_tok] = [f"tok{t}" for t in tok_id[is_tok]]

    urls, stamps, htmls, texts, langs = [], [], [], [], []
    rare: set[str] = set()
    html_rng = random.Random(seed)
    for i in range(n_pages):
        s = int(page_start[i])
        body_words = list(words[s:s + int(lens[i])])
        if with_head[i]:
            body_words.insert(int(head_pos[i]), HEAD_TERM)
        body = " ".join(body_words)
        tname = _TOPICS[i % len(_TOPICS)][0]
        title = f"{tname.capitalize()} page {i}"
        urls.append(f"https://example.org/{tname}/{seed}/{i:09d}")
        stamps.append(_EPOCH + _dt.timedelta(seconds=i * 17))
        if i % 4 == 0:
            htmls.append(_page_html(html_rng, title, body))
            texts.append(None)
        else:
            htmls.append(None)
            texts.append(f"{title}\n\n{body}")
            rare.update(w for w in body_words if w.startswith("tok"))
        langs.append("en" if i % 11 else ("de" if i % 2 else "fr"))
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(stamps, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })
    return Corpus(n_pages, sorted(rare), table)


def write_corpus(corpus: Corpus, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    rows = -(-corpus.n_pages // n_files)
    for f in range(n_files):
        part = corpus.table.slice(f * rows, rows)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"))


def make_queries(regime: Regime, corpus: Corpus, n: int, seed: int,
                 salt: int) -> list[tuple[int, str]]:
    """n (query_id, query) rows drawn from the corpus vocabulary; ids
    start at ``salt`` so batches drawn with different salts never share
    an id."""
    rng = random.Random(seed * 1_000_003 + salt)
    out = []
    for i in range(n):
        rare = rng.choice(corpus.rare_terms)
        if regime.selective:
            q = f"{rare} {HEAD_TERM}"
        else:
            words = rng.choice(_TOPICS)[1]
            q = " ".join(rng.sample(words, 3) + [rare])
        out.append((salt + i, q))
    return out
