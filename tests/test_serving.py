"""Round-5 serving-path behavior: lazy executor-side dl loading, the
serving-mode segment cache (repeat batches on one build run without a
parquet scan or a shuffle), content-stable kernel cache keys, the
byte-bounded per-task cache, and session-state hygiene of the build."""

import pytest

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.sources.pages import synthetic_pages

CFG = IndexConfig(hash_size=2 ** 18, num_shards=4, block_size=64,
                  n_ranges=6, max_seg_postings=64)

QUERIES = [(1, "spark shuffle partition"), (2, "posting wand block"),
           (3, "crawl warc fetch html"), (4, "hash bucket collision idf")]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("servidx"))
    build_index(spark, synthetic_pages(spark, 220, num_partitions=4),
                index_dir, CFG, input_token="serving")
    return index_dir


# ---------------------------------------------------------------------------
# lazy dl loading
# ---------------------------------------------------------------------------

def test_dl_for_ranges_matches_doclen_table(spark, built):
    """The pyarrow-side lazy loader must reproduce the plain doclen
    table (doc_id, dl) exactly, per range and combined."""
    import numpy as np
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query.ranges import _dl_for_ranges

    _, stats = Manifest(built).load()
    n_ranges = -(-int(stats["n_docs"]) // int(stats["range_width"]))
    rows = (spark.read.parquet(f"{built}/doclen")
            .orderBy("doc_id").collect())
    want_docs = np.array([r["doc_id"] for r in rows])
    want_dl = np.array([r["dl"] for r in rows], dtype=np.float64)

    dl = _dl_for_ranges(built, None, list(range(n_ranges)))
    assert np.array_equal(dl.docs, want_docs)
    assert np.array_equal(dl.vals, want_dl)
    # subset request returns exactly that range's slice
    width = int(stats["range_width"])
    one = _dl_for_ranges(built, None, [1])
    m = (want_docs >= width) & (want_docs < 2 * width)
    assert np.array_equal(one.docs, want_docs[m])
    assert np.array_equal(one.vals, want_dl[m])


def test_dl_for_ranges_caches_per_range(built):
    from word2doc_spark.query import ranges as R
    R._DL_CACHE.clear()
    R._DL_CACHE_BYTES[0] = 0
    dl1 = R._dl_for_ranges(built, "bid-test", [0, 2])
    assert ("bid-test", 0) in R._DL_CACHE
    assert ("bid-test", 2) in R._DL_CACHE
    # warm call must not re-read: poison the loader and expect a hit
    orig = R._load_dl_ranges
    R._load_dl_ranges = lambda *a: (_ for _ in ()).throw(
        AssertionError("re-read on warm cache"))
    try:
        dl2 = R._dl_for_ranges(built, "bid-test", [0, 2])
    finally:
        R._load_dl_ranges = orig
    import numpy as np
    assert np.array_equal(dl1.docs, dl2.docs)
    R._DL_CACHE.clear()
    R._DL_CACHE_BYTES[0] = 0


def test_dl_for_ranges_raises_on_missing_range(built):
    from word2doc_spark.query.ranges import _dl_for_ranges
    with pytest.raises(RuntimeError, match="no doclen_seg blobs"):
        _dl_for_ranges(built, None, [9999])


# ---------------------------------------------------------------------------
# serving-mode segment cache
# ---------------------------------------------------------------------------

def test_serving_cache_identical_results_and_no_exchange(
        spark, built, monkeypatch):
    """LEGACY serving mode (W2D_SERVING_V2=0, JVM-persisted segment
    table): calls 1..3 on one build return identical rows; from call 2
    the slot-keyed full segment table is persisted, and the warm plan
    has an InMemoryTableScan with NO _g exchange (the in-memory table
    already carries the hash partitioning the scoring stage needs)."""
    from tests.test_plans import plan_of
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast

    monkeypatch.setenv("W2D_SERVING_V2", "0")
    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()

    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")

    def rows(df):
        return [(r["query_id"], r["rank"], r["doc_id"],
                 round(r["score"], 9)) for r in df.collect()]

    r1 = rows(search_fast(spark, built, qdf, k=5, score_mode="bm25"))
    assert len(R._SEG_CACHE) == 0  # first call: no warm-up yet
    r2 = rows(search_fast(spark, built, qdf, k=5, score_mode="bm25"))
    assert len(R._SEG_CACHE) == 1  # second call warmed the cache
    res3 = search_fast(spark, built, qdf, k=5, score_mode="bm25")
    r3 = rows(res3)
    assert r1 == r2 == r3 and len(r1) > 0

    plan = plan_of(res3)
    assert "InMemoryTableScan" in plan
    # the per-batch execution path from the scoring stage down to the
    # cached table must contain NO exchange (the only hashpartitioning
    # on _g sits INSIDE the InMemoryRelation's one-time materialization
    # plan); first occurrences are in the Final Plan tree
    seg = plan[plan.index("FlatMapGroupsInPandas"):
               plan.index("InMemoryTableScan")]
    assert "Exchange" not in seg and "ShuffleQueryStage" not in seg

    # cold plan (serving cache off) DOES pay the _g exchange — the
    # assertion above is a real discriminator, not vacuous
    import os
    os.environ["W2D_SERVING_CACHE"] = "0"
    try:
        cold = plan_of(search_fast(spark, built, qdf, k=5,
                                   score_mode="bm25"))
        assert "hashpartitioning(_g" in cold
    finally:
        os.environ["W2D_SERVING_CACHE"] = "1"

    # drqa over the same cache stays rank-identical to its cold run
    os.environ["W2D_SERVING_CACHE"] = "0"
    try:
        cold_rows = rows(search_fast(spark, built, qdf, k=5,
                                     score_mode="drqa"))
    finally:
        os.environ["W2D_SERVING_CACHE"] = "1"
    warm_rows = rows(search_fast(spark, built, qdf, k=5,
                                 score_mode="drqa"))
    assert cold_rows == warm_rows

    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()


def test_serving_cache_evicts_oldest_build(spark, built, tmp_path_factory,
                                           monkeypatch):
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast

    monkeypatch.setenv("W2D_SERVING_V2", "0")
    other_dir = str(tmp_path_factory.mktemp("servidx2"))
    build_index(spark, synthetic_pages(spark, 60, num_partitions=2),
                other_dir, CFG, input_token="serving2")
    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    old_max = R._SEG_CACHE_MAX_ENTRIES
    R._SEG_CACHE_MAX_ENTRIES = 1
    try:
        for _ in range(2):
            search_fast(spark, built, qdf, k=3, score_mode="drqa").count()
        assert len(R._SEG_CACHE) == 1
        for _ in range(2):
            search_fast(spark, other_dir, qdf, k=3,
                        score_mode="drqa").count()
        assert len(R._SEG_CACHE) == 1  # old build evicted, new one in
    finally:
        R._SEG_CACHE_MAX_ENTRIES = old_max
        for key in list(R._SEG_CACHE):
            R._SEG_CACHE.pop(key).unpersist()
        R._SEG_CACHE_SEEN.clear()


# ---------------------------------------------------------------------------
# content-stable kernel cache keys
# ---------------------------------------------------------------------------

def test_kernel_cache_hits_across_distinct_payload_objects(monkeypatch):
    """Two equal-content but DISTINCT bytes objects with the same chain
    key must hit the same cache entry (the r4 id()-keyed design decoded
    again — or worse, could alias a reused id). Decode must run once."""
    import numpy as np
    from word2doc_spark import index as _  # noqa: F401
    from word2doc_spark.index.postings import encode_postings
    from word2doc_spark.query import fast as Fm
    from word2doc_spark.query import wand as Wm

    docs = np.arange(0, 500, 2, dtype=np.uint64)
    tfs = np.ones(docs.size, dtype=np.uint64)
    payload = encode_postings(docs, tfs, 64)
    p1, p2 = bytes(payload), bytes(bytearray(payload))
    assert p1 is not p2 and p1 == p2

    calls = {"n": 0}
    orig = Fm.decode_postings

    def counting(b):
        calls["n"] += 1
        return orig(b)

    monkeypatch.setattr(Fm, "decode_postings", counting)
    cache: dict = {}
    a = Fm.fast_topk([(1.0, 2.0, [p1], ("t", 7))], 3, "drqa", 1.2, 0.75,
                     10.0, None, cache=cache)
    b = Fm.fast_topk([(1.0, 2.0, [p2], ("t", 7))], 3, "drqa", 1.2, 0.75,
                     10.0, None, cache=cache)
    assert a == b and calls["n"] == 1

    # wand: same chain key, distinct payload objects → one directory
    # parse, one block decode per touched block
    cache2: dict = {}
    Wm.reset_stats()
    r1 = Wm.wand_topk([(1.0, 2.0, [p1], ("t", 7))], 3, "drqa", 1.2, 0.75,
                      10.0, None, cache=cache2)
    decoded_first = Wm.get_stats()["blocks_decoded"]
    r2 = Wm.wand_topk([(1.0, 2.0, [p2], ("t", 7))], 3, "drqa", 1.2, 0.75,
                      10.0, None, cache=cache2)
    assert r1 == r2
    assert Wm.get_stats()["blocks_decoded"] == decoded_first

    # no-explicit-key fallback is the payload content itself, not id()
    cache3: dict = {}
    x = Fm.fast_topk([(1.0, 2.0, [p1])], 3, "drqa", 1.2, 0.75, 10.0,
                     None, cache=cache3)
    y = Fm.fast_topk([(1.0, 2.0, [p2])], 3, "drqa", 1.2, 0.75, 10.0,
                     None, cache=cache3)
    assert x == y and calls["n"] == 2  # p1 decoded once more, p2 hit


def test_no_id_keyed_caches_in_kernels():
    """Regression guard for the r4 ADVICE item: no id(...) call may
    appear in kernel code (comments/docstrings excluded via tokenizer)."""
    import io
    import tokenize
    for mod in ("query/fast.py", "query/wand.py", "query/ranges.py"):
        src = open(f"word2doc_spark/{mod}").read()
        toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
        for i, t in enumerate(toks):
            if t.type == tokenize.NAME and t.string == "id":
                nxt = toks[i + 1]
                assert not (nxt.type == tokenize.OP
                            and nxt.string == "("), (mod, t.start)


def test_query_predicates_built_in_one_expression():
    """Column predicates in the query path are built as one SQL
    expression (exact._in_ids / exact._int_array), never one Py4J literal
    at a time: ``.isin(`` only on a pyarrow field (``pc.field(...)``) or a
    pandas column (``frame[...]``), and no ``F.array(*[...])``."""
    import ast
    import glob
    import os
    qdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "word2doc_spark", "query")
    paths = sorted(glob.glob(os.path.join(qdir, "*.py")))
    assert paths
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            recv = node.func.value
            where = (os.path.basename(path), node.lineno)
            if node.func.attr == "isin":
                arrow_field = (isinstance(recv, ast.Call)
                               and ast.unparse(recv.func) == "pc.field")
                assert arrow_field or isinstance(recv, ast.Subscript), where
            if node.func.attr == "array" and ast.unparse(recv) == "F":
                assert not any(isinstance(a, ast.Starred)
                               for a in node.args), where


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_semi_join_pruning_identity(spark, built, mode, monkeypatch):
    """Above _ISIN_PRUNE_LIMIT ids, term pruning is a broadcast left-semi
    join against an Arrow-built id table. With the limit at 1, the pruned
    segment scan and the serving-cache filter both take that branch, and
    exact, fast and WAND still return search_exact's rows."""
    import math
    from tests.test_plans import plan_of
    from word2doc_spark.query import exact as E
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand

    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    want = E.search_exact(spark, built, qdf, k=5, score_mode=mode).collect()
    assert want

    def check(df):
        got = df.collect()
        assert [(r["query_id"], r["rank"], r["doc_id"], r["url"])
                for r in got] == \
               [(r["query_id"], r["rank"], r["doc_id"], r["url"])
                for r in want]
        assert all(math.isclose(a["score"], b["score"], rel_tol=1e-9)
                   for a, b in zip(got, want))
        assert "LeftSemi" in plan_of(df)

    monkeypatch.setattr(E, "_ISIN_PRUNE_LIMIT", 1)
    monkeypatch.setenv("W2D_SERVING_V2", "0")
    check(E.search_exact(spark, built, qdf, k=5, score_mode=mode))
    monkeypatch.setenv("W2D_SERVING_CACHE", "0")     # pruned parquet scan
    for search in (search_fast, search_wand):
        check(search(spark, built, qdf, k=5, score_mode=mode))
    monkeypatch.setenv("W2D_SERVING_CACHE", "1")     # cached segments
    for search in (search_fast, search_wand):
        for _ in range(2):
            check(search(spark, built, qdf, k=5, score_mode=mode))
    assert R._SEG_CACHE
    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()


def test_arrow_scopes_interleave(spark):
    """Two _arrow_conversions scopes on one session that close out of
    order: Arrow stays on while either is live, and the caller's value
    comes back when the last one closes."""
    from word2doc_spark.query.exact import _arrow_conversions
    key = "spark.sql.execution.arrow.pyspark.enabled"
    orig = spark.conf.get(key, "false")
    spark.conf.set(key, "false")
    try:
        a, b = _arrow_conversions(spark), _arrow_conversions(spark)
        a.__enter__()
        b.__enter__()
        a.__exit__(None, None, None)
        assert spark.conf.get(key) == "true"
        b.__exit__(None, None, None)
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, orig)


# ---------------------------------------------------------------------------
# byte-bounded per-task cache
# ---------------------------------------------------------------------------

def test_task_cache_evicts_oldest_charged():
    from word2doc_spark.query.kcache import TaskCache
    c = TaskCache(budget=100)
    for i in range(5):
        c[("blk", i)] = i
        c.charge(("blk", i), 30)
    # 5 × 30 B > 100 B → the two oldest were evicted
    assert ("blk", 0) not in c and ("blk", 1) not in c
    assert all(("blk", i) in c for i in (2, 3, 4))
    assert c.charged_bytes() <= 100
    # uncharged entries are never evicted
    c["meta"] = "x"
    for i in range(5, 10):
        c[("blk", i)] = i
        c.charge(("blk", i), 30)
    assert c["meta"] == "x"
    # re-charging an existing key replaces its accounting
    c.charge(("blk", 9), 90)
    assert c.charged_bytes() <= 100


def test_task_cache_never_evicts_current_key():
    from word2doc_spark.query.kcache import TaskCache
    c = TaskCache(budget=10)
    c["a"] = 1
    c.charge("a", 50)  # over budget but alone — stays
    assert "a" in c
    c["b"] = 2
    c.charge("b", 60)  # evicts a, keeps b even though still over
    assert "a" not in c and "b" in c


# ---------------------------------------------------------------------------
# candidate packing + build session hygiene
# ---------------------------------------------------------------------------

def test_pack_candidates_query_id_overflow_guard():
    from word2doc_spark.query.ranges import _pack_candidates
    ok = _pack_candidates([(1 << 53) - 1], [5], [0.5], n_qb=8)
    assert len(ok) == 1
    with pytest.raises(OverflowError, match="query_id"):
        _pack_candidates([1 << 53], [5], [0.5], n_qb=8)


def test_build_restores_conf_on_failure(spark, tmp_path):
    key = "spark.sql.inMemoryColumnarStorage.compressed"
    before = spark.conf.get(key, "true")

    def boom(text):
        raise ValueError("plugin failure")

    with pytest.raises(Exception):
        build_index(spark, synthetic_pages(spark, 30, num_partitions=2),
                    str(tmp_path / "failidx"), CFG,
                    input_token="conf-fail", preprocess=boom)
    assert spark.conf.get(key, "true") == before


def test_wqt_groups_matches_pandas_groupby_and_handles_empty():
    import numpy as np
    import pandas as pd
    from word2doc_spark.query.ranges import _wqt_groups

    rng = np.random.default_rng(11)
    n = 3000
    wqt = pd.DataFrame({
        "query_id": rng.integers(0, 500, n),
        "term_id": rng.integers(0, 8000, n),
        "w": rng.random(n),
        "idf": rng.random(n),
    })
    qids, offs, tids, w, idf = _wqt_groups(wqt)
    got = [(int(qids[i]),
            list(zip(tids[offs[i]:offs[i + 1]].tolist(),
                     w[offs[i]:offs[i + 1]].tolist(),
                     idf[offs[i]:offs[i + 1]].tolist())))
           for i in range(len(qids))]
    want = []
    for qid, grp in wqt.sort_values(["query_id", "term_id"]).groupby(
            "query_id", sort=True):
        want.append((int(qid), list(zip(
            grp["term_id"].astype(int), grp["w"].astype(float),
            grp["idf"].astype(float)))))
    assert len(got) == len(want)
    for (qa, ta), (qb, tb) in zip(got, want):
        assert qa == qb
        assert [(int(x), float(y), float(z)) for x, y, z in ta] == \
               [(int(x), float(y), float(z)) for x, y, z in tb]
    # empty batch (all-stopword queries) must not crash
    e_q, e_off, e_t, _, _ = _wqt_groups(wqt.iloc[0:0])
    assert len(e_q) == 0 and len(e_t) == 0 and e_off.tolist() == [0]


def test_align_to_pack():
    import numpy as np
    from word2doc_spark.query.ranges import _align_to_pack

    qids = np.array([3, 7, 10, 50], dtype=np.int64)
    out = _align_to_pack(qids, [7, 50, 99], [1.5, 2.5, 9.9],
                         default=-1.0, dtype=np.float64)
    assert out.tolist() == [-1.0, 1.5, -1.0, 2.5]  # 99 not in pack
    out = _align_to_pack(qids, [], [], default=-1, dtype=np.int64)
    assert out.tolist() == [-1, -1, -1, -1]
    # key beyond the last pack qid must not index out of bounds
    out = _align_to_pack(qids, [51, 3], [8, 4], default=-1,
                         dtype=np.int64)
    assert out.tolist() == [4, -1, -1, -1]


def test_stale_dataframe_survives_broadcast_drain(spark, built):
    """A caller may lawfully execute a PREVIOUS search's lazy DataFrame
    after a newer search call has drained the pending broadcasts — the
    drain must unpersist (re-broadcast on demand), never destroy."""
    from word2doc_spark.query.fast import search_fast

    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    df1 = search_fast(spark, built, qdf, k=3, score_mode="drqa")
    want = sorted((r["query_id"], r["rank"], r["doc_id"])
                  for r in df1.collect())
    assert want
    # a second search drains df1's broadcast...
    search_fast(spark, built, qdf.limit(2), k=3,
                score_mode="drqa").count()
    # ...and df1 must still re-execute to identical rows
    got = sorted((r["query_id"], r["rank"], r["doc_id"])
                 for r in df1.collect())
    assert got == want


# ---------------------------------------------------------------------------
# serving mode v2: process-resident segment chains
# ---------------------------------------------------------------------------

def _rows(df):
    return [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in df.collect()]


def test_serving_v2_identity_and_tiny_input(spark, built, monkeypatch):
    """From the second search on a build the scoring job's input is sp
    group-key rows (no segment scan in the plan at all); results stay
    identical to the cold path across drqa and bm25, including a batch
    with NEW terms against a warm cache (parquet miss-load + grouped
    cache invalidation)."""
    from tests.test_plans import plan_of
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand

    monkeypatch.setenv("W2D_SERVING_V2", "1")
    R._SEG_CACHE_SEEN.clear()
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")

    for mode in ("drqa", "bm25"):
        R._SEG_CACHE_SEEN.clear()
        r1 = _rows(search_fast(spark, built, qdf, k=5, score_mode=mode))
        res2 = search_fast(spark, built, qdf, k=5, score_mode=mode)
        r2 = _rows(res2)
        r3 = _rows(search_fast(spark, built, qdf, k=5, score_mode=mode))
        assert r1 == r2 == r3 and len(r1) > 0, mode
        # warm plan reads NO index files: no parquet scan of shards,
        # no InMemoryTableScan — the input is the driver-local group
        # list only
        plan = plan_of(res2)
        assert "shards" not in plan and "InMemoryTableScan" not in plan

    # NEW terms against the warm cache: the group tasks must load the
    # missing chains from parquet and still match the cold path
    q_new = spark.createDataFrame(
        [(10, "executor broadcast codegen"), (11, "ranking retrieval")],
        "query_id long, query string")
    warm = _rows(search_fast(spark, built, q_new, k=5, score_mode="drqa"))
    monkeypatch.setenv("W2D_SERVING_CACHE", "0")
    cold = _rows(search_fast(spark, built, q_new, k=5, score_mode="drqa"))
    monkeypatch.delenv("W2D_SERVING_CACHE")
    assert warm == cold and len(warm) > 0

    # WAND path through v2 too (per-query loop over superset chains)
    R._SEG_CACHE_SEEN.clear()
    w1 = _rows(search_wand(spark, built, qdf, k=5, score_mode="drqa"))
    w2 = _rows(search_wand(spark, built, qdf, k=5, score_mode="drqa"))
    assert w1 == w2 and len(w1) > 0


def test_pcache_add_invalidates_grouped_entries():
    """Growing a group's chain set must drop the grouped scorer's
    cached active-doc space and factor arrays (their offsets index the
    OLD active union) while keeping decoded chains."""
    from word2doc_spark.query import ranges as R

    e = R._pcache_entry("bidX", 4, 0)
    try:
        kc = e["kcache"]
        kc[("gactive", "drqa")] = "stale"
        kc[("gf", 7, "drqa")] = "stale"
        kc[("chain", 7)] = "keep"
        R._pcache_add_chains(e, {9: [b"p"]}, {9})
        assert ("gactive", "drqa") not in kc
        assert ("gf", 7, "drqa") not in kc
        assert kc[("chain", 7)] == "keep"
        assert 9 in e["terms"] and e["chains"][9] == [b"p"]
        # re-adding an already-known term must NOT invalidate again
        kc[("gactive", "drqa")] = "fresh"
        R._pcache_add_chains(e, {9: [b"zzz"]}, set())
        assert kc[("gactive", "drqa")] == "fresh"
        assert e["chains"][9] == [b"p"]  # first load wins, no re-store
    finally:
        R._SEG_PCACHE.pop(("bidX", 4, 0), None)
