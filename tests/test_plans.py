"""Physical-plan audits: the scale claims, enforced by tests.

Every "this op never shuffles / prunes its scan / broadcasts the small
side" statement in the operator docstrings is checked here against the
actual Catalyst physical plan (explain 'formatted'), so a regression in
plan shape fails CI rather than surfacing at 100 TB.
"""

import contextlib
import io

import pytest
import pyspark.sql.functions as F

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.ops import dedup as D
from word2doc_spark.ops import similarity as S
from word2doc_spark.sources.pages import synthetic_pages

CFG = IndexConfig(hash_size=2 ** 20, num_shards=4, n_ranges=8)


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_nodes(plan: str, name: str) -> int:
    """Count physical-plan NODES of a type (formatted explain prints each
    node twice: once in the tree, once as a '(i) Name' detail header)."""
    import re
    return len(re.findall(rf"^\(\d+\) {name}", plan, flags=re.MULTILINE))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, synthetic_pages(spark, 200, num_partitions=4),
                index_dir, CFG, input_token="plans")
    return index_dir


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma delta epsilon tok{i} zeta eta theta")
            for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(30)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_segment_scan_is_pruned(spark, built):
    """The query-side segment scan must show hive partition pruning on
    shard_id AND parquet row-group pushdown on term_id."""
    from word2doc_spark.query.exact import _matched_segments
    segs = _matched_segments(spark, built, [12345, 67890], CFG.num_shards)
    plan = plan_of(segs)
    assert "PartitionFilters" in plan and "shard_id" in plan
    assert "PushedFilters" in plan and "term_id" in plan
    # the pruned scan must not read payload metadata columns it is not
    # asked for: ReadSchema carries only the selected columns
    assert "n_postings" not in plan.split("ReadSchema")[1].split("\n")[0]

    # a wide batch (1,200 terms, all routed to shard 1) keeps both prunes
    wide = [t * CFG.num_shards + 1 for t in range(1200)]
    plan = plan_of(_matched_segments(spark, built, wide, CFG.num_shards))
    part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert part and "shard_id" in part[0]
    assert pushed and "term_id" in pushed[0]


def test_published_schemas_match_written_tables(spark, built):
    """Each index table's declared schema (read without inference) is
    the schema its writer produced, column for column."""
    import os
    from word2doc_spark.index.build import INDEX_SCHEMAS, read_index_table
    for name in INDEX_SCHEMAS:
        inferred = spark.read.parquet(os.path.join(built, name)).schema
        declared = read_index_table(spark, built, name).schema
        assert [(f.name, f.dataType) for f in declared] == \
               [(f.name, f.dataType) for f in inferred], name


def test_exact_search_broadcasts_small_sides(spark, built):
    """Query terms and the top-k url lookup are broadcast — the segment
    table and the docs table are never shuffled by a join."""
    from word2doc_spark.query.exact import search_exact
    qdf = spark.createDataFrame([(1, "spark shuffle partition")],
                                "query_id long, query string")
    res = search_exact(spark, built, qdf, k=5, score_mode="drqa")
    assert res.count() > 0, "query must match the synthetic vocabulary"
    plan = plan_of(res)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shingles_plan_has_no_join(docs):
    """Shingle construction is per-row (transform+slice+array_distinct) —
    zero joins and zero aggregations; the only exchange allowed is the
    small-input round-robin spread (_spread_input), never a distinct."""
    plan = plan_of(D.shingles(docs, 3))
    assert "Join" not in plan
    assert "HashAggregate" not in plan, plan
    assert n_nodes(plan, "Exchange") <= 1, plan


def test_lsh_pairs_plan_no_cartesian(docs):
    """Candidate pairs come from an equi-join on (band, band_sig) — any
    cartesian/nested-loop join here explodes at corpus scale."""
    plan = plan_of(D.lsh_candidate_pairs(docs, num_perm=8, bands=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_single_aggregation(docs):
    """Simhash reduces map-side: one groupBy(doc_id) aggregation plus the
    outer join back to all docs — the 60x posexplode shuffle is gone."""
    plan = plan_of(D.simhash64(docs))
    assert n_nodes(plan, "Generate") == 1, plan  # only the token explode
    # one agg exchange + at most two for the final left join
    assert n_nodes(plan, "Exchange") <= 3, plan


def test_ivf_assign_is_shuffle_free(vectors):
    """Centroid assignment is a per-row argmax — no window, no join, no
    exchange anywhere in the plan (the r2 plan shuffled N x n_cells rows
    through a row_number window)."""
    cent = S.train_centroids(vectors, n_cells=8)
    plan = plan_of(S.ivf_assign(vectors, cent))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan, plan


def test_doc_partitioned_query_plan(spark, built):
    """The fast/WAND scoring plan broadcasts the weighted query terms into
    the segment scan and shuffles once to the (range, bucket) tasks."""
    from word2doc_spark.query.fast import search_fast
    qdf = spark.createDataFrame(
        [(1, "spark shuffle partition"), (2, "crawl warc html")],
        "query_id long, query string")
    res = search_fast(spark, built, qdf, k=5, score_mode="drqa")
    assert res.count() > 0
    plan = plan_of(res)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan


def test_warm_search_fast_job_budget(spark, built):
    """A warm single-query search_fast, issued as a serve loop issues it
    (a new query DataFrame per call), runs at most 5 Spark jobs: the
    analysis probe, then under AQE one job per query stage — scoring,
    top-k broadcast, docs join, result. Term dfs come from a pyarrow read
    and the index tables are read with their published schemas, so no
    inference or term-stats job runs; the url ordering samples nothing."""
    from word2doc_spark.query.fast import search_fast

    sc = spark.sparkContext

    def call():
        qdf = spark.createDataFrame([(1, "spark shuffle partition")],
                                    "query_id long, query string")
        return search_fast(spark, built, qdf, k=5,
                           score_mode="bm25").collect()

    for _ in range(2):   # term dfs cached, segment cache materialized
        call()
    group = "w2d-job-budget"
    sc.setJobGroup(group, "warm single-query search_fast")
    try:
        rows = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
