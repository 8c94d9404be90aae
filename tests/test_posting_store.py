"""Driver posting store: the fast path answers from compressed frames
held on the driver (no Spark job per query) whenever the index's
collection_term_count fits fast_max_postings; above that bound the fast
path keeps its pruned-scan branch, and over the per-query Σdf budget it
falls back to the distributed plan.  All three must agree with the
distributed plan."""

import uuid

import pytest
from pyspark.sql import functions as F

from informationretrieval_en_people_cn_spark.functions.analyze import analyze_text
from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine
from informationretrieval_en_people_cn_spark.session import local_rows_df

from .test_resume_skew import FOURTEEN_SHAPES


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), via a job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _assert_same(got, want, q):
    if got and len(got[0]) == 2:  # ranked: (doc_id, score)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, g), (_, w) in zip(got, want):
            assert g == pytest.approx(w, rel=1e-12), q
    else:
        assert sorted(got) == sorted(want), q


def _count_fast(engine):
    """Wrap engine._search_fast to count the queries it answered."""
    answered = []
    inner = engine._search_fast

    def wrapped(node, query, k):
        res = inner(node, query, k)
        if res is not None:
            answered.append(query)
        return res

    engine._search_fast = wrapped
    return answered


def test_local_rows_df_positional_contract(spark):
    df = local_rows_df(spark, [(1, 0.5), (2, 1.5)], "doc_id long, score double")
    assert _rows(df) == [(1, 0.5), (2, 1.5)]
    with pytest.raises(ValueError, match="has 1 values"):
        local_rows_df(spark, [(1, 0.5), (2,)], "doc_id long, score double")
    with pytest.raises(ValueError, match="has 3 values"):
        local_rows_df(spark, [(1, 0.5, 7)], "doc_id long, score double")
    # empty relations stay driver-local too: collecting runs no job
    empty, jobs = _spark_jobs(
        spark, lambda: local_rows_df(spark, [], "doc_id long").collect()
    )
    assert empty == [] and jobs == 0


def test_store_fast_path_runs_no_spark_job(spark, index_dir, engine):
    fast = SearchEngine(
        spark, index_dir, cache_term_stats=True, cache_doclens=True,
        cache_content=True,
    )
    assert fast.fast_path and fast._frames is not None
    assert fast.collection_term_count <= fast.fast_max_postings
    answered = _count_fast(fast)
    for q in FOURTEEN_SHAPES:
        got, jobs = _spark_jobs(spark, lambda: _rows(fast.search(q, k=10)))
        assert jobs == 0, q
        _assert_same(got, _rows(engine.search(q, k=10)), q)
    assert answered == FOURTEEN_SHAPES


def test_store_term_stats_equal_groupby(spark, index_dir):
    with_store = SearchEngine(spark, index_dir, cache_term_stats=True,
                              cache_doclens=True)
    without = SearchEngine(spark, index_dir, cache_term_stats=True,
                           cache_doclens=True, fast_path=False)
    assert with_store._frames is not None and without._frames is None
    assert with_store.term_stats == without.term_stats
    assert with_store._term_arr == without._term_arr


def _max_query_sumdf(engine, queries) -> int:
    """Σdf over every term any of the queries can touch: an upper bound
    on each single query's Σdf."""
    terms = set()
    for q in queries:
        for tok in q.replace("'", " ").split():
            if tok in ("AND", "OR", "NOT"):
                continue
            if tok.endswith("*"):
                terms.update(engine.expand_prefix(tok.rstrip("*")))
            else:
                terms.update(analyze_text(tok))
    return sum(engine.term_stats.get(t, (0, 0))[0] for t in terms)


def test_scan_branch_parity_all_shapes(spark, index_dir, engine):
    """Store off (collection_term_count over the budget) but every query
    under it: the fast path runs its pruned-scan branch, and must still
    equal the distributed plan on every shape."""
    probe = SearchEngine(spark, index_dir, cache_term_stats=True,
                         cache_doclens=True, fast_path=False)
    budget = _max_query_sumdf(probe, FOURTEEN_SHAPES)
    assert budget < probe.collection_term_count
    fast = SearchEngine(
        spark, index_dir, cache_term_stats=True, cache_doclens=True,
        fast_max_postings=budget,
    )
    assert fast.fast_path and fast._frames is None
    answered = _count_fast(fast)
    for q in FOURTEEN_SHAPES:
        _assert_same(_rows(fast.search(q, k=10)), _rows(engine.search(q, k=10)), q)
    assert answered == FOURTEEN_SHAPES


def test_store_off_budget_still_falls_back(spark, index_dir, engine):
    fast = SearchEngine(
        spark, index_dir, cache_term_stats=True, cache_doclens=True,
        fast_max_postings=1,
    )
    assert fast.fast_path and fast._frames is None
    answered = _count_fast(fast)
    for q in ("merge window", "merge AND window"):
        _assert_same(_rows(fast.search(q, k=10)), _rows(engine.search(q, k=10)), q)
    assert answered == []


def test_reload_rebuilds_store_and_pin_keeps_old(spark, corpus, tmp_path):
    """After incremental_index + refresh_index, reload() on a fast-path
    engine rebuilds the posting store, so the appended docs are served
    with no Spark job; an engine pinned with at_version keeps serving
    the old snapshot's postings."""
    from informationretrieval_en_people_cn_spark.streaming.incremental import (
        CORPUS_SCHEMA,
        incremental_index,
        refresh_index,
    )

    in_dir = str(tmp_path / "incoming")
    out = str(tmp_path / "sidx")
    half1 = corpus.filter(F.col("doc_id") % 2 == 0)
    half2 = corpus.filter(F.col("doc_id") % 2 == 1)

    def ingest(batch):
        batch.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir)
        assert incremental_index(
            stream, out, lo=0, span=1 << 62, buckets=8
        ).awaitTermination(120)

    opts = dict(cache_term_stats=True, cache_doclens=True, cache_content=True)
    queries = ("merge window", "merge AND buffer", "return NOT merg*",
               "'posting merge'")
    ingest(half1)
    refresh_index(spark, out, corpus=half1)
    eng = SearchEngine(spark, out, **opts)
    pinned = SearchEngine(spark, out, at_version=eng.version, **opts)
    assert eng._frames is not None and pinned._frames is not None
    old = {q: _rows(eng.search(q, 10)) for q in queries}
    old_ids = {r.doc_id for r in half1.select("doc_id").collect()}
    new_ids = {r.doc_id for r in half2.select("doc_id").collect()}

    ingest(half2)
    refresh_index(spark, out, corpus=corpus)
    old_store = eng._frames
    assert eng.reload() is True and pinned.reload() is False
    assert eng._frames is not old_store
    fresh = SearchEngine(spark, out)  # distributed plan, new snapshot
    appended = set()
    for q in queries:
        got, jobs = _spark_jobs(spark, lambda: _rows(eng.search(q, 10)))
        assert jobs == 0, q
        _assert_same(got, _rows(fresh.search(q, 10)), q)
        appended |= {r[0] for r in got} & new_ids
        kept = _rows(pinned.search(q, 10))
        assert kept == old[q], q
        assert {r[0] for r in kept} <= old_ids, q
    assert appended  # the appended docs are visible after reload
