"""Persist-lifecycle sweeps: no cached partitions survive query runs.

Round-4 verdict flagged module-level persist leaks (`_TOKENS_CACHE` /
`_FIT_CACHE` never unpersisted; MinHash staging persisted per call with no
release).  These tests pin the fix: query-scoped persists are released when
the next registered query starts, cross-query caches are bounded LRUs with
unpersist-on-evict, and ``release_all`` leaves zero cached RDDs behind.
"""

from __future__ import annotations

from barberini_analytics_spark.core import cache as C
from barberini_analytics_spark.plans.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_scoped_persists_released_between_queries(spark):
    before = _persistent_ids(spark)
    QUERIES["minhash_near_duplicates"](spark, SF).collect()
    staged = list(C._SCOPED)
    assert staged, "minhash staging should register scoped persists"
    assert all(df.storageLevel.useMemory for df in staged)
    # entering the next registered query releases the previous scope
    QUERIES["exact_dedup_documents"](spark, SF).collect()
    assert all(not df.storageLevel.useMemory for df in staged), (
        "previous query's scoped frames were not released")
    C.release_all()
    assert _persistent_ids(spark) <= before


def test_release_all_leaves_no_new_cached_rdds(spark):
    C.release_all()
    before = _persistent_ids(spark)
    for name in ("minhash_near_duplicates", "topic_model",
                 "topic_token_features"):
        QUERIES[name](spark, SF).collect()
    C.release_all()
    assert _persistent_ids(spark) <= before


def test_frame_cache_bounds_and_unpersists_on_evict(spark):
    fc = C.FrameCache(max_entries=2)
    dfs = [fc.get_or_build(i, lambda i=i: spark.range(10 + i))
           for i in range(3)]
    # oldest entry evicted and unpersisted; the two newest stay cached
    assert dfs[0].storageLevel.useMemory is False
    assert dfs[1].storageLevel.useMemory and dfs[2].storageLevel.useMemory
    # cache hit returns the same persisted frame, no rebuild
    assert fc.get_or_build(2, lambda: spark.range(99)) is dfs[2]
    fc.clear()
    assert all(not df.storageLevel.useMemory for df in dfs)


def test_scope_mark_release_is_nested(spark):
    """release_scoped(since=mark) frees only frames registered after the
    mark — an enclosing query's scoped persists and checkpoints survive
    a nested standalone call (r8 ADVICE: the global release
    would kill a caller's checkpoint, making later reuse raise)."""
    C.release_all()
    outer_p = C.scoped_persist(spark.range(100).selectExpr("id", "id*2 v"))
    outer_c = C.scoped_checkpoint(spark.range(50).selectExpr("id"))
    outer_p.count()
    mark = C.scope_mark()
    inner = C.scoped_persist(spark.range(10))
    inner.count()
    C.release_scoped(since=mark)
    assert not inner.storageLevel.useMemory, "inner frame not released"
    assert outer_p.storageLevel.useMemory, "outer persist was released"
    # the outer checkpoint is still executable (blocks not freed)
    assert outer_c.count() == 50
    C.release_all()
    assert not outer_p.storageLevel.useMemory


def test_frame_cache_keeps_local_relations_unpersisted(spark):
    """A driver-built LocalRelation's rows live in the plan: caching it
    would only add a cache-build job, so FrameCache memoizes the frame
    without persisting it."""
    from barberini_analytics_spark.core.localrel import rows_df

    fc = C.FrameCache(max_entries=2)
    df = fc.get_or_build("m", lambda: rows_df(spark, [(1, 2.0)],
                                              "k bigint, v double"))
    assert not df.storageLevel.useMemory
    assert fc.get_or_build("m", lambda: spark.range(1)) is df
    fc.clear()
