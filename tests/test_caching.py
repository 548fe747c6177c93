"""Operator persist lifecycle: every operator that caches an internal
intermediate must release it through CacheScope — nothing may stay
pinned in the block manager after the caller is done.

Verification is via the JVM block manager itself
(``sc._jsc.getPersistentRDDs()``), asserting on the DELTA of RDD ids
created by the operator under test rather than on absolute counts:
ContextCleaner may asynchronously reclaim unrelated cached RDDs from
earlier tests between reads, so baseline-equality on the count flakes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_with_dask_spark.operators.caching import CacheScope, release_caches
from dwh_with_dask_spark.operators.curation import contamination_pairs
from dwh_with_dask_spark.operators.dedup import minhash_lsh_pairs, pair_join
from dwh_with_dask_spark.operators.ids import sequential_id


def _persisted_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return set(jmap.keySet().toArray())


@pytest.fixture
def docs(spark):
    rows = [(i, f"the quick brown fox jumps over lazy dog number {i} end") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_scope_releases(spark, docs):
    base = _persisted_ids(spark)
    with CacheScope() as scope:
        pairs = pair_join(docs, "jaccard", threshold=0.0, scope=scope)
        pairs.count()
        created = _persisted_ids(spark) - base
        assert created  # the shingle index is pinned while in use
    assert not (_persisted_ids(spark) & created)


def test_minhash_lsh_scope_releases(spark, docs):
    base = _persisted_ids(spark)
    with CacheScope() as scope:
        minhash_lsh_pairs(docs, threshold=0.1, scope=scope).count()
        created = _persisted_ids(spark) - base
        assert created
    assert not (_persisted_ids(spark) & created)


def test_contamination_scope_releases(spark, docs):
    base = _persisted_ids(spark)
    with CacheScope() as scope:
        contamination_pairs(docs, scope=scope).count()
        created = _persisted_ids(spark) - base
        assert created
    assert not (_persisted_ids(spark) & created)


def test_sequential_id_scope_releases(spark, docs):
    base = _persisted_ids(spark)
    with CacheScope() as scope:
        out = sequential_id(docs, order_by=["doc_id"], scope=scope)
        ids = [r["ID"] for r in out.orderBy("doc_id").collect()]
        assert ids == list(range(1, 41))  # contiguity unaffected by scoping
        created = _persisted_ids(spark) - base
        assert created
    assert not (_persisted_ids(spark) & created)


def test_sequential_id_checkpoint_safe_after_release(spark, docs):
    # The documented hazard: re-actioning a sequential_id result after
    # its scope is released can recompute the nondeterministic stamp
    # against stale offsets. checkpoint=True truncates lineage eagerly,
    # releases the internal stamp cache itself, and stays correct across
    # arbitrarily many later actions.
    out = sequential_id(docs, order_by=["doc_id"], checkpoint=True)
    ids1 = [r["ID"] for r in out.orderBy("doc_id").collect()]
    release_caches(out)  # no private scope attached: must be a no-op
    ids2 = [r["ID"] for r in out.orderBy("doc_id").collect()]
    assert ids1 == ids2 == list(range(1, 41))
    # lineage is truncated: the plan no longer contains the
    # monotonically_increasing_id stamp that made re-actions hazardous.
    assert "monotonically" not in out._jdf.queryExecution().analyzed().toString()


def test_private_scope_attached_and_releasable(spark, docs):
    # No caller scope: the operator attaches its private scope to the
    # result so release_caches() can free it after the final action.
    base = _persisted_ids(spark)
    pairs = pair_join(docs, "jaccard", threshold=0.0)
    pairs.count()
    created = _persisted_ids(spark) - base
    assert created
    release_caches(pairs)
    assert not (_persisted_ids(spark) & created)


def test_released_result_still_correct(spark, docs):
    # Unpersist drops the cache, not the plan: a post-release action
    # recomputes and must return identical results. (This recompute-after-
    # release pattern is safe for pure-transform operators like the
    # Jaccard pairs; sequential_id explicitly forbids it — see its
    # docstring warning about the nondeterministic stamp.)
    with CacheScope() as scope:
        pairs = pair_join(docs, "jaccard", threshold=0.0, scope=scope)
        before = pairs.count()
    assert pairs.count() == before


def test_shared_plan_single_cache_entry(spark, docs):
    # CacheManager keys entries by analyzed plan: a second scope that
    # persists an identical plan must NOT claim the entry, so releasing
    # the second scope leaves the first scope's cache intact.
    plan = docs.withColumn("k", F.sha2("text", 256))
    with CacheScope() as owner:
        owner.persist(plan)
        plan.count()
        assert plan.storageLevel.useMemory or plan.storageLevel.useDisk
        with CacheScope() as borrower:
            same = docs.withColumn("k", F.sha2("text", 256))
            out = borrower.persist(same)
            assert out is same  # tracked nothing, no re-persist
            assert not borrower._dfs
        # borrower released: the shared entry must survive
        assert plan.storageLevel.useMemory or plan.storageLevel.useDisk
    # owner released: entry gone
    assert not (plan.storageLevel.useMemory or plan.storageLevel.useDisk)


def test_incremental_batch_plan_scope_releasable(spark):
    # The registry's dedup_incremental_batch ends in a select(), which
    # returns a NEW DataFrame — the plan must re-attach the operator's
    # private scope so release_caches(result) frees the persisted batch
    # signature table (regression: one leaked cache entry per call).
    from dwh_with_dask_spark.plans.llm import dedup_incremental_batch
    from tests.conftest import SF_SMOKE

    base = _persisted_ids(spark)
    out = dedup_incremental_batch(spark, SF_SMOKE)
    # collect(), not count(): the flag columns come from left joins on
    # grouped (unique) keys, so for a bare count Catalyst ELIMINATES
    # both joins and the signature cache never materializes at all.
    out.collect()
    created = _persisted_ids(spark) - base
    assert created
    assert isinstance(getattr(out, "cache_scope", None), CacheScope)
    release_caches(out)
    assert not (_persisted_ids(spark) & created)


def test_release_caches_ignores_column_named_cache_scope(spark):
    # DataFrame.__getattr__ resolves unknown attributes as columns; a
    # real column named cache_scope must not break release_caches.
    df = spark.createDataFrame([(1, "x")], "id long, cache_scope string")
    release_caches(df)  # must be a no-op, not an AttributeError on Column
