"""Caller-owned lifecycle for operator-internal persists.

Several operators materialize an intermediate table because multiple
consumers in their own plan would otherwise re-derive it (the inverted
shingle index in ``dedup.pair_join``, the MinHash signature
table in ``dedup.minhash_lsh_pairs``, the fingerprint table in
``curation.contamination_pairs``, the partition stamp in
``ids.sequential_id``). Those persists cannot be released inside the
operator: the returned DataFrame is lazy and still references them, so
unpersisting before the caller materializes would silently recompute
the expensive stage and negate the persist.

``CacheScope`` makes the lifecycle explicit and caller-owned:

    with CacheScope() as scope:
        pairs = pair_join(docs, "jaccard", threshold=0.3, scope=scope)
        result = pairs.collect()          # caches live while needed
    # scope exit unpersists every intermediate — nothing left behind

When the caller does not pass a scope, the operator creates a private
one and attaches it to the returned DataFrame as ``df.cache_scope``;
``release_caches(df)`` releases it after the final action. (Note that
further transformations return NEW DataFrame objects without the
attribute — grab the scope from the operator's direct return value.)

Without either, cached blocks are reclaimed only when the driver GCs
the last reference (Spark's ContextCleaner) — bounded, but
nondeterministic; long-lived sessions should use the explicit scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class CacheScope:
    """Collects DataFrames persisted on behalf of a caller and releases
    them together. Context-manager friendly; re-entrant ``release`` is a
    no-op on an empty scope."""

    def __init__(self, level: StorageLevel = StorageLevel.MEMORY_AND_DISK):
        self.level = level
        self._dfs: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` at the scope's storage level and track it.

        Spark's CacheManager keys entries by analyzed plan, so two scopes
        persisting identical plans share ONE cache entry. If ``df``'s plan
        is already cached (storageLevel shows memory/disk use), this scope
        neither re-persists (CacheManager would only warn) nor claims the
        entry — claiming it would let this scope's release unpersist the
        shared entry out from under the original owner, silently
        recomputing their expensive stage. The owning scope releases it.
        """
        lvl = df.storageLevel
        if lvl.useMemory or lvl.useDisk or lvl.useOffHeap:
            return df
        out = df.persist(self.level)
        self._dfs.append(out)
        return out

    def release(self, blocking: bool = False) -> None:
        """Unpersist every tracked DataFrame (oldest first)."""
        while self._dfs:
            self._dfs.pop(0).unpersist(blocking)

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def scoped(scope: CacheScope | None) -> tuple[CacheScope, bool]:
    """Resolve an operator's ``scope`` argument: reuse the caller's scope
    or create a private one (returned flag = created-here, meaning the
    operator should attach it to its result)."""
    if scope is not None:
        return scope, False
    return CacheScope(), True


def attach(result: DataFrame, scope: CacheScope, created: bool) -> DataFrame:
    """Expose a privately created scope on the returned DataFrame as
    ``result.cache_scope`` so callers can release it after the final
    action. No-op when the scope was caller-supplied."""
    if created:
        result.cache_scope = scope  # type: ignore[attr-defined]
    return result


def release_caches(df: DataFrame, blocking: bool = False) -> None:
    """Release the private scope attached by an operator, if any.

    Guarded by an isinstance check: ``getattr`` on a DataFrame falls
    through to column resolution, so a real column named ``cache_scope``
    would return a Column here rather than a scope.
    """
    scope = getattr(df, "cache_scope", None)
    if isinstance(scope, CacheScope):
        scope.release(blocking)
