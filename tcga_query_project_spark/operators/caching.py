"""Shared-subtree caching with an explicit release valve.

Several operators build a subtree that feeds two or more branches of one
query (bucket/norm assignment in bucketed ANN, the survival subject
table, shingle arrays in MinHash-LSH). Spark re-executes a shared DAG
edge once per consuming branch (no auto-dedup beyond ReuseExchange), so
these operators persist the subtree — the in-memory analog of the
parquet checkpoint a cluster-scale pipeline would write.

Two sharp edges this module rounds off:

1. **Cold-cache races.** A broadcast-exchange build and a streamed scan
   that both consume a *cold* persisted subtree race to compute the same
   partitions — the block manager does not dedupe in-flight computation,
   so both branches pay the full subtree (measured: ~2.3 s vs ~1.3 s on
   the bucketed-ANN headline at sf0.1). :func:`materialize_shared`
   populates eagerly, before any consumer runs.

2. **Cache lifetime.** A library function cannot unpersist before its
   caller executes the returned DataFrame, so entries outlive the call.
   The contract: entries live until ``spark.catalog.clearCache()``.
   Repeated invocations with an
   *identical* input plan do not accumulate entries — Spark's
   CacheManager dedupes cacheQuery by canonicalized logical plan — so a
   long-lived session holds at most one entry per distinct input
   dataset; the handle list below exists so callers with *varying*
   inputs can release explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SHARED_HANDLES: list[DataFrame] = []


def materialize_shared(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` (memory, spill-to-disk) and — by default — run one
    ``count()`` to populate every partition before the first consumer.

    Pass ``eager=False`` for subtrees only consumed by sequential (never
    concurrent) branches, where lazy first-touch population is fine and
    the extra job is pure overhead.

    Lazy MULTI-consumer persists:
    acceptable when MEASURED faster at the call site and the race cost
    is bounded — there are NO partition-level cache locks; a broadcast
    build racing a streamed scan over a cold cache can compute the same
    cold partitions twice (sharp edge #1). The worst case of that race
    is exactly the no-persist baseline (each branch computes the
    subtree once), so a measured-lazy site trades a bounded worst case
    for the common-case win of skipping the pre-population pass;
    jaccard_prefix_join's postings spine is the canonical example
    (5.0 -> 3.5 s at sf0.1, re-verified on the 10x rig). Sites where
    the broadcast-build race DID serialize population keep eager=True
    (ann_lsh_bucketed, measured worse lazy).
    """
    from pyspark import StorageLevel

    handle = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        handle.count()
    _SHARED_HANDLES.append(handle)
    return handle
